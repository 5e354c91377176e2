package graft

import java.nio.file.Files
import scala.util.{Failure, Try}
import graft.control._
import graft.operators.Raster

/** The composed service loop (SURVEY.md §3.1): Scheduler driving full
  * Cycle runs of the grid source under a virtual clock, with the freshness
  * gate and the staleness monitor in the loop — the reference's
  * main.js → rabbit-sanctuary → rabbit → forage path end to end.
  */
class ServiceLoopSpec extends SparkSpec {

  private val registry = Seq(
    DatasetDef("grid-quantity-mean", "A", "mm", "m", anomaly = false))

  test("scheduler runs cycles that advance the cursor; gate failure retries with sleep; monitor stays green") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-loop").toString
    val grid = Raster.demoGrid(table("lineitem")).cache()
    val src = new GridSource(grid, root)
    val clock = new VirtualClock(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli)
    val sched = new Scheduler(clock, retryMillis = 60000, timeoutMillis = 300000)

    // upstream has published through 1995-02 only: cycle 3 hits the gate
    val upstreamUpdate = "1995-02-15T00:00:00.000Z"
    var gateTrips = 0

    val outcomes = sched.run(maxCycles = 4) { keepalive =>
      val cursorNow = StateStore
        .readJson(s"$root/state/grid.json", SourceState())
        .date.map(d => java.time.LocalDate.parse(d.take(10)).plusMonths(1))
        .getOrElse(java.time.LocalDate.parse("1995-01-01"))
        .toString + "T00:00:00.000Z"
      val lastUpdated = if (cursorNow > upstreamUpdate) Some(upstreamUpdate) else None
      if (!Freshness.updateNeeded(cursorNow, lastUpdated, upstreamUpdate)) {
        gateTrips += 1
        Failure(new RuntimeException("No update needed"))
      } else Try(Cycle.run(root, src, registry, clock, keepalive).get).map(_ => ())
    }

    // cycles 1+2 ingest Jan+Feb, cycles 3+4 trip the gate and retry
    outcomes.take(2).foreach(_ shouldBe sched.Succeeded)
    gateTrips shouldBe 2
    outcomes.drop(2).foreach {
      case sched.Retried(msg) => msg should include("No update needed")
      case other => fail(s"expected Retried, got $other")
    }

    val st = StateStore.readJson(s"$root/state/grid.json", SourceState())
    st.date shouldBe Some("1995-02-01T00:00:00.000Z")

    // retry path slept the configured interval twice: 4 cycles of virtual
    // time = 2 × retryMillis beyond the (instant) successful cycles
    clock.nowMillis() shouldBe
      java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + 2 * 60000

    // T11: heartbeat was written during the loop and is fresh
    Status.check(root, clock) shouldBe empty

    // dataset coverage is fresh within a generous budget measured from the
    // virtual "now" (coverage is 1995 fixture data, so use a huge budget
    // only to prove the metadata path wires through)
    val budget = java.time.Duration.ofDays(15000).toMillis
    Status.check(root, clock, Map("grid-quantity-mean" -> budget)) shouldBe empty
    grid.unpersist()
  }

  test("a cycle with a binary layout lands GeoTIFF-analog rasters per layer (K1)") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-binloop").toString
    val grid = Raster.demoGrid(table("lineitem")).cache()
    val src = new GridSource(grid, root)
    val clock = new VirtualClock(0L)
    val layout = graft.sources.RasterBinarySink.Layout(
      latMin = -10.0, latMax = 9.0, lonMin = -15.0, lonMax = 14.0)
    val layers = registry :+ DatasetDef("grid-quantity-anomaly", "A", "mm", "mm", anomaly = true)

    Cycle.run(root, src, layers, clock, writeOutputs = true,
      binaryLayout = Some(layout)).get

    // one export call, one sub-directory per layer, one month landed →
    // one file set per layer
    new java.io.File(s"$root/rasters").list().sorted shouldBe
      Array("grid_quantity_anomaly", "grid_quantity_mean")
    layers.foreach { d =>
      val rasterDir = new java.io.File(s"$root/rasters/${d.layerName}")
      rasterDir.list().sorted shouldBe
        Seq(".bin", ".hdr", ".metadata.json", ".tif").map("A_1995-01-01-00-00-00" + _).sorted.toArray
      val (w, h, arr) = graft.sources.RasterBinarySink.read(s"$rasterDir/A_1995-01-01-00-00-00.bin")
      (w, h) shouldBe (30, 20)
      // the parquet landing and the raster carry the same live cells
      val live = spark.read.parquet(s"$root/outputs/${d.layerName}")
        .where(org.apache.spark.sql.functions.col("value").isNotNull)
        .select("value").collect().map(_.getDouble(0).toFloat).sorted
      arr.filterNot(_.isNaN).sorted shouldBe live
      // the .tif holds the same grid, nodata where the .bin reads NaN
      val tif = graft.sources.GeoTiff.decode(
        Files.readAllBytes(java.nio.file.Paths.get(s"$rasterDir/A_1995-01-01-00-00-00.tif")))
      tif.values.toSeq shouldBe arr.map(v => if (v.isNaN) tif.nodata.get else v).toSeq
    }
    grid.unpersist()
  }

  test("watchdog cancels a running job past the keepalive deadline (T4 kill)") {
    import org.apache.spark.sql.functions._
    val slow = udf((x: Long) => { Thread.sleep(5000); x })
    val t0 = System.currentTimeMillis()
    val got = Watchdog.guarded(spark, timeoutMillis = 500, "slow-cycle") { _ =>
      spark.range(64).repartition(32).select(slow(col("id")).as("s"))
        .agg(sum(col("s"))).collect()
    }
    got.isFailure shouldBe true
    (System.currentTimeMillis() - t0) should be < 30000L
  }

  test("watchdog lets a keepalive-posting body run past the base deadline") {
    val got = Watchdog.guarded(spark, timeoutMillis = 400, "chatty-cycle") { keepalive =>
      (1 to 5).foreach { _ => Thread.sleep(150); keepalive() }
      42
    }
    got shouldBe scala.util.Success(42)
  }

  test("corrupt state JSON crashes the cycle and the scheduler sleeps-and-retries (reference semantics)") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Paths.get(s"$root/state").toFile.mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$root/state/grid.json"), "{ not json !!")

    val grid = Raster.demoGrid(table("lineitem"))
    val src = new GridSource(grid, root)
    val clock = new VirtualClock(0L)
    val sched = new Scheduler(clock, retryMillis = 60000, timeoutMillis = 300000)
    val outcomes = sched.run(1) { keepalive =>
      Try(Cycle.run(root, src, registry, clock, keepalive).get).map(_ => ())
    }
    outcomes.head shouldBe a[sched.Retried]
    // the failed cycle slept the retry interval; state file untouched
    clock.nowMillis() shouldBe 60000L
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/state/grid.json")), "UTF-8") shouldBe "{ not json !!"
  }
}
