package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.control._
import graft.operators.Raster

/** End-to-end control-plane golden test (SURVEY.md §5.4): two full cycles of
  * the grid source over the lineitem-derived demo grid, asserting the same
  * artifact tree the reference's rabbit.js emits — source state, per-dataset
  * state + metadata, inventory.json.br, state.json, heart.json — plus the
  * memoized-normal reuse and partitioned data-plane outputs.
  */
class CycleSpec extends SparkSpec {
  import spark.implicits._

  private val registry = Seq(
    DatasetDef("grid-quantity-mean", "A", "mm", "m", anomaly = false),
    DatasetDef("grid-quantity-anomaly", "A", "mm", "mm", anomaly = true),
    DatasetDef("other-source-layer", "X", "K", "K", anomaly = false))

  test("two cycles: cursor advances, outputs/metadata/inventory/state written, normal memoized") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-cycle").toString
    val grid = Raster.demoGrid(table("lineitem")).cache()
    val src = new GridSource(grid, root)
    val clock = new VirtualClock(1700000000000L)

    val st1 = Cycle.run(root, src, registry, clock, writeOutputs = true).get
    st1.date shouldBe Some("1995-01-01T00:00:00.000Z")
    // anomaly layer memoized its January normal and recorded the path
    st1.normals("A")("01") should include("normals/A/01")

    val st2 = Cycle.run(root, src, registry, clock, writeOutputs = true).get
    st2.date shouldBe Some("1995-02-01T00:00:00.000Z")
    // February needs a new normal; January's stays memoized
    st2.normals("A").keySet shouldBe Set("01", "02")

    // P4: only this source's datasets got outputs
    Files.exists(Paths.get(s"$root/outputs/grid_quantity_mean")) shouldBe true
    Files.exists(Paths.get(s"$root/outputs/other_source_layer")) shouldBe false

    // data plane landed with the at-scale partition layout
    val out = spark.read.parquet(s"$root/outputs/grid_quantity_anomaly")
    out.columns should contain allOf ("variable", "year", "month", "value")
    out.select($"month").distinct().as[Int].collect().sorted shouldBe Array(1, 2)

    // unit conversion applied on the plain layer (mm ← m: ×1000)
    val plain = spark.read.parquet(s"$root/outputs/grid_quantity_mean")
      .where($"year" === 1995 && $"month" === 1)
    val raw = grid.where($"variable" === "A" &&
      $"time" === lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
    plain.agg(round(sum($"value"), 2)).as[Double].head() shouldBe
      (raw.agg(round(sum($"value") * 1000, 2)).as[Double].head())

    // control artifacts: metadata extent merged across the two cycles
    val meta = StateStore.readJson(s"$root/state/grid/grid-quantity-mean.json", DatasetState())
    meta.start shouldBe Some("1995-01-01T00:00:00.000Z")
    meta.end shouldBe Some("1995-02-01T00:00:00.000Z")

    val inventory = new String(Files.readAllBytes(Paths.get(s"$root/inventory.json.br")), "UTF-8")
    inventory should include("grid-quantity-mean")
    inventory should include("grid-quantity-anomaly")
    Files.exists(Paths.get(s"$root/state.json")) shouldBe true
    Files.exists(Paths.get(s"$root/heart.json")) shouldBe true

    // T9: re-running cycle 1's month must NOT recompute the memoized normal
    val normalFile = Paths.get(st1.normals("A")("01"))
    val mtime = Files.getLastModifiedTime(normalFile)
    val src2 = new GridSource(grid, root) // fresh source, same state dir
    Cycle.run(root, src2, registry, clock, writeOutputs = true).get
    Files.getLastModifiedTime(normalFile) shouldBe mtime
  }

  test("a cycle whose normals are memoized runs a fixed number of Spark jobs") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-cycle-jobs").toString
    val grid = Raster.demoGrid(table("lineitem")).cache()
    val layout = graft.sources.RasterBinarySink.Layout(
      latMin = -10.0, latMax = 9.0, lonMin = -15.0, lonMax = 14.0)
    def cycle(): SourceState = Cycle.run(root, new GridSource(grid, root), registry,
      new VirtualClock(), writeOutputs = true, binaryLayout = Some(layout)).get
    // the first cycle memoizes January's normal; rewinding the cursor makes
    // the second cycle redo January with that normal on disk
    val st = cycle()
    StateStore.writeJsonAtomic(s"$root/state/grid.json", st.copy(date = None))

    val sc = spark.sparkContext
    val group = s"cycle-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try cycle() finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    // the slice's cache stage and emptiness test 2, the normal's broadcast
    // 1, the layers' checkpoint 1, each layer's parquet write 2 + 2, the
    // raster export of every layer 2; a memoized normal costs no job
    sc.statusTracker.getJobIdsForGroup(group).length shouldBe 10
    grid.unpersist()
  }

  test("anomaly output equals slice minus memoized normal") {
    implicit val s = spark
    val root = Files.createTempDirectory("graft-cycle2").toString
    val grid = Raster.demoGrid(table("lineitem"))
    val src = new GridSource(grid, root)
    Cycle.run(root, src, Seq(registry(1)), new VirtualClock(), writeOutputs = true).get

    val out = spark.read.parquet(s"$root/outputs/grid_quantity_anomaly")
    val expected = grid
      .where($"variable" === "A" && $"time" === lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
      .join(Raster.climatologyNormal(grid, "A", 1, 1995, 2000), Seq("lat", "lon"))
      .select(($"value" - $"normal").as("value"))
    out.count() shouldBe expected.count()
    math.abs(out.agg(sum($"value")).as[Double].head() -
      expected.agg(sum($"value")).as[Double].head()) should be < 1e-9
  }
}
