package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.control.{Cycle, DatasetDef, ForageResult, ForageSource, GridSource, Normals,
  SourceState, StateStore}
import graft.functions.{Geo, GeoContains}
import graft.operators.Raster
import graft.sources.{AfricaShp, GeoTiff, Grib1, RasterBinarySink}

/** The synthetic ERA5 month: two integer-scaled GRIB1 fields (TMP and
  * PRATE) over the reference's Africa AOI [N 37, W -21.36, S -39.34,
  * E 65.49]. Integer scaling makes decode exact, so the expected normal
  * and anomaly of every cell have a closed form computed here from the
  * same integers. Every value derives from the seed alone.
  */
final class Era5Inputs(seed: Long, val cellMilli: Int) {
  val la1Milli = 37000
  val lo1Milli = -21250
  val ni: Int = 86740 / cellMilli + 1
  val nj: Int = 76340 / cellMilli + 1

  def lat(j: Int): Double = (la1Milli - j.toLong * cellMilli) / 1000.0
  def lon(i: Int): Double = (lo1Milli + i.toLong * cellMilli) / 1000.0

  val layout: RasterBinarySink.Layout = RasterBinarySink.Layout(
    latMin = lat(nj - 1), latMax = lat(0), lonMin = lon(0), lonMax = lon(ni - 1),
    cell = cellMilli / 1000.0)

  /** Cells the Africa clip keeps, from the scalar reference ray cast. */
  lazy val inside: Array[Boolean] = {
    val rings = AfricaShp.rings.toSeq
    Array.tabulate(ni * nj)(k => Geo.containsMulti(rings)(lon(k % ni), lat(k / ni)))
  }

  def cells: Int = ni * nj

  private def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L ^ seed) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def noise(n: Int, xs: Long*): Int = java.lang.Math.floorMod(mix(xs: _*), n.toLong).toInt

  /** Packed integer of one cell; the decoded value is `scaled / 10^D`. */
  def scaled(v: Era5Var, year: Int, month: Int, k: Int): Int = {
    val i = k % ni; val j = k / ni
    v.param match {
      case 11 => // 2 m temperature, tenths of a kelvin
        2950 - (math.abs(lat(j)) * 30).toInt + (month * 37 + i * 3 + j * 5) % 80 +
          noise(61, v.param, year, month, i, j) - 30
      case _ => // precipitation rate, 1e-5 units
        20 + (i * 7 + j * 11 + month * 13) % 300 + noise(200, v.param, year, month, i, j)
    }
  }

  def value(v: Era5Var, year: Int, month: Int, k: Int): Double =
    scaled(v, year, month, k) / math.pow(10.0, v.decimalScale)

  def writeMonth(path: Path, year: Int, month: Int): Path =
    Grib1.writeFile(path, Era5Var.all.map { v =>
      Grib1.Field(v.param, LocalDateTime.of(year, month, 1, 0, 0), ni, nj,
        la1Milli, lo1Milli, cellMilli, cellMilli, v.decimalScale,
        Array.tabulate(cells)(k => Some(scaled(v, year, month, k))))
    })

  /** Mean of the calendar month over the normal window, per cell. */
  def normal(v: Era5Var, month: Int, years: Range): Array[Double] =
    Array.tabulate(cells)(k => years.map(y => value(v, y, month, k)).sum / years.size)
}

final case class Era5Var(param: Int, name: String, decimalScale: Int)

object Era5Var {
  val Tmp: Era5Var = Era5Var(11, "TMP", 1)
  val Prate: Era5Var = Era5Var(61, "PRATE", 5)
  val all: Seq[Era5Var] = Seq(Tmp, Prate)
}

/** Delegates to the real source and times `forage` from outside, reading
  * how many normals it built or reused off the state it returns.
  */
final class TimedSource(inner: ForageSource, tracer: Tracer) extends ForageSource {
  val name: String = inner.name
  val forageS = mutable.ArrayBuffer[Double]()
  var built = 0
  var lookups = 0

  override def forage(state: SourceState, datasets: Seq[DatasetDef], keepalive: () => Unit)
                     (implicit spark: SparkSession): ForageResult = {
    val (r, dt) = tracer.span("forage")(inner.forage(state, datasets, keepalive))
    forageS += dt
    built += r.newState.normals.values.map(_.size).sum - state.normals.values.map(_.size).sum
    lookups += datasets.count(_.anomaly)
    r
  }
}

/** The two ingestion workloads. Both land GRIB1 months through
  * `Grib1.readRecords`, the Africa clip and `Raster.writePartitioned`, then
  * run `Cycle.run` over `GridSource` with outputs and rasters written.
  */
final class Era5Bench(spark: SparkSession, tracer: Tracer, work: Path, inputs: Era5Inputs,
                      out: Results) {
  import Era5Bench._
  private implicit val session: SparkSession = spark

  private val inputDir = work.resolve("inputs")
  private val historyGrid = work.resolve("history-grid")
  private val clip = GeoContains(AfricaShp.rings.toSeq)(col("lon"), col("lat"))

  def file(y: Int, m: Int): String = inputDir.resolve(f"era5_$y%04d_$m%02d.grib").toString

  private def months(from: (Int, Int), n: Int): Seq[(Int, Int)] =
    (0 until n).map { d => val t = from._1 * 12 + from._2 - 1 + d; (t / 12, t % 12 + 1) }

  val history: Seq[(Int, Int)] = months((NormalYears.start, 1), NormalYears.size * 12)

  /** Landing: decode, clip to Africa, write the partitioned grid. The
    * normal window's landing is set-up and records no landing samples.
    */
  def land(files: Seq[String], gridDir: Path, record: Boolean = true): Boolean =
    tracer.group("land") { g =>
      val (ok, dt) = tracer.span("land") {
        scala.util.Try(Raster.writePartitioned(Grib1.readRecords(spark, files).where(clip),
          gridDir.toString)).isSuccess
      }
      if (record) out.sample("land.s", dt)
      if (record && tracer.enabled) {
        val c = tracer.counters(g)
        out.sample("land.tasks", c.tasks.toDouble)
        out.sample("land.cpu_s", c.cpuNs / 1e9)
        out.sample("land.bytes_in", c.bytesIn.toDouble)
        out.sample("land.bytes_out", c.bytesOut.toDouble)
        out.sample("land.keep_ratio", c.recordsOut.toDouble / (files.size * Era5Var.all.size * inputs.cells))
      }
      ok
    }

  /** Generate every input month and land the normal window once. */
  def prepare(workloadMonths: Seq[(Int, Int)]): Unit = {
    tracer.span("setup.inputs") {
      (history ++ workloadMonths).foreach { case (y, m) => inputs.writeMonth(Paths.get(file(y, m)), y, m) }
    }
    require(land(history.map { case (y, m) => file(y, m) }, historyGrid, record = false),
      "landing the normal window failed")
  }

  /** A service root holding a copy of the landed history. */
  def freshRoot(name: String): Path = {
    val root = work.resolve(name)
    Files.createDirectories(root)
    Fs.copyTree(historyGrid, root.resolve("grid"))
    root
  }

  private def source(root: Path): TimedSource =
    new TimedSource(new GridSource(spark.read.parquet(root.resolve("grid").toString),
      root.toString, firstMonth = iso(FirstMonth), normalYears = (NormalYears.start, NormalYears.end)),
      tracer)

  /** One `Cycle.run`; counts a throw as a failure. */
  private def runCycle(root: Path, src: TimedSource): Boolean = {
    def written = Fs.size(root.resolve("outputs")) + Fs.size(root.resolve("rasters"))
    val before = if (tracer.enabled) written else 0L
    val forage0 = src.forageS.size
    val (ok, dt) = tracer.group("cycle") { g =>
      val r = tracer.span("cycle.run") {
        Cycle.run(root.toString, src, Registry, writeOutputs = true,
          binaryLayout = Some(inputs.layout)).isSuccess
      }
      if (tracer.enabled) {
        val c = tracer.counters(g)
        out.sample("cycle.jobs", c.jobs.toDouble)
        out.sample("cycle.tasks", c.tasks.toDouble)
        out.sample("cycle.cpu_s", c.cpuNs / 1e9)
        out.sample("cycle.gc_s", c.gcMs / 1e3)
        out.sample("cycle.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
        out.sample("cycle.spill_bytes", c.spillBytes.toDouble)
        out.sample("export.s", c.exportMs / 1e3)
      }
      r
    }
    out.attempt(ok, "Cycle.run threw")
    if (tracer.enabled) {
      val forage = src.forageS.drop(forage0).sum
      out.sample("forage.s", forage)
      out.sample("commit.s", dt - forage)
      out.sample("outputs.bytes", (written - before).toDouble)
      out.sample("control_json.bytes", Fs.size(root, p => {
        val n = p.getFileName.toString
        n.endsWith(".json") || n.endsWith(".json.br")
      }).toDouble)
    }
    ok
  }

  // ------------------------------------------------------------ era5_backfill

  /** Empty service state; one landing call for 12 months, then 12 cycles,
    * each building its calendar month's two normals.
    */
  def backfill(seconds: Double): Unit = {
    val span = months(FirstMonth, BackfillMonths)
    val (_, setup) = tracer.span("setup")(prepare(span))
    out.setup(setup)
    val t0 = System.nanoTime()
    var k = 0
    var root: Path = null
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (root != null) Fs.delete(root)
      root = freshRoot(s"backfill-$k")
      val ((landed, src), dt) = tracer.span("backfill") {
        val landed = land(span.map { case (y, m) => file(y, m) }, root.resolve("grid"))
        val src = source(root)
        span.foreach(_ => runCycle(root, src))
        (landed, src)
      }
      out.attempt(landed, "landing threw")
      out.op(dt)
      out.sample("months_per_s", span.size / dt)
      out.sample("normals.built", src.built.toDouble)
      out.sample("normals.hit_ratio", 1.0 - src.built.toDouble / src.lookups)
      out.heap()
      k += 1
    }
    check(root, span)
    traceClip(span.head)
  }

  // -------------------------------------------------------------- era5_steady

  /** All 24 normals memoized in set-up; each cycle lands one new month and
    * runs `Cycle.run`.
    */
  def steady(seconds: Double): Unit = {
    val span = months(FirstMonth, SteadyMaxCycles)
    var root: Path = null
    val (_, setup) = tracer.span("setup") {
      prepare(span)
      root = freshRoot("steady")
      val grid = spark.read.parquet(root.resolve("grid").toString)
      // the 24 builds are small independent jobs; four at a time
      val (normals, _) = tracer.span("setup.normals") {
        val pool = new java.util.concurrent.ForkJoinPool(4)
        val built = try {
          val builds = for (v <- Era5Var.all; m <- 1 to 12) yield pool.submit(() =>
            Normals.getOrCompute(spark, SourceState(), root.resolve("normals").toString,
              grid.where(col("variable") === v.name), v.name, m, NormalYears.start,
              NormalYears.end)._2.normals)
          builds.map(_.get())
        } finally pool.shutdown()
        built.flatten.groupMapReduce(_._1)(_._2)(_ ++ _)
      }
      val state = SourceState(date = Some(iso(prev(FirstMonth))), normals = normals)
      StateStore.writeJsonAtomic(root.resolve("state").resolve("grid.json").toString, state)
    }
    out.setup(setup)
    // the first cycles of a JVM still compile; they are checked, not timed
    def cycle(n: Int): (TimedSource, Double) = {
      val (y, m) = span(n)
      val ((landed, src), dt) = tracer.span("cycle") {
        val landed = land(Seq(file(y, m)), root.resolve("grid"))
        val src = source(root)
        runCycle(root, src)
        (landed, src)
      }
      out.attempt(landed, s"landing $y-$m threw")
      out.heap()
      (src, dt)
    }
    (0 until SteadyWarmupCycles).foreach(cycle)
    out.settle()
    val t0 = System.nanoTime()
    var n = SteadyWarmupCycles
    while (n < SteadyWarmupCycles + SteadyMinCycles ||
           (n < span.size && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val (src, dt) = cycle(n)
      out.op(dt)
      out.sample("cycle_s", dt)
      out.sample("normals.built", src.built.toDouble)
      out.sample("normals.hit_ratio", 1.0 - src.built.toDouble / src.lookups)
      n += 1
    }
    check(root, span.take(n))
    traceClip(span.head)
  }

  // -------------------------------------------------------------- correctness

  /** Compare every output layer of `months`, in parquet and as read back
    * from the `.tif`s, to the closed-form values. A month with any wrong,
    * missing or extra cell counts as one failed operation.
    */
  def check(root: Path, span: Seq[(Int, Int)]): Unit = {
    val years = NormalYears.start to NormalYears.end
    val normals = mutable.Map[(Era5Var, Int), Array[Double]]()
    def expected(d: DatasetDef, y: Int, m: Int): Array[Double] = {
      val v = Era5Var.all.find(_.name == d.variable).get
      val raw = Array.tabulate(inputs.cells)(k => inputs.value(v, y, m, k))
      if (d.anomaly) {
        val nm = normals.getOrElseUpdate((v, m), inputs.normal(v, m, years))
        Array.tabulate(inputs.cells)(k => raw(k) - nm(k))
      } else {
        val factor = if (d.unit == "mm" && d.originalUnit == "m") 1000.0 else 1.0
        raw.map(_ * factor)
      }
    }
    Registry.foreach { d =>
      val rows = spark.read.parquet(root.resolve("outputs").resolve(d.layerName).toString)
        .select(col("time").cast("string"), col("lat"), col("lon"), col("value")).collect()
      val byMonth = rows.groupBy(_.getString(0).take(7))
      span.foreach { case (y, m) =>
        val want = expected(d, y, m)
        val got = byMonth.getOrElse(f"$y%04d-$m%02d", Array.empty)
        val seen = new Array[Boolean](inputs.cells)
        var ok = got.length == inputs.inside.count(identity)
        got.foreach { r =>
          val j = math.round((inputs.la1Milli - r.getDouble(1) * 1000) / inputs.cellMilli).toInt
          val i = math.round((r.getDouble(2) * 1000 - inputs.lo1Milli) / inputs.cellMilli).toInt
          val k = j * inputs.ni + i
          if (i < 0 || i >= inputs.ni || j < 0 || j >= inputs.nj || !inputs.inside(k) || seen(k) ||
              !close(r.getDouble(3), want(k), 1e-9)) ok = false
          else seen(k) = true
        }
        ok = checkTif(root, d, y, m, want) && ok
        out.attempt(ok, s"${d.layerName} $y-$m does not match the closed form")
      }
    }
  }

  private def checkTif(root: Path, d: DatasetDef, y: Int, m: Int, want: Array[Double]): Boolean = {
    val dir = root.resolve("rasters").resolve(d.layerName)
    val name = f"${d.variable}_$y%04d-$m%02d-01"
    val tifs = Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(name) && f.getName.endsWith(".tif"))
    tifs.size == 1 && scala.util.Try {
      val t = GeoTiff.decode(Files.readAllBytes(tifs.head.toPath))
      val nodata = t.nodata.getOrElse(RasterBinarySink.DefaultNodata)
      t.width == inputs.ni && t.height == inputs.nj && (0 until inputs.cells).forall { k =>
        if (inputs.inside(k)) close(t.values(k).toDouble, want(k).toFloat.toDouble, 1e-6)
        else t.values(k) == nodata
      }
    }.recover { case e: IllegalArgumentException =>
      out.failures += s"${tifs.head.getName} does not decode: ${e.getMessage}"
      false
    }.get
  }

  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.abs(b))

  // -------------------------------------------------------------- clip trace

  /** clip.s: a decode+clip noop action minus a decode-only one on the same
    * month (medians of three each); clip.edge_tests: cells reaching the
    * kernel times ring vertices. Every decoded cell reaches the kernel,
    * since the bounding-box conjunct is evaluated after it.
    */
  private def traceClip(month: (Int, Int)): Unit = if (tracer.enabled) {
    val f = Seq(file(month._1, month._2))
    def noop(clipped: Boolean): Double = tracer.group("clip") { _ =>
      val df = Grib1.readRecords(spark, f)
      tracer.span(if (clipped) "clip.decode+clip" else "clip.decode") {
        (if (clipped) df.where(clip) else df).write.format("noop").mode("overwrite").save()
      }._2
    }
    val both = Stats.median((1 to 3).map(_ => noop(clipped = true)))
    val decode = Stats.median((1 to 3).map(_ => noop(clipped = false)))
    out.sample("clip.s", both - decode)
    out.sample("clip.edge_tests",
      Era5Var.all.size.toDouble * inputs.cells * AfricaShp.rings.map(_.length).sum)
  }
}

object Era5Bench {
  val NormalYears: Range = 2019 to 2020
  val FirstMonth: (Int, Int) = (2021, 1)
  val BackfillMonths = 12
  val SteadyWarmupCycles = 1
  val SteadyMinCycles = 8
  val SteadyMaxCycles = 60

  /** Four datasets over two variables, as the reference's registry. */
  val Registry: Seq[DatasetDef] = Seq(
    DatasetDef("grid-temperature", "TMP", "K", "K", anomaly = false),
    DatasetDef("grid-temperature-anomaly", "TMP", "K", "K", anomaly = true),
    DatasetDef("grid-precipitation", "PRATE", "mm", "m", anomaly = false),
    DatasetDef("grid-precipitation-anomaly", "PRATE", "m", "m", anomaly = true))

  def iso(ym: (Int, Int)): String = f"${ym._1}%04d-${ym._2}%02d-01T00:00:00.000Z"

  def prev(ym: (Int, Int)): (Int, Int) = if (ym._2 == 1) (ym._1 - 1, 12) else (ym._1, ym._2 - 1)
}
