package perfbench

import java.nio.file.{Files, Paths}

import graft.Session

/** One benchmark run inside one JVM. `perfbench/run.py` builds the classes,
  * starts this with `--workload --seed --seconds --trace --work --out`, and
  * turns the JSON written to `--out` into the reported metrics.
  */
object Main {
  /** ERA5 grid spacing in millidegrees. */
  val CellMilli = 1000

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)

    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = Session.build("perfbench")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, trace, runId)
    val out = new Results
    val inputs = new Era5Inputs(seed, CellMilli)
    workload match {
      case "era5_backfill" => new Era5Bench(spark, tracer, work, inputs, out).backfill(seconds)
      case "era5_steady" => new Era5Bench(spark, tracer, work, inputs, out).steady(seconds)
      case "operator_gates" =>
        new GatesBench(spark, tracer, work, Paths.get(opt("fixtures")), out).run(seconds)
      case other => sys.error(s"unknown workload $other")
    }
    val fields = Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "run_id" -> Json.str(runId),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "ops_s" -> out.ops.map(Json.num).mkString("[", ",", "]"),
      "setup_s" -> Json.num(out.setupS),
      "session_s" -> Json.num(sessionS),
      "live_heap_peak_mb" -> Json.num(out.heapPeakMb),
      "medians" -> Json.obj(out.medians.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(out.samples.toSeq.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "spans" -> tracer.spansJson,
      "spark_master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "era5" -> Json.obj(Seq(
        "cell_deg" -> Json.num(CellMilli / 1000.0), "ni" -> inputs.ni.toString,
        "nj" -> inputs.nj.toString,
        "normal_window" -> Json.str(s"${Era5Bench.NormalYears.start}-${Era5Bench.NormalYears.end}"),
        "first_month" -> Json.str(Era5Bench.iso(Era5Bench.FirstMonth)))),
      "gates" -> GatesBench.Gates.map(Json.str).mkString("[", ",", "]"),
      "gate_fixture_multiplier" -> Json.num(GatesBench.Multiplier))
    Files.writeString(Paths.get(opt("out")), Json.obj(fields))
    spark.stop()
  }
}
