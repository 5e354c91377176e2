package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.GenFixture

/** `SparkEntry.queries` gates timed as DataFrame build (the eager barriers
  * run here) plus a `noop` write, which materializes every column where
  * `count()` lets Catalyst prune most of a gate away.
  */
final class GatesBench(spark: SparkSession, tracer: Tracer, work: Path, fixtureDir: Path,
                       out: Results) {
  import GatesBench._

  private val dir = fixtureDir.toString
  private val checkpoints = Paths.get(spark.conf.get("spark.graft.checkpointDir"))

  /** Set-up generates the fixed tables (reused when already generated in
    * this checkout), evaluates every gate once, saving the results for the
    * oracle compare, and runs one untimed pass of the timed action, so the
    * JIT and codegen caches are warm for the timed passes.
    */
  def run(seconds: Double): Unit = {
    val results = work.resolve("gates_out")
    val (_, setup) = tracer.span("setup") {
      GenFixture.generate(spark, dir, Multiplier)
      // a gate that throws here leaves no result, which the compare reports
      Gates.foreach { g =>
        tracer.group(g) { _ =>
          try SparkEntry.queries(g)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(g).toString)
          catch { case e: Exception => out.failures += s"gate $g threw: $e" }
        }
      }
      Files.writeString(results.resolve("oracle_sql.json"),
        Json.obj(Gates.map(g => g -> Json.str(SparkEntry.oracleSql(g)))))
      Gates.foreach { g =>
        tracer.group(g) { _ =>
          try SparkEntry.queries(g)(spark, dir).write.format("noop").mode("overwrite").save()
          catch { case _: Exception => () } // counted by the timed passes
        }
      }
    }
    out.setup(setup)
    out.settle()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      var shuffle = 0.0
      var gc = 0.0
      Gates.foreach { g =>
        tracer.group(g) { id =>
          val before = if (tracer.enabled) Fs.files(checkpoints) else Map.empty[Path, Long]
          var error = ""
          val ok = try {
            val (df, build) = tracer.span(s"gate.$g.build")(SparkEntry.queries(g)(spark, dir))
            val (_, action) = tracer.span(s"gate.$g.action") {
              df.write.format("noop").mode("overwrite").save()
            }
            out.sample(s"gate.$g.s", build + action)
            out.sample(s"gate.$g.build_s", build)
            out.sample(s"gate.$g.action_s", action)
            true
          } catch {
            case e: Exception => error = e.toString; false
          }
          out.attempt(ok, s"gate $g threw: $error")
          if (tracer.enabled) {
            val c = tracer.counters(id)
            out.sample(s"gate.$g.jobs", c.jobs.toDouble)
            out.sample(s"gate.$g.checkpoint_bytes", Fs.files(checkpoints).collect {
              case (f, n) if !before.get(f).contains(n) => n.toDouble
            }.sum)
            shuffle += c.shuffleWriteBytes
            gc += c.gcMs / 1e3
          }
        }
        out.heap()
      }
      if (tracer.enabled) {
        out.sample("gates.shuffle_write_bytes", shuffle)
        out.sample("gates.gc_s", gc)
      }
      pass += 1
    }
    // a pass's time is the sum of each gate's median over the passes, so
    // one slow pass of one gate does not move it
    out.op(Gates.map(g => Stats.median(out.samples.getOrElse(s"gate.$g.s", Nil).toSeq)).sum)
  }
}

object GatesBench {
  /** GenFixture's multiplier; 1.0 is sf0.1. The tables are fixed: the seed
    * does not apply to this workload.
    */
  val Multiplier = 0.01
  val MinPasses = 2

  /** Fixpoint loops (eager barriers, convergence jobs) and gates whose
    * operators end in presentation sorts.
    */
  val Iterative: Seq[String] = Seq("g01_pagerank", "g07_kcore")
  val Sorting: Seq[String] = Seq("q74_basket_lift", "e01_fuzzy_pairs")
  val Gates: Seq[String] = Iterative ++ Sorting
}
