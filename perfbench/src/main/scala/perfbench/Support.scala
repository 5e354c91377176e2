package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Fs {
  import java.nio.file.{FileVisitResult, SimpleFileVisitor}
  import java.nio.file.attribute.BasicFileAttributes

  /** Regular files under `p` with their sizes. Files another thread
    * deletes during the walk (Spark's checkpoint cleaner) are skipped.
    */
  def files(p: Path): Map[Path, Long] = {
    val b = Map.newBuilder[Path, Long]
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) b += f -> a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    b.result()
  }

  /** Bytes of the regular files under `p` that `keep` accepts. */
  def size(p: Path, keep: Path => Boolean = _ => true): Long =
    files(p).collect { case (f, n) if keep(f) => n }.sum

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    files(from).keys.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst)
    }
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** What a run measured: per-metric samples (summarized as medians), the
  * operation count, failures, set-up time and the live-heap peak.
  */
final class Results {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val ops = mutable.ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  var setupS = Double.NaN
  var heapPeakMb = 0.0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  val failures = mutable.ArrayBuffer[String]()

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def op(seconds: Double): Unit = ops += seconds

  def setup(seconds: Double): Unit = setupS = seconds

  /** Before the measured phase: collect, give Spark's ContextCleaner time
    * to drop the blocks of set-up's unreachable frames, collect again, and
    * forget earlier samples, so set-up leftovers do not set the peak.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    samples.clear()
    heapPeakMb = 0.0
  }

  /** Heap in use after a full collection, sampled between operations. */
  def heap(): Unit = {
    System.gc()
    val rt = Runtime.getRuntime
    val mb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    sample("heap_mb", mb)
    heapPeakMb = math.max(heapPeakMb, mb)
  }

  def medians: Map[String, Double] = samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
}
