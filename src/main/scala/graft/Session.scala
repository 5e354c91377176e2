package graft

import org.apache.spark.sql.SparkSession

/** Single place all entry points (Verify, Bench, tests, service loop) build
  * their SparkSession, so correctness-critical configs stay consistent.
  *
  * Config rationale:
  *  - `nanosAsLong`: the driver-provided `events.parquet` stores
  *    TIMESTAMP(NANOS) which Spark's parquet reader otherwise rejects
  *    ([PARQUET_TYPE_ILLEGAL]); we read ns-as-long and convert in
  *    [[graft.sources.Tables]].
  *  - UTC session TZ: oracle (DuckDB) computes on naive timestamps; pinning
  *    UTC makes TIMESTAMP <-> TIMESTAMP_NTZ casts wall-clock-exact.
  *  - ANSI off: classic permissive Spark semantics (null on malformed cast)
  *    so engine behavior is total, mirroring the reference's best-effort
  *    pipeline semantics (src/rabbit-sanctuary.js:56-71 retries rather than
  *    aborting a cycle).
  *  - AQE on: runtime coalescing + skew-join handling — the 100 TB path.
  */
object Session {

  /** Materialization barrier for iterative operators (d07's label
    * propagation, t05's prefix sum): cuts lineage so round N's plan does
    * not re-derive rounds 1..N−1.
    *
    * With `spark.graft.checkpointDir` set — which [[build]] now does by
    * DEFAULT (a tmpdir locally; `SPARK_GRAFT_CHECKPOINT_DIR` points it at
    * HDFS/S3 on a cluster) — barriers use reliable `checkpoint()` storage
    * that survives executor loss, the 100 TB setting. Clearing the conf
    * (or `SPARK_GRAFT_CHECKPOINT_DIR=""`) falls back to `localCheckpoint`:
    * no storage round-trip, but blocks are executor-local and
    * NON-reliable — losing one executor mid-iteration fails the whole
    * barriered operator.
    */
  def barrier(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        // re-point when the conf changed since the last barrier (tests
        // swap dirs mid-session); setCheckpointDir appends a per-app
        // UUID child, so match on the configured prefix
        if (!spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** Barrier applied every `spark.graft.barrierInterval`-th round of an
    * iterative operator (default 4; ALS/GraphX ship the same knob as
    * `checkpointInterval`, default 10). Rounds between barriers chain as
    * ordinary narrow/shuffle stages inside one plan — shuffle outputs
    * already give intra-job retry, so the reliability story at scale is
    * unchanged; the interval only bounds plan depth and lineage length.
    * Callers pass `round` as 1-based; the caller is responsible for ONLY
    * using this on loops whose iterate is consumed ONCE per round (a
    * linear chain) — a state consumed twice per round doubles the plan
    * per unbarriered round instead.
    */
  def barrierEvery(round: Int, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val interval = df.sparkSession.conf.getOption("spark.graft.barrierInterval")
      .map(_.toInt).getOrElse(4)
    if (interval <= 1 || round % interval == 0) barrier(df) else df
  }

  /** Accumulator-backed row marker for convergence ZERO-tests in iterative
    * operators (round-14, optimization guide §1.2: remove whole passes):
    * `mark(cond)` counts rows satisfying `cond` WHILE the enclosing action
    * runs — so a loop that barriers its round state can read the
    * convergence signal off the checkpoint job itself instead of paying a
    * second job per round to re-scan the materialized state.
    *
    * The marker UDF is nondeterministic ON PURPOSE, for two reasons: the
    * optimizer may not constant-fold/duplicate it, and — load-bearing —
    * filters cannot be pushed below a Project containing a nondeterministic
    * expression, so a `.withColumn("x", mark(cond)).where(keep)` evaluates
    * `cond` on every PRE-filter row (how kCore/kTruss count dropped edges).
    *
    * The marked column must REMAIN in the schema the enclosing action
    * materializes (e.g. stay in the checkpointed frame and be dropped
    * only after the barrier): ColumnPruning deletes an unreferenced
    * projection regardless of determinism — Spark assumes expressions
    * are side-effect-free — and with it the accumulator updates.
    *
    * Only `== 0` tests are valid on the accumulator value: an eager
    * reliable checkpoint executes its plan more than once (the count job +
    * the checkpoint write job) and task retries/speculation re-add, so the
    * value is an unreliable overcount — but it is EXACTLY 0 iff no row of
    * any complete execution satisfied `cond`. Never compare it to a prior
    * round's value or to a row count.
    */
  def zeroTestMarker(spark: SparkSession): (org.apache.spark.util.LongAccumulator,
      org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val acc = spark.sparkContext.longAccumulator("graft.zeroTest")
    val f = org.apache.spark.sql.functions.udf { (b: Boolean) =>
      if (b) acc.add(1L); b
    }.asNondeterministic()
    (acc, (c: org.apache.spark.sql.Column) => f(c))
  }

  /** Scoped round-state pinning for iterative operators (round-14,
    * optimization guide §5): GraphX/ALS-style iteration storage —
    * intermediate states are `persist`ed (executor-local, lineage kept,
    * so a lost block recomputes through the cached ancestors), a
    * reliable [[barrier]] lands every `spark.graft.barrierInterval`-th
    * round to bound lineage/plan depth, and [[IterScope.seal]]
    * checkpoints the final state then unpersists EVERY pinned
    * intermediate. The explicit unpersist matters beyond memory: a
    * cached plan left registered would be silently substituted by the
    * CacheManager into any LATER query sharing the subtree —
    * cross-query result reuse this engine must never do.
    *
    * vs the old barrier-per-round: an eager reliable checkpoint costs a
    * dedicated job (~0.5 s at local[32]); a pinned state materializes as
    * a side effect of whatever action the loop already runs (the
    * convergence count, the final result job), so rounds between
    * interval barriers cost zero extra jobs.
    */
  final class IterScope(spark: SparkSession) {
    private val pinnedFrames =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    private val interval = spark.conf.getOption("spark.graft.barrierInterval")
      .map(_.toInt).getOrElse(4)

    /** Pin a reused frame: persisted, unpersisted at [[seal]]. */
    def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinnedFrames += df
      df
    }

    /** Pin a 1-based round's state; every `interval`-th round gets a
      * reliable barrier instead (lineage/plan-depth bound).
      */
    def state(round: Int, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (interval <= 1 || round % interval == 0) barrier(df) else pin(df)

    /** Materialize the result behind a reliable barrier, then release
      * every pinned intermediate. Call exactly once, last.
      */
    def seal(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val out = barrier(df)
      pinnedFrames.foreach(_.unpersist(blocking = false))
      pinnedFrames.clear()
      out
    }

    /** Release pinned intermediates without a final barrier — for loops
      * whose last state is already materialized behind one.
      */
    def release(): Unit = {
      pinnedFrames.foreach(_.unpersist(blocking = false))
      pinnedFrames.clear()
    }
  }

  /** Per-gate scratch directory for EPHEMERAL data: streaming landing
    * staging, streaming checkpoint locations, temp sinks, codec fixture
    * files — everything a gate creates and abandons inside one
    * invocation (round-14 optimization, guide §6 I/O placement).
    *
    * `SPARK_GRAFT_TMPDIR` overrides (point it at fast local NVMe on a
    * production node); the local default prefers `/dev/shm` when
    * writable — RAM-backed scratch for data whose lifetime is one gate.
    * Measured motivation: the streaming state store commits one delta
    * file per store per partition per micro-batch; on the sandbox's
    * ext4 `/tmp` those commits hit journal stalls that doubled-to-
    * tripled the stream-stream-join floor with multi-second outliers
    * (w09 7.4 s on tmpfs vs 12-21 s on disk, same box, same night).
    * Falls back to `java.io.tmpdir`. The per-process base is removed
    * by a shutdown hook, so repeated sweeps cannot accumulate RAM.
    */
  def scratchDir(prefix: String): String = {
    val base = scratchBase
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  private lazy val scratchBase: java.nio.file.Path = {
    val root = sys.env.get("SPARK_GRAFT_TMPDIR").filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val base = root.resolve(s"graft-scratch-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(base)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => }
      }
      rm(base)
    }))
    base
  }

  /** `local[N]` session; N is `SPARK_GRAFT_CPUS` when set (a deployment
    * setting), else the cores this JVM may use.
    */
  def build(appName: String,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // scale sizing: 128 MiB scan splits and post-shuffle targets keep
      // partitions executor-memory-friendly at any SF; AQE coalesces the
      // small local shuffles down and splits skewed ones up from there
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // StateMetrics sums input rows over recentProgress, a ring buffer
      // capped by this conf (default 100) — a gate running more
      // micro-batches than the cap would silently undercount
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_STATESTORE=rocksdb flips the streaming state store to
      // the spill-to-disk provider — at 100 TB the in-memory HDFS-backed
      // store is the first thing swapped (join/session state no longer
      // bounded by executor heap); StreamingSpec pins result parity
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATESTORE") match {
          case Some("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case _ =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        })
      // reliable barriers BY DEFAULT: localCheckpoint blocks are
      // executor-local, so on a real cluster losing one executor
      // mid-iteration fails every barriered operator (g01/g03/d12/
      // prefix-sum). Every entry point now runs with a real checkpoint
      // dir — locally a tmpdir, on a cluster point
      // SPARK_GRAFT_CHECKPOINT_DIR at HDFS/S3. Set it to "" to opt back
      // into executor-local blocks (fastest, non-reliable).
      // the local default rides the scratch base (RAM-backed when
      // /dev/shm exists — barrier checkpoints are per-query ephemeral);
      // production still points SPARK_GRAFT_CHECKPOINT_DIR at HDFS/S3
      .config("spark.graft.checkpointDir",
        sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR",
          scratchBase.resolve("ckpt").toString))
      // shuffle/broadcast block files ride the same scratch base (tmpfs
      // locally, `SPARK_GRAFT_TMPDIR`-pointed NVMe on a bare-metal node).
      // On YARN/K8s/standalone the cluster manager's LOCAL_DIRS /
      // SPARK_LOCAL_DIRS override spark.local.dir, so this default only
      // governs local-mode runs — guide §6 I/O placement, not a
      // local-only constant tune.
      .config("spark.local.dir", scratchBase.resolve("blocks").toString)
      // checkpoints of barriered frames that go out of scope are GC'd
      // with their RDDs instead of accumulating for the app's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
