package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cluster-safe staging for hot-path intermediates.
  *
  * The pipelines (dedup banding, sketch builds, ANN candidate caps,
  * count-min probes) stage small derived frames that several
  * downstream consumers read — without materialization each consumer
  * re-runs the producing scan+shuffle (measured ~2x pipeline cost).
  * On `local[*]` a `localCheckpoint` is the cheapest cut, but its
  * blocks are UNREPLICATED executor state: on a real cluster one lost
  * executor (preemption, dynamic allocation) kills the job with no
  * lineage to recompute. The reference LSM never holds intermediate
  * state in memory only — every level is a persisted part file
  * (storage/src/db.rs:444-477) — and a 100 TB run on preemptible
  * nodes wants the same property for its staging.
  *
  * `graft.staging.mode` (a runtime SQL conf — settable per session,
  * no restart) picks the trade:
  *
  *   - `local` (default): `localCheckpoint` — fastest, executor-local
  *     blocks, lineage cut; right for single-JVM and short jobs.
  *   - `reliable`: `Dataset.checkpoint` into the session's checkpoint
  *     dir (auto-set under `graft.staging.dir` if the session has
  *     none) — blocks survive executor loss; right for long jobs on
  *     preemptible clusters. Files are reclaimed per-frame only under
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
  *     otherwise at application exit.
  *   - `parquet`: write + read back a scratch parquet under
  *     `graft.staging.dir` — durable, inspectable, and the only mode
  *     whose intermediates survive a full driver restart; right for
  *     checkpoint/restart orchestration. Scratch files are deleted on
  *     JVM exit when the default tmp root is used.
  *
  * Every mode preserves VALUES exactly (the staged frame is the
  * materialized result of the same plan); tests pin identical query
  * hashes across all three. Row ORDER differs only as any shuffle
  * boundary already allows.
  */
object Staging {
  val ModeKey = "graft.staging.mode"
  val DirKey = "graft.staging.dir"

  private val counter = new AtomicLong(0)
  @volatile private var cleanupRegistered = false

  def mode(spark: SparkSession): String =
    spark.conf.getOption(ModeKey).getOrElse("local") match {
      case m @ ("local" | "reliable" | "parquet") => m
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable|parquet, got '$other'")
    }

  /** The session's broadcast budget in bytes:
    * `spark.sql.autoBroadcastJoinThreshold`, 10 MB when unset or
    * unparsable — and when ≤ 0: -1 disables broadcast JOINS, not the
    * byte budgets that gate small driver-side or broadcast frames. */
  private[graft] def broadcastBudget(
      spark: SparkSession): Long = {
    val b = try {
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    } catch { case _: Exception => 10L << 20 }
    if (b > 0) b else 10L << 20
  }

  /** Materialize an intermediate frame and cut its lineage under the
    * session's staging mode. `eager` defers materialization to the
    * first action in `local` mode (a frame that might not be consumed
    * shouldn't pay up front, and localCheckpoint's lazy form
    * materializes as a side effect of the first action — one job).
    * `reliable` is ALWAYS eager: Spark's lazy `Dataset.checkpoint`
    * recomputes the whole plan in a SECOND job to write the
    * checkpoint files, so a caller's first action and the checkpoint
    * would observe two separate computations — the "values exact"
    * contract would then rest on plan determinism instead of on one
    * materialization, and the intended job fusion inverts into a full
    * extra recompute. `parquet` is eager by nature. */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    mode(spark) match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          // On a multi-node cluster a driver-local java.io.tmpdir is NOT
          // shared storage: checkpoint blocks would land on per-node
          // local disks and the executor-loss resilience this mode
          // exists for would silently not hold. Refuse the fallback
          // there — the caller must point graft.staging.dir (or the
          // session's checkpoint dir) at durable shared storage.
          require(spark.sparkContext.isLocal || spark.conf.getOption(DirKey).isDefined,
            s"reliable staging on a non-local master needs $DirKey (or an " +
              "already-set checkpoint dir) on SHARED storage; a local tmp " +
              "fallback would not survive executor loss")
          spark.sparkContext.setCheckpointDir(scratchRoot(spark) + "/ckpt")
        }
        df.checkpoint(eager = true)
      case "parquet" =>
        val path = scratchRoot(spark) + "/stage-" + counter.incrementAndGet()
        // an empty frame can have ZERO partitions (emptyDataFrame),
        // whose parquet write emits no schema-bearing part file and
        // whose read-back then fails — give it one empty partition
        val toWrite = if (df.rdd.getNumPartitions == 0) df.repartition(1) else df
        toWrite.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
    }
  }

  /** Build several INDEPENDENT plan fragments concurrently and return
    * them in input order. Spark's scheduler happily runs several jobs
    * at once inside one application; multi-chain operators (recall
    * probes across operating points, truth-vs-ann comparisons, hybrid
    * fusion legs) are only sequential because each chain's
    * construction runs staged driver jobs (broadcast-gate measures,
    * probed-cell collects, checkpoints) one after another on the
    * calling thread. Running each chain's CONSTRUCTION on its own
    * thread overlaps those small jobs, so a 4-chain operator pays
    * max(chain) instead of sum(chain) in driver round trips —
    * StageProfile measured the recall family at 0.4-0.6 s of executor
    * work inside 2-5 s walls, i.e. almost pure sequenced-job latency.
    *
    * VALUES are untouched: each thunk builds exactly the plan it
    * would have built serially (thread-confined construction, no
    * shared mutable state beyond the thread-safe GenCache/Staging
    * layers), so the composed result is identical. Threads are
    * created by the calling thread, so Spark's inheritable
    * thread-locals (active session, job group) propagate. The first
    * thunk failure rethrows after every thread has stopped — no
    * half-built chain leaks a running thread. */
  def concurrently[A](thunks: Seq[() => A],
                      maxParallel: Int = Int.MaxValue): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      require(maxParallel >= 1, s"maxParallel must be >= 1, got $maxParallel")
      val n = thunks.size
      val results = new Array[Any](n)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      // Bounded WORK-STEALING pool, not waves: min(maxParallel, n)
      // workers pull the next unclaimed thunk, so a slow thunk never
      // barriers the rest of its batch (a per-leaf compactor over
      // size-skewed leaves under-delivered behind each wave's slowest
      // leaf). A failed thunk stops NEW thunks from being claimed;
      // running ones finish and are joined before the rethrow, so no
      // half-built chain leaks a running thread. Fatal VM errors
      // (OOM) still win the failure slot first-come like any other
      // throwable — they surface at the rethrow, one thunk later at
      // worst, never recorded as a value.
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val batch = counter.incrementAndGet()
      val workers = (0 until math.min(maxParallel, n)).map { w =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < n && failure.get() == null) {
            try results(i) = thunks(i)()
            catch { case e: Throwable => failure.compareAndSet(null, e) }
            i = next.getAndIncrement()
          }
        }, s"graft-plan-$batch-$w")
        th.setDaemon(true)
        th.start()
        th
      }
      // An interrupt of the CALLING thread while it waits must not
      // leave daemon workers running Spark jobs nobody will collect:
      // interrupt every worker (Spark job launches respond to thread
      // interruption) before propagating.
      try workers.foreach(_.join())
      catch {
        case ie: InterruptedException =>
          failure.compareAndSet(null, ie): Unit
          workers.foreach(_.interrupt())
          throw ie
      }
      if (failure.get() != null) throw failure.get()
      results.toSeq.map(_.asInstanceOf[A])
    }

  /** Scratch root for `reliable`/`parquet` staging: `graft.staging.dir`
    * when set (point it at durable shared storage on a cluster),
    * otherwise a per-application tmp dir removed on JVM exit. */
  private def scratchRoot(spark: SparkSession): String =
    spark.conf.getOption(DirKey).getOrElse {
      val root = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft-staging-" + spark.sparkContext.applicationId)
      if (!cleanupRegistered) synchronized {
        if (!cleanupRegistered) {
          root.mkdirs()
          sys.addShutdownHook(delete(root)): Unit
          cleanupRegistered = true
        }
      }
      root.getAbsolutePath
    }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
