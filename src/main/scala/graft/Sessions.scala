package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's Spark configuration lives. Every main
  * (Bench, Verify, Dev, the soak tools) and the test session build
  * through [[build]], so plans, timings and oracle results all come
  * from the configuration that ships. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (or the active one) with the engine
    * config and [[graft.plans.GraftExtensions]] installed. */
  def build(cpus: Int = Sessions.cpus, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      // Keep AQE from serializing tiny-bytes/heavy-CPU stages (LSH
      // candidate verification): see Dedup.verifiedPairs scaladoc.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // r20: let AQE re-partition the plans that MATERIALIZE cached/
      // persisted frames (default false pins them at the static
      // shuffle-partition count). The micro-batch/lifecycle bodies
      // persist small derived frames, and thread dumps showed their
      // 32-task materializations spending ~0.5 s/task on per-task
      // fixed cost (codegen canonicalization, UnifiedMemoryManager
      // lock contention, block-status RPCs) over near-empty
      // partitions. Scale-adaptive by definition — partition counts
      // now track the frame's measured bytes at ANY scale instead of
      // the session constant (guide §2.2); values are unaffected,
      // only cached-plan output partitioning may change. Measured:
      // q_stream_kmv executor task-time 33.9 → 2.0 s, q_ingest_anon
      // 42.5 → 21.4 s, q_stream_track 17.8 → 7.4 s (per-stage profile).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Make `spark` read the events table: TIMESTAMP(NANOS) parquet as
    * raw ns longs (`legacy.parquet.nanosAsLong`), and the
    * [[graft.plans.NsTimeFilterPushdown]] rule that re-pushes time
    * filters through the loader's conversion. Idempotent: the rule is
    * added only when the optimizer carries it neither from the
    * extensions nor from an earlier call, so it runs once per batch. */
  def install(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rule = plans.NsTimeFilterPushdown
    val exp = spark.experimental
    exp.synchronized {
      if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule) &&
          !exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }
}
