package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time data-quality gates with a quarantine (dead-letter)
  * channel — the expectation contract a training-data pipeline runs
  * at the door: rows failing any check are diverted WITH their
  * failure reasons instead of silently dropped or silently admitted.
  *
  * One narrow pass tags each row with its failed check names; the
  * split is two filters over the same tagged frame ([[appendChecked]]
  * stages the tagged frame through a lineage cut so the source is
  * scanned once and both channels provably see the same rows), and
  * both channels append idempotently under the
  * same batch name (the marker discipline of
  * [[graft.sources.Store.atomicAppendOnce]]), so a replayed ingest
  * batch is exactly-once in BOTH channels. The reference ingester
  * validates per-request property types (ingester/src/executor.rs);
  * this generalizes that to declarative row expectations at batch
  * scale.
  */
object Quality {

  /** One expectation: `holds` TRUE = the row passes. */
  final case class Check(name: String, holds: Column)

  /** Tag rows with the names of FAILED checks (empty array = clean).
    * A check evaluating to NULL counts as failed — an expectation
    * that cannot be evaluated did not hold. Reason order follows
    * declaration order, so the joined `reasons` string is
    * deterministic. */
  def tagged(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val vio = array(checks.map(c =>
      when(!coalesce(c.holds, lit(false)), lit(c.name))): _*)
    df.withColumn("__vio", array_compact(vio))
  }

  /** (clean rows, quarantined rows carrying a `reasons` column). */
  def split(df: DataFrame, checks: Seq[Check]): (DataFrame, DataFrame) = {
    val t = tagged(df, checks)
    (t.filter(size(col("__vio")) === 0).drop("__vio"),
      t.filter(size(col("__vio")) > 0)
        .withColumn("reasons", concat_ws(",", col("__vio"))).drop("__vio"))
  }

  /** Gate one ingest batch into `dir`: clean rows append as batch
    * `name`, quarantined rows land in the hidden `.quarantine/`
    * sibling under the SAME batch name — both marker-idempotent, so a
    * replayed batch is a no-op in both channels even after compaction
    * folded the clean file. Returns (cleanApplied,
    * quarantineApplied); (false, false) = full replay. */
  def appendChecked(df: DataFrame, dir: String, name: String,
                    checks: Seq[Check]): (Boolean, Boolean) = {
    // Materialize the tagged frame ONCE before splitting: the two
    // channel filters are separate actions, so without this the
    // source is scanned once per channel and a nondeterministic
    // source or check could route a row into both or neither channel
    // within one batch. Staging.stage CUTS LINEAGE (unlike a bare
    // persist(), whose cached blocks are best-effort — an evicted or
    // executor-lost block silently recomputes from the source): in
    // `local` mode a lost block fails the batch loudly instead of
    // re-routing a row, and in `reliable`/`parquet` modes the cut is
    // durable and both appends provably read the same tagged rows.
    val t = graft.engine.Staging.stage(tagged(df, checks))
    val good = t.filter(size(col("__vio")) === 0).drop("__vio")
    val bad = t.filter(size(col("__vio")) > 0)
      .withColumn("reasons", concat_ws(",", col("__vio"))).drop("__vio")
    val g = graft.sources.Store.atomicAppendOnce(good, dir, name)
    val q = graft.sources.Store.atomicAppendOnce(bad,
      new org.apache.hadoop.fs.Path(dir, ".quarantine").toString, name)
    (g, q)
  }

  /** The dead-letter channel of a gated store (throws if no batch
    * ever quarantined a row — an empty quarantine has no schema). */
  def quarantine(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, ".quarantine").toString)
}
