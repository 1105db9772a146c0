package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-scale storage layout. The reference's OptiDB is a
  * WAL + memtable + leveled-parquet LSM sorted by (project_id, user)
  * (reference storage/src/db.rs, SURVEY.md §2.1); on Spark the whole
  * LSM disappears: immutable parquet partitioned by (project, date)
  * gives partition pruning for the two filters every query carries
  * (tenant + time range), and in-file sorting by (user, ts) gives
  * row-group locality for the per-user operators (funnel, two-level
  * aggs). Compaction ≈ rewrite; replacing tables ≈ dedup-on-read or
  * periodic [[compactGroupTable]].
  */
object Store {

  /** Write events for scale: directory-partitioned by date (and
    * project when present), sorted by (user, ts) within files so
    * per-user scans cluster. The in-partition sort leads with the
    * FULL partition-column prefix: FileFormatWriter requires its
    * ordering on the partition columns, and a sort that omits them
    * gets replaced by the writer's own (partition-columns-only)
    * sort — silently discarding the (user, ts) locality. */
  def writeEvents(df: DataFrame, path: String,
                  userCol: String = "user_id", tsCol: String = "ts"): Unit = {
    val withDate = df.withColumn("event_date", to_date(col(tsCol)))
    val parts =
      if (df.columns.contains("project_id")) Seq("project_id", "event_date")
      else Seq("event_date")
    withDate
      .repartition(parts.map(col): _*)
      .sortWithinPartitions((parts ++ Seq(userCol, tsCol)).map(col): _*)
      .write
      .partitionBy(parts: _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Append a batch into the SAME canonical layout [[writeEvents]]
    * creates: dynamic partition APPEND touches only the days present
    * in the batch (a daily ingest adds one directory; it never
    * rewrites history), and the in-batch sort keeps per-user row-group
    * locality inside the new files. Small-file buildup from frequent batches is
    * [[graft.sources.Compact.runPartitioned]]'s job — each hot leaf
    * folds independently. */
  def appendEvents(df: DataFrame, path: String,
                   userCol: String = "user_id", tsCol: String = "ts"): Unit = {
    val withDate = df.withColumn("event_date", to_date(col(tsCol)))
    val parts =
      if (df.columns.contains("project_id")) Seq("project_id", "event_date")
      else Seq("event_date")
    withDate
      .repartition(parts.map(col): _*)
      .sortWithinPartitions((parts ++ Seq(userCol, tsCol)).map(col): _*)
      .write
      .partitionBy(parts: _*)
      .mode(SaveMode.Append)
      .parquet(path)
  }

  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Atomically append `df` to the parquet file set at `dir` as
    * `<name>.parquet`: write to a temp dir, rename the single part
    * file into place (rename is atomic on local/HDFS), skip when the
    * target already exists. A torn write leaves only the temp dir, so
    * readers never see a partial append, and a deterministic `name`
    * (batch id) makes retries converge on identical state. Intended
    * for driver-adjacent snapshot tables (identity mappings,
    * dictionaries) whose per-batch deltas are small; object stores
    * without atomic rename want a transactional table instead. */
  def atomicAppend(df: DataFrame, dir: String, name: String): Unit = {
    val spark = df.sparkSession
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new org.apache.hadoop.fs.Path(dirPath, s"$name.parquet")
    if (!fs.exists(dest)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$dir-tmp-$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.mkdirs(dirPath)
      fs.rename(part, dest)
      fs.delete(tmp, true)
    }
  }

  /** [[atomicAppend]] whose idempotency SURVIVES compaction: a hidden
    * `.batch-<name>.done` marker — committed strictly AFTER the data
    * rename — records that the batch was applied even once a fold has
    * consumed the file itself, so a replayed batch id is a no-op
    * forever (the contract an AGGREGATING store needs:
    * [[Compact.Options.sumOn]] partials are not collapsible
    * duplicates, unlike a replacing store's rows). Returns whether
    * THIS call applied the batch. The crash window (data renamed,
    * marker missing) converges because the retry's [[atomicAppend]]
    * finds the deterministic file name still present and skips before
    * writing the marker; the one unrecoverable interleaving — a
    * maintenance fold consuming the unmarked file before the retry —
    * is excluded by the single-writer discipline the store already
    * assumes (finish or retry in-flight batches before compacting). */
  def atomicAppendOnce(df: DataFrame, dir: String, name: String): Boolean = {
    val spark = df.sparkSession
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dirPath, s".batch-$name.done")
    if (fs.exists(marker)) false
    else {
      atomicAppend(df, dir, name)
      fs.create(marker, true).close()
      true
    }
  }

  /** Streaming incremental materialized aggregate view — the
    * continuous-ingest counterpart of [[Compact.Options.sumOn]]: each
    * micro-batch appends ONE partial additive aggregate
    * (`groupBy(keys).agg(aggs)` over just the batch) via
    * [[atomicAppendOnce]], so a foreachBatch restart replaying the last
    * batch is exactly-once in the store even after compaction consumed
    * the batch file. The view read folds partials to O(groups) rows
    * without rescanning any raw event; `sink` receives it after each
    * batch. Periodic [[Compact.run]] with the same `opts` bounds the
    * partial count physically — reads are correct at any point in
    * between, because merge and reader apply the identical fold.
    * `opts.sumOn` must name the key columns as aliased in `keys`. */
  def streamingAggView(rows: DataFrame, storeDir: String,
                       keys: Seq[Column], aggs: Seq[Column],
                       opts: Compact.Options)(
                       sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val partial = batch.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      atomicAppendOnce(partial, storeDir, f"batch-$batchId%09d"): Unit
      sink(Compact.read(batch.sparkSession, storeDir, opts), batchId)
    }

  /** Replacing-table compaction: keep the latest version per id —
    * the LSM replace-on-merge of the reference's group tables
    * (cmd/src/lib.rs:270 is_replacing), as a periodic rewrite. */
  def compactGroupTable(df: DataFrame, idCols: Seq[String],
                        versionCol: String): DataFrame = {
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
