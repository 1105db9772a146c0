package graft.engine

import graft.model.{EventSegmentationRequest, PropFilter, PropOp, Registry, Segment, SegmentCondition}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dictionary encoding/decoding. The reference stores dictionary-coded
  * string properties as int keys with bidirectional value↔key maps in
  * RocksDB (reference metadata/src/dictionaries.rs:40-207) and decodes
  * at plan exit via `DictionaryDecodeNode` (reference
  * physical_plan/dictionary_decode.rs:46,167-222 — a lookup join).
  *
  * Spark build: a dictionary IS a DataFrame (value, key). Encode and
  * decode are broadcast hash joins — the direct distributed analog of
  * the reference's per-batch RocksDB lookups, with the dictionary
  * shipped once per executor instead of queried per row. Parquet also
  * dictionary-encodes strings transparently at the storage layer, so
  * encoding is a modeling choice, not a storage necessity.
  */
object Dictionary {

  /** Deterministic dense ranks startAt+1..startAt+N over `df` in
    * `sortCols` order (which must be a total order), appended as
    * `idCol`. Ranks come from `zipWithIndex` over the range-sorted
    * partitions — no single-task global window (a
    * `row_number().over(Window.orderBy(...))` would funnel every row
    * through one partition, the scale killer for high-cardinality
    * inputs). Shared by dictionary builds and batch identity
    * assignment ([[graft.ingest.Ingest.resolveIdentities]]). */
  def rankRows(df: DataFrame, sortCols: Seq[Column], idCol: String,
               startAt: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(sortCols: _*)
    // zipWithIndex numbers rows in partition order; the sort above
    // makes partition order = global sort order, so ids are
    // deterministic
    val keyed = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (startAt + i + 1L))
    }
    spark.createDataFrame(keyed,
      StructType(sorted.schema.fields :+ StructField(idCol, LongType)))
  }

  /** The top `topK` rows of `df` in `sortCols` order (a total order),
    * ranked 1.. as `rank` by [[rankRows]]. The bounded top-k is taken
    * first, so only ≤ topK rows are numbered — never a single-partition
    * window over the whole scored set. */
  def rankTopK(df: DataFrame, sortCols: Seq[Column], topK: Int): DataFrame =
    rankRows(df.orderBy(sortCols: _*).limit(topK), sortCols, "rank")

  /** Build a dictionary for a column: distinct values keyed 1..N in
    * value order (deterministic).
    *
    * Small dictionaries (≤ `maxLocalValues` distinct values AND within
    * the broadcast byte budget — the normal case for a
    * dictionary-FLAGGED property, which is low-cardinality by
    * definition) are materialized to a driver-local relation in ONE
    * sorted-collect job. Every downstream use — [[encode]]/[[decode]]'s
    * broadcast joins, [[keysOf]]'s literal lookups — then reads
    * in-memory rows instead of re-executing the
    * distinct+range-sort+zipWithIndex chain over the source scan per
    * use (that re-execution was a measured 12.8× regression on the
    * auto-encode path). The row cap defaults to 128K — a mis-flagged
    * column (user ids, free text) must not park a million driver-side
    * rows that every downstream broadcast re-serializes — and the byte
    * budget follows `spark.sql.autoBroadcastJoinThreshold`, the same
    * knob that governs what Spark itself considers broadcast-sized.
    *
    * Over either limit the build falls back to the distributed
    * [[rankRows]] path, persisted MEMORY_AND_DISK and eagerly
    * materialized so repeated uses still pay the chain once. THE
    * CALLER OWNS that cached frame: call [[release]] when the query is
    * done with it, or the block survives for the application lifetime
    * (MEMORY_AND_DISK + the block manager's LRU is the backstop, not
    * the plan). Identity assignment at user-id scale bypasses `build`
    * entirely and calls [[rankRows]] directly. */
  def build(df: DataFrame, valueCol: String,
            maxLocalValues: Int = 1 << 17): DataFrame = {
    val spark = df.sparkSession
    val distinct =
      df.select(col(valueCol).as("value")).filter(col("value").isNotNull).distinct()
    // TakeOrderedAndProject: one job, no full-sort shuffle for the probe
    val head = distinct.orderBy(col("value")).limit(maxLocalValues + 1).collect()
    val byteBudget = Staging.broadcastBudget(spark)
    def approxBytes: Long = {
      var b = 0L
      var i = 0
      while (i < head.length) {
        b += 24L + (head(i).get(0) match {
          case s: String => 16L + 2L * s.length
          case _         => 16L
        })
        i += 1
      }
      b
    }
    if (head.length <= maxLocalValues && approxBytes <= byteBudget) {
      val rows: java.util.List[Row] = new java.util.ArrayList[Row](head.length)
      var i = 0
      while (i < head.length) { rows.add(Row(head(i).get(0), i + 1L)); i += 1 }
      spark.createDataFrame(rows,
        StructType(distinct.schema.fields :+ StructField("key", LongType)))
    } else {
      val dict = rankRows(distinct, Seq(col("value")), "key")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dict.count() // eager: pay the chain once, not per downstream use
      dict
    }
  }

  /** Release a dictionary returned by [[build]]: unpersists the
    * distributed fallback's cached blocks (no-op for the driver-local
    * path, which holds no executor state). Call when the last plan
    * using the dict has executed. */
  def release(dict: DataFrame): Unit =
    if (dict.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      dict.unpersist(blocking = false)

  /** Load a parquet-persisted dictionary (value, key), or an empty one
    * if the store has never been written. Same Hadoop-FS existence
    * probe as [[graft.ingest.Ingest.loadSnapshot]] so any scheme
    * (file://, hdfs://, s3a://) behaves identically. */
  def loadStore(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.endsWith(".parquet"))
    if (exists) spark.read.parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("value", org.apache.spark.sql.types.StringType),
        StructField("key", LongType))))
  }

  /** Durable get_or_create (reference metadata/src/dictionaries.rs:
    * 40-157 `get_key_or_create` — the RocksDB-backed monotonic key
    * counter): values already in the store keep their keys; unseen
    * values get max(key) + rank in value order, appended ATOMICALLY
    * (Store.atomicAppend — temp write + single-file rename keyed by
    * `batchTag`, so retries of the same batch converge on identical
    * keys and a torn write never leaves a partial dictionary). The
    * assignment machinery is the same anti-join + broadcast-max +
    * rankRows pipeline as batch identity resolution
    * ([[graft.ingest.Ingest.resolveIdentities]]): one shuffle of the
    * batch's distinct values, never the raw rows. Returns the complete
    * durable (value, key) mapping. */
  def getOrCreate(df: DataFrame, valueCol: String, dir: String,
                  batchTag: String): DataFrame = {
    val spark = df.sparkSession
    val existing = loadStore(spark, dir)
    val distinctVals = df.select(col(valueCol).cast("string").as("value"))
      .filter(col("value").isNotNull).distinct()
    val newVals = distinctVals
      .join(existing.select(col("value")), Seq("value"), "left_anti")
    // one-row eager max (the monotonic counter read) folded into
    // rankRows' startAt — same shape as Ingest.resolveParts; the
    // store is parquet so the anti-join's re-scan is cheap, but a
    // broadcast-max join arm would re-scan it a THIRD time and sit
    // in the plan past the atomicAppend action below
    val maxKey = existing.agg(coalesce(max(col("key")), lit(0L))).first().getLong(0)
    val assigned = rankRows(newVals, Seq(col("value")), "key", startAt = maxKey)
      .select(col("value"), col("key"))
    graft.sources.Store.atomicAppend(assigned, dir, s"batch-$batchTag")
    loadStore(spark, dir)
  }

  /** Replace `valueCol` with its dictionary key (null-safe: unseen /
    * null values stay null, mirroring the reference's null handling). */
  def encode(df: DataFrame, dict: DataFrame, valueCol: String,
             keyCol: String): DataFrame =
    df.join(broadcast(dict.select(col("value").as(valueCol), col("key").as(keyCol))),
        Seq(valueCol), "left")
      .drop(valueCol)

  /** Key column → string value (the reference's DictionaryDecodeNode). */
  def decode(df: DataFrame, dict: DataFrame, keyCol: String,
             valueCol: String): DataFrame =
    df.join(broadcast(dict.select(col("key").as(keyCol), col("value").as(valueCol))),
        Seq(keyCol), "left")
      .drop(keyCol)

  /** Dict keys of a set of literals in ONE job (the analog of the
    * reference's `get_key` lookups, metadata/src/dictionaries.rs —
    * batched instead of one scan per literal). A value the dictionary
    * has never seen returns -1: no row carries that key, so Eq
    * matches nothing and Neq keeps every row — the reference's
    * get_key-miss semantics. */
  def keysOf(dict: DataFrame, values: Seq[Any]): Map[Any, Long] =
    if (values.isEmpty) Map.empty
    else {
      // isin matches under Catalyst's coercion (a numeric literal
      // finds the stored string "1"); the driver-side lookup compares
      // by string form so those coerced matches resolve instead of
      // silently falling to the -1 miss key
      val found = dict.filter(col("value").isin(values: _*))
        .select(col("value"), col("key")).collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
      values.map(v => v -> found.getOrElse(String.valueOf(v), -1L)).toMap
    }

  private def isEqClass(op: PropOp): Boolean =
    op == PropOp.Eq || op == PropOp.Neq
  private def keysWork(op: PropOp): Boolean =
    // null checks are key-representation-independent
    op == PropOp.Exists || op == PropOp.Empty
  private def isDictProp(registry: Registry, column: String): Boolean =
    registry.allProperties.exists(m => m.column == column && m.isDictionary)

  /** Registry-driven auto-encode of a request against a
    * dictionary-encoded store (reference query/src/expr.rs:168-204): a
    * filter addressing a dictionary-coded property compares LITERALS,
    * so the literals — not the column — translate to dict keys at plan
    * build. Every filter position — request-level, per-block, and
    * inside segment conditions — rewrites:
    *
    *  - Eq/Neq literals → dict keys (pushed-down int comparison);
    *  - Exists/Empty → unchanged (null checks work on keys);
    *  - order/pattern ops (Like/Regex/Gt/…) → the filter re-addresses
    *    a decoded companion column `<col>__str`, materialized ONCE
    *    per column via a broadcast dict join — the reference's
    *    DictionaryDecode for exactly these ops (expr.rs:547-587).
    *
    * Returns (events with any needed decode columns, rewritten
    * request). Event-NAME predicates still address the configured
    * event column; encoding that dimension is a table-layout choice
    * (store the decoded event column, or configure EventCol to the
    * key column and use custom events by key). */
  def encodeStore(events: DataFrame, req: EventSegmentationRequest,
                  registry: Registry,
                  dicts: Map[String, DataFrame]): (DataFrame, EventSegmentationRequest) = {
    val needsDecode = scala.collection.mutable.LinkedHashSet[String]()
    def rw(f: PropFilter): PropFilter =
      dicts.get(f.column) match {
        case Some(dict) if isDictProp(registry, f.column) =>
          if (isEqClass(f.op)) {
            val keys = keysOf(dict, f.values)
            f.copy(values = f.values.map(keys))
          } else if (keysWork(f.op)) f
          else { needsDecode += f.column; f.copy(column = f.column + "__str") }
        case _ => f
      }
    def rwCond(c: SegmentCondition): SegmentCondition = c match {
      case h: SegmentCondition.HadPropertyValue =>
        val f = rw(PropFilter(h.prop, h.op, h.values))
        h.copy(prop = f.column, values = f.values)
      case h: SegmentCondition.HasPropertyValue =>
        val f = rw(PropFilter(h.prop, h.op, h.values))
        h.copy(prop = f.column, values = f.values)
      case d: SegmentCondition.DidEventCount =>
        d.copy(filters = d.filters.map(rw))
      case d: SegmentCondition.DidEventAggregateProperty =>
        d.copy(filters = d.filters.map(rw))
      case d: SegmentCondition.DidEventRelativeCount =>
        d.copy(filters = d.filters.map(rw), otherFilters = d.otherFilters.map(rw))
    }
    val req2 = req.copy(
      filters = req.filters.map(rw),
      events = req.events.map(b => b.copy(filters = b.filters.map(rw))),
      segments = req.segments.map(s =>
        s.copy(conditions = s.conditions.map(_.map(rwCond)))))
    val events2 = needsDecode.foldLeft(events) { (ev, c) =>
      ev.join(broadcast(dicts(c).select(col("key").as(c), col("value").as(c + "__str"))),
        Seq(c), "left")
    }
    (events2, req2)
  }
}
