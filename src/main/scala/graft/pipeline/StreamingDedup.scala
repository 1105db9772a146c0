package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming dedup-on-ingest: flag each micro-batch's near-duplicates
  * against the signature store accumulated from every prior batch —
  * the standard admission gate of a continuously-fed training corpus
  * (don't re-ingest what the corpus already holds). Additive beyond
  * the reference (its ingester has no dedup stage); the batch
  * machinery is [[Dedup]]'s: same shingle hashes, same MinHash
  * banding, same exact-Jaccard verification, so a document flagged
  * here is exactly a document [[Dedup.minhashDupPairs]] would pair.
  *
  * Store layout: one parquet row per prior document —
  * `(id, sh: array<bigint>, bks: array<bigint>)`, shingle hashes plus
  * one band key per band — appended atomically per batch
  * (`batch-<id>.parquet` via [[graft.sources.Store.atomicAppend]]), so
  * a retried batch converges: the append skips, and because the
  * batch's own ids are excluded from the store side of the join, a
  * replay that ALREADY appended (crash before the checkpoint commit)
  * still emits exactly the original flags (at-least-once delivery,
  * deterministic content).
  * [[graft.sources.Compact.run]] folds the store's batch files when
  * they accumulate.
  *
  * Scale path: both sides explode to `(band, band_key)` and equi-join
  * — only docs sharing a band bucket meet, the shuffle carries
  * (id, band_key) pairs plus the matched docs' shingle arrays, and the
  * batch side is micro-batch-sized so AQE broadcasts it against an
  * arbitrarily large store. Within-batch duplicates are deliberately
  * out of scope (run [[Dedup.minhashDupPairs]] on the batch for that);
  * this operator answers "is this NEW document a dup of the corpus".
  */
object StreamingDedup {

  /** Per-document signature row `(idCol, sh, bks)` — shingle hashes
    * and one band key per band, the precomputed form both sides of
    * the candidate join need. Docs too short to shingle are excluded
    * (they can never band-match, same as [[Dedup.lshBands]]). */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 16,
                     bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rows = numHashes / bands
    // narrow per-row lambdas, not the explode+groupBy of lshBands: a
    // micro-batch is small, so skipping the signature shuffle beats
    // map-side combine; `sh` is a staged attribute (lambda-subtree
    // re-evaluation gotcha)
    val staged = Dedup.withShingleHashes(
      df.select(col(idCol), col(textCol)), textCol, shingleN, "sh")
      .filter(size(col("sh")) > 0)
    val sigs = (0 until numHashes).map { seed =>
      array_min(transform(col("sh"), h => xxhash64(lit(seed), h))).as(s"__s$seed")
    }
    val withSig = staged.select((col(idCol) +: col("sh") +: sigs): _*)
    val bandKeys = (0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(k => col(s"__s$k")): _*)
    }
    withSig.select(col(idCol), col("sh"), array(bandKeys: _*).as("bks"))
  }

  /** The accumulated signature store, or an empty frame of the same
    * schema before the first batch lands. Reads through
    * [[graft.sources.Compact.read]] so a compaction that crashed
    * mid-commit on the store can never double-count a signature
    * (falls back to a plain directory read when no manifest exists). */
  def loadSignatures(spark: SparkSession, dir: String,
                     schemaFrom: DataFrame): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.endsWith(".parquet"))
    if (exists) graft.sources.Compact.read(spark, dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaFrom.schema)
  }

  /** Started-able streaming writer: per micro-batch, flag near-dups
    * of prior batches and grow the store. `sink` receives
    * `(idCol, dup_of, jaccard)` — each new doc's best corpus match at
    * or above `threshold` (highest jaccard, ties to the highest id —
    * deterministic). The caller picks trigger/checkpoint and calls
    * `.start()`. */
  def streamingNearDups(docs: DataFrame, storeDir: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, numHashes: Int = 16,
                        bands: Int = 4, threshold: Double = 0.7)(
                        sink: (DataFrame, Long) => Unit) =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val sig = signatureTable(batch, idCol, textCol, shingleN, numHashes, bands)
        .persist()
      try {
        // the batch's own ids are excluded from the store side: a
        // replayed batch (crash after append, before checkpoint
        // commit) would otherwise meet its own prior signatures and
        // emit within-batch flags the first run never emitted — with
        // the exclusion, replay output is identical to the original
        // (the broadcast is micro-batch-sized)
        val store = loadSignatures(spark, storeDir, sig)
          .join(broadcast(sig.select(col(idCol))), Seq(idCol), "left_anti")
        val newB = sig.select(col(idCol).as("__id_new"), col("sh").as("__sh_new"),
          posexplode(col("bks")).as(Seq("band", "band_key")))
        val oldB = store.select(col(idCol).as("dup_of"), col("sh").as("__sh_old"),
          posexplode(col("bks")).as(Seq("band", "band_key")))
        val dups = newB.join(oldB, Seq("band", "band_key"))
          .filter(col("__id_new") =!= col("dup_of"))
          .dropDuplicates(Seq("__id_new", "dup_of"))
          .withColumn("jaccard", Dedup.jaccard(col("__sh_new"), col("__sh_old")))
          .filter(col("jaccard") >= threshold)
          .groupBy("__id_new")
          .agg(max(struct(col("jaccard"), col("dup_of"))).as("__m"))
          .select(col("__id_new").as(idCol),
            col("__m.dup_of").as("dup_of"), col("__m.jaccard").as("jaccard"))
        sink(dups, batchId)
        // marker-after-append replay guard (Store.atomicAppendOnce):
        // the hidden .done marker — not the parquet file — records the
        // batch, because compaction legitimately deletes the parquet
        // when it folds the batch into a merged part. The one
        // remaining window — crash after append but before the marker,
        // AND a compaction folding the batch file before the stream
        // restarts — re-appends one batch's rows; that duplication is
        // provably output-neutral here (candidate pairs are
        // dropDuplicates'd per (new, dup_of) and jaccard is identical
        // per duplicate row) and is physically collapsed by a replacing
        // fold (Compact.run with `replaceOn` = the doc id), which is why
        // replacing compaction is the REQUIRED maintenance path for
        // this store.
        graft.sources.Store.atomicAppendOnce(
          sig, storeDir, f"batch-$batchId%09d"): Unit
      } finally { sig.unpersist(); () }
    }
}
