package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The storage layout of a persisted vector index — what differs
  * between the index families, and nothing else. Each case carries the
  * metadata it persists:
  *
  *  - [[IndexLayout.Flat]]: float vectors in `cells/cell_id=N/`;
  *  - [[IndexLayout.Quantized]]: floats plus int8 `q_vec`/`q_vec_scale`
  *    (`quantized_meta` records the payload);
  *  - [[IndexLayout.Pq]]: floats plus PQ `codes` — of the raw vector or,
  *    `residual`, of x − c(cell) (`pq_meta` + `pq_codebook`);
  *  - [[IndexLayout.TwoLevel]]: floats assigned through a coarse→fine
  *    codebook pair (`codebook_coarse`, `twolevel_meta`);
  *  - [[IndexLayout.PqCodes]]: PQ codes only, no cells and no floats
  *    (`codes/` + `pq_codebook`).
  *
  * A layout supplies how assigned rows are encoded into stored rows,
  * how a probed cell scores its candidates (floats, int8 or decoded
  * codes — lossy layouts re-rank a shortlist on floats), how queries
  * probe (single-level, coarse→fine, or all codes), whether it can
  * retrain, and its wire name and meta directory. Build, append,
  * retrain and search are one generic path in [[Similarity]]
  * ([[Similarity.build]], [[Similarity.append]],
  * [[Similarity.retrain]], [[Similarity.search]]). */
sealed trait IndexLayout {
  /** The wire name — the HTTP index listing's `layout` string. */
  def name: String
  /** Payload columns the stored rows carry beside id and vector, as
    * recorded in the meta directory (build takes them as a parameter;
    * this is what [[IndexLayout.detect]] reads back). */
  def payload: Seq[String] = Nil
  /** The one-row meta parquet written at build, if any. */
  def metaDir: Option[String] = None
  /** Codebook directories a build is GIVEN, in argument order. PQ
    * layouts additionally train `pq_codebook` unless it is passed as
    * one trailing codebook. */
  def codebookDirs: Seq[String] = Seq("codebook")
  /** PQ geometry (m subspaces, kCents centroids each), if encoded. */
  def pq: Option[(Int, Int)] = None
  /** Columns derived from the vector when rows are encoded — storage,
    * never payload, so a retrain re-derives them. */
  def storageCols: Seq[String] = Nil
  /** Candidate scores are approximate: re-rank a shortlist on floats. */
  def lossy: Boolean = false
  /** Rows live cell-partitioned under `cells/` (else under `codes/`). */
  def hasCells: Boolean = true
  /** A codes-only artifact stores no float vectors to re-encode from. */
  def retrainable: Boolean = true

  def withPayload(p: Seq[String]): IndexLayout

  /** The meta row written under [[metaDir]] at build. */
  private[pipeline] def metaRow(spark: SparkSession): Option[DataFrame] = None

  /** Probe-tagged queries: (qId, qVec, cell_id, __qn) — one row per
    * (query, probed cell). */
  private[pipeline] def probe(spark: SparkSession, root: String,
                              queries: DataFrame, qId: String, qVec: String,
                              nProbe: Int): DataFrame =
    Similarity.rankProbesJoined(queries, qId, qVec,
      Similarity.readArtifact(spark, root, "codebook"), nProbe)

  /** Stored rows of `src` (cId, cVec, payload…) under the given
    * codebooks ([[codebookDirs]] order). `pqCodebook(frame, vecCol)`
    * yields the PQ codebook for the (id, vector) frame PQ layouts
    * encode — trained at build, the persisted one on append. */
  private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                               payload: Seq[String], codebooks: Seq[DataFrame],
                               pqCodebook: (DataFrame, String) => DataFrame)
      : DataFrame

  /** Scoring vectors of the probed `cells` (cell_id already long):
    * (cId, cell_id, __cv) — floats, int8 patterns or decoded codes. */
  private[pipeline] def candidates(spark: SparkSession, root: String,
                                   cells: DataFrame, cId: String,
                                   cVec: String): DataFrame =
    cells.select(col(cId), col("cell_id"), col(cVec).as("__cv"))
}

object IndexLayout {
  import Similarity.{assignCellsByJoin, withPayloadCols}

  /** Single-level IVF over float vectors. */
  case object Flat extends IndexLayout {
    val name = "flat"
    def withPayload(p: Seq[String]): IndexLayout = this
    private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                                 payload: Seq[String], codebooks: Seq[DataFrame],
                                 pqCodebook: (DataFrame, String) => DataFrame) =
      // payload rides inside the assignment argmax (no re-join)
      assignCellsByJoin(src, cId, cVec, codebooks.head, payload)
  }

  /** Floats plus their int8 quantization: candidates score the narrow
    * `q_vec` column, the shortlist re-ranks on floats. */
  final case class Quantized(override val payload: Seq[String] = Nil)
      extends IndexLayout {
    val name = "quantized"
    override def metaDir = Some("quantized_meta")
    override def storageCols = Seq("q_vec", "q_vec_scale")
    override def lossy = true
    def withPayload(p: Seq[String]): IndexLayout = copy(payload = p)
    override private[pipeline] def metaRow(spark: SparkSession) = {
      import spark.implicits._
      Some(Seq(Tuple1(payload)).toDF("payload"))
    }
    private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                                 payload: Seq[String], codebooks: Seq[DataFrame],
                                 pqCodebook: (DataFrame, String) => DataFrame) =
      withPayloadCols(
        Similarity.withQuantizedInt8(
          assignCellsByJoin(src.select(col(cId), col(cVec)), cId, cVec,
            codebooks.head), cVec), src, cId, payload)
    override private[pipeline] def candidates(spark: SparkSession, root: String,
                                              cells: DataFrame, cId: String,
                                              cVec: String) =
      cells.select(col(cId), col("cell_id"),
        transform(col("q_vec"), x => x.cast("double")).as("__cv"))
  }

  /** IVF × PQ: cells rows carry m PQ codes beside the floats, of the
    * raw vector or (IVFADC) of the residual against the row's coarse
    * centroid. Candidates score decoded codes. */
  final case class Pq(m: Int, kCents: Int, residual: Boolean = false,
                      override val payload: Seq[String] = Nil)
      extends IndexLayout {
    val name = "pq"
    override def metaDir = Some("pq_meta")
    override def pq = Some((m, kCents))
    override def storageCols = Seq("codes")
    override def lossy = true
    def withPayload(p: Seq[String]): IndexLayout = copy(payload = p)
    override private[pipeline] def metaRow(spark: SparkSession) = {
      import spark.implicits._
      Some(Seq((residual, payload)).toDF("residual", "payload"))
    }
    private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                                 payload: Seq[String], codebooks: Seq[DataFrame],
                                 pqCodebook: (DataFrame, String) => DataFrame) = {
      val cb = codebooks.head
      // staged once: training, encoding and the rows all reuse it
      val assigned = graft.engine.Staging.stage(
        assignCellsByJoin(src.select(col(cId), col(cVec)), cId, cVec, cb))
      val (enc, encVec) =
        if (residual)
          (graft.engine.Staging.stage(Similarity.withResiduals(assigned, cVec, cb)
            .select(col(cId), col("__res"))), "__res")
        else (src.select(col(cId), col(cVec)), cVec)
      val codes = Similarity.pqEncodeWith(enc, cId, encVec, m,
        pqCodebook(enc, encVec))
      withPayloadCols(assigned.join(codes, Seq(cId)), src, cId, payload)
    }
    // cell_id rides the decode aggregate: no re-join to the cells scan
    override private[pipeline] def candidates(spark: SparkSession, root: String,
                                              cells: DataFrame, cId: String,
                                              cVec: String) = {
      val recon = Similarity.pqDecode(
        cells.select(col(cId), col("cell_id"), col("codes")), cId,
        Similarity.readArtifact(spark, root, "pq_codebook"),
        carry = Seq("cell_id"))
      val vec =
        if (!residual) recon
        else recon  // x̂ = c(cell) + r̂
          .join(broadcast(Similarity.readArtifact(spark, root, "codebook")
            .select(col("cell_id"), col("centroid").as("__cc"))), Seq("cell_id"))
          .withColumn("__rv", zip_with(col("__rv"), col("__cc"), (r, c) => r + c))
          .drop("__cc")
      vec.withColumnRenamed("__rv", "__cv")
    }
  }

  /** Two-level IVF: rows are assigned (and queries probe) through a
    * coarse codebook first, then only the fine cells under each
    * vector's `coarseProbe` best coarse cells. */
  final case class TwoLevel(coarseProbe: Int,
                            override val payload: Seq[String] = Nil)
      extends IndexLayout {
    val name = "two_level"
    override def metaDir = Some("twolevel_meta")
    override def codebookDirs = Seq("codebook", "codebook_coarse")
    def withPayload(p: Seq[String]): IndexLayout = copy(payload = p)
    override private[pipeline] def metaRow(spark: SparkSession) = {
      import spark.implicits._
      Some(Seq((coarseProbe, payload)).toDF("coarse_probe", "payload"))
    }
    override private[pipeline] def probe(spark: SparkSession, root: String,
                                         queries: DataFrame, qId: String,
                                         qVec: String, nProbe: Int) =
      Similarity.probeCellsTwoLevel(queries.select(col(qId), col(qVec)),
          qId, qVec, Similarity.readArtifact(spark, root, "codebook"),
          Similarity.readArtifact(spark, root, "codebook_coarse"),
          coarseProbe, nProbe)
        .withColumn("__qn", Similarity.norm(col(qVec)))
    private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                                 payload: Seq[String], codebooks: Seq[DataFrame],
                                 pqCodebook: (DataFrame, String) => DataFrame) =
      withPayloadCols(
        Similarity.probeCellsTwoLevel(src.select(col(cId), col(cVec)),
          cId, cVec, codebooks(0), codebooks(1), coarseProbe, nProbe = 1),
        src, cId, payload)
  }

  /** Codes-only PQ: `codes/` (id, m codes) and `pq_codebook`, no
    * coarse quantizer and no floats — every search decodes all codes
    * and re-ranks its shortlist against a caller-supplied float frame;
    * it cannot retrain (keep the source corpus and rebuild). */
  final case class PqCodes(m: Int, kCents: Int) extends IndexLayout {
    val name = "pq_codes"
    override def codebookDirs = Nil
    override def pq = Some((m, kCents))
    override def storageCols = Seq("codes")
    override def lossy = true
    override def hasCells = false
    override def retrainable = false
    def withPayload(p: Seq[String]): IndexLayout = {
      require(p.isEmpty, "a codes-only PQ artifact stores no payload columns " +
        s"(got ${p.mkString("[", ",", "]")}) — filtered search needs a cells layout")
      this
    }
    override private[pipeline] def probe(spark: SparkSession, root: String,
                                         queries: DataFrame, qId: String,
                                         qVec: String, nProbe: Int) =
      queries.select(col(qId), col(qVec))
        .withColumn("__qn", Similarity.norm(col(qVec)))
    private[pipeline] def encode(src: DataFrame, cId: String, cVec: String,
                                 payload: Seq[String], codebooks: Seq[DataFrame],
                                 pqCodebook: (DataFrame, String) => DataFrame) =
      Similarity.pqEncodeWith(src, cId, cVec, m, pqCodebook(src, cVec))
    override private[pipeline] def candidates(spark: SparkSession, root: String,
                                              codes: DataFrame, cId: String,
                                              cVec: String) =
      Similarity.pqDecode(codes, cId,
        Similarity.readArtifact(spark, root, "pq_codebook"))
        .withColumnRenamed("__rv", "__cv")
  }

  /** The layout of the artifact at a RESOLVED root, read once per
    * committed generation ([[GenCache]]; flat roots read through).
    * Directory existence decides the case; the case's metadata comes
    * from its meta row and, for PQ, from the `pq_codebook` footers. */
  def detect(spark: SparkSession, root: String): IndexLayout =
    GenCache.memo(spark, root, "layout") {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def has(d: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))
      def meta(d: String) =
        if (has(d)) Some(spark.read.parquet(s"$root/$d").head()) else None
      def payloadOf(r: org.apache.spark.sql.Row) =
        if (r.schema.fieldNames.contains("payload"))
          r.getSeq[String](r.fieldIndex("payload"))
        else Nil
      lazy val (m, kCents) = Similarity.pqGeometry(spark, root)
      if (has("codebook_coarse")) {
        val r = meta("twolevel_meta").getOrElse(throw new IllegalArgumentException(
          s"two-level index at $root has no twolevel_meta — it cannot say " +
            "its coarseProbe; rebuild it"))
        TwoLevel(r.getInt(r.fieldIndex("coarse_probe")), payloadOf(r))
      }
      else if (!has("cells") && has("codes")) PqCodes(m, kCents)
      else if (has("pq_codebook"))
        meta("pq_meta") match {
          case Some(r) => Pq(m, kCents, r.getBoolean(r.fieldIndex("residual")),
            payloadOf(r))
          case None => Pq(m, kCents)
        }
      else meta("quantized_meta") match {
        case Some(r) => Quantized(payloadOf(r))
        case None => Flat
      }
    }
}
