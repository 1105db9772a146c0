package graft.engine

import graft.model.{CustomEvent, JsonDsl, Registry, ResponseFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON request entry points — the analog of the reference's HTTP
  * handlers (platform/src/http/event_segmentation.rs:31-40,
  * platform/src/http/funnel.rs): a JSON body arrives, is deserialized
  * and validated against the DTO shapes (graft.model.JsonDsl), and is
  * compiled to a Spark plan. The HTTP transport itself is out of scope
  * (SURVEY.md §2.1) — callers hand the JSON string in directly.
  */
object JsonApi {

  /** JSON event-segmentation request → long-form result frame.
    * A strict `registry` resolves display property names to physical
    * columns and validates event names (Metadata.fromEvents builds
    * one from the table itself). */
  def eventSegmentation(events: DataFrame, json: String,
                        customEvents: Map[Long, CustomEvent] = Map.empty,
                        registry: Registry = Registry.open): DataFrame =
    EventSegmentation.run(events, JsonDsl.eventSegmentation(json, customEvents, registry))

  /** JSON funnel request → long-form per-step result frame. */
  def funnel(spark: SparkSession, events: DataFrame, json: String,
             registry: Registry = Registry.open): DataFrame =
    Funnel.fromModel(spark, events, JsonDsl.funnel(json, registry))

  /** Run a request's result frame and serialize it in the
    * reference's columnar response shape
    * (Response.ColumnarTable.toJson). The end-to-end request is
    * recorded under the reference's metric `tag` (Metrics — parse,
    * plan, execute and serialize, like the reference's handler-scope
    * histogram): `frame` is by-name, so building it from the JSON body
    * is inside the timed scope. The DataFrame-returning builders here
    * are lazy, so their timing belongs to whichever action the caller
    * runs. */
  def columnarJson(tag: String)(frame: => DataFrame): String =
    Metrics.timed(tag) {
      val table = Response.collect(frame)
      Metrics.recordRows(tag, table.rowCount)
      table.toJson
    }

  /** Format-routed event segmentation (reference QueryParams.format →
    * query Context.format; Format::Compact skips the reshaping tail,
    * event_segmentation.rs:349-350): `"format": "json"` (or absent) →
    * the Regular pivoted presentation frame, `"jsonCompact"` → the
    * long-form frame. */
  def eventSegmentationFormatted(events: DataFrame, json: String,
                                 customEvents: Map[Long, CustomEvent] = Map.empty,
                                 registry: Registry = Registry.open,
                                 topGroups: Int = 50): DataFrame =
    JsonDsl.format(json) match {
      case ResponseFormat.Compact => eventSegmentation(events, json, customEvents, registry)
      case ResponseFormat.Regular =>
        EventSegmentation.runPivoted(events,
          JsonDsl.eventSegmentation(json, customEvents, registry), topGroups)
    }

  /** JSON event segmentation over a DICTIONARY-ENCODED store
    * (Dictionary.encodeStore): Eq/Neq literals on dictionary-flagged
    * properties translate to dict keys at plan build — pushed-down
    * int comparisons, the reference's encode path
    * (query/src/expr.rs:168-204) — and pattern/order ops rewrite to a
    * decoded companion column, its DictionaryDecode path
    * (expr.rs:547-587). Callers decode breakdown key columns on the
    * way out (Dictionary.decode). */
  def eventSegmentationEncoded(events: DataFrame, json: String,
                               registry: Registry,
                               dicts: Map[String, DataFrame],
                               customEvents: Map[Long, CustomEvent] = Map.empty): DataFrame = {
    val req = JsonDsl.eventSegmentation(json, customEvents, registry)
    val (ev, encoded) = Dictionary.encodeStore(events, req, registry, dicts)
    EventSegmentation.run(ev, encoded)
  }

  /** JSON event-record search (reference
    * platform/src/http/event_records.rs search route). */
  def eventRecordsSearch(events: DataFrame, json: String,
                         registry: Registry = Registry.open): DataFrame =
    Records.search(events, JsonDsl.eventRecordsSearch(json, registry))

  /** JSON property-values listing (reference
    * platform/src/http/properties.rs values route). */
  def propertyValues(events: DataFrame, json: String,
                     registry: Registry = Registry.open): DataFrame =
    Records.propertyValues(events, JsonDsl.propertyValues(json, registry))

  /** JSON group-record search (reference
    * platform/src/http/group_records.rs search route). */
  def groupRecordsSearch(events: DataFrame, json: String,
                         registry: Registry = Registry.open): DataFrame =
    Records.searchGroups(events, JsonDsl.groupRecordsSearch(json, registry))

  /** The canonical token-INSTANCE derivation shared by maxsim index
    * builds and the indexed request route: the
    * [[graft.pipeline.Similarity.docTokenVectors]] pairs plus the
    * deterministic instance id
    * `doc·1e6 + rank-of-token-within-doc` — the composite that keeps
    * every id < 1e12 for corpora with < 1e6 distinct tokens per doc
    * and ids < ~9e5 million. An index named by a maxsim request MUST
    * have been built over exactly this frame
    * (`Similarity.build(tokenInstances(...), "tok_id", "d_vec", …,
    * IndexLayout.Flat, …, payload = Seq(idCol))`) — one definition here, so
    * build and serving can never drift. */
  def maxsimTokenInstances(docs: DataFrame, idCol: String, textCol: String,
                           dims: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__tok"))
    graft.pipeline.Similarity.docTokenVectors(docs, idCol, textCol, dims,
        "d_vec")
      .withColumn("tok_id",
        col(idCol) * 1000000L + row_number().over(w))
      .select(col("tok_id"), col(idCol), col("d_vec"))
  }

  /** JSON retrieval request → ranked result frame (beyond-reference
    * surface — the reference ships no text retrieval, but this repo's
    * rule is that every analysis is reachable from the request
    * layer). A lexical-only request runs BM25 over `docs`
    * (doc_id, bm25_micro, terms_hit, rank); a request carrying a
    * `semantic` block also ranks the embedding cosine top-k and fuses
    * the two lists by integer RRF (id, rrf_micro, lists_hit, rank).
    * Both routes ARE the library operators
    * (TextAnalysis.bm25TopK / Similarity.bruteForceTopK /
    * Retrieval.rrfFuse), so results are bit-identical to the
    * DataFrame path.
    *
    * `resolveIndex` is the PERSISTED-INDEX hook: a request naming an
    * `index` (or `semantic.index`) resolves it to an artifact path —
    * the HTTP layer passes its admin registry (ids only, so a request
    * can never aim a search at an arbitrary filesystem path), library
    * callers default to treating the name as a path. With an index,
    * every text mode dispatches to its INDEXED operator — bm25 /
    * sparse / passage / maxsim served from postings or probed cells,
    * the raw corpus never rescanned; the persisted analyzer travels
    * with the artifact (request analyzer blocks are rejected at
    * parse). The semantic half dispatches to the probed-cell ANN
    * tail when its block names an index. */
  def search(docs: DataFrame, json: String,
             idCol: String = "doc_id", textCol: String = "text",
             embeddings: Option[DataFrame] = None,
             embId: String = "vec_id", embVec: String = "embedding",
             resolveIndex: Option[String => String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val req = JsonDsl.search(json)
    val spark = docs.sparkSession
    def resolved(name: String): String =
      resolveIndex.map(_(name)).getOrElse(name)
    val idx = req.index.map(resolved)
    if (req.phrase.nonEmpty)
      // quoted phrase: consecutive terms through the positional
      // postings (index required at parse) — (doc_id, n_hits)
      graft.pipeline.TextAnalysis.phraseLookup(spark, idx.get, req.phrase)
        .withColumnRenamed("doc_id", idCol)
    else if (req.near.nonEmpty) {
      // proximity: both terms within `window` positions — the same
      // positional postings, (doc_id, min_dist)
      val n = req.near.get
      graft.pipeline.TextAnalysis.proximityLookup(spark, idx.get,
          n.a, n.b, n.window)
        .withColumnRenamed("doc_id", idCol)
    }
    else if (req.maxsim.nonEmpty) {
      // late-interaction mode: the request's terms become per-token
      // query vectors and docs score by Σ max cos — the SAME operator
      // (and md5 token-vector space) as the maxsim_search TVF
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val ms = req.maxsim.get
      val qt = req.terms.zipWithIndex.map { case (t, i) => (0L, i.toLong, t) }
        .toDF("__q_id", "__q_pos", "__tok")
        .withColumn("__q_vec",
          graft.pipeline.Similarity.tokenVector(col("__tok"), ms.dims))
      // the block's own index serves the maxsim list; a lone maxsim
      // request may still name it at request level (the pre-fuse
      // shape) — when FUSING, the request-level index is the LEXICAL
      // side's text index and never aims the token-instance search
      val msIdx = ms.index.map(resolved)
        .orElse(if (ms.fuse) None else idx)
      def maxsimRanked(k: Int): DataFrame = msIdx match {
        case Some(path) =>
          // the request's dims must DESCRIBE the artifact (the
          // passage_meta contract on this mode): query token vectors
          // built at a different width would score TRUNCATED dot
          // products against the stored instances (VectorDotProduct
          // truncates to min length) — silently wrong rankings,
          // never an error — so mismatches throw loudly here
          val aDims = graft.pipeline.Similarity.indexVectorDims(spark, path)
          if (ms.dims != aDims)
            throw new IllegalArgumentException(
              s"maxsim index was built with dims=$aDims token vectors, " +
                s"the request says ${ms.dims}")
          // indexed late interaction, SELF-CONTAINED: candidates
          // through the probed token-instance cells, exact maxsim
          // over candidate docs whose tokens are read from the SAME
          // artifact — the serving path never touches the raw corpus
          // (the per-request instance re-derivation was a
          // corpus-sized explode+window at scale)
          graft.pipeline.Similarity.maxSimTopKIndexedSelf(spark, qt,
            "__q_id", "__q_pos", "__q_vec", path, "tok_id", "d_vec",
            idCol, k, ms.nProbe, ms.candTok)
        case None =>
          val dt = graft.pipeline.Similarity.docTokenVectors(docs, idCol,
            textCol, ms.dims, "__d_vec")
          graft.pipeline.Similarity.maxSimTopK(qt, dt,
            "__q_id", "__q_pos", "__q_vec", idCol, "__d_vec", k)
      }
      if (!ms.fuse)
        maxsimRanked(req.topK)
          .select(col(idCol), col("maxsim_micro"), col("qtokens_hit"),
            col("rank"))
      else {
        // BM25 ⊕ maxsim — the standard two-stage quality recipe over
        // JSON: the SAME terms rank a lexical list (request index →
        // postings, else the scan) and the late-interaction list,
        // fused by integer RRF like the semantic hybrid. The two legs
        // are independent and the maxsim leg sequences several staged
        // driver jobs, so they CONSTRUCT concurrently (guide §2.6 —
        // values unchanged, Staging.concurrently contract).
        val Seq(lex, li) = graft.engine.Staging
          .concurrently[DataFrame](Seq(
            () => (idx match {
              case Some(path) =>
                graft.pipeline.TextAnalysis.bm25IndexedTopK(
                    spark, path, req.terms, req.topK, req.k1, req.b)
                  .withColumnRenamed("doc_id", idCol)
              case None =>
                val an = req.analyzer
                  .map(a => graft.pipeline.TextAnalysis.Analyzer(a.lowercase,
                    a.stopwords, a.stemmer))
                  .getOrElse(graft.pipeline.TextAnalysis.Analyzer.identity)
                graft.pipeline.TextAnalysis.bm25TopK(
                  docs, idCol, textCol, req.terms, req.topK, req.k1, req.b, an)
            }).select(col(idCol).as("id"), col("rank")),
            () => maxsimRanked(req.topK)
              .select(col(idCol).as("id"), col("rank"))))
        graft.pipeline.Retrieval.rrfFuse(Seq(lex, li), "id", "rank",
          req.fuseTopK)
      }
    } else if (req.weights.nonEmpty)
      idx match {
        // sparse mode: integer-weighted term sums, no BM25 stats at
        // all — postings-pruned when an index is named
        case Some(path) =>
          graft.pipeline.TextAnalysis.weightedTermTopK(
              spark, path, req.weights, req.topK)
            .withColumnRenamed("doc_id", idCol)
        case None =>
          graft.pipeline.TextAnalysis.weightedTermTopKScan(
            docs, idCol, textCol, req.weights, req.topK)
      }
    else req.passage match {
      // passage mode: chunk-corpus BM25 pooled max-per-document; a
      // named index must be a buildPassageIndex artifact with the
      // SAME chunking knobs (they are build-time properties — the
      // request's window/stride describe the artifact, not a rechunk)
      case Some(p) =>
        idx match {
          case Some(path) =>
            // supplied chunking knobs must DESCRIBE the artifact —
            // chunking happened at build, so a mismatched window/
            // stride in the request is a wrong belief about what is
            // being searched, not a parameter (absent knobs just
            // serve; pre-meta artifacts skip the check)
            val root = graft.pipeline.IndexGen.resolveRoot(spark, path)
            graft.pipeline.TextAnalysis.readPassageMeta(spark, root)
              .foreach { case (w, s) =>
                p.window.filter(_ != w).foreach(v =>
                  throw new IllegalArgumentException(
                    s"passage index was built with window=$w tokens, " +
                      s"the request says $v"))
                p.stride.filter(_ != s).foreach(v =>
                  throw new IllegalArgumentException(
                    s"passage index was built with stride=$s tokens, " +
                      s"the request says $v"))
              }
            graft.pipeline.TextAnalysis.passageTopKIndexed(
              spark, path, idCol, req.terms, p.passageK, req.topK,
              req.k1, req.b)
          case None =>
            graft.pipeline.TextAnalysis.passageTopK(
              docs, idCol, textCol, req.terms,
              p.window.getOrElse(32), p.stride.getOrElse(16),
              p.passageK, req.topK, req.k1, req.b)
        }
      case None if req.terms.isEmpty && req.semantic.nonEmpty =>
        // PURE ANN mode — a semantic block with no lexical half: the
        // ranked neighbor list itself is the result (id, rank,
        // cos_sim_r), served brute or through the named IVF artifact
        // in the ARTIFACT'S OWN layout (semanticIndexed)
        import org.apache.spark.sql.functions.round
        val s = req.semantic.get
        val emb = embeddings.getOrElse(throw new IllegalArgumentException(
          "a semantic search block needs an embeddings frame"))
        val q = emb.filter(col(embId) === s.queryId)
          .select(col(embId).as("__q_id"), col(embVec).as("__q_vec"))
        (s.index.map(resolved) match {
          case Some(path) =>
            semanticIndexed(spark, q, path, emb, embId, embVec, s)
          case None =>
            graft.pipeline.Similarity.bruteForceTopK(
              q, emb, "__q_id", "__q_vec", embId, embVec, s.k)
        }).select(col(embId).as("id"), col("rank"),
          round(col("cos_sim"), 4).as("cos_sim_r"))
      case None =>
        // an analyzer block normalizes corpus tokens AND query terms
        // identically (the persisted-analyzer contract, request-
        // scoped); an INDEXED request instead reads the analyzer
        // persisted with the artifact (resolvedIndex inside
        // bm25IndexedTopK — the build-time contract)
        def lex() = idx match {
          case Some(path) =>
            graft.pipeline.TextAnalysis.bm25IndexedTopK(
                spark, path, req.terms, req.topK, req.k1, req.b)
              .withColumnRenamed("doc_id", idCol)
          case None =>
            val an = req.analyzer
              .map(a => graft.pipeline.TextAnalysis.Analyzer(a.lowercase,
                a.stopwords, a.stemmer))
              .getOrElse(graft.pipeline.TextAnalysis.Analyzer.identity)
            graft.pipeline.TextAnalysis.bm25TopK(
              docs, idCol, textCol, req.terms, req.topK, req.k1, req.b, an)
        }
        req.semantic match {
          case None => lex()
          case Some(s) =>
            val emb = embeddings.getOrElse(throw new IllegalArgumentException(
              "a semantic search block needs an embeddings frame"))
            val q = emb.filter(col(embId) === s.queryId)
              .select(col(embId).as("__q_id"), col(embVec).as("__q_vec"))
            // the two legs construct concurrently (guide §2.6 — the
            // indexed ANN half sequences staged driver jobs); values
            // unchanged per the Staging.concurrently contract
            val Seq(lexList, sem) = graft.engine.Staging
              .concurrently[DataFrame](Seq(
                () => lex().select(col(idCol).as("id"), col("rank")),
                () => (s.index.map(resolved) match {
                  case Some(path) =>
                    // ANN half: probed-cell search through the
                    // persisted IVF artifact in its OWN layout
                    // (semanticIndexed) — the serving form; recall
                    // follows nProbe (measured the q_ann_recall way)
                    semanticIndexed(spark, q, path, emb, embId, embVec, s)
                  case None =>
                    graft.pipeline.Similarity.bruteForceTopK(
                      q, emb, "__q_id", "__q_vec", embId, embVec, s.k)
                }).select(col(embId).as("id"), col("rank"))))
            graft.pipeline.Retrieval.rrfFuse(
              Seq(lexList, sem), "id", "rank", req.fuseTopK)
        }
    }
  }

  /** FACET counts beside a lexical search — the sidebar aggregate of
    * a search page, over the request layer: the request's terms
    * intersect through the named index's postings
    * ([[graft.pipeline.TextAnalysis.termLookupAll]] — counts cover
    * the FULL matched set, because a sidebar describes everything
    * that matched, not the current page) and the facet columns count
    * in ONE melted aggregate
    * ([[graft.pipeline.Retrieval.facetCounts]] — adding facets adds
    * no shuffles). Returns (facet, value, n_docs). The request must
    * name an index and list `facets`; `docs` supplies the facet
    * metadata columns. */
  def searchFacets(docs: DataFrame, json: String,
                   idCol: String = "doc_id",
                   resolveIndex: Option[String => String] = None): DataFrame = {
    val req = JsonDsl.search(json)
    require(req.facets.nonEmpty, "request carries no facets block")
    val path = resolveIndex.map(_(req.index.get)).getOrElse(req.index.get)
    val matched = graft.pipeline.TextAnalysis.termLookupAll(
        docs.sparkSession, path, req.terms)
      .withColumnRenamed("doc_id", idCol)
    graft.pipeline.Retrieval.facetCounts(matched, docs, idCol, req.facets)
  }

  /** Best-window SNIPPETS for a lexical search's result PAGE, over
    * the request layer: the request's ranked topK (the page the user
    * sees, from the same index's postings) picks the documents, and
    * per hit the `width`-token window covering the most distinct
    * query terms (ties: most occurrences, earliest start) computes
    * entirely FROM the positional postings
    * ([[graft.pipeline.TextAnalysis.snippetWindow]] restricted to the
    * hits — the raw corpus is never read). Page-restriction is the
    * serving contract: snippets decorate results, so their cost must
    * be bounded by the PAGE, not by corpus occurrences (the
    * unrestricted form is the extraction-pipeline operator,
    * q_snippet). Returns (doc_id, snippet_start, terms_in_window,
    * occs_in_window) for the topK hits. */
  def searchSnippets(spark: SparkSession, json: String,
                     resolveIndex: Option[String => String] = None): DataFrame = {
    val req = JsonDsl.search(json)
    require(req.snippet.nonEmpty, "request carries no snippet block")
    val path = resolveIndex.map(_(req.index.get)).getOrElse(req.index.get)
    import org.apache.spark.sql.functions.col
    val hits = graft.pipeline.TextAnalysis.bm25IndexedTopK(
      spark, path, req.terms, req.topK, req.k1, req.b).select(col("doc_id"))
    graft.pipeline.TextAnalysis.snippetWindow(spark, path, req.terms,
      req.snippet.get, restrictTo = Some(hits))
  }

  /** ANN serving for a semantic block naming an index: the ARTIFACT'S
    * detected [[graft.pipeline.IndexLayout]] picks the serving form
    * inside [[graft.pipeline.Similarity.search]], so every artifact
    * answers in its STORED form (codes or int8 candidates for the
    * lossy layouts, the coarse hierarchy for two-level; the
    * embeddings frame re-ranks a codes-only artifact's shortlist).
    * `where` (payload-column predicates) compiles once and applies
    * INSIDE the probed-cell scan — parquet PushedFilters before any
    * vector/code bytes decode, ranks contiguous over the matching
    * set. */
  private def semanticIndexed(spark: SparkSession, q: DataFrame,
                              path: String, emb: DataFrame,
                              embId: String, embVec: String,
                              s: graft.model.SemanticSearch): DataFrame =
    graft.pipeline.Similarity.search(spark, q, "__q_id", "__q_vec", path,
      embId, embVec, k = s.k, nProbe = s.nProbe, shortlist = s.shortlist,
      where =
        if (s.where.isEmpty) None
        else Some(Exprs.and(s.where.map(Exprs.propPredicate))),
      floats = Some(emb))

  /** Run a SAVED report (reference platform/src/reports.rs +
    * query dispatch on `Type`): the stored JSON body replays through
    * the matching entry point. Event-segmentation reports honor their
    * stored format field (Regular/Compact). */
  def runReport(spark: SparkSession, events: DataFrame, report: graft.model.Report,
                customEvents: Map[Long, CustomEvent] = Map.empty,
                registry: Registry = Registry.open): DataFrame =
    report.typ match {
      case graft.model.ReportType.EventSegmentation =>
        eventSegmentationFormatted(events, report.queryJson, customEvents, registry)
      case graft.model.ReportType.Funnel =>
        funnel(spark, events, report.queryJson, registry)
      case other => throw new IllegalArgumentException(s"unknown report type: $other")
    }

  /** Run every panel of a dashboard (reference dashboards are
    * panel grids over saved reports). Returns (panel, frame) pairs in
    * panel order. */
  def runDashboard(spark: SparkSession, events: DataFrame,
                   dashboard: graft.model.Dashboard, reports: graft.model.Reports,
                   customEvents: Map[Long, CustomEvent] = Map.empty,
                   registry: Registry = Registry.open): Seq[(graft.model.Panel, DataFrame)] =
    dashboard.panels.map { p =>
      val r = reports.get(dashboard.projectId, p.reportId)
        .getOrElse(throw new IllegalArgumentException(s"report ${p.reportId} not found"))
      p -> runReport(spark, events, r, customEvents, registry)
    }

  /** JSON funnel request → the reference's NESTED response JSON
    * (parse → run → Response.funnelResponse.toJson — the composition
    * the reference's handler performs, query/src/funnel.rs:98-248 +
    * platform/src/http/funnel.rs:32). Steps are labeled by their
    * first event alternative, like the reference's step names. */
  def funnelJson(spark: SparkSession, events: DataFrame, json: String,
                 registry: Registry = Registry.open): String =
    Metrics.timed("funnel") {
      val model = JsonDsl.funnel(json, registry)
      val result = Funnel.fromModel(spark, events, model)
      val stepNames = model.steps.zipWithIndex.map { case (s, i) =>
        s.events.headOption.flatMap(_.eventName).getOrElse(s"step ${i + 1}")
      }
      val resp = Response.funnelResponse(result, stepNames, model.breakdowns)
      Metrics.recordRows("funnel", resp.steps.map(_.data.size.toLong).sum)
      resp.toJson
    }
}
