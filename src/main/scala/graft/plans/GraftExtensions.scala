package graft.plans

import graft.functions.{HyperplaneLshSignature, VectorDotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** One-line engine installation via Spark's extension point, which
  * every [[graft.Sessions.build]] session carries; any other
  * application adds
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * It installs (a) the [[NsTimeFilterPushdown]] optimizer rule, so
  * time-range filters over ns-long-backed timestamp columns prune
  * parquet row groups in EVERY query of the session (on a session
  * without the extension, `Tables.events` adds the rule once through
  * [[graft.Sessions.install]]), and (b) the native similarity
  * expressions as SQL functions, so `spark.sql` text can call the
  * fused codegen kernels:
  *
  * {{{
  *   SELECT vec_dot(a.embedding, b.embedding)            -- fused dot product
  *   SELECT lsh_signature(embedding, 16)                 -- hyperplane bucket
  * }}}
  *
  * The reference has no SQL surface at all (queries are JSON DSL
  * bodies); this is the Spark-native bonus the DataFrame API gets for
  * free once the operators are real Catalyst citizens (SURVEY.md
  * §7.4's "optional SparkStrategy/TVF" row).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NsTimeFilterPushdown)

    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(arrayA, arrayB) takes two arguments")
        VectorDotProduct(args.head, args(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("lsh_signature"),
      new ExpressionInfo(classOf[HyperplaneLshSignature].getName, "lsh_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lsh_signature(vector, planes) takes two arguments")
        val planes = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"lsh_signature planes must be an integer literal, got $other")
        }
        HyperplaneLshSignature(args.head, planes)
      }))

    // Whole-operator SQL surface: the engine's two flagship analyses
    // as TABLE functions, so the JSON DSL (the reference's native
    // request format, platform/src/http/*) is drivable from pure SQL:
    //
    // {{{
    //   SELECT * FROM funnel('events_view', '<json funnel request>')
    //   SELECT * FROM event_segmentation('events_view', '<json es request>')
    // }}}
    //
    // The builder runs at analysis time: it resolves the named table
    // from the session catalog, compiles the JSON request through the
    // SAME JsonApi entry points the DataFrame path uses, and splices
    // the resulting logical plan into the outer query — so the SQL
    // route is the DataFrame route, byte for byte (SqlSurfaceSpec
    // pins it), and inherits every optimization (partition pruning,
    // the planner-enforced funnel distribution) unchanged. Both
    // arguments must be string literals: the request is a plan-time
    // artifact, not row data.
    ext.injectTableFunction((
      FunctionIdentifier("funnel"),
      new ExpressionInfo("graft.engine.JsonApi", "funnel"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "funnel(eventsTable, jsonRequest) takes two arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.engine.JsonApi.funnel(spark,
            spark.table(stringLit(args.head, "funnel eventsTable")),
            stringLit(args(1), "funnel jsonRequest"))
          .queryExecution.logical
      }))

    ext.injectTableFunction((
      FunctionIdentifier("event_segmentation"),
      new ExpressionInfo("graft.engine.JsonApi", "event_segmentation"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "event_segmentation(eventsTable, jsonRequest) takes two arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.engine.JsonApi.eventSegmentation(
            spark.table(stringLit(args.head, "event_segmentation eventsTable")),
            stringLit(args(1), "event_segmentation jsonRequest"))
          .queryExecution.logical
      }))

    // Point-in-time join as a table function — the SQL spelling of
    // [[graft.engine.Temporal.asofJoin]] (DuckDB/pandas users expect
    // an ASOF verb; Spark SQL has none):
    //
    // {{{
    //   SELECT * FROM asof_join('trades', 'quotes', 'sym', 't', 'qt')
    //   SELECT * FROM asof_join('trades', 'quotes', 'sym', 't', 'qt', 604800000000)
    // }}}
    //
    // Same analysis-time splice as funnel(): the TVF IS the DataFrame
    // operator's logical plan, so the single-exchange window shape
    // and its pruned scans carry over unchanged.
    ext.injectTableFunction((
      FunctionIdentifier("asof_join"),
      new ExpressionInfo("graft.engine.Temporal", "asof_join"),
      (args: Seq[Expression]) => {
        require(args.length == 5 || args.length == 6,
          "asof_join(leftTable, rightTable, keysCsv, leftTs, rightTs[, toleranceUs])")
        val spark = org.apache.spark.sql.SparkSession.active
        val tol = if (args.length == 6) Some(longLit(args(5), "asof_join toleranceUs")) else None
        graft.engine.Temporal.asofJoin(
            spark.table(stringLit(args.head, "asof_join leftTable")),
            spark.table(stringLit(args(1), "asof_join rightTable")),
            stringLit(args(2), "asof_join keysCsv").split(",").map(_.trim).toSeq,
            stringLit(args(3), "asof_join leftTs"),
            stringLit(args(4), "asof_join rightTs"),
            tolerance = tol)
          .queryExecution.logical
      }))

    // Mergeable sketches on SQL — the same analysis-time splice, so
    // the WindowGroupLimit partial top-k (KMV) and the map-side cell
    // reduction (count-min) carry over unchanged:
    //
    // {{{
    //   SELECT * FROM kmv_distinct('events_view', 'event_type', 'user_id', 64)
    //   SELECT * FROM cm_freq('events_view', 'event_type', 'user_id', 4, 1024, '1,2,3')
    // }}}
    //
    // cm_freq probes are a CSV of canonical string forms (the sketch
    // hashes the value's string cast, so string probes are exact for
    // integer and string keys alike).
    ext.injectTableFunction((
      FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo("graft.pipeline.Sketches", "kmv_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "kmv_distinct(table, groupColsCsv, valueCol, k) takes four arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val groups = stringLit(args(1), "kmv_distinct groupColsCsv")
          .split(",").map(_.trim).toSeq
        val k = longLit(args(3), "kmv_distinct k").toInt
        graft.pipeline.Sketches.kmvEstimate(
            graft.pipeline.Sketches.kmvHashes(
              spark.table(stringLit(args.head, "kmv_distinct table")), groups,
              org.apache.spark.sql.functions.col(
                stringLit(args(2), "kmv_distinct valueCol")), k),
            groups, k)
          .queryExecution.logical
      }))

    ext.injectTableFunction((
      FunctionIdentifier("cm_freq"),
      new ExpressionInfo("graft.pipeline.Sketches", "cm_freq"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "cm_freq(table, groupColsCsv, valueCol, depth, width, probesCsv) takes six arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val groups = stringLit(args(1), "cm_freq groupColsCsv")
          .split(",").map(_.trim).toSeq
        val (depth, width) = (longLit(args(3), "cm_freq depth").toInt,
          longLit(args(4), "cm_freq width").toInt)
        val probes = spark.createDataset(
            stringLit(args(5), "cm_freq probesCsv").split(",").map(_.trim).toSeq)(
            org.apache.spark.sql.Encoders.STRING).toDF("p")
        graft.pipeline.Sketches.cmEstimate(
            graft.pipeline.Sketches.countMin(
              spark.table(stringLit(args.head, "cm_freq table")), groups,
              org.apache.spark.sql.functions.col(
                stringLit(args(2), "cm_freq valueCol")), depth, width),
            groups, probes,
            org.apache.spark.sql.functions.col("p"), depth, width)
          .queryExecution.logical
      }))

    // Retrieval on SQL — the same analysis-time splice, so the TVF is
    // the DataFrame operator's logical plan byte for byte (pinned in
    // SqlSurfaceSpec) and keeps its bounded top-k / pruned-postings
    // shapes:
    //
    // {{{
    //   SELECT * FROM bm25_search('docs_view', 'doc_id', 'text', 'column,scan', 15)
    //   SELECT * FROM hybrid_search('docs_view', 'doc_id', 'text', 'column,scan',
    //                               'emb_view', 'vec_id', 'embedding', 0, 10)
    //   SELECT * FROM phrase_search('/path/to/text-index', 'column,scan')
    // }}}
    ext.injectTableFunction((
      FunctionIdentifier("bm25_search"),
      new ExpressionInfo("graft.pipeline.TextAnalysis", "bm25_search"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "bm25_search(table, idCol, textCol, termsCsv, topK) takes five arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.pipeline.TextAnalysis.bm25TopK(
            spark.table(stringLit(args.head, "bm25_search table")),
            stringLit(args(1), "bm25_search idCol"),
            stringLit(args(2), "bm25_search textCol"),
            stringLit(args(3), "bm25_search termsCsv").split(",").map(_.trim).toSeq,
            longLit(args(4), "bm25_search topK").toInt)
          .queryExecution.logical
      }))

    ext.injectTableFunction((
      FunctionIdentifier("hybrid_search"),
      new ExpressionInfo("graft.pipeline.Retrieval", "hybrid_search"),
      (args: Seq[Expression]) => {
        require(args.length == 9,
          "hybrid_search(docsTable, idCol, textCol, termsCsv, embTable, " +
            "embIdCol, embVecCol, queryId, fuseTopK) takes nine arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        val embId = stringLit(args(5), "hybrid_search embIdCol")
        val embVec = stringLit(args(6), "hybrid_search embVecCol")
        val emb = spark.table(stringLit(args(4), "hybrid_search embTable"))
        val q = emb.filter(col(embId) === longLit(args(7), "hybrid_search queryId"))
          .select(col(embId).as("__q_id"), col(embVec).as("__q_vec"))
        val sem = graft.pipeline.Similarity.bruteForceTopK(
            q, emb, "__q_id", "__q_vec", embId, embVec, k = 20)
          .select(col(embId).as("id"), col("rank"))
        val idCol = stringLit(args(1), "hybrid_search idCol")
        val lex = graft.pipeline.TextAnalysis.bm25TopK(
            spark.table(stringLit(args.head, "hybrid_search docsTable")),
            idCol, stringLit(args(2), "hybrid_search textCol"),
            stringLit(args(3), "hybrid_search termsCsv").split(",").map(_.trim).toSeq,
            topK = 20)
          .select(col(idCol).as("id"), col("rank"))
        graft.pipeline.Retrieval.rrfFuse(Seq(lex, sem), "id", "rank",
            longLit(args(8), "hybrid_search fuseTopK").toInt)
          .queryExecution.logical
      }))

    ext.injectTableFunction((
      FunctionIdentifier("phrase_search"),
      new ExpressionInfo("graft.pipeline.TextAnalysis", "phrase_search"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "phrase_search(indexPath, termsCsv) takes two arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.pipeline.TextAnalysis.phraseLookup(spark,
            stringLit(args.head, "phrase_search indexPath"),
            stringLit(args(1), "phrase_search termsCsv").split(",").map(_.trim).toSeq)
          .queryExecution.logical
      }))

    // SELECT * FROM sparse_search('docs_view', 'doc_id', 'text',
    //                             'column:2500000,window:-400000', 15)
    ext.injectTableFunction((
      FunctionIdentifier("sparse_search"),
      new ExpressionInfo("graft.pipeline.TextAnalysis", "sparse_search"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "sparse_search(table, idCol, textCol, weightsCsv, topK) takes five arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val weights = stringLit(args(3), "sparse_search weightsCsv")
          .split(",").map(_.trim).toSeq.map { kv =>
            kv.split(":") match {
              case Array(t, w) => (t.trim, w.trim.toLong)
              case _ => throw new IllegalArgumentException(
                s"sparse_search weight entry '$kv' is not term:microWeight")
            }
          }
        graft.pipeline.TextAnalysis.weightedTermTopKScan(
            spark.table(stringLit(args.head, "sparse_search table")),
            stringLit(args(1), "sparse_search idCol"),
            stringLit(args(2), "sparse_search textCol"),
            weights, longLit(args(4), "sparse_search topK").toInt)
          .queryExecution.logical
      }))

    // SELECT * FROM passage_search('docs_view', 'doc_id', 'text',
    //                              'column,scan', 32, 16, 100, 10)
    ext.injectTableFunction((
      FunctionIdentifier("passage_search"),
      new ExpressionInfo("graft.pipeline.TextAnalysis", "passage_search"),
      (args: Seq[Expression]) => {
        require(args.length == 8,
          "passage_search(table, idCol, textCol, termsCsv, window, stride, " +
            "passageK, topK) takes eight arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.pipeline.TextAnalysis.passageTopK(
            spark.table(stringLit(args.head, "passage_search table")),
            stringLit(args(1), "passage_search idCol"),
            stringLit(args(2), "passage_search textCol"),
            stringLit(args(3), "passage_search termsCsv").split(",").map(_.trim).toSeq,
            longLit(args(4), "passage_search window").toInt,
            longLit(args(5), "passage_search stride").toInt,
            longLit(args(6), "passage_search passageK").toInt,
            longLit(args(7), "passage_search topK").toInt)
          .queryExecution.logical
      }))

    // Late-interaction (maxsim) retrieval on SQL: per-token vectors
    // derive from the deterministic md5 space (Similarity.tokenVector
    // — swap a real embedding table in production), score =
    // Σ_{query tokens} max_{doc tokens} cos as exact micro-longs.
    // SELECT * FROM maxsim_search('docs_view', 'doc_id', 'text',
    //                             'column,scan', 16, 10)
    ext.injectTableFunction((
      FunctionIdentifier("maxsim_search"),
      new ExpressionInfo("graft.pipeline.Similarity", "maxsim_search"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "maxsim_search(table, idCol, textCol, queryCsv, dims, topK) " +
            "takes six arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val idCol = stringLit(args(1), "maxsim_search idCol")
        val textCol = stringLit(args(2), "maxsim_search textCol")
        val dims = longLit(args(4), "maxsim_search dims").toInt
        val qTerms = stringLit(args(3), "maxsim_search queryCsv")
          .split(",").map(_.trim).toSeq
        val qt = qTerms.zipWithIndex.map { case (t, i) => (0L, i.toLong, t) }
          .toDF("__q_id", "__q_pos", "__tok")
          .withColumn("__q_vec",
            graft.pipeline.Similarity.tokenVector(col("__tok"), dims))
        val dt = graft.pipeline.Similarity.docTokenVectors(
          spark.table(stringLit(args.head, "maxsim_search table")),
          idCol, textCol, dims, "__d_vec")
        graft.pipeline.Similarity.maxSimTopK(qt, dt,
            "__q_id", "__q_pos", "__q_vec", idCol, "__d_vec",
            longLit(args(5), "maxsim_search topK").toInt)
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col("maxsim_micro"),
            org.apache.spark.sql.functions.col("qtokens_hit"),
            org.apache.spark.sql.functions.col("rank"))
          .queryExecution.logical
      }))

    // SELECT * FROM snippet_search('/path/to/text-index', 'column,scan', 8)
    ext.injectTableFunction((
      FunctionIdentifier("snippet_search"),
      new ExpressionInfo("graft.pipeline.TextAnalysis", "snippet_search"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "snippet_search(indexPath, termsCsv, width) takes three arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.pipeline.TextAnalysis.snippetWindow(spark,
            stringLit(args.head, "snippet_search indexPath"),
            stringLit(args(1), "snippet_search termsCsv").split(",").map(_.trim).toSeq,
            longLit(args(2), "snippet_search width").toInt)
          .queryExecution.logical
      }))
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
}
