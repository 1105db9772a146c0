package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank fusion for hybrid retrieval — the step that combines a
  * lexical ranking ([[TextAnalysis.bm25TopK]] /
  * [[TextAnalysis.bm25IndexedTopK]]) with a semantic one (the
  * [[Similarity]] ANN top-k family) into one result list, the
  * standard shape of a RAG / search stack.
  *
  * Reciprocal-rank fusion (Cormack et al., SIGIR'09): each list
  * contributes `1 / (k + rank)` for every id it ranks; ids high on
  * ANY list surface, and k (conventionally 60) damps the head. Only
  * RANKS are consumed, so the fused score is scale-free — BM25
  * micro-nats and cosine similarities never need calibrating against
  * each other.
  *
  * Engine-portable like the rest of the scoring stack: each
  * contribution is `floor(1e6 / (k + rank))` as a long, so the fused
  * score is an exact integer sum (associative — partitioning cannot
  * reorder it) and a SQL oracle replays it bit for bit.
  */
object Retrieval {

  /** Fuse ranked lists (each carrying `idCol` and a 1-based
    * `rankCol`) into (idCol, rrf_micro, lists_hit, rank), rank
    * 1-based by (rrf_micro DESC, id ASC), at most `topK` rows.
    *
    * Scale shape: the inputs are top-k lists — thousands of rows, not
    * corpora — so the union + one aggregate + a top-k sort numbered in
    * order is broadcast-free; the heavy lifting happened in the
    * rankers. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
              topK: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty && topK > 0, "need ranked lists and topK > 0")
    val tagged = lists.map { df =>
      df.select(col(idCol).cast("long").as(idCol),
        floor(lit(1e6) / (lit(kRrf).cast("double") +
          col(rankCol).cast("double"))).cast("long").as("__c"))
    }.reduce(_ unionByName _)
    val order = Seq(col("rrf_micro").desc, col(idCol).asc)
    val fused = tagged.groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_micro"), count(lit(1)).as("lists_hit"))
    graft.engine.Dictionary.rankTopK(fused, order, topK)
  }

  /** FACET counts over a matched doc set — the search-page sidebar:
    * per metadata column, how many matched documents carry each
    * value. `matched` is any retrieval output with `idCol` (a
    * termLookup/BM25/fused list); `meta` supplies the facet columns
    * keyed by the same id. One semi-join then ONE melted aggregate
    * for ALL facets (explode of an nFacets-literal struct array —
    * never a groupBy per facet, so adding facets adds no shuffles).
    * Values count as their string form; a null facet value counts
    * under "(none)" so the sidebar buckets are exhaustive. Returns
    * (facet, value, n_docs). */
  def facetCounts(matched: DataFrame, meta: DataFrame, idCol: String,
                  facets: Seq[String]): DataFrame = {
    require(facets.nonEmpty, "need at least one facet column")
    val joined = matched.select(col(idCol)).distinct()
      .join(meta.select(col(idCol) +: facets.map(col): _*), Seq(idCol))
    joined.select(col(idCol), explode(array(facets.map(f =>
        struct(lit(f).as("facet"),
          coalesce(col(f).cast("string"), lit("(none)")).as("value"))): _*))
        .as("__fv"))
      .groupBy(col("__fv.facet").as("facet"), col("__fv.value").as("value"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
