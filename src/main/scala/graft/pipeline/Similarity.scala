package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set against
  *    the corpus — a map-side-only plan, no shuffle of the corpus; the
  *    top-k is a per-partition heap (row_number over window after a
  *    shuffle ONLY of the scored pairs, which is |queries|·|corpus|
  *    rows of 3 columns, not embeddings).
  *  - LSH (random-hyperplane) buckets: sign-bit signature via seeded
  *    hash-derived hyperplanes; candidates searched within bucket —
  *    the 100 TB path, turning all-pairs into per-bucket joins.
  *  - IVF-style coarse quantization: assign each vector to the nearest
  *    of k seed centroids (deterministic: corpus rows with lowest ids
  *    act as seeds), probe only matching cells.
  *  - PERSISTED indexes: one generic path — [[build]], [[append]]
  *    (exactly once per batch id), [[retrain]] (atomic, as a new
  *    [[IndexGen]] generation) and [[search]] (probe → probed-cell
  *    scan → score → optional float re-rank → top-k) — over an
  *    [[IndexLayout]] that supplies only what
  *    differs between storage layouts: flat floats, int8-quantized,
  *    IVF×PQ (raw or residual codes), two-level coarse→fine, and
  *    codes-only PQ. The layout is detected from the artifact itself.
  *
  * All dot products run as Catalyst `zip_with`+`aggregate` over
  * doubles — codegen'd, no UDF (float→double widening is exact).
  */
object Similarity {

  /** Left-to-right dot product of two float/double arrays — a native
    * fused Expression (graft.functions.VectorDotProduct) instead of
    * `aggregate(zip_with(...))`: no intermediate array per row, same
    * accumulation order, whole-stage codegen. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from a dot product and PRE-STAGED norms: in any pair
    * join, computing `norm(a)`/`norm(b)` per PAIR costs three dot
    * products where one suffices. Staging `norm(v)` as a real column
    * per SIDE before the join computes each vector's norm once; a zero
    * norm product gives 0. */
  def cosinePreNormed(dotAb: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0, 0.0).otherwise(dotAb / d)
  }

  /** Symmetric per-vector int8 quantization — the 4× embedding-storage
    * compression step of a large-scale vector pipeline: each float
    * collapses to `floor(x * 127 / max|x| + 0.5)` with its scale
    * (`max|x| / 127`) carried alongside for dequantization. The
    * arithmetic is float→double promotion, IEEE mul/div, and floor —
    * NO transcendentals — so quantized values are bit-exact across
    * engines and the SQL oracle replays them verbatim. An all-zero
    * (or null-element) vector quantizes to zeros with scale 0.
    *
    * The max|x| is staged as a real column before it enters the
    * transform lambda: referencing the SUBTREE inside the lambda
    * would re-evaluate the array max per element (the O(len²)
    * lambda-capture gotcha).
    *
    * Adds `<outCol>` (array<int>) and `<outCol>_scale` (double). */
  def withQuantizedInt8(df: DataFrame, vecCol: String,
                        outCol: String = "q_vec"): DataFrame = {
    Seq(outCol, s"${outCol}_scale", "__maxabs").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it before quantizing"))
    val staged = df.withColumn("__maxabs",
      array_max(transform(col(vecCol), x => abs(x.cast("double")))))
    staged
      .withColumn(outCol,
        when(col("__maxabs").isNull || col("__maxabs") === 0.0,
          transform(col(vecCol), _ => lit(0)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") * lit(127.0) / col("__maxabs") + lit(0.5))
              .cast("int"))))
      .withColumn(s"${outCol}_scale",
        coalesce(col("__maxabs"), lit(0.0)) / 127.0)
      .drop("__maxabs")
  }

  /** Global top-k per query over a scored (qId, cId, cos_sim) frame:
    * one `row_number` window with a `rank <= k` filter. Spark plans
    * this as WindowGroupLimit(Partial) before the exchange and
    * WindowGroupLimit(Final) after — i.e. the map side already prunes
    * each partition to its k best per query in codegen, so only
    * ≤ partitions×k survivors shuffle. (An earlier hand-rolled
    * per-partition heap duplicated exactly that pruning at the cost
    * of a Deserialize/MapPartitions/Serialize object boundary in
    * every ANN tail — the optimizer's rank-limit pushdown makes it
    * pure overhead.) */
  def topKPerQuery(scored: DataFrame, qId: String, cId: String,
                   k: Int): DataFrame = {
    val slim = scored.select(
      col(qId).cast("long"), col(cId).cast("long"), col("cos_sim").cast("double"))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId).asc)
    // rank as LONG: SQL engines' row_number() is 64-bit (DuckDB BIGINT),
    // and the driver's typed hash compares arrow schemas of both sides
    slim.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The query-side broadcast gate shared by every ANN entry point:
    * a `broadcast()` hint is a PROMISE that the frame fits executor
    * memory, and an oversized query set silently taken at its word
    * OOMs every executor at once. Before hinting, this demands
    * count-capped evidence (the same stats-gated shape as
    * Dictionary.build): the frame is row-capped at `budget/64 + 1`
    * (early-exiting the scan right past the budget — the probe's
    * cost is bounded by the budget itself, never by the possibly
    * huge query set), materialized ONCE, and its exact per-row
    * vector widths are summed into the byte measure; the broadcast
    * ships that same materialization. Over budget →
    * throw, pointing at the bucketed sources; never a degraded
    * silent shuffle-join fallback, because the caller chose an
    * exact/broadcast semantic and a 100 TB corpus shuffle is a worse
    * failure than a loud one. Budget =
    * `spark.sql.autoBroadcastJoinThreshold` (10 MB fallback; -1
    * disables broadcast joins, not this gate's budget). */
  private[graft] def boundedBroadcast(queries: DataFrame, qVec: String,
                                      ctx: String): DataFrame =
    broadcast(boundedQuerySide(queries, qVec, ctx))

  /** [[boundedBroadcast]]'s measured, materialized frame WITHOUT the
    * hint — for callers that also read it outside a join (a hint on a
    * frame that never reaches a join relation is dropped with a
    * HintErrorLogger warning); hint it at the join site. */
  private[graft] def boundedQuerySide(queries: DataFrame, qVec: String,
                                      ctx: String): DataFrame = {
    val budget = graft.engine.Staging.broadcastBudget(queries.sparkSession)
    // Always MEASURED — never Catalyst's stats estimate: sizeInBytes
    // assigns array columns a fixed default width, so a frame of long
    // embedding vectors under-estimates unboundedly and a
    // stats-trusting shortcut would wave through exactly the
    // oversized side this gate exists to stop (caught by the
    // over-budget test when the shortcut was tried). The measured
    // frame and the broadcast frame must be the SAME materialization:
    // probing one evaluation of `queries` and broadcasting another
    // would let a nondeterministic query frame diverge from its
    // evidence (and bills the probe's scan twice). So the frame is
    // capped at the minimal-footprint row bound — more rows than
    // budget/64B can never fit even with empty vectors, and the limit
    // early-exits the underlying scan right past it — then a LAZY
    // localCheckpoint materializes those ≤cap rows (executor-side,
    // disk-spilling) as a side effect of the width probe's collect:
    // probe and checkpoint share ONE job (an eager checkpoint spent a
    // separate job per gate, which dominated the broadcast-gated ANN
    // queries' driver time), and on success the checkpoint itself is
    // what gets broadcast.
    val maxRowsFloor = math.min(Int.MaxValue - 2L, math.max(1L, budget / 64L))
    val capped = graft.engine.Staging.stage(
      queries.limit(maxRowsFloor.toInt + 1), eager = false)
    val widths = capped
      .select(coalesce(size(col(qVec)).cast("long"), lit(0L)).as("__w"))
      .collect().map(_.getLong(0))
    def pointer =
      s"against $budget B (spark.sql.autoBroadcastJoinThreshold). Use the " +
        "bucketed candidate sources (Similarity.Lsh / Similarity.Ivf, or " +
        "lshTopK/ivfTopK) instead of the exact broadcast path, or raise the threshold."
    require(widths.length <= maxRowsFloor,
      s"$ctx: query side exceeds the broadcast budget — >$maxRowsFloor rows $pointer")
    // 96 B/row for ids/labels/buckets + object overhead; 8 B/element
    val bytes = widths.foldLeft(0L)((a, w) => a + 96L + 8L * math.max(0L, w))
    require(bytes <= budget,
      s"$ctx: query side exceeds the broadcast budget — ${widths.length} rows, " +
        s"~$bytes B measured, $pointer")
    capped
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors. `queries` must fit the broadcast budget
    * ([[boundedBroadcast]] enforces it with measured evidence); the
    * corpus is never shuffled — scoring is map-side and the ranking
    * tail is the two-stage bounded top-k. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int): DataFrame =
    rankCandidates(
      boundedQuerySide(queries.withColumn("__qn", norm(col(qVec))), qVec,
        "bruteForceTopK"),
      corpus.select(col(cId), col(cVec).as("__cv")), qId, qVec, cId, k,
      on = None, rerank = None)

  /** Two-stage quantized retrieval: int8 candidate generation + exact
    * float re-rank — the memory-bound ANN layout at 100 TB, where the
    * candidate pass streams the 4×-smaller int8 corpus
    * ([[withQuantizedInt8]]) and full-precision vectors are touched
    * for only |queries| × `shortlist` rows (a semi-join reduction via
    * the shortlist ids, not a second corpus pass over floats).
    *
    * Scoring is ASYMMETRIC (float query × int8 corpus), and symmetric
    * per-vector quantization makes the scale CANCEL in cosine:
    * cos(q, scale·p) = cos(q, p) for scale > 0, so the candidate
    * score is exactly `cosine(query, int8-pattern-as-double)` — IEEE
    * arithmetic a SQL oracle replays digit for digit from the same
    * quantized arrays `q_quantize_int8` already verifies. An all-zero
    * corpus vector quantizes to the zero pattern and scores 0 (the
    * shared zero-denominator guard), same as its float cosine.
    *
    * Output and tie-break match [[bruteForceTopK]]; ranks differ only
    * where int8 rounding reorders neighbors OUTSIDE the shortlist —
    * recall vs brute is measurable the q_ann_recall way. `shortlist`
    * ≥ k; larger shortlists trade rerank IO for recall. */
  def quantizedRerankTopK(queries: DataFrame, corpus: DataFrame,
                          qId: String, qVec: String, cId: String, cVec: String,
                          k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    rankCandidates(
      boundedQuerySide(queries.select(col(qId), col(qVec))
        .withColumn("__qn", norm(col(qVec))), qVec, "quantizedRerankTopK"),
      withQuantizedInt8(corpus.select(col(cId), col(cVec)), cVec)
        .select(col(cId), transform(col("q_vec"), x => x.cast("double")).as("__cv")),
      qId, qVec, cId, k, on = None,
      rerank = Some((shortlist, corpus.select(col(cId), col(cVec).as("__fv")))))
  }

  /** Random-hyperplane LSH signature: `planes` sign bits packed into a
    * long — a fused native Expression (one pass over the vector,
    * codegen'd) instead of `planes` zip_with+aggregate passes.
    * Vectors in the same bucket are near in angle w.h.p. */
  def lshSignature(vec: Column, planes: Int): Column =
    graft.functions.VectorExpressions.lshSignature(vec, planes)

  /** LSH-bucketed ANN top-k: exact cosine within matching buckets only.
    * Recall < 1 by construction; the scale path for 100 TB corpora. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, planes: Int = 8): DataFrame =
    rankCandidates(
      boundedQuerySide(queries
        .withColumn("__bucket", lshSignature(col(qVec), planes))
        .withColumn("__qn", norm(col(qVec))), qVec, "lshTopK"),
      corpus.select(col(cId), col(cVec).as("__cv"),
        lshSignature(col(cVec), planes).as("__bucket")),
      qId, qVec, cId, k, on = Some("__bucket"), rerank = None)

  /** Multi-probe expansion of an existing LSH bucket column: one row
    * per probed bucket — the query's own signature plus every
    * Hamming-1 neighbor (each of the `planes` sign bits flipped).
    * The standard recall/cost knob for hyperplane LSH: a near
    * neighbor that fell on the far side of ONE hyperplane lands in a
    * Hamming-1 bucket, so probing those recovers most single-probe
    * misses at (planes+1)× the candidate volume — still bucket-bound,
    * never the brute cross join. Applies to the QUERY side only (the
    * corpus stays single-bucketed, so corpus storage and the join's
    * build side are unchanged). Candidates reached through several
    * probes must be deduped before ranking ([[lshTopKMultiProbe]]
    * does). */
  def withMultiProbe(df: DataFrame, bucketCol: String, planes: Int): DataFrame = {
    val t = df.schema(bucketCol).dataType
    df.withColumn(bucketCol, explode(array(
      col(bucketCol) +:
        (0 until planes).map(i =>
          col(bucketCol).bitwiseXOR(lit(1L << i).cast(t))): _*)))
  }

  /** [[lshTopK]] with Hamming-1 multi-probe on the query side:
    * recall ≥ single-probe on any corpus (the probed bucket SET is a
    * superset), cost bounded by (planes+1)× the single-probe
    * candidate volume. Duplicate candidates (reachable via several
    * probes) rank once. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
                        qId: String, qVec: String, cId: String, cVec: String,
                        k: Int, planes: Int = 8): DataFrame = {
    val cb = corpus.withColumn("__bucket", lshSignature(col(cVec), planes))
      .withColumn("__cn", norm(col(cVec)))
    val qb = withMultiProbe(
      queries.withColumn("__bucket", lshSignature(col(qVec), planes))
        .withColumn("__qn", norm(col(qVec))),
      "__bucket", planes)
    val scored = cb.join(boundedBroadcast(qb, qVec, "lshTopKMultiProbe"), Seq("__bucket"))
      .filter(col(qId) =!= col(cId))
      .dropDuplicates(qId, cId)
      .withColumn("cos_sim", cosinePreNormed(dot(col(qVec), col(cVec)),
        col("__qn"), col("__cn")))
    topKPerQuery(scored, qId, cId, k)
  }

  /** All near-dup pairs with cosine ≥ threshold, bucketed by LSH so the
    * pair space never materializes quadratically.
    *
    * Per-bucket state is BOUNDED, mirroring the banded text-dedup cap
    * (Dedup.candidatePairs): a `row_number` window (sort-based,
    * spills) keeps only the `maxBucket` lowest ids per bucket, so one
    * hot bucket — mass-duplicated embeddings, or too few `planes` for
    * the corpus — costs a deterministic truncation (lowest ids win),
    * never an in-bucket O(c²) pair blast. The window's hash
    * partitioning on `__bucket` is what the self-join keys on, so the
    * cap rides the join's own shuffle. [[cosineOverflowingBuckets]]
    * reports what the cap dropped — run it alongside a capped pass so
    * truncation is explicit, not silent. */
  def cosineSelfJoinPairs(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, planes: Int = 6,
                          maxBucket: Int = 1000): DataFrame = {
    val w = Window.partitionBy("__bucket").orderBy(col(idCol))
    val b = df.select(col(idCol), col(vecCol))
      .withColumn("__bucket", lshSignature(col(vecCol), planes))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
      // norm staged ONCE per vector — cosine inside the pair join
      // would recompute it per pair (the dominant per-pair cost)
      .withColumn("__n", norm(col(vecCol)))
    val l = b.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("__n").as("na"), col("__bucket"))
    val r = b.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("__n").as("nb"), col("__bucket"))
    l.join(r, Seq("__bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosinePreNormed(dot(col("va"), col("vb")),
        col("na"), col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim").distinct()
  }

  /** Monitoring twin of the bucket cap in [[cosineSelfJoinPairs]]:
    * the LSH buckets whose population exceeds `maxBucket`, with the
    * member count the cap truncated — the same contract as
    * Dedup.overflowingBuckets. Returns (bucket, bucket_size). */
  def cosineOverflowingBuckets(df: DataFrame, idCol: String, vecCol: String,
                               planes: Int = 6, maxBucket: Int = 1000): DataFrame =
    df.select(col(idCol), col(vecCol))
      .withColumn("__bucket", lshSignature(col(vecCol), planes))
      .groupBy(col("__bucket").as("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** IVF-style coarse index: the `nCells` lowest-id corpus vectors act
    * as deterministic seed centroids; every vector is assigned to its
    * nearest centroid; queries probe only their own cell. The
    * centroid set is tiny, so it is collected once and inlined as
    * literal arrays — assignment becomes a pure narrow argmax
    * projection (array_max over per-centroid structs) instead of a
    * cross-join + per-row window that shuffled the whole corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nCells: Int = 16): DataFrame = {
    val assign = ivfAssigner(corpus, cId, cVec, nCells)
    cellsTopK(queries, corpus, qId, qVec, cId, cVec, k, assign, assign,
      "ivfTopK")
  }

  /** The shared non-persisted IVF tail: corpus rows keyed by
    * `assign`, queries by `probe` (one row per probed cell; `probe` may
    * explode), scored within matching cells only. */
  private def cellsTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                        qVec: String, cId: String, cVec: String, k: Int,
                        assign: Column => Column, probe: Column => Column,
                        ctx: String): DataFrame =
    rankCandidates(
      boundedQuerySide(queries.select(col(qId), col(qVec))
        .withColumn("cell_id", probe(col(qVec)))
        .withColumn("__qn", norm(col(qVec))), qVec, ctx),
      corpus.select(col(cId), col(cVec).as("__cv"))
        .withColumn("cell_id", assign(col("__cv"))),
      qId, qVec, cId, k, on = Some("cell_id"), rerank = None)

  /** The `nCells` lowest-id corpus vectors as literal seed centroids —
    * collected ONCE (tiny) and inlined, so cell assignment and probe
    * ranking are pure narrow projections. */
  private def seedCentroids(corpus: DataFrame, cId: String, cVec: String,
                            nCells: Int): Array[(Long, Seq[Double])] =
    corpus.orderBy(col(cId).asc).limit(nCells)
      .select(col(cId).cast("long"), col(cVec).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Nearest-seed-centroid assignment shared by [[ivfTopK]] and
    * [[hardNegatives]]: a pure narrow argmax projection over the
    * inlined centroid literals. */
  private def ivfAssigner(corpus: DataFrame, cId: String, cVec: String,
                          nCells: Int): Column => Column =
    assignerFromCents(seedCentroids(corpus, cId, cVec, nCells))

  /** Single-cell assignment = the first of [[probeCellsCol]]'s
    * ranking. The codebook rides the fused
    * [[graft.functions.NearestCells]] expression as ONE reference
    * object — a 4-64k-cell codebook stays one plan node and one
    * codegen loop (the earlier literal `array_max(array(struct(…)))`
    * tree grew ~8 nodes per cell), and assignment stays a NARROW
    * projection: no corpus shuffle, unlike a broadcast-join + argmax
    * re-aggregation. Ranking semantics unchanged (cos with zero
    * guard, cos DESC / lowest-cell-id ties). */
  private def assignerFromCents(cents: Array[(Long, Seq[Double])]): Column => Column =
    vec => element_at(
      graft.functions.VectorExpressions.nearestCells(vec, cents, 1), 1)

  /** Top-`nProbe` nearest cells for a vector (cos DESC, ties to the
    * lowest cell id — the first element equals [[ivfAssigner]]'s
    * argmax), as an array of cell ids. Narrow projection. */
  private def probeCellsCol(cents: Array[(Long, Seq[Double])],
                            vec: Column, nProbe: Int): Column =
    graft.functions.VectorExpressions.nearestCells(vec, cents, nProbe)

  /** One EXACT Lloyd refinement step for the IVF coarse quantizer:
    * assign every corpus vector to its nearest current centroid, then
    * replace each non-empty cell's centroid with its members' mean.
    * The mean is computed over INTEGER-QUANTIZED elements
    * (`round(x * scale)` per dimension, summed exactly as longs, one
    * double division at the end) — a plain double sum is
    * order-dependent across partitions and would make the trained
    * centroids non-deterministic; the quantized form is bit-identical
    * on any engine at a ~1e-6 quantization cost that is far below
    * centroid noise. Empty cells keep their previous centroid (the
    * standard Lloyd fallback). The per-(cell, dim) aggregate shuffles
    * nCells × dims longs — map-side combined, result tiny — and the
    * refined centroids come back to the driver to be inlined as
    * literals for the next assignment pass, exactly like the seeds. */
  def refineCentroids(corpus: DataFrame, cId: String, cVec: String,
                      cents: Array[(Long, Seq[Double])],
                      scale: Long = 1L << 20): Array[(Long, Seq[Double])] = {
    val assign = assignerFromCents(cents)
    val sums = corpus
      .select(col(cVec).cast("array<double>").as("__v"))
      .withColumn("__cell", assign(col("__v")))
      .select(col("__cell"),
        posexplode(transform(col("__v"),
          x => round(x * scale).cast("long"))).as(Seq("__dim", "__q")))
      .groupBy("__cell", "__dim")
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byCell = sums.groupBy(_._1)
    cents.map { case (id, seed) =>
      byCell.get(id) match {
        case None => (id, seed) // empty cell keeps its centroid
        case Some(rows) =>
          val dim = seed.size
          val mean = new Array[Double](dim)
          rows.foreach { case (_, d, s, n) =>
            mean(d) = (s.toDouble / n.toDouble) / scale.toDouble
          }
          (id, mean.toSeq)
      }
    }
  }

  /** [[refineCentroids]] iterated to CONVERGENCE: up to `maxIters`
    * Lloyd steps, stopping early once the largest per-dimension
    * centroid movement (L∞ over all cells) drops below `eps`. The
    * movement metric is computed over the integer-quantized means, so
    * the whole trajectory — including WHERE it stops — is
    * deterministic on any engine; `eps = 0` disables the early stop
    * (exactly `maxIters` steps), which is the form a SQL oracle
    * replays with a fixed CTE chain. Returns the refined centroids
    * and the number of steps actually run. */
  def refineUntilConverged(corpus: DataFrame, cId: String, cVec: String,
                           cents0: Array[(Long, Seq[Double])],
                           maxIters: Int, eps: Double,
                           scale: Long = 1L << 20)
      : (Array[(Long, Seq[Double])], Int) = {
    var cents = cents0
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && (eps <= 0 || moved >= eps)) {
      val next = refineCentroids(corpus, cId, cVec, cents, scale)
      moved = cents.zip(next).foldLeft(0.0) { case (m, ((_, a), (_, b))) =>
        a.zip(b).foldLeft(m)((mm, p) => math.max(mm, math.abs(p._1 - p._2)))
      }
      cents = next
      it += 1
    }
    (cents, it)
  }

  /** [[ivfTopK]] with `iters` Lloyd refinement steps over the seed
    * centroids before assignment — trained coarse cells track the
    * data distribution instead of the arbitrary lowest-id seeds, the
    * standard IVF quality step. Deterministic end to end (exact
    * quantized means, the usual cos DESC / lowest-id tie-breaks), so
    * a SQL oracle replays training AND search bit for bit. `eps > 0`
    * adds the [[refineUntilConverged]] early stop under the same
    * determinism. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int, nCells: Int = 16, iters: Int = 1,
                     scale: Long = 1L << 20, eps: Double = 0.0): DataFrame = {
    val (cents, _) = refineUntilConverged(corpus, cId, cVec,
      seedCentroids(corpus, cId, cVec, nCells), iters, eps, scale)
    val assign = assignerFromCents(cents)
    cellsTopK(queries, corpus, qId, qVec, cId, cVec, k, assign, assign,
      "ivfTopKTrained")
  }

  /** [[ivfTopK]] with `nProbe` cells probed per query — IVF's
    * recall/cost knob, the coarse-quantization sibling of
    * [[lshTopKMultiProbe]]: a near neighbor assigned to the query's
    * SECOND-nearest cell (the classic cell-boundary miss) is found at
    * nProbe ≥ 2. Corpus vectors stay single-cell (storage and build
    * side unchanged); probe cells are distinct per query and cells
    * partition the corpus, so no candidate pair repeats — no dedup
    * needed before ranking. */
  def ivfTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
                        qId: String, qVec: String, cId: String, cVec: String,
                        k: Int, nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val cents = seedCentroids(corpus, cId, cVec, nCells)
    cellsTopK(queries, corpus, qId, qVec, cId, cVec, k,
      assignerFromCents(cents), v => explode(probeCellsCol(cents, v, nProbe)),
      "ivfTopKMultiProbe")
  }

  // ---- persisted IVF indexes: ONE generic path over IndexLayout -----
  // A persisted index is `codebook/` (+ the layout's extra codebooks
  // and meta row) plus its rows: cell-partitioned `cells/cell_id=N/`
  // for every layout but the codes-only one (`codes/`). Training is
  // paid once at build; a search lists ONLY the probed cells'
  // directories. What differs between layouts — encoding, candidate
  // scoring, probing, retrainability, meta — is [[IndexLayout]]'s;
  // everything else lives once, here.

  /** A trained coarse codebook FRAME: the `nCells` lowest-id seeds
    * refined by up to `iters` exact Lloyd steps
    * ([[refineCodebookUntilConverged]] — bit-equal to the driver-literal
    * [[refineUntilConverged]], so the SQL oracle that replays
    * [[ivfTopKTrained]] replays a search through the index). */
  def trainCodebook(corpus: DataFrame, cId: String, cVec: String,
                    nCells: Int = 16, iters: Int = 1, eps: Double = 0.0,
                    scale: Long = 1L << 20): DataFrame =
    refineCodebookUntilConverged(corpus, cId, cVec,
      seedCodebook(corpus, cId, cVec, nCells), iters, eps, scale)._1

  /** Build a PERSISTED index of `layout` at `path`. `codebooks` are the
    * layout's [[IndexLayout.codebookDirs]] in order (fine then coarse
    * for two-level, none for codes-only); PQ layouts train
    * `pq_codebook` with `pqIters` Lloyd steps unless it is passed as
    * one trailing codebook. `payload` columns of the corpus ride into
    * every stored row (filtered search's metadata) and are recorded in
    * the layout's meta row. Assignment broadcast-joins the codebook
    * frame ([[assignCellsByJoin]]), so nothing driver-side scales with
    * nCells. */
  def build(corpus: DataFrame, cId: String, cVec: String, path: String,
            layout: IndexLayout, codebooks: Seq[DataFrame],
            payload: Seq[String] = Nil, pqIters: Int = 1,
            scale: Long = 1L << 20): Unit = {
    val spark = corpus.sparkSession
    require(layout.payload.isEmpty || layout.payload.sorted == payload.sorted,
      s"layout payload ${layout.payload.mkString("[", ",", "]")} contradicts " +
        s"the build's ${payload.mkString("[", ",", "]")}")
    val l = layout.withPayload(payload)
    val dirs = l.codebookDirs
    require(codebooks.size == dirs.size ||
        (l.pq.nonEmpty && codebooks.size == dirs.size + 1),
      s"a ${l.name} build takes codebooks ${dirs.mkString("[", ",", "]")}" +
        (if (l.pq.nonEmpty) " (+ an optional fixed pq_codebook)" else "") +
        s", got ${codebooks.size}")
    (dirs :+ "pq_codebook").zip(codebooks).foreach { case (d, cb) =>
      cb.coalesce(1).write.mode("overwrite").parquet(s"$path/$d")
    }
    l.metaDir.zip(l.metaRow(spark)).foreach { case (d, row) =>
      row.coalesce(1).write.mode("overwrite").parquet(s"$path/$d")
    }
    val pqCodebook = (vecs: DataFrame, v: String) =>
      codebooks.lift(dirs.size).getOrElse {
        val (m, kCents) = l.pq.get
        val dims = vecs.select(size(col(v))).head().getInt(0)
        val cb = pqTrainCodebooks(vecs, cId, v, dims, m, kCents, pqIters, scale)
        cb.coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebook")
        cb
      }
    val rows = l.encode(corpus, cId, cVec, payload, codebooks.take(dirs.size),
      pqCodebook)
    if (l.hasCells)
      rows.repartition(col("cell_id"))
        .write.partitionBy("cell_id").mode("overwrite")
        .parquet(s"$path/cells")
    else rows.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Append a batch to an EXISTING index of any layout, exactly once
    * per `batchId`: rows are assigned and encoded at the artifact's
    * FIXED codebooks (nothing retrains — cell and code meanings stay
    * stable; drift is [[maybeRetrain]]'s concern) and land in the
    * committed generation under the deterministic name
    * `cells/cell_id=N/batch-<batchId>.parquet` (`codes/batch-…` for
    * codes-only). Layout metadata always comes from the artifact —
    * a residual index gets residual codes, a two-level one its own
    * coarseProbe — and `payload` must equal the columns the index
    * was built with (rows missing payload would read back null and
    * never match a filtered search), so a mismatched batch is
    * refused.
    *
    * The hidden `.done` marker, not the batch files, is the replay
    * guard: [[compactIndexCells]] legitimately folds batch files into
    * merged parts, so "file exists" cannot mean "batch applied".
    * Marker-AFTER-rename is deliberate (the inverse order would read a
    * crash between marker and renames as applied and LOSE the batch);
    * the one remaining window — crash after the renames but before
    * the marker, AND a compaction folding those files before restart
    * — re-appends one batch's rows, collapsed by the next
    * [[compactIndexCells]] fold (replacing on the vector id). */
  def append(batch: DataFrame, cId: String, cVec: String, path0: String,
             batchId: Long, payload: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val path = IndexGen.resolveRoot(spark, path0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(batchMarker(path, batchId))) return
    val layout = IndexLayout.detect(spark, path)
    // a flat artifact records its payload only in the cells schema
    val built =
      if (layout != IndexLayout.Flat) layout.payload
      else spark.read.parquet(s"$path/cells").columns.toSeq
        .filterNot(Set(cId, cVec, "cell_id"))
    require(payload.sorted == built.sorted,
      s"${layout.name} index at $path was built with payload columns " +
        s"${built.mkString("[", ",", "]")} — appends must carry the same " +
        s"(got ${payload.mkString("[", ",", "]")})")
    atomicWrite(spark,
      layout.encode(batch, cId, cVec, payload,
        layout.codebookDirs.map(readArtifact(spark, path, _)),
        (_, _) => readArtifact(spark, path, "pq_codebook")),
      path, batchId, layout.hasCells)
  }

  private def batchMarker(path: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(path, f".batch-$batchId%09d.done")

  /** The idempotent rows write behind [[append]]: `rows` land in a temp
    * dir as one file per cell (or one file), each RENAMED to its
    * deterministic batch name, then the marker is created. A replay
    * rewrites byte-equivalent files over the same names instead of
    * appending duplicate rows. Assumes the caller checked the marker. */
  private def atomicWrite(spark: org.apache.spark.sql.SparkSession,
                          rows: DataFrame, path: String, batchId: Long,
                          cells: Boolean): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.tmp-batch-$batchId")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (cells) rows.repartition(col("cell_id")).write.partitionBy("cell_id")
     else rows.repartition(1).write)
      .mode("overwrite").parquet(tmp.toString)
    val written =
      if (!cells) Seq(tmp -> s"$path/codes")
      else fs.listStatus(tmp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell_id="))
        .map(s => s.getPath -> s"$path/cells/${s.getPath.getName}")
    for ((dir, destDir) <- written) {
      val parts = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      require(parts.length <= 1,
        s"expected one file per cell after repartition, got ${parts.length}")
      parts.headOption.foreach { part =>
        val dest = new org.apache.hadoop.fs.Path(s"$destDir/batch-$batchId.parquet")
        fs.mkdirs(dest.getParent)
        if (fs.exists(dest)) fs.delete(dest, false) // replay: overwrite
        require(fs.rename(part.getPath, dest), s"rename to $dest failed")
      }
    }
    fs.delete(tmp, true)
    fs.create(batchMarker(path, batchId), true).close()
    // the one legitimate mutation of a committed generation: new files
    // can RAISE the memoized footer-stats bound
    GenCache.invalidate(path, "footerMax:")
  }

  /** The index cells store's REQUIRED compaction entry point:
    * replacing on the vector id, so rows duplicated by the
    * crash-between-rename-and-marker replay window (see [[append]])
    * collapse back to one row per vector at the next fold. Safe to run
    * CONCURRENTLY with searches: the search tail reads each probed
    * cell through the cell's Compact manifest ([[readProbedCells]]),
    * so a search racing a fold's commit sees the pre-fold inputs or
    * the merged part — one committed generation, never a mix. */
  def compactIndexCells(spark: org.apache.spark.sql.SparkSession,
                        path: String, cId: String,
                        opts: graft.sources.Compact.Options =
                          graft.sources.Compact.Options())
      : Map[String, graft.sources.Compact.Report] =
    graft.sources.Compact.runPartitioned(spark,
      s"${IndexGen.resolveRoot(spark, path)}/cells",
      opts.copy(replaceOn = Seq(cId), versionCol = None))

  // ---- index deletion (right-to-be-forgotten for ANN artifacts) ---

  /** LOGICAL deletion from a persisted index: record `keys` — a
    * one-column frame whose column NAMES the indexed id column — as a
    * delete-set batch under `path`/deletes, after which every search
    * path anti-joins candidates against the set before scoring
    * ([[readProbedCells]] for the cell layouts, the codes read for
    * the PQ-only layout), so a deleted vector can never surface as a
    * neighbor again — including through retained pre-delete cell
    * generations, deliberately: erasure beats time travel here
    * exactly as it does in the events store
    * ([[graft.sources.Compact.deleteKeys]], whose contract this
    * mirrors). O(keys) and immediate; bytes are reclaimed by
    * [[purgeIndexDeletes]]. Deterministic `name` → retries are
    * idempotent. Delete-then-reinsert is NOT supported until a purge
    * clears the delete set (the set has no ordering vs appends). */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      path0: String, keys: DataFrame, name: String): Unit = {
    val path = IndexGen.resolveRoot(spark, path0)
    require(keys.columns.length == 1,
      "index delete keys must be a single-column frame naming the id column")
    // Validate the key NAME against the index's actual schema at
    // delete time: a misnamed key column would make minusIndexDeletes
    // a silent no-op (the anti-join is skipped when the candidate
    // frame lacks the column), so a right-to-be-forgotten request
    // would hide nothing from searches and only a later purge would
    // fail. Schema-only read — no data scan.
    val kc = keys.columns.head
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = Seq(s"$path/cells", s"$path/codes")
      .find(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
      .getOrElse(throw new IllegalArgumentException(
        s"no index artifact at $path (neither cells/ nor codes/)"))
    val idxCols = spark.read.parquet(dataDir).columns.toSet
    require(idxCols.contains(kc),
      s"delete key column '$kc' is not a column of the index at " +
        s"$dataDir (has: ${idxCols.toSeq.sorted.mkString(", ")}) — " +
        "name the indexed id column, e.g. keys.toDF(\"vec_id\")")
    graft.sources.Store.atomicAppend(keys.distinct(),
      s"$path/deletes", s"del-$name")
  }

  /** The live delete set of an index, if any: (keyColumn, keys). */
  private def indexDeletes(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[(String, DataFrame)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/deletes")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    if (files.isEmpty) None
    else {
      val df = spark.read.parquet(files.map(_.toString): _*)
      require(df.columns.length == 1,
        s"mixed delete-key columns in $dir: ${df.columns.mkString(", ")}")
      Some((df.columns.head, df))
    }
  }

  /** Anti-join `rows` against the index's delete set (no-op without
    * one, or when `rows` lacks the key column). Erasure sets are
    * request-sized, so the anti-join broadcasts in practice; no hint
    * is forced, matching the events store's tombstone reader. */
  private def minusIndexDeletes(spark: org.apache.spark.sql.SparkSession,
                                path: String, rows: DataFrame): DataFrame =
    indexDeletes(spark, path) match {
      case Some((kc, keys)) if rows.columns.contains(kc) =>
        rows.join(keys, Seq(kc), "left_anti")
      case _ => rows
    }

  /** PHYSICAL erasure for a cell-partitioned index: rewrite every
    * affected `cell_id=N/` store minus the deleted ids — per cell,
    * the events store's crash-safe tombstone+purge machinery
    * (manifest committed per cell, row accounting validated before
    * each commit) — then drop the root delete set, at which point the
    * ids are reinsertable again. Affected cells are discovered with
    * ONE column-pruned scan (a raw root read: superseded generations
    * can only OVER-list cells, and purging an unaffected cell is a
    * validated no-op). Per-cell purges run as driver-sequenced jobs —
    * this is the maintenance window's batch erasure pass, not a query
    * path. Idempotent under the same `name`: a crash mid-loop re-runs
    * remaining cells and re-purging a done cell matches zero rows.
    * Returns (affectedCells, rowsErased). */
  def purgeIndexDeletes(spark: org.apache.spark.sql.SparkSession,
                        path0: String, name: String): (Int, Long) = {
    val path = IndexGen.resolveRoot(spark, path0)
    indexDeletes(spark, path) match {
      case None => (0, 0L)
      case Some((kc, keys0)) =>
        val root = s"$path/cells"
        val rootP = new org.apache.hadoop.fs.Path(root)
        require(rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(rootP),
          s"physical purge needs the cell-partitioned layout ($root missing)" +
            " — a PQ-only artifact purges by rebuild; its delete set" +
            " already hides ids from every search")
        val keys = keys0.distinct()
        val affected = spark.read.parquet(root)
          .join(keys, Seq(kc), "left_semi")
          .select(col("cell_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        var erased = 0L
        affected.foreach { c =>
          val cellDir = s"$root/cell_id=$c"
          graft.sources.Compact.deleteKeys(spark, cellDir, keys,
            s"$name-c$c")
          val rep = graft.sources.Compact.purge(spark, cellDir)
          erased += rep.rowsBefore - rep.rowsAfter
        }
        val dir = new org.apache.hadoop.fs.Path(s"$path/deletes")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(dir, true): Unit
        (affected.length, erased)
    }
  }

  // ---- atomic RETRAIN (versioned generations) ----------------------

  /** Every live row of a cells store under `root` (a RESOLVED
    * generation root): all cell directories read through their
    * Compact manifests and the delete set — the exact corpus a
    * retrain must rebuild from (erased ids drop out physically in the
    * new generation). */
  private def readLiveCells(spark: org.apache.spark.sql.SparkSession,
                            root: String): DataFrame = {
    val cellsDir = new org.apache.hadoop.fs.Path(s"$root/cells")
    val fs = cellsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cellsDir), s"no cells store at $root")
    val ids = fs.listStatus(cellsDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell_id="))
      .map(_.getPath.getName.stripPrefix("cell_id=").toLong)
      .sorted.toIndexedSeq
    readProbedCells(spark, root, ids)
  }

  /** [[readLiveCells]] with MANIFEST-LEVEL file skipping: every cell
    * directory's live parts are checked against `preds` (per-part
    * min/max stats + blooms, recorded by a [[compactIndexCells]] fold
    * with stats options) and only parts that CAN match are listed —
    * the events store's `readPruned` idea applied to an index cells
    * store. Parts without recorded stats (appends since the last
    * fold, pre-stats artifacts) are always kept, so the read is exact
    * by construction: `preds` are an IO bound, the caller's joins
    * remain the semantic filter. Per-cell manifest loads run through
    * the shared bounded pool like [[readProbedCells]]; the file list
    * stays in cell order, so plans are deterministic. */
  private def readLiveCellsPruned(spark: org.apache.spark.sql.SparkSession,
                                  root: String,
                                  preds: Seq[graft.sources.Compact.PartPred])
      : DataFrame = {
    val cellsDir = new org.apache.hadoop.fs.Path(s"$root/cells")
    val fs = cellsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cellsDir), s"no cells store at $root")
    val dirs = fs.listStatus(cellsDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell_id="))
      .map(_.getPath).sortBy(_.getName).toIndexedSeq
    val files = onManifestPool(dirs) { d =>
      val (kept, _) = graft.sources.Compact.prunedParts(spark, d.toString, preds)
      kept.map(p => new org.apache.hadoop.fs.Path(d, p.name).toString)
    }.flatten
    val base = spark.read.option("basePath", cellsDir.toString)
    val df = if (files.nonEmpty) base.parquet(files: _*)
             else spark.read.parquet(cellsDir.toString).filter(lit(false))
    minusIndexDeletes(spark, root, df)
  }

  /** RETRAIN an index IN PLACE, atomically: the committed generation's
    * live rows (manifest-snapshot reads, deletes dropped — erasure
    * carries forward physically) are the training corpus, each of the
    * layout's codebooks is refined by up to `maxIters` Lloyd steps
    * seeded by its persisted self (PQ layouts retrain `pq_codebook`
    * with `pqIters` steps; residual-ness, coarseProbe and payload come
    * from the artifact), and the rebuilt artifact lands as a NEW
    * generation under `path/gen=N/` committed by one marker create
    * ([[IndexGen.commitNewGeneration]]). Searches concurrent with the
    * retrain resolve one committed generation end to end — old until
    * the marker lands, new after, never a mix — and a crash
    * mid-retrain leaves the old generation serving. The new
    * generation starts with NO delete set: erased ids are already gone
    * from its rows and become reinsertable, like a purge. A codes-only
    * artifact stores no floats and is refused. Returns (generation,
    * Lloyd steps run over all refined codebooks). */
  def retrain(spark: org.apache.spark.sql.SparkSession, path: String,
              cId: String, cVec: String, maxIters: Int,
              eps: Double = 0.0, pqIters: Int = 1,
              scale: Long = 1L << 20): (Long, Int) = {
    val cur = IndexGen.resolveRoot(spark, path)
    val layout = IndexLayout.detect(spark, cur)
    require(layout.retrainable,
      s"$path is a codes-only PQ artifact — no float vectors are stored, " +
        "so it cannot retrain; keep the source corpus and rebuild via " +
        "Similarity.build with IndexLayout.PqCodes")
    val live = graft.engine.Staging.stage(readLiveCells(spark, cur))
    // storage columns are re-derived at rebuild; everything else
    // beside id/vector/cell is caller payload and must survive
    val payloadCols = live.columns.toSeq
      .filterNot((Set(cId, cVec, "cell_id") ++ layout.storageCols).contains)
    val corpus = live.select((cId +: cVec +: payloadCols).map(col): _*)
    val refined = layout.codebookDirs.map(d =>
      refineCodebookUntilConverged(corpus, cId, cVec,
        readArtifact(spark, cur, d), maxIters, eps, scale))
    val gen = IndexGen.commitNewGeneration(spark, path)(dir =>
      build(corpus, cId, cVec, dir, layout, refined.map(_._1), payloadCols,
        pqIters, scale))
    (gen, refined.map(_._2).sum)
  }

  /** The vector WIDTH an artifact was built with, read from its own
    * codebook (every layout persists one; centroid length = dims).
    * One tiny head() per committed generation ([[GenCache]] memoizes
    * the boxed Int like the codebook frames) — what request-layer
    * dims validation needs: a request whose query vectors are built
    * at a different width would score truncated dot products
    * (VectorDotProduct truncates to min length) and silently mis-rank,
    * so the serving layer throws on mismatch instead. */
  def indexVectorDims(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int = {
    val root = IndexGen.resolveRoot(spark, path)
    GenCache.memo(spark, root, "vecdims")(
      java.lang.Integer.valueOf(
        readArtifact(spark, root, "codebook")
          .select(size(col("centroid"))).head().getInt(0))).intValue
  }

  /** DRIFT-TRIGGERED retrain policy — the building block of a
    * scheduled maintenance job (and the decision loop behind the
    * append contract's "rebuild when drift warrants it"): read ONE
    * [[indexDriftReport]], [[retrain]] iff the
    * worst per-cell drift exceeds `maxDriftMicro` OR the fattest cell
    * holds more than `maxCellSkew`× the mean cell population, and
    * return the decision WITH its evidence either way. The report
    * collect is nCells-bounded (one row per cell). */
  final case class RetrainDecision(retrained: Boolean, maxDriftMicro: Long,
                                   cellSkew: Double,
                                   generation: Option[Long], steps: Int)

  /** The summary the retrain policy (and the HTTP drift route)
    * thresholds on, from ONE driftReport collect: worst per-cell mean
    * drift and the fattest cell's population relative to the mean —
    * ONE definition, so the served evidence can never diverge from
    * the decision arithmetic. Input rows are (cell_id, n_rows,
    * drift_micro). */
  def driftSummary(rows: Seq[org.apache.spark.sql.Row]): (Long, Double) =
    if (rows.isEmpty) (0L, 0.0)
    else {
      val ns = rows.map(_.getLong(1))
      (rows.map(_.getLong(2)).max,
        ns.max.toDouble * ns.length / ns.sum.toDouble)
    }

  def maybeRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
                   cId: String, cVec: String, maxDriftMicro: Long,
                   maxCellSkew: Double, maxIters: Int = 1,
                   eps: Double = 0.0, pqIters: Int = 1): RetrainDecision = {
    val rows = indexDriftReport(spark, path, cId, cVec).collect()
    val (drift, skew) = driftSummary(rows.toSeq)
    if (drift <= maxDriftMicro && skew <= maxCellSkew)
      RetrainDecision(retrained = false, drift, skew, None, 0)
    else {
      val (gen, steps) = retrain(spark, path, cId, cVec,
        maxIters = maxIters, eps = eps, pqIters = pqIters)
      RetrainDecision(retrained = true, drift, skew, Some(gen), steps)
    }
  }

  /** DRIFT report of a persisted IVF index — the measurement behind
    * the append contract's "rebuild when drift warrants it"
    * ([[append]]) and the trigger for [[retrain]]: per
    * cell, the live row count and the average angular distance of
    * members to their OWN stored centroid, as exact micro-longs
    * (each row's (1 − cos) floors to a long before the sum; the
    * per-cell mean is one double division then a floor — associative
    * and bit-stable, so a SQL oracle replays it). A healthy index has
    * low, balanced drift; appended batches assigned to stale
    * centroids push it up, and a fat-tailed `n_rows` distribution
    * flags skewed cells. Reads the committed generation through the
    * cell manifests and the delete set, like every other consumer.
    * Returns (cell_id, n_rows, drift_micro) sorted by cell. */
  def indexDriftReport(spark: org.apache.spark.sql.SparkSession,
                       path: String, cId: String, cVec: String): DataFrame = {
    val root = IndexGen.resolveRoot(spark, path)
    val cb = readArtifact(spark, root, "codebook")
    readLiveCells(spark, root)
      .select(col("cell_id").cast("long").as("cell_id"), col(cVec))
      .join(broadcast(cb), Seq("cell_id"))
      .withColumn("__cos", cosinePreNormed(dot(col(cVec), col("centroid")),
        norm(col(cVec)), norm(col("centroid"))))
      .withColumn("__dmicro",
        floor((lit(1.0) - col("__cos")) * 1e6).cast("long"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__dmicro")).as("__s"))
      .withColumn("drift_micro",
        floor(col("__s").cast("double") / col("n_rows").cast("double"))
          .cast("long"))
      .select(col("cell_id"), col("n_rows"), col("drift_micro"))
      .orderBy(col("cell_id"))
  }

  /** ANN top-k THROUGH a persisted index of any layout, never touching
    * the raw corpus: queries probe their `nProbe` best cells (through
    * the coarse→fine hierarchy for two-level; codes-only probes every
    * code) against the broadcast codebook frame (never collected, so
    * probe ranking works at any nCells), the query side passes the
    * measured broadcast gate, the (bounded) probed-cell set collects
    * once, and ONLY those `cell_id=N/` directories are read
    * ([[readProbedCells]]: manifest-snapshot, erasure-aware). Lossy
    * layouts score their stored form (int8 patterns or decoded codes
    * — the IO advantage they exist for), keep a per-query `shortlist`
    * (default 4·k) and re-rank it on floats: the probed cells' own,
    * or `floats` (cId, cVec) for the codes-only layout. Ranking is the
    * shared (cos DESC, id ASC) order at every stage, so a SQL oracle
    * replays it; flat results equal [[ivfTopKTrained]]'s with the same
    * codebook.
    *
    * `where` = FILTERED vector search: a predicate over the payload
    * columns the index was built with, applied inside the probed-cell
    * scan BEFORE any scoring — for simple comparisons it reaches
    * parquet as a pushed filter, so non-matching rows never decode
    * their vector bytes, and ranks stay contiguous over the matching
    * set. Filtered selectivity eats recall like any IVF restriction:
    * raise `nProbe` as filters sharpen. */
  def search(spark: org.apache.spark.sql.SparkSession,
             queries: DataFrame, qId: String, qVec: String,
             path0: String, cId: String, cVec: String, k: Int,
             nProbe: Int = 1, shortlist: Option[Int] = None,
             where: Option[Column] = None,
             floats: Option[DataFrame] = None): DataFrame = {
    // ONE resolution for codebooks + cells + deletes: a search racing a
    // rebuild reads a single committed generation end to end
    shortlist.foreach(sl => require(sl >= k, s"shortlist $sl must be >= k $k"))
    val path = IndexGen.resolveRoot(spark, path0)
    val layout = IndexLayout.detect(spark, path)
    val qs = boundedQuerySide(
      layout.probe(spark, path, queries, qId, qVec, nProbe), qVec,
      s"search(${layout.name})")
    val stored =
      if (layout.hasCells) {
        // the gate bounded the query side, so this collect is
        // ≤ min(|queries|·nProbe, nCells) longs
        val probed = qs.select(col("cell_id")).distinct()
          .collect().map(_.getLong(0)).sorted.toIndexedSeq
        readProbedCells(spark, path, probed)
          .withColumn("cell_id", col("cell_id").cast("long"))
      } else {
        require(where.isEmpty, "a codes-only PQ artifact stores no payload " +
          "columns — filtered search needs a cells layout")
        minusIndexDeletes(spark, path, spark.read.parquet(s"$path/codes"))
      }
    val rows = where.map(stored.filter).getOrElse(stored)
    val rerank =
      if (!layout.lossy) None
      else {
        val fl = if (layout.hasCells) rows else floats.getOrElse(
          throw new IllegalArgumentException(s"a ${layout.name} search " +
            "re-ranks on floats the artifact does not store — pass `floats`"))
        Some((shortlist.getOrElse(4 * k), fl.select(col(cId), col(cVec).as("__fv"))))
      }
    rankCandidates(qs, layout.candidates(spark, path, rows, cId, cVec),
      qId, qVec, cId, k, if (layout.hasCells) Some("cell_id") else None,
      rerank)
  }

  /** The ONE scoring tail of every cosine top-k here: candidates
    * (cId, [on,] __cv) meet the gated query side (qId, qVec, [on,] __qn)
    * — equi-joined on the `on` key (cell, bucket), else all-pairs —
    * minus self-matches, scored by cosine over pre-staged norms and
    * ranked top-k; with `rerank` = (shortlist, (cId, __fv) floats) the
    * top-`shortlist` candidates re-score on those floats first (float
    * norms computed for the shortlist survivors only). */
  private def rankCandidates(qs: DataFrame, cand: DataFrame, qId: String,
                             qVec: String, cId: String, k: Int,
                             on: Option[String],
                             rerank: Option[(Int, DataFrame)]): DataFrame = {
    val cn = cand.withColumn("__cn", norm(col("__cv")))
    val scored =
      on.fold(cn.crossJoin(broadcast(qs)))(key => cn.join(broadcast(qs), Seq(key)))
        .filter(col(qId) =!= col(cId))
        .withColumn("cos_sim", cosinePreNormed(dot(col(qVec), col("__cv")),
          col("__qn"), col("__cn")))
    rerank match {
      case None => topKPerQuery(scored, qId, cId, k)
      case Some((shortlist, floats)) =>
        val shortlisted =
          topKPerQuery(scored.select(col(qId), col(cId), col("cos_sim")),
            qId, cId, shortlist)
          .select(col(qId), col(cId))
        val rescored = shortlisted
          .join(qs.select(col(qId), col(qVec), col("__qn"))
            .dropDuplicates(Seq(qId)), Seq(qId))
          .join(floats, Seq(cId))
          .withColumn("__fn", norm(col("__fv")))
          .withColumn("cos_sim", cosinePreNormed(dot(col(qVec), col("__fv")),
            col("__qn"), col("__fn")))
        topKPerQuery(rescored.select(col(qId), col(cId), col("cos_sim")),
          qId, cId, k)
    }
  }

  /** A codebook-family frame (`codebook` / `pq_codebook` /
    * `codebook_coarse`) of a RESOLVED artifact root, memoized per
    * generation ([[GenCache]]): the parquet open/footer round trip is
    * paid once per generation instead of once per search operation.
    * Committed generations are immutable, so the cached plan can
    * never go stale; flat roots read through every call. */
  private[pipeline] def readArtifact(spark: org.apache.spark.sql.SparkSession,
                                     root: String, name: String): DataFrame =
    GenCache.memo(spark, root, name)(spark.read.parquet(s"$root/$name"))

  /** Shared bounded pool behind [[readProbedCells]]'s manifest
    * round trips: daemon threads (they must never pin a JVM exit),
    * lazily created once, sized to the store-concurrency bound. */
  private lazy val manifestPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-manifest-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** [[footerMaxLong]] memoized per committed generation under
    * `footerMax:<column>` ([[GenCache]] — flat roots read through).
    * Every cells-append path invalidates the key
    * ([[GenCache.invalidate]]), so a batch landing violating ids is
    * still caught by the next search; deletes/purges/compactions can
    * only LOWER the true max, so a stale bound stays safe in the
    * guard direction. */
  private[graft] def cachedFooterMaxLong(
      spark: org.apache.spark.sql.SparkSession,
      root: String, column: String): Option[Long] =
    GenCache.memo(spark, root, s"footerMax:$column")(
      footerMaxLong(spark, root, column))

  /** Test hook: number of physical footer sweeps actually run (cache
    * hits don't count). */
  private[graft] val footerSweeps =
    new java.util.concurrent.atomic.AtomicLong()

  /** `f` over `items` on [[manifestPool]], results in input order; a
    * failed task rethrows its ORIGINAL cause, not the
    * ExecutionException wrapper. */
  private def onManifestPool[A, B](items: Seq[A])(f: A => B): Seq[B] =
    items.map(a => manifestPool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = f(a)
    })).map { fut =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }

  /** Upper bound of a LONG column across every LIVE data file of a
    * cells store, from parquet FOOTER statistics alone — metadata
    * round trips (per-cell manifest list + per-file footer, both
    * through the shared pool), never a data scan. This is what makes
    * cheap-and-loud precondition guards possible on the serving path:
    * the [[maxSimTopKIndexed]] token-id bound reads footers instead
    * of aggregating a corpus column per search. Returns None when the
    * store is empty or any file lacks usable stats for the column
    * (schema drift, all-null chunk) — callers fall back to their
    * exact check rather than trusting a partial bound. Deletes are
    * ignored deliberately: a deleted id only makes the bound more
    * conservative, never less safe. */
  private[graft] def footerMaxLong(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   column: String): Option[Long] = {
    footerSweeps.incrementAndGet(): Unit
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$path/cells")
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val cellDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell_id="))
      .map(_.getPath).toSeq
    // one pool task per cell: manifest list + that cell's footers —
    // the same bound-parallel shape (and pool) as readProbedCells
    val perCell = onManifestPool(cellDirs) { d =>
      val maxes = graft.sources.Compact.livePartPaths(spark, d)
        .map(partMaxLong(conf, _, column))
      if (maxes.isEmpty) Some(Long.MinValue) // empty cell: no rows
      else if (maxes.exists(_.isEmpty)) None
      else Some(maxes.flatten.max)
    }
    if (perCell.isEmpty || perCell.exists(_.isEmpty)) None
    else Some(perCell.flatten.max).filter(_ != Long.MinValue)
  }

  /** The probed slice of a `cells/cell_id=N/` artifact, listing ONLY
    * the probed directories: handing Spark the whole root makes it
    * enumerate EVERY cell directory before partition pruning (at
    * nCells=4096 that is a parallel-discovery job over thousands of
    * dirs — measured as more wall time than the search itself), while
    * explicit paths + basePath list just the |probed| dirs. The
    * `cell_id` partition column survives via basePath and the isin
    * residual keeps the pruning visible in the plan (and correct even
    * if a caller ever passed a stale path list). Probed cells with no
    * directory (empty cells) are skipped — an absent cell holds no
    * vectors.
    *
    * Each probed cell's FILE list comes from the cell's Compact
    * manifest (Compact.livePartPaths), not a raw directory listing:
    * the manifest names one committed generation — latest parts plus
    * adopted appends — so a search racing a [[compactIndexCells]]
    * fold sees the pre-fold inputs OR the merged part, NEVER both
    * (a raw listing double-counts every candidate in exactly that
    * window, and unconditionally once `retainGenerations > 0` keeps
    * superseded inputs on disk for time travel). Per-cell manifest
    * reads are driver-side and tiny — the same cost class as the
    * existence probe they extend. */
  /** Max of an integral `column` in ONE parquet file from its footer
    * statistics; None when the column is absent or any chunk lacks
    * usable stats. */
  private def partMaxLong(conf: org.apache.hadoop.conf.Configuration,
                          f: org.apache.hadoop.fs.Path,
                          column: String): Option[Long] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
    try {
      val chunks = scala.jdk.CollectionConverters
        .ListHasAsScala(r.getFooter.getBlocks).asScala
        .flatMap(b => scala.jdk.CollectionConverters
          .ListHasAsScala(b.getColumns).asScala)
        .filter(_.getPath.toDotString == column)
      if (chunks.isEmpty) None // column absent from this file
      else {
        val ms = chunks.map { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) None
          else st.genericGetMax match {
            case l: java.lang.Long => Some(l.longValue)
            case i: java.lang.Integer => Some(i.longValue)
            case _ => None // not an integral column
          }
        }
        if (ms.exists(_.isEmpty)) None else Some(ms.flatten.max)
      }
    } finally r.close()
  }

  private def readProbedCells(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              probed: Seq[Long]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$path/cells")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-cell existence probe + manifest read, BOUND-PARALLELIZED:
    // each is one-or-two driver→store round trips, and running them
    // sequentially serializes nProbe round trips — at nProbe in the
    // hundreds over an object store that dominates the search's
    // driver time (the same class as the probed-directory listing
    // fix, smaller constant). The SHARED 16-thread pool bounds the
    // store's concurrent request load across every concurrent search
    // (creating/tearing down a pool per call wasted ~16 threads per
    // search); results join in probe order, so the file list stays
    // deterministic, and a failed manifest read rethrows its ORIGINAL
    // cause, not the ExecutionException wrapper.
    val files = onManifestPool(probed) { c =>
      val d = new org.apache.hadoop.fs.Path(root, s"cell_id=$c")
      if (!fs.exists(d)) Nil
      else graft.sources.Compact.livePartPaths(spark, d).map(_.toString)
    }.flatten
    val base = spark.read.option("basePath", root.toString)
    val df = if (files.nonEmpty) base.parquet(files: _*)
             else spark.read.parquet(root.toString).filter(lit(false))
    // erasure: every cell-layout search tail reads through here, so
    // one anti-join hides deleted ids from ALL of them at once
    minusIndexDeletes(spark, path, df.filter(col("cell_id").isin(probed: _*)))
  }

  /** The `nCells` lowest-id corpus vectors as a codebook FRAME —
    * the seed shape of [[seedCentroids]] with NOTHING collected to
    * the driver: `(cell_id, centroid)` rows live in executors only,
    * so nCells is bounded by storage, not driver heap. */
  def seedCodebook(corpus: DataFrame, cId: String, cVec: String,
                   nCells: Int): DataFrame =
    corpus.orderBy(col(cId).asc).limit(nCells)
      .select(col(cId).cast("long").as("cell_id"),
        col(cVec).cast("array<double>").as("centroid"))

  /** One EXACT Lloyd step over codebook FRAMES — [[refineCentroids]]
    * with the driver removed: assignment is the broadcast-join argmax
    * ([[assignCellsByJoin]] — bit-identical cos/tie order to the
    * literal assigner), the per-(cell, dim) sums stay
    * integer-quantized longs (exact, order-independent), and the new
    * centroid arrays are rebuilt IN the engine (per-cell dim→mean
    * map; absent dims fill 0.0 and empty cells keep their previous
    * centroid, both exactly as the driver form). The only thing that
    * ever reaches the driver in a training loop is the convergence
    * scalar. Same arithmetic — `(Σq/n)/scale` on the same doubles —
    * so trained centroids are bit-equal to [[refineCentroids]]'. */
  def refineCodebook(corpus: DataFrame, cId: String, cVec: String,
                     cb: DataFrame, scale: Long = 1L << 20): DataFrame = {
    val means = assignCellsByJoin(
        corpus.select(col(cId), col(cVec).cast("array<double>").as(cVec)),
        cId, cVec, cb)
      .select(col("cell_id"),
        posexplode(transform(col(cVec),
          x => round(x * scale).cast("long"))).as(Seq("__dim", "__q")))
      .groupBy("cell_id", "__dim")
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      .groupBy("cell_id")
      .agg(map_from_entries(collect_list(struct(col("__dim"),
        (col("__s").cast("double") / col("__n").cast("double")) /
          lit(scale.toDouble)))).as("__mm"))
    cb.select(col("cell_id"), col("centroid").as("__prev"))
      .join(means, Seq("cell_id"), "left")
      .select(col("cell_id"),
        when(col("__mm").isNull, col("__prev")) // empty cell keeps centroid
          .otherwise(transform(sequence(lit(0), size(col("__prev")) - 1),
            d => coalesce(element_at(col("__mm"), d), lit(0.0))))
          .as("centroid"))
  }

  /** [[refineUntilConverged]] over codebook FRAMES: up to `maxIters`
    * [[refineCodebook]] steps, early-stopped when the largest
    * per-dimension movement (L∞, computed in-engine) drops below
    * `eps`. Each step's codebook is staged (lineage cut — an
    * unstaged loop would stack one corpus-assignment subtree per
    * step); the driver sees ONE double per step, never a codebook.
    * `eps = 0` runs exactly `maxIters` steps with no movement job. */
  def refineCodebookUntilConverged(corpus: DataFrame, cId: String,
                                   cVec: String, cb0: DataFrame,
                                   maxIters: Int, eps: Double,
                                   scale: Long = 1L << 20)
      : (DataFrame, Int) = {
    var cb = graft.engine.Staging.stage(cb0)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && (eps <= 0 || moved >= eps)) {
      val next = graft.engine.Staging.stage(
        refineCodebook(corpus, cId, cVec, cb, scale))
      if (eps > 0) {
        moved = next.select(col("cell_id"), col("centroid").as("__b"))
          .join(cb.select(col("cell_id"), col("centroid").as("__a")),
            Seq("cell_id"))
          .select(aggregate(zip_with(col("__a"), col("__b"),
            (x, y) => abs(x - y)), lit(0.0),
            (acc, v) => greatest(acc, v)).as("__m"))
          .agg(max(col("__m"))).head().getDouble(0)
      }
      cb = next
      it += 1
    }
    (cb, it)
  }

  /** Deterministic synthetic codebook as a DATAFRAME — `(cell_id,
    * centroid)` with every element derived from the portable
    * md5-20-bit hash space (`(h('cb-<cell>-<dim>') % 2001 - 1000) /
    * 1000.0` ∈ [-1, 1]), so a SQL oracle regenerates it bit for bit
    * and NOTHING is ever collected to the driver. This is the
    * codebook shape past the ceiling of codebooks inlined as literal
    * arrays (~64k cells): cells × dims live as rows/arrays in
    * executors only. */
  def syntheticCodebook(spark: org.apache.spark.sql.SparkSession,
                        nCells: Int, dims: Int,
                        tag: String = "cb"): DataFrame =
    spark.range(0, nCells.toLong).select(col("id").as("cell_id"),
      array((0 until dims).map { j =>
        (conv(substring(md5(concat_ws("-", lit(tag), col("id"), lit(j))),
          1, 5), 16, 10).cast("long") % 2001 - 1000) / lit(1000.0)
      }: _*).as("centroid"))

  /** Nearest-cell assignment by BROADCAST JOIN + map-side argmax —
    * the past-the-driver-ceiling assigner ([[ivfAssigner]]'s sibling
    * for codebooks too large to inline as one expression): the
    * codebook stays a DataFrame broadcast to executors, each vector
    * meets every cell in the cross join, and ONE map-side-combinable
    * `max(struct(cos, -cell_id))` aggregate keeps the argmax
    * (cos DESC, lowest cell id on ties — [[assignerFromCents]]'s
    * exact ordering; [[cosinePreNormed]]'s zero guard yields 0.0, so
    * no null ordering cases). The shuffle is corpus-sized (partial
    * aggregation collapses the nCells-wide cross product per mapper
    * before the exchange). Flat assignment is O(rows × nCells) like
    * every single-level IVF — at extreme nCells add a coarser first
    * level — but the DRIVER no longer bounds nCells. Returns
    * `(vId, vVec, cell_id)`. */
  def assignCellsByJoin(vectors: DataFrame, vId: String, vVec: String,
                        codebook: DataFrame,
                        payload: Seq[String] = Nil): DataFrame =
    vectors.select(col(vId) +: col(vVec) +: payload.map(col): _*)
      .crossJoin(org.apache.spark.sql.functions.broadcast(codebook))
      .withColumn("__cos", cosinePreNormed(dot(col(vVec), col("centroid")),
        norm(col(vVec)), norm(col("centroid"))))
      .groupBy(col(vId))
      // ONE argmax buffer: the vector and payload columns (constant
      // per vId) ride INSIDE the max struct behind the deciding
      // (cos, -cell_id) prefix — nc is distinct per cell, so the
      // trailing fields never participate in the ordering and the
      // winner's own row is exactly what first() carried, without a
      // separate aggregation buffer per carried column (the buffers
      // are what the assignment shuffle ships; a post-join instead
      // would re-shuffle the corpus by vId, strictly more bytes).
      .agg(max(struct(col("__cos").as("s"), (-col("cell_id")).as("nc"),
        struct(col(vVec) +: payload.map(col): _*).as("row"))).as("__m"))
      .select(col(vId) +:
        col("__m").getField("row").getField(vVec).as(vVec) +:
        payload.map(p => col("__m").getField("row").getField(p).as(p)) :+
        (-col("__m").getField("nc")).as("cell_id"): _*)

  /** JOIN-BASED top-`nProbe` cell ranking against a codebook FRAME
    * (broadcast, never collected): one row per (vId, probed cell),
    * `__qn` staged. Shared by the joined search paths. */
  private[pipeline] def rankProbesJoined(vectors: DataFrame, vId: String,
                                         vVec: String, cb: DataFrame,
                                         nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col(vId))
      .orderBy(col("__cos").desc, col("cell_id").asc)
    vectors.select(col(vId), col(vVec))
      .crossJoin(org.apache.spark.sql.functions.broadcast(cb))
      .withColumn("__cos", cosinePreNormed(dot(col(vVec), col("centroid")),
        norm(col(vVec)), norm(col("centroid"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nProbe)
      .select(col(vId), col(vVec), col("cell_id"))
      .withColumn("__qn", norm(col(vVec)))
  }

  // ---- Product quantization (PQ) ---------------------------------
  // The standard 100 TB ANN memory answer past symmetric int8 (4x):
  // m sub-codebooks of kCents centroids each collapse a dims-float
  // vector to m small codes — dims*4 bytes down to m code bytes
  // (32x at dims=64, m=8), with asymmetric scoring (float query x
  // decoded codes) and a float re-rank over the shortlist alone.

  /** One row per (id, sub): the `sub`-th of `m` equal slices of the
    * vector, as array<double>. Slicing is positional (1-based
    * `slice`), so engines agree element for element. */
  private def subvectors(df: DataFrame, id: String, vec: String,
                         dims: Int, m: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims must divide into m $m subspaces")
    val sub = dims / m
    df.select(col(id), col(vec).cast("array<double>").as("__v"))
      .select(col(id), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("__v"))
      .withColumn("sv", slice(col("__v"), col("sub") * sub + 1, lit(sub)))
      .drop("__v")
  }

  /** Nearest sub-centroid per (id, sub) under SQUARED L2 — the PQ
    * metric: unlike the coarse quantizer's cosine, subvector
    * MAGNITUDES must survive so decoded dot products approximate the
    * true ones. d² expands to dot-products only (`x·x − 2·x·c + c·c`,
    * the exact parse both engines share), ties to the lowest
    * centroid. Keeps `sv` for the training step. */
  private def pqAssign(sv: DataFrame, id: String, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), Seq("sub"))
      .withColumn("__d2", dot(col("sv"), col("sv")) -
        lit(2.0) * dot(col("sv"), col("centroid")) +
        dot(col("centroid"), col("centroid")))
      .groupBy(col("sub"), col(id))
      .agg(first(col("sv")).as("sv"),
        min(struct(col("__d2").as("d"), col("cent_id").as("c"))).as("__m"))
      .withColumn("cent_id", col("__m").getField("c"))
      .drop("__m")

  /** Train the m per-subspace PQ codebooks as ONE frame
    * `(sub, cent_id, centroid)`: seeds are the `kCents` lowest-id
    * corpus vectors' slices (cent_id 0..kCents−1 by ascending seed
    * id), refined by `iters` exact Lloyd steps per subspace — L2
    * assignment, the same integer-quantized long-sum means as
    * [[refineCodebook]] (order-independent, bit-stable), empty cells
    * keep their centroid. Nothing codebook-sized touches the driver;
    * a generated SQL oracle replays the whole trajectory. */
  def pqTrainCodebooks(corpus: DataFrame, cId: String, cVec: String,
                       dims: Int, m: Int, kCents: Int, iters: Int,
                       scale: Long = 1L << 20): DataFrame = {
    val sv = graft.engine.Staging.stage(
      subvectors(corpus.select(col(cId), col(cVec)), cId, cVec, dims, m))
    val seedBase = corpus.orderBy(col(cId).asc).limit(kCents)
      .select(col(cId), col(cVec))
    val seedCents = graft.engine.Dictionary.rankRows(
      seedBase.select(col(cId)), Seq(col(cId).asc), "__cent", startAt = -1L)
    val seeds = subvectors(seedBase, cId, cVec, dims, m)
      .join(broadcast(seedCents), Seq(cId))
      .select(col("sub"), col("__cent").as("cent_id"), col("sv").as("centroid"))
    var cb = graft.engine.Staging.stage(seeds)
    for (_ <- 0 until iters) {
      val means = pqAssign(sv, cId, cb)
        .select(col("sub"), col("cent_id"),
          posexplode(transform(col("sv"),
            x => round(x * scale).cast("long"))).as(Seq("__dim", "__q")))
        .groupBy("sub", "cent_id", "__dim")
        .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
        .groupBy("sub", "cent_id")
        .agg(map_from_entries(collect_list(struct(col("__dim"),
          (col("__s").cast("double") / col("__n").cast("double")) /
            lit(scale.toDouble)))).as("__mm"))
      cb = graft.engine.Staging.stage(
        cb.select(col("sub"), col("cent_id"), col("centroid").as("__prev"))
          .join(means, Seq("sub", "cent_id"), "left")
          .select(col("sub"), col("cent_id"),
            when(col("__mm").isNull, col("__prev"))
              .otherwise(transform(sequence(lit(0), size(col("__prev")) - 1),
                d => coalesce(element_at(col("__mm"), d), lit(0.0))))
              .as("centroid")))
    }
    cb
  }

  /** PQ codes: `(id, codes)` where `codes(j)` is the vector's nearest
    * sub-centroid in subspace j — the m-byte form a 100 TB corpus
    * stores and scans in place of dims floats. */
  def pqEncode(corpus: DataFrame, cId: String, cVec: String,
               dims: Int, m: Int, cb: DataFrame): DataFrame =
    pqAssign(subvectors(corpus.select(col(cId), col(cVec)), cId, cVec, dims, m),
        cId, cb)
      .groupBy(col(cId))
      .agg(transform(array_sort(collect_list(
        struct(col("sub"), col("cent_id").cast("int").as("code")))),
        e => e.getField("code")).as("codes"))

  /** PQ decode: codes → the approximate vector (per-sub centroids
    * concatenated in subspace order). Asymmetric scoring against a
    * float query q is exactly `cos(q, decode(codes))` — the sum of
    * per-subspace LUT dot products, since
    * `q · concat(c_0..c_{m-1}) = Σ_j q_j · c_j` — so scoring decodes
    * on the fly from the BROADCAST codebook while streaming only the
    * m-code column, never the float corpus.
    *
    * `carry` names extra input columns that are CONSTANT per id
    * (e.g. the composed index's `cell_id`) to ride the decode
    * aggregate instead of re-joining the decoded rows back to their
    * source just to recover them — one exchange saved per search. */
  def pqDecode(codes: DataFrame, cId: String, cb: DataFrame,
               carry: Seq[String] = Nil): DataFrame = {
    val cbr = cb.select(col("sub").as("__cbsub"),
      col("cent_id").as("__cbcent"), col("centroid").as("__cbv"))
    codes.select(col(cId) +: carry.map(col) :+
        posexplode(col("codes")).as(Seq("__sub", "__code")): _*)
      .join(broadcast(cbr), col("__sub") === col("__cbsub") &&
        col("__code").cast("long") === col("__cbcent"))
      .groupBy(col(cId))
      .agg(flatten(transform(array_sort(collect_list(
        struct(col("__sub"), col("__cbv").as("cv")))),
        e => e.getField("cv"))).as("__rv"),
        carry.map(c => first(col(c)).as(c)): _*)
  }

  /** PQ ANN top-k: train sub-codebooks, encode the corpus to m-code
    * rows, score candidates ASYMMETRICALLY (float query × decoded
    * codes — cos over the reconstruction, whose dot IS the Σ_j LUT
    * sum), keep a per-query `shortlist`, then re-rank only the
    * shortlist against the true float vectors — the same two-stage
    * tail as [[quantizedRerankTopK]] with 8× less candidate payload
    * (m codes vs dims int8s). Deterministic end to end (L2 ties to
    * the lowest centroid, quantized-integer Lloyd means, the shared
    * (cos DESC, id ASC) rank), so a generated SQL oracle replays
    * training, encoding AND search bit for bit. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, qVec: String, cId: String, cVec: String,
             dims: Int, k: Int, shortlist: Int,
             m: Int = 8, kCents: Int = 16, iters: Int = 1,
             scale: Long = 1L << 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cb = pqTrainCodebooks(corpus, cId, cVec, dims, m, kCents, iters, scale)
    val qs = boundedQuerySide(
      queries.select(col(qId), col(qVec)).withColumn("__qn", norm(col(qVec))),
      qVec, "pqTopK")
    rankCandidates(qs,
      pqDecode(pqEncode(corpus, cId, cVec, dims, m, cb), cId, cb)
        .withColumnRenamed("__rv", "__cv"),
      qId, qVec, cId, k, on = None,
      rerank = Some((shortlist, corpus.select(col(cId), col(cVec).as("__fv")))))
  }

  /** [[pqEncode]] at the width the PQ codebook itself implies
    * (m × sub-centroid length) — what a layout's encode step uses, so
    * no caller threads `dims` beside a persisted codebook. */
  private[pipeline] def pqEncodeWith(corpus: DataFrame, cId: String,
                                     cVec: String, m: Int,
                                     cb: DataFrame): DataFrame =
    pqEncode(corpus, cId, cVec,
      m * cb.select(size(col("centroid"))).head().getInt(0), m, cb)

  /** (m, kCents) of a PQ artifact from its `pq_codebook` parquet
    * FOOTERS (max sub + 1, max cent_id + 1) — metadata only, no job;
    * one tiny aggregate only when the stats are unusable. */
  private[pipeline] def pqGeometry(spark: org.apache.spark.sql.SparkSession,
                                   root: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$root/pq_codebook")
    val files = dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    def count(c: String): Int = {
      val ms = files.map(partMaxLong(conf, _, c))
      (if (ms.nonEmpty && ms.forall(_.nonEmpty)) ms.flatten.max
       else spark.read.parquet(dir.toString).agg(max(col(c)).cast("long"))
         .head().getLong(0)).toInt + 1
    }
    (count("sub"), count("cent_id"))
  }

  /** `payload` columns of `corpus` joined back ONCE onto encoded rows
    * (the layouts whose encoders work on (id, vector) alone). */
  private[pipeline] def withPayloadCols(rows: DataFrame, corpus: DataFrame,
                                        cId: String,
                                        payload: Seq[String]): DataFrame =
    if (payload.isEmpty) rows
    else rows.join(corpus.select(col(cId) +: payload.map(col): _*), Seq(cId))

  // ---- Residual IVF×PQ (IVFADC) ----------------------------------
  // PQ over RESIDUALS r = x − c(cell) instead of raw vectors: within
  // a cell, residuals center near zero, so the same m×kCents code
  // budget spends itself on local structure instead of re-encoding
  // the cell mean — the standard composition (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", the IVFADC layout)
  // and the accuracy answer when coarse cells are real clusters.

  /** `assigned` (…, cell_id, cVec) with the residual against the
    * assigned coarse centroid as `__res` (array<double>). Double
    * IEEE subtraction of exactly the doubles both engines derive, so
    * the generated oracle replays it bit for bit. */
  private[pipeline] def withResiduals(assigned: DataFrame, cVec: String,
                                      codebook: DataFrame): DataFrame =
    assigned.join(broadcast(codebook), Seq("cell_id"))
      .withColumn("__res", zip_with(col(cVec).cast("array<double>"),
        col("centroid"), (x, c) => x - c))
      .drop("centroid")

  /** The fine→coarse cell map of a TWO-LEVEL quantizer: every fine
    * centroid labeled with its nearest coarse cell (same argmax order
    * as vector assignment). Tiny — nFine rows — and broadcast
    * downstream. */
  private def fineToCoarse(fine: DataFrame, coarse: DataFrame): DataFrame =
    assignCellsByJoin(
      fine.select(col("cell_id").as("__fine"), col("centroid").as("__fc")),
      "__fine", "__fc",
      coarse)
      .select(col("__fine"), col("__fc"), col("cell_id").as("__cc"))

  /** TWO-LEVEL (coarse → fine) top-`nProbe` fine-cell ranking: rank
    * the small coarse codebook first (nCoarse comparisons), keep each
    * vector's `coarseProbe` best coarse cells, then rank only the
    * fine cells UNDER those coarse cells. Per-vector work falls from
    * O(nFine) to O(nCoarse + coarseProbe·nFine/nCoarse) — the
    * standard hierarchical-quantizer cut (√nFine-ish per level), and
    * the answer to flat assignment's O(rows × nCells) at extreme
    * nCells. Approximate by construction: a fine cell under an
    * unprobed coarse cell is invisible (recall follows coarseProbe,
    * measurable the q_ann_recall way). `nProbe = 1` IS two-level
    * assignment. Returns one row per (vId, probed fine cell_id),
    * ordering (cos DESC, cell_id ASC) at every level. */
  def probeCellsTwoLevel(vectors: DataFrame, vId: String, vVec: String,
                         fine: DataFrame, coarse: DataFrame,
                         coarseProbe: Int, nProbe: Int): DataFrame = {
    val wc = Window.partitionBy(col(vId))
      .orderBy(col("__ccos").desc, col("__cc").asc)
    val vcoarse = vectors.select(col(vId), col(vVec))
      .crossJoin(broadcast(coarse.select(col("cell_id").as("__cc"),
        col("centroid").as("__cv"))))
      .withColumn("__ccos", cosinePreNormed(dot(col(vVec), col("__cv")),
        norm(col(vVec)), norm(col("__cv"))))
      .withColumn("__crn", row_number().over(wc))
      .filter(col("__crn") <= coarseProbe)
      .select(col(vId), col(vVec), col("__cc"))
    val wf = Window.partitionBy(col(vId))
      .orderBy(col("__cos").desc, col("__fine").asc)
    vcoarse.join(broadcast(fineToCoarse(fine, coarse)), Seq("__cc"))
      .withColumn("__cos", cosinePreNormed(dot(col(vVec), col("__fc")),
        norm(col(vVec)), norm(col("__fc"))))
      .withColumn("__rn", row_number().over(wf))
      .filter(col("__rn") <= nProbe)
      .select(col(vId), col(vVec), col("__fine").as("cell_id"))
  }

  // ---- Late-interaction (maxsim / multi-vector) retrieval ----------
  // The quality step between BM25/bi-encoder retrieval and a
  // cross-encoder in training-data mining: documents and queries are
  // BAGS of per-token vectors, and score(q, d) =
  // Σ_{query tokens} max_{doc tokens} cos(qt, dt) — ColBERT's maxsim.
  // One join + two aggregates; no new operator machinery.

  /** Deterministic per-token pseudo-embedding — the md5-20-bit hash
    * space of [[syntheticCodebook]] applied to a TOKEN string, so a
    * SQL oracle regenerates every vector bit for bit. Stands in for a
    * real token-embedding lookup table (same shape: token → dims
    * floats); swap in a broadcast-joined embedding table in
    * production. */
  def tokenVector(token: Column, dims: Int, tag: String = "tv"): Column =
    array((0 until dims).map { j =>
      (conv(substring(md5(concat_ws("-", lit(tag), token, lit(j))),
        1, 5), 16, 10).cast("long") % 2001 - 1000) / lit(1000.0)
    }: _*)

  /** Typed twin of [[tokenVector]] for CORPUS-SIDED derivations:
    * appends `out` = the identical md5-derived vector of `tokenCol`
    * in ONE native pass with a per-task token→vector memo. The
    * Catalyst form evaluates `dims` md5/hex-conv expression chains
    * per ROW; corpora repeat tokens (Zipf), so the memo computes each
    * DISTINCT token's `dims` digests once per task — measured as the
    * dominant expression cost of the whole maxsim family. Values are
    * bit-identical: MessageDigest md5 = SQL md5, the first 5 hex
    * digits are the digest's top 20 bits, and the `% 2001 - 1000`
    * then IEEE `/1000.0` arithmetic is replayed exactly (same oracle
    * formula). The memo is a byte-bounded [[TaskMemo]]: adversarial
    * all-unique token streams degrade to the uncached cost, and wide
    * vectors cannot multiply its footprint. */
  def withTokenVectors(df: DataFrame, tokenCol: String, dims: Int,
                       out: String, tag: String = "tv"): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(out,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)))
    val tokIdx = df.schema.fieldIndex(tokenCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val vecOf = new TaskMemo[Array[Double]](TaskMemo.MaxBytes,
          TaskMemo.DoublesBytes)({ t =>
        val v = new Array[Double](dims)
        var j = 0
        while (j < dims) {
          val d = md.digest(s"$tag-$t-$j".getBytes("UTF-8"))
          // first 5 hex digits = top 20 bits of the digest
          val h = ((d(0) & 0xffL) << 12) | ((d(1) & 0xffL) << 4) |
            ((d(2) & 0xf0L) >> 4)
          v(j) = (h % 2001L - 1000L).toDouble / 1000.0
          j += 1
        }
        v
      })
      it.map { r =>
        val t = r.getString(tokIdx)
        val vec: Seq[Double] =
          if (t == null) null
          else scala.collection.immutable.ArraySeq.unsafeWrapArray(vecOf(t))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ vec)
      }
    }(enc)
  }

  /** THE corpus token-vector derivation of the maxsim family: the
    * DISTINCT (doc, token) pairs of a space-split text column
    * (maxsim's max over a multiset equals the max over its set; empty
    * tokens dropped) with each token's md5 vector as `out`, via the
    * memoized [[withTokenVectors]] pass. Returns (idCol, `__tok`, out). */
  def docTokenVectors(docs: DataFrame, idCol: String, textCol: String,
                      dims: Int, out: String): DataFrame =
    withTokenVectors(
      docs.select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
        .filter(length(col("__tok")) > 0)
        .distinct(),
      "__tok", dims, out)

  /** MaxSim (late-interaction) top-k over multi-vector frames:
    * `queryTokens` (qId, qPos, qVec) × `docTokens` (dId, dVec) →
    * per (query, doc, query-token) the best doc-token cosine, floored
    * to micro units, then summed per (query, doc) as LONGS — the
    * per-token maxes are exact doubles and the long sum is
    * associative, so `maxsim_micro` is bit-stable across engines and
    * partitionings (the BM25 contribution trick). Ranking
    * (maxsim_micro DESC, dId ASC), ≤ k rows per query.
    *
    * Shape: the query side broadcasts through the measured gate, doc
    * tokens are never shuffled before the first aggregate, and BOTH
    * aggregates are map-side combinable. Work is
    * |doc tokens| × |query tokens| cosines — the exact/brute path;
    * [[maxSimTopKIndexed]] is the candidate-pruned form. */
  def maxSimTopK(queryTokens: DataFrame, docTokens: DataFrame,
                 qId: String, qPos: String, qVec: String,
                 dId: String, dVec: String, k: Int): DataFrame = {
    val qa = boundedBroadcast(
      queryTokens.select(col(qId), col(qPos), col(qVec))
        .withColumn("__qn", norm(col(qVec))), qVec, "maxSimTopK")
    maxSimRank(
      maxSimScore(qa, docTokens.select(col(dId), col(dVec)),
        qId, qPos, qVec, dId, dVec),
      qId, dId, k)
  }

  /** The shared maxsim scoring: broadcast query-token frame (carrying
    * __qn) × (dId, dVec) doc tokens → one row per (query, doc) with
    * the long maxsim score. Both aggregates map-side combine. */
  private def maxSimScore(qa: DataFrame, docTokens: DataFrame,
                          qId: String, qPos: String, qVec: String,
                          dId: String, dVec: String): DataFrame =
    docTokens
      .withColumn("__dn", norm(col(dVec)))
      .crossJoin(qa)
      .withColumn("__cos", cosinePreNormed(dot(col(qVec), col(dVec)),
        col("__qn"), col("__dn")))
      .groupBy(col(qId), col(dId), col(qPos))
      .agg(max(col("__cos")).as("__mx"))
      .groupBy(col(qId), col(dId))
      .agg(sum(floor(col("__mx") * 1e6).cast("long")).as("maxsim_micro"),
        count(lit(1)).as("qtokens_hit"))

  /** Per-query ranking of a maxsim-scored frame:
    * (maxsim_micro DESC, dId ASC), ≤ k rows per query. */
  private def maxSimRank(scored: DataFrame, qId: String, dId: String,
                         k: Int): DataFrame = {
    val w = Window.partitionBy(col(qId))
      .orderBy(col("maxsim_micro").desc, col(dId).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[maxSimTopK]] with IVF-INDEXED candidate generation — the scale
    * form: doc TOKENS live in a persisted index ([[build]]) keyed by
    * a token-instance id with the doc id as payload; each query token
    * retrieves its `candTok` nearest token instances through the
    * probed-cell index (partition-pruned, snapshot-isolated, erasure-
    * aware — the standard tail), the UNION of their doc ids is the
    * candidate set, and the EXACT maxsim re-scores only those docs'
    * tokens — the candidate restriction applies BEFORE ranking, so
    * ranks stay contiguous. Recall follows (nProbe, candTok) like
    * every IVF restriction and is measurable the q_ann_recall way;
    * scores of surviving (query, doc) pairs are IDENTICAL to the
    * brute form's.
    *
    * `docTokens` must carry (tokId, dId, dVec) — the same rows the
    * index was built from (tokVec names the index's vector column,
    * dVec this frame's). Query ids must be non-negative with
    * qPos < 1e6 (the composite probe id is qId·1e6 + qPos + 1e12,
    * the passageTopK convention plus an offset), and token-instance
    * ids must stay below 1e12.
    *
    * `validateTokenIds` (default true) bounds the INDEX's token ids
    * from its parquet FOOTER statistics ([[footerMaxLong]] — metadata
    * round trips, no data scan, and the index is where a colliding id
    * would actually corrupt the candidate tail), so the default is
    * both loud and serving-cheap; only when stats are unusable does
    * it fall back to one exact columnar max over `docTokens`. A 100 TB
    * deployment whose ids are validated ONCE at build passes false to
    * skip even the footer sweep; the query-side guards are
    * frame-bounded and always run. */
  /** The composite-id preconditions of the indexed maxsim forms,
    * ENFORCED (not just documented), then the probe frame
    * (`__qt` = qId·1e6 + qPos + 1e12, qVec): a violating caller would
    * otherwise get silently wrong candidate sets (probe-id collisions
    * with real instances) or misattributed query ids (qPos under/
    * overflow), never an error. The query frame is broadcast-gated
    * small, so this aggregate is one tiny job. ALL FOUR bounds
    * matter: a negative qPos would floor-divide into the WRONG query
    * id (and at qId=0 underflow below the 1e12 offset into token-id
    * space), and a huge qId would overflow the Long composite. */
  private def maxsimProbeTokens(spark: org.apache.spark.sql.SparkSession,
                                root: String, queryTokens: DataFrame,
                                qId: String, qPos: String, qVec: String,
                                tokId: String, validateTokenIds: Boolean,
                                tokens: => DataFrame): DataFrame = {
    val qg = queryTokens.agg(
      min(col(qId).cast("long")), max(col(qId).cast("long")),
      min(col(qPos).cast("long")), max(col(qPos).cast("long"))).head()
    if (!qg.isNullAt(0)) {
      require(qg.getLong(0) >= 0,
        s"maxSimTopKIndexed needs non-negative query ids ($qId)")
      require(qg.getLong(1) < 9000000000000L,
        s"maxSimTopKIndexed needs $qId < 9e12 (composite Long headroom)")
      require(qg.getLong(2) >= 0,
        s"maxSimTopKIndexed needs non-negative $qPos (composite probe-id scheme)")
      require(qg.getLong(3) < 1000000L,
        s"maxSimTopKIndexed needs $qPos < 1e6 (composite probe-id scheme)")
    }
    if (validateTokenIds)
      // bound the ids IN THE INDEX (where a collision with the
      // composite probe-id space would corrupt the candidate tail)
      // from footer stats, memoized per committed generation (appends
      // invalidate the key); one exact aggregate over `tokens` only
      // when the stats are unusable
      cachedFooterMaxLong(spark, root, tokId) match {
        case Some(mx) =>
          require(mx < 1000000000000L,
            s"maxSimTopKIndexed needs token-instance ids < 1e12 ($tokId): " +
              s"index at $root holds $mx")
        case None =>
          val tg = tokens.agg(max(col(tokId).cast("long"))).head()
          require(tg.isNullAt(0) || tg.getLong(0) < 1000000000000L,
            s"maxSimTopKIndexed needs token-instance ids < 1e12 ($tokId)")
      }
    // composite probe id offset above any token-instance id (< 1e12),
    // so the index tail's query≠candidate self-exclusion (meant for
    // corpus-queries) can never collide with a real instance
    queryTokens.select(
      (col(qId).cast("long") * 1000000L + col(qPos) +
        lit(1000000000000L)).as("__qt"), col(qVec))
  }

  def maxSimTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        queryTokens: DataFrame, qId: String, qPos: String,
                        qVec: String, path: String, tokId: String,
                        tokVec: String, docTokens: DataFrame,
                        dId: String, dVec: String,
                        k: Int, nProbe: Int, candTok: Int,
                        validateTokenIds: Boolean = true): DataFrame = {
    val qt = maxsimProbeTokens(spark, IndexGen.resolveRoot(spark, path),
      queryTokens, qId, qPos, qVec, tokId, validateTokenIds, docTokens)
    val hits = search(spark, qt, "__qt", qVec, path,
      tokId, tokVec, k = candTok, nProbe = nProbe)
    val cand = hits
      .join(docTokens.select(col(tokId), col(dId)), Seq(tokId))
      .withColumn("__q0", col("__qt") - lit(1000000000000L))
      .select(((col("__q0") - pmod(col("__q0"), lit(1000000L))) /
        lit(1000000L)).cast("long").as(qId), col(dId))
      .distinct()
    val qa = boundedBroadcast(
      queryTokens.select(col(qId), col(qPos), col(qVec))
        .withColumn("__qn", norm(col(qVec))), qVec, "maxSimTopKIndexed")
    // doc tokens restricted to candidate docs before scoring, scored
    // pairs restricted to candidate PAIRS before ranking
    val dt = docTokens.select(col(dId), col(dVec))
      .join(cand.select(col(dId)).distinct(), Seq(dId), "left_semi")
    maxSimRank(
      maxSimScore(qa, dt, qId, qPos, qVec, dId, dVec)
        .join(cand, Seq(qId, dId), "left_semi"),
      qId, dId, k)
  }
  /** [[maxSimTopKIndexed]] with the doc-token frame read FROM THE
    * ARTIFACT ITSELF — the self-contained serving form: the cells
    * rows ARE the (tokId, dId payload, tokVec) instances the index
    * was built from, so a serving layer needs no corpus access at
    * all — no per-request explode/dedup/window re-derivation of
    * token instances (a corpus-sized sort at scale), and erasure
    * applies via the live-cells reads (delete sets included) instead
    * of trusting the caller to filter their frame. Results are
    * identical to the explicit-frame form over the same build. The
    * artifact must carry `dId` as a payload column
    * ([[maxSimTopKIndexed]]'s build contract).
    *
    * Unlike the explicit-frame form (whose docTokens the caller may
    * share across calls), BOTH artifact scans here are file-skipped
    * through the cells manifests ([[readLiveCellsPruned]]): the
    * candidate→doc map lists only files that can hold a HIT instance
    * id, and the re-score lists only files that can hold a CANDIDATE
    * doc — both driver sets bounded by |query tokens| · candTok. Per
    * request the scan cost is then proportional to the candidate
    * set, not the corpus, once the store has folded with
    * [[maxsimIndexMaintenanceOptions]] (without recorded stats every
    * part is kept and this degrades to exactly the unpruned read). */
  def maxSimTopKIndexedSelf(spark: org.apache.spark.sql.SparkSession,
                            queryTokens: DataFrame, qId: String,
                            qPos: String, qVec: String, path0: String,
                            tokId: String, tokVec: String, dId: String,
                            k: Int, nProbe: Int, candTok: Int,
                            validateTokenIds: Boolean = true): DataFrame = {
    val path = IndexGen.resolveRoot(spark, path0)
    // no caller frame here: the stats-unusable fallback aggregates
    // the artifact itself
    val qt = maxsimProbeTokens(spark, path, queryTokens, qId, qPos, qVec,
      tokId, validateTokenIds, readLiveCells(spark, path))
    // candidate stage: probed-cell INSET scan, ≤ |qTokens|·candTok
    // rows — staged because three consumers read it (id collect,
    // doc-map join, query-id recovery). LAZY: the skip-key collect
    // right below is the first action, so materializing the
    // checkpoint and collecting the keys share ONE job (the
    // boundedBroadcast probe-fusion pattern) instead of spending a
    // separate eager-checkpoint job per request.
    val hits = graft.engine.Staging.stage(
      search(spark, qt, "__qt", qVec, path0,
        tokId, tokVec, k = candTok, nProbe = nProbe), eager = false)
    // driver skip-set cap: the candidate set is |qTokens|·candTok by
    // construction, but candTok is caller-chosen — over the cap the
    // read falls back to UNPRUNED (still exact; only the file
    // skipping is lost), never an unbounded driver collect
    val maxSkipKeys = 100000
    // keys for pruning PLUS the exact row count behind them (one
    // grouped collect — same single job that materializes the lazy
    // checkpoint): the count is the broadcast-hint evidence below
    case class SkipEvidence(keys: IndexedSeq[Any], rows: Long)
    def skipKeys(ds: DataFrame, c: String): Option[SkipEvidence] = {
      val grouped = ds.groupBy(col(c)).agg(count(lit(1)).as("__n"))
        .limit(maxSkipKeys + 1).collect()
      if (grouped.length > maxSkipKeys) None
      else Some(SkipEvidence(grouped.map(_.get(0)).toIndexedSeq,
        grouped.iterator.map(_.getLong(1)).sum))
    }
    def prunedOrAll(keys: Option[SkipEvidence], c: String): DataFrame =
      keys match {
        case Some(ev) => readLiveCellsPruned(spark, path,
          Seq(graft.sources.Compact.PartIn(c, ev.keys)))
        case None => readLiveCells(spark, path)
      }
    // candidate→doc map: only files whose manifest stats/blooms admit
    // a hit instance id are listed. The skip-key collect doubles as
    // SIZE EVIDENCE (guide §3.1 — post-aggregation estimates are
    // unknown, so the planner would pick a sort-merge join that
    // shuffles the ARTIFACT side): the grouped collect measured the
    // frame's EXACT row count, and these frames are ids+rank+score
    // wide (~128 B framed), so rows·128 ≤ the session broadcast
    // budget is byte evidence in the boundedBroadcast sense — a
    // wider future schema or a huge batched request withholds the
    // hint instead of silently promising executors an OOM. Over the
    // skip-key cap the hint is withheld along with the file skipping.
    val hintBudget = graft.engine.Staging.broadcastBudget(spark)
    val hitKeys = skipKeys(hits, tokId)
    def hinted(df: DataFrame, evidence: Option[SkipEvidence]): DataFrame =
      evidence match {
        case Some(ev) if ev.rows * 128L <= hintBudget => broadcast(df)
        case _ => df
      }
    val docMap = prunedOrAll(hitKeys, tokId)
      .select(col(tokId), col(dId))
    // LAZY for the same job-fusion reason: the dId skip-key collect
    // below materializes the checkpoint in the same job.
    val cand = graft.engine.Staging.stage(hinted(hits, hitKeys)
      .join(docMap, Seq(tokId))
      .withColumn("__q0", col("__qt") - lit(1000000000000L))
      .select(((col("__q0") - pmod(col("__q0"), lit(1000000L))) /
        lit(1000000L)).cast("long").as(qId), col(dId))
      .distinct(), eager = false)
    // re-score: only files that can hold a candidate doc; the
    // semi-join below stays the exact semantic restriction (and the
    // candidate side broadcasts on the same measured evidence)
    val candKeys = skipKeys(cand, dId)
    val dt = prunedOrAll(candKeys, dId)
      .select(col(dId), col(tokVec))
      .join(hinted(cand.select(col(dId)).distinct(), candKeys),
        Seq(dId), "left_semi")
    val qa = boundedBroadcast(
      queryTokens.select(col(qId), col(qPos), col(qVec))
        .withColumn("__qn", norm(col(qVec))), qVec, "maxSimTopKIndexedSelf")
    maxSimRank(
      maxSimScore(qa, dt, qId, qPos, qVec, dId, tokVec)
        .join(hinted(cand, candKeys), Seq(qId, dId), "left_semi"),
      qId, dId, k)
  }

  /** The maintenance options a TOKEN-INSTANCE (maxsim) cells store
    * should fold with ([[compactIndexCells]]'s `opts`): per-part
    * min/max stats for (tokId, dId), a bloom on dId, and
    * range-clustered merges on tokId. Because the build contract's
    * composite id (tokId = dId·1e6 + rank) makes tokId order imply
    * dId order, one clustering serves BOTH pruned scans of
    * [[maxSimTopKIndexedSelf]]: near-disjoint per-file tokId ranges
    * for the candidate→doc map, near-disjoint dId ranges (plus the
    * bloom) for the re-score. */
  def maxsimIndexMaintenanceOptions(tokId: String, dId: String)
      : graft.sources.Compact.Options =
    graft.sources.Compact.Options(
      statsCols = Seq(tokId, dId), bloomCols = Seq(dId),
      clusterByRange = true, sortCols = Seq(tokId))

  sealed trait CandidateSource
  /** Exact: broadcast cross join (queries must be small). */
  case object Brute extends CandidateSource
  /** Random-hyperplane LSH buckets (the 100 TB path). */
  final case class Lsh(planes: Int = 8) extends CandidateSource
  /** IVF coarse cells seeded from the lowest-id corpus vectors. */
  final case class Ivf(nCells: Int = 16) extends CandidateSource
  /** Both frames already carry a `bucket` column to equi-join on. */
  case object PreBucketed extends CandidateSource

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the negatives a contrastive batch builder pairs against the
    * anchor. The label inequality applies BEFORE ranking, so true
    * positives can never crowd negatives out of the top-k.
    *
    * `source` picks the candidate path: [[Brute]] is exact and
    * broadcast-bounded; [[Lsh]]/[[Ivf]] are the bucketed scale paths
    * (identical shape to [[lshTopK]]/[[ivfTopK]]: the corpus is never
    * shuffled, candidates form per-bucket, recall < 1 by
    * construction — measure it like q_ann_recall does). Output:
    * (qId, negative_id, rank, neg_label, cos_sim), rank 1-based with
    * the deterministic (cos DESC, id ASC) tie-break. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    qId: String, qVec: String, qLabel: String,
                    cId: String, cVec: String, cLabel: String,
                    k: Int, source: CandidateSource = Brute): DataFrame = {
    // every source broadcasts the query side — all four run through
    // the measured-evidence gate, so an oversized query set fails
    // loudly with the Lsh/Ivf pointer instead of OOMing executors
    val cn = corpus.withColumn("__cn", norm(col(cVec)))
    val qn = queries.withColumn("__qn", norm(col(qVec)))
    val cand = source match {
      case Brute =>
        cn.crossJoin(boundedBroadcast(qn, qVec, "hardNegatives(Brute)"))
      case Lsh(planes) =>
        cn.withColumn("__bucket", lshSignature(col(cVec), planes))
          .join(boundedBroadcast(qn.withColumn("__bucket",
            lshSignature(col(qVec), planes)), qVec, "hardNegatives(Lsh)"),
            Seq("__bucket"))
      case Ivf(nCells) =>
        val assign = ivfAssigner(corpus, cId, cVec, nCells)
        cn.withColumn("__cell", assign(col(cVec)))
          .join(boundedBroadcast(qn.withColumn("__cell", assign(col(qVec))),
            qVec, "hardNegatives(Ivf)"), Seq("__cell"))
      case PreBucketed =>
        cn.join(boundedBroadcast(qn, qVec, "hardNegatives(PreBucketed)"),
          Seq("bucket"))
    }
    val scored = cand
      .filter(col(qId) =!= col(cId) && col(cLabel) =!= col(qLabel))
      .withColumn("cos_sim", cosinePreNormed(dot(col(qVec), col(cVec)),
        col("__qn"), col("__cn")))
    topKPerQuery(scored.select(col(qId), col(cId), col("cos_sim")), qId, cId, k)
      .join(corpus.select(col(cId), col(cLabel)), cId)
      .select(col(qId), col(cId).as("negative_id"), col("rank"),
        col(cLabel).as("neg_label"), col("cos_sim"))
  }
}
