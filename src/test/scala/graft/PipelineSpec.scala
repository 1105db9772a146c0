package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {

  test("staging modes local/reliable/parquet produce identical pipeline results") {
    import spark.implicits._
    import graft.engine.Staging
    // a corpus with exact dups (star collapse), near-dups (banding +
    // verify), and singletons — exercises every staged frame in the
    // portable pipeline (reps, shingle hashes) plus the clustering
    // loop's per-round cuts
    val docs = (0 until 120).map { i =>
      val fam = i % 10
      val base = s"alpha beta gamma delta epsilon zeta eta theta fam$fam " +
        s"iota kappa lambda mu nu xi omicron pi rho sigma"
      val text =
        if (i % 10 < 3) base // exact triplets per family
        else if (i % 10 < 6) base + s" tail$i" // near-dups
        else base.replace("alpha", s"uniq$i") + s" solo$i distinct$i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    def pairs(): Seq[(Long, Long)] =
      Dedup.minhashDupPairsPortable(docs, "doc_id", "text", shingleN = 2)
        .select(col("id_a"), col("id_b")).as[(Long, Long)]
        .collect().toSeq.sorted
    def clusters(): Seq[(Long, Long)] = {
      val p = Dedup.minhashDupPairsPortable(docs, "doc_id", "text", shingleN = 2)
        .select(col("id_a"), col("id_b"))
      Dedup.dupClusters(p, "id_a", "id_b")
        .as[(Long, Long)].collect().toSeq.sorted
    }
    val prev = spark.conf.getOption(Staging.ModeKey)
    try {
      val got = Seq("local", "reliable", "parquet").map { m =>
        spark.conf.set(Staging.ModeKey, m)
        (m, pairs(), clusters())
      }
      val (_, p0, c0) = got.head
      assert(p0.nonEmpty && c0.nonEmpty, "fixture must produce dups")
      for ((m, p, c) <- got.tail) {
        assert(p == p0, s"mode $m: pair set diverged from local")
        assert(c == c0, s"mode $m: cluster set diverged from local")
      }
      // parquet staging actually wrote scratch files
      spark.conf.set(Staging.ModeKey, "parquet")
      val root = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft-staging-" + spark.sparkContext.applicationId)
      assert(root.isDirectory && root.listFiles().nonEmpty,
        "parquet mode must stage through the scratch root")
      // an unknown mode fails loudly, never silently degrades
      spark.conf.set(Staging.ModeKey, "bogus")
      intercept[IllegalArgumentException](pairs())
    } finally prev match {
      case Some(v) => spark.conf.set(Staging.ModeKey, v)
      case None    => spark.conf.unset(Staging.ModeKey)
    }
  }

  test("Staging.concurrently preserves order, values, and failures") {
    import graft.engine.Staging
    import spark.implicits._
    // order + values: thunks returning distinct frames come back in
    // input order with the exact rows a serial build produces — and
    // the thunks really run off the calling thread with a usable
    // active session (the .count() action inside each proves it)
    val built = Staging.concurrently[org.apache.spark.sql.DataFrame](
      (0 until 4).map(i => () => {
        val df = Seq((i.toLong, s"v$i")).toDF("k", "v")
        assert(df.count() == 1)
        df
      }))
    assert(built.map(_.select("v").head().getString(0)) ==
      (0 until 4).map(i => s"v$i"))
    // single-thunk fast path stays on the calling thread
    val tid = Thread.currentThread().getId
    val Seq(sameThread) = Staging.concurrently[Long](
      Seq(() => Thread.currentThread().getId))
    assert(sameThread == tid, "single thunk must not spawn a thread")
    // a failing thunk rethrows AFTER every thread stopped, and the
    // failure is the thunk's own exception
    val boom = intercept[IllegalStateException](
      Staging.concurrently[Int](Seq(
        () => 1,
        () => throw new IllegalStateException("chain failed"),
        () => 3)))
    assert(boom.getMessage == "chain failed")
  }

  test("redactPii scrubs emails, IPs, and phones in order") {
    import spark.implicits._
    val rows = Seq(
      "mail bob.smith+tag@sub.example.org now",
      "host 192.168.001.1 and 8.8.8.8 up",
      "call +1 (555) 867-5309 today",
      // the email's host dots must NOT be re-matched as an IP,
      // and plain integers / short runs stay untouched
      "v1.2 x@y.io 42",
      "clean text only"
    ).toDF("t")
    val out = rows.select(graft.pipeline.TextAnalysis.redactPii(col("t")))
      .collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "host <IP> and <IP> up")
    assert(out(2) == "call <PHONE> today")
    assert(out(3) == "v1.2 <EMAIL> 42")
    assert(out(4) == "clean text only")
  }

  test("benchmarkOverlapPortable: full, partial, zero, and short-doc overlap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),        // grams abc,bcd — both in benchmark -> 1.0
      (2L, "a b c x y"),      // abc in benchmark, bcx/cxy not -> 1/3
      (3L, "p q r s"),        // disjoint -> 0.0
      (4L, "a b")             // shorter than n -> 0 grams, overlap 0
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup
      .benchmarkOverlapPortable(docs, "doc_id", "text", bench, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((3L, 1L, 0.333333)))
    assert(out(3L)._3 == 0.0)
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("sampleByStrata: rate 0 and 1000 are exact; gate is deterministic") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    def run() = graft.pipeline.Sampling.sampleByStrata(
      docs, "source", "doc_id", Map("a" -> 0, "b" -> 1000))
      .collect().map(_.getLong(0)).sorted.toSeq
    val kept = run()
    assert(kept == (1L to 200L by 2), "rate 0 drops all of a; 1000 keeps all of b")
    assert(run() == kept, "hash gate is reproducible")
    // a mid rate keeps a stable strict subset
    val half = graft.pipeline.Sampling.sampleByStrata(
      docs, "source", "doc_id", Map("b" -> 500), defaultPermille = 0)
      .collect().map(_.getLong(0)).toSet
    assert(half.nonEmpty && half.size < 100 + 20 && half.forall(_ % 2 == 1))
  }

  test("assignSplit: partition is total, deterministic, and append-stable") {
    import spark.implicits._
    val docs = (1L to 500L).toDF("doc_id")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Sampling.assignSplit(d, "doc_id",
        valPermille = 100, testPermille = 50)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val splits = run(docs)
    assert(splits.size == 500, "every row gets exactly one split")
    assert(splits.values.toSet.subsetOf(Set("train", "validation", "test")))
    val byName = splits.values.groupBy(identity).view.mapValues(_.size).toMap
    // expected ~425/50/25; the md5 gate is uniform enough at n=500
    // that each split lands well inside binomial bounds
    assert(byName("train") > 350 && byName("validation") > 20 &&
      byName("test") > 5, s"implausible split sizes: $byName")
    assert(run(docs) == splits, "assignment is reproducible")
    // append-stability: assigning a superset never reshuffles old rows
    val grown = run((1L to 700L).toDF("doc_id"))
    assert(splits.forall { case (id, s) => grown(id) == s },
      "existing rows changed split when new rows were appended")
    // boundary rates: test=0 yields no test rows; val+test=1000 no train
    val noTest = graft.pipeline.Sampling.assignSplit(docs, "doc_id", 100, 0)
      .filter(col("split") === "test").count()
    assert(noTest == 0)
    val noTrain = graft.pipeline.Sampling.assignSplit(docs, "doc_id", 500, 500)
      .filter(col("split") === "train").count()
    assert(noTrain == 0)
    // a NULL id has no defined gate -> NULL split, never silently
    // 'train' (training-set contamination); same convention as
    // sampleByStrata's null-key drop
    val withNull = spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id")
      .union((1L to 3L).toDF("doc_id"))
    val nullSplit = graft.pipeline.Sampling.assignSplit(withNull, "doc_id", 100, 50)
      .filter(col("doc_id").isNull).collect()
    assert(nullSplit.length == 1 && nullSplit(0).isNullAt(1),
      "null id must yield null split")
  }

  test("topTfidfTerms ranks document-salient terms above corpus-common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the apple apple banana"),
      (2L, "the the cherry cherry cherry"),
      (3L, "the durian")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTfidfTerms(docs, "doc_id", "text", topPerDoc = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // 'the' appears in all 3 docs -> idf 0 -> score 0, always ranked last
    val idf2 = math.floor(math.log(3.0 / 2) * 1e6).toLong // df=2 terms: none here
    val idf1 = math.floor(math.log(3.0) * 1e6).toLong     // unique terms
    assert(out((1L, 1)) == (("apple", 2L, 2 * idf1)))
    assert(out((1L, 2)) == (("banana", 1L, idf1)))
    assert(out((2L, 1)) == (("cherry", 3L, 3 * idf1)))
    assert(out((2L, 2)) == (("the", 2L, 0L)))
    assert(out((3L, 1)) == (("durian", 1L, idf1)))
    assert(out((3L, 2)) == (("the", 1L, 0L)))
    assert(idf2 > 0, "df=2 idf is positive (sanity on the quantization)")
    // at most topPerDoc rows per doc
    assert(out.keys.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("dupClusters closes pairs transitively") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3 (1,3 never paired); {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id_a", "id_b")
    val clusters = graft.pipeline.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // the distributed propagation loop (smallGraphEdges = 0 forces it)
    // must converge to the identical labels
    val distributed = graft.pipeline.Dedup.dupClusters(pairs, smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == clusters)
    // non-convergence fails LOUDLY, never silently-split clusters: a
    // 6-node chain needs 5 propagation rounds, maxIter=2 cannot finish
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    assertThrows[IllegalStateException](
      graft.pipeline.Dedup.dupClusters(chain, maxIter = 2, smallGraphEdges = 0L))
  }

  test("distributed clustering converges in log rounds on a 4096-node chain") {
    import spark.implicits._
    // a path graph is the adversarial diameter case: plain min-label
    // propagation needs 4095 rounds (old behavior: IllegalStateException
    // at maxIter=30); alternating large-star/small-star must finish a
    // 2^12-node chain comfortably inside 30 log-scale rounds AND put
    // every node in cluster 1
    val chain = (1L to 4096L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val labels = graft.pipeline.Dedup.dupClusters(chain, smallGraphEdges = 0L)
      .collect()
    assert(labels.length == 4096)
    assert(labels.forall(_.getLong(1) == 1L))
  }

  test("dupClusters leaves no CacheManager entries; result survives lineage-free") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id_a", "id_b")
    def cachedIds = sc.getPersistentRDDs.keySet
    val base = cachedIds

    // driver fast path: nothing persists at any point
    graft.pipeline.Dedup.dupClusters(pairs).collect()
    assert((cachedIds -- base).isEmpty, "fast path must not cache")

    // distributed path: every loop frame (p, edges, per-round labels)
    // is released before return; the only surviving blocks are the
    // result's own lineage-cut checkpoint, which travels with the
    // returned frame instead of leaking a CacheManager entry for the
    // application lifetime
    val labels = graft.pipeline.Dedup.dupClusters(pairs, smallGraphEdges = 0L)
    assert((cachedIds -- base).size <= 1,
      "only the returned frame's own checkpoint may remain")
    assert(labels.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "no CacheManager entry on the result")
    assert(labels.queryExecution.optimizedPlan.collect {
      case p if p.nodeName.contains("InMemoryRelation") => p
    }.isEmpty, "result must not depend on any cached loop frame")
    // the result is still correct AFTER everything internal released
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))

    // the non-convergence throw releases the loop frames too
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val preThrow = cachedIds
    assertThrows[IllegalStateException](
      graft.pipeline.Dedup.dupClusters(chain, maxIter = 2, smallGraphEdges = 0L))
    assert((cachedIds -- preThrow).isEmpty, "failed run must not leak")
  }

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs(Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z"))), "doc_id", Seq("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_count")).toMap
    assert(d == Map(1L -> 2L, 3L -> 1L))
  }

  test("shingles and jaccard behave") {
    val df = docs(Seq((1L, "a b c d"))).select(
      Dedup.shingles(col("text"), 2).as("sh"))
    val sh = df.collect()(0).getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
  }

  test("docs shorter than the shingle width yield empty shingles, no errors") {
    val df = docs(Seq((1L, "one two"), (2L, ""), (3L, "a b c d e")))
    val sh = df.select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).length)
    assert(sh.toSeq == Seq(0, 0, 3))
    // whole near-dup pipelines survive short/empty docs (ANSI mode)
    assert(Dedup.minhashDupPairs(df, "doc_id", "text", shingleN = 3).collect().length == 0)
    assert(Dedup.ngramJaccardPairsPortable(df, "doc_id", "text", n = 3).count() >= 0)
  }

  test("null-text documents contribute no pairs and do not crash either pipeline") {
    import spark.implicits._
    val d = Seq((1L, Some("the quick brown fox")), (2L, None: Option[String]),
      (3L, None: Option[String]), (4L, Some("the quick brown fox")))
      .toDF("doc_id", "text")
    val xs = Dedup.minhashDupPairs(d, "doc_id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val ps = Dedup.minhashDupPairsPortable(d, "doc_id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(xs == Set((1L, 4L)) && ps == Set((1L, 4L))) // null docs never pair
  }

  test("minhash LSH finds identical and near-identical docs") {
    val pairs = Dedup.minhashDupPairs(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear here in this text"),
      (4L, "the quick brown fox jumps over the lazy cat today"))),
      "doc_id", "text", shingleN = 2, numHashes = 16, bands = 8, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("a mega exact-duplicate cluster collapses to linear star pairs, no bucket overflow") {
    // 5k identical copies: without exact pre-collapse this is one LSH
    // bucket emitting ~12.5M pairs; with it, one representative plus
    // 4999 star pairs and NO bucket ever holds more than one member
    val n = 5000
    val cluster = (1L to n.toLong).map(i => (i, "the same boilerplate page content repeated everywhere"))
    val extra = Seq((9001L, "a genuinely unique document body here"),
      (9002L, "another distinct text with different words"))
    val out = Dedup.minhashDupPairs(docs(cluster ++ extra), "doc_id", "text",
      shingleN = 2, threshold = 0.5)
    assert(out.count() == n - 1) // rep 1 paired with each of 2..5000, nothing else
    assert(out.filter(col("jaccard") === 1.0).count() == n - 1)
    val (reps, _) = Dedup.collapseExact(docs(cluster ++ extra), "doc_id", "text")
    val buckets = Dedup.overflowingBuckets(
      Dedup.lshBands(reps, "doc_id", "text", 2, 16, 4), maxBucket = 1)
    assert(buckets.count() == 0)
  }

  test("bucket cap keeps the lowest ids and overflow is reported, not silent") {
    // 30 DISTINCT texts with IDENTICAL bigram sets (permutations of
    // "a X a Y a ..." blocks) — exact pre-collapse can't merge them,
    // every doc computes the same signature and band keys, so all 30
    // provably share every bucket; cap 5 must keep ids 1..5 only
    val distinctDocs = Seq("b", "c", "d", "e", "f").permutations.take(30).toSeq
      .zipWithIndex.map { case (perm, i) =>
        ((i + 1).toLong, "a " + perm.map(l => s"$l a").mkString(" "))
      }
    val pairs = Dedup.minhashDupPairs(docs(distinctDocs), "doc_id", "text",
      shingleN = 2, threshold = 0.1, maxBucket = 5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // exactly the pairs among the 5 lowest ids: identical shingle sets
    // give jaccard 1.0 for every surviving pair
    assert(pairs.toSet == (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet)
    val over = Dedup.overflowingBuckets(
      Dedup.lshBands(docs(distinctDocs), "doc_id", "text", 2, 16, 4), maxBucket = 5)
      .collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("bucket_size") == 30))
  }

  test("md5-portable minhash path finds the same clear dups as the xxhash path") {
    val d = docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear here in this text"),
      (4L, "the quick brown fox jumps over the lazy cat today")))
    val pairs = Dedup.minhashDupPairsPortable(d, "doc_id", "text",
      shingleN = 2, numHashes = 16, bands = 8, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pigeonhole: pairs within hamming <= chunks-1 are always candidates") {
    // near-identical docs differ in few fingerprint bits; the 4x15
    // layout must surface every pair with hamming <= 3
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = docs(Seq(
      (1L, base), (2L, base), (3L, base + " mu"),
      (4L, "unrelated words entirely separate content here now")))
    val sims = Dedup.simhashed60(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val expected = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    val found = Dedup.simhashDupPairs60(df, "doc_id", "text")
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(expected.subsetOf(found))
    assert(expected.contains((1L, 2L)))
  }

  test("simhash identical docs have hamming 0") {
    val out = Dedup.simhashDupPairs60(docs(Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated content entirely different"))), "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    assert(out((1L, 2L)) == 0)
  }

  test("ngram jaccard pairs detect overlap within blocks") {
    val out = Dedup.ngramJaccardPairsPortable(docs(Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a q r s t"))),
      "doc_id", "text", n = 2, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("text analysis: tokens, quality, fingerprint invariance") {
    val df = TextAnalysis.withQuality(docs(Seq((1L, "aa b cccc dd"))), "text")
    val r = df.collect()(0)
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Int]("n_long_tokens") == 1) // cccc
    assert(r.getAs[Double]("mean_token_len") == 9.0 / 4)
    // fingerprint invariant under word order + duplication
    val fp = docs(Seq((1L, "a b c"), (2L, "c b a"), (3L, "a a b c c")))
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fp.distinct.length == 1)
    // rolling hash is order-sensitive
    val rh = docs(Seq((1L, "a b c"), (2L, "c b a")))
      .select(TextAnalysis.rollingHashPortable(col("text")).as("h"))
      .collect().map(_.getLong(0))
    assert(rh(0) != rh(1))
  }

  test("repetition signals: dup words and top-bigram run fold") {
    val out = TextAnalysis.withRepetitionSignals(docs(Seq(
      (1L, "a b a b a"),   // bigrams: "a b","b a","a b","b a" -> mode 2
      (2L, "x y z"),       // all unique, mode 1
      (3L, "solo"))),      // 1 word, no bigrams
      "text").orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_words") == 5 &&
      out(0).getAs[Long]("dup_words") == 3 &&
      out(0).getAs[Long]("top_bigram_count") == 2)
    assert(out(1).getAs[Long]("dup_words") == 0 &&
      out(1).getAs[Long]("top_bigram_count") == 1)
    assert(out(2).getAs[Long]("n_words") == 1 &&
      out(2).getAs[Long]("top_bigram_count") == 0)
    // a NULL text document folds to 0, matching the SQL oracle's
    // coalesce — it must not surface a null long (ADVICE r8)
    val nul = TextAnalysis.withRepetitionSignals(
      docs(Seq((9L, null.asInstanceOf[String]))), "text").collect()(0)
    assert(!nul.isNullAt(nul.fieldIndex("top_bigram_count")) &&
      nul.getAs[Long]("top_bigram_count") == 0L)
  }

  test("packShards: budget-sized shards, no doc split, deterministic") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"src${i % 4}", 10L + (i % 17))).toDF("doc_id", "source", "n_tok")
    val packed = Sharding.packShards(docs, "doc_id", col("n_tok"),
      budgetTokens = 300L, buckets = 8)

    // every doc assigned exactly once, schema = input + shard_id
    assert(packed.count() == 200)
    assert(packed.columns.toSeq == Seq("doc_id", "source", "n_tok", "shard_id"))
    assert(packed.select("doc_id").distinct().count() == 200)

    // every shard except the last holds budget ± max_doc_tokens
    val fills = packed.groupBy("shard_id").agg(sum("n_tok").as("tok"))
      .orderBy("shard_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val maxTok = 10L + 16L
    fills.init.foreach { case (sid, tok) =>
      assert(tok >= 300L - maxTok && tok <= 300L + maxTok,
        s"shard $sid holds $tok tokens against budget 300")
    }
    // shard ids are contiguous from 0 (a doc starts in every window)
    assert(fills.map(_._1).toSeq == (0L until fills.length).toSeq)

    // deterministic: a different partitioning yields the same packing
    val repacked = Sharding.packShards(docs.repartition(13), "doc_id",
      col("n_tok"), budgetTokens = 300L, buckets = 8)
    assert(repacked.orderBy("doc_id").collect().toSeq ==
      packed.orderBy("doc_id").collect().toSeq)

    // the plan never funnels the corpus through a global window:
    // every Window node keeps its partition spec
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-window single partition in plan:\n$plan")
  }

  test("text operators reject dirty input loudly and fail null docs") {
    import spark.implicits._
    // gopher: a null document FAILS the gate with reason 'empty'
    val withNull = Seq((1L, (1 to 30).map(i => s"word$i").mkString(" ")),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val g = TextAnalysis.gopherFilter(withNull, "text")
      .select("doc_id", "quality_pass", "quality_reason")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(g(1L) == ((true, None)))
    assert(g(2L) == ((false, Some("empty"))), "null text must not pass the quality gate")

    // lm score: null docs are kept with a zero score, not dropped;
    // empty corpus raises the intended diagnostic, not an NPE
    val lm = TextAnalysis.withLmScore(withNull, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(lm.contains(2L) && lm(2L) == ((0L, 0L)))
    val empty = intercept[IllegalArgumentException] {
      TextAnalysis.withLmScore(
        Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "doc_id", "text", 5)
    }
    assert(empty.getMessage.contains("empty corpus"))

    // chunking: stride wider than the window would skip tokens
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(withNull, "text", 4, 10)
    }.getMessage.contains("full-coverage"))
    // a null document yields ZERO chunks, never a phantom null row
    assert(TextAnalysis.chunkDocuments(withNull, "text", 4, 2)
      .filter(col("doc_id") === 2L).count() == 0)
    // reserved output names are rejected, not clobbered
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(
        Seq((1L, "a b", 0)).toDF("doc_id", "text", "chunk_idx"), "text", 4, 2)
    }.getMessage.contains("chunk_idx"))
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.gopherFilter(
        Seq((1L, "a b", 0L)).toDF("doc_id", "text", "n_words"), "text")
    }.getMessage.contains("n_words"))
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.withLmScore(
        Seq((1L, "a b", "x")).toDF("doc_id", "text", "token"), "doc_id", "text", 5)
    }.getMessage.contains("token"))
  }

  test("chunkDocuments: overlap, short-doc, and tail semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, w=4 s=2
      (2L, "a b"),                                    // shorter than window
      (3L, (1 to 5).map(i => s"u$i").mkString(" "))   // tail chunk shorter
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "text", 4, 2)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(c => (c._1, c._2))

    // doc 1: starts 1,3,5,7 (last start = 10-4+1=7), all full windows
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8", "t7 t8 t9 t10"))
    assert(d1.forall(_._4 == 4L))
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    // doc 2: one chunk, the whole (short) doc
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b", 2L)))
    // doc 3 (n=5): starts 1 and 3 — the stride walk continues until a
    // window reaches the end, so the tail token u5 IS covered, in a
    // shorter final chunk
    assert(out.filter(_._1 == 3L).map(c => (c._3, c._4)).toSeq ==
      Seq(("u1 u2 u3 u4", 4L), ("u3 u4 u5", 3L)))
  }

  test("gopherFilter: rule precedence and integer thresholds") {
    import spark.implicits._
    val clean = (1 to 30).map(i => s"word$i").mkString(" ")   // 30 distinct, len 5-6
    val docs = Seq(
      (1L, clean),                                  // passes every rule
      (2L, "a b c"),                                // 3 words -> too_short
      (3L, (1 to 25).map(_ => "xx").mkString(" ")), // all dups -> but mean len 2 < 3 fires FIRST
      (4L, (1 to 10).map(i => s"token$i").mkString(" ") + " " +
           (1 to 15).map(_ => "wword wword").mkString(" ")) // dup-heavy, len ok
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, "text")
      .select("doc_id", "quality_pass", "quality_reason")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap

    assert(out(1L) == ((true, None)))
    assert(out(2L) == ((false, Some("too_short"))))
    assert(out(3L) == ((false, Some("mean_word_len"))),
      "mean_word_len precedes dup_words in the chain")
    assert(out(4L)._1 == false && out(4L)._2.contains("dup_words"))

    // boundary exactness: alpha ratio EXACTLY 0.8 passes (>= 0.8 rule
    // via 5*alpha >= 4*n), one word fewer fails
    val boundary = Seq(
      (10L, (1 to 16).map(i => s"word$i").mkString(" ") + " " + (1 to 4).map(_ => "1234").mkString(" ")),
      (11L, (1 to 15).map(i => s"word$i").mkString(" ") + " " + (1 to 5).map(_ => "1234").mkString(" "))
    ).toDF("doc_id", "text")
    val b = TextAnalysis.gopherFilter(boundary, "text")
      .select("doc_id", "quality_reason")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(b(10L) == None, "alpha 16/20 = 0.8 exactly passes")
    assert(b(11L) == Some("alpha_ratio"), "alpha 15/20 fails")
  }

  test("withLmScore: probable text scores low, OOV text scores the singleton cost") {
    import spark.implicits._
    // corpus: "a" dominates (6 of 12 tokens), "b" rare, rest OOV at k=2
    val docs = Seq(
      (1L, "a a a a"),       // all high-probability -> lowest cost
      (2L, "a b a b"),       // mixed
      (3L, "x y z q")        // all OOV -> singleton cost each
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLmScore(docs, "doc_id", "text", vocabK = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val total = 12.0
    def q(p: Double): Long = math.floor(-math.log(p) * 1e6).toLong
    // doc 1: 4 tokens of p=6/12; doc 3: 4 singletons p=1/12
    assert(out(0) == ((1L, 4 * q(6 / total), 4L)))
    assert(out(1) == ((2L, 2 * q(6 / total) + 2 * q(2 / total), 4L)))
    assert(out(2) == ((3L, 4 * q(1 / total), 4L)))
    // the filter axis is ordered: clean < mixed < junk
    assert(out(0)._2 < out(1)._2 && out(1)._2 < out(2)._2)
  }

  test("packShards/temperatureMixture degrade cleanly on dirty input") {
    import spark.implicits._
    // null token count packs as 0 tokens, doc still lands in a shard
    val nullable = Seq((1L, Some(50L)), (2L, None), (3L, Some(30L)))
      .toDF("doc_id", "n_tok")
    val packed = Sharding.packShards(nullable, "doc_id", col("n_tok"), 100L, 4)
    assert(packed.count() == 3)
    // null doc id fails LOUDLY (cannot be ordered deterministically)
    val nullId = Seq((Some(1L), 10L), (None, 20L)).toDF("doc_id", "n_tok")
    val e = intercept[IllegalArgumentException] {
      Sharding.packShards(nullId, "doc_id", col("n_tok"), 100L, 4)
    }
    assert(e.getMessage.contains("null doc_id"))
    // reserved temp/output column names are rejected, not clobbered
    val clash = Seq((1L, 10L)).toDF("doc_id", "__bucket")
    assert(intercept[IllegalArgumentException] {
      Sharding.packShards(clash, "doc_id", lit(1L), 100L, 4)
    }.getMessage.contains("__bucket"))

    // a null stratum neither crashes the rate computation nor passes
    // the gate — same degradation as sampleByStrata
    val nullStrata = Seq((1L, Some("a")), (2L, None), (3L, Some("a")))
      .toDF("doc_id", "source")
    val kept = Sampling.temperatureMixture(nullStrata, "source", "doc_id", 1.0)
    assert(kept.count() == 2 && kept.filter(col("source").isNull).count() == 0)
  }

  test("temperatureMixture: T=1 keeps all; high T equalizes; deterministic subset") {
    import spark.implicits._
    // skewed corpus: 160/30/10 docs across three sources
    val docs = ((1L to 160L).map(i => (i, "big")) ++
      (161L to 190L).map(i => (i, "mid")) ++
      (191L to 200L).map(i => (i, "small"))).toDF("doc_id", "source")

    // T=1: exponent 0 -> every source at 1000 permille
    assert(Sampling.temperatureMixture(docs, "source", "doc_id", 1.0).count() == 200)

    // the smallest source is never subsampled, and kept counts are
    // monotone in T-flattening: bigger sources lose more
    val t2 = Sampling.temperatureMixture(docs, "source", "doc_id", 2.0)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t2("small") == 10L, "smallest source keeps rate 1000")
    assert(t2("big") < 160L && t2("mid") < 30L)
    // expected kept at T=2: n * sqrt(nmin/n) = sqrt(nmin * n)
    assert(math.abs(t2("big") - math.sqrt(10.0 * 160.0)) < 15.0)

    // T -> inf: expected kept per source approaches n_min each
    val flat = Sampling.temperatureMixture(docs, "source", "doc_id", 1e9)
      .groupBy("source").count().collect().map(r => r.getLong(1))
    flat.foreach(k => assert(math.abs(k - 10.0) < 8.0,
      s"high-T kept count $k should sit near n_min=10"))

    // kept set is a deterministic subset (same gate as sampleByStrata)
    val a = Sampling.temperatureMixture(docs, "source", "doc_id", 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMixture(docs.repartition(7), "source", "doc_id", 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("repetition signals plan is shuffle-free (no Exchange)") {
    val plan = TextAnalysis.withRepetitionSignals(
      docs(Seq((1L, "a b a"))), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"sorted-run fold must stay narrow, got:\n$plan")
  }

  test("vocabulary ranks by frequency with token tiebreak and caps at k") {
    val v = TextAnalysis.vocabulary(docs(Seq(
      (1L, "b a b c"), (2L, "a b d"))), "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v == Seq(("b", 3L), ("a", 2L), ("c", 1L)),
      "freq desc, then token asc; d cut by k=3")
  }

  test("language id marker chain") {
    val out = docs(Seq(
      (1L, "the cat sat"), (2L, "le chat"), (3L, "xyz qqq")))
      .select(TextAnalysis.langId(col("text")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("en", "fr", "und"))
  }

  test("int8 quantization: bounded reconstruction error, zero-vector safe, deterministic") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),       // all-zero -> zeros, scale 0
      (3L, Array(3.0f, -2.0f, 0.001f, 1.5f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.withQuantizedInt8(vecs, "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](2), r.getDouble(3)))).toMap

    // codes live in [-127, 127]; the max-magnitude element maps to ±127
    assert(q(1L)._1 == Seq(64, -127, 32, 0))
    assert(q(1L)._2 == 1.0 / 127.0)
    assert(q(2L)._1 == Seq(0, 0, 0, 0) && q(2L)._2 == 0.0)
    assert(q(3L)._1.head == 127 && q(3L)._1.max <= 127 && q(3L)._1.min >= -127)

    // dequantization error is bounded by half a step
    val scale3 = q(3L)._2
    val orig = Array(3.0, -2.0, 0.001, 1.5)
    q(3L)._1.zip(orig).foreach { case (code, x) =>
      assert(math.abs(code * scale3 - x) <= scale3 / 2 + 1e-12,
        s"code $code for $x off by more than half a step")
    }

    // collision guard
    assert(intercept[IllegalArgumentException] {
      Similarity.withQuantizedInt8(
        vecs.withColumn("q_vec", lit(1)), "embedding")
    }.getMessage.contains("q_vec"))
  }

  test("cosine top-k ranks by similarity with id tiebreak") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val out = Similarity.bruteForceTopK(q, corpus, "q_id", "q_vec", "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out == Seq(4L, 2L)) // 4 is closer to (1,0) than 2; 3 orthogonal
  }

  test("quantized rerank: full shortlist equals brute force; rerank scores are float-exact") {
    import spark.implicits._
    val corpus = (0 until 40).map { i =>
      val angle = i * 0.15
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        (0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val brute = Similarity.bruteForceTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).toSet
    // shortlist covering the whole corpus → the int8 stage can only
    // reorder WITHIN the shortlist, and the float rerank restores the
    // exact ranking AND the exact cosine values
    val full = Similarity.quantizedRerankTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, shortlist = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).toSet
    assert(full == brute, "full-shortlist quantized rerank must equal brute force")
    // a narrow shortlist still finds the true top-1 on this smooth
    // corpus (int8 on unit vectors distorts far less than one rank)
    val narrow = Similarity.quantizedRerankTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 1, shortlist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteTop1 = brute.filter(_._3 == 1L).map(t => (t._1, t._2))
    assert(narrow == bruteTop1)
    // an all-zero corpus vector scores 0 in the candidate stage, not NaN
    val withZero = corpus.union(Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val z = Similarity.quantizedRerankTopK(q, withZero,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, shortlist = 41)
    assert(z.filter(col("cos_sim").isNaN).count() == 0)
  }

  test("LSH top-k finds the exact match; IVF probes the right cell") {
    import spark.implicits._
    val corpus = (0 until 50).map { i =>
      val angle = i * 0.12
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Seq((999L, Array(1.0f, 0.0f))).toDF("q_id", "q_vec")
    // LSH: the nearest corpus vector (id 0, angle 0) shares the bucket
    // of the query and must surface as rank 1
    val lsh = Similarity.lshTopK(q, corpus, "q_id", "q_vec", "vec_id", "embedding",
      k = 1, planes = 4).collect()
    assert(lsh.nonEmpty && lsh(0).getAs[Long]("vec_id") == 0L)
    // IVF: same property through coarse quantization
    val ivf = Similarity.ivfTopK(q, corpus, "q_id", "q_vec", "vec_id", "embedding",
      k = 1, nCells = 8).collect()
    assert(ivf.nonEmpty && ivf(0).getAs[Long]("vec_id") == 0L)
  }

  test("hard negatives exclude same-label vectors across all candidate sources") {
    import spark.implicits._
    // query (1,0) labeled "a": nearest overall is id 0 (same label —
    // must be excluded); nearest different-label is id 1.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), "a"), (1L, Array(0.99f, 0.14f), "b"),
      (2L, Array(0.9f, 0.43f), "b"), (3L, Array(0.0f, 1.0f), "c"),
      (4L, Array(0.95f, 0.31f), "a"))
      .toDF("vec_id", "v", "label")
    val q = Seq((100L, Array(1.0f, 0.0f), "a")).toDF("q_id", "q_vec", "q_label")
    // The bucketed sources trade recall for scale: they may return
    // FEWER negatives (the query's bucket/cell can miss them — that's
    // what q_hard_negatives_ann measures), but anything they do return
    // must be different-label and drawn from the brute truth set.
    val brute = Similarity.hardNegatives(q, corpus,
      "q_id", "q_vec", "q_label", "vec_id", "v", "label", k = 2, Similarity.Brute)
      .orderBy("rank").collect()
    assert(brute.map(_.getAs[Long]("negative_id")).toSeq == Seq(1L, 2L))
    assert(brute.forall(_.getAs[String]("neg_label") == "b"))
    val allNegatives = Set(1L, 2L, 3L) // every different-label corpus id
    for (src <- Seq[Similarity.CandidateSource](
        Similarity.Lsh(planes = 3), Similarity.Ivf(nCells = 3))) {
      val out = Similarity.hardNegatives(q, corpus,
        "q_id", "q_vec", "q_label", "vec_id", "v", "label", k = 2, src)
        .collect()
      assert(out.forall(_.getAs[String]("neg_label") != "a"), s"$src leaked a same-label negative")
      assert(out.forall(r => allNegatives(r.getAs[Long]("negative_id"))), s"$src: ${out.toSeq}")
    }
  }

  test("multi-probe LSH: superset candidates, recall >= single-probe, bounded volume") {
    import spark.implicits._
    val planes = 4
    val corpus = (0 until 200).map { i =>
      val angle = i * 0.031
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val q = (0 until 10).map { i =>
      val angle = i * 0.6 + 0.015
      (1000L + i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("q_id", "q_vec")
    // probe expansion is exactly planes+1 rows per query, own bucket included
    val qb = q.withColumn("__bucket",
      Similarity.lshSignature(col("q_vec"), planes))
    val probes = Similarity.withMultiProbe(qb, "__bucket", planes)
    assert(probes.count() == q.count() * (planes + 1))
    val own = qb.select("q_id", "__bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.select("q_id", "__bucket").collect().foreach { r =>
      val d = java.lang.Long.bitCount(r.getLong(1) ^ own(r.getLong(0)))
      assert(d <= 1, s"probe beyond Hamming-1: $r")
    }
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val single = hits(Similarity.lshTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, planes))
    val multi = hits(Similarity.lshTopKMultiProbe(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, planes))
    val truth = hits(Similarity.bruteForceTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3))
    def recall(ann: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, t) =>
        (t & ann.getOrElse(qid, Set.empty)).size.toDouble / t.size
      }.sum / truth.size
    assert(recall(multi) >= recall(single),
      s"single=${recall(single)} multi=${recall(multi)}")
    // the knob's mechanics, corpus-independent: the multi-probe
    // candidate volume strictly contains single-probe's (some
    // Hamming-1 bucket is populated on any non-degenerate corpus),
    // and is bounded by (planes+1)x the per-bucket volume
    val cb = corpus.withColumn("__bucket",
      Similarity.lshSignature(col("embedding"), planes))
    def candCount(qside: org.apache.spark.sql.DataFrame): Long =
      cb.join(qside.select("q_id", "__bucket"), Seq("__bucket"))
        .select("q_id", "vec_id").distinct().count()
    val nSingle = candCount(qb)
    val nMulti = candCount(probes)
    assert(nMulti > nSingle, s"multi candidates $nMulti !> single $nSingle")
    assert(nMulti <= (planes + 1) * corpus.count() * q.count())
    // ranked output stays a valid top-k (k rows max, ranks 1..k)
    assert(multi.values.forall(_.size <= 3))
  }

  test("IVF multi-probe recovers cell-boundary misses; nProbe=1 equals single-cell") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val angle = i * 0.05
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val q = (0 until 8).map { i =>
      val angle = i * 0.75 + 0.025
      (1000L + i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("q_id", "q_vec")
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val single = hits(Similarity.ivfTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, nCells = 8))
    val multi1 = hits(Similarity.ivfTopKMultiProbe(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, nCells = 8, nProbe = 1))
    // nProbe=1 IS the single-cell path (same argmax ordering)
    assert(multi1 == single, s"single=$single multi1=$multi1")
    val multi2 = hits(Similarity.ivfTopKMultiProbe(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2))
    val truth = hits(Similarity.bruteForceTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "embedding", k = 3))
    def recall(ann: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, t) =>
        (t & ann.getOrElse(qid, Set.empty)).size.toDouble / t.size
      }.sum / truth.size
    assert(recall(multi2) >= recall(single),
      s"single=${recall(single)} multi2=${recall(multi2)}")
    assert(multi2.values.forall(_.size <= 3))
  }

  test("Lloyd refinement moves centroids to exact quantized cluster means") {
    import spark.implicits._
    // two tight clusters; seeds = the two lowest ids, one per cluster
    val clusterA = Seq((0L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)))
    val clusterB = Seq((1L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)), (5L, Array(0.2f, 0.8f)))
    val corpus = (clusterA ++ clusterB).toDF("vec_id", "v")
    val seeds = Array(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val refined = Similarity.refineCentroids(corpus, "vec_id", "v", seeds)
    // hand-compute the quantized mean of cluster A's first dimension
    val scale = (1L << 20).toDouble
    def qmean(xs: Seq[Double]): Double =
      (xs.map(x => math.round(x * scale)).sum.toDouble / xs.size) / scale
    val expectA0 = qmean(Seq(1.0f, 0.9f, 0.8f).map(_.toDouble))
    val gotA = refined.find(_._1 == 0L).get._2
    assert(gotA(0) == expectA0, s"got ${gotA(0)} expected $expectA0")
    assert(gotA(1) == qmean(Seq(0.0f, 0.1f, 0.2f).map(_.toDouble)))
    // empty cell keeps its seed: a third centroid identical to seed 0
    // loses every tie (lowest cell id wins) and trains nothing
    val withDup = seeds :+ (9L, Seq(1.0, 0.0))
    val refined3 = Similarity.refineCentroids(corpus, "vec_id", "v", withDup)
    assert(refined3.find(_._1 == 9L).get._2 == Seq(1.0, 0.0))
    // trained end-to-end search returns a valid bounded top-k
    val q = Seq((100L, Array(0.95f, 0.05f))).toDF("q_id", "q_vec")
    val out = Similarity.ivfTopKTrained(q, corpus,
      "q_id", "q_vec", "vec_id", "v", k = 2, nCells = 2, iters = 1).collect()
    assert(out.nonEmpty && out.length <= 2)
    // the query lands in cluster A's trained cell: neighbors from A only
    assert(out.forall(r => Set(0L, 2L, 3L)(r.getAs[Long]("vec_id"))), out.toSeq)
  }

  test("IVF scales to a 256-cell codebook as one plan node, not a literal tree") {
    import spark.implicits._
    // 300 distinct directions in 2D: ids 0..255 seed 256 cells
    val corpus = (0 until 300).map { i =>
      val a = i * 0.01
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val q = Seq((1000L, Array(math.cos(1.234).toFloat, math.sin(1.234).toFloat)))
      .toDF("q_id", "q_vec")
    val out = Similarity.ivfTopK(q, corpus, "q_id", "q_vec", "vec_id", "v",
      k = 3, nCells = 256)
    // the assignment must be ONE nearest_cells node per side — the old
    // literal formulation grew ~8 expression nodes per cell and would
    // put "array_max" with 256 struct entries in the plan string.
    // (Checked on the ANALYZED plan: on this tiny local frame the
    // optimizer constant-folds the projection into a LocalTableScan.)
    val logical = out.queryExecution.analyzed.toString
    assert(logical.contains("nearest_cells"), logical.take(1500))
    assert(logical.length < 100000, s"plan blew up: ${logical.length} chars")
    // cells partition the corpus and the query side broadcasts —
    // probe ranking is a broadcast equi-join on cell_id, no shuffle
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin [cell_id"))
    val rows = out.collect()
    // vec 123 (angle 1.23) seeds its own cell and is the query's
    // nearest cell center; its cell-mates are the true nearest vectors
    assert(rows.map(_.getAs[Long]("vec_id")).toSet.contains(123L), rows.toSeq)
    // expression ranking == the hand-computed nearest cell
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    val qv = Array(math.cos(1.234).toFloat.toDouble, math.sin(1.234).toFloat.toDouble)
    val cents = (0 until 256).map { i =>
      val a = i * 0.01
      (i.toLong, Array(math.cos(a).toFloat.toDouble, math.sin(a).toFloat.toDouble))
    }
    val bestCell = cents.maxBy { case (id, c) => (cos(qv, c), -id) }._1
    assert(bestCell == 123L)
  }

  test("persisted IVF index: search scans only probed cell partitions") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Flat,
        Seq(Similarity.trainCodebook(corpus, "vec_id", "v", nCells = 8, iters = 1)))
      // artifact shape: tiny codebook + cell-partitioned corpus dirs
      assert(spark.read.parquet(
        s"${IndexGen.resolveRoot(spark, dir.getAbsolutePath)}/codebook").count() == 8)
      val cellDirs = new java.io.File(dir, "cells").listFiles()
        .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
      assert(cellDirs.nonEmpty)
      val q = Seq((999L, Array(1.0f, 0.05f))).toDF("q_id", "q_vec")
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 1)
      // the scan must carry the probed-cell PARTITION filter: only the
      // query's one probed cell directory is listed, not the corpus
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
        plan.take(2000))
      val rows = out.collect()
      assert(rows.length == 3)
      // results equal the non-indexed trained path with the same knobs
      val direct = Similarity.ivfTopKTrained(q, corpus, "q_id", "q_vec",
        "vec_id", "v", k = 3, nCells = 8, iters = 1)
        .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      assert(rows.map(r => Seq(r.getAs[Long]("q_id"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toSet == direct)
      // incremental append: a new vector essentially identical to the
      // query is assigned by the EXISTING codebook and must surface as
      // the new top-1 through the unchanged read path
      val extra = Seq((500L, Array(1.0f, 0.05f))).toDF("vec_id", "v")
      Similarity.append(extra, "vec_id", "v", dir.getAbsolutePath,
        batchId = 0L)
      val after = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 1).collect()
      assert(after.exists(r =>
        r.getAs[Long]("vec_id") == 500L && r.getAs[Long]("rank") == 1L),
        after.toSeq)
      // maintenance loop: more small appends accumulate L0 files in
      // the hot cell; the EXISTING leveled compactor folds each cell
      // directory independently (runPartitioned is layout-agnostic),
      // and the search result is unchanged through a plain read
      for (i <- 501L to 505L)
        Similarity.append(
          Seq((i, Array(1.0f, 0.04f + 0.001f * i))).toDF("vec_id", "v"),
          "vec_id", "v", dir.getAbsolutePath, batchId = i)
      val cellsDir = new java.io.File(dir, "cells")
      def parquetCount(d: java.io.File): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) Seq(f)
          else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
        walk(d).count(_.getName.endsWith(".parquet"))
      }
      val before = parquetCount(cellsDir)
      val reports = Similarity.compactIndexCells(
        spark, dir.getAbsolutePath, "vec_id")
      assert(reports.values.exists(_.merges > 0), reports)
      assert(parquetCount(cellsDir) < before, s"$before -> ${parquetCount(cellsDir)}")
      val folded = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 1).collect()
      assert(folded.exists(r =>
        r.getAs[Long]("vec_id") == 500L && r.getAs[Long]("rank") == 1L),
        folded.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("index search is snapshot-isolated from compaction: superseded inputs and uncommitted merge outputs are invisible") {
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfsnap").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Flat,
        Seq(Similarity.trainCodebook(corpus, "vec_id", "v", nCells = 4, iters = 1)))
      // a few appends, then an ADOPTION pass: under the L0 trigger
      // nothing merges, but a manifest generation commits naming the
      // adopted files — the precondition for retention to protect
      // them when a later fold supersedes them
      for (i <- 500L to 502L)
        Similarity.append(
          Seq((i, Array(1.0f, 0.04f + 0.001f * i))).toDF("vec_id", "v"),
          "vec_id", "v", dir.getAbsolutePath, batchId = i)
      Similarity.compactIndexCells(spark, dir.getAbsolutePath, "vec_id",
        graft.sources.Compact.Options(retainGenerations = 1))
      // more appends push the hot cell past the L0 trigger
      for (i <- 503L to 508L)
        Similarity.append(
          Seq((i, Array(1.0f, 0.04f + 0.001f * i))).toDF("vec_id", "v"),
          "vec_id", "v", dir.getAbsolutePath, batchId = i)
      val q = Seq((999L, Array(1.0f, 0.05f))).toDF("q_id", "q_vec")
      def search(): Set[(Long, Long)] =
        Similarity.search(spark, q, "q_id", "q_vec",
          dir.getAbsolutePath, "vec_id", "v", k = 5, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
          .toSet
      val baseline = search()
      // the fold supersedes the adoption generation's files; with a
      // retained generation they STAY on disk (time-travel horizon).
      // A raw directory read now sees the merged part beside retained
      // superseded inputs and double-counts those candidates; the
      // manifest-routed search must not.
      val reports = Similarity.compactIndexCells(
        spark, dir.getAbsolutePath, "vec_id",
        graft.sources.Compact.Options(retainGenerations = 1))
      assert(reports.values.exists(_.merges > 0), reports)
      val mixedCell = new java.io.File(dir, "cells").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cell_id="))
        .find { d =>
          val names = d.listFiles().map(_.getName)
          names.exists(_.startsWith("merged-")) &&
            names.exists(n => n.startsWith("part-") && n.endsWith(".parquet"))
        }
      assert(mixedCell.nonEmpty,
        "expected a cell holding merged output beside retained superseded inputs")
      assert(search() == baseline,
        "search through a store holding merged part + retained inputs must fold to one generation")
      // uncommitted merge output (a fold that crashed between renames
      // and commit): a merged-* file no manifest names must be stale,
      // not adopted — a raw listing would serve it alongside its inputs
      val hot = mixedCell.get.listFiles()
        .find(_.getName.startsWith("merged-")).get
      val orphan = new java.io.File(hot.getParentFile, "merged-99999-orphan.parquet")
      java.nio.file.Files.copy(hot.toPath, orphan.toPath)
      assert(search() == baseline,
        "an uncommitted merged-* orphan must be invisible to the search")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("ANN-index erasure: delete set hides vectors from every tail, purge rewrites affected cells and clears it") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val deleted = (i: Long) => i % 4 == 1
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toFile
    val refDir = java.nio.file.Files.createTempDirectory("ivfref").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Flat,
        Seq(Similarity.trainCodebook(corpus, "vec_id", "v", nCells = 6, iters = 1)))
      // a MISNAMED key column must fail loudly at delete time, not
      // silently hide nothing from searches
      intercept[IllegalArgumentException] {
        Similarity.deleteFromIndex(spark, dir.getAbsolutePath,
          corpus.filter(col("vec_id") % 4 === 1)
            .select(col("vec_id").as("id")), "gdpr-bad")
      }
      Similarity.deleteFromIndex(spark, dir.getAbsolutePath,
        corpus.filter(col("vec_id") % 4 === 1).select("vec_id"), "gdpr-1")
      // the reference: the SAME codebook over the filtered corpus
      // (deletion must not retrain — cells keep their meaning)
      val cb = spark.read.parquet(s"${dir.getAbsolutePath}/codebook")
      Similarity.build(corpus.filter(col("vec_id") % 4 =!= 1), "vec_id", "v",
        refDir.getAbsolutePath, IndexLayout.Flat, Seq(cb))
      val q = Seq((999L, Array(1.0f, 0.05f)),
        (998L, Array(0.2f, 0.9f))).toDF("q_id", "q_vec")
      def search(path: String) =
        Similarity.search(spark, q, "q_id", "q_vec", path,
          "vec_id", "v", k = 5, nProbe = 3)
          .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      val got = search(dir.getAbsolutePath)
      assert(got == search(refDir.getAbsolutePath))
      assert(!got.exists(r => deleted(r(1).asInstanceOf[Long])))
      // the quantized/PQ cell tails read through the same choke point;
      // the PQ-only layout takes its own delete set at the codes read
      val pqDir = java.nio.file.Files.createTempDirectory("pqdel").toFile
      try {
        val wide = (0 until 64).map { i =>
          (i.toLong, Array.tabulate(16)(j =>
            math.cos(i * 0.11 + j).toFloat))
        }.toDF("vec_id", "v")
        Similarity.build(wide, "vec_id", "v", pqDir.getAbsolutePath,
          IndexLayout.PqCodes(m = 4, kCents = 4), Nil, pqIters = 1)
        Similarity.deleteFromIndex(spark, pqDir.getAbsolutePath,
          wide.filter(col("vec_id") % 4 === 1).select("vec_id"), "gdpr-1")
        val qw = Seq((999L, Array.tabulate(16)(j => math.cos(j).toFloat)))
          .toDF("q_id", "q_vec")
        val pqGot = Similarity.search(spark, qw, "q_id", "q_vec",
          pqDir.getAbsolutePath, "vec_id", "v", k = 5, shortlist = Some(10),
          floats = Some(wide))
          .collect().map(_.getAs[Long]("vec_id"))
        assert(pqGot.nonEmpty && !pqGot.exists(deleted), pqGot.toSeq)
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(pqDir)
      }
      // physical purge: affected cells rewritten (raw bytes no longer
      // hold the cohort), the delete set cleared, results unchanged
      val (cellsTouched, erased) =
        Similarity.purgeIndexDeletes(spark, dir.getAbsolutePath, "gdpr-1")
      assert(cellsTouched > 0 && erased == 30L, s"$cellsTouched, $erased")
      assert(!new java.io.File(dir, "deletes").exists())
      val raw = spark.read.parquet(s"${dir.getAbsolutePath}/cells")
      assert(raw.filter(col("vec_id") % 4 === 1).count() == 0L)
      assert(search(dir.getAbsolutePath) == got)
      // purge is idempotent when nothing is pending
      assert(Similarity.purgeIndexDeletes(spark, dir.getAbsolutePath,
        "gdpr-1") == ((0, 0L)))
      // post-purge, the cohort is reinsertable: an append surfaces it
      val back = Seq((1L, Array(1.0f, 0.05f))).toDF("vec_id", "v")
      Similarity.append(back, "vec_id", "v", dir.getAbsolutePath,
        batchId = 0L)
      val after = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 5, nProbe = 3)
        .filter(col("q_id") === 999L).collect()
      assert(after.exists(r => r.getAs[Long]("vec_id") == 1L &&
        r.getAs[Long]("rank") == 1L), after.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir); rm(refDir)
    }
  }

  test("join-assigned IVF at 4096 cells: broadcast codebook, argmax parity, probed-cell pruning") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfjoin").toFile
    try {
      val nCells = 4096
      val cb = Similarity.syntheticCodebook(spark, nCells, dims = 2)
      // the codebook regenerates deterministically from the md5 space —
      // a hand model of cell 0 / dim 0 pins the generation scheme
      def handVal(c: Long, j: Int): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"cb-$c-$j".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(5)
        (java.lang.Long.parseLong(md, 16) % 2001 - 1000) / 1000.0
      }
      val cents = cb.orderBy("cell_id").collect()
        .map(r => (r.getAs[Long]("cell_id"), r.getSeq[Double](1).toArray))
      assert(cents.length == nCells)
      assert(cents(0)._2(0) == handVal(0, 0) && cents(17)._2(1) == handVal(17, 1))

      // assignment: codebook rides a BROADCAST join (never a driver
      // collect / literal), argmax matches a hand model exactly
      val assigned = Similarity.assignCellsByJoin(corpus, "vec_id", "v", cb)
      val aplan = assigned.queryExecution.executedPlan.toString
      assert(aplan.contains("BroadcastNestedLoopJoin") ||
        aplan.contains("BroadcastExchange"), aplan.take(2000))
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d = a.zip(b).map(p => p._1 * p._2).sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na * nb == 0) 0.0 else d / (na * nb)
      }
      val got = assigned.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
      val vecs = corpus.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      for ((id, v) <- vecs) {
        val want = cents.maxBy { case (cid, c) => (cos(v, c), -cid) }._1
        assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
      }

      // build + search: probed-cell partition pruning unchanged
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Flat, Seq(cb))
      val q = Seq((999L, Array(1.0f, 0.05f))).toDF("q_id", "q_vec")
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 64)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
        plan.take(2000))
      assert(out.collect().nonEmpty)
      // probing EVERY cell makes the candidate set the whole corpus:
      // the result must equal brute-force top-k
      val full = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = nCells)
        .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      val brute = Similarity.bruteForceTopK(q, corpus, "q_id", "q_vec",
        "vec_id", "v", k = 3)
        .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      assert(full == brute, s"probe-all $full vs brute $brute")
      // maintenance stays joined: an appended near-identical vector is
      // assigned by the PERSISTED codebook frame (no driver collect)
      // and surfaces as top-1 through the unchanged search
      Similarity.append(
        Seq((500L, Array(1.0f, 0.05f))).toDF("vec_id", "v"),
        "vec_id", "v", dir.getAbsolutePath, batchId = 0L)
      val after = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 64).collect()
      assert(after.exists(r =>
        r.getAs[Long]("vec_id") == 500L && r.getAs[Long]("rank") == 1L),
        after.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("bm25TopK matches a hand model: idf, length norm, integer score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "scan scan scan filter"),          // high tf, short
      (2L, "scan merge join filter sort window agg part value column"), // long, one hit each
      (3L, "merge join sort"),                // no query terms
      (4L, "column column scan")              // two terms
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("scan", "column"), topK = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("bm25_micro"), r.getAs[Long]("terms_hit"),
        r.getAs[Long]("rank"))).toList
    // hand model with the exact same arithmetic
    val lens = Map(1L -> 4L, 2L -> 10L, 3L -> 3L, 4L -> 3L)
    val n = 4L; val avgdl = 20.0 / 4.0
    def idf(df: Long): Long =
      math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6).toLong
    def contrib(dfq: Long, tf: Long, dl: Long): Long = math.floor(
      idf(dfq).toDouble * (tf.toDouble * (1.2 + 1)) /
        (tf.toDouble + 1.2 * (1.0 - 0.75 + (0.75 * dl.toDouble) / avgdl))).toLong
    val want = Map(
      1L -> contrib(3, 3, lens(1L)),
      2L -> (contrib(3, 1, lens(2L)) + contrib(2, 1, lens(2L))),
      4L -> (contrib(3, 1, lens(4L)) + contrib(2, 2, lens(4L))))
    val got = out.map(r => r._1 -> r._2).toMap
    assert(got == want, s"got $got want $want")
    assert(!got.contains(3L), "doc without query terms must not score")
    assert(out.map(_._4) == (1L to out.length).toList, "ranks contiguous")
    assert(out.sortBy(r => (-r._2, r._1)).map(_._1) == out.map(_._1),
      "ordering (score DESC, id ASC)")
    val hits = out.map(r => r._1 -> r._3).toMap
    assert(hits == Map(1L -> 1L, 2L -> 2L, 4L -> 2L))
  }

  test("quantized index search: full shortlist equals float ranking; narrow candidate columns") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val cb = Similarity.syntheticCodebook(spark, 256, 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfq").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Quantized(), Seq(cb))
      // the artifact carries BOTH representations per cell row
      val cells = spark.read.parquet(s"${dir.getAbsolutePath}/cells")
      assert(Set("vec_id", "v", "q_vec", "q_vec_scale", "cell_id")
        .subsetOf(cells.columns.toSet))
      val q = Seq((999L, Array(1.0f, 0.05f))).toDF("q_id", "q_vec")
      // shortlist spanning every candidate => the float re-rank IS the
      // ranking, so the result must equal the float-scored joined
      // search over the same artifact and probes
      val quant = Similarity.search(spark, q, "q_id",
          "q_vec", dir.getAbsolutePath, "vec_id", "v",
          k = 3, shortlist = Some(200), nProbe = 64)
        .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      val float = Similarity.search(spark, q, "q_id", "q_vec",
          dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 64)
        .select("q_id", "vec_id", "rank").collect().map(_.toSeq).toSet
      assert(quant == float, s"quant $quant vs float $float")
      // a tight shortlist still returns k ranked rows
      val tight = Similarity.search(spark, q, "q_id",
        "q_vec", dir.getAbsolutePath, "vec_id", "v",
        k = 3, shortlist = Some(3), nProbe = 64).collect()
      assert(tight.length == 3 &&
        tight.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("rrfFuse: overlap sums, singles rank by reciprocal rank, integer scores") {
    import spark.implicits._
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val sem = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(lex, sem), "id", "rank", topK = 10)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_micro"),
        r.getAs[Long]("lists_hit"), r.getAs[Long]("rank"))).toList
    def c(r: Long) = math.floor(1e6 / (60.0 + r)).toLong
    // 20 appears on both lists: rank 2 lexically + rank 1 semantically
    val want = List(
      (20L, c(2) + c(1), 2L, 1L),
      (10L, c(1), 1L, 2L),
      (40L, c(2), 1L, 3L),
      (30L, c(3), 1L, 4L))
    assert(out == want, s"got $out want $want")
  }

  test("indexed BM25 equals scan BM25; stats persisted; postings carry tf and dl") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "scan", "merge",
      "column", "window", "sort", "filter")
    val docs = (0 until 200).map { i =>
      val toks = (0 until (3 + i % 7)).map(j => words((i * 7 + j * 3) % words.length))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("textidx").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir.getAbsolutePath)
      // the index carries its corpus stats — no raw-corpus dependence
      val st = TextAnalysis.readTextStats(spark, dir.getAbsolutePath).head
      assert(st.getAs[Long]("n") == 200L)
      val terms = Seq("scan", "column")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "bm25_micro", "terms_hit", "rank")
        .collect().map(_.toSeq).toSet
      val scan = rows(TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 20))
      val idx = rows(TextAnalysis.bm25IndexedTopK(spark,
        dir.getAbsolutePath, terms, 20))
      assert(scan.nonEmpty && idx == scan,
        "index-served BM25 must equal the scan-based score exactly")
      // postings rows carry tf, dl and positions (scoring + phrase inputs)
      val p = TextAnalysis.indexPostingsScored(docs).filter(col("token") === "scan")
      assert(p.columns.toSet == Set("token", "doc_id", "dl", "tf", "positions"))
      assert(p.count() > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("incremental text index: build+append equals full rebuild; stats fold; replay is a no-op") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "scan", "merge",
      "column", "window", "sort", "filter")
    val docs = (0 until 180).map { i =>
      val toks = (0 until (3 + i % 7)).map(j => words((i * 5 + j * 3) % words.length))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val first = docs.filter(col("doc_id") % 3 =!= 2)
    val second = docs.filter(col("doc_id") % 3 === 2)
    val incDir = java.nio.file.Files.createTempDirectory("textinc").toFile
    val fullDir = java.nio.file.Files.createTempDirectory("textfull").toFile
    try {
      TextAnalysis.buildTextIndex(first, "doc_id", "text", incDir.getAbsolutePath)
      val (p1, s1) = TextAnalysis.appendToTextIndex(second, "doc_id", "text",
        incDir.getAbsolutePath, "batch-000000001", compact = true)
      assert(p1 && s1)
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", fullDir.getAbsolutePath)
      // folded stats equal the full-corpus aggregate
      val si = TextAnalysis.readTextStats(spark, incDir.getAbsolutePath).head
      val sf = TextAnalysis.readTextStats(spark, fullDir.getAbsolutePath).head
      assert(si.getAs[Long]("n") == 180L && si == sf, s"$si vs $sf")
      // postings content identical (the physical layout may differ)
      def postings(d: java.io.File) =
        graft.sources.Compact.read(spark, s"${d.getAbsolutePath}/postings",
            TextAnalysis.TermIndexOptions)
          .select("token", "doc_id", "dl", "tf", "positions")
          .collect().map(_.toSeq).toSet
      assert(postings(incDir) == postings(fullDir))
      // BM25 through the appended index == through the rebuild == scan
      val terms = Seq("scan", "column")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "bm25_micro", "terms_hit", "rank")
        .collect().map(_.toSeq).toSet
      val viaInc = rows(TextAnalysis.bm25IndexedTopK(spark,
        incDir.getAbsolutePath, terms, 20))
      val viaFull = rows(TextAnalysis.bm25IndexedTopK(spark,
        fullDir.getAbsolutePath, terms, 20))
      val viaScan = rows(TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 20))
      assert(viaInc == viaFull && viaInc == viaScan)
      // a replayed append is a no-op in both stores
      val (p2, s2) = TextAnalysis.appendToTextIndex(second, "doc_id", "text",
        incDir.getAbsolutePath, "batch-000000001")
      assert(!p2 && !s2)
      assert(TextAnalysis.readTextStats(spark,
        incDir.getAbsolutePath).head.getAs[Long]("n") == 180L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(incDir); rm(fullDir)
    }
  }

  test("text-index appends: uncompacted batches keep BM25 equal to a full scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textbatches").toFile
    val words = Seq("alpha", "beta", "scan", "column", "window", "sort")
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until (3 + i % 5)).map(j =>
        words((i * 7 + j * 3) % words.length)).mkString(" "))
    try {
      val path = dir.getAbsolutePath
      TextAnalysis.buildTextIndex((0 until 40).map(doc).toDF("doc_id", "text"),
        "doc_id", "text", path)
      // two batches, neither folded: the index reads across batch files
      for ((ids, b) <- Seq((40 until 42, 1), (42 until 45, 2)))
        assert(TextAnalysis.appendToTextIndex(ids.map(doc).toDF("doc_id", "text"),
          "doc_id", "text", path, f"batch-$b%09d") == ((true, true)))
      // the index serves BM25 identical to a full scan over the union
      // corpus: postings rows and folded N/avgdl are equal by
      // construction, however the documents arrived
      val union = (0 until 45).map(doc).toDF("doc_id", "text")
      val viaIdx = TextAnalysis.bm25IndexedTopK(spark, path,
          Seq("scan", "column"), 15)
        .collect().map(_.toSeq).toSet
      val viaScan = TextAnalysis.bm25TopK(union, "doc_id", "text",
          Seq("scan", "column"), 15)
        .collect().map(_.toSeq).toSet
      assert(viaIdx == viaScan && viaIdx.nonEmpty)
      assert(TextAnalysis.readTextStats(spark, path).head.getAs[Long]("n") == 45L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("passage retrieval: chunk-level BM25 pools max-per-document and finds the hot passage inside a long doc") {
    import spark.implicits._
    // doc 0: the query terms live ONLY in the second chunk (positions
    // 33-34 of a 34-token doc; window 32 / stride 16 -> chunks start
    // at 1 and 17); doc 1 is a one-token match
    val docs = Seq(
      (0L, (Seq.fill(32)("x") ++ Seq("column", "scan")).mkString(" ")),
      (1L, "column")
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, "text",
        windowTokens = 32, strideTokens = 16)
      .select((col("doc_id") * 1000000L + col("chunk_idx")).as("pid"),
        col("chunk_text"))
    val passages = TextAnalysis.bm25TopK(chunks, "pid", "chunk_text",
      Seq("column", "scan"), topK = 100)
      .withColumn("chunk_idx", col("pid") % 1000000L)
      .withColumn("doc_id",
        ((col("pid") - col("chunk_idx")) / lit(1000000L)).cast("long"))
    val best = passages
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("bm25_micro").desc, col("chunk_idx").asc)))
      .filter(col("__rn") === 1)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx"), r.getAs[Long]("bm25_micro")))
      .sortBy(_._1)
    // doc 0's best passage is chunk 1 (the only one holding the
    // terms), and its two-term passage outscores doc 1's single term
    assert(best.map(b => (b._1, b._2)).toList == List((0L, 1L), (1L, 0L)),
      best.toList)
    assert(best(0)._3 > best(1)._3, best.toList)
    // NEGATIVE doc ids round-trip the pid composite exactly: pmod
    // keeps the recovered chunk_idx in [0, 1e6) so the signed doc id
    // comes back intact (a plain % would corrupt both)
    val neg = TextAnalysis.passageTopK(
      docs.withColumn("doc_id", col("doc_id") - 5L), "doc_id", "text",
      Seq("column", "scan"), windowTokens = 32, strideTokens = 16,
      passageK = 100, topK = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("best_chunk_idx"))).sortBy(_._1)
    assert(neg.toList == List((-5L, 1L), (-4L, 0L)), neg.toList)
  }

  test("batched BM25 equals per-query solo runs; facet counts bucket nulls") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "scan", "merge", "column", "window",
      "sort", "filter")
    val docs = (0 until 150).map { i =>
      val toks = (0 until (3 + i % 6)).map(j => words((i * 5 + j * 3) % words.length))
      (i.toLong, toks.mkString(" "),
        if (i % 7 == 0) null else s"l${i % 3}")
    }.toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("batch").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir.getAbsolutePath)
      val qs = Seq(7L -> Seq("scan", "column"), 9L -> Seq("merge", "filter"))
      val batch = TextAnalysis.bm25IndexedTopKBatch(spark,
          dir.getAbsolutePath, qs, topK = 12)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_micro"),
          r.getAs[Long]("terms_hit"), r.getAs[Long]("rank"))).toSet
      val solo = qs.flatMap { case (qid, ts) =>
        TextAnalysis.bm25IndexedTopK(spark, dir.getAbsolutePath, ts, 12)
          .collect().map(r => (qid, r.getAs[Long]("doc_id"),
            r.getAs[Long]("bm25_micro"), r.getAs[Long]("terms_hit"),
            r.getAs[Long]("rank")))
      }.toSet
      assert(batch == solo, "batched scores/ranks must equal solo runs")
      // facet counts: null metadata buckets under "(none)", totals
      // cover every matched doc exactly once per facet
      val matched = TextAnalysis.termLookupAll(spark, dir.getAbsolutePath,
        Seq("scan"))
      val n = matched.count()
      val fc = graft.pipeline.Retrieval.facetCounts(matched, docs,
          "doc_id", Seq("lang"))
        .collect().map(r => (r.getAs[String]("value"),
          r.getAs[Long]("n_docs"))).toMap
      assert(fc.values.sum == n, s"$fc must cover all $n matched docs")
      assert(fc.contains("(none)"), fc)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("snippet window and AND-NOT retrieval match hand models over positional postings") {
    import spark.implicits._
    val docs = Seq(
      (0L, "scan x x x x x x column"),      // both in [0,8): start 0
      (1L, "x scan x x x x x x column"),    // both only in [1,9): start 1
      (2L, "column x x x x x x x scan"),    // 9 apart: 1-term window, start 0
      (3L, "scan scan column"),             // 2 terms, 3 occs at start 0
      (4L, "nothing here"),                 // no match: absent
      (5L, "scan scan")                     // the AND-NOT survivor
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("snip").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir.getAbsolutePath)
      val got = TextAnalysis.snippetWindow(spark, dir.getAbsolutePath,
          Seq("scan", "column"), width = 8)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("snippet_start"), r.getAs[Long]("terms_in_window"),
          r.getAs[Long]("occs_in_window"))).sortBy(_._1).toList
      assert(got == List((0L, 0L, 2L, 2L), (1L, 1L, 2L, 2L),
        (2L, 0L, 1L, 1L), (3L, 0L, 2L, 3L), (5L, 0L, 1L, 2L)), got)
      // AND-NOT: docs with 'scan' but never 'column'
      val not = TextAnalysis.termLookupAllNot(spark, dir.getAbsolutePath,
          must = Seq("scan"), mustNot0 = Seq("column"))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("total_tf"))).sortBy(_._1).toList
      assert(not == List((5L, 2L)), not)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("weighted-term (sparse) retrieval: integer weight sums match a hand model; negative weights demote, not filter") {
    import spark.implicits._
    val docs = Seq(
      (0L, "column scan column"),          // 2*5 + 1*3 = 13
      (1L, "scan scan scan"),               // 3*3 = 9
      (2L, "column window"),                // 5 - 4 = 1
      (3L, "window window window window"),  // -16: still ranked
      (4L, "nothing here")                  // no match: absent
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sparse").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir.getAbsolutePath)
      val got = TextAnalysis.weightedTermTopK(spark, dir.getAbsolutePath,
        Seq("column" -> 5L, "scan" -> 3L, "window" -> -4L), topK = 10)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("score_micro"), r.getAs[Long]("terms_hit"),
          r.getAs[Long]("rank")))
      assert(got.toList == List((0L, 13L, 2L, 1L), (1L, 9L, 1L, 2L),
        (2L, 1L, 2L, 3L), (3L, -16L, 1L, 4L)), got.toList)
      // duplicate weight terms are rejected, not silently summed
      intercept[IllegalArgumentException] {
        TextAnalysis.weightedTermTopK(spark, dir.getAbsolutePath,
          Seq("scan" -> 1L, "scan" -> 2L), topK = 5)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("text-index erasure: delete equals rebuild, purge reclaims bytes, double delete is stats-neutral") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "scan", "merge",
      "column", "window", "sort", "filter")
    val docs = (0 until 150).map { i =>
      val toks = (0 until (3 + i % 7)).map(j => words((i * 7 + j * 3) % words.length))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val keep = docs.filter(col("doc_id") % 5 =!= 2)
    val delDir = java.nio.file.Files.createTempDirectory("textdel").toFile
    val refDir = java.nio.file.Files.createTempDirectory("textref").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", delDir.getAbsolutePath)
      TextAnalysis.deleteFromTextIndex(spark, delDir.getAbsolutePath,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), "gdpr-1")
      TextAnalysis.buildTextIndex(keep, "doc_id", "text", refDir.getAbsolutePath)
      // folded stats equal the filtered-corpus rebuild exactly (the
      // negative delta came from the doclens table, not postings)
      def stats(d: java.io.File) =
        TextAnalysis.readTextStats(spark, d.getAbsolutePath).head
      assert(stats(delDir) == stats(refDir), s"${stats(delDir)} vs ${stats(refDir)}")
      // every lookup path hides the deleted docs: BM25, AND, phrase
      val terms = Seq("scan", "column")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rows(TextAnalysis.bm25IndexedTopK(spark, delDir.getAbsolutePath,
          terms, 20)) ==
        rows(TextAnalysis.bm25IndexedTopK(spark, refDir.getAbsolutePath,
          terms, 20)))
      assert(rows(TextAnalysis.termLookupAll(spark, delDir.getAbsolutePath,
          terms)) ==
        rows(TextAnalysis.termLookupAll(spark, refDir.getAbsolutePath, terms)))
      assert(rows(TextAnalysis.phraseLookup(spark, delDir.getAbsolutePath,
          terms)) ==
        rows(TextAnalysis.phraseLookup(spark, refDir.getAbsolutePath, terms)))
      // deleting the same cohort again is stats-neutral (the doclens
      // read is tombstone-aware, so the second delta is zero)
      TextAnalysis.deleteFromTextIndex(spark, delDir.getAbsolutePath,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), "gdpr-2")
      assert(stats(delDir) == stats(refDir))
      // physical purge: the deleted ids leave the BYTES — a raw read
      // of the postings parts finds none of them — and results hold
      TextAnalysis.purgeTextIndex(spark, delDir.getAbsolutePath)
      val raw = spark.read.parquet(s"${delDir.getAbsolutePath}/postings")
      assert(raw.filter(col("doc_id") % 5 === 2).count() == 0L)
      assert(rows(TextAnalysis.bm25IndexedTopK(spark, delDir.getAbsolutePath,
          terms, 20)) ==
        rows(TextAnalysis.bm25IndexedTopK(spark, refDir.getAbsolutePath,
          terms, 20)))
      assert(stats(delDir) == stats(refDir))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(delDir); rm(refDir)
    }
  }

  test("phrase search: adjacency from positional postings matches a hand scan of the raw text") {
    import spark.implicits._
    val docs = Seq(
      (0L, "full table scan is slow"),
      (1L, "the column scan wins"),
      (2L, "column scan column scan column scan"),
      (3L, "scan column"),                  // reversed — no phrase hit
      (4L, "column  scan"),                 // empty token between — no hit
      (5L, "a column scan and another column scan here"),
      (6L, "column alone and scan apart"),
      (7L, "nothing relevant")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("phrase").toFile
    try {
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir.getAbsolutePath)
      val got = TextAnalysis.phraseLookup(spark, dir.getAbsolutePath,
          Seq("column", "scan"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
        .toSet
      // hand model: consecutive "column scan" occurrences per doc
      assert(got == Set((1L, 1L), (2L, 3L), (5L, 2L)), got)
      // single-term phrase degenerates to that term's tf
      val single = TextAnalysis.phraseLookup(spark, dir.getAbsolutePath,
          Seq("scan"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
        .toMap
      assert(single(2L) == 3L && single(3L) == 1L && !single.contains(7L))
      // a three-term phrase spanning a repeated token ("column scan column")
      val tri = TextAnalysis.phraseLookup(spark, dir.getAbsolutePath,
          Seq("column", "scan", "column"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
        .toSet
      assert(tri == Set((2L, 2L)), tri)
      // the postings scan must be token-range pruned, not a full read
      val plan = TextAnalysis.phraseLookup(spark, dir.getAbsolutePath,
        Seq("column", "scan")).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("token"),
        plan.take(1500))
      // proximity: order-insensitive min token distance, window-cut.
      // doc 3 is "scan column" (reversed — NEAR hits where the phrase
      // missed), doc 4 has an empty token between (distance 2), doc 6
      // sits at distance 3 exactly
      val near2 = TextAnalysis.proximityLookup(spark, dir.getAbsolutePath,
          "column", "scan", window = 2)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("min_dist")))
        .toSet
      assert(near2 == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 1L)),
        near2)
      val near3 = TextAnalysis.proximityLookup(spark, dir.getAbsolutePath,
          "column", "scan", window = 3)
        .collect().map(r => r.getAs[Long]("doc_id")).toSet
      assert(near3 == near2.map(_._1) + 6L, near3)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("two-level IVF: probe-all-coarse equals flat assignment; hierarchy matches a hand model; pruned search") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    val fine = Similarity.syntheticCodebook(spark, 256, 2)
    val coarse = Similarity.syntheticCodebook(spark, 16, 2, tag = "cc")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
    // probing EVERY coarse cell sees every fine cell: two-level must
    // reduce to the flat broadcast-join argmax exactly
    val flat = asMap(Similarity.assignCellsByJoin(corpus, "vec_id", "v", fine))
    val all = asMap(Similarity.probeCellsTwoLevel(corpus, "vec_id", "v",
      fine, coarse, coarseProbe = 16, nProbe = 1))
    assert(all == flat, "probe-all-coarse must equal flat assignment")
    // coarseProbe=2: assignment equals the hand-computed hierarchy
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    val fcents = fine.orderBy("cell_id").collect()
      .map(r => (r.getAs[Long]("cell_id"), r.getSeq[Double](1).toArray))
    val ccents = coarse.orderBy("cell_id").collect()
      .map(r => (r.getAs[Long]("cell_id"), r.getSeq[Double](1).toArray))
    val f2c = fcents.map { case (fid, fv) =>
      fid -> ccents.maxBy { case (cid, cv) => (cos(fv, cv), -cid) }._1
    }.toMap
    val two = asMap(Similarity.probeCellsTwoLevel(corpus, "vec_id", "v",
      fine, coarse, coarseProbe = 2, nProbe = 1))
    val vecs = corpus.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
    for ((id, v) <- vecs) {
      val top2 = ccents.sortBy { case (cid, cv) => (-cos(v, cv), cid) }
        .take(2).map(_._1).toSet
      val want = fcents.filter(fc => top2.contains(f2c(fc._1)))
        .maxBy { case (fid, fv) => (cos(v, fv), -fid) }._1
      assert(two(id) == want, s"vec $id: got ${two(id)}, want $want")
    }
    // build + search keep the probed-cell partition pruning
    val dir = java.nio.file.Files.createTempDirectory("ivf2l").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.TwoLevel(coarseProbe = 2), Seq(fine, coarse))
      val q = Seq((999L, Array(1.0f, 0.05f))).toDF("q_id", "q_vec")
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, nProbe = 8)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
        plan.take(2000))
      assert(out.collect().nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("refineUntilConverged stops on centroid stability, eps=0 runs all iters") {
    import spark.implicits._
    // one tight cluster per seed: the first Lloyd step lands each
    // centroid on its cluster mean and every later step is a fixpoint
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f))).toDF("vec_id", "v")
    val seeds = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val (cEps, itEps) = Similarity.refineUntilConverged(
      corpus, "vec_id", "v", seeds, maxIters = 10, eps = 1e-9)
    // step 1 computes means (== seeds here), step 2 observes movement
    // below eps and stops — far short of maxIters
    assert(itEps <= 2, s"ran $itEps iters")
    val (cAll, itAll) = Similarity.refineUntilConverged(
      corpus, "vec_id", "v", seeds, maxIters = 3, eps = 0.0)
    assert(itAll == 3)
    assert(cEps.map(_._2).toSeq == cAll.map(_._2).toSeq) // same fixpoint
  }

  test("product quantization: seeds reconstruct exactly at iters=0; codes bounded; re-rank serves true cosines") {
    import spark.implicits._
    val corpus = (0 until 80).map { i =>
      val a = i * 0.07
      (i.toLong, Array.tabulate(16)(d => math.cos(a + d * 0.3).toFloat))
    }.toDF("vec_id", "v")
    val cb0 = Similarity.pqTrainCodebooks(corpus, "vec_id", "v",
      dims = 16, m = 4, kCents = 8, iters = 0)
    assert(cb0.count() == 4L * 8L)
    val codes = Similarity.pqEncode(corpus, "vec_id", "v", 16, 4, cb0)
    val cArr = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(cArr.size == 80)
    assert(cArr.values.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 8)))
    // at iters=0 the codebooks ARE the 8 lowest-id vectors' slices, so
    // a seed vector's own slices sit at d2=0 and it decodes to ITSELF
    val rv = Similarity.pqDecode(codes, "vec_id", cb0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val orig = corpus.select(col("vec_id"), col("v").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (id <- 0L until 8L) assert(rv(id) == orig(id), s"seed $id")
    // pqTopK: k rows per query, and the served cos_sim is the TRUE
    // float cosine (the re-rank stage, not the PQ approximation)
    val q = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val out = Similarity.pqTopK(q, corpus, "q_id", "q_vec", "vec_id", "v",
      dims = 16, k = 3, shortlist = 12, m = 4, kCents = 8, iters = 1)
      .collect()
    assert(out.length == 9, out.length)
    def cosTrue(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      if (d == 0) 0.0 else dot(a, b) / d
    }
    out.foreach { r =>
      val got = r.getAs[Double]("cos_sim")
      val want = cosTrue(orig(r.getAs[Long]("q_id")), orig(r.getAs[Long]("vec_id")))
      assert(math.abs(got - want) < 1e-12, s"$got vs $want")
    }
    // the persisted index serves IDENTICAL results — the artifact is
    // a storage layout, not a semantic change
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.PqCodes(m = 4, kCents = 8), Nil, pqIters = 1)
      val viaIdx = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, shortlist = Some(12),
        floats = Some(corpus))
        .collect().map(_.toSeq).toSet
      assert(viaIdx == out.map(_.toSeq).toSet)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("composed IVF x PQ index: probed-cell pruning with a codes-only candidate scan; probe-all+full-shortlist equals brute") {
    import spark.implicits._
    val corpus = (0 until 100).map { i =>
      val a = i * 0.06
      (i.toLong, Array.tabulate(16)(d => math.cos(a + d * 0.4).toFloat))
    }.toDF("vec_id", "v")
    val cb = Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Pq(m = 4, kCents = 8), Seq(cb), pqIters = 1)
      val q = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, shortlist = Some(12), nProbe = 2)
      val plan = out.queryExecution.executedPlan.toString
      // probed-cell pruning on the cells store
      assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
        plan.take(1500))
      // the candidate pass reads the CODES column, never the floats:
      // exactly one scan schema carries codes (and not v), and the
      // float column appears only in the re-rank scan
      assert(plan.contains("codes:array<int>"), plan.take(2000))
      assert(out.collect().length == 9)
      // probing every cell with a corpus-sized shortlist reduces the
      // index to plain PQ, whose full-shortlist re-rank is brute truth
      val all = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, shortlist = Some(100), nProbe = 8)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      val brute = Similarity.bruteForceTopK(q, corpus, "q_id", "q_vec",
        "vec_id", "v", k = 3)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      assert(all == brute, s"$all vs $brute")
      // incremental maintenance: a batch appended with the EXISTING
      // codebooks (cell-assigned + PQ-encoded, no retrain) surfaces
      // through the unchanged search path
      val probe = corpus.filter(col("vec_id") === 42L)
        .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      val twin = corpus.filter(col("vec_id") === 42L)
        .select((col("vec_id") + 1000L).as("vec_id"), col("v"))
      Similarity.append(twin, "vec_id", "v", dir.getAbsolutePath,
        batchId = 0L)
      val after = Similarity.search(spark, probe, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 1, shortlist = Some(5), nProbe = 2)
        .collect()
      assert(after.head.getAs[Long]("vec_id") == 1042L,
        s"the appended identical twin must rank first: ${after.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("filtered composed IVF×PQ search: predicate inside the probed-cell codes scan; payload rides append and retrain") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array.tabulate(16)(d => math.cos(a + d * 0.4).toFloat), i % 3)
    }.toDF("vec_id", "v", "label")
    val cb = Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqfilt").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Pq(m = 4, kCents = 8), Seq(cb), payload = Seq("label"),
        pqIters = 1)
      assert(IndexLayout.detect(spark, dir.getAbsolutePath) ==
        IndexLayout.Pq(4, 8, residual = false, payload = Seq("label")))
      val q = Seq((999L, Array.tabulate(16)(d => math.cos(d * 0.4).toFloat)),
        (998L, Array.tabulate(16)(d => math.cos(2.0 + d * 0.4).toFloat)))
        .toDF("q_id", "q_vec")
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 4, shortlist = Some(12), nProbe = 2,
        where = Some(col("label") === 1))
      // the label predicate reaches the probed-cell parquet scan: rows
      // are dropped before their m-code column decodes
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("label"),
        plan.take(2000))
      val got = out.collect()
      assert(got.nonEmpty)
      assert(got.forall(r => r.getAs[Long]("vec_id") % 3 == 1), got.toSeq)
      // probe-all + corpus-sized shortlist reduces to exact top-k over
      // the label-filtered corpus
      def filteredAll() = Similarity.search(spark, q, "q_id",
        "q_vec", dir.getAbsolutePath, "vec_id", "v", k = 4,
        shortlist = Some(120), nProbe = 8, where = Some(col("label") === 1))
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      val brute = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 1), "q_id", "q_vec",
        "vec_id", "v", k = 4)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      assert(filteredAll() == brute, s"${filteredAll()} vs $brute")
      // payload rides appends: an appended exact match under the
      // filter label ranks first
      Similarity.append(
        Seq((2000L, Array.tabulate(16)(d => math.cos(d * 0.4).toFloat), 1))
          .toDF("vec_id", "v", "label"),
        "vec_id", "v", dir.getAbsolutePath, batchId = 0L,
        payload = Seq("label"))
      val after = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 1, shortlist = Some(12),
        nProbe = 8, where = Some(col("label") === 1))
        .filter(col("q_id") === 999L).collect()
      assert(after.head.getAs[Long]("vec_id") == 2000L, after.toSeq)
      // a payload-LESS append against the payload-built index must
      // refuse loudly (its rows would read back null labels and be
      // invisible to every filtered search)
      intercept[IllegalArgumentException] {
        Similarity.append(
          Seq((3000L, Array.tabulate(16)(d => math.cos(d * 0.4).toFloat)))
            .toDF("vec_id", "v"),
          "vec_id", "v", dir.getAbsolutePath, batchId = 1L)
      }
      // payload survives a retrain: the new generation still serves
      // filtered search (and keeps the persisted non-residual flag)
      val (gen, _) = Similarity.retrain(spark, dir.getAbsolutePath,
        "vec_id", "v", maxIters = 1, pqIters = 1)
      assert(gen == 0L)
      assert(!IndexLayout.detect(spark,
        graft.pipeline.IndexGen.resolveRoot(spark, dir.getAbsolutePath))
        .asInstanceOf[IndexLayout.Pq].residual)
      val retrained = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 4, shortlist = Some(121),
        nProbe = 8, where = Some(col("label") === 1))
        .collect()
      assert(retrained.nonEmpty)
      assert(retrained.forall(r => r.getAs[Long]("vec_id") % 3 == 1
        || r.getAs[Long]("vec_id") == 2000L), retrained.toSeq)
      // residual twin: the same where contract through the IVFADC
      // layout; probe-all + full shortlist == brute over the filtered
      // corpus (the persisted meta records residual encoding)
      val dirR = java.nio.file.Files.createTempDirectory("ivfpqfiltr").toFile
      try {
        Similarity.build(corpus, "vec_id", "v", dirR.getAbsolutePath,
          IndexLayout.Pq(m = 4, kCents = 8, residual = true), Seq(cb),
          payload = Seq("label"), pqIters = 1)
        assert(IndexLayout.detect(spark, dirR.getAbsolutePath)
          .asInstanceOf[IndexLayout.Pq].residual)
        val allR = Similarity.search(spark, q, "q_id",
          "q_vec", dirR.getAbsolutePath, "vec_id", "v", k = 4,
          shortlist = Some(120), nProbe = 8, where = Some(col("label") === 1))
          .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
            r.getAs[Long]("rank"))).toSet
        assert(allR == brute, s"$allR vs $brute")
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(dirR)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("filtered vector search: predicate pushes into the probed-cell scan; probe-all equals brute over the filtered corpus") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat), i % 3)
    }.toDF("vec_id", "v", "label")
    val dir = java.nio.file.Files.createTempDirectory("ivffilt").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Flat,
        Seq(Similarity.trainCodebook(corpus, "vec_id", "v", nCells = 4, iters = 1)),
        payload = Seq("label"))
      val q = Seq((999L, Array(1.0f, 0.05f)),
        (998L, Array(0.0f, 1.0f))).toDF("q_id", "q_vec")
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 4, nProbe = 2,
        where = Some(col("label") === 1))
      // the label predicate reaches the parquet scan of the probed
      // cells — matching is decided before any vector byte scores
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("label"),
        plan.take(2000))
      val got = out.collect()
      assert(got.length == 8)
      assert(got.forall(r => r.getAs[Long]("vec_id") % 3 == 1), got.toSeq)
      // probe-all reduces the filter to exact semantics: top-k over
      // the label-filtered corpus
      val all = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 4, nProbe = 4,
        where = Some(col("label") === 1))
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      val brute = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 1), "q_id", "q_vec",
        "vec_id", "v", k = 4)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      assert(all == brute, s"$all vs $brute")
      // payload rides appends through the same aggregate
      Similarity.append(
        Seq((2000L, Array(1.0f, 0.05f), 1)).toDF("vec_id", "v", "label"),
        "vec_id", "v", dir.getAbsolutePath, batchId = 0L,
        payload = Seq("label"))
      val after = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 1, nProbe = 4,
        where = Some(col("label") === 1))
        .filter(col("q_id") === 999L).collect()
      assert(after.head.getAs[Long]("vec_id") == 2000L, after.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("filtered quantized search: predicate inside the probed-cell int8 scan; probe-all equals brute over the filtered corpus; payload survives retrain") {
    import spark.implicits._
    val corpus = (0 until 120).map { i =>
      val a = i * 0.05
      (i.toLong, Array.tabulate(16)(d => math.cos(a + d * 0.4).toFloat), i % 3)
    }.toDF("vec_id", "v", "label")
    val cb = Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfqfilt").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Quantized(), Seq(cb), payload = Seq("label"))
      val q = Seq((999L, Array.tabulate(16)(d => math.cos(d * 0.4).toFloat)))
        .toDF("q_id", "q_vec")
      def filteredAll() = Similarity.search(spark, q,
        "q_id", "q_vec", dir.getAbsolutePath, "vec_id", "v", k = 4,
        shortlist = Some(120), nProbe = 8, where = Some(col("label") === 1))
      val plan = filteredAll().queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("label"),
        plan.take(2000))
      val brute = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 1), "q_id", "q_vec",
        "vec_id", "v", k = 4)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      def got() = filteredAll()
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      assert(got() == brute, s"${got()} vs $brute")
      // the quantized retrain branch re-derives q_vec AND keeps the
      // label payload, so filtered search survives the rebuild
      val (gen, _) = Similarity.retrain(spark, dir.getAbsolutePath,
        "vec_id", "v", maxIters = 1)
      assert(gen == 0L)
      val after = got()
      assert(after.nonEmpty)
      assert(after.forall(_._2 % 3 == 1), after)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("residual IVF x PQ (IVFADC): tighter reconstruction than raw PQ on clustered data; probe-all+full-shortlist equals brute") {
    import spark.implicits._
    // four tight clusters: residuals against TRAINED cell centroids
    // are near zero, so the same m x kCents budget must beat raw PQ
    val corpus = (0 until 120).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(d =>
        (math.cos(c * 1.7 + d) + 0.05 * math.sin(i * 0.37 + d)).toFloat))
    }.toDF("vec_id", "v")
    // ids 0..3 seed one centroid per cluster; Lloyd converges tightly
    val (coarse, _) = Similarity.refineCodebookUntilConverged(corpus,
      "vec_id", "v", Similarity.seedCodebook(corpus, "vec_id", "v", 4),
      maxIters = 5, eps = 1e-9)
    val coarseS = graft.engine.Staging.stage(coarse)
    def mse(recon: org.apache.spark.sql.DataFrame): Double = corpus
      .select(col("vec_id"), col("v").cast("array<double>").as("__x"))
      .join(recon, Seq("vec_id"))
      .select(aggregate(zip_with(col("__x"), col("__rv"),
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("se"))
      .agg(avg(col("se"))).head.getDouble(0)
    // raw PQ reconstruction error
    val rawCb = Similarity.pqTrainCodebooks(corpus, "vec_id", "v",
      dims = 16, m = 4, kCents = 8, iters = 2)
    val rawMse = mse(Similarity.pqDecode(
      Similarity.pqEncode(corpus, "vec_id", "v", dims = 16, m = 4, rawCb),
      "vec_id", rawCb))
    // residual PQ reconstruction error (same budget): r = x - c(cell),
    // reconstruct as c(cell) + decode(code(r))
    val assigned = graft.engine.Staging.stage(
      Similarity.assignCellsByJoin(corpus, "vec_id", "v", coarseS))
    val res = graft.engine.Staging.stage(assigned
      .join(broadcast(coarseS), Seq("cell_id"))
      .select(col("vec_id"), zip_with(col("v").cast("array<double>"),
        col("centroid"), (x, c) => x - c).as("__res")))
    val resCb = Similarity.pqTrainCodebooks(res, "vec_id", "__res",
      dims = 16, m = 4, kCents = 8, iters = 2)
    val resRecon = Similarity.pqDecode(
      Similarity.pqEncode(res, "vec_id", "__res", dims = 16, m = 4, resCb),
        "vec_id", resCb)
      .join(assigned.select(col("vec_id"), col("cell_id")), Seq("vec_id"))
      .join(broadcast(coarseS), Seq("cell_id"))
      .select(col("vec_id"),
        zip_with(col("__rv"), col("centroid"), (r, c) => r + c).as("__rv"))
    val resMse = mse(resRecon)
    assert(resMse < rawMse,
      s"residual PQ must reconstruct tighter: $resMse vs raw $rawMse")
    // the composed artifact: pruning + codes-only candidate scan, and
    // probe-all with a corpus-sized shortlist re-ranks to brute truth
    val dir = java.nio.file.Files.createTempDirectory("ivfpqres").toFile
    try {
      Similarity.build(corpus, "vec_id", "v", dir.getAbsolutePath,
        IndexLayout.Pq(m = 4, kCents = 8, residual = true), Seq(coarseS),
        pqIters = 1)
      val q = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      val out = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, shortlist = Some(12), nProbe = 2)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
        plan.take(1500))
      assert(plan.contains("codes:array<int>"), plan.take(2000))
      assert(out.collect().length == 9)
      val all = Similarity.search(spark, q, "q_id", "q_vec",
        dir.getAbsolutePath, "vec_id", "v", k = 3, shortlist = Some(120), nProbe = 4)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      val brute = Similarity.bruteForceTopK(q, corpus, "q_id", "q_vec",
        "vec_id", "v", k = 3)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rank"))).toSet
      assert(all == brute, s"$all vs $brute")
      // append with the persisted codebooks (assign + residualize +
      // encode, no retrain): an identical twin surfaces as top-1
      val probe = corpus.filter(col("vec_id") === 42L)
        .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      val twin = corpus.filter(col("vec_id") === 42L)
        .select((col("vec_id") + 1000L).as("vec_id"), col("v"))
      Similarity.append(twin, "vec_id", "v", dir.getAbsolutePath,
        batchId = 0L)
      // shortlist must clear the cluster population: the cluster's
      // residual reconstructions are near-identical (that is the
      // point of residual coding), so the candidate stage ties and
      // only the float re-rank separates the exact twin
      val after = Similarity.search(spark, probe,
        "q_id", "q_vec", dir.getAbsolutePath, "vec_id", "v",
        k = 1, shortlist = Some(40), nProbe = 2).collect()
      assert(after.head.getAs[Long]("vec_id") == 1042L,
        s"the appended identical twin must rank first: ${after.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("frame-based Lloyd equals the driver-literal Lloyd bit for bit") {
    import spark.implicits._
    val corpus = (0 until 90).map { i =>
      val a = i * 0.07
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    // driver form: literal seed centroids + collected Lloyd steps
    val cents0 = corpus.orderBy(col("vec_id")).limit(6)
      .select(col("vec_id").cast("long"), col("v").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (cDrv, itD) = Similarity.refineUntilConverged(
      corpus, "vec_id", "v", cents0, maxIters = 3, eps = 1e-9)
    // frame form: nothing codebook-sized touches the driver
    val (cbF, itF) = Similarity.refineCodebookUntilConverged(
      corpus, "vec_id", "v",
      Similarity.seedCodebook(corpus, "vec_id", "v", 6),
      maxIters = 3, eps = 1e-9)
    assert(itD == itF, s"driver ran $itD steps, frame ran $itF")
    val frame = cbF.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(frame.size == cDrv.length)
    cDrv.foreach { case (id, c) =>
      assert(frame(id) == c, s"cell $id: ${frame(id)} vs $c")
    }
  }

  test("broadcast budget gate throws on an oversized query side") {
    import spark.implicits._
    val corpus = (0 until 20).map(i =>
      (i.toLong, Array(i.toFloat, 1.0f), s"l$i")).toDF("vec_id", "v", "label")
    // 64-dim doubles -> ~600 B/row estimated; a 4 KB budget admits ~6
    // rows, so 40 queries must trip the gate BEFORE any join executes
    val q = (100 until 140).map(i =>
      (i.toLong, Array.fill(64)(i.toFloat), "q")).toDF("q_id", "q_vec", "q_label")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val e = intercept[IllegalArgumentException] {
        Similarity.hardNegatives(q, corpus,
          "q_id", "q_vec", "q_label", "vec_id", "v", "label",
          k = 2, Similarity.Brute).collect()
      }
      assert(e.getMessage.contains("broadcast budget") &&
        e.getMessage.contains("Lsh"), e.getMessage)
      // bruteForceTopK shares the gate
      intercept[IllegalArgumentException] {
        Similarity.bruteForceTopK(q.select(col("q_id"), col("q_vec")), corpus,
          "q_id", "q_vec", "vec_id", "v", k = 1).collect()
      }
      // a within-budget query set still runs under the tiny threshold
      val small = q.limit(3)
      assert(Similarity.hardNegatives(small, corpus,
        "q_id", "q_vec", "q_label", "vec_id", "v", "label",
        k = 2, Similarity.Brute).count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("embedding near-dup pairs via LSH buckets") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.001f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineSelfJoinPairs(df, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding self-join bucket cap bounds a mass-duplicated hot bucket") {
    import spark.implicits._
    // 500 copies of the same vector land in ONE LSH bucket; uncapped
    // that is 124,750 pairs — the cap must keep only the maxBucket
    // lowest ids (deterministic) and the overflow report must name
    // the truncated bucket with its full population.
    val hot = (0L until 500L).map(i => (i, Array(1.0f, 0.0f, 0.0f)))
    val cold = Seq((900L, Array(0.0f, 1.0f, 0.0f)), (901L, Array(0.0f, 0.999f, 0.001f)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineSelfJoinPairs(df, "vec_id", "embedding",
      threshold = 0.99, planes = 4, maxBucket = 20).collect()
    val hotPairs = pairs.filter(_.getAs[Long]("id_a") < 500L)
    assert(hotPairs.length == 20 * 19 / 2)
    // lowest ids win: every surviving hot-bucket member is < 20
    assert(hotPairs.forall(r => r.getAs[Long]("id_b") < 20L))
    // the small clean bucket is untouched by the cap
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 900L && r.getAs[Long]("id_b") == 901L))
    val overflow = Similarity.cosineOverflowingBuckets(df, "vec_id", "embedding",
      planes = 4, maxBucket = 20).collect()
    assert(overflow.length == 1 && overflow(0).getAs[Long]("bucket_size") == 500L)
  }

  test("SemDeDup composition stays bounded on a mass-duplicated hot bucket") {
    import spark.implicits._
    // The full semantic-dedup pipeline (capped bucketed pairs →
    // connected components → keep-lowest-id): a 500-copy embedding
    // cluster must yield a component of exactly maxBucket members —
    // the cap's deterministic truncation, never an O(c²) pair blast —
    // while an untouched near-dup pair clusters normally, and the
    // overflow twin reports what the cap dropped.
    val hot = (0L until 500L).map(i => (i, Array(1.0f, 0.0f, 0.0f)))
    val cold = Seq((900L, Array(0.0f, 1.0f, 0.0f)), (901L, Array(0.0f, 0.999f, 0.001f)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineSelfJoinPairs(df, "vec_id", "embedding",
      threshold = 0.99, planes = 4, maxBucket = 20)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.dupClusters(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members")))
      .toMap
    assert(clusters == Map(0L -> 20L, 900L -> 2L))
    val overflow = Similarity.cosineOverflowingBuckets(df, "vec_id", "embedding",
      planes = 4, maxBucket = 20).collect()
    assert(overflow.length == 1 && overflow(0).getAs[Long]("bucket_size") == 500L)
  }

  test("ImageIoCodec decodes real PNG/BMP pixels exactly (lossless round trip)") {
    import graft.pipeline.Multimodal.{ImageIoCodec, SyntheticImages}
    // pixel v(id,x,y) = (id*31 + x*7 + y*13) % 256, grayscale in RGB
    def vs(id: Long): Seq[Int] =
      for { y <- 0 until 8; x <- 0 until 8 } yield SyntheticImages.pixel(id, x, y)
    for (fmt <- Seq("png", "bmp")) {
      val st = ImageIoCodec.stats(
        ImageIoCodec.readImage(SyntheticImages.encode(5L, 8, 8, fmt)).get)
      assert((st.width, st.height, st.channels) == ((8, 8, 3)), fmt)
      assert(st.channelSum == vs(5L).map(3L * _).sum, fmt)
    }
    // jpeg is lossy: dimensions must still decode
    val j = ImageIoCodec.readImage(SyntheticImages.encode(9L, 8, 8, "jpeg")).get
    assert(j.getWidth == 8 && j.getHeight == 8)
    assert(ImageIoCodec.readImage("junk".getBytes).isEmpty)
  }

  test("AviCodec: MJPEG round trip, header timing, stride, stub fallback") {
    import Multimodal._
    import spark.implicits._
    // REAL JPEG frames (MJPEG proper): encode through ImageIO, wrap,
    // walk back, and every extracted frame must decode to the right
    // dimensions
    val jpegs = (0 until 6).map { f =>
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 8).foreach(y => (0 until 8).foreach(x =>
        img.setRGB(x, y, SyntheticImages.pixel(f.toLong, x, y) * 0x010101)))
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", o)
      o.toByteArray
    }
    val avi = AviCodec.encode(jpegs, fps = 2, 8, 8)
    val parsed = AviCodec.parse(avi).get
    assert(parsed.usPerFrame == 500000 && parsed.width == 8 && parsed.height == 8)
    assert(parsed.frames.length == 6)
    assert(parsed.frames.zip(jpegs).forall { case (a, b) => a.sameElements(b) })
    assert(parsed.frames.forall(f =>
      ImageIoCodec.readImage(f).exists(i => i.getWidth == 8 && i.getHeight == 8)))
    // sampling stride follows the header: 2 fps, 1000 ms -> frames 0,2,4
    val media = Seq(MediaRow(9L, avi, MediaMeta("video", "avi", 8, 8, 3000L)))
      .toDS()
    val sampled = Multimodal.sampleVideoFrames(media, everyMs = 1000L).collect()
    assert(sampled.map(_.frameIdx).toSeq == Seq(0, 1, 2))
    assert(sampled.zip(Seq(0, 2, 4)).forall { case (s, src) =>
      s.frameBytes.sameElements(jpegs(src)) })
    // videoFrameStats decodes the REAL frames
    val stats = Multimodal.videoFrameStats(media, everyMs = 1000L).collect()
    assert(stats.length == 3 && stats.forall(r => r.getInt(2) == 8))
    // a non-AVI payload still flows through the stub, never fails
    val stub = Multimodal.sampleVideoFrames(
      Seq(MediaRow(1L, Array[Byte](1, 2, 3),
        MediaMeta("video", "bin", 0, 0, 2000L))).toDS(), everyMs = 1000L)
      .collect()
    assert(stub.length == 2)
    // truncated AVI bytes reject cleanly
    assert(AviCodec.parse(avi.take(40)).isEmpty)
    assert(AviCodec.parse(Array[Byte]()).isEmpty)
    // a corrupt NEGATIVE chunk size must reject, not loop forever
    val evil = avi.clone()
    // movi LIST body: '00dc' at movi+4, its SIZE at movi+8
    val moviAt = avi.indexOfSlice("movi".getBytes("US-ASCII"))
    (8 until 12).foreach(k => evil(moviAt + k) = -1)
    assert(AviCodec.parse(evil).isEmpty)
    // a container truncated MID-FRAME must reject, not silently
    // zero-pad the last frame (copyOfRange pads past the buffer)
    assert(AviCodec.parse(avi.dropRight(3)).isEmpty)
    // ... even when the LAST frame's declared size runs past the
    // buffer but its header is intact
    assert(AviCodec.parse(avi.dropRight(jpegs.last.length / 2)).isEmpty)
  }

  test("WavCodec: encode/parse round trip, chunk skipping, malformed rejection") {
    import Multimodal._
    val samples = Array.tabulate(300)(i => SyntheticAudio.sample(7L, i).toShort)
    val bytes = WavCodec.encodePcm16Mono(samples, 16000)
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE")
    val (meta, parsed) = WavCodec.parse(bytes).get
    assert(meta == AudioMeta(16000, 1, 16, 300))
    assert(parsed.toSeq == samples.toSeq)

    // real-world files carry metadata chunks before data: splice a
    // LIST chunk in — the chunk walker must skip it and still parse
    val list = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
      .array()
    val spliced = bytes.take(12) ++ list ++ bytes.drop(12)
    val (meta2, parsed2) = WavCodec.parse(spliced).get
    assert(meta2.nSamples == 300 && parsed2.toSeq == samples.toSeq)

    assert(WavCodec.parse(null) == None)
    assert(WavCodec.parse(Array.fill[Byte](10)(1)) == None)
    assert(WavCodec.parse("RIFFxxxxJUNK".getBytes ++ Array.fill[Byte](40)(0)) == None)
    // declared data length beyond the payload must not throw
    val truncated = bytes.take(60)
    assert(WavCodec.parse(truncated) == None)
  }

  test("audioFeatures: hand-computed windows, partial tail, garbage dropped") {
    import spark.implicits._
    import Multimodal._
    // id 1: 5 samples with known sign flips; window of 3 -> windows
    // [3, -2, 4] and [-1, 0]
    val s1 = Array[Short](3, -2, 4, -1, 0)
    val media = Seq(
      MediaRow(1L, WavCodec.encodePcm16Mono(s1, 8000), MediaMeta("audio", "wav", 0, 0, 0L)),
      MediaRow(2L, Array.fill[Byte](30)(42), MediaMeta("audio", "wav", 0, 0, 0L))
    ).toDS()
    val rows = Multimodal.audioFeatures(media, windowSamples = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).sortBy(t => (t._1, t._2)).toSeq
    // window 0: |3|+|-2|+|4|=9, 9+4+16=29, flips 3/-2 and -2/4 -> 2
    // window 1: |-1|+|0|=1, 1, flips: -1*0 not < 0 -> 0
    assert(rows == Seq((1L, 0, 3, 9L, 29L, 2), (1L, 1, 2, 1L, 1L, 0)))
  }

  test("repeatedSubstringSpans: cross-doc span, intra-doc repeat, merge, edges") {
    import spark.implicits._
    // doc 1 & 2 share the 4-gram "p q r s" (cross-doc dup);
    // doc 3 repeats "m n o p" twice WITHIN itself (intra-doc dup);
    // doc 4 shares nothing; doc 5 is shorter than k; doc 6 is null.
    val docs = Seq(
      (1L, "a b c p q r s d e"),
      (2L, "x y p q r s z w v"),
      (3L, "m n o p k m n o p j"),
      (4L, "t u 1 2 3 4 5 6 7"),
      (5L, "q r"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // doc 1: "p q r s" at tokens 4-7; doc 2: at 3-6;
    // doc 3: "m n o p" at 1-4 and 6-9 (gap of 1 token > merge reach? pos
    // 1 and 6: 6-1=5 > k=4 -> two islands)
    assert(spans == Seq(
      (1L, 4, 7, 4), (2L, 3, 6, 4), (3L, 1, 4, 4), (3L, 6, 9, 4)))

    // overlapping dup grams merge into ONE maximal span: doc 7 and 8
    // share 6 consecutive tokens -> three overlapping 4-grams -> one
    // span of 6 tokens each.
    val docs2 = Seq(
      (7L, "h i j k l m tail1 x"),
      (8L, "pre h i j k l m")
    ).toDF("doc_id", "text")
    val merged = Dedup.repeatedSubstringSpans(docs2, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(merged == Seq((7L, 1, 6, 6), (8L, 2, 7, 6)))
  }

  test("withSubstringDupStats: zero for clean/short/null docs, exact fractions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),     // shares "a b c d" with doc 2
      (2L, "z a b c d y"),
      (3L, "only unique words here now"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val stats = Dedup.withSubstringDupStats(docs, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(stats == Seq(
      (1L, 8L, 4L, 0.5), (2L, 6L, 4L, 0.666667), (3L, 5L, 0L, 0.0), (4L, 0L, 0L, 0.0)))
  }

  test("topKPerQuery plans as WindowGroupLimit, no object boundary") {
    import spark.implicits._
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array(i.toFloat, 1.0f))).toDF("vec_id", "v")
    val q = Seq((100L, Array(0.9f, 0.1f)), (101L, Array(0.1f, 0.9f)))
      .toDF("q_id", "q_vec")
    val out = Similarity.bruteForceTopK(q, corpus,
      "q_id", "q_vec", "vec_id", "v", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    // map-side partial rank pruning replaces the old per-partition
    // heap: the plan must carry the codegen'd WindowGroupLimit pair
    // and no Deserialize/MapPartitions/Serialize sandwich
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("MapPartitions"), plan.take(2000))
    assert(out.count() == 6)
  }

  test("term index store: range-clustered postings prune by token") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tix").toString
    // vocabulary spread across the alphabet so range clustering yields
    // token-disjoint parts; fat rows force several output parts
    val words = Seq("alpha", "bravo", "hotel", "kilo", "quebec", "zulu")
    val docs = (0L until 12000L).map { i =>
      (i, (0 until 8).map(j => words(((i + j) % words.size).toInt) +
        (i % 97)).mkString(" "))
    }.toDF("doc_id", "text")
    val post = TextAnalysis.indexPostings(docs)
    val o = TextAnalysis.TermIndexOptions.copy(l1PartBytes = 64L << 10)
    // eight small L0 appends (each under the part cap)
    (0 until 8).foreach(i => graft.sources.Store.atomicAppend(
      post.filter(col("doc_id") % 8 === i), dir, s"p$i"))
    val rep = graft.sources.Compact.run(spark, dir, o)
    assert(rep.merges >= 1 && rep.filesAfter >= 3, s"clustered parts: $rep")
    // a low-alphabet probe skips the high-range parts
    val pr = graft.sources.Compact.pruneReport(spark, dir,
      Seq(graft.sources.Compact.partEq("token", "alpha0")), o)
    assert(pr.skippedFiles >= 1, s"token range pruning: $pr")
    // lookup == filter over the raw postings
    val got = graft.sources.Compact.readPruned(spark, dir,
        Seq(graft.sources.Compact.PartIn("token", Seq("alpha0", "zzz"))), o)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = post.filter(col("token") === "alpha0")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("leakage-free split: near-dup pair members never straddle splits") {
    import spark.implicits._
    val texts = (0 until 12).map(i =>
      s"unique document number $i with plenty of distinct words ${i * 7} ${i * 13} tail$i")
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      texts.take(6).zipWithIndex.map { case (t, i) => (100L + i, t) })
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairsPortable(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
    assert(pairs.count() >= 6, "exact dups must pair")
    val clusters = Dedup.dupClusters(pairs).withColumnRenamed("id", "doc_id")
    val bucket = (conv(substring(md5(
        coalesce(col("cluster_id"), col("doc_id")).cast("string")), 1, 5),
        16, 10).cast("long") % 100).cast("int")
    val assigned = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val straddling = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => assigned(a) != assigned(b) }
    assert(straddling.isEmpty,
      s"cluster members must share a split: ${straddling.mkString(", ")}")
    assert(assigned.size == 18)
  }

  test("residual IVFxPQ recall >= raw at matched budget on trained clusters") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // clustered corpus with noise HIGH enough that PQ distortion costs
    // raw recall (the sf fixtures' tight clusters sit at the 1.0
    // ceiling where the comparison is vacuous); tight budget: m=4
    // sub-codebooks, shortlist=5 over ~50-member cells
    val nClusters = 8; val dims = 16; val n = 400
    val corpus = (0 until n).map { i =>
      val c = i % nClusters
      val v = (0 until dims).map { j =>
        val center = (((c * 131 + j * 17) % 2001) - 1000) / 1000.0
        val noise = (((i * 37 + j * 11) % 2001) - 1000) / 1000.0
        center + noise * 0.45
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val (cb, _) = graft.pipeline.Similarity.refineCodebookUntilConverged(
      corpus, "vec_id", "embedding",
      graft.pipeline.Similarity.seedCodebook(corpus, "vec_id", "embedding",
        nClusters), maxIters = 3, eps = 0.0)
    val cbS = graft.engine.Staging.stage(cb)
    val q = corpus.filter(col("vec_id") < 12)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val truth = graft.pipeline.Similarity.bruteForceTopK(q, corpus,
        "q_id", "q_vec", "vec_id", "embedding", k = 3)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    def recallOf(residual: Boolean): Double = {
      val dir = java.nio.file.Files.createTempDirectory("recall").toString
      if (residual)
        graft.pipeline.Similarity.build(corpus, "vec_id", "embedding", dir,
          graft.pipeline.IndexLayout.Pq(m = 4, kCents = 8, residual = true),
          Seq(cbS), pqIters = 1)
      else
        graft.pipeline.Similarity.build(corpus, "vec_id", "embedding", dir,
          graft.pipeline.IndexLayout.Pq(m = 4, kCents = 8), Seq(cbS),
          pqIters = 1)
      val ann = graft.pipeline.Similarity.search(spark, q,
          "q_id", "q_vec", dir, "vec_id", "embedding",
          k = 3, shortlist = Some(5), nProbe = 2)
        .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
      (ann intersect truth).size.toDouble / truth.size
    }
    val raw = recallOf(residual = false)
    val res = recallOf(residual = true)
    info(s"recall@3: raw=$raw residual=$res")
    // deterministic fixture: measured raw=0.1667, residual=0.3056 -
    // residual STRICTLY beats raw at matched budget (the 0.45-noise
    // regime where PQ distortion actually costs recall; the sf
    // corpora's tight clusters sit at the 1.0 ceiling, q_ann_recall_
    // ivf_pq*)
    assert(res > raw, s"residual recall $res !> raw $raw at matched budget")
    assert(res >= 0.3, s"residual recall $res below the measured floor")
  }
}
