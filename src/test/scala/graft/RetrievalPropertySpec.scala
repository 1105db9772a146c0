package graft

import graft.pipeline.TextAnalysis
import org.apache.spark.sql.functions._

/** Randomized differential trials for the retrieval stack.
  *
  * Every operator here is EXACT (integer scoring, deterministic
  * tie-breaks), so unlike the LSH trials there is no "recall sample"
  * escape hatch: on random corpora the engine must agree row for row
  * with a sequential from-first-principles model — sparse weighted
  * scoring, snippet window argmax, AND-NOT membership — and the
  * batched BM25 must equal its per-query solo runs. Seeds are fixed
  * per trial, so failures replay. */
class RetrievalPropertySpec extends SparkTestBase {

  private val vocab = Vector("alpha", "beta", "scan", "merge", "column",
    "window", "sort", "filter", "join", "spill")

  private def randomCorpus(rnd: scala.util.Random, n: Int): Seq[(Long, String)] =
    (0 until n).map { i =>
      val len = 1 + rnd.nextInt(12)
      // occasional empty tokens exercise the position-slot contract
      val toks = Seq.fill(len)(
        if (rnd.nextInt(12) == 0) "" else vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "))
    }

  private def tf(text: String): Map[String, Int] =
    text.split(" ", -1).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, g) => (t, g.length) }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
  }

  test("randomized corpora: sparse weighted scoring matches a sequential model exactly") {
    import spark.implicits._
    for (trial <- 0 until 5) {
      val rnd = new scala.util.Random(1000 + trial)
      val corpus = randomCorpus(rnd, 60 + rnd.nextInt(60))
      val nW = 2 + rnd.nextInt(3)
      val weights = rnd.shuffle(vocab).take(nW)
        .map(t => (t, (rnd.nextInt(2001) - 1000).toLong))
      val topK = 1 + rnd.nextInt(20)
      // sequential model: docs matching >=1 weighted term, integer sum
      val model = corpus.flatMap { case (id, text) =>
        val f = tf(text)
        val hit = weights.filter { case (t, _) => f.contains(t) }
        if (hit.isEmpty) None
        else Some((id, hit.map { case (t, w) => f(t).toLong * w }.sum,
          hit.size.toLong))
      }.sortBy { case (id, score, _) => (-score, id) }
        .take(topK).zipWithIndex
        .map { case ((id, s, h), i) => (id, s, h, (i + 1).toLong) }
      val got = TextAnalysis.weightedTermTopKScan(
          corpus.toDF("doc_id", "text"), "doc_id", "text", weights, topK)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("score_micro"), r.getAs[Long]("terms_hit"),
          r.getAs[Long]("rank"))).sortBy(_._4).toSeq
      assert(got == model, s"trial $trial weights=$weights:\n$got\nvs\n$model")
    }
  }

  test("randomized corpora: snippet windows match a brute-force argmax; AND-NOT matches membership") {
    import spark.implicits._
    for (trial <- 0 until 4) {
      val rnd = new scala.util.Random(2000 + trial)
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(40))
      val terms = rnd.shuffle(vocab).take(2 + rnd.nextInt(2))
      val width = 2 + rnd.nextInt(6)
      val dir = java.nio.file.Files.createTempDirectory(s"rsnip$trial").toFile
      try {
        TextAnalysis.buildTextIndex(corpus.toDF("doc_id", "text"),
          "doc_id", "text", dir.getAbsolutePath)
        // brute model: candidate starts are query-term positions in
        // the RAW token sequence (empties hold their slot)
        val model = corpus.flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          val occ = toks.zipWithIndex.collect {
            case (t, i) if terms.contains(t) => (t, i)
          }
          if (occ.isEmpty) None
          else {
            val best = occ.map(_._2).distinct.map { p =>
              val in = occ.filter { case (_, i) => i >= p && i < p + width }
              (in.map(_._1).distinct.length.toLong, in.length.toLong, p.toLong)
            }.minBy { case (t, o, p) => (-t, -o, p) }
            Some((id, best._3, best._1, best._2))
          }
        }.sortBy(_._1)
        val got = TextAnalysis.snippetWindow(spark, dir.getAbsolutePath,
            terms, width)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("snippet_start"), r.getAs[Long]("terms_in_window"),
            r.getAs[Long]("occs_in_window"))).sortBy(_._1).toSeq
        assert(got == model, s"trial $trial terms=$terms width=$width")
        // AND-NOT: membership + summed must-tf against the model
        val must = terms.take(1 + rnd.nextInt(terms.size))
        val not = Seq(rnd.shuffle(vocab.filterNot(must.contains)).head)
        val nModel = corpus.flatMap { case (id, text) =>
          val f = tf(text)
          if (must.forall(f.contains) && not.forall(t => !f.contains(t)))
            Some((id, must.map(f(_).toLong).sum))
          else None
        }.sortBy(_._1)
        val nGot = TextAnalysis.termLookupAllNot(spark, dir.getAbsolutePath,
            must, not)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("total_tf"))).sortBy(_._1).toSeq
        assert(nGot == nModel, s"trial $trial must=$must not=$not")
      } finally rm(dir)
    }
  }

  test("randomized query batches: batched BM25 equals per-query solo runs") {
    import spark.implicits._
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(3000 + trial)
      val corpus = randomCorpus(rnd, 80)
      val dir = java.nio.file.Files.createTempDirectory(s"rbatch$trial").toFile
      try {
        TextAnalysis.buildTextIndex(corpus.toDF("doc_id", "text"),
          "doc_id", "text", dir.getAbsolutePath)
        val qs = (1 to 2 + rnd.nextInt(3)).map(q =>
          (q.toLong, rnd.shuffle(vocab).take(1 + rnd.nextInt(3)).toSeq))
        val topK = 1 + rnd.nextInt(15)
        val batch = TextAnalysis.bm25IndexedTopKBatch(spark,
            dir.getAbsolutePath, qs, topK)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_micro"),
            r.getAs[Long]("terms_hit"), r.getAs[Long]("rank"))).toSet
        val solo = qs.flatMap { case (qid, ts) =>
          TextAnalysis.bm25IndexedTopK(spark, dir.getAbsolutePath, ts, topK)
            .collect().map(r => (qid, r.getAs[Long]("doc_id"),
              r.getAs[Long]("bm25_micro"), r.getAs[Long]("terms_hit"),
              r.getAs[Long]("rank")))
        }.toSet
        assert(batch == solo, s"trial $trial qs=$qs topK=$topK")
      } finally rm(dir)
    }
  }

  test("randomized corpora: probe-all indexed maxsim equals the brute form") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(4000 + trial)
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(40))
        .toDF("doc_id", "text")
      val dims = 8
      val dt = corpus
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .distinct()
        .withColumn("d_vec", Similarity.tokenVector(col("token"), dims))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("token"))
      val inst = dt.withColumn("tok_id",
        col("doc_id") * 1000000L + row_number().over(w))
      val qTerms = rnd.shuffle(vocab).take(2 + rnd.nextInt(3))
      val qt = qTerms.zipWithIndex
        .map { case (t, i) => (0L, i.toLong, t) }
        .toDF("q_id", "q_pos", "token")
        .withColumn("q_vec", Similarity.tokenVector(col("token"), dims))
      val k = 1 + rnd.nextInt(8)
      val brute = Similarity.maxSimTopK(qt, dt, "q_id", "q_pos", "q_vec",
          "doc_id", "d_vec", k)
        .collect().map(_.toString).toSeq.sorted
      val dir = java.nio.file.Files.createTempDirectory("maxsimprop").toFile
      try {
        val nCells = 4
        Similarity.build(inst, "tok_id", "d_vec", dir.getAbsolutePath,
          IndexLayout.Flat,
          Seq(Similarity.syntheticCodebook(spark, nCells, dims)),
          payload = Seq("doc_id"))
        // probe EVERY cell with a shortlist covering every instance:
        // the candidate restriction is vacuous, so indexed == brute
        val nInst = inst.count().toInt
        val got = Similarity.maxSimTopKIndexed(spark, qt, "q_id", "q_pos",
            "q_vec", dir.getAbsolutePath, "tok_id", "d_vec",
            inst, "doc_id", "d_vec", k, nProbe = nCells, candTok = nInst + 1)
          .collect().map(_.toString).toSeq.sorted
        assert(got == brute, s"trial $trial: indexed(probe-all) != brute")
        assert(brute.nonEmpty)
      } finally rm(dir)
    }
  }

  test("indexed maxsim JSON route validates request dims against the artifact") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    val docs = Seq((0L, "alpha beta gamma"), (1L, "beta delta"),
      (2L, "alpha delta epsilon")).toDF("doc_id", "text")
    val dims = 8
    val inst = graft.engine.JsonApi.maxsimTokenInstances(
      docs, "doc_id", "text", dims)
    val dir = java.nio.file.Files.createTempDirectory("maxsimdims").toFile
    try {
      Similarity.build(inst, "tok_id", "d_vec", dir.getAbsolutePath,
        IndexLayout.Flat, Seq(Similarity.syntheticCodebook(spark, 4, dims)),
        payload = Seq("doc_id"))
      def req(d: Int) =
        s"""{"terms": ["alpha", "beta"], "topK": 5,
            "maxsim": {"dims": $d, "nProbe": 4, "candTok": 50},
            "index": "${dir.getAbsolutePath}"}"""
      // a mismatched width would score TRUNCATED dot products
      // (VectorDotProduct truncates to min length) — silently wrong
      // rankings — so the route throws loudly instead
      val e = intercept[IllegalArgumentException](
        graft.engine.JsonApi.search(docs, req(16)).collect())
      assert(e.getMessage.contains("built with dims=8"))
      assert(graft.engine.JsonApi.search(docs, req(dims)).count() > 0)
    } finally rm(dir)
  }

  test("randomized corpora: analyzed BM25 equals plain BM25 over the pre-analyzed corpus") {
    import spark.implicits._
    val an = TextAnalysis.Analyzer(lowercase = true,
      stopwords = Seq("alpha", "join"))
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(5000 + trial)
      // mixed-case corpus; the pre-analyzed twin applies the SAME
      // normalization by hand (lowercase + stopword removal, empty
      // slots preserved by the space join)
      // drop docs whose EVERY token is a stopword: their analyzed
      // token list is empty, which a space-join round trip cannot
      // represent (mkString -> "" -> split -> [""], dl 1 vs 0) - the
      // hand model's limitation, not the analyzer's
      val raw = randomCorpus(rnd, 50 + rnd.nextInt(30))
        .filterNot { case (_, t) =>
          t.split(" ", -1).forall(x => Set("alpha", "join").contains(x.toLowerCase))
        }
        .map { case (id, t) =>
          (id, if (id % 2 == 0) t.toUpperCase else t)
        }
      val normed = raw.map { case (id, t) =>
        (id, t.split(" ", -1).map(_.toLowerCase)
          .filterNot(Set("alpha", "join")).mkString(" "))
      }
      val terms = Seq("Scan", "COLUMN", "window")
      val topK = 5 + rnd.nextInt(10)
      val dirA = java.nio.file.Files.createTempDirectory("anprop").toFile
      val dirB = java.nio.file.Files.createTempDirectory("plainprop").toFile
      try {
        TextAnalysis.buildTextIndex(raw.toDF("doc_id", "text"),
          "doc_id", "text", dirA.getAbsolutePath, an)
        TextAnalysis.buildTextIndex(normed.toDF("doc_id", "text"),
          "doc_id", "text", dirB.getAbsolutePath)
        val a = TextAnalysis.bm25IndexedTopK(spark, dirA.getAbsolutePath,
          terms, topK).collect().map(_.toString).toSeq.sorted
        val b = TextAnalysis.bm25IndexedTopK(spark, dirB.getAbsolutePath,
          terms.map(_.toLowerCase), topK).collect().map(_.toString).toSeq.sorted
        assert(a == b, s"trial $trial: analyzed != pre-analyzed plain")
      } finally { rm(dirA); rm(dirB) }
    }
  }

  test("index drift report: counts cover the corpus; self-centroid cells drift 0") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    val corpus = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j =>
        (((i % 4) * 311 + j * 17 + 100) % 997) / 997.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("driftprop").toFile
    try {
      Similarity.build(corpus, "vec_id", "embedding", dir.getAbsolutePath,
        IndexLayout.Flat,
        Seq(Similarity.trainCodebook(corpus, "vec_id", "embedding",
          nCells = 4, iters = 2)))
      val rep = Similarity.indexDriftReport(spark, dir.getAbsolutePath,
        "vec_id", "embedding").collect()
      assert(rep.map(_.getAs[Long]("n_rows")).sum == 40L)
      // 4 distinct vectors, one per cell after training: each cell's
      // members all EQUAL its centroid (the mean of identical
      // vectors), so cos = 1 up to quantization and drift ~ 0
      assert(rep.forall(_.getAs[Long]("drift_micro") <= 1L),
        rep.mkString(", "))
    } finally rm(dir)
  }
}
