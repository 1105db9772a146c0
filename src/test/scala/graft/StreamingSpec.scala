package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.{Event, Session, UserTotals}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipeline.StreamingDedup
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkTestBase {

  private def ev(u: Long, tsMs: Long, t: String, v: Double) =
    Event(u, new java.sql.Timestamp(tsMs), t, v)

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming.windowedCounts(input.toDF(), window = "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        ev(1, 0L, "view", 1.0), ev(2, 1000L, "view", 2.0),
        ev(1, 3600L * 1000 + 5, "buy", 5.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt, sum_value FROM wc").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(rows("view") == ((2L, 3.0)))
      assert(rows("buy") == ((1L, 5.0)))
    } finally q.stop()
  }

  test("running user totals accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("rt").outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 0L, "view", 1.0), ev(1, 1L, "buy", 10.0))
      q.processAllAvailable()
      input.addData(ev(1, 2L, "buy", 5.0), ev(2, 3L, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, max(events) AS e, max(revenue) AS r FROM rt GROUP BY 1")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(rows(1L) == ((3L, 16.0)))
      assert(rows(2L) == ((1L, 2.0)))
    } finally q.stop()
  }

  test("streaming file sink writes date-partitioned parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val q = Streaming.writeEventsStream(input.toDF(), s"$dir/data", s"$dir/ckpt").start()
    try {
      val day = 24 * 3600L * 1000
      input.addData(ev(1, 1000L, "view", 1.0), ev(2, day + 1000L, "buy", 2.0))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 2)
      assert(back.select("event_date").distinct().count() == 2)
    } finally q.stop()
  }

  test("streaming funnel converts across micro-batches, once per user, window restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming.funnelConversions(input.toDS(),
      Seq("view", "click", "buy"), windowMs = 60 * 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("fc").outputMode(OutputMode.Append()).start()
    try {
      val base = 1000L * 1000
      // batch 1: user 1 does view+click; user 2 does view then stalls
      // past the window; user 3 completes view->click->buy in-batch
      input.addData(
        ev(1, base, "view", 0.0), ev(1, base + 1000, "click", 0.0),
        ev(2, base, "view", 0.0),
        ev(3, base, "view", 0.0), ev(3, base + 500, "click", 0.0), ev(3, base + 900, "buy", 0.0))
      q.processAllAvailable()
      // batch 2: user 1 buys inside the window (cross-batch state);
      // user 2's click arrives after the 60s window -> restart, no
      // conversion; user 3 "converts" again -> Unique suppresses it
      input.addData(
        ev(1, base + 2000, "buy", 0.0),
        ev(2, base + 120 * 1000, "click", 0.0),
        ev(3, base + 5000, "view", 0.0), ev(3, base + 5500, "click", 0.0), ev(3, base + 5900, "buy", 0.0))
      q.processAllAvailable()
      val conv = spark.sql("SELECT * FROM fc").as[Streaming.Conversion].collect()
        .map(c => c.user_id -> c).toMap
      assert(conv.keySet == Set(1L, 3L))
      assert(conv(1L).started_ms == base && conv(1L).duration_ms == 2000L)
      assert(conv(3L).duration_ms == 900L)
    } finally q.stop()
  }

  test("streaming funnel agrees with the batch machine on random streams") {
    // cross-validation: per-user conversion COUNT must equal the batch
    // funnel's completed-step total (Unique, same window) for any
    // stream. Event-time timeouts cannot break this: a state evicted
    // at watermark W had startMs + window < W, so every later row is
    // past the window and the batch machine restarts it too.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7L)
    (1 to 5).foreach { i =>
      val rows = Seq.fill(40)((rnd.nextInt(4) + 1L,
        1000000L + rnd.nextInt(100000).toLong,
        Seq("A", "B", "C", "D")(rnd.nextInt(4)), "dev", 1.0))
      val batch = graft.engine.Funnel.run(spark, eventsDf(rows),
        graft.engine.Funnel.Request(
          steps = Seq(col("event_type") === "A", col("event_type") === "B",
            col("event_type") === "C"),
          windowMs = 30000, count = graft.engine.Funnel.Unique)).collect()
      val completed = batch.filter(_.getAs[Int]("step") == 3)
        .map(_.getAs[Long]("total")).headOption.getOrElse(0L)
      val input = MemoryStream[Event]
      val q = Streaming.funnelConversions(input.toDS(), Seq("A", "B", "C"),
        windowMs = 30000, watermark = "0 seconds")
        .writeStream.format("memory").queryName(s"pf$i")
        .outputMode(OutputMode.Append()).start()
      try {
        // two micro-batches split by event time (cross-batch state +
        // timeout eviction both get exercised)
        val (b1, b2) = rows.partition(_._2 < 1050000L)
        if (b1.nonEmpty) { input.addData(b1.map(r => ev(r._1, r._2, r._3, r._5)): _*); q.processAllAvailable() }
        if (b2.nonEmpty) { input.addData(b2.map(r => ev(r._1, r._2, r._3, r._5)): _*); q.processAllAvailable() }
        val conv = spark.sql(s"SELECT count(*) FROM pf$i").collect()(0).getLong(0)
        assert(conv == completed, s"case $i: streaming $conv != batch $completed")
      } finally q.stop()
    }
  }

  test("sessionize closes a session after the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming.sessionize(input.toDS(), gapMs = 60 * 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    try {
      // session 1: two events 1s apart; then a 10-minute gap event in
      // the SAME batch closes it immediately (in-batch gap detection).
      // Times sit above 0 because the initial watermark is 0 and
      // stateful ops drop input at-or-before the watermark.
      val base = 1000L * 1000
      input.addData(
        ev(1, base, "view", 1.0), ev(1, base + 1000L, "buy", 10.0),
        ev(1, base + 600L * 1000, "view", 2.0))
      q.processAllAvailable()
      val sessions = spark.sql("SELECT * FROM sess").as[Session].collect()
      assert(sessions.length == 1)
      assert(sessions(0).events == 2 && sessions(0).revenue == 11.0)
      assert(sessions(0).startMs == base && sessions(0).endMs == base + 1000L)
    } finally q.stop()
  }

  test("streaming near-dup gate flags new docs against the accumulated corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val input = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // 16 hashes / 8 bands of 2 rows: band-match prob 1-(1-j^2)^8 —
    // ≈0.98 at j=0.625, and the hashing is deterministic anyway
    val q = StreamingDedup.streamingNearDups(
      input.toDF().toDF("doc_id", "text"), s"$dir/sigs",
      bands = 8, threshold = 0.5) { (dups, _) =>
        flagged ++= dups.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((1L, base),
        (2L, "completely different words in this unrelated document about spark engines"))
      q.processAllAvailable()
      assert(flagged.isEmpty, "first batch has no prior corpus to collide with")
      input.addData((3L, base),                              // exact cross-batch dup
        (4L, base.replace("tonight", "today")),              // near-dup
        (5L, "yet another unrelated piece of text with none of those words present"))
      q.processAllAvailable()
      val byId = flagged.groupBy(_._1)
      assert(byId(3L).head._2 == 1L && byId(3L).head._3 == 1.0,
        "exact duplicate of a prior doc is flagged at jaccard 1")
      assert(byId(4L).head._2 == 1L && byId(4L).head._3 >= 0.5 && byId(4L).head._3 < 1.0,
        s"near-dup flagged against the store: ${byId.get(4L)}")
      assert(!byId.contains(5L), "unrelated doc admitted")
      // the store grew by every shingle-able doc across both batches
      assert(spark.read.parquet(s"$dir/sigs").count() == 5)
      // replay shape: a doc id already IN the store streams again
      // (crash-after-append replay). Its own store row is excluded,
      // so it matches doc 1's identical text — never itself (a
      // self-match would report dup_of=3, the max-id tie-winner)
      flagged.clear()
      input.addData((3L, base))
      q.processAllAvailable()
      assert(flagged.map(f => (f._1, f._2, f._3)).toSet == Set((3L, 1L, 1.0)),
        s"replayed doc matches prior corpus, not its own signature: $flagged")
    } finally q.stop()
  }

  test("streaming IVF index append: idempotent batches grow the searchable index") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sivf").toString
    // seed index from an initial corpus
    val corpus = (0 until 60).map { i =>
      val a = i * 0.1
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "v")
    Similarity.build(corpus, "vec_id", "v", dir, IndexLayout.Flat,
      Seq(Similarity.trainCodebook(corpus, "vec_id", "v", nCells = 4,
        iters = 1)))
    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.streamingAppend(
      input.toDF().toDF("vec_id", "v"), "vec_id", "v", dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((100L, Array(1.0f, 0.01f)))
      q.processAllAvailable()
      input.addData((101L, Array(0.0f, 1.0f)), (102L, Array(0.8f, 0.6f)))
      q.processAllAvailable()
      // query aimed exactly along the STREAMED vector's direction —
      // it must beat the seed corpus's vec 0 at angle 0
      val qv = Seq((999L, Array(1.0f, 0.01f))).toDF("q_id", "q_vec")
      val top = Similarity.search(spark, qv, "q_id", "q_vec", dir,
        "vec_id", "v", k = 1, nProbe = 1).collect()
      assert(top.head.getAs[Long]("vec_id") == 100L,
        s"streamed vector is the nearest: ${top.toSeq}")
      // idempotence 1: a replayed batch id is SKIPPED by its .done
      // marker — compaction may have folded the batch files, so the
      // marker (not file existence) is the replay guard
      val before = spark.read.parquet(s"$dir/cells").count()
      Similarity.append(
        Seq((101L, Array(0.0f, 1.0f)), (102L, Array(0.8f, 0.6f)))
          .toDF("vec_id", "v"), "vec_id", "v", dir, batchId = 1L)
      assert(spark.read.parquet(s"$dir/cells").count() == before,
        "replayed batch must not append duplicate rows")
      // idempotence 2: crash-before-marker replay (marker deleted)
      // rewrites the same deterministic filenames — still no growth
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir, f".batch-${1L}%09d.done"), false)
      Similarity.append(
        Seq((101L, Array(0.0f, 1.0f)), (102L, Array(0.8f, 0.6f)))
          .toDF("vec_id", "v"), "vec_id", "v", dir, batchId = 1L)
      assert(spark.read.parquet(s"$dir/cells").count() == before,
        "crash-before-marker replay overwrites, never appends")
    } finally q.stop()
  }

  test("streaming PQ append carries payload: streamed rows reach where-filtered search; mismatched batches refused") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-spqp").toString
    val corpus = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 0.11 + d).toFloat),
        (i % 3).toLong)
    }.toDF("vec_id", "v", "label")
    Similarity.build(corpus, "vec_id", "v", dir,
      IndexLayout.Pq(m = 4, kCents = 4),
      Seq(Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)),
      payload = Seq("label"), pqIters = 1)
    val input = MemoryStream[(Long, Array[Float], Long)]
    val q = Similarity.streamingAppend(
      input.toDF().toDF("vec_id", "v", "label"), "vec_id", "v",
      dir, payload = Seq("label"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // a novel vector with a payload value NO corpus row has: the
      // only way a label=7 filtered search can return anything is the
      // streamed row's payload riding into the cells store
      val twinVec = Array.tabulate(16)(d => math.cos(1000 * 0.11 + d).toFloat)
      input.addData((1042L, twinVec, 7L))
      q.processAllAvailable()
      val probe = Seq((999L, twinVec)).toDF("q_id", "q_vec")
      val top = Similarity.search(spark, probe, "q_id", "q_vec",
        dir, "vec_id", "v", k = 3, shortlist = Some(70), nProbe = 8,
        where = Some(org.apache.spark.sql.functions.col("label") === 7L))
        .collect()
      assert(top.map(_.getAs[Long]("vec_id")).toSeq == Seq(1042L), top.toSeq)
      // replay stays a no-op with payload in flight
      val before = spark.read.parquet(s"$dir/cells").count()
      Similarity.append(
        Seq((1042L, twinVec, 7L)).toDF("vec_id", "v", "label"),
        "vec_id", "v", dir, batchId = 0L,
        payload = Seq("label"))
      assert(spark.read.parquet(s"$dir/cells").count() == before,
        "replayed batch must not append duplicate rows")
      // the refusal survives exactly for MISMATCHED batches: a
      // payload-less append to this payload-built index still throws
      intercept[IllegalArgumentException](Similarity.append(
        Seq((1043L, twinVec)).toDF("vec_id", "v"), "vec_id", "v",
        dir, batchId = 9L))
    } finally q.stop()
  }

  test("streaming IVF x PQ (residual) append: batches assign+encode with persisted codebooks, exactly-once") {
    import spark.implicits._
    import graft.pipeline.{IndexLayout, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-spq").toString
    val corpus = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 0.11 + d).toFloat))
    }.toDF("vec_id", "v")
    Similarity.build(corpus, "vec_id", "v", dir,
      IndexLayout.Pq(m = 4, kCents = 4, residual = true),
      Seq(Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)),
      pqIters = 1)
    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.streamingAppend(
      input.toDF().toDF("vec_id", "v"), "vec_id", "v", dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // stream a NOVEL vector (the i=1000 pattern is outside the
      // corpus): probing exactly it, the streamed row must win the
      // float re-rank strictly (cos 1 vs < 1 for every corpus vector)
      val twinVec = Array.tabulate(16)(d => math.cos(1000 * 0.11 + d).toFloat)
      input.addData((1042L, twinVec))
      q.processAllAvailable()
      val probe = Seq((999L, twinVec)).toDF("q_id", "q_vec")
      val top = Similarity.search(spark, probe,
        "q_id", "q_vec", dir, "vec_id", "v", k = 1, shortlist = Some(70),
        nProbe = 8).collect()
      assert(top.head.getAs[Long]("vec_id") == 1042L, top.toSeq)
      // streamed rows carry CODES from the persisted (residual)
      // codebooks — the artifact stays searchable code-only
      val streamed = spark.read.parquet(s"$dir/cells")
        .filter(org.apache.spark.sql.functions.col("vec_id") === 1042L)
        .collect()
      assert(streamed.length == 1 &&
        streamed.head.getAs[scala.collection.Seq[Int]]("codes").length == 4,
        streamed.toSeq)
      // replay guard: the same batch id is a no-op
      val before = spark.read.parquet(s"$dir/cells").count()
      Similarity.append(
        Seq((1042L, twinVec)).toDF("vec_id", "v"), "vec_id", "v",
        dir, batchId = 0L)
      assert(spark.read.parquet(s"$dir/cells").count() == before,
        "replayed batch must not append duplicate rows")
    } finally q.stop()
  }

  test("streaming text-index append: micro-batches keep BM25 equal to a full scan") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stext").toString
    val words = Seq("alpha", "beta", "scan", "column", "window", "sort")
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until (3 + i % 5)).map(j =>
        words((i * 7 + j * 3) % words.length)).mkString(" "))
    val seed = (0 until 40).map(doc).toDF("doc_id", "text")
    TextAnalysis.buildTextIndex(seed, "doc_id", "text", dir)
    val input = MemoryStream[(Long, String)]
    val q = TextAnalysis.streamingTextIndexAppend(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(doc(40), doc(41))
      q.processAllAvailable()
      input.addData(doc(42), doc(43), doc(44))
      q.processAllAvailable()
      // the streamed index serves BM25 identical to a full scan over
      // the union corpus: postings rows and folded N/avgdl are equal
      // by construction, however the documents arrived
      val union = (0 until 45).map(doc).toDF("doc_id", "text")
      val viaIdx = TextAnalysis.bm25IndexedTopK(spark, dir,
          Seq("scan", "column"), 15)
        .collect().map(_.toSeq).toSet
      val viaScan = TextAnalysis.bm25TopK(union, "doc_id", "text",
          Seq("scan", "column"), 15)
        .collect().map(_.toSeq).toSet
      assert(viaIdx == viaScan && viaIdx.nonEmpty)
      assert(TextAnalysis.readTextStats(spark, dir)
        .head.getAs[Long]("n") == 45L)
    } finally q.stop()
  }

  test("streaming gated ingest: clean and quarantine channels fill per batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ingest.Quality
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val checks = Seq(Quality.Check("pos", col("v") > 0))
    val input = MemoryStream[(String, Long)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Boolean)]
    val q = Quality.streamGate(input.toDF().toDF("k", "v"), s"$dir/st", checks) {
      (bid, g, qq) => seen += ((bid, g, qq))
    }.option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(Seq(("a", 1L), ("b", -2L))); q.processAllAvailable()
      input.addData(Seq(("c", 3L), ("d", -4L), ("e", 5L))); q.processAllAvailable()
    } finally q.stop()
    assert(seen.toSeq == Seq((0L, true, true), (1L, true, true)))
    assert(spark.read.parquet(s"$dir/st").collect()
      .map(_.getString(0)).toSet == Set("a", "c", "e"))
    assert(Quality.quarantine(spark, s"$dir/st").collect()
      .map(r => (r.getString(0), r.getAs[String]("reasons"))).toSet ==
      Set(("b", "pos"), ("d", "pos")))
  }

  test("streaming aggregate view: cumulative folds exact across batches and mid-stream compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sagg").toString
    val o = graft.sources.Compact.Options(l0MaxParts = 1, sumOn = Seq("k"))
    val input = MemoryStream[(Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, (Long, Double)])]
    val q = Streaming.streamingAggView(input.toDF().toDF("id", "v"), s"$dir/view",
        Seq((col("id") % 5).as("k")),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("v_sum")), o) { (view, bid) =>
      got += ((bid, view.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap))
    }.option("checkpointLocation", s"$dir/ckpt").start()
    def truth(rows: Seq[(Long, Double)]) = rows.groupBy(_._1 % 5)
      .map { case (k, g) => k -> ((g.size.toLong, g.map(_._2).sum)) }
    val b0 = (0L until 300L).map(i => (i, i * 0.5))
    val b1 = (300L until 700L).map(i => (i, i * 0.25))
    val b2 = (700L until 1000L).map(i => (i, 1.0))
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
      // compaction BETWEEN batches: the folded store + the next
      // batch's partial must still read exact
      val rep = graft.sources.Compact.run(spark, s"$dir/view", o)
      assert(rep.merges >= 1, s"fold happened: $rep")
      input.addData(b2); q.processAllAvailable()
      assert(got.toSeq.map(_._1) == Seq(0L, 1L, 2L))
      assert(got(0)._2 == truth(b0), s"batch 0: ${got(0)}")
      assert(got(1)._2 == truth(b0 ++ b1), s"batch 1: ${got(1)}")
      assert(got(2)._2 == truth(b0 ++ b1 ++ b2), s"batch 2: ${got(2)}")
    } finally q.stop()
    // the view store holds partials, never raw rows: after one more
    // fold it is exactly one physical row per group
    graft.sources.Compact.run(spark, s"$dir/view", o)
    assert(graft.sources.Compact.read(spark, s"$dir/view", o).count() == 5)
  }
}
