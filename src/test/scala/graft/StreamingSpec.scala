package graft

import graft.pipeline.StreamingDedup
import graft.sources.Store
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingSpec extends SparkTestBase {

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

  test("streaming aggregate view: cumulative folds exact across batches and mid-stream compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sagg").toString
    val o = graft.sources.Compact.Options(l0MaxParts = 1, sumOn = Seq("k"))
    val input = MemoryStream[(Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, (Long, Double)])]
    val q = Store.streamingAggView(input.toDF().toDF("id", "v"), s"$dir/view",
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
