package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The pure-SQL surface (GraftExtensions table functions): a JSON DSL
  * request run through `spark.sql("SELECT * FROM funnel(...)")` must
  * be THE SAME PLAN as the DataFrame path — same schema, same rows,
  * byte for byte — because the TVF builder splices JsonApi's logical
  * plan into the outer query rather than reimplementing anything. */
class SqlSurfaceSpec extends SparkTestBase {

  private def withExtSession[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = Sessions.build(cpus = 4, app = "graft-test-sql")
      try f(s2)
      finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def eventsDf(s: SparkSession) = {
    import s.implicits._
    val day = 86400L * 1000000L // µs
    Seq(
      // user 1 completes view -> click -> purchase inside one day
      (1L, 1L, "view", 0L), (2L, 1L, "click", 1000000L), (3L, 1L, "purchase", 2000000L),
      // user 2 stops after click
      (4L, 2L, "view", day), (5L, 2L, "click", day + 1000000L),
      // user 3 views only, next day
      (6L, 3L, "view", 2 * day),
      // user 4 purchases without the prefix (never counted)
      (7L, 4L, "purchase", 2 * day + 5000000L))
      .toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  private val funnelJson = """{
    "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-10T00:00:00Z"},
    "group": 0,
    "steps": [
      {"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}},
      {"events": [{"eventType": "regular", "eventName": "click"}], "order": {"type": "exact"}},
      {"events": [{"eventType": "regular", "eventName": "purchase"}], "order": {"type": "exact"}}
    ],
    "timeWindow": {"n": 1, "unit": "day"},
    "count": "unique"
  }"""

  private val esJson = """{
    "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-10T00:00:00Z"},
    "intervalUnit": "day",
    "events": [{"eventType": "regular", "eventName": "view",
                "queries": [{"type": "countEvents", "name": "cnt"}]}]
  }"""

  test("funnel TVF is byte-identical to the DataFrame path") {
    withExtSession { s =>
      val ev = eventsDf(s)
      ev.createOrReplaceTempView("ev")
      val viaSql = s.sql(s"SELECT * FROM funnel('ev', '$funnelJson')")
      val viaDf = graft.engine.JsonApi.funnel(s, ev, funnelJson)
      assert(viaSql.schema == viaDf.schema)
      val a = viaSql.collect().map(_.toString).toSeq
      val b = viaDf.collect().map(_.toString).toSeq
      assert(a == b && a.nonEmpty, s"sql=$a df=$b")
      // sanity on the semantics: 3 steps, totals 3/2/1
      val totals = viaSql.orderBy("step").collect().map(_.getAs[Long]("total")).toSeq
      assert(totals == Seq(3L, 2L, 1L), totals.toString)
      // the SQL route composes like any table: outer filters/aggregates apply
      val converted = s.sql(
        s"SELECT total FROM funnel('ev', '$funnelJson') WHERE step = 3")
        .collect()(0).getLong(0)
      assert(converted == 1L)
    }
  }

  test("event_segmentation TVF is byte-identical to the DataFrame path") {
    withExtSession { s =>
      val ev = eventsDf(s)
      ev.createOrReplaceTempView("ev")
      val viaSql = s.sql(s"SELECT * FROM event_segmentation('ev', '$esJson')")
      val viaDf = graft.engine.JsonApi.eventSegmentation(ev, esJson)
      assert(viaSql.schema == viaDf.schema)
      val a = viaSql.collect().map(_.toString).sorted.toSeq
      val b = viaDf.collect().map(_.toString).sorted.toSeq
      assert(a == b && a.nonEmpty, s"sql=$a df=$b")
    }
  }

  test("asof_join TVF is byte-identical to the DataFrame path, tolerance optional") {
    withExtSession { s =>
      import s.implicits._
      Seq((1L, 100L, "e1"), (1L, 250L, "e2"), (2L, 50L, "e3"))
        .toDF("uid", "t", "tag").createOrReplaceTempView("evs")
      Seq((1L, 100L, "a"), (1L, 200L, "b"))
        .toDF("uid", "rt", "name").createOrReplaceTempView("upd")
      val viaSql = s.sql("SELECT * FROM asof_join('evs', 'upd', 'uid', 't', 'rt')")
      val viaDf = graft.engine.Temporal.asofJoin(
        s.table("evs"), s.table("upd"), Seq("uid"), "t", "rt")
      assert(viaSql.schema == viaDf.schema)
      val a = viaSql.collect().map(_.toString).sorted.toSeq
      val b = viaDf.collect().map(_.toString).sorted.toSeq
      assert(a == b && a.nonEmpty, s"sql=$a df=$b")
      // semantics: e1 matches the t=100 update, e2 the t=200 one, e3 none
      val byTag = viaSql.collect()
        .map(r => r.getAs[String]("tag") -> Option(r.getAs[Any]("name"))).toMap
      assert(byTag == Map("e1" -> Some("a"), "e2" -> Some("b"), "e3" -> None))
      // tolerance literal: e2 at 250 is now 50 past the t=200 update
      val tight = s.sql(
        "SELECT * FROM asof_join('evs', 'upd', 'uid', 't', 'rt', 40)")
        .collect().map(r => r.getAs[String]("tag") -> Option(r.getAs[Any]("name"))).toMap
      assert(tight == Map("e1" -> Some("a"), "e2" -> None, "e3" -> None), tight.toString)
    }
  }

  test("sketch TVFs equal the DataFrame sketches and stay exact below k") {
    withExtSession { s =>
      import s.implicits._
      import org.apache.spark.sql.functions.col
      (1 to 500).map(i => (s"g${i % 2}", i.toLong % 40))
        .toDF("g", "v").createOrReplaceTempView("t")
      // kmv_distinct: exact below k, byte-equal to the DataFrame path
      val viaSql = s.sql("SELECT * FROM kmv_distinct('t', 'g', 'v', 64)")
      val viaDf = graft.pipeline.Sketches.kmvEstimate(
        graft.pipeline.Sketches.kmvHashes(s.table("t"), Seq("g"), col("v"), 64),
        Seq("g"), 64)
      assert(viaSql.schema == viaDf.schema)
      assert(viaSql.collect().map(_.toString).sorted.toSeq ==
        viaDf.collect().map(_.toString).sorted.toSeq)
      val ests = viaSql.collect()
        .map(r => r.getAs[String]("g") -> r.getAs[Long]("distinct_est")).toMap
      assert(ests == Map("g0" -> 20L, "g1" -> 20L), ests.toString)
      // cm_freq: probe estimates never under truth; string probes hit
      // integer keys (canonical string form)
      val cm = s.sql(
        "SELECT * FROM cm_freq('t', 'g', 'v', 4, 512, '1,3,9999')").collect()
        .map(r => (r.getAs[String]("g"), r.getAs[String]("probe")) -> r.getAs[Long]("est"))
        .toMap
      // parity split: odd v lives only in g1 with true count 12-13,
      // so the one-sided estimate is >= 12 there; in g0 and for the
      // absent probe the estimate is collision-bounded
      assert(cm(("g1", "1")) >= 12L && cm(("g1", "3")) >= 12L, cm.toString)
      assert(cm(("g0", "1")) <= 30L && cm(("g0", "9999")) <= 30L, cm.toString)
      assert(cm.keySet.map(_._2) == Set("1", "3", "9999"))
    }
  }

  test("retrieval TVFs and the JSON search route are byte-identical to the DataFrame path") {
    withExtSession { s =>
      import s.implicits._
      val words = Seq("alpha", "beta", "scan", "column", "window", "sort")
      val docs = (0 until 60).map { i =>
        val toks = (0 until (3 + i % 5)).map(j => words((i * 7 + j * 3) % words.length))
        (i.toLong, toks.mkString(" "))
      }.toDF("doc_id", "text")
      val emb = (0 until 60).map { i =>
        val a = i * 0.1
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("vec_id", "embedding")
      docs.createOrReplaceTempView("docs_v")
      emb.createOrReplaceTempView("emb_v")

      // bm25_search TVF == library bm25TopK == JsonApi.search (lexical)
      val viaSql = s.sql(
        "SELECT * FROM bm25_search('docs_v', 'doc_id', 'text', 'scan,column', 10)")
      val viaDf = graft.pipeline.TextAnalysis.bm25TopK(
        docs, "doc_id", "text", Seq("scan", "column"), 10)
      val viaJson = graft.engine.JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 10}""")
      assert(viaSql.schema == viaDf.schema)
      val a = viaSql.collect().map(_.toString).toSeq.sorted
      val b = viaDf.collect().map(_.toString).toSeq.sorted
      val c = viaJson.collect().map(_.toString).toSeq.sorted
      assert(a == b && b == c && a.nonEmpty, s"sql=$a df=$b json=$c")

      // hybrid_search TVF == JsonApi.search with a semantic block
      val hSql = s.sql(
        "SELECT * FROM hybrid_search('docs_v', 'doc_id', 'text', 'scan,column', " +
          "'emb_v', 'vec_id', 'embedding', 0, 10)")
      val hJson = graft.engine.JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 20,
            "semantic": {"queryId": 0, "k": 20}, "fuseTopK": 10}""",
        embeddings = Some(emb))
      assert(hSql.schema == hJson.schema)
      val ha = hSql.collect().map(_.toString).toSeq.sorted
      val hb = hJson.collect().map(_.toString).toSeq.sorted
      assert(ha == hb && ha.nonEmpty, s"sql=$ha json=$hb")

      // sparse_search TVF == JsonApi.search with a weight map ==
      // the scan operator
      val spSql = s.sql(
        "SELECT * FROM sparse_search('docs_v', 'doc_id', 'text', " +
          "'scan:300,column:-100', 10)")
      val spJson = graft.engine.JsonApi.search(docs,
        """{"weights": {"scan": 300, "column": -100}, "topK": 10}""")
      assert(spSql.schema == spJson.schema)
      assert(spSql.collect().map(_.toString).toSeq.sorted ==
        spJson.collect().map(_.toString).toSeq.sorted)
      assert(spSql.count() > 0)

      // passage_search TVF == JsonApi.search with a passage block
      val paSql = s.sql(
        "SELECT * FROM passage_search('docs_v', 'doc_id', 'text', " +
          "'scan,column', 4, 2, 100, 10)")
      val paJson = graft.engine.JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 10,
            "passage": {"window": 4, "stride": 2, "passageK": 100}}""")
      assert(paSql.schema == paJson.schema)
      assert(paSql.collect().map(_.toString).toSeq.sorted ==
        paJson.collect().map(_.toString).toSeq.sorted)
      assert(paSql.count() > 0)

      // maxsim_search TVF == JsonApi.search with a maxsim block ==
      // the library operator over the same md5 token vectors
      val mxSql = s.sql(
        "SELECT * FROM maxsim_search('docs_v', 'doc_id', 'text', " +
          "'scan,column', 8, 10)")
      val mxJson = graft.engine.JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 10, "maxsim": {"dims": 8}}""")
      assert(mxSql.schema == mxJson.schema)
      assert(mxSql.collect().map(_.toString).toSeq.sorted ==
        mxJson.collect().map(_.toString).toSeq.sorted)
      assert(mxSql.count() > 0)

      // analyzer block routes into bm25TopK's analyzer: mixed-case
      // query over a lowercase analyzer equals the lowercase query
      // without one on an already-lowercase corpus
      val anJson = graft.engine.JsonApi.search(docs,
        """{"terms": ["SCAN", "Column"], "topK": 10,
            "analyzer": {"lowercase": true}}""")
      assert(anJson.collect().map(_.toString).toSeq.sorted ==
        viaDf.collect().map(_.toString).toSeq.sorted)

      // phrase_search / snippet_search TVFs == library operators over
      // a real index
      val dir = java.nio.file.Files.createTempDirectory("sqlphrase").toFile
      try {
        graft.pipeline.TextAnalysis.buildTextIndex(docs, "doc_id", "text",
          dir.getAbsolutePath)
        val pSql = s.sql(
          s"SELECT * FROM phrase_search('${dir.getAbsolutePath}', 'scan,column')")
        val pDf = graft.pipeline.TextAnalysis.phraseLookup(s,
          dir.getAbsolutePath, Seq("scan", "column"))
        assert(pSql.schema == pDf.schema)
        assert(pSql.collect().map(_.toString).toSeq.sorted ==
          pDf.collect().map(_.toString).toSeq.sorted)
        val snSql = s.sql(
          s"SELECT * FROM snippet_search('${dir.getAbsolutePath}', 'scan,column', 6)")
        val snDf = graft.pipeline.TextAnalysis.snippetWindow(s,
          dir.getAbsolutePath, Seq("scan", "column"), width = 6)
        assert(snSql.schema == snDf.schema)
        assert(snSql.collect().map(_.toString).toSeq.sorted ==
          snDf.collect().map(_.toString).toSeq.sorted)
        assert(snSql.count() > 0)
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(dir)
      }
    }
  }

  test("TVF arguments must be string literals and tables must resolve") {
    withExtSession { s =>
      eventsDf(s).createOrReplaceTempView("ev")
      val e1 = intercept[Exception] {
        s.sql(s"SELECT * FROM funnel(1, '$funnelJson')").collect()
      }
      assert(e1.getMessage.contains("string literal"), e1.getMessage)
      intercept[Exception] {
        s.sql(s"SELECT * FROM funnel('no_such_table', '$funnelJson')").collect()
      }
    }
  }
}
