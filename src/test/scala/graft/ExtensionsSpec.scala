package graft

import graft.engine._
import graft.model._
import graft.sources.Store
import org.apache.spark.sql.functions._

/** Dictionary, custom events, any-order funnel groups, Regular-format
  * pivot tail, partitioned store layout. */
class ExtensionsSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private val range = QueryTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z"))

  test("driver t1 smoke: entry() answers the flagship query with rows") {
    val out = graft.SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.toSeq == Seq("d", "event_type", "cnt"))
  }

  test("dictionary build/encode/decode roundtrip") {
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 1.0), (2L, 1L, "buy", "ios", 1.0),
      (3L, 2L, "view", "osx", 1.0)))
    val dict = Dictionary.build(ev, "event_type")
    val keys = dict.collect().map(r => r.getAs[String]("value") -> r.getAs[Long]("key")).toMap
    assert(keys == Map("buy" -> 1L, "view" -> 2L)) // keyed in value order
    val enc = Dictionary.encode(ev, dict, "event_type", "ek")
    assert(!enc.columns.contains("event_type"))
    val dec = Dictionary.decode(enc, dict, "ek", "event_type")
    assert(dec.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("view" -> 2L, "buy" -> 1L))
  }

  test("registry-driven filter auto-encode translates literals to keys; misses behave") {
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 1.0), (2L, 1L, "buy", "ios", 1.0),
      (3L, 2L, "view", "osx", 1.0)))
    val dict = Dictionary.build(ev, "event_type")
    val enc = Dictionary.encode(ev, dict, "event_type", "ek")
    val reg = Registry(Seq(PropertyMeta("Event", "ek", "bigint", isDictionary = true)),
      strict = false)
    // one event-block filter through encodeStore: (events, rewritten filter)
    def rewrite(f: PropFilter) = {
      val req = EventSegmentationRequest(
        time = QueryTime.From(new java.sql.Timestamp(0L)),
        interval = TimeIntervalUnit.Day,
        events = Seq(EventBlock(None, filters = Seq(f),
          queries = Seq(NamedQuery(Query.CountEvents, "cnt")))))
      val (ev2, req2) = Dictionary.encodeStore(enc, req, reg, Map("ek" -> dict))
      (ev2, req2.events.head.filters.head)
    }
    // Eq "view" -> key comparison; counts only the 2 view rows
    val (_, eq) = rewrite(PropFilter("ek", PropOp.Eq, Seq("view")))
    assert(eq == PropFilter("ek", PropOp.Eq, Seq(2L)))
    assert(enc.filter(Exprs.propPredicate(eq)).count() == 2)
    // unseen value: Eq matches nothing, Neq keeps every row (key -1)
    val (_, miss) = rewrite(PropFilter("ek", PropOp.Eq, Seq("nope")))
    assert(miss == PropFilter("ek", PropOp.Eq, Seq(-1L)))
    assert(enc.filter(Exprs.propPredicate(miss)).count() == 0)
    val (_, neqMiss) = rewrite(PropFilter("ek", PropOp.Neq, Seq("nope")))
    assert(enc.filter(Exprs.propPredicate(neqMiss)).count() == 3)
    // non-dict columns (order ops included) and null checks on the key
    // column pass through unchanged, with no decoded companion column
    for (f <- Seq(PropFilter("value", PropOp.Gt, Seq(0.5)),
                  PropFilter("ek", PropOp.Exists, Nil))) {
      val (ev2, out) = rewrite(f)
      assert(out == f)
      assert(ev2.columns.toSeq == enc.columns.toSeq)
    }
  }

  test("encodeStore decodes pattern-op columns and encodes segment conditions") {
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 1.0), (2L, 1L, "buy", "ios", 1.0),
      (3L, 2L, "view", "osx", 1.0)))
    val dict = Dictionary.build(ev, "event_type")
    val enc = Dictionary.encode(ev, dict, "event_type", "ek")
    val reg = Registry(Seq(PropertyMeta("Event", "ek", "bigint", isDictionary = true)),
      strict = false)
    val req = EventSegmentationRequest(
      time = QueryTime.From(new java.sql.Timestamp(0L)),
      interval = TimeIntervalUnit.Day,
      events = Seq(EventBlock(None,
        filters = Seq(PropFilter("ek", PropOp.Like, Seq("v%"))),
        queries = Seq(NamedQuery(Query.CountEvents, "cnt")))),
      segments = Seq(Segment("buyers", Seq(Seq(
        SegmentCondition.HadPropertyValue("ek", PropOp.Eq, Seq("buy")))))))
    val (ev2, req2) = Dictionary.encodeStore(enc, req, reg, Map("ek" -> dict))
    // Like rewrote to the decoded companion column, materialized once
    assert(req2.events.head.filters == Seq(PropFilter("ek__str", PropOp.Like, Seq("v%"))))
    assert(ev2.columns.contains("ek__str"))
    // the segment's Eq literal became the dict key
    assert(req2.segments.head.conditions.head.head ==
      SegmentCondition.HadPropertyValue("ek", PropOp.Eq, Seq(1L))) // buy -> key 1
    // end to end: views by user 1 and 3, restricted to the buyer (user 2)... none;
    // drop the segment and the Like filter keeps the 2 view rows
    val out = EventSegmentation.run(ev2, req2.copy(segments = Nil))
      .select("cnt").collect().map(_.getLong(0)).sum
    assert(out == 2L)
    val seg = EventSegmentation.run(ev2, req2)
      .select("cnt").collect().map(_.getLong(0)).sum
    assert(seg == 0L) // the only buyer (user 2) has no view events
  }

  test("persisted dictionary get_or_create: stable gap-free keys across batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dictstore").toFile
    dir.delete() // the store creates it on first append
    val path = dir.getAbsolutePath
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("value") -> r.getAs[Long]("key")).toMap
    val b1 = Seq("cherry", "apple", "banana").toDF("v")
    assert(asMap(Dictionary.getOrCreate(b1, "v", path, "0")) ==
      Map("apple" -> 1L, "banana" -> 2L, "cherry" -> 3L)) // value order
    // batch 2: overlaps keep their durable keys; new values extend
    // from max(key)+1 in value order — the monotonic next_id analog
    val b2 = Seq("banana", "date", "apple", "apricot", "date").toDF("v")
    val m2 = asMap(Dictionary.getOrCreate(b2, "v", path, "1"))
    assert(m2 == Map("apple" -> 1L, "banana" -> 2L, "cherry" -> 3L,
      "apricot" -> 4L, "date" -> 5L))
    // a retried batch converges: the atomic append keyed by tag skips,
    // and every value already resolves — state is unchanged
    assert(asMap(Dictionary.getOrCreate(b1, "v", path, "0")) == m2)
    // a fresh reader sees the same durable mapping
    assert(asMap(Dictionary.loadStore(spark, path)) == m2)
  }

  test("custom event predicate expands recursively with member filters") {
    val ce = CustomEvent("outer", Seq(
      CustomEventMember.Event(Some("buy")),
      CustomEventMember.Custom(CustomEvent("inner", Seq(
        CustomEventMember.Event(Some("view"), Seq(PropFilter("value", PropOp.Gt, Seq(15.0)))))))))
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 10.0),   // view but value too small
      (1L, 1L, "view", "ios", 20.0),   // matches inner
      (1L, 2L, "buy", "ios", 1.0),     // matches outer
      (1L, 3L, "error", "ios", 99.0))) // no
    val n = ev.filter(Exprs.customEventPredicate(col("event_type"), ce)).count()
    assert(n == 2)
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountEvents, "cnt")),
        customEvent = Some(ce))))
    val out = EventSegmentation.run(ev, req).collect()
    assert(out(0).getAs[Long]("cnt") == 2)
    assert(out(0).getAs[String]("event") == "outer")
  }

  test("any-order funnel group completes regardless of within-group order") {
    def m(rows: Seq[(Long, Long, String, String, Double)]) =
      engine.Funnel.run(spark, eventsDf(rows), engine.Funnel.Request(
        steps = Seq(col("event_type") === "A", col("event_type") === "B",
          col("event_type") === "C"),
        windowMs = 1000000, anyOrderGroups = Seq((0, 1))))
        .collect().map(r => r.getAs[Int]("step") -> r.getAs[Long]("total")).toMap
    // B then A then C completes; C before the group completes does not count as C-slot
    assert(m(Seq((1L, 0L, "B", "i", 1.0), (1L, 1L, "A", "i", 1.0), (1L, 2L, "C", "i", 1.0)))
      == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    // A then B then C also completes (exact order still allowed)
    assert(m(Seq((1L, 0L, "A", "i", 1.0), (1L, 1L, "B", "i", 1.0), (1L, 2L, "C", "i", 1.0)))
      == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    // B, C, A: C arrives while the group is open -> ignored; A completes
    // the group but no later C exists -> 2 of 3
    assert(m(Seq((1L, 0L, "B", "i", 1.0), (1L, 1L, "C", "i", 1.0), (1L, 2L, "A", "i", 1.0)))
      == Map(1 -> 1L, 2 -> 1L, 3 -> 0L))
  }

  test("runPivoted emits precomputed bucket columns, average and top groups") {
    val day = 24 * 3600L * 1000
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 1.0), (2L, 100L, "view", "ios", 1.0),
      (1L, day + 1L, "buy", "ios", 1.0)))
    val req = EventSegmentationRequest(
      QueryTime.Between(ts("1970-01-01T00:00:00Z"), ts("1970-01-03T00:00:00Z")),
      TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountEvents, "cnt")))),
      breakdowns = Seq("event_type"))
    val out = EventSegmentation.runPivoted(ev, req)
    assert(out.columns.toSeq == Seq("segment", "event", "event_type", "agg_name",
      "1970-01-01 00:00:00", "1970-01-02 00:00:00", "1970-01-03 00:00:00", "average"))
    val rows = out.collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(rows("view").getAs[Double]("1970-01-01 00:00:00") == 2.0)
    assert(rows("view").isNullAt(out.columns.indexOf("1970-01-02 00:00:00")))
    assert(rows("buy").getAs[Double]("1970-01-02 00:00:00") == 1.0)
    // average over 3 bucket columns, nulls as 0
    assert(math.abs(rows("view").getAs[Double]("average") - 2.0 / 3) < 1e-12)
  }

  test("rollingActiveGroups counts distinct users over trailing windows") {
    val day = 24 * 3600L * 1000
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "i", 1.0),            // day 0: u1
      (2L, day + 1L, "view", "i", 1.0),      // day 1: u2
      (1L, 3 * day + 1L, "view", "i", 1.0))) // day 3: u1
    val out = EventSegmentation.rollingActiveGroups(ev, 2,
      ts("1970-01-01T00:00:00Z"), ts("1970-01-05T00:00:00Z"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // window 2 days: day X counts users with events on X-1 or X
    assert(out == Map(
      "1970-01-01" -> 1L, // u1(d0)
      "1970-01-02" -> 2L, // u1(d0) + u2(d1)
      "1970-01-03" -> 1L, // u2(d1)
      "1970-01-04" -> 1L, // u1(d3)
      "1970-01-05" -> 1L  // u1(d3)
    ))
  }

  test("store writes date-partitioned events and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val day = 24 * 3600L * 1000
    val ev = eventsDf(Seq(
      (1L, 0L, "view", "ios", 1.0), (2L, day + 1L, "buy", "ios", 1.0),
      (3L, 2 * day + 2L, "view", "osx", 1.0)))
    Store.writeEvents(ev, dir)
    val back = Store.readEvents(spark, dir)
    assert(back.count() == 3)
    val pruned = back.filter(col("event_date") === lit(java.sql.Date.valueOf("1970-01-02")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(pruned.count() == 1)
    val compacted = Store.compactGroupTable(
      eventsDf(Seq((1L, 0L, "v1", "i", 1.0), (1L, 5L, "v2", "i", 1.0))),
      Seq("user_id"), "event_id")
    assert(compacted.count() == 1)
    assert(compacted.collect()(0).getAs[String]("event_type") == "v2")
  }

  /** `f` over a session of its own on the shared context, built by the
    * public builder: with the extensions (the `spark.sql.extensions`
    * route) or plain, as an embedding application would build it. */
  private def withOwnSession[A](extended: Boolean)(
      f: org.apache.spark.sql.SparkSession => A): A = {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the config-string route ("spark.sql.extensions" ->
      // "graft.plans.GraftExtensions") only applies when the
      // SparkContext itself starts with it; on the shared test
      // context the programmatic route installs the same class
      val b = SparkSession.builder().master("local[2]")
      f((if (extended) b.withExtensions(new graft.plans.GraftExtensions()) else b)
        .getOrCreate())
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** How often the ns-timestamp pushdown rule sits in the optimizer,
    * across the extension rules and the experimental ones. */
  private def pushdownRules(s: org.apache.spark.sql.SparkSession): Int =
    (s.sessionState.optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations).count(_ == graft.plans.NsTimeFilterPushdown)

  test("GraftExtensions installs the SQL functions and pushdown rule session-wide") {
    withOwnSession(extended = true) { s2 =>
      // native fused expressions callable from SQL text
      val d = s2.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect()(0).getDouble(0)
      assert(d == 11.0)
      val sig = s2.sql("SELECT lsh_signature(array(1.0D, -2.0D), 4) AS s")
        .collect()(0).getLong(0)
      assert(sig >= 0L && sig < 16L)
      // the SQL function computes the same value as the Column API
      import org.apache.spark.sql.functions.{array, lit}
      val viaColumn = s2.range(1).select(
        graft.functions.VectorExpressions.vectorDot(
          array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
        .collect()(0).getDouble(0)
      assert(viaColumn == d)
      // the ns-timestamp pushdown rule is installed for the session
      assert(s2.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(graft.plans.NsTimeFilterPushdown))
      intercept[Exception] { s2.sql("SELECT lsh_signature(array(1.0D))").collect() }
    }
  }

  test("Sessions.build carries the engine config and the extensions") {
    // the shared test session is a Sessions.build session; building
    // again returns it
    val s = Sessions.build(cpus = 4, app = "graft-test")
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "16k")
    assert(s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .collect()(0).getDouble(0) == 11.0)
    eventsDf(Seq((1L, 0L, "view", "ios", 1.0), (1L, 1000L, "buy", "ios", 1.0)))
      .createOrReplaceTempView("sessions_ev")
    val funnel = s.sql("""SELECT * FROM funnel('sessions_ev', '{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "steps": [{"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}},
                {"events": [{"eventType": "regular", "eventName": "buy"}], "order": {"type": "exact"}}],
      "timeWindow": {"n": 1, "unit": "day"}}')""")
    assert(funnel.select("step", "total").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 1L, 2 -> 1L))
  }

  test("the pushdown rule is installed exactly once, with or without the extensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sessions").toString
    eventsDf(Seq((1L, 0L, "view", "ios", 1.0)))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // extension session: Tables.events adds no second copy
    Tables.events(spark, dir).count()
    Tables.events(spark, dir).count()
    assert(pushdownRules(spark) == 1)
    // plain session: install adds it once, and only once
    withOwnSession(extended = false) { plain =>
      assert(pushdownRules(plain) == 0)
      Sessions.install(plain)
      Sessions.install(plain)
      assert(pushdownRules(plain) == 1)
      assert(plain.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    }
  }
}
