package graft

import graft.engine._
import graft.model._
import org.apache.spark.sql.functions._

class SegmentationSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private val range = QueryTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z"))
  private val day = 24 * 3600L * 1000

  private val rows = Seq(
    (1L, 0L, "view", "ios", 10.0),
    (1L, 1000L, "buy", "ios", 100.0),
    (1L, day + 1000L, "buy", "ios", 50.0),
    (2L, 2000L, "view", "android", 20.0),
    (2L, 3000L, "view", "android", 30.0),
    (3L, day + 500L, "buy", "osx", 70.0))

  test("CountEvents by day with breakdown") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountEvents, "cnt")))),
      breakdowns = Seq("event_type"))
    val out = EventSegmentation.run(eventsDf(rows), req)
      .select(to_date(col("bucket")).cast("string").as("d"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("1970-01-01", "view")) == 3)
    assert(out(("1970-01-01", "buy")) == 1)
    assert(out(("1970-01-02", "buy")) == 2)
  }

  test("two-level CountPerGroup and AggregatePropertyPerGroup") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(
        NamedQuery(Query.CountPerGroup(AggFn.Avg), "avg_epu"),
        NamedQuery(Query.AggregatePropertyPerGroup("value", AggFn.Sum, AggFn.Max), "max_user_sum"),
        NamedQuery(Query.CountUniqueGroups(), "users")))))
    val out = EventSegmentation.run(eventsDf(rows), req)
      .select(to_date(col("bucket")).cast("string").as("d"),
        col("avg_epu"), col("max_user_sum"), col("users"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    // day1: u1 has 2 events (110), u2 has 2 events (50) -> avg 2.0, max 110
    assert(out("1970-01-01") == ((2.0, 110.0, 2L)))
    // day2: u1 one event 50, u3 one event 70
    assert(out("1970-01-02") == ((1.0, 70.0, 2L)))
  }

  test("one block mixing a per-user metric with a median") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(
        NamedQuery(Query.CountPerGroup(AggFn.Avg), "avg_epu"),
        NamedQuery(Query.AggregateProperty("value", AggFn.Median), "med")))))
    val out = EventSegmentation.run(eventsDf(rows), req)
      .select(to_date(col("bucket")).cast("string").as("d"), col("avg_epu"), col("med"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // day1: 2 events per user, values 10/100/20/30; day2: 50 and 70
    assert(out == Map("1970-01-01" -> ((2.0, 25.0)), "1970-01-02" -> ((1.0, 60.0))))
  }

  test("per-user and median blocks under a segment and a breakdown") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(
        EventBlock(Some("view"), queries = Seq(
          NamedQuery(Query.CountPerGroup(AggFn.Avg), "avg_epu"))),
        EventBlock(Some("buy"), queries = Seq(
          NamedQuery(Query.AggregateProperty("value", AggFn.Median), "med")))),
      breakdowns = Seq("device"),
      segments = Seq(Segment("buyers", Seq(Seq(
        SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Gte, 1,
          SegmentTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z"))))))))
    val out = EventSegmentation.run(eventsDf(rows), req)
    assert(out.columns.toSet == Set("bucket", "device", "avg_epu", "med", "event", "segment"))
    val got = out
      .select(to_date(col("bucket")).cast("string"), col("device"), col("event"),
        col("avg_epu"), col("med"), col("segment"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.get(3), r.get(4), r.getString(5))).toSet
    // u2 never buys, so only u1's and u3's rows count
    assert(got == Set(
      ("1970-01-01", "ios", "view", 1.0, null, "buyers"),
      ("1970-01-01", "ios", "buy", null, 100.0, "buyers"),
      ("1970-01-02", "ios", "buy", null, 50.0, "buyers"),
      ("1970-01-02", "osx", "buy", null, 70.0, "buyers")))
  }

  test("event filter + property filter narrow the block") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(Some("buy"),
        filters = Seq(PropFilter("value", PropOp.Gte, Seq(60.0))),
        queries = Seq(NamedQuery(Query.CountEvents, "cnt")))))
    val out = EventSegmentation.run(eventsDf(rows), req)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(out == 2) // 100.0 and 70.0
  }

  test("segment semi-join keeps only qualifying users") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountEvents, "cnt")))),
      segments = Seq(Segment("buyers2", Seq(Seq(
        SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Gte, 2,
          SegmentTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z"))))))))
    val out = EventSegmentation.run(eventsDf(rows), req)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(out == 3) // only u1's 3 events
  }

  test("zero-matching-event users are not members of Lt-count segments") {
    // u2 never buys: "bought fewer than 2 times" must NOT include them
    // (did-event semantics need >=1 matching row)
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountUniqueGroups(), "users")))),
      segments = Seq(Segment("light_buyers", Seq(Seq(
        SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Lt, 2,
          SegmentTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z"))))))))
    val members = EventSegmentation.run(eventsDf(rows), req)
      .agg(max("users")).collect()(0).getLong(0)
    assert(members == 1) // only u3 (one buy); u1 has 2 buys, u2 none
  }

  test("HadPropertyValue honors its optional time scope") {
    // u1's only ios rows are on day 1; a day-2+ scope excludes them
    val scoped = Segment("ios_day2", Seq(Seq(
      SegmentCondition.HadPropertyValue("device", PropOp.Eq, Seq("ios"),
        time = Some(SegmentTime.Between(ts("1970-01-02T00:00:00Z"), ts("1971-01-01T00:00:00Z")))))))
    val users = Segments.membershipFlags(eventsDf(rows), Seq(scoped), range,
      "user_id", "ts", "event_type").collect().map(_.getLong(0)).toSet
    assert(users == Set(1L)) // u1 buys on day 2 from ios; u2/u3 never ios
    val fusedReq = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(NamedQuery(Query.CountUniqueGroups(), "users")))),
      segments = Seq(Segment("ios_never", Seq(Seq(
        SegmentCondition.HadPropertyValue("device", PropOp.Eq, Seq("ios"),
          time = Some(SegmentTime.Between(ts("1980-01-01T00:00:00Z"), ts("1981-01-01T00:00:00Z")))))))))
    assert(EventSegmentation.run(eventsDf(rows), fusedReq).count() == 0) // scope has no rows
  }

  test("segment OR composition unions user sets") {
    val seg = Segment("mix", Seq(
      Seq(SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Gte, 2,
        SegmentTime.Between(ts("1970-01-01T00:00:00Z"), ts("1971-01-01T00:00:00Z")))),
      Seq(SegmentCondition.HadPropertyValue("device", PropOp.Eq, Seq("osx")))))
    val users = Segments.membershipFlags(eventsDf(rows), Seq(seg), range,
      "user_id", "ts", "event_type").collect().map(_.getLong(0)).toSet
    assert(users == Set(1L, 3L))
  }

  test("AfterFirstUse scopes to events near the user's first event") {
    // u1 first event at t=0; second buy lands 25h after first use and
    // must NOT count with within=1 day
    val data = Seq(
      (1L, 0L, "view", "ios", 1.0),
      (1L, 1000L, "buy", "ios", 1.0),
      (1L, 25 * 3600L * 1000, "buy", "ios", 1.0),
      (2L, 0L, "buy", "ios", 1.0))
    val users = Segments.userSet(eventsDf(data),
      SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Gte, 2,
        SegmentTime.AfterFirstUse(1, TimeIntervalUnit.Day)),
      range, "user_id", "ts", "event_type")
      .collect().map(_.getLong(0)).toSet
    assert(users == Set.empty[Long])
    val users2 = Segments.userSet(eventsDf(data),
      SegmentCondition.DidEventCount(Some("buy"), Nil, PropOp.Gte, 2,
        SegmentTime.AfterFirstUse(2, TimeIntervalUnit.Day)),
      range, "user_id", "ts", "event_type")
      .collect().map(_.getLong(0)).toSet
    assert(users2 == Set(1L))
  }

  test("HasPropertyValue matches only the user's CURRENT value") {
    // u1 was on ios but is now on osx; u2 still on ios
    val data = Seq(
      (1L, 0L, "view", "ios", 1.0), (1L, 5L, "view", "osx", 1.0),
      (2L, 0L, "view", "ios", 1.0))
    val now = Segments.userSet(eventsDf(data),
      SegmentCondition.HasPropertyValue("device", PropOp.Eq, Seq("ios")),
      range, "user_id", "ts", "event_type")
      .collect().map(_.getLong(0)).toSet
    assert(now == Set(2L))
    val ever = Segments.userSet(eventsDf(data),
      SegmentCondition.HadPropertyValue("device", PropOp.Eq, Seq("ios")),
      range, "user_id", "ts", "event_type")
      .collect().map(_.getLong(0)).toSet
    assert(ever == Set(1L, 2L))
  }

  test("RelativeCount compares two event counts per user") {
    // u1: 2 views vs 1 buy; u2: 1 view vs 2 buys
    val data = Seq(
      (1L, 0L, "view", "i", 1.0), (1L, 1L, "view", "i", 1.0), (1L, 2L, "buy", "i", 1.0),
      (2L, 0L, "view", "i", 1.0), (2L, 1L, "buy", "i", 1.0), (2L, 2L, "buy", "i", 1.0))
    val users = Segments.userSet(eventsDf(data),
      SegmentCondition.DidEventRelativeCount(Some("view"), Nil, Some("buy"), Nil,
        PropOp.Gt, SegmentTime.From(ts("1970-01-01T00:00:00Z"))),
      range, "user_id", "ts", "event_type")
      .collect().map(_.getLong(0)).toSet
    assert(users == Set(1L))
  }

  test("fixRequest normalizes empty metric lists and duplicate breakdowns") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(EventBlock(Some("buy"), breakdowns = Seq("device", "device"))),
      breakdowns = Seq("event_type", "event_type"))
    val fixed = EventSegmentation.fixRequest(req)
    assert(fixed.events.head.queries == Seq(NamedQuery(Query.CountEvents, "count")))
    assert(fixed.events.head.breakdowns == Seq("device"))
    assert(fixed.breakdowns == Seq("event_type"))
    // normalized request actually runs
    val out = EventSegmentation.run(eventsDf(rows), fixed)
    assert(out.agg(sum("count")).collect()(0).getLong(0) == 3)
  }

  test("kitchen-sink request: segments + breakdown + two-level + formula, pivoted") {
    val req = EventSegmentationRequest(
      QueryTime.Between(ts("1970-01-01T00:00:00Z"), ts("1970-01-02T23:59:59Z")),
      TimeIntervalUnit.Day,
      Seq(EventBlock(None, queries = Seq(
        NamedQuery(Query.CountEvents, "cnt"),
        NamedQuery(Query.CountPerGroup(AggFn.Avg), "avg_epu"),
        NamedQuery(Query.Formula("cast(cnt as double) / avg_epu"), "ratio")))),
      breakdowns = Seq("event_type"),
      segments = Seq(Segment("active", Seq(Seq(
        SegmentCondition.DidEventCount(None, Nil, PropOp.Gte, 2,
          SegmentTime.From(ts("1970-01-01T00:00:00Z"))))))))
    val long = EventSegmentation.run(eventsDf(rows), req)
    assert(long.columns.toSet ==
      Set("bucket", "event_type", "cnt", "avg_epu", "ratio", "event", "segment"))
    // u3 has a single event and is excluded by the segment
    assert(long.agg(sum("cnt")).collect()(0).getLong(0) == 5)
    val wide = EventSegmentation.runPivoted(eventsDf(rows), req)
    assert(wide.columns.contains("1970-01-01 00:00:00"))
    assert(wide.columns.contains("average"))
    // 3 metrics × event types present for the segment's users
    assert(wide.select("agg_name").distinct().count() == 3)
  }

  test("multi-block merge unions by name with missing columns null") {
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(
        EventBlock(Some("buy"), queries = Seq(NamedQuery(Query.AggregateProperty("value", AggFn.Sum), "sum_v"))),
        EventBlock(Some("view"), queries = Seq(NamedQuery(Query.CountEvents, "cnt")))))
    val out = EventSegmentation.run(eventsDf(rows), req)
    assert(out.columns.toSet == Set("bucket", "sum_v", "cnt", "event", "segment"))
    val buyRows = out.filter(col("event") === "buy").collect()
    assert(buyRows.forall(_.isNullAt(out.columns.indexOf("cnt"))))
  }

  test("block-PRIVATE breakdowns fuse: each block groups only by its own keys") {
    // block 'view' breaks down by device, block 'buy' by a value tier;
    // request level adds nothing — each block's rows must carry null
    // for the OTHER block's private breakdown and must NOT be split by it
    val req = EventSegmentationRequest(range, TimeIntervalUnit.Day,
      Seq(
        EventBlock(Some("view"), queries = Seq(NamedQuery(Query.CountEvents, "cnt")),
          breakdowns = Seq("device")),
        EventBlock(Some("buy"), queries = Seq(NamedQuery(Query.CountEvents, "cnt")),
          breakdowns = Seq("tier"))))
    val ev = eventsDf(rows).withColumn("tier",
      when(col("value") >= 70, "hi").otherwise("lo"))
    val out = EventSegmentation.run(ev, req)
      .select(to_date(col("bucket")).cast("string").as("d"),
        col("device"), col("tier"), col("event"), col("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(out == Map(
      ("1970-01-01", "ios", null, "view") -> 1L,
      ("1970-01-01", "android", null, "view") -> 2L,
      ("1970-01-01", null, "hi", "buy") -> 1L,     // 100.0
      ("1970-01-02", null, "lo", "buy") -> 1L,     // 50.0
      ("1970-01-02", null, "hi", "buy") -> 1L))    // 70.0
  }
}
