package graft

import graft.engine.{EventSegmentation, Funnel, JsonApi}
import graft.model._
import org.apache.spark.sql.functions._

class JsonSpec extends SparkTestBase {

  // ---------------- parser ----------------

  test("json parser handles nesting, escapes and numbers") {
    val j = Json.parse(
      """{"a": [1, -2.5, 1e3], "s": "q\"\\\nA", "b": true, "n": null, "o": {"x": 7}}""")
    assert((j / "a").arr.map(_.num) == Seq(1.0, -2.5, 1000.0))
    assert((j / "s").str == "q\"\\\nA")
    assert((j / "b").bool)
    assert(j.asOpt("n").isEmpty) // explicit null reads as absent
    assert(((j / "o") / "x").int == 7)
  }

  test("json parser rejects malformed input with offsets") {
    assertThrows[Json.JsonError](Json.parse("""{"a": }"""))
    assertThrows[Json.JsonError](Json.parse("""[1, 2"""))
    assertThrows[Json.JsonError](Json.parse("""{"a": 1} trailing"""))
    assertThrows[Json.JsonError](Json.parse(""))
  }

  // ---------------- event segmentation decode ----------------

  test("ES request decodes the reference DTO shape to the model") {
    val req = JsonDsl.eventSegmentation("""{
      "time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-02-01T00:00:00Z"},
      "group": 0,
      "intervalUnit": "week",
      "chartType": "line",
      "analysis": {"type": "linear"},
      "events": [{
        "eventType": "regular", "eventName": "purchase",
        "filters": [{"type": "property", "propertyType": "event",
                     "propertyName": "device", "operation": "eq", "value": ["ios", "android"]}],
        "queries": [{"type": "countEvents", "name": "cnt"},
                    {"type": "aggregateProperty", "propertyType": "event",
                     "propertyName": "value", "aggregate": "sum"}]
      }],
      "filters": {"groupsCondition": "and",
                  "groups": [{"filtersCondition": "and",
                              "filters": [{"type": "property", "propertyType": "event",
                                           "propertyName": "value", "operation": "gt", "value": [5]}]}]},
      "breakdowns": [{"type": "property", "propertyType": "event", "propertyName": "device"}],
      "segments": [{"name": "payers", "conditions": [[
        {"type": "didEvent", "eventType": "regular", "eventName": "purchase",
         "aggregate": {"type": "count", "operation": "gte", "value": 1,
                       "time": {"type": "from", "from": "2024-01-01T00:00:00Z"}}}]]}]
    }""")
    assert(req.interval == TimeIntervalUnit.Week)
    assert(req.events.head.eventName.contains("purchase"))
    assert(req.events.head.filters ==
      Seq(PropFilter("device", PropOp.Eq, Seq("ios", "android"))))
    assert(req.events.head.queries ==
      Seq(NamedQuery(Query.CountEvents, "cnt"),
        NamedQuery(Query.AggregateProperty("value", AggFn.Sum), "sum_value")))
    assert(req.filters == Seq(PropFilter("value", PropOp.Gt, Seq(5L))))
    assert(req.breakdowns == Seq("device"))
    assert(req.segments.head.conditions.head.head ==
      SegmentCondition.DidEventCount(Some("purchase"), Nil, PropOp.Gte, 1L,
        SegmentTime.From(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")))))
  }

  test("JSON ES request computes the same frame as the hand-built request") {
    val df = eventsDf(Seq(
      (1L, 1000L, "view", "ios", 1.0), (1L, 2000L, "buy", "ios", 20.0),
      (2L, 3000L, "buy", "and", 30.0), (3L, 4000L, "view", "and", 2.0)))
    val json = """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "intervalUnit": "day",
      "events": [{"eventType": "regular", "eventName": "buy",
                  "queries": [{"type": "countEvents", "name": "cnt"}]}]
    }"""
    val viaJson = JsonApi.eventSegmentation(df, json)
      .select(col("cnt")).collect().map(_.getLong(0)).toSeq
    assert(viaJson == Seq(2L))
  }

  test("ES decode reads analysis and compare") {
    val req = JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "analysis": {"type": "rollingAverage", "window": 7, "unit": "day"},
         "compare": {"offset": 1, "unit": "week"},
         "events": [{"eventType": "regular", "eventName": "x", "queries": [{"type": "countEvents"}]}]}""")
    assert(req.analysis == Analysis.RollingAverage(7))
    assert(req.compare.contains(Compare(1, TimeIntervalUnit.Week)))
    val cum = JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "analysis": {"type": "cumulative"}, "events": []}""")
    assert(cum.analysis == Analysis.Cumulative)
  }

  test("ES decode rejects unknown tags and missing fields") {
    assertThrows[Json.JsonError](JsonDsl.eventSegmentation("""{"time": {"type": "sometime"}}"""))
    assertThrows[Json.JsonError](JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "fortnight", "events": []}"""))
    assertThrows[Json.JsonError](JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day", "events": [{"eventType": "regular"}]}"""))
    // custom event id without a registry entry
    assertThrows[Json.JsonError](JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "events": [{"eventType": "custom", "eventId": 42, "queries": []}]}"""))
  }

  test("ES decode resolves custom events inline and via registry") {
    val ce = CustomEvent("engagement", Seq(
      CustomEventMember.Event(Some("view"), Nil),
      CustomEventMember.Event(Some("click"), Nil)))
    val viaRegistry = JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "events": [{"eventType": "custom", "eventId": 7, "queries": [{"type": "countEvents"}]}]}""",
      customEvents = Map(7L -> ce))
    assert(viaRegistry.events.head.customEvent.contains(ce))
    val inline = JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "events": [{"eventType": "custom",
                     "customEvent": {"name": "engagement", "events": [
                       {"eventName": "view"}, {"eventName": "click"}]},
                     "queries": [{"type": "countEvents"}]}]}""")
    assert(inline.events.head.customEvent.contains(ce))
  }

  // ---------------- funnel decode ----------------

  test("funnel request decodes every DTO field") {
    val m = JsonDsl.funnel("""{
      "time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-02-01T00:00:00Z"},
      "group": 0,
      "steps": [
        {"events": [{"eventType": "regular", "eventName": "view"},
                    {"eventType": "regular", "eventName": "open"}], "order": {"type": "exact"}},
        {"events": [{"eventType": "regular", "eventName": "click"}],
         "order": {"type": "any", "steps": [[0, 1]]}}
      ],
      "timeWindow": {"n": 7, "unit": "day"},
      "chartType": "line",
      "count": "nonUnique",
      "filter": {"type": "dropOffOnStep", "step": 1},
      "touch": {"type": "step", "step": 1},
      "holdingConstants": [{"propertyType": "event", "propertyName": "device"}],
      "exclude": [{"eventType": "regular", "eventName": "refund",
                   "steps": {"type": "between", "from": 0, "to": 1}}],
      "breakdowns": [{"type": "property", "propertyType": "event", "propertyName": "device"}],
      "filters": [{"type": "property", "propertyType": "event",
                   "propertyName": "value", "operation": "gte", "value": [0]}]
    }""")
    assert(m.steps.map(_.events.map(_.eventName.get)) ==
      Seq(Seq("view", "open"), Seq("click")))
    assert(m.windowN == 7 && m.windowUnit == TimeIntervalUnit.Day)
    assert(m.count == FunnelCount.NonUnique)
    assert(m.filter.contains(FunnelFilter.DropOffOnStep(1)))
    assert(m.touch == FunnelTouch.Step(1))
    assert(m.holdingConstants == Seq("device"))
    assert(m.exclude == Seq(FunnelExcludeModel(Some("refund"), Nil, 0, 1)))
    assert(m.breakdowns == Seq("device"))
    assert(m.filters == Seq(PropFilter("value", PropOp.Gte, Seq(0L))))
    assert(m.anyOrderGroups == Seq((0, 1)))
  }

  test("JSON funnel matches the hand-built engine funnel") {
    val h = 3600 * 1000L
    val df = eventsDf(Seq(
      (1L, 0L, "view", "ios", 0.0), (1L, h, "click", "ios", 0.0), (1L, 2 * h, "buy", "ios", 0.0),
      (2L, 0L, "view", "and", 0.0), (2L, h, "click", "and", 0.0),
      (3L, 0L, "view", "ios", 0.0)))
    val json = """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "steps": [
        {"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}},
        {"events": [{"eventType": "regular", "eventName": "click"}], "order": {"type": "exact"}},
        {"events": [{"eventType": "regular", "eventName": "buy"}], "order": {"type": "exact"}}
      ],
      "timeWindow": {"n": 1, "unit": "day"},
      "count": "unique"
    }"""
    val viaJson = JsonApi.funnel(spark, df, json)
      .select("step", "total").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = Funnel.run(spark, df, Funnel.Request(
      steps = Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "buy"),
      windowMs = 24 * h))
      .select("step", "total").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaJson == direct)
    assert(viaJson == Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
  }

  test("funnel segments restrict to qualifying users via JSON") {
    val h = 3600 * 1000L
    val df = eventsDf(Seq(
      (1L, 0L, "view", "ios", 0.0), (1L, h, "buy", "ios", 50.0),
      (2L, 0L, "view", "and", 0.0)))
    // segment: users who did 'buy' at least once — only user 1
    val json = """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "steps": [{"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}}],
      "timeWindow": {"n": 1, "unit": "day"},
      "segments": [{"name": "buyers", "conditions": [[
        {"type": "didEvent", "eventType": "regular", "eventName": "buy",
         "aggregate": {"type": "count", "operation": "gte", "value": 1,
                       "time": {"type": "from", "from": "1970-01-01T00:00:00Z"}}}]]}]
    }"""
    val out = JsonApi.funnel(spark, df, json)
      .select("step", "total").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 1L))
  }

  test("segments with no condition group or an empty group are refused at parse") {
    val time = """"time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"}"""
    for (conditions <- Seq("[]", "[[]]")) {
      val segments = s""""segments": [{"name": "none", "conditions": $conditions}]"""
      val es = intercept[Json.JsonError](JsonDsl.eventSegmentation(s"""{$time,
        "intervalUnit": "day", $segments,
        "events": [{"eventType": "regular", "eventName": "view",
                    "queries": [{"type": "countEvents", "name": "cnt"}]}]}"""))
      assert(es.message.contains("segment 'none'"), es.message)
      intercept[Json.JsonError](JsonDsl.funnel(s"""{$time, $segments,
        "steps": [{"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}}],
        "timeWindow": {"n": 1, "unit": "day"}}"""))
    }
  }

  // ---------------- record-search / property-values / group-search DTOs ----------------

  test("retrieval search request: sparse weights and passage blocks parse; invalid combinations reject") {
    val sp = graft.model.JsonDsl.search(
      """{"weights": {"scan": 300, "column": -100}, "topK": 5}""")
    assert(sp.weights == Seq("scan" -> 300L, "column" -> -100L))
    assert(sp.terms.isEmpty && sp.topK == 5)
    val pa = graft.model.JsonDsl.search(
      """{"terms": ["a", "b"], "passage": {"window": 8, "stride": 4}}""")
    assert(pa.passage.contains(
      graft.model.PassageSearch(Some(8), Some(4), 100)))
    // neither terms nor weights
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search("""{"topK": 5}""")
    }
    // positional modes: index required, no combinations, non-empty
    val ph = graft.model.JsonDsl.search(
      """{"phrase": ["a", "b"], "index": "i"}""")
    assert(ph.phrase == Seq("a", "b") && ph.index.contains("i"))
    val nr = graft.model.JsonDsl.search(
      """{"near": {"a": "x", "b": "y", "window": 2}, "index": "i"}""")
    assert(nr.near.contains(graft.model.NearSearch("x", "y", 2)))
    intercept[IllegalArgumentException] { // no index
      graft.model.JsonDsl.search("""{"phrase": ["a"]}""")
    }
    intercept[IllegalArgumentException] { // empty phrase
      graft.model.JsonDsl.search("""{"phrase": [], "index": "i"}""")
    }
    intercept[IllegalArgumentException] { // combines with nothing
      graft.model.JsonDsl.search(
        """{"phrase": ["a"], "terms": ["b"], "index": "i"}""")
    }
    // an analyzer block cannot override a named index's persisted one
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "index": "i", "analyzer": {"lowercase": true}}""")
    }
    // a passage block needs terms
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"weights": {"a": 1}, "passage": {"window": 8}}""")
    }
    // weights combine with neither passage nor semantic
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "weights": {"a": 1},
            "semantic": {"queryId": 0}}""")
    }
    // terms + weights alone is ambiguous too: rejected loudly, never
    // "sparse silently wins and terms are dropped"
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search("""{"terms": ["a"], "weights": {"b": 1}}""")
    }
    // maxsim: exclusive with other modes, needs terms, sane dims
    val mx = graft.model.JsonDsl.search(
      """{"terms": ["a"], "maxsim": {"dims": 8}}""")
    assert(mx.maxsim.contains(graft.model.MaxsimSearch(8)))
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search("""{"maxsim": {"dims": 8}}""")
    }
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "maxsim": {"dims": 0}}""")
    }
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "maxsim": {}, "weights": {"b": 1}}""")
    }
    // semantic knobs validate at PARSE like the maxsim ones: a
    // nProbe <= 0 must not survive to fail deep inside cell ranking
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "semantic": {"queryId": 0, "nProbe": 0}}""")
    }
    // filtered semantic: where parses to PropFilters and REQUIRES a
    // named index (payload columns live in the artifact)
    val fs = graft.model.JsonDsl.search(
      """{"terms": ["a"], "semantic": {"queryId": 0, "index": "i",
          "where": [{"column": "label", "op": "eq", "values": [2, 5]}]}}""")
    assert(fs.semantic.get.where ==
      Seq(graft.model.PropFilter("label", graft.model.PropOp.Eq, Seq(2L, 5L))))
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "semantic": {"queryId": 0,
            "where": [{"column": "label", "op": "eq", "values": [1]}]}}""")
    }
    // facets/snippet: lexical mode with a named index only
    val fc = graft.model.JsonDsl.search(
      """{"terms": ["a"], "index": "i", "facets": ["lang"],
          "snippet": {"width": 4}}""")
    assert(fc.facets == Seq("lang") && fc.snippet.contains(4))
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search("""{"terms": ["a"], "facets": ["lang"]}""")
    }
    // companions ride the HYBRIDS (their lexical half carries them)…
    val hf = graft.model.JsonDsl.search(
      """{"terms": ["a"], "index": "i", "facets": ["lang"],
          "semantic": {"queryId": 0}}""")
    assert(hf.facets == Seq("lang") && hf.semantic.nonEmpty)
    val mf = graft.model.JsonDsl.search(
      """{"terms": ["a"], "index": "i", "facets": ["lang"],
          "maxsim": {"dims": 8, "fuse": true, "index": "tok"}}""")
    assert(mf.facets == Seq("lang") && mf.maxsim.get.fuse)
    // …but NOT a lone maxsim request, whose request-level index is
    // the token-instance artifact, not a text index
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "index": "tok", "facets": ["lang"],
            "maxsim": {"dims": 8}}""")
    }
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"terms": ["a"], "index": "i", "snippet": {"width": 0}}""")
    }
    // fused maxsim parses its own index + fuse flag
    val fm = graft.model.JsonDsl.search(
      """{"terms": ["a"], "maxsim": {"dims": 8, "fuse": true,
          "index": "tok"}}""")
    assert(fm.maxsim.get.fuse && fm.maxsim.get.index.contains("tok"))
    // analyzer: lexical mode only, needs terms
    val an = graft.model.JsonDsl.search(
      """{"terms": ["A"], "analyzer": {"lowercase": true, "stopwords": ["x"]}}""")
    assert(an.analyzer.contains(graft.model.AnalyzerSpec(true, Seq("x"))))
    intercept[IllegalArgumentException] {
      graft.model.JsonDsl.search(
        """{"weights": {"a": 1}, "analyzer": {"lowercase": true}}""")
    }
  }

  test("event-record search request decodes the reference DTO and runs") {
    val req = JsonDsl.eventRecordsSearch("""{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "events": [{"eventType": "regular", "eventName": "buy",
                  "filters": [{"type": "property", "propertyType": "event",
                               "propertyName": "value", "operation": "gt", "value": [10]}]},
                 {"eventType": "regular", "eventName": "view"}],
      "filters": {"groups": [{"filters": []}]},
      "properties": [{"propertyType": "event", "propertyName": "user_id"},
                     {"propertyType": "event", "propertyName": "event_type"}],
      "limit": 5
    }""")
    assert(req.events.map(_.eventName.get) == Seq("buy", "view"))
    assert(req.events.head.filters == Seq(PropFilter("value", PropOp.Gt, Seq(10L))))
    assert(req.properties == Seq("user_id", "event_type") && req.limit == 5)
    // per-event filters OR: cheap buys are excluded, views always match
    val df = eventsDf(Seq(
      (1L, 1000L, "buy", "ios", 5.0), (2L, 2000L, "buy", "ios", 50.0),
      (3L, 3000L, "view", "and", 1.0), (4L, 4000L, "click", "and", 99.0)))
    val out = graft.engine.Records.search(df, req)
      .select("event_type").collect().map(_.getString(0)).sorted.toSeq
    assert(out == Seq("buy", "view"))
  }

  test("property-values request decodes filter and event scope") {
    val req = JsonDsl.propertyValues("""{
      "propertyType": "event", "propertyName": "device",
      "eventType": "regular", "eventName": "buy",
      "filter": {"operation": "like", "value": ["io%"]},
      "limit": 10
    }""")
    assert(req.prop == "device" && req.eventName.contains("buy") && req.limit == 10)
    assert(req.filter.contains(PropFilter("device", PropOp.Like, Seq("io%"))))
    val df = eventsDf(Seq(
      (1L, 1000L, "buy", "ios", 1.0), (2L, 2000L, "buy", "and", 1.0),
      (3L, 3000L, "view", "ion", 1.0)))
    val out = graft.engine.Records.propertyValues(df, req)
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("ios")) // 'ion' is view-scoped out, 'and' fails the filter
  }

  test("group-record search request decodes sort and group index") {
    val req = JsonDsl.groupRecordsSearch("""{
      "group": 0,
      "properties": [{"propertyType": "event", "propertyName": "user_id"},
                     {"propertyType": "group", "propertyName": "value"}],
      "sort": {"propertyType": "event", "propertyName": "value", "direction": "desc"},
      "limit": 2
    }""")
    assert(req.groupCol == "user_id" && req.sort == Seq(("value", false)) && req.limit == 2)
    val df = eventsDf(Seq(
      (1L, 1000L, "a", "ios", 5.0), (1L, 2000L, "b", "ios", 50.0),
      (2L, 3000L, "c", "and", 20.0), (3L, 4000L, "d", "and", 30.0)))
    val out = graft.engine.Records.searchGroups(df, req)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toSeq
    assert(out == Seq((1L, 50.0), (3L, 30.0))) // latest row per user, sorted desc, top 2
    // sorting by a property OUTSIDE the projection works (sort runs
    // before the projection drops the column)
    val narrow = req.copy(properties = Seq("user_id"))
    val ids = graft.engine.Records.searchGroups(df, narrow)
      .collect().map(_.getAs[Long]("user_id")).toSeq
    assert(ids == Seq(1L, 3L))
    assertThrows[Json.JsonError](JsonDsl.groupRecordsSearch(
      """{"group": 0, "sort": {"propertyType": "event", "propertyName": "v", "direction": "sideways"}}"""))
  }

  test("group index resolves through configured group columns and rejects unknowns") {
    val reg = Registry.open.withGroupColumns(Seq("user_id", "org_id"))
    val req = JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "group": 1, "events": [{"eventType": "all", "queries": [{"type": "countEvents"}]}]}""",
      registry = reg)
    assert(req.groupCol == "org_id")
    assertThrows[Json.JsonError](JsonDsl.eventSegmentation(
      """{"time": {"type": "from", "from": "2024-01-01T00:00:00Z"}, "intervalUnit": "day",
         "group": 3, "events": []}""", registry = reg))
  }

  test("format field routes Regular to the pivoted tail and Compact to long form") {
    assert(JsonDsl.format("""{"format": "json"}""") == ResponseFormat.Regular)
    assert(JsonDsl.format("""{}""") == ResponseFormat.Regular)
    assert(JsonDsl.format("""{"format": "jsonCompact"}""") == ResponseFormat.Compact)
    assertThrows[Json.JsonError](JsonDsl.format("""{"format": "xml"}"""))
    val df = eventsDf(Seq(
      (1L, 1000L, "view", "ios", 1.0), (2L, 50000L, "view", "and", 2.0)))
    val json = """{
      "format": "jsonCompact",
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-01T00:01:00Z"},
      "intervalUnit": "minute",
      "events": [{"eventType": "all", "queries": [{"type": "countEvents", "name": "cnt"}]}]
    }"""
    // Compact = the long-form frame (bucket rows), not pivoted columns
    val compact = JsonApi.eventSegmentationFormatted(df, json)
    assert(compact.columns.contains("bucket"))
    val regular = JsonApi.eventSegmentationFormatted(df,
      json.replace("jsonCompact", "json"))
    assert(!regular.columns.contains("bucket"))
    assert(regular.columns.exists(_.startsWith("1970-01-01")))
  }

  test("funnel nested response golden through the JSON path") {
    val h = 3600 * 1000L
    val df = eventsDf(Seq(
      (1L, 0L, "view", "ios", 0.0), (1L, h, "buy", "ios", 0.0),
      (2L, 0L, "view", "and", 0.0)))
    val json = """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "steps": [
        {"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}},
        {"events": [{"eventType": "regular", "eventName": "buy"}], "order": {"type": "exact"}}
      ],
      "timeWindow": {"n": 1, "unit": "day"},
      "count": "unique"
    }"""
    val out = JsonApi.funnelJson(spark, df, json)
    // drop-off attributes to the step NOT reached (step 2 lists the
    // user who stopped after view); time-to-convert totals live on
    // the converting step
    val expected =
      """{"groups":[],"steps":[""" +
        """{"step":"view","data":[{"ts":0,"total":2,"conversionRatio":"100","avgTimeToConvert":"0",""" +
        """"avgTimeToConvertFromStart":"0","droppedOff":0,"dropOffRatio":"0","timeToConvert":0,"timeToConvertFromStart":0}]},""" +
        """{"step":"buy","data":[{"ts":0,"total":1,"conversionRatio":"50","avgTimeToConvert":"3600000000",""" +
        """"avgTimeToConvertFromStart":"3600000000","droppedOff":1,"dropOffRatio":"50","timeToConvert":3600000000,"timeToConvertFromStart":3600000000}]}]}"""
    assert(out == expected)
  }

  test("columnar response serializer escapes control characters") {
    import graft.engine.Response._
    val t = ColumnarTable(Seq(ResponseColumn("c", Dimension, Seq("a\nb\u0001", null))))
    val expected = "{\"columns\":[{\"name\":\"c\",\"kind\":\"Dimension\"," +
      "\"values\":[\"a\\nb\\u0001\",null]}]}"
    assert(t.toJson == expected)
  }

  test("saved reports: CRUD bookkeeping, dispatch, dashboards over panels") {
    val df = eventsDf(Seq(
      (1L, 1000L, "view", "ios", 1.0), (1L, 2000L, "buy", "ios", 20.0),
      (2L, 3000L, "buy", "and", 30.0), (3L, 4000L, "view", "and", 2.0)))
    val esJson = """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "intervalUnit": "day",
      "format": "jsonCompact",
      "events": [{"eventType": "regular", "eventName": "buy",
                  "queries": [{"type": "countEvents", "name": "cnt"}]}]
    }"""
    val store = new Reports
    val r = store.create(1L, "buys", ReportType.EventSegmentation, esJson, now = 100L)
    assert(r.id == 1L && r.createdAt == 100L && r.updatedAt.isEmpty)
    // partial update: untouched fields survive, updatedAt records the edit
    val r2 = store.update(1L, r.id, now = 200L, name = Some("buys v2"))
    assert(r2.name == "buys v2" && r2.queryJson == esJson && r2.updatedAt.contains(200L))
    assert(store.list(1L).map(_.id) == Seq(1L))
    intercept[IllegalArgumentException] {
      store.create(1L, "bad", "lineChart", esJson, now = 1L)
    }
    // tenancy: another project cannot see, rewrite or delete the report
    assert(store.get(2L, r.id).isEmpty)
    intercept[RuntimeException] { store.update(2L, r.id, now = 1L) }
    store.delete(2L, r.id)
    assert(store.get(1L, r.id).isDefined, "cross-project delete is a no-op")
    // dispatch runs the stored body: same result as the direct call
    val viaReport = JsonApi.runReport(spark, df, store.get(1L, r.id).get)
      .select(col("cnt")).collect().map(_.getLong(0)).toSeq
    assert(viaReport == Seq(2L))
    // dashboards validate panel references (same project) and run each
    val dash = store.createDashboard(1L, "main", Seq(Panel(reportId = 1L)), now = 300L)
    val panels = JsonApi.runDashboard(spark, df, dash, store)
    assert(panels.size == 1 && panels.head._2.collect().nonEmpty)
    intercept[IllegalArgumentException] {
      store.createDashboard(1L, "broken", Seq(Panel(reportId = 99L)), now = 1L)
    }
    intercept[IllegalArgumentException] {
      store.createDashboard(2L, "cross-tenant", Seq(Panel(reportId = 1L)), now = 1L)
    }
    // a referenced report refuses deletion until the dashboard goes
    intercept[IllegalArgumentException] { store.delete(1L, r.id) }
    store.deleteDashboard(1L, dash.id)
    store.delete(1L, r.id)
    assert(store.get(1L, r.id).isEmpty)
    // bookmarks hold an optional ad-hoc body, project-scoped
    val b = store.createBookmark(1L, ReportType.EventSegmentation, Some(esJson), now = 400L)
    assert(store.getBookmark(1L, b.id).flatMap(_.queryJson).contains(esJson))
    assert(store.getBookmark(2L, b.id).isEmpty)
  }
}
