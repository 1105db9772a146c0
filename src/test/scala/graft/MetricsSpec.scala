package graft

import graft.engine.{JsonApi, Metrics}

/** Per-request metrics (reference common/src/types.rs:114-115
  * counter + histogram, recorded in each handler). */
class MetricsSpec extends SparkTestBase {

  test("timed records counts, wall time, max and failures per tag") {
    Metrics.reset()
    Metrics.timed("t") { Thread.sleep(5) }
    Metrics.timed("t") { Thread.sleep(1) }
    intercept[RuntimeException] {
      Metrics.timed("t") { throw new RuntimeException("boom") }
    }
    Metrics.timed("other") { () }
    val s = Metrics.snapshot
    val t = s("t")
    assert(t.queries == 3 && t.failures == 1)
    assert(t.totalSeconds >= 0.006 && t.maxSeconds >= 0.005)
    assert(t.maxSeconds <= t.totalSeconds)
    assert(s("other").queries == 1 && s("other").failures == 0)
  }

  test("JSON response entry points record under the reference's tags") {
    Metrics.reset()
    val df = eventsDf(Seq((1L, 1000L, "view", "ios", 1.0)))
    JsonApi.columnarJson("event_segmentation")(JsonApi.eventSegmentation(df, """{
      "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "1970-01-02T00:00:00Z"},
      "intervalUnit": "day",
      "events": [{"eventType": "regular", "eventName": "view",
                  "queries": [{"type": "countEvents", "name": "cnt"}]}]
    }"""))
    val s = Metrics.snapshot
    assert(s("event_segmentation").queries == 1)
    assert(s("event_segmentation").totalSeconds > 0)
    // the entry point also reports its result-row counter (one bucket
    // row for the single event)
    assert(s("event_segmentation").rows == 1)
  }

  test("prometheus text renders every family, sorted and escaped") {
    Metrics.reset()
    Metrics.timed("a\"tag") { () }
    Metrics.recordRows("a\"tag", 7)
    Metrics.timed("b") { () }
    val text = Metrics.prometheusText
    assert(text.contains("# TYPE graft_query_queries_total counter"))
    assert(text.contains("graft_query_queries_total{query=\"a\\\"tag\"} 1"))
    assert(text.contains("graft_query_rows_total{query=\"a\\\"tag\"} 7"))
    assert(text.contains("graft_query_queries_total{query=\"b\"} 1"))
    assert(text.contains("graft_query_execution_time_seconds_sum{query=\"b\"}"))
    // families list tags deterministically (sorted)
    val qLines = text.linesIterator
      .filter(_.startsWith("graft_query_queries_total{")).toSeq
    assert(qLines == qLines.sorted)

    // execution time is a histogram: per tag, cumulative buckets over
    // the fixed bounds then +Inf, and +Inf == _count == queries_total
    Metrics.timed("b") { Thread.sleep(30) }
    val hist = Metrics.prometheusText
    def value(series: String): Long =
      hist.linesIterator.find(_.startsWith(series + " ")).map(_.split(' ').last.toLong)
        .getOrElse(fail(s"no series $series in\n$hist"))
    assert(hist.contains("# TYPE graft_query_execution_time_seconds histogram"))
    for (q <- Seq("query=\"a\\\"tag\"", "query=\"b\"")) {
      val buckets = hist.linesIterator
        .filter(_.startsWith(s"graft_query_execution_time_seconds_bucket{$q,le=")).toSeq
      assert(buckets.size == Metrics.BucketBounds.size + 1, buckets)
      assert(buckets.last.startsWith(s"""graft_query_execution_time_seconds_bucket{$q,le="+Inf"} """))
      val counts = buckets.map(_.split(' ').last.toLong)
      assert(counts == counts.sorted, s"non-cumulative buckets: $buckets")
      val total = value(s"graft_query_queries_total{$q}")
      assert(counts.last == total)
      assert(value(s"graft_query_execution_time_seconds_count{$q}") == total)
    }
    // b ran twice; the 30 ms run lies above le="0.025", both below 10 s
    assert(value("""graft_query_execution_time_seconds_bucket{query="b",le="0.025"}""") <= 1)
    assert(value("""graft_query_execution_time_seconds_bucket{query="b",le="10.0"}""") == 2)
  }
}
