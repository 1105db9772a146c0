package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Query observability — the Spark build of the reference's per-query
  * prometheus instruments (reference common/src/types.rs:114-115
  * `optiprism_query_queries_total` counter and
  * `optiprism_query_execution_time_seconds` histogram). The reference
  * records both inside each request handler
  * (query/src/event_segmentation.rs:131-133); [[timed]] is the same
  * shape — wrap the request, record wall time and failures under the
  * request's query-type tag — and [[recordRows]] adds the result-row
  * counter the JSON entry points report. State is lock-free adders
  * keyed by tag (driver-side, |distinct tags|-sized), so the
  * instrument never shows up in a profile; [[prometheusText]] renders
  * the standard text exposition the `GET /metrics` route serves. */
object Metrics {

  /** `bucketCounts(i)` = queries that took at most `BucketBounds(i)`
    * seconds (cumulative, as Prometheus renders `_bucket`). */
  final case class QueryStats(queries: Long, failures: Long, rows: Long,
                              totalSeconds: Double, maxSeconds: Double,
                              bucketCounts: IndexedSeq[Long])

  /** Upper bounds (seconds) of the execution-time histogram's
    * buckets: the Prometheus client libraries' defaults. `+Inf` is
    * implicit — its cumulative count is `queries`. */
  val BucketBounds: IndexedSeq[Double] =
    Vector(0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5, 0.75, 1.0, 2.5, 5.0, 7.5, 10.0)
  private val boundsNs = BucketBounds.map(b => math.round(b * 1e9)).toArray

  private final class Cell {
    val queries = new LongAdder
    val failures = new LongAdder
    val rows = new LongAdder
    val totalNs = new LongAdder
    val maxNs = new AtomicLong(0L)
    /** Per-bucket (non-cumulative) counts; a duration above the last
      * bound lands in none and counts only toward `+Inf`. */
    val buckets = Array.fill(boundsNs.length)(new LongAdder)
    def record(durationNs: Long, failed: Boolean): Unit = {
      queries.increment()
      if (failed) failures.increment()
      totalNs.add(durationNs)
      val b = java.util.Arrays.binarySearch(boundsNs, durationNs)
      val i = if (b >= 0) b else -b - 1 // first bound >= duration
      if (i < buckets.length) buckets(i).increment()
      var cur = maxNs.get()
      while (durationNs > cur && !maxNs.compareAndSet(cur, durationNs))
        cur = maxNs.get()
    }
    def snapshot: QueryStats = {
      // buckets before queries: record() counts the query first, so
      // a concurrent record never leaves `+Inf` below a finite bucket
      val cumulative = buckets.map(_.sum()).scanLeft(0L)(_ + _).tail.toIndexedSeq
      QueryStats(queries.sum(), failures.sum(), rows.sum(),
        totalNs.sum() / 1e9, maxNs.get() / 1e9, cumulative)
    }
  }

  private val cells = new ConcurrentHashMap[String, Cell]()

  /** Record `body`'s wall time (and failure, which rethrows) under
    * `tag`. */
  def timed[A](tag: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try {
      val out = body
      cells.computeIfAbsent(tag, _ => new Cell)
        .record(System.nanoTime() - t0, failed = false)
      out
    } catch {
      case e: Throwable =>
        cells.computeIfAbsent(tag, _ => new Cell)
          .record(System.nanoTime() - t0, failed = true)
        throw e
    }
  }

  /** Add `n` result rows under `tag` — called by the JSON entry
    * points with the collected response size. */
  def recordRows(tag: String, n: Long): Unit =
    cells.computeIfAbsent(tag, _ => new Cell).rows.add(n)

  def snapshot: Map[String, QueryStats] = {
    val out = Map.newBuilder[String, QueryStats]
    cells.forEach((k, v) => out += k -> v.snapshot)
    out.result()
  }

  /** Prometheus text exposition (format 0.0.4) of every tag's
    * instruments — the payload of `GET /metrics`. Metric names are the
    * repo's own (`graft_query_*`); they mirror the reference's
    * `optiprism_query_queries_total` counter and
    * `optiprism_query_execution_time_seconds` histogram (cumulative
    * `_bucket{le}` over [[BucketBounds]], `_sum`, `_count`), plus a
    * failures and a result-rows counter and a `_max` gauge. Tags
    * render sorted so scrapes are deterministic. */
  def prometheusText: String = {
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.9f", Double.box(d))
    val snap = snapshot.toSeq.sortBy(_._1)
    val sb = new StringBuilder
    def family(name: String, typ: String, value: QueryStats => String): Unit = {
      sb.append(s"# TYPE $name $typ\n")
      snap.foreach { case (tag, s) =>
        sb.append(s"""$name{query="${esc(tag)}"} ${value(s)}""").append('\n')
      }
    }
    family("graft_query_queries_total", "counter", _.queries.toString)
    family("graft_query_failures_total", "counter", _.failures.toString)
    family("graft_query_rows_total", "counter", _.rows.toString)
    val hist = "graft_query_execution_time_seconds"
    sb.append(s"# TYPE $hist histogram\n")
    snap.foreach { case (tag, s) =>
      val q = s"""query="${esc(tag)}""""
      BucketBounds.indices.foreach { i =>
        sb.append(s"""${hist}_bucket{$q,le="${BucketBounds(i)}"} ${s.bucketCounts(i)}\n""")
      }
      sb.append(s"""${hist}_bucket{$q,le="+Inf"} ${s.queries}\n""")
      sb.append(s"${hist}_sum{$q} ${fmt(s.totalSeconds)}\n")
      sb.append(s"${hist}_count{$q} ${s.queries}\n")
    }
    family(s"${hist}_max", "gauge", s => fmt(s.maxSeconds))
    sb.result()
  }

  def reset(): Unit = cells.clear()
}
