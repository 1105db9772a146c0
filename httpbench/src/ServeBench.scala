package httpbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import graft.engine.{JsonApi, Response}
import graft.ingest.Ingest
import graft.model.{Json, Registry}
import graft.serve.GraftHttpServer
import graft.sources.{Compact, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving benchmark: GraftHttpServer in-process over a seed-generated
  * events store, driven by one closed-loop client over one connection.
  *
  *   ServeBench --workload <interactive|ingest_mixed> --seed N
  *              --seconds S --trace <0|1> --work DIR [--trace-out FILE]
  *              [--scale tiny]
  *
  * Untraced (`--trace 0`) it times the request sequence and prints the
  * end-to-end metrics; traced (`--trace 1`) it replays a fixed sequence
  * through the layer functions and prints the per-layer metrics. The
  * last stdout line is the result object. */
object ServeBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceOut: Option[String], tiny: Boolean)

  /** Every workload runs `--seconds / SecondsPerCycle` read rounds and
    * as many writes. Interleaved, each round follows a write, so every
    * timed round reads a store one batch newer than the last; otherwise
    * all writes follow all rounds. The run is bounded by that operation
    * count, not by the clock, so the store at run end depends on the
    * arguments only. */
  val SecondsPerCycle = 2

  /** Writes before timing. Batch time falls over the first several
    * batches in a JVM as the JIT compiles the write path: in one run on a
    * 4-core virtual machine the third to seventh batches took 1.5, 1.0,
    * 1.0, 1.0 and 0.9 s and later ones 0.65-0.75 s. */
  val WarmupWrites = 4

  val Interactive = Gen.Scale(events = 100000, days = 30, users = 5000, batchEvents = 1000)
  val Tiny = Gen.Scale(events = 3000, days = 10, users = 200, batchEvents = 100)

  /** Workload → whether its writes interleave with its reads. */
  val workloads: Map[String, Boolean] = Map("interactive" -> false, "ingest_mixed" -> true)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.get("trace-out"),
      m.get("scale").contains("tiny"))
  }

  /** Spark runs on half the cores, so other tenants of a shared host
    * slow it less. With one busy process beside it on a 4-core virtual
    * machine, `ingest_mixed` read latency rose 76% at `local[4]` and
    * 7-28% at `local[2]`; on a quiet host `local[2]` was about 8% slower,
    * as requests here run about two tasks per stage. */
  def session(work: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(1, Runtime.getRuntime.availableProcessors() / 2))
    val spark = SparkSession.builder()
      .appName("httpbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(argv)
    val interleaved = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val spark = session(a.work)
    val result =
      try new Run(spark, a, interleaved, if (a.tiny) Tiny else Interactive, t0).execute()
      finally spark.stop()
    println(result)
  }

  // ---------------------------------------------------------------
  // statistics and host readings
  // ---------------------------------------------------------------

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def readFirstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toSeq.headOption finally src.close()
    } catch { case _: Exception => None }

  def loadAvg1m(): Double =
    readFirstLine("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** (machine busy jiffies, this JVM's jiffies), the way Bench.scala
    * reads them: busy = user+nice+system+irq+softirq+steal of the
    * aggregate cpu line; own = utime+stime of this process. */
  def jiffies(): Option[(Long, Long)] = for {
    stat <- readFirstLine("/proc/stat")
    self <- readFirstLine("/proc/self/stat")
  } yield {
    val f = stat.trim.split("\\s+")
    val busy = Seq(1, 2, 3, 6, 7, 8).map(i => if (i < f.length) f(i).toLong else 0L).sum
    val rest = self.substring(self.lastIndexOf(')') + 2).split("\\s+")
    (busy, rest(11).toLong + rest(12).toLong)
  }

  def statCores(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().count(l => l.startsWith("cpu") && l.length > 3 && l.charAt(3).isDigit)
      finally src.close()
    } catch { case _: Exception => Runtime.getRuntime.availableProcessors() }

  /** Share of the machine's CPU time that other processes used between
    * two [[jiffies]] readings taken `wallS` seconds apart (USER_HZ is
    * 100 on Linux). */
  def externalShare(a: Option[(Long, Long)], b: Option[(Long, Long)], wallS: Double): Double =
    (a, b) match {
      case (Some((b0, s0)), Some((b1, s1))) if wallS > 0 =>
        math.max(0.0, ((b1 - b0) - (s1 - s0)) / (wallS * 100.0 * statCores()))
      case _ => -1.0
    }

  /** Heap pools' usage right after a full collection: the live set only.
    * A collection frees Spark blocks whose owners died only after the
    * context cleaner has seen the owners collected, and the cleaner runs
    * on its own thread, so collect until the live set stops shrinking. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }
    var prev = collect()
    var cur = collect()
    var n = 2
    while (cur < prev - 0.5 && n < 10) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One benchmark run in one Spark session. */
final class Run(spark: SparkSession, a: ServeBench.Args, interleaved: Boolean,
                s: Gen.Scale, t0Ns: Long) {
  import ServeBench._
  import spark.implicits._

  private val seed = a.seed
  private val t = Gen.Templates(s)
  private val truth = new Gen.Truth(t)
  private val storePath = new java.io.File(a.work, "store").getAbsolutePath
  private val registry = Registry.open
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val compactOpts = Compact.Options(l0MaxParts = 1, sortCols = Seq("user_id", "ts"))

  private var frame: DataFrame = _
  private var server: GraftHttpServer = _
  private var nextBatch = 0

  // operation records
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val openMs = mutable.ArrayBuffer.empty[Double]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private var writtenEvents = 0L

  private def ms(ns: Long): Double = ns / 1e6
  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[httpbench] FAILED: $what")
  }

  // ---------------------------------------------------------------
  // store, server and writes
  // ---------------------------------------------------------------

  private def generated: DataFrame = {
    val (sd, sc) = (seed, s)
    spark.range(0L, s.events.toLong, 1L, spark.sparkContext.defaultParallelism * 2).as[Long]
      .map { i =>
        val e = Gen.stored(sd, sc, i)
        (e.user, e.tsUs, Gen.EventTypes(e.eventType), Gen.Devices(e.device),
          Gen.Countries(e.country), e.value, e.id)
      }
      .toDF("user_id", "ts_us", "event_type", "device", "country", "value", "event_id")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("event_type"),
        col("device"), col("country"), col("value"), col("event_id"))
  }

  /** Data files of the store: relative path → bytes. */
  private def storeFiles(): Map[String, Long] = {
    val root = new java.io.File(storePath)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }
  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (k, v) if !before.contains(k) => v }.sum

  private def reopen(): Unit = {
    val t0 = System.nanoTime()
    frame = Store.readEvents(spark, storePath)
    openMs += ms(System.nanoTime() - t0)
    val old = server
    server = new GraftHttpServer(spark, frame).start()
    if (old != null) old.stop()
  }

  private lazy val identity: DataFrame =
    spark.range(s.users.toLong)
      .select(concat(lit("u"), col("id").cast("string")).as("user_key"), col("id"))
  private lazy val geo: DataFrame =
    Gen.Countries.indices.map { k =>
      val st = Gen.countryIpStart(k)
      (st, st + (1L << 24) - 1, Gen.Countries(k), Gen.Countries(k) + "-city")
    }.toDF("start", "end", "country", "city")

  private def trackRecords(evs: Seq[Gen.Event]): DataFrame =
    evs.map { e =>
      (s"u${e.user}", e.id, Gen.UserAgents(e.device),
        Gen.countryIpStart(e.country) + (Gen.hash(seed, e.id, 6) & 0xFFFFFFL),
        e.tsUs, Gen.EventTypes(e.eventType), e.value, e.id)
    }.toDF("user_key", "seq", "ua", "ip", "ts_us", "event_type", "value", "event_id")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

  /** The ingest output in the store's column layout. */
  private def toStore(enriched: DataFrame): DataFrame = enriched.select(
    col("resolved_user_id").as("user_id"), col("ts"), col("event_type"),
    when(col("os_family") === "iOS", "ios").when(col("os_family") === "Android", "android")
      .otherwise("web").as("device"),
    col("country"), col("value"), col("event_id"))

  /** One write batch: track records → Ingest.executeTrackBatch →
    * Store.appendEvents. With a tracer the transform is materialized
    * separately so its time and the append's can be told apart. */
  private def writeBatch(tracer: Option[Tracer] = None): Unit = {
    val b = nextBatch
    nextBatch += 1
    val evs = Gen.batch(seed, s, b)
    val raw = trackRecords(evs)
    val t0 = System.nanoTime()
    tracer match {
      case None =>
        val (enriched, release) = Ingest.executeTrackBatchCached(raw, identity, geo)
        Store.appendEvents(toStore(enriched), storePath)
        release()
      case Some(tr) =>
        val req = s"batch-$b"
        val before = storeFiles()
        val (rows, _) = tr.request(req) {
          val (enriched, release) = Ingest.executeTrackBatchCached(raw, identity, geo)
          val (out, n) = tr.span(req, "ingest.transform", "request") {
            val o = toStore(enriched).cache(); (o, o.count())
          }
          tr.span(req, "sources.append", "request")(Store.appendEvents(out, storePath))
          out.unpersist(); release()
          n
        }
        traced.transformMs += tr.spanMs(req, "ingest.transform")
        traced.appendMs += tr.spanMs(req, "sources.append")
        traced.rowsIn += evs.size
        traced.rowsOut += rows
        traced.appended += newBytes(before, storeFiles())
    }
    batchMs += ms(System.nanoTime() - t0)
    writtenEvents += evs.size
    evs.foreach(truth.add)
  }

  private def compact(tracer: Option[Tracer] = None): Unit = {
    val before = if (tracer.isDefined) storeFiles() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    Compact.runPartitioned(spark, storePath, compactOpts)
    val took = ms(System.nanoTime() - t0)
    compactMs += took
    if (tracer.isDefined) {
      traced.compactMs += took
      traced.rewritten += newBytes(before, storeFiles())
    }
  }

  /** One write: a batch, a compaction pass, and a reopen of the store
    * behind a fresh server. */
  private def write(tracer: Option[Tracer] = None): Unit = {
    writeBatch(tracer)
    compact(tracer)
    reopen()
  }

  // ---------------------------------------------------------------
  // requests and checks
  // ---------------------------------------------------------------

  private def httpRequest(k: Int): HttpRequest =
    HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.port}/api/v1/projects/1/${t.routes(k)}"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(t.bodies(k))).build()

  /** (status, body, wall ns) of template `k` over HTTP. */
  private def post(k: Int): (Int, String, Long) = {
    val req = httpRequest(k)
    val t0 = System.nanoTime()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body(), System.nanoTime() - t0)
  }

  /** Template `k` in-process through JsonApi, as the server's route runs it. */
  private def inProcess(k: Int): String = t.names(k) match {
    case "es_day" | "es_breakdown" =>
      Response.collect(JsonApi.eventSegmentation(
        frame, t.bodies(k), registry.customEvents, registry)).toJson
    case "funnel" => JsonApi.funnelJson(spark, frame, t.bodies(k), registry)
    case "records" =>
      Response.collect(JsonApi.eventRecordsSearch(frame, t.bodies(k), registry)).toJson
  }

  private def columns(body: String): Map[String, Seq[String]] =
    (Json.parse(body) / "columns").arr.map(c =>
      (c / "name").str -> (c / "values").arr.map {
        case Json.JNull => null
        case v          => v.str
      }).toMap

  private def bucketKey(us: Long): String = new java.sql.Timestamp(us / 1000).toString

  /** None when `body` is the right answer to template `k` at `exp`. */
  private def check(k: Int, body: String, exp: Gen.Expected): Option[String] =
    try t.names(k) match {
      case "es_day" =>
        val c = columns(body)
        val cnt = c("bucket").zip(c("cnt").map(_.toLong)).toMap
        val uniq = c("bucket").zip(c("uniq").map(_.toLong)).toMap
        val want = exp.esDayCounts.map { case (d, n) => bucketKey(d) -> n }
        val wantU = exp.esDayUniques.map { case (d, n) => bucketKey(d) -> n }
        if (cnt.values.sum != exp.esDayCounts.values.sum)
          Some(s"es_day sums to ${cnt.values.sum}, generator counts ${exp.esDayCounts.values.sum}")
        else if (cnt != want) Some(s"es_day series $cnt != $want")
        else if (uniq != wantU) Some(s"es_day uniques $uniq != $wantU")
        else None
      case "es_breakdown" =>
        val c = columns(body)
        val got = c("device").zip(c("cnt").map(_.toLong))
          .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
        if (got != exp.bdCounts) Some(s"es_breakdown per-device $got != ${exp.bdCounts}")
        else None
      case "funnel" =>
        val totals = (Json.parse(body) / "steps").arr.map(st =>
          (st / "data").arr.map(d => (d / "total").long).sum)
        if (totals.sliding(2).exists(p => p(1) > p(0))) Some(s"funnel steps increase: $totals")
        else if (totals.headOption.exists(_ < exp.funnelViewers))
          Some(s"funnel step 1 = ${totals.head} < ${exp.funnelViewers} users with a step-1 event")
        else if (totals != exp.funnelTotals)
          Some(s"funnel totals $totals != replayed ${exp.funnelTotals}")
        else None
      case "records" =>
        val ids = columns(body)("event_id").map(_.toLong)
        if (ids != exp.recordIds) Some(s"records ids ${ids.take(5)}… != ${exp.recordIds.take(5)}…")
        else None
    } catch { case e: Exception => Some(s"${t.names(k)} unreadable answer: $e") }

  /** A read whose answer is checked after the timed phase. */
  private final case class Read(k: Int, status: Int, body: String, ns: Long, exp: Gen.Expected)

  /** Checks a read's answer; false (and a recorded failure) if wrong. */
  private def settle(r: Read): Boolean = {
    val bad =
      if (r.status != 200) Some(s"${t.names(r.k)} HTTP ${r.status}: ${r.body.take(200)}")
      else check(r.k, r.body, r.exp)
    bad.foreach(fail)
    bad.isEmpty
  }

  /** One operation: counted as attempted, and as failed if it throws. */
  private def op(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case e: Exception => fail(s"$what threw $e") }
  }

  // ---------------------------------------------------------------
  // phases
  // ---------------------------------------------------------------

  private def warmRound(): Unit = {
    val exp = truth.snapshot
    t.names.indices.foreach { k =>
      op(s"warm-up ${t.names(k)}") {
        val (st, body, ns) = post(k)
        settle(Read(k, st, body, ns, exp)): Unit
      }
    }
  }

  /** Everything before the first timed request; returns its seconds. */
  private def setup(): Double = {
    val marks = mutable.ArrayBuffer(("session", System.nanoTime()))
    def mark(what: String): Unit = marks += ((what, System.nanoTime()))
    Store.writeEvents(generated, storePath)
    mark("build")
    (0L until s.events.toLong).foreach(i => truth.add(Gen.stored(seed, s, i)))
    mark("truth")
    reopen()
    // every template once, then write-and-compact cycles, then one more
    // round on the new frame. Requests keep getting faster for about
    // 30 s of rounds after this, as the JIT compiles the request path; a
    // warm-up that long does not fit the run-time budget, so the timed
    // phase starts at the same point of that curve in every run.
    warmRound()
    mark("reads")
    for (_ <- 1 to WarmupWrites) op("warm-up write")(write())
    mark("writes")
    warmRound()
    mark("warm")
    batchMs.clear(); compactMs.clear(); openMs.clear()
    writtenEvents = 0L
    System.gc()
    val total = (System.nanoTime() - t0Ns) / 1e9
    val all = ("start", t0Ns) +: marks.toSeq
    val phases = all.zip(all.tail).map { case ((_, a), (n, b)) =>
      f"$n=${(b - a) / 1e9}%.2f" }.mkString(" ")
    System.err.println(f"[httpbench] set-up ${total}%.2f s: $phases")
    total
  }

  def execute(): String =
    try {
      val setupS = setup()
      if (a.trace) traceRun() else timedRun(setupS)
    } finally {
      if (server != null) server.stop()
    }

  private def timedRun(setupS: Double): String = {
    val reads = mutable.ArrayBuffer.empty[Read]
    val cycles = math.max(1, a.seconds / SecondsPerCycle)
    val j0 = jiffies()
    val start = System.nanoTime()
    val roundMs = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to cycles) {
      if (interleaved) op("write batch")(write())
      val exp = truth.snapshot
      val r0 = System.nanoTime()
      t.names.indices.foreach { k =>
        op(s"read ${t.names(k)}") {
          val (st, body, ns) = post(k)
          reads += Read(k, st, body, ns, exp)
        }
      }
      roundMs += ms(System.nanoTime() - r0)
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val j1 = jiffies()
    val load = loadAvg1m()
    if (!interleaved) (1 to cycles).foreach(_ => op("write batch")(write()))
    def show(xs: Iterable[Double]) = xs.map(r => f"$r%.0f").mkString("[", ", ", "]")
    System.err.println(s"[httpbench] timed rounds ${show(roundMs)} batches ${show(batchMs)}" +
      s" compactions ${show(compactMs)} ms")
    reads.foreach(settle)

    val lat = reads.map(r => ms(r.ns)).toSeq
    def route(names: String*) =
      median(reads.filter(r => names.contains(t.names(r.k))).map(r => ms(r.ns)).toSeq)
    val storeBytes = storeFiles().values.sum
    val heapMb = liveHeapMb()
    val writeS = (batchMs.sum + compactMs.sum) / 1000.0
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", quantile(lat, 0.5), "ms"),
      ("latency_p90_ms", quantile(lat, 0.9), "ms"),
      ("throughput_rps", reads.size / wallS, "1/s"),
      ("es_p50_ms", route("es_day", "es_breakdown"), "ms"),
      ("funnel_p50_ms", route("funnel"), "ms"),
      ("records_p50_ms", route("records"), "ms"),
      ("ingest_batch_p50_ms", median(batchMs.toSeq), "ms"),
      ("ingest_events_per_s", if (writeS > 0) writtenEvents / writeS else 0.0, "1/s"),
      ("bytes_per_event", storeBytes.toDouble / truth.events, "B"),
      ("heap_live_mb", heapMb, "MB"))
    val host = s"""{"host":{"loadavg_1m":${fmt(load)},""" +
      s""""external_cpu_share":${fmt(externalShare(j0, j1, wallS))},""" +
      s""""reads":${reads.size},"batches":${batchMs.size},"timed_s":${fmt(wallS)}}}"""
    println(host)
    resultLine(metrics)
  }

  /** Layer totals of the traced sequence. */
  private object traced {
    val transformMs = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    var rowsIn = 0L; var rowsOut = 0L
    var appended = 0L; var rewritten = 0L
  }

  private def traceRun(): String = {
    val tr = new Tracer(spark)
    val rounds = 2
    final case class Row(httpMs: Double, apiMs: Double, tracedMs: Double, parseMs: Double,
                         buildMs: Double, collectMs: Double, serializeMs: Double,
                         rows: Long, acc: tr.Acc)
    val rows = mutable.ArrayBuffer.empty[Row]
    val opens = mutable.ArrayBuffer.empty[Double]
    val j0 = jiffies()
    val start = System.nanoTime()
    for (round <- 0 until rounds) {
      if (interleaved) op("traced write") {
        write(Some(tr))
        opens += openMs.last
      }
      val o0 = System.nanoTime()
      Store.readEvents(spark, storePath)
      opens += ms(System.nanoTime() - o0)
      val exp = truth.snapshot
      for (k <- t.names.indices) op(s"traced ${t.names(k)}") {
        val req = s"r$round-${t.names(k)}"
        val (st, body, httpNs) = post(k)
        settle(Read(k, st, body, httpNs, exp)): Unit
        tr.drain()
        val a0 = System.nanoTime()
        val api = inProcess(k)
        val apiNs = System.nanoTime() - a0
        if (st == 200 && api != body)
          fail(s"${t.names(k)}: HTTP answer differs from the in-process JsonApi answer")
        val body0 = t.bodies(k)
        val ((out, nRows), acc) = tr.request(req) {
          t.names(k) match {
            case "funnel" =>
              val m = tr.span(req, "model.parse", "request")(graft.model.JsonDsl.funnel(body0, registry))
              val df = tr.span(req, "engine.build", "request")(graft.engine.Funnel.fromModel(spark, frame, m))
              tr.span(req, "plans", "request")(df.queryExecution.executedPlan)
              val names = m.steps.zipWithIndex.map { case (s0, i) =>
                s0.events.headOption.flatMap(_.eventName).getOrElse(s"step ${i + 1}")
              }
              val resp = tr.span(req, "engine.collect", "request")(
                Response.funnelResponse(df, names, m.breakdowns))
              (tr.span(req, "engine.serialize", "request")(resp.toJson),
                resp.steps.map(_.data.size.toLong).sum)
            case name =>
              val df = if (name == "records") {
                val m = tr.span(req, "model.parse", "request")(
                  graft.model.JsonDsl.eventRecordsSearch(body0, registry))
                tr.span(req, "engine.build", "request")(graft.engine.Records.search(frame, m))
              } else {
                val m = tr.span(req, "model.parse", "request")(
                  graft.model.JsonDsl.eventSegmentation(body0, registry.customEvents, registry))
                tr.span(req, "engine.build", "request")(graft.engine.EventSegmentation.run(frame, m))
              }
              tr.span(req, "plans", "request")(df.queryExecution.executedPlan)
              val table = tr.span(req, "engine.collect", "request")(Response.collect(df))
              (tr.span(req, "engine.serialize", "request")(table.toJson), table.rowCount)
          }
        }
        if (st == 200 && out != body) fail(s"${t.names(k)}: traced answer differs from HTTP answer")
        rows += Row(ms(httpNs), ms(apiNs), tr.spanMs(req, "request"),
          tr.spanMs(req, "model.parse"), tr.spanMs(req, "engine.build"),
          tr.spanMs(req, "engine.collect"), tr.spanMs(req, "engine.serialize"), nRows, acc)
      }
    }
    tr.drain()
    val wallS = (System.nanoTime() - start) / 1e9
    val j1 = jiffies()
    a.traceOut.foreach(tr.write)
    tr.close()

    val accs = rows.map(_.acc).toSeq
    def med(f: Row => Double) = median(rows.map(f).toSeq)
    def perReq(f: tr.Acc => Double) = mean(accs.map(f))
    val leafMax = storeFiles().keys.filter(_.endsWith(".parquet"))
      .groupBy(p => Option(new java.io.File(p).getParent).getOrElse(""))
      .values.map(_.size).maxOption.getOrElse(0)
    val metrics = Seq(
      ("serve.overhead_ms", med(r => r.httpMs - r.apiMs), "ms"),
      ("model.parse_ms", med(_.parseMs), "ms"),
      ("plans.analysis_ms", median(accs.map(x => Tracer.phaseMs(x.qes.toSeq, "analysis"))), "ms"),
      ("plans.optimization_ms", median(accs.map(x => Tracer.phaseMs(x.qes.toSeq, "optimization"))), "ms"),
      ("plans.planning_ms", median(accs.map(x => Tracer.phaseMs(x.qes.toSeq, "planning"))), "ms"),
      ("engine.request_ms", med(_.apiMs), "ms"),
      ("engine.build_ms", med(_.buildMs), "ms"),
      ("engine.collect_ms", med(_.collectMs), "ms"),
      ("engine.serialize_ms", med(_.serializeMs), "ms"),
      ("engine.driver_ms", med(r => Tracer.driverOnlyMs(r.tracedMs, r.acc.jobSpans.toSeq)), "ms"),
      ("engine.jobs", perReq(_.jobs.toDouble), "count"),
      ("engine.stages", perReq(_.stages.toDouble), "count"),
      ("engine.tasks", perReq(_.tasks.toDouble), "count"),
      ("engine.result_rows", mean(rows.map(_.rows.toDouble).toSeq), "count"),
      ("engine.exec_run_ms", median(accs.map(_.runMs)), "ms"),
      ("engine.exec_cpu_ms", median(accs.map(_.cpuMs)), "ms"),
      ("engine.input_bytes", perReq(_.inputBytes.toDouble), "B"),
      ("engine.shuffle_read_bytes", perReq(_.shuffleRead.toDouble), "B"),
      ("engine.shuffle_write_bytes", perReq(_.shuffleWrite.toDouble), "B"),
      ("engine.spill_bytes", perReq(_.spill.toDouble), "B"),
      ("engine.gc_ms", median(accs.map(_.gcMs)), "ms"),
      ("engine.task_skew", median(accs.map(x => x.stageSkew.maxOption.getOrElse(1.0))), "ratio"),
      ("sources.files_read", perReq(x => Tracer.filesRead(x.qes.toSeq).toDouble), "count"),
      ("sources.open_ms", median(opens.toSeq), "ms"),
      ("sources.files_per_leaf_max", leafMax.toDouble, "count"),
      ("sources.append_ms", median(traced.appendMs.toSeq), "ms"),
      ("sources.compact_ms", median(traced.compactMs.toSeq), "ms"),
      ("sources.bytes_rewritten_ratio",
        if (traced.appended > 0) traced.rewritten.toDouble / traced.appended else 0.0, "ratio"),
      ("ingest.transform_ms", median(traced.transformMs.toSeq), "ms"),
      ("ingest.rows_out_ratio",
        if (traced.rowsIn > 0) traced.rowsOut.toDouble / traced.rowsIn else 0.0, "ratio"),
      ("trace.overhead_ms", med(r => r.tracedMs - r.apiMs), "ms"))
    println(s"""{"host":{"loadavg_1m":${fmt(loadAvg1m())},""" +
      s""""external_cpu_share":${fmt(externalShare(j0, j1, wallS))},"reads":${rows.size}}}""")
    resultLine(metrics)
  }

  private def resultLine(metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
    s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
