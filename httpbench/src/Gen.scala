package httpbench

import scala.collection.mutable

/** Seed-driven input generator. Every event is a pure function of
  * (seed, index), so the Spark job that writes the store and the
  * plain-Scala loops that compute the expected answers see the same
  * events without sharing any engine code: an engine change can alter
  * answers, never inputs.
  *
  * Timestamps are unique by construction: the low 23 bits of the
  * microsecond value are the event index, so every (user, ts) sort key
  * is distinct and the written files are byte-identical for one seed. */
object Gen {

  final case class Scale(events: Int, days: Int, users: Int, batchEvents: Int)

  /** 2024-01-01T00:00:00Z, a Monday, so week buckets align with the range. */
  val StartUs: Long = 1704067200000000L
  val DayUs: Long = 86400000000L
  private val LowBits = 23
  val MaxEvents: Long = 1L << LowBits

  val EventTypes: Array[String] = Array("view", "search", "cart", "purchase", "share")
  // cumulative per-mille thresholds for EventTypes
  private val EventCdf = Array(400, 600, 820, 920, 1000)
  val Devices: Array[String] = Array("ios", "android", "web")
  val Countries: Array[String] =
    Array("US", "DE", "BR", "IN", "JP", "FR", "GB", "CA")

  /** One user agent per device; the ingest UA parser maps each back to
    * its device (iPhone → iOS, Android, Windows → web). */
  val UserAgents: Array[String] = Array(
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 " +
      "(KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36")

  /** Country k owns the IPv4 block [(k+1)·2^24, (k+2)·2^24). */
  def countryIpStart(k: Int): Long = (k + 1L) << 24

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, i: Long, salt: Long): Long =
    mix(seed * 0x9E3779B97F4A7C15L + i * 0xD1B54A32D192ED03L + salt)
  private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  private def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)

  final case class Event(id: Long, user: Long, tsUs: Long, eventType: Int,
                         device: Int, country: Int, value: Double) {
    def day: Int = ((tsUs - StartUs) / DayUs).toInt
  }

  def deviceOf(seed: Long, user: Long): Int =
    below(hash(seed, user, 101), 100) match {
      case d if d < 35 => 0
      case d if d < 75 => 1
      case _           => 2
    }
  def countryOf(seed: Long, user: Long): Int =
    below(hash(seed, user, 102), Countries.length).toInt

  private def fill(seed: Long, s: Scale, i: Long, tsUs: Long): Event = {
    val r = unit(hash(seed, i, 1))
    val user = math.min((s.users * r * r).toLong, s.users - 1L)
    val p = below(hash(seed, i, 3), 1000).toInt
    val et = EventCdf.indexWhere(p < _)
    val v = hash(seed, i, 4)
    val value = if (EventTypes(et) == "purchase") below(v, 50000) / 100.0
                else below(v, 1000) / 10.0
    Event(i, user, tsUs, et, deviceOf(seed, user), countryOf(seed, user), value)
  }

  /** Store event `i` of `s`: uniform over the range's days. */
  def stored(seed: Long, s: Scale, i: Long): Event = {
    val slots = (s.days * DayUs) >>> LowBits
    fill(seed, s, i, StartUs + (below(hash(seed, i, 2), slots) << LowBits) + i)
  }

  /** Event `j` of write batch `b`: ids continue after the store's, and
    * days favour the most recent three (60/30/10%). */
  def tracked(seed: Long, s: Scale, b: Int, j: Int): Event = {
    val i = s.events.toLong + b.toLong * s.batchEvents + j
    require(i < MaxEvents, s"event index $i exceeds the unique-timestamp space")
    val p = below(hash(seed, i, 5), 10)
    val day = s.days - 1 - (if (p < 6) 0 else if (p < 9) 1 else 2)
    val slotsPerDay = (DayUs >>> LowBits) - 1
    fill(seed, s, i, StartUs + day * DayUs + (below(hash(seed, i, 2), slotsPerDay) << LowBits) + i)
  }

  def batch(seed: Long, s: Scale, b: Int): IndexedSeq[Event] =
    (0 until s.batchEvents).map(tracked(seed, s, b, _))

  def iso(us: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(
      java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
  def dayStart(d: Int): Long = StartUs + d * DayUs
  def dayEnd(d: Int): Long = StartUs + (d + 1) * DayUs - 1

  // ---------------------------------------------------------------
  // Request templates and their expected answers
  // ---------------------------------------------------------------

  /** The four request templates, visited round-robin. Their parameters
    * are fixed, so runs with different seeds differ in data only. Every
    * body pins `projectId` so the HTTP router forwards it unchanged and
    * an in-process call on the same body is byte-comparable. */
  final case class Templates(s: Scale) {
    val esEvent = 0 // view
    val esDevice = 0 // ios
    val esFrom: Int = s.days - 7
    val bdEvent = 3 // purchase
    val funnelFrom: Int = math.max(0, s.days - 14)
    val funnelSteps: Array[Int] = Array(0, 2, 3) // view → cart → purchase
    val funnelWindowUs: Long = DayUs
    val recordsDay: Int = s.days - 1
    val recordsLimit = 100

    private def range(from: Int, to: Int) =
      s""""time":{"type":"between","from":"${iso(dayStart(from))}","to":"${iso(dayEnd(to))}"}"""

    val esDay: String =
      s"""{"projectId":1,${range(esFrom, s.days - 1)},"group":0,"intervalUnit":"day",""" +
        s""""events":[{"eventType":"regular","eventName":"${EventTypes(esEvent)}",""" +
        s""""filters":[{"type":"property","propertyType":"event","propertyName":"device",""" +
        s""""operation":"eq","value":["${Devices(esDevice)}"]}],""" +
        s""""queries":[{"type":"countEvents","name":"cnt"},{"type":"countUniqueGroups","name":"uniq"}]}],""" +
        s""""breakdowns":[]}"""
    val esBreakdown: String =
      s"""{"projectId":1,${range(0, s.days - 1)},"group":0,"intervalUnit":"week",""" +
        s""""events":[{"eventType":"regular","eventName":"${EventTypes(bdEvent)}",""" +
        s""""queries":[{"type":"countEvents","name":"cnt"}]}],""" +
        s""""breakdowns":[{"type":"property","propertyType":"event","propertyName":"device"}]}"""
    val funnel: String =
      s"""{"projectId":1,${range(funnelFrom, s.days - 1)},"group":0,"steps":[""" +
        funnelSteps.map(e =>
          s"""{"events":[{"eventType":"regular","eventName":"${EventTypes(e)}"}],"order":{"type":"exact"}}""")
          .mkString(",") +
        s"""],"timeWindow":{"n":1,"unit":"day"},"chartType":"steps","count":"unique",""" +
        s""""touch":{"type":"first"}}"""
    val records: String =
      s"""{"projectId":1,${range(recordsDay, recordsDay)},""" +
        s""""events":[{"eventType":"regular","eventName":"purchase"}],"limit":$recordsLimit}"""

    val names: IndexedSeq[String] = IndexedSeq("es_day", "es_breakdown", "funnel", "records")
    val bodies: IndexedSeq[String] = IndexedSeq(esDay, esBreakdown, funnel, records)
    val routes: IndexedSeq[String] = IndexedSeq(
      "queries/event-segmentation", "queries/event-segmentation",
      "queries/funnel", "event-records/search")
  }

  /** Expected answers at one store state. */
  final case class Expected(
      esDayCounts: Map[Long, Long], esDayUniques: Map[Long, Long],
      bdCounts: Map[String, Long], funnelViewers: Long, funnelTotals: Seq[Long],
      recordIds: Seq[Long])

  /** Running truth over every event written so far, fed by the same
    * generator that feeds the store. */
  final class Truth(t: Templates) {
    private val s = t.s
    private val esDay = mutable.Map.empty[Long, Long]
    private val esUsers = mutable.Map.empty[Long, mutable.HashSet[Long]]
    private val bd = mutable.Map.empty[String, Long]
    private val viewers = mutable.HashSet.empty[Long]
    // per user: (ts << 2 | step index) of every funnel-step event in range
    private val funnelRows = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    private val recordIds = mutable.ArrayBuffer.empty[Long]
    private var total = 0L
    private var cached: Expected = null
    def events: Long = total

    def add(e: Event): Unit = {
      total += 1
      cached = null
      val d = e.day
      if (e.eventType == t.esEvent && e.device == t.esDevice && d >= t.esFrom && d < s.days) {
        val b = dayStart(d)
        esDay(b) = esDay.getOrElse(b, 0L) + 1
        esUsers.getOrElseUpdate(b, mutable.HashSet.empty) += e.user
      }
      if (e.eventType == t.bdEvent && d >= 0 && d < s.days)
        bd(Devices(e.device)) = bd.getOrElse(Devices(e.device), 0L) + 1
      if (d >= t.funnelFrom && d < s.days) {
        val step = t.funnelSteps.indexOf(e.eventType)
        if (step == 0) viewers += e.user
        if (step >= 0)
          funnelRows.getOrElseUpdate(e.user, mutable.ArrayBuffer.empty) += (e.tsUs << 2 | step)
      }
      if (e.eventType == 3 && d == t.recordsDay) recordIds += e.id
    }

    def snapshot: Expected = {
      if (cached == null) cached = Expected(
        esDay.toMap, esUsers.map { case (k, v) => k -> v.size.toLong }.toMap,
        bd.toMap, viewers.size.toLong, funnelTotals,
        recordIds.sorted(Ordering[Long].reverse).take(t.recordsLimit).toSeq)
      cached
    }

    /** Step totals by replaying the engine's documented funnel rules
      * (graft.engine.Funnel): exact order, an attempt starts at a step-1
      * event and is flushed when a later event falls outside the window
      * (that event is then re-examined), unique count stops a user at
      * the first full conversion, and an attempt counts towards every
      * step it completed. */
    private def funnelTotals: Seq[Long] = {
      val n = t.funnelSteps.length
      val totals = new Array[Long](n)
      def flush(done: Int): Unit = (0 until done).foreach(i => totals(i) += 1)
      funnelRows.valuesIterator.foreach { rows =>
        var done = 0
        var start = 0L
        var converted = false
        rows.sorted.iterator.takeWhile(_ => !converted).foreach { packed =>
          val ts = packed >> 2
          val step = (packed & 3).toInt
          if (done > 0 && ts - start > t.funnelWindowUs) { flush(done); done = 0 }
          if (step == done) {
            if (done == 0) start = ts
            done += 1
            if (done == n) { flush(n); done = 0; converted = true }
          }
        }
        flush(done)
      }
      totals.toSeq
    }
  }
}
