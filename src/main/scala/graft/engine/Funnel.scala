package graft.engine

import graft.model.TimeIntervalUnit
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Funnel analysis — the one genuinely custom operator (reference
  * query/src/physical_plan/expressions/aggregate/partitioned/funnel/
  * funnel.rs:258-906: a 2128-line per-user state machine over
  * time-sorted events; logical node query/src/logical_plan/funnel.rs:28-117).
  *
  * Spark build (SURVEY.md §2.5): step/exclude predicates are evaluated
  * BEFORE the shuffle as ordinary codegen'd boolean Columns (mirror of
  * the reference's batch pre-evaluation, funnel/mod.rs:115-203); the
  * slim (user, ts, flags) rows then flow through
  * `groupByKey(user).flatMapSortedGroups(ts, seq)` — per-user
  * clustering and in-group time order as a PLANNER-ENFORCED
  * requirement (Spark's external sort spills to disk, so the
  * invariant holds at 100 TB) — and the state machine emits one row
  * per funnel attempt with O(steps) state per user. Totals are one
  * groupBy(keys, step); the result-sized tail (first/lag window,
  * ratios, order) runs on one partition in that aggregate's last
  * stage, so a funnel plans two exchanges, hash(user) and
  * hash(keys, step), and runs three jobs under AQE. (A hand-rolled
  * repartition+sortWithinPartitions+mapPartitions equivalent is NOT
  * safe here: AQE may elide the user-specified repartition and apply
  * a local shuffle read under a broadcast-converted join, silently
  * breaking co-location — it did, under the bot cap.)
  *
  * Semantics pinned from the reference (FunnelSpec holds the golden
  * cases):
  *  - steps matched in order (StepOrder::Exact); first match advances;
  *  - window overflow → flush the partial attempt, restart from the
  *    CURRENT row (funnel.rs:559-567);
  *  - exclude-predicate hit mid-funnel → attempt discarded (not
  *    counted), restart from current row (funnel.rs:554-590);
  *  - holding-constant mismatch → discard, restart from current row;
  *  - full match → attempt bucketed by trunc(interval, first-step ts)
  *    (funnel.rs:208-214); Count::Unique → skip user's remaining rows
  *    (funnel.rs:637-640); NonUnique → state machine restarts;
  *  - attempts with 0 completed steps produce nothing (funnel.rs:185);
  *  - dropped_off[i] = total[i-1] - total[i] (funnel.rs:226-232);
  *  - conversion_ratio[i] = total[i]/total[0]*100.
  * Documented divergences from the reference (its own funnel test
  * module is `#[ignore]`d — funnel.rs:910 — so these are judged
  * against the DSL's intent):
  *  - avg_time_to_convert: the reference computes total_time/total*100
  *    (funnel.rs:794,807) — the *100 is a carried-over bug from the
  *    ratio code; we compute the true average;
  *  - attempt filters: the reference's push_result accumulates EVERY
  *    attempt into the bucket totals regardless of the configured
  *    Filter — the filter result only gates the Unique partition skip
  *    (funnel.rs:180-236, 637-640). We apply
  *    DropOffOnAnyStep/DropOffOnStep/TimeToConvert as real attempt
  *    filters before aggregation, which is what the DSL promises;
  *  - StepOrder::Any: the reference matches positionally — a row
  *    matching ANY step in the ranges advances the current position,
  *    so the same event can legally fill several positions
  *    (funnel.rs:608-620). Our any-order groups DEFAULT to set
  *    semantics: each slot in the group must be filled by a distinct
  *    matching event, and the group's timestamps normalize to
  *    ascending order. Migration users who need bug-for-bug parity
  *    opt into the reference behavior with
  *    `Request.anyOrderPositional = true` (JSON DSL: step order type
  *    `"any_positional"`).
  */
object Funnel {

  sealed trait CountMode
  case object Unique extends CountMode     // one completed funnel per user
  case object NonUnique extends CountMode  // every completed sequence
  /** One completed funnel per inactivity-gap session — the reference
    * declares Count::Session and leaves it unimplemented
    * (common/src/funnel.rs:69); a session ends after gapMs idle. */
  final case class Session(gapMs: Long) extends CountMode

  /** Which step's row supplies the breakdown values (reference Touch
    * DSL — the field is carried but never read upstream,
    * funnel.rs:269-270; implemented for real here). */
  sealed trait Touch
  case object TouchFirst extends Touch
  case object TouchLast extends Touch
  final case class TouchStep(n: Int) extends Touch

  /** Post-filters over attempts (reference funnel filter DSL). */
  sealed trait AttemptFilter
  case object DropOffOnAnyStep extends AttemptFilter
  /** Completed exactly through step n (0-based) then dropped (funnel.rs:196). */
  final case class DropOffOnStep(n: Int) extends AttemptFilter
  /** Fully converted within [a, b] ms (funnel.rs:198-204). */
  final case class TimeToConvert(minMs: Long, maxMs: Long) extends AttemptFilter

  /** Exclude predicate active while current step in [fromStep, toStep] (0-based). */
  final case class Exclude(pred: Column, fromStep: Int, toStep: Int)

  final case class Request(
      steps: Seq[Column],
      windowMs: Long,
      exclude: Seq[Exclude] = Nil,
      constants: Seq[String] = Nil,
      count: CountMode = Unique,
      filter: Option[AttemptFilter] = None,
      interval: Option[TimeIntervalUnit] = None,
      breakdowns: Seq[String] = Nil,
      /** Inclusive 0-based slot ranges whose steps may complete in any
        * order (reference StepOrder::Any(ranges)); slots outside any
        * range are Exact. Ranges must not overlap. */
      anyOrderGroups: Seq[(Int, Int)] = Nil,
      /** Opt-in reference parity for any-order groups
        * (funnel.rs:608-620): a row matching ANY step of the active
        * range advances the CURRENT position, so one event type may
        * legally fill several slots. false (default) = set semantics:
        * each slot needs a distinct matching event. */
      anyOrderPositional: Boolean = false,
      touch: Touch = TouchFirst,
      userCol: String = "user_id",
      tsCol: String = "ts",
      /** Tenant id — scopes the scan (vacuous without the column). */
      projectId: Option[Long] = None,
      /** Deterministic tiebreaker for same-microsecond events: rows
        * sort (user, ts, idCol), so equal-ts events process in id
        * order and MAY advance consecutive steps — pinned to match
        * the reference, which walks storage order within a batch. */
      idCol: String = "event_id",
      /** Skew insurance for the per-user shuffle: a user with more
        * events than this (bots, test rigs) is EXCLUDED before the
        * repartition — one pathological user otherwise serializes one
        * task at 100 TB. The reference shares the per-user invariant
        * and has no cap; None preserves its semantics. */
      maxEventsPerUser: Option[Long] = None,
      /** Optional time scope, applied before the state machine via
        * [[Exprs.timePredicateFor]] — on a date-partitioned input
        * ([[Tables.eventsWithDate]]) the implied date bounds prune
        * whole day directories from the scan. None = all history
        * (the model path, [[fromModel]], scopes time itself). */
      time: Option[graft.model.QueryTime] = None)

  /** Slim shuffled row: flags precomputed, payload minimal. Step and
    * exclude predicate results are PACKED into one Long each (bit i =
    * predicate i matched; funnels are ≤ 64 steps/excludes by
    * construction — `run` enforces it) and the holding-constants
    * tuple into one injectively-encoded string key ([[constKey]]) —
    * the machine only ever tests equality on it. Versus the previous
    * (Array[Boolean], Array[Boolean], Array[String]) payload this
    * cuts the per-row serialization weight of the one per-user
    * exchange to a fixed 3 longs + 2 refs, which at 100 TB is the
    * difference between shuffling flags and shuffling structure. */
  private[engine] final case class FRow(
      user: Long, ts: Long, seq: Long, stepBits: Long, exclBits: Long,
      consts: String, bds: Array[String])

  /** Injective single-string encoding of the holding-constants tuple:
    * each value length-prefixes itself (`<len>:<value>`, null → `N;`)
    * so every token is self-delimiting and the concatenation is
    * injective — two rows share a key iff they agree on every
    * constant (null ≠ "null" ≠ ""). The machine compares only
    * equality, so one string replaces the previous Array[String]
    * payload on the per-user exchange. Empty tuple → "". */
  private[engine] def constKey(cs: Seq[Column]): Column =
    if (cs.isEmpty) lit("")
    else concat(cs.map { c0 =>
      val c = c0.cast("string")
      when(c.isNull, lit("N;"))
        .otherwise(concat(length(c).cast("string"), lit(":"), c))
    }: _*)

  /** One funnel attempt: stepTs(i) = epoch ms of step i+1 or null. */
  private[engine] final case class Attempt(
      bucketMs: Long, bds: Array[String], completed: Int,
      stepTs: Array[java.lang.Long])

  /** Bucket of a µs timestamp, as epoch ms of the truncated instant. */
  private[engine] def truncMs(unit: Option[TimeIntervalUnit], tsUs: Long): Long = unit match {
    case None => 0L
    case Some(u) =>
      val zone = java.time.ZoneOffset.UTC
      val z = java.time.Instant.ofEpochMilli(Math.floorDiv(tsUs, 1000L)).atZone(zone)
      val t = u match {
        case TimeIntervalUnit.Second => z.truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        case TimeIntervalUnit.Minute => z.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
        case TimeIntervalUnit.Hour   => z.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
        case TimeIntervalUnit.Day    => z.toLocalDate.atStartOfDay(zone)
        case TimeIntervalUnit.Week   => z.toLocalDate.`with`(java.time.temporal.TemporalAdjusters.previousOrSame(java.time.DayOfWeek.MONDAY)).atStartOfDay(zone)
        case TimeIntervalUnit.Month  => z.toLocalDate.withDayOfMonth(1).atStartOfDay(zone)
        case TimeIntervalUnit.Year   => z.toLocalDate.withDayOfYear(1).atStartOfDay(zone)
      }
      t.toInstant.toEpochMilli
  }

  /** The per-user state machine over (groupOf-labelled) slots. Exact
    * slots form singleton groups; an any-order group's slots may fill
    * in any order, and its timestamps are normalized ascending once
    * the group completes. Emitted attempts accumulate in a small
    * buffer drained by the caller after every row — state is O(steps)
    * per user, output is streamed, nothing unbounded. */
  private[engine] final class Machine(
      nSteps: Int, windowMs: Long, excludes: Array[(Int, Int)],
      nConsts: Int, unique: Boolean, sessionGapUs: Long,
      interval: Option[TimeIntervalUnit], groupOf: Array[Int],
      touchLast: Boolean, touchStep: Int,
      anyPositional: Boolean = false) {

    private val out = scala.collection.mutable.ArrayBuffer[Attempt]()
    private val stepTs = new Array[Long](nSteps)
    private val filled = new Array[Boolean](nSteps)
    private var filledCount = 0
    private var startTs = 0L
    private var heldConsts: String = null
    private var firstBds: Array[String] = null
    private var userDone = false
    private var sessionDone = false
    private var lastRowTs = 0L
    private var haveLastTs = false
    private var curUser = Long.MinValue
    private var haveUser = false

    private def reset(): Unit = {
      filledCount = 0; heldConsts = null; firstBds = null
      java.util.Arrays.fill(filled, false)
    }

    private def flush(): Unit = {
      if (filledCount > 0) { // steps_completed==0 → no result (funnel.rs:185)
        val tsSorted = new Array[Long](filledCount)
        var i = 0; var k = 0
        while (i < nSteps) { if (filled(i)) { tsSorted(k) = stepTs(i); k += 1 }; i += 1 }
        java.util.Arrays.sort(tsSorted)
        val ts = new Array[java.lang.Long](nSteps)
        i = 0
        while (i < filledCount) { ts(i) = tsSorted(i); i += 1 }
        out += Attempt(truncMs(interval, tsSorted(0)), firstBds, filledCount, ts)
      }
      reset()
    }

    // Holding-constants comparison is pure equality on the packed key
    // ([[Funnel.constKey]] is injective), so no per-column loop.
    private def sameConsts(a: String, b: String): Boolean =
      if (a == null) b == null else a.equals(b)

    /** Lowest unfilled slot in the active group matching this row, or
      * -1. The active group is the group of the first unfilled slot;
      * Exact slots are singleton groups, so this degenerates to the
      * classic cur-step check.
      *
      * `anyPositional` = the reference's positional matching
      * (funnel.rs:608-620): a row matching ANY step predicate of the
      * active range fills the CURRENT position (slots stay
      * prefix-filled), so the same event type may fill several slots.
      * groupOf maps each member to its range start, so `g` is the
      * group's first slot. */
    private def matchSlot(r: FRow): Int = {
      var first = 0
      while (first < nSteps && filled(first)) first += 1
      if (first == nSteps) return -1
      val g = groupOf(first)
      if (anyPositional) {
        var q = g
        while (q < nSteps && groupOf(q) == g) {
          if (((r.stepBits >>> q) & 1L) == 1L) return first
          q += 1
        }
        -1
      } else {
        var q = first
        while (q < nSteps && groupOf(q) == g) {
          if (!filled(q) && ((r.stepBits >>> q) & 1L) == 1L) return q
          q += 1
        }
        -1
      }
    }

    def onRow(r: FRow): Unit = {
      if (!haveUser || r.user != curUser) {
        flush(); curUser = r.user; haveUser = true
        userDone = false; sessionDone = false; haveLastTs = false
      }
      // session boundary: gapMs idle closes the session (flush the
      // open attempt, allow a new per-session conversion)
      if (sessionGapUs > 0 && haveLastTs && r.ts - lastRowTs > sessionGapUs) {
        flush(); sessionDone = false
      }
      lastRowTs = r.ts; haveLastTs = true
      if (userDone || sessionDone) return
      var reprocess = true
      while (reprocess) {
        reprocess = false
        if (filledCount > 0) {
          if (r.ts - startTs > windowMs) { flush(); reprocess = true }
          else {
            var i = 0
            var excluded = false
            while (i < excludes.length && !excluded) {
              if (((r.exclBits >>> i) & 1L) == 1L &&
                  filledCount >= excludes(i)._1 && filledCount <= excludes(i)._2)
                excluded = true
              i += 1
            }
            if (excluded) { reset(); reprocess = true } // discard, re-process row
          }
        }
        if (!reprocess) {
          val slot = matchSlot(r)
          if (slot >= 0) {
            if (filledCount > 0 && nConsts > 0 && !sameConsts(heldConsts, r.consts)) {
              reset(); reprocess = true // constant violation (funnel.rs:554-590)
            } else {
              if (filledCount == 0) { heldConsts = r.consts; firstBds = r.bds; startTs = r.ts }
              if (touchLast || (touchStep >= 0 && slot == touchStep)) firstBds = r.bds
              stepTs(slot) = r.ts
              filled(slot) = true
              filledCount += 1
              if (filledCount == nSteps) {
                flush()
                if (unique) userDone = true
                else if (sessionGapUs > 0) sessionDone = true
              }
            }
          }
        }
      }
    }

    def endOfInput(): Unit = flush()

    def drain(): IndexedSeq[Attempt] =
      if (out.isEmpty) IndexedSeq.empty
      else { val r = out.toIndexedSeq; out.clear(); r }
  }

  /** Attempts stream: input must be sorted (user, ts) per partition
    * with each user wholly inside one partition. */
  private def runMachine(
      it: Iterator[FRow], n: Int, windowMs: Long, excludes: Array[(Int, Int)],
      nConsts: Int, unique: Boolean, sessionGapUs: Long,
      interval: Option[TimeIntervalUnit], groupOf: Array[Int],
      touchLast: Boolean, touchStep: Int,
      anyPositional: Boolean): Iterator[Attempt] =
    new Iterator[Attempt] {
      private val m = new Machine(n, windowMs, excludes, nConsts, unique,
        sessionGapUs, interval, groupOf, touchLast, touchStep, anyPositional)
      private var buf: IndexedSeq[Attempt] = IndexedSeq.empty
      private var idx = 0
      private var ended = false
      private def advance(): Unit = {
        while (idx >= buf.length && !ended) {
          if (it.hasNext) { m.onRow(it.next()); buf = m.drain(); idx = 0 }
          else { m.endOfInput(); buf = m.drain(); idx = 0; ended = true }
        }
      }
      override def hasNext: Boolean = { advance(); idx < buf.length }
      override def next(): Attempt = { advance(); val a = buf(idx); idx += 1; a }
    }

  /** Lower a model-level (JSON-decoded) funnel request onto the engine
    * request and run it. Applies what the engine request itself does
    * not carry: the time range, request-level property filters, and
    * segment membership (union over segments, LEFT SEMI join like the
    * ES path). Step predicate = OR over the step's event alternatives
    * (reference funnel Step { events } — platform/src/funnel.rs:310).
    * Count::Session takes the conversion window as the inactivity gap
    * (the reference leaves Session `unimplemented!()`,
    * common/src/funnel.rs:69). */
  def fromModel(spark: SparkSession, events: DataFrame,
                m: graft.model.FunnelRequestModel): DataFrame = {
    import graft.model.{FunnelCount, FunnelFilter, FunnelTouch}
    require(m.steps.nonEmpty, "funnel needs at least one step")
    val n = m.steps.size
    // tenant scope FIRST — segment conditions must never see other
    // projects' events
    val tenantScoped = Exprs.tenantScope(events, m.projectId)
    val timeScoped = tenantScoped.filter(Exprs.timePredicateFor(tenantScoped, "ts", m.time))
    val filtered =
      if (m.filters.isEmpty) timeScoped
      else timeScoped.filter(Exprs.and(m.filters.map(Exprs.propPredicate)))
    val scoped =
      if (m.segments.isEmpty) filtered
      else {
        // one groupBy(user) flag pass for every condition, over the
        // FULL tenant history (conditions carry their own time scopes
        // — a last-7-days funnel may segment on all-history facts),
        // matching the ES path's semantics
        val members = Segments.membershipFlags(
          tenantScoped, m.segments, m.time, m.groupCol, "ts", "event_type")
        filtered.join(members.select(col(m.groupCol)), Seq(m.groupCol), "left_semi")
      }
    val stepCols = m.steps.map(st =>
      st.events.map(ev => Exprs.and(
        ev.eventName.map(Exprs.eventPredicate(col("event_type"), _)).toSeq ++
          ev.filters.map(Exprs.propPredicate))).reduce(_ || _))
    val windowMs = m.windowN * m.windowUnit.millis
    val req = Request(
      steps = stepCols,
      windowMs = windowMs,
      exclude = m.exclude.map(e => Exclude(
        Exprs.and(e.eventName.map(Exprs.eventPredicate(col("event_type"), _)).toSeq ++
          e.filters.map(Exprs.propPredicate)),
        e.fromStep, math.min(e.toStep, n - 1))),
      constants = m.holdingConstants,
      count = m.count match {
        case FunnelCount.Unique    => Unique
        case FunnelCount.NonUnique => NonUnique
        case FunnelCount.Session   => Session(windowMs)
      },
      filter = m.filter.map {
        case FunnelFilter.DropOffOnAnyStep   => DropOffOnAnyStep
        case FunnelFilter.DropOffOnStep(s)   => DropOffOnStep(s)
        case FunnelFilter.TimeToConvert(a, b) => TimeToConvert(a, b)
      },
      interval = m.interval,
      breakdowns = m.breakdowns,
      anyOrderGroups = m.anyOrderGroups,
      anyOrderPositional = m.anyOrderPositional,
      touch = m.touch match {
        case FunnelTouch.First   => TouchFirst
        case FunnelTouch.Last    => TouchLast
        case FunnelTouch.Step(k) => TouchStep(k)
      },
      userCol = m.groupCol,
      projectId = m.projectId)
    run(spark, scoped, req)
  }

  /** Run the funnel: events → long-form per-step result
    * (bucket?, breakdowns..., step, total, time_to_convert,
    * time_to_convert_from_start, conversion_ratio,
    * avg_time_to_convert, avg_time_to_convert_from_start,
    * dropped_off, drop_off_ratio), ordered by (bucket?,
    * breakdowns..., step). Steps are 1-based in the output. */
  def run(spark: SparkSession, events0: DataFrame, req: Request): DataFrame = {
    import spark.implicits._
    val tenantScoped = Exprs.tenantScope(events0, req.projectId)
    val events = req.time.fold(tenantScoped)(t =>
      tenantScoped.filter(Exprs.timePredicateFor(tenantScoped, req.tsCol, t)))
    val n = req.steps.size
    require(n >= 1, "funnel needs at least one step")
    require(n <= 64, s"funnel supports at most 64 steps (got $n) — stepBits is a Long")
    require(req.exclude.size <= 64,
      s"funnel supports at most 64 exclude predicates (got ${req.exclude.size})")

    // Predicate results pack into one Long per family (bit i = pred i
    // matched) — the machine tests bits, the exchange ships a fixed
    // 8 bytes instead of a boolean array header + elements.
    def bitPack(cs: Seq[Column]): Column =
      if (cs.isEmpty) lit(0L)
      else cs.zipWithIndex.map { case (c, i) =>
        when(coalesce(c.cast("boolean"), lit(false)), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    def strArray(cs: Seq[Column]): Column =
      if (cs.isEmpty) lit(Array.empty[String]) else array(cs.map(_.cast("string")): _*)

    // Pre-shuffle predicate evaluation (codegen'd), slim payload.
    val slim = events.select(
      col(req.userCol).cast("long").as("user"),
      unix_micros(col(req.tsCol)).as("ts"),
      (if (events.columns.contains(req.idCol)) col(req.idCol).cast("long")
       else monotonically_increasing_id()).as("seq"),
      bitPack(req.steps).as("stepBits"),
      bitPack(req.exclude.map(_.pred)).as("exclBits"),
      constKey(req.constants.map(col)).as("consts"),
      strArray(req.breakdowns.map(col)).as("bds"))

    val excludeRanges = req.exclude.map(e => (e.fromStep, e.toStep)).toArray
    val interval = req.interval
    val windowUs =
      if (req.windowMs > Long.MaxValue / 2000L) Long.MaxValue else req.windowMs * 1000L
    val unique = req.count == Unique
    val sessionGapUs = req.count match {
      case Session(g) => if (g > Long.MaxValue / 2000L) Long.MaxValue else g * 1000L
      case _          => 0L
    }
    val (touchLast, touchStep) = req.touch match {
      case TouchFirst   => (false, -1)
      case TouchLast    => (true, -1)
      case TouchStep(k) => (false, k)
    }
    val nConsts = req.constants.size
    val anyPositional = req.anyOrderPositional

    val groupOf = Array.tabulate(n)(i => i)
    for ((a, b) <- req.anyOrderGroups; i <- a to b) groupOf(i) = a

    // No-op prefilter: a row matching NO step and NO exclude predicate
    // cannot change the machine's output under Unique/NonUnique
    // counting — it only advances time, and the window-overflow check
    // against the NEXT matching row flushes the identical partial
    // attempt (flush content derives from filled slots, never from the
    // triggering row). Dropping such rows BEFORE the per-user exchange
    // cuts shuffle volume by the predicates' selectivity (a 3-of-N
    // event funnel ships only those events' rows). Session counting
    // keeps every row: inactivity gaps are measured between ALL of a
    // user's events. The bot cap must count the same frame either way
    // — it counts `slim`, the full event stream, because the cap's
    // contract is events per user, not step-matching events per user.
    val active =
      if (sessionGapUs == 0L)
        slim.filter(col("stepBits") =!= 0L || col("exclBits") =!= 0L)
      else slim

    // Bot cap: drop whole users over the event limit BEFORE the
    // per-user shuffle (count agg is map-side-combined). Join strategy
    // is left to Catalyst/AQE: the bot list is usually tiny and
    // broadcasts, but a FORCED broadcast would push an aggressively
    // low cap's millions of excluded users through the driver.
    val capped = req.maxEventsPerUser match {
      case None => active
      case Some(cap) =>
        val bots = slim.groupBy(col("user"))
          .agg(count(lit(1)).as("__c")).filter(col("__c") > cap).select(col("user"))
        active.join(bots, Seq("user"), "left_anti")
    }

    // Per-user grouping + in-group time order as a PLANNER-ENFORCED
    // requirement (ClusteredDistribution + sort order), not a
    // hand-rolled repartition+sortWithinPartitions. The hand-rolled
    // form silently broke under the bot cap: AQE converted the
    // anti-join to broadcast, elided the user-specified repartition
    // (the child's pre-join exchange claimed hash(user)), then applied
    // a LOCAL shuffle read that un-did the hash clustering — each user
    // ran through the machine once per input split (measured: 4
    // attempts per user on a 4-split corpus). flatMapSortedGroups'
    // required distribution is a contract AQE must honor, at any
    // plan shape.
    //
    // The key comes from groupBy(col).as[K, T] — NOT
    // .as[FRow].groupByKey(_.user): the lambda form plans an
    // AppendColumns that deserializes every pre-shuffle row into an
    // FRow just to read back one field, and (worse) breaks
    // whole-stage codegen between the scan/filter and the exchange.
    // Keying on the column keeps the entire map side (scan →
    // predicates → bit-pack → shuffle write) one codegen'd stage;
    // rows materialize as FRow objects only on the reduce side,
    // where the machine needs them anyway.
    val attempts: Dataset[Attempt] = capped
      .groupBy(col("user")).as[Long, FRow]
      .flatMapSortedGroups(col("ts"), col("seq")) { (_, rows) =>
        runMachine(rows, n, windowUs, excludeRanges, nConsts, unique, sessionGapUs,
          interval, groupOf, touchLast, touchStep, anyPositional)
      }

    // Attempt-level post-filters (funnel.rs:196-204).
    val filtered = req.filter match {
      case None => attempts.toDF()
      case Some(DropOffOnAnyStep) => attempts.toDF().filter(col("completed") < n)
      case Some(DropOffOnStep(s)) =>
        attempts.toDF().filter(col("completed") === (s + 1) && lit(s + 1) <= n)
      case Some(TimeToConvert(a, b)) =>
        attempts.toDF().filter(col("completed") === n &&
          (element_at(col("stepTs"), n) - element_at(col("stepTs"), 1))
            .between(a * 1000L, b * 1000L))
    }

    // One row per (attempt, step) in one projection; unreached steps
    // carry null ts so zero-total steps still appear in the output
    // shape (the reference zero-fills its wide per-step schema,
    // funnel.rs:699-906). A keyless funnel keys on `bucketMs`, which
    // is 0 for every attempt without an interval: constant-valued but
    // NON-FOLDABLE (a deserialized field, not a literal), so the
    // totals window below keeps a real partition spec instead of
    // collapsing to Spark's warned unpartitioned window.
    val keyless = req.interval.isEmpty && req.breakdowns.isEmpty
    val outKeys = (if (req.interval.isDefined) Seq("bucket") else Nil) ++ req.breakdowns
    val keyNames = (if (keyless) Seq("__pk") else Nil) ++ outKeys
    val keyCols =
      (if (keyless) Seq(col("bucketMs").as("__pk")) else Nil) ++
        (if (req.interval.isDefined) Seq(timestamp_millis(col("bucketMs")).as("bucket")) else Nil) ++
        req.breakdowns.zipWithIndex.map { case (c, i) => element_at(col("bds"), i + 1).as(c) }
    val stepTs = col("stepTs")
    val exploded = filtered.select(keyCols ++ Seq(
      element_at(stepTs, 1).as("first_ts"),
      inline(transform(stepTs, (ts, i) => struct(
        (i + 1).as("step"), ts.as("step_ts"),
        when(i > 0, element_at(stepTs, i)).as("prev_ts"))))): _*)
    val grouped = exploded
      .groupBy((keyNames :+ "step").map(col): _*)
      .agg(
        count(col("step_ts")).as("total"),
        coalesce(sum(col("step_ts") - coalesce(col("prev_ts"), col("step_ts"))), lit(0L))
          .as("time_to_convert"),
        coalesce(sum(col("step_ts") - col("first_ts")), lit(0L))
          .as("time_to_convert_from_start"))

    // The tail works on ≤ steps × buckets × breakdowns rows, so it
    // runs on one partition in the aggregate's own last stage: over a
    // SinglePartition child the window and the global order plan as
    // local sorts, with no exchange and no range-sampling job. The
    // per-user machine keeps its parallelism — the hash(keys, step)
    // exchange separates it from the coalesce.
    val byStep = Window.partitionBy(keyNames.map(col): _*).orderBy(col("step"))
    val step0Total = first(col("total")).over(byStep)
    val prevTotal = lag(col("total"), 1).over(byStep)
    val droppedOff = coalesce(prevTotal - col("total"), lit(0L))
    def avgOf(c: String): Column =
      round(when(col("total") === 0, 0.0).otherwise(col(c).cast("double") / col("total")), 4)
    grouped.coalesce(1)
      .select((outKeys ++ Seq("step", "total", "time_to_convert",
          "time_to_convert_from_start")).map(col) ++ Seq(
        round(when(step0Total === 0, 0.0)
          .otherwise(col("total") * 100.0 / step0Total), 4).as("conversion_ratio"),
        avgOf("time_to_convert").as("avg_time_to_convert"),
        avgOf("time_to_convert_from_start").as("avg_time_to_convert_from_start"),
        droppedOff.as("dropped_off"),
        round(when(coalesce(prevTotal, lit(0L)) === 0, 0.0)
          .otherwise(droppedOff * 100.0 / prevTotal), 4).as("drop_off_ratio")): _*)
      .orderBy((outKeys :+ "step").map(col): _*)
  }
}
