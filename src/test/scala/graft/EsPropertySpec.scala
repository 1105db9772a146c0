package graft

import graft.engine.EventSegmentation
import graft.model._
import org.scalacheck.{Gen, rng}

/** Differential fuzzing of the segmentation engine — the working
  * analog of the reference's (empty-stub) libfuzzer target
  * (reference src/query/fuzz/fuzz_targets/fuzz_target_1.rs): random
  * event streams × random requests, every result compared EXACTLY
  * against an independent plain-Scala model of the request semantics
  * (time window, event predicate, property filter, day/Monday-week
  * bucketing, one-level and two-level per-user metrics, breakdowns;
  * one-level medians and distinct counts mixed with per-user metrics).
  * Any divergence between the Spark plan and the model — wrong
  * bucket, dropped cell, wrong per-user split — fails with
  * the generating seed printed. (Raw ScalaCheck Gen sampling with a
  * fixed seed — the scalatestplus bridge isn't available offline.)
  */
class EsPropertySpec extends SparkTestBase {

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val DayMs = 86400000L

  private val eventGen = for {
    user <- Gen.choose(1L, 6L)
    // most mass in the first 4 days (dense hour/day buckets), a tail
    // reaching ~70 days so Month bucketing crosses two boundaries
    tsOff <- Gen.frequency(
      3 -> Gen.choose(0L, 4L * DayMs - 1),
      1 -> Gen.choose(0L, 70L * DayMs - 1))
    ev <- Gen.oneOf("A", "B", "C")
    dev <- Gen.oneOf("ios", "android")
    v <- Gen.choose(0, 50)
  } yield (user, T0 + tsOff, ev, dev, v.toDouble)

  private val streamGen = Gen.listOfN(120, eventGen)

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  private val plainFns: Seq[AggFn] =
    Seq(AggFn.Count, AggFn.Sum, AggFn.Min, AggFn.Max, AggFn.Avg)

  private val queryGen: Gen[Query] = Gen.oneOf(
    Gen.const(Query.CountEvents),
    Gen.const(Query.CountUniqueGroups(None)),
    Gen.oneOf(plainFns ++ Seq(AggFn.Median, AggFn.DistinctCount))
      .map(f => Query.AggregateProperty("value", f)),
    Gen.oneOf(Seq[AggFn](AggFn.Sum, AggFn.Max, AggFn.Avg)).map(Query.CountPerGroup),
    for {
      i <- Gen.oneOf(plainFns.filterNot(_ == AggFn.Count))
      o <- Gen.oneOf(Seq[AggFn](AggFn.Sum, AggFn.Min, AggFn.Max))
    } yield Query.AggregatePropertyPerGroup("value", i, o))

  private val segGen: Gen[Segment] = for {
    ev <- Gen.oneOf("A", "B", "C")
    k <- Gen.choose(1L, 5L)
    op <- Gen.oneOf(PropOp.Gte, PropOp.Lte)
    name <- Gen.oneOf("hot", "cold")
  } yield Segment(name, Seq(Seq(SegmentCondition.DidEventCount(
    Some(ev), Nil, op, k, SegmentTime.Between(ts(T0), ts(T0 + 4 * DayMs))))))

  private val reqGen: Gen[EventSegmentationRequest] = for {
    nq <- Gen.choose(1, 3)
    qs <- Gen.listOfN(nq, queryGen)
    evName <- Gen.option(Gen.oneOf("A", "B", "C"))
    interval <- Gen.oneOf(TimeIntervalUnit.Day, TimeIntervalUnit.Day,
      TimeIntervalUnit.Week, TimeIntervalUnit.Hour, TimeIntervalUnit.Month)
    bds <- Gen.oneOf(Seq.empty[String], Seq("device"))
    fromD <- Gen.choose(0L, 2L)
    toD <- Gen.oneOf(Gen.choose(2L, 4L), Gen.choose(30L, 70L))
    useFilter <- Gen.oneOf(true, false)
    nSegs <- Gen.oneOf(0, 0, 1, 2) // segments on ~half the requests
    segs <- Gen.listOfN(nSegs, segGen)
    analysis <- Gen.oneOf(Analysis.Linear, Analysis.Linear,
      Analysis.Cumulative, Analysis.RollingAverage(2))
    compare <- Gen.oneOf(None, None, Some(Compare(1, TimeIntervalUnit.Day)))
  } yield EventSegmentationRequest(
    time = QueryTime.Between(ts(T0 + fromD * DayMs), ts(T0 + toD * DayMs)),
    interval = interval,
    events = Seq(EventBlock(evName,
      queries = qs.zipWithIndex.map { case (q, i) => NamedQuery(q, s"m$i") })),
    filters = if (useFilter) Seq(PropFilter("value", PropOp.Gt, Seq(10.0))) else Nil,
    breakdowns = bds,
    segments = segs.groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name),
    analysis = analysis,
    compare = compare)

  // ---- independent model ------------------------------------------

  private def truncBucket(ms: Long, unit: TimeIntervalUnit): Long = {
    if (unit == TimeIntervalUnit.Hour) return ms - ms % 3600000L
    val d = java.time.Instant.ofEpochMilli(ms)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDate
    val b = unit match {
      case TimeIntervalUnit.Day => d
      case TimeIntervalUnit.Week => d.`with`(
        java.time.temporal.TemporalAdjusters.previousOrSame(java.time.DayOfWeek.MONDAY))
      case TimeIntervalUnit.Month => d.withDayOfMonth(1)
      case other => sys.error(s"unused interval $other")
    }
    b.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  }

  private def aggModel(f: AggFn, xs: Seq[Double]): Double = f match {
    case AggFn.Count => xs.size.toDouble
    case AggFn.Sum   => xs.sum
    case AggFn.Min   => xs.min
    case AggFn.Max   => xs.max
    case AggFn.Avg   => xs.sum / xs.size
    case AggFn.Median => // exact, interpolated between the middle pair
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    case AggFn.DistinctCount => xs.distinct.size.toDouble
    case other       => sys.error(s"unused fn $other")
  }

  /** Users qualifying for a segment: DidEventCount over ALL rows
    * (membership ignores the request's time window and filters),
    * requiring >=1 matching row even for Lte (the engine's flagAgg
    * semantics: "did the event" plus the comparison). */
  private def segmentMembers(rows: Seq[(Long, Long, String, String, Double)],
                             seg: Segment): Set[Long] = {
    val Seq(Seq(SegmentCondition.DidEventCount(Some(ev), Nil, op, k,
      SegmentTime.Between(f, t)))) = seg.conditions: @unchecked
    rows.groupBy(_._1).collect { case (u, rs)
        if {
          val n = rs.count { case (_, ms, e, _, _) =>
            e == ev && ms >= f.getTime && ms <= t.getTime }
          n > 0 && (op match {
            case PropOp.Gte => n >= k
            case PropOp.Lte => n <= k
            case other      => sys.error(s"unused op $other")
          })
        } => u
    }.toSet
  }

  /** (segmentName, bucketMs, breakdownValues) -> metricName -> value.
    * segmentName = "all" for segment-free requests. */
  private def model(rows: Seq[(Long, Long, String, String, Double)],
                    req: EventSegmentationRequest)
      : Map[(String, Long, Seq[String]), Map[String, Double]] = {
    val (from, to) = req.time match {
      case QueryTime.Between(f, t) => (f.getTime, t.getTime)
      case other => sys.error(s"unused time $other")
    }
    val block = req.events.head
    val kept = rows.filter { case (_, ms, ev, _, v) =>
      ms >= from && ms <= to &&
        block.eventName.forall(_ == ev) &&
        req.filters.forall { case PropFilter("value", PropOp.Gt, Seq(x: Double)) => v > x
                             case other => sys.error(s"unused filter $other") }
    }
    val segmented: Seq[(String, Seq[(Long, Long, String, String, Double)])] =
      if (req.segments.isEmpty) Seq(("all", kept))
      else req.segments.map { s =>
        val members = segmentMembers(rows, s)
        (s.name, kept.filter(r => members(r._1)))
      }
    (for {
      (segName, segRows) <- segmented
      (cellKey, cell) <- segRows.groupBy { case (_, ms, _, dev, _) =>
        (truncBucket(ms, req.interval),
          if (req.breakdowns.contains("device")) Seq(dev) else Nil)
      }
    } yield {
      val vals = cell.map(_._5)
      val perUser = cell.groupBy(_._1)
      val metrics = block.queries.map {
        case NamedQuery(Query.CountEvents, n) => n -> cell.size.toDouble
        case NamedQuery(Query.CountUniqueGroups(None), n) =>
          n -> perUser.size.toDouble
        case NamedQuery(Query.AggregateProperty("value", f), n) =>
          n -> aggModel(f, vals)
        case NamedQuery(Query.CountPerGroup(o), n) =>
          n -> aggModel(o, perUser.values.map(_.size.toDouble).toSeq)
        case NamedQuery(Query.AggregatePropertyPerGroup("value", i, o), n) =>
          n -> aggModel(o, perUser.values.map(g => aggModel(i, g.map(_._5))).toSeq)
        case other => sys.error(s"unused query $other")
      }.toMap
      (segName, cellKey._1, cellKey._2) -> metrics
    }).toMap
  }

  /** Post-aggregation transforms over the raw model cells, mirroring
    * applyAnalysis (windows over PRESENT cells, ordered by bucket)
    * then applyCompare (<name>_prev from the transformed value one
    * offset earlier, column absent when that cell is missing). */
  private def transformModel(raw: Map[(String, Long, Seq[String]), Map[String, Double]],
                             req: EventSegmentationRequest)
      : Map[(String, Long, Seq[String]), Map[String, Double]] = {
    val metricNames = req.events.head.queries.map(_.name)
    val analyzed: Map[(String, Long, Seq[String]), Map[String, Double]] =
      req.analysis match {
        case Analysis.Linear => raw
        case a =>
          raw.groupBy { case ((seg, _, bds), _) => (seg, bds) }.flatMap {
            case (_, series) =>
              val ordered = series.toSeq.sortBy(_._1._2)
              ordered.zipWithIndex.map { case ((key, _), idx) =>
                val window = a match {
                  case Analysis.Cumulative        => ordered.take(idx + 1)
                  case Analysis.RollingAverage(w) => ordered.slice(idx - (w - 1) max 0, idx + 1)
                  case other                      => sys.error(s"unused analysis $other")
                }
                key -> metricNames.map { n =>
                  val xs = window.map(_._2(n))
                  n -> (a match {
                    case Analysis.Cumulative => xs.sum
                    case _                   => xs.sum / xs.size
                  })
                }.toMap
              }
          }
      }
    req.compare match {
      case None => analyzed
      case Some(Compare(offset, unit)) =>
        analyzed.map { case (key @ (seg, bucket, bds), m) =>
          val prev = analyzed.get((seg, bucket - offset * unit.millis, bds))
          key -> (m ++ prev.toSeq.flatMap(p =>
            metricNames.map(n => s"${n}_prev" -> p(n))))
        }
    }
  }

  private def num(v: Any): Double = v match {
    case null      => Double.NaN
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case d: Double => d
    case other     => sys.error(s"unexpected metric type $other")
  }

  test("random requests match the independent model exactly") {
    // Fixed seed/case-count for CI determinism; GRAFT_FUZZ_SEED /
    // GRAFT_FUZZ_CASES crank a deep exploratory session (any failure
    // prints the case context, so a found seed can be pinned here).
    var seed = rng.Seed(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
      .getOrElse(20260814L))
    val nCases = sys.env.get("GRAFT_FUZZ_CASES").map(_.toInt).getOrElse(8)
    def sample[A](g: Gen[A]): A = {
      val v = g.apply(Gen.Parameters.default, seed).getOrElse(sys.error("gen failed"))
      seed = seed.next
      v
    }
    for (caseNo <- 1 to nCases) {
      val rows = sample(streamGen)
      val df = eventsDf(rows)
      for (reqNo <- 1 to 4) {
        val req = sample(reqGen)
        val expected = transformModel(model(rows, req), req)
        val prevNames =
          if (req.compare.isEmpty) Nil
          else req.events.head.queries.map(q => s"${q.name}_prev")
        val got = EventSegmentation.run(df, req).collect().map { r =>
          val bucket = r.getAs[java.sql.Timestamp]("bucket").getTime
          val bds = req.breakdowns.map(b => r.getAs[String](b))
          val seg = if (req.segments.isEmpty) "all" else r.getAs[String]("segment")
          val metrics = (req.events.head.queries.map(_.name) ++ prevNames)
            .flatMap { n =>
              Option(r.getAs[Any](n)).map(v => n -> num(v)) // absent prev = null
            }.toMap
          (seg, bucket, bds) -> metrics
        }.toMap
        val ctx = s"case $caseNo.$reqNo req=$req"
        assert(got.keySet == expected.keySet,
          s"$ctx\ncells: got ${got.keySet.toSeq.sortBy(_.toString).mkString(",")} expected ${expected.keySet.toSeq.sortBy(_.toString).mkString(",")}")
        for ((key, exp) <- expected) {
          assert(got(key).keySet == exp.keySet,
            s"$ctx\ncell $key metric sets: got ${got(key).keySet} expected ${exp.keySet}")
          for ((m, ev) <- exp) {
            val gv = got(key)(m)
            assert(math.abs(gv - ev) <= 1e-9 * math.max(1.0, math.abs(ev)),
              s"$ctx\ncell $key metric $m: got $gv expected $ev")
          }
        }
      }
    }
  }
}
