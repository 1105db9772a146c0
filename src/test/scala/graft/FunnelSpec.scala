package graft

import graft.engine.Funnel
import graft.model.TimeIntervalUnit
import org.apache.spark.sql.functions._

/** Golden semantics cases for the funnel state machine — each pins one
  * behavior of the reference's per-user machine (SURVEY.md §2.5 /
  * reference funnel.rs DebugStep suite):
  * window-overflow flush+restart, exclude discard+reprocess,
  * holding-constant discard, Unique skip, NonUnique restart,
  * dropped_off arithmetic, bucketing by first-step ts.
  */
class FunnelSpec extends SparkTestBase {

  private val H = 3600L * 1000 // ms
  private def steps3 = Seq(
    col("event_type") === "A", col("event_type") === "B", col("event_type") === "C")

  /** run and index result by step -> (total, dropped_off). */
  private def run(rows: Seq[(Long, Long, String, String, Double)],
                  req: Funnel.Request): Map[Int, (Long, Long)] =
    Funnel.run(spark, eventsDf(rows), req).collect()
      .map(r => r.getAs[Int]("step") ->
        (r.getAs[Long]("total"), r.getAs[Long]("dropped_off"))).toMap

  test("simple 3-step completion with times") {
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "B", "ios", 1.0),
      (1L, 3000L, "C", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H)).collect()
    assert(out.length == 3)
    val byStep = out.map(r => r.getAs[Int]("step") -> r).toMap
    assert(byStep(1).getAs[Long]("total") == 1)
    assert(byStep(3).getAs[Long]("total") == 1)
    assert(byStep(1).getAs[Double]("conversion_ratio") == 100.0)
    assert(byStep(3).getAs[Double]("conversion_ratio") == 100.0)
    // times are µs: B-A = 1s, C-B = 2s; from start C-A = 3s
    assert(byStep(2).getAs[Double]("avg_time_to_convert") == 1e6)
    assert(byStep(3).getAs[Double]("avg_time_to_convert") == 2e6)
    assert(byStep(3).getAs[Double]("avg_time_to_convert_from_start") == 3e6)
  }

  test("window overflow flushes partial and restarts from current row") {
    // A opens; B arrives outside window -> partial(1 step) flushed, B
    // re-tested at step0 (no match); nothing else matches.
    val m = run(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 20000L, "B", "ios", 1.0),
      (1L, 21000L, "C", "ios", 1.0)),
      Funnel.Request(steps3, windowMs = 10000))
    assert(m(1) == ((1L, 0L)))
    assert(m(2) == ((0L, 1L))) // dropped_off = total[0]-total[1]
    assert(m(3) == ((0L, 0L)))
  }

  test("restart-from-current-row can begin a new attempt") {
    // second A both overflows the window AND starts the new attempt
    val m = run(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 20000L, "A", "ios", 1.0),
      (1L, 21000L, "B", "ios", 1.0),
      (1L, 22000L, "C", "ios", 1.0)),
      Funnel.Request(steps3, windowMs = 10000))
    assert(m(1) == ((2L, 0L))) // partial attempt + completed attempt
    assert(m(2) == ((1L, 1L)))
    assert(m(3) == ((1L, 0L)))
  }

  test("exclude event mid-funnel discards the attempt (not counted)") {
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "X", "ios", 1.0),
      (1L, 2000L, "B", "ios", 1.0),
      (1L, 3000L, "C", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H,
        exclude = Seq(Funnel.Exclude(col("event_type") === "X", 1, 2))))
    assert(out.isEmpty) // discarded attempt produces nothing at all
  }

  test("exclude then a fresh attempt later still completes") {
    val m = run(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "X", "ios", 1.0),
      (1L, 4000L, "A", "ios", 1.0),
      (1L, 5000L, "B", "ios", 1.0),
      (1L, 6000L, "C", "ios", 1.0)),
      Funnel.Request(steps3, windowMs = 10 * H,
        exclude = Seq(Funnel.Exclude(col("event_type") === "X", 1, 2))))
    assert(m(1) == ((1L, 0L)))
    assert(m(3) == ((1L, 0L)))
  }

  test("holding-constant violation discards the attempt") {
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "B", "android", 1.0),
      (1L, 2000L, "C", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H, constants = Seq("device")))
    assert(out.isEmpty)
  }

  test("holding-constant satisfied when values match") {
    val m = run(Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "B", "ios", 1.0),
      (1L, 2000L, "C", "ios", 1.0)),
      Funnel.Request(steps3, windowMs = 10 * H, constants = Seq("device")))
    assert(m(3) == ((1L, 0L)))
  }

  test("Unique counts one completion per user, NonUnique counts all") {
    val rows = Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1000L, "B", "ios", 1.0), (1L, 2000L, "C", "ios", 1.0),
      (1L, 3000L, "A", "ios", 1.0), (1L, 4000L, "B", "ios", 1.0), (1L, 5000L, "C", "ios", 1.0))
    val uniq = run(rows, Funnel.Request(steps3, windowMs = 10 * H, count = Funnel.Unique))
    assert(uniq(3) == ((1L, 0L)))
    val non = run(rows, Funnel.Request(steps3, windowMs = 10 * H, count = Funnel.NonUnique))
    assert(non(1) == ((2L, 0L)))
    assert(non(3) == ((2L, 0L)))
  }

  test("multi-user totals, ratios and dropped_off arithmetic") {
    // u1 completes, u2 reaches B, u3 only A
    val m = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1L, "B", "ios", 1.0), (1L, 2L, "C", "ios", 1.0),
      (2L, 0L, "A", "ios", 1.0), (2L, 1L, "B", "ios", 1.0),
      (3L, 0L, "A", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H)).collect()
      .map(r => r.getAs[Int]("step") -> r).toMap
    assert(m(1).getAs[Long]("total") == 3)
    assert(m(2).getAs[Long]("total") == 2)
    assert(m(3).getAs[Long]("total") == 1)
    assert(m(2).getAs[Long]("dropped_off") == 1)
    assert(m(3).getAs[Long]("dropped_off") == 1)
    assert(math.abs(m(2).getAs[Double]("conversion_ratio") - 66.6667) < 1e-3)
    assert(math.abs(m(3).getAs[Double]("drop_off_ratio") - 50.0) < 1e-9)
  }

  test("bucketing by first-step timestamp day") {
    val day = 24 * 3600L * 1000
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1000L, "B", "ios", 1.0), (1L, 2000L, "C", "ios", 1.0),
      // u2 starts on day 2 (first step ts decides the bucket even if
      // completion lands on day 3)
      (2L, day + 5000L, "A", "ios", 1.0),
      (2L, 2 * day + 1000L, "B", "ios", 1.0),
      (2L, 2 * day + 2000L, "C", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 3 * day, interval = Some(TimeIntervalUnit.Day)))
      .collect()
    val buckets = out.map(_.getAs[java.sql.Timestamp]("bucket").toInstant.toString).distinct.sorted.toSeq
    assert(buckets == Seq("1970-01-01T00:00:00Z", "1970-01-02T00:00:00Z"))
    assert(out.length == 6) // 2 buckets × 3 steps
  }

  test("breakdown groups key the result") {
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1000L, "B", "ios", 1.0), (1L, 2000L, "C", "ios", 1.0),
      (2L, 0L, "A", "android", 1.0), (2L, 1000L, "B", "android", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H, breakdowns = Seq("device")))
      .collect()
    val ios = out.filter(_.getAs[String]("device") == "ios")
      .map(r => r.getAs[Int]("step") -> r.getAs[Long]("total")).toMap
    val and = out.filter(_.getAs[String]("device") == "android")
      .map(r => r.getAs[Int]("step") -> r.getAs[Long]("total")).toMap
    assert(ios == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    assert(and == Map(1 -> 1L, 2 -> 1L, 3 -> 0L))
  }

  test("DropOffOnStep keeps exactly-n attempts; TimeToConvert windows") {
    val rows = Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1000L, "B", "ios", 1.0), (1L, 2000L, "C", "ios", 1.0),
      (2L, 0L, "A", "ios", 1.0), (2L, 1000L, "B", "ios", 1.0))
    val drop = run(rows, Funnel.Request(steps3, windowMs = 10 * H,
      filter = Some(Funnel.DropOffOnStep(1))))
    assert(drop(1) == ((1L, 0L))) // only u2's 2-step attempt survives
    assert(drop(2) == ((1L, 0L)))
    assert(drop(3) == ((0L, 1L)))
    val ttc = run(rows, Funnel.Request(steps3, windowMs = 10 * H,
      filter = Some(Funnel.TimeToConvert(0, 1500))))
    assert(ttc.isEmpty) // u1 converts in 2000 ms > 1500
    val ttc2 = run(rows, Funnel.Request(steps3, windowMs = 10 * H,
      filter = Some(Funnel.TimeToConvert(0, 2500))))
    assert(ttc2(3) == ((1L, 0L)))
  }

  test("Session counting converts once per inactivity-gap session") {
    val rows = Seq(
      // session 1: full conversion, plus a second A-B-C run inside the
      // SAME session that must NOT count again
      (1L, 0L, "A", "i", 1.0), (1L, 1000L, "B", "i", 1.0), (1L, 2000L, "C", "i", 1.0),
      (1L, 3000L, "A", "i", 1.0), (1L, 4000L, "B", "i", 1.0), (1L, 5000L, "C", "i", 1.0),
      // > 60s gap -> new session: converts again
      (1L, 100000L, "A", "i", 1.0), (1L, 101000L, "B", "i", 1.0), (1L, 102000L, "C", "i", 1.0))
    val sess = run(rows, Funnel.Request(steps3, windowMs = 10 * H,
      count = Funnel.Session(60000)))
    assert(sess(3) == ((2L, 0L))) // one per session
    val uniq = run(rows, Funnel.Request(steps3, windowMs = 10 * H, count = Funnel.Unique))
    assert(uniq(3) == ((1L, 0L)))
  }

  test("Touch selects which step's row supplies breakdown values") {
    val rows = Seq(
      (1L, 0L, "A", "ios", 1.0), (1L, 1000L, "B", "osx", 1.0), (1L, 2000L, "C", "android", 1.0))
    def device(touch: Funnel.Touch): String =
      Funnel.run(spark, eventsDf(rows), Funnel.Request(steps3, windowMs = 10 * H,
        breakdowns = Seq("device"), touch = touch))
        .filter(col("step") === 3).collect()(0).getAs[String]("device")
    assert(device(Funnel.TouchFirst) == "ios")
    assert(device(Funnel.TouchLast) == "android")
    assert(device(Funnel.TouchStep(1)) == "osx")
  }

  test("input order does not matter (sortWithinPartitions restores time order)") {
    val m = run(Seq(
      (1L, 2000L, "C", "ios", 1.0),
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "B", "ios", 1.0)),
      Funnel.Request(steps3, windowMs = 10 * H))
    assert(m(3) == ((1L, 0L)))
  }

  test("minute buckets follow the first-step minute (reference test_1min_buckets)") {
    // reference scenario: steps at 11:10, 11:12, 11:13 within a
    // 15-minute window, bucketed per minute of the first step
    val base = 11 * 3600L * 1000 + 10 * 60L * 1000 // 11:10 on day 0
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, base, "A", "i", 1.0),
      (1L, base + 2 * 60000L, "B", "i", 1.0),
      (1L, base + 3 * 60000L, "C", "i", 1.0))),
      Funnel.Request(steps3, windowMs = 15 * 60000L,
        interval = Some(TimeIntervalUnit.Minute))).collect()
    val buckets = out.map(_.getAs[java.sql.Timestamp]("bucket").toInstant.toString).distinct.toSeq
    assert(buckets == Seq("1970-01-01T11:10:00Z"))
    assert(out.count(_.getAs[Long]("total") == 1) == 3)
  }

  test("zero-step users produce no rows at all") {
    val out = Funnel.run(spark, eventsDf(Seq(
      (1L, 0L, "Z", "ios", 1.0), (2L, 10L, "B", "ios", 1.0))),
      Funnel.Request(steps3, windowMs = 10 * H))
    assert(out.isEmpty)
  }

  test("bot cap excludes pathological users before the per-user shuffle") {
    // user 1 = bot with 1000 events; user 2 = a normal converter
    val bot = (0 until 1000).map(i => (1L, i * 1000L, "A", "ios", 1.0))
    val normal = Seq((2L, 0L, "A", "ios", 1.0), (2L, 1000L, "B", "ios", 1.0),
      (2L, 2000L, "C", "ios", 1.0))
    val req = Funnel.Request(steps3, windowMs = 10 * H,
      maxEventsPerUser = Some(100L))
    val m = run(bot ++ normal, req)
    assert(m(1) == ((1L, 0L)) && m(3) == ((1L, 0L))) // only user 2 counted
    // uncapped, the bot contributes a step-1 attempt
    assert(run(bot ++ normal, req.copy(maxEventsPerUser = None))(1)._1 == 2L)
  }

  test("skew guard: hot-user cap bounds the machine stage (stage-listener proof)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // Bench-scale synthetic corpus: 500k background events over 2000
    // converting users, plus ONE 1M-event hot user (bot/test rig) —
    // the exact population that serializes the per-user machine stage
    // into a single straggler task at 100 TB if nothing intervenes.
    val nUsers = 2000L
    val perUser = 250L
    val background = spark.range(nUsers * perUser).select(
      (col("id") % nUsers + 2L).as("user_id"),
      timestamp_micros(expr(s"id div $nUsers") * 60000000L + (col("id") % nUsers) * 1000L).as("ts"),
      col("id").as("event_id"),
      when(expr(s"id div $nUsers") % 3 === 0, "A")
        .when(expr(s"id div $nUsers") % 3 === 1, "B").otherwise("C").as("event_type"))
    val hot = spark.range(1000000L).select(
      lit(1L).as("user_id"),
      timestamp_micros(col("id") * 1000L).as("ts"),
      (col("id") + 10000000L).as("event_id"),
      lit("A").as("event_type"))
    val events = background.unionByName(hot)

    // (stageId, taskDurationMs, shuffleReadRecords) per finished task.
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          tasks.add((e.stageId, e.taskInfo.duration,
            e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    def measure(req: Funnel.Request): (Seq[Long], Seq[Long], Long) = {
      tasks.clear()
      spark.sparkContext.addSparkListener(listener)
      val total =
        try {
          val out = Funnel.run(spark, events, req).collect()
          // the listener bus drains asynchronously — wait for quiescence
          var last = -1; var stable = 0
          while (stable < 3) {
            Thread.sleep(100)
            val n = tasks.size
            if (n == last) stable += 1 else { stable = 0; last = n }
          }
          out.find(_.getAs[Int]("step") == 1).map(_.getAs[Long]("total")).getOrElse(0L)
        } finally spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      // the machine stage = the stage that shuffle-read the most records
      // (the repartition(user) read feeding mapPartitions)
      val byStage = tasks.asScala.toSeq.groupBy(_._1).values
        .maxBy(_.map(_._3).sum)
      (byStage.map(_._3).toSeq, byStage.map(_._2).toSeq, total)
    }

    val capped = Funnel.Request(steps3, windowMs = Long.MaxValue / 4000L,
      maxEventsPerUser = Some(100000L))
    val (recs, durs, total) = measure(capped)
    // every background user converts (multiple attempts per user under
    // Unique still count per-attempt at step 1); the bot is excluded
    assert(total >= nUsers, s"step-1 attempts: $total")
    // BOUNDED max task: with the hot user excluded before the shuffle,
    // no task may read more than ~its fair share of the machine stage
    // (4 shuffle partitions over 500k rows → ~125k each; 2.5x covers
    // hash imbalance, never a 1M-row straggler).
    val sum = recs.sum
    assert(sum >= 400000L, s"machine stage unexpectedly small: $recs")
    assert(recs.max <= sum / recs.size * 5 / 2, s"skewed machine stage: $recs")
    // max task TIME bounded too (generous absolute ceiling — the
    // records assertion above is the deterministic skew proof; this
    // pins that no straggler task ran away on the clock)
    assert(durs.max < 60000L, s"machine-stage task ran ${durs.max} ms: $durs")

    // Control: uncapped, the SAME listener sees the single-task pile-up
    // (1M of ~1.5M records in one task) — proving the measurement
    // catches exactly the skew the cap removes.
    val (recsU, _, totalU) = measure(capped.copy(maxEventsPerUser = None))
    assert(totalU == total + 1) // the bot's single step-1 attempt now counts
    assert(recsU.max >= (recsU.sum * 3) / 5, s"expected hot-user skew: $recsU")
  }

  test("a funnel plans two shuffles and finishes on one partition") {
    // the per-user exchange and the (keys, step) aggregate's; the
    // window, ratios and order run in the aggregate's last stage
    val rows = for (u <- 1L to 6L; (e, i) <- Seq("A", "B", "C").zipWithIndex)
      yield (u, u * 24 * H + i * 1000L, e, if (u % 2 == 0) "ios" else "android", 1.0)
    val day = Some(TimeIntervalUnit.Day)
    for (req <- Seq(
        Funnel.Request(steps3, windowMs = 10 * H),
        Funnel.Request(steps3, windowMs = 10 * H, interval = day),
        Funnel.Request(steps3, windowMs = 10 * H, interval = day, breakdowns = Seq("device")))) {
      val out = Funnel.run(spark, eventsDf(rows), req)
      assert(out.collect().nonEmpty)
      val plan = out.queryExecution.executedPlan
      val shuffles = shuffleExchanges(plan)
      assert(shuffles.size == 2, plan)
      assert(!shuffles.exists(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]), plan)
    }
  }

  test("funnel rows come back ordered by (bucket, breakdowns, step)") {
    // 4 day buckets × 2 devices × 3 steps: groups spread over the
    // session's shuffle partitions before the final order
    val rows = for (d <- 0L until 4L; u <- 1L to 4L;
                    (e, i) <- Seq("A", "B", "C").zipWithIndex if i <= u % 3)
      yield (d * 10 + u, d * 24 * H + i * 1000L, e, if (u % 2 == 0) "ios" else "android", 1.0)
    val out = Funnel.run(spark, eventsDf(rows), Funnel.Request(steps3, windowMs = 10 * H,
      interval = Some(TimeIntervalUnit.Day), breakdowns = Seq("device"))).collect().toSeq
    assert(out.size == 4 * 2 * 3)
    val sorted = out.sortBy(r => (r.getAs[java.sql.Timestamp]("bucket").getTime,
      r.getAs[String]("device"), r.getAs[Int]("step")))
    assert(out == sorted)
  }

  test("any-order golden pair: set semantics vs reference positional matching") {
    // group {A,B} in any order, then C. User sees A, A, C: under SET
    // semantics the second A cannot fill B's slot (distinct events per
    // slot) — the funnel stalls at 1 completed step; under the
    // reference's POSITIONAL matching (funnel.rs:608-620) any row
    // matching A-or-B advances the current position, so A fills both
    // slots and C completes the funnel.
    val rows = Seq(
      (1L, 0L, "A", "ios", 1.0),
      (1L, 1000L, "A", "ios", 1.0),
      (1L, 2000L, "C", "ios", 1.0))
    val base = Funnel.Request(steps3, windowMs = 10 * H,
      anyOrderGroups = Seq((0, 1)))
    val set = run(rows, base)
    assert(set(1) == ((1L, 0L)) && set(2) == ((0L, 1L)) && set(3) == ((0L, 0L)))
    val positional = run(rows, base.copy(anyOrderPositional = true))
    assert(positional(1) == ((1L, 0L)) && positional(2) == ((1L, 0L)) &&
      positional(3) == ((1L, 0L)))
    // a genuinely mixed A,B fill behaves identically in both modes
    val mixed = Seq(
      (2L, 0L, "B", "ios", 1.0),
      (2L, 1000L, "A", "ios", 1.0),
      (2L, 2000L, "C", "ios", 1.0))
    assert(run(mixed, base) == run(mixed, base.copy(anyOrderPositional = true)))
  }
}
