package graft

import graft.engine.{Exprs, Tables}
import graft.model.QueryTime
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Time filters must reach the parquet scan as pushed predicates —
  * natively when the fixture carries a real timestamp column, and via
  * graft.plans.NsTimeFilterPushdown when the source stores raw ns
  * longs (TIMESTAMP(NANOS) parquet) or TIMESTAMP_NTZ behind the
  * loader's cast-to-TIMESTAMP. Either way the filter must never
  * change results at window boundaries. */
class PushdownSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def leafScan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().head.toString

  private def withTempDir[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "pushdown")
    try f(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("time filter reaches the parquet scan as pushed bounds with exact literals") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val filtered = ev.filter(Exprs.timePredicate(col("ts"),
      QueryTime.Between(ts("2024-01-05T00:00:00Z"), ts("2024-01-10T00:00:00Z"))))
    val scan = leafScan(filtered)
    val pushed = scan.split("PushedFilters:").lift(1).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts,"), scan)
    assert(pushed.contains("LessThanOrEqual(ts,"), scan)
    // The bound VALUES must be the requested window, not merely some
    // bounds (a wrong-but-pushed literal must fail here). Rendering
    // differs by physical type (ns epoch long vs timestamp string), so
    // accept either exact encoding of the same instant.
    val loOk = pushed.contains("GreaterThanOrEqual(ts,1704412800000000000)") ||
      pushed.contains("GreaterThanOrEqual(ts,2024-01-05T00:00")
    val hiOk = pushed.contains("LessThanOrEqual(ts,1704844800000000999)") ||
      pushed.contains("LessThanOrEqual(ts,2024-01-10T00:00")
    assert(loOk && hiOk, scan)
  }

  test("ns-long sources get raw ns bounds via NsTimeFilterPushdown") {
    import spark.implicits._
    withTempDir { dir =>
      // A raw ns-long ts column, as Tables.events sees TIMESTAMP(NANOS)
      // parquet under spark.sql.legacy.parquet.nanosAsLong.
      val base = 1704412800000000000L // 2024-01-05T00:00:00Z in ns
      (0L until 64L).map(i => (i, base + i * 3600L * 1000000000L))
        .toDF("event_id", "ts").write.mode("overwrite").parquet(dir)
      Sessions.install(spark)
      val raw = spark.read.parquet(dir)
      assert(raw.schema("ts").dataType == LongType)
      val ev = raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val filtered = ev.filter(Exprs.timePredicate(col("ts"),
        QueryTime.Between(ts("2024-01-05T12:00:00Z"), ts("2024-01-06T12:00:00Z"))))
      val scan = leafScan(filtered)
      assert(scan.contains("GreaterThanOrEqual(ts,1704456000000000000)"), scan)
      assert(scan.contains("LessThanOrEqual(ts,1704542400000000999)"), scan)
      assert(filtered.count() == 25L) // 12:00 .. 12:00 next day, hourly
    }
  }

  test("TIMESTAMP_NTZ sources get raw NTZ bounds through the loader cast") {
    import spark.implicits._
    withTempDir { dir =>
      val base = 1704412800000000L // 2024-01-05T00:00:00Z in µs
      (0L until 64L).map(i => (i, base + i * 3600L * 1000000L))
        .toDF("event_id", "us")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us")
        .write.mode("overwrite").parquet(dir)
      Sessions.install(spark)
      val raw = spark.read.parquet(dir)
      assert(raw.schema("ts").dataType == TimestampNTZType)
      // Same normalization Tables.events applies for NTZ files.
      val ev = raw.withColumn("ts", col("ts").cast("timestamp"))
      val filtered = ev.filter(Exprs.timePredicate(col("ts"),
        QueryTime.Between(ts("2024-01-05T12:00:00Z"), ts("2024-01-06T12:00:00Z"))))
      val scan = leafScan(filtered)
      val pushed = scan.split("PushedFilters:").lift(1).getOrElse("")
      assert(pushed.contains("GreaterThanOrEqual(ts,2024-01-05T12:00"), scan)
      assert(pushed.contains("LessThanOrEqual(ts,2024-01-06T12:00"), scan)
      assert(filtered.count() == 25L)
      // unix_micros must work on the normalized column (the regression
      // that silently dropped 15 queries in round 9's verify).
      val us = ev.select(unix_micros(col("ts")).as("us")).agg(min("us")).head.getLong(0)
      assert(us == base)
    }
  }

  test("date-partitioned stores prune whole partitions from a time filter") {
    import spark.implicits._
    withTempDir { dir =>
      // three day-partitions of hourly events, the layout the
      // streaming sink writes (event_date=YYYY-MM-DD/)
      val rows = for {
        d <- 5 to 7; h <- 0 until 24
      } yield (s"2024-01-0$d", java.sql.Timestamp.from(
        java.time.Instant.parse(f"2024-01-0$d%dT$h%02d:00:00Z")))
      rows.toDF("event_date", "ts")
        .withColumn("event_date", to_date(col("event_date")))
        .write.partitionBy("event_date").mode("overwrite").parquet(dir)
      val ev = spark.read.parquet(dir)
      val qt = QueryTime.Between(ts("2024-01-06T06:00:00Z"), ts("2024-01-07T06:00:00Z"))
      val pruned = ev.filter(Exprs.timePredicateWithPartitionPruning(
        col("ts"), col("event_date"), qt))
      val scan = leafScan(pruned)
      val pf = scan.split("PartitionFilters:").lift(1).getOrElse("")
      assert(pf.contains("event_date"), scan)
      assert(pf.contains("2024-01-06") || pf.contains("19728"), scan) // rendered or epoch-day
      // identical results to the plain ts predicate: the date bounds
      // are implied, never narrowing
      val plain = ev.filter(Exprs.timePredicate(col("ts"), qt)).count()
      assert(pruned.count() == plain && plain == 25L)
      // and the pruned scan must actually read fewer partitions: day 5
      // cannot appear among the scanned files
      val files = pruned.queryExecution.executedPlan.collectLeaves()
        .head.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
        .relation.location.listFiles(
          pruned.queryExecution.executedPlan.collectLeaves().head
            .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
            .partitionFilters,
          Nil)
        .flatMap(_.files.map(_.getPath.toString))
      assert(files.nonEmpty && !files.exists(_.contains("event_date=2024-01-05")), files)
    }
  }

  test("pushdown conjuncts do not change results at boundaries") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val from = ts("2024-01-05T00:00:00Z"); val to = ts("2024-01-10T00:00:00Z")
    val n1 = ev.filter(Exprs.timePredicate(col("ts"), QueryTime.Between(from, to))).count()
    // Ground truth computed WITHOUT Column comparison semantics: pull
    // every raw ts as epoch-µs and count in plain Scala against the
    // window's epoch-µs bounds (inclusive both ends, as the reference's
    // Between is; ns values floor-truncate to µs first).
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val usValues: Seq[Long] = raw.schema("ts").dataType match {
      case LongType =>
        raw.select(col("ts")).collect().toSeq.map(r => Math.floorDiv(r.getLong(0), 1000L))
      case TimestampNTZType =>
        raw.select(col("ts")).collect().toSeq
          .map(r => java.time.Duration.between(
            java.time.LocalDateTime.of(1970, 1, 1, 0, 0),
            r.getAs[java.time.LocalDateTime](0)).toNanos / 1000L)
      case _ =>
        raw.select(col("ts")).collect().toSeq
          .map(r => r.getTimestamp(0).toInstant.toEpochMilli * 1000L +
            (r.getTimestamp(0).getNanos / 1000L) % 1000L)
    }
    val fromUs = from.getTime * 1000L; val toUs = to.getTime * 1000L
    val n2 = usValues.count(us => us >= fromUs && us <= toUs).toLong
    assert(n1 == n2 && n1 > 0L)
  }

  test("engine paths inherit PartitionFilters through the canonical layout") {
    import graft.model._
    // The bench-path store: the per-process staged mirror the driver
    // queries read (q_es_count, q_funnel, q_partition_prune).
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.eventsWithDate(spark, dir)
    // The segmentation engine's own filter construction must produce a
    // partition-pruning scan — the same shape q_es_count runs.
    val req = EventSegmentationRequest(
      time = QueryTime.Between(ts("2024-01-10T00:00:00Z"), ts("2024-01-12T00:00:00Z")),
      interval = TimeIntervalUnit.Day,
      events = Seq(EventBlock(None,
        queries = Seq(NamedQuery(Query.CountEvents, "cnt")))))
    val out = graft.engine.EventSegmentation.run(ev, req)
    // AQE wraps aggregated plans — walk through AdaptiveSparkPlanExec
    // to reach the actual file scan.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(out.queryExecution.executedPlan).head
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("event_date"), scan.toString)
    // and the pruned listing must actually touch fewer files: only the
    // three queried days may appear (inclusive date bounds).
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty, scan.toString)
    val allowed = Set("2024-01-10", "2024-01-11", "2024-01-12")
    val days = files.flatMap(f =>
      "event_date=([0-9-]+)".r.findFirstMatchIn(f).map(_.group(1)))
    assert(days.nonEmpty && days.forall(allowed), days.toString)
    // identical results to the flat read
    val flatReq = out.collect().map(_.toString).sorted.toSeq
    val flat = graft.engine.EventSegmentation.run(Tables.events(spark, dir), req)
      .collect().map(_.toString).sorted.toSeq
    assert(flatReq == flat)
  }

  test("tenant is the leading partition dimension: both filters prune directories") {
    import spark.implicits._
    withTempDir { dir =>
      // Two tenants × three days — the q_tenant_prune store shape
      // (project = user_id % 2 + 1), written through the canonical
      // writer so the layout is project_id=N/event_date=D/.
      val rows = for { u <- 0L until 8L; d <- 5 to 7; h <- 0 until 4 }
        yield (u * 100 + d * 10 + h, u, u % 2 + 1,
          java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-0$d%dT$h%02d:00:00Z")))
      val store = new java.io.File(dir, "store").getAbsolutePath
      graft.sources.Store.writeEvents(
        rows.toDF("event_id", "user_id", "project_id", "ts"), store)
      // leading tenant dirs, day dirs inside them
      assert(new java.io.File(store, "project_id=1/event_date=2024-01-05").isDirectory)
      val ev = spark.read.parquet(store)
      val qt = QueryTime.Between(ts("2024-01-06T00:00:00Z"), ts("2024-01-07T00:00:00Z"))
      val pruned = graft.engine.Exprs.tenantScope(ev, Some(2L))
        .filter(Exprs.timePredicateWithPartitionPruning(col("ts"), col("event_date"), qt))
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .head.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      val pf = scan.partitionFilters.mkString(";")
      assert(pf.contains("project_id") && pf.contains("event_date"), pf)
      // the listing must touch ONLY tenant 2's queried days
      val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
        .flatMap(_.files.map(_.getPath.toString))
      assert(files.nonEmpty, scan.toString)
      assert(files.forall(_.contains("project_id=2")), files.toString)
      assert(!files.exists(_.contains("event_date=2024-01-05")), files.toString)
      // pruning never changes results vs the flat predicates
      val flat = ev.filter(Exprs.timePredicate(col("ts"), qt))
        .filter(col("project_id") === 2L).count()
      assert(pruned.count() == flat && flat > 0L)
    }
  }

  test("the staged canonical mirror carries project_id=1 as its leading dimension") {
    val dir = "/root/testdata/sf0.001"
    val root = Tables.eventsPartitionedRoot(spark, dir)
    // single-project source stages under the reference's first
    // project id, so the layout shape is invariant
    assert(new java.io.File(root).listFiles().exists(_.getName == "project_id=1"), root)
    val ev = Tables.eventsWithDate(spark, dir)
    assert(ev.columns.contains("project_id") && ev.columns.contains("event_date"))
    // scoping to the only tenant is a no-op on results but lands on
    // the partition column
    val scoped = graft.engine.Exprs.tenantScope(ev, Some(1L))
    assert(scoped.count() == Tables.events(spark, dir).count())
    // and the canonical store gives tenancy REAL semantics: scoping to
    // an absent tenant is empty, not vacuous (the flat table, with no
    // project_id column at all, stays vacuously unscoped)
    assert(graft.engine.Exprs.tenantScope(ev, Some(2L)).count() == 0L)
    assert(graft.engine.Exprs.tenantScope(
      Tables.events(spark, dir), Some(2L)).count() > 0L)
  }

  test("Tables.events prefers a maintained events_by_date sibling") {
    import spark.implicits._
    withTempDir { dir =>
      val rows = (0 until 48).map(i => (i.toLong, 100L + i,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-03-${1 + i / 24}%02dT${i % 24}%02d:00:00Z"))))
      // the INGEST-side writer maintains the sibling (Store.writeEvents
      // emits exactly the event_date= layout Tables routes to)
      graft.sources.Store.writeEvents(
        rows.toDF("event_id", "user_id", "ts"),
        new java.io.File(dir, "events_by_date").getAbsolutePath)
      // no flat events.parquet exists — the sibling IS the table
      val ev = Tables.events(spark, dir)
      assert(!ev.columns.contains("event_date")) // flat schema preserved
      assert(ev.count() == 48L)
      assert(ev.select(min(col("event_id")), max(col("user_id"))).head ==
        org.apache.spark.sql.Row(0L, 147L))
      // and the partitioned road reads the same store
      assert(Tables.eventsPartitionedRoot(spark, dir)
        == new java.io.File(dir, "events_by_date").getAbsolutePath)
    }
  }

  test("appended batches extend the canonical layout without rewriting history") {
    import spark.implicits._
    withTempDir { dir =>
      val store = new java.io.File(dir, "events_by_date").getAbsolutePath
      def batch(ids: Range, day: Int) = ids.map(i => (i.toLong, 100L + i,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-03-0${day}%dT${i % 24}%02d:00:00Z")))).toDF("event_id", "user_id", "ts")
      graft.sources.Store.writeEvents(batch(0 until 24, 1).union(batch(24 until 48, 2)), store)
      def filesOf(day: Int): Set[String] = {
        val d = new java.io.File(store, s"event_date=2024-03-0$day")
        Option(d.listFiles()).map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet)
          .getOrElse(Set.empty)
      }
      val day1Before = filesOf(1)
      assert(day1Before.nonEmpty)
      // daily batch: more rows for day 2, a brand-new day 3
      graft.sources.Store.appendEvents(
        batch(48 until 60, 2).union(batch(60 until 84, 3)), store)
      assert(filesOf(1) == day1Before) // cold history untouched
      assert(filesOf(3).nonEmpty)      // new day appeared
      assert(Tables.events(spark, dir).count() == 84L)
      // small-file buildup folds per leaf, readers see the same rows
      graft.sources.Compact.runPartitioned(spark, store)
      assert(Tables.events(spark, dir).count() == 84L)
      assert(Tables.events(spark, dir).select(sum(col("event_id"))).head.getLong(0)
        == (0L until 84L).sum)
    }
  }
}
