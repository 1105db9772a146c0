package graft.engine

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event segmentation: the Spark build of the reference's flagship
  * query (reference query/src/event_segmentation.rs:245-454 assembles a
  * 14-node plan: Segment inputs → Filter → PartitionedAggregatePartial/
  * Final → Unpivot → Pivot → RenameColumnRows → AggregateAndSortColumns
  * → LimitGroups → Merge → ReorderColumns → RenameColumns).
  *
  * Here the whole pipeline is declarative DataFrame ops over ONE
  * events scan ([[runFused]]): every row explodes into the
  * (segment × block) cells it belongs to, one aggregate keyed by
  * (bucket, breakdowns, cell) computes every metric, and one
  * projection shapes the long-form output — the analog of the
  * reference's SegmentedAggregate node. Spark's partial/final
  * aggregation replaces the reference's two-node split, and the
  * shuffle on the group keys replaces its single-partition
  * "HashPartitioned(project, user)" declared-but-unused distribution
  * (reference segmented_aggregate.rs:227-251).
  *
  * Scale notes (100 TB): one-level metrics are a single shuffle with
  * map-side combine. Two-level (per-user) metrics shuffle once on
  * (bucket, breakdowns, cell, user) — high cardinality, so it
  * parallelizes — then re-aggregate the (much smaller) per-user
  * partials; AQE coalesces the second exchange. A request mixing
  * per-user metrics with ones that have no per-user partial (median,
  * percentile, distinct counts of a property) adds one one-level
  * aggregate over the same cells, joined on the cell key.
  */
object EventSegmentation {

  val TsCol = "ts"
  val UserCol = "user_id"
  val EventCol = "event_type"

  /** One aggregate function over a column — used at either level of
    * the per-user metrics and for one-level property metrics. */
  private def aggFn(fn: AggFn, c: Column): Column = fn match {
    case AggFn.Count          => count(c)
    case AggFn.Sum            => sum(c)
    case AggFn.Min            => min(c)
    case AggFn.Max            => max(c)
    case AggFn.Avg            => avg(c)
    case AggFn.Median         => median(c)
    case AggFn.Percentile(p)  => percentile_approx(c, lit(p), lit(10000))
    case AggFn.DistinctCount  => count_distinct(c)
    case AggFn.ApproxDistinctCount(rsd) => approx_count_distinct(c, rsd)
  }

  /** Request normalization (reference `fix_request`,
    * query/src/event_segmentation.rs:962-997 and
    * platform/src/event_segmentation.rs:45-95): blocks without metrics
    * default to CountEvents, breakdowns deduplicate, segments
    * deduplicate by name. */
  def fixRequest(req: EventSegmentationRequest): EventSegmentationRequest = {
    val fixedBlocks = req.events.map { b =>
      val qs = if (b.queries.isEmpty)
        Seq(NamedQuery(Query.CountEvents, "count")) else b.queries
      b.copy(queries = qs, breakdowns = b.breakdowns.distinct)
    }
    req.copy(
      events = fixedBlocks,
      breakdowns = req.breakdowns.distinct,
      segments = req.segments
        .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name))
  }

  /** Full request → long-form result:
    * (segment, event, bucket, breakdowns..., metrics...).
    * Multi-event blocks merge by name, another block's metric columns
    * null — the Spark analog of the reference's schema-merging MergeNode
    * (reference query/src/logical_plan/merge.rs:21).
    *
    * Execution: [[runFused]] — ONE events scan computes every
    * (segment × block × metric), and segment membership is one
    * groupBy(user) flag pass ([[Segments.membershipFlags]]). */
  def run(events0: DataFrame, req: EventSegmentationRequest): DataFrame = {
    require(req.events.nonEmpty,
      "request needs at least one event block (fixRequest defaults empty metrics, not empty blocks)")
    val events = Exprs.tenantScope(events0, req.projectId)
    applyCompare(applyAnalysis(runFused(events, req), req), req)
  }

  /** Every breakdown column present in the long-form output —
    * request-level plus block-level (each masked to null outside the
    * blocks that own it). */
  private def allBreakdowns(req: EventSegmentationRequest): Seq[String] =
    (req.breakdowns ++ req.events.flatMap(_.breakdowns)).distinct

  /** Post-aggregation series transforms over the long-form result —
    * windows partitioned by (segment, event, breakdowns) ordered by
    * bucket, all result-sized. The reference's DTO declares Analysis
    * and Compare but its query crate never computes them; these are
    * the real implementations. */
  private def applyAnalysis(df: DataFrame, req: EventSegmentationRequest): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val metricNames = req.events.flatMap(_.queries.map(_.name)).distinct
      .filter(df.columns.contains)
    lazy val w = Window
      .partitionBy((Seq("segment", "event") ++ allBreakdowns(req)).map(col): _*)
      .orderBy(col("bucket"))
    req.analysis match {
      case Analysis.Linear => df
      case Analysis.Cumulative =>
        metricNames.foldLeft(df)((acc, n) => acc.withColumn(n,
          sum(col(n)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      case Analysis.RollingAverage(win) =>
        metricNames.foldLeft(df)((acc, n) => acc.withColumn(n,
          avg(col(n)).over(w.rowsBetween(-(win - 1).toLong, Window.currentRow))))
      case Analysis.Logarithmic =>
        metricNames.foldLeft(df)((acc, n) => acc.withColumn(n, log(col(n))))
    }
  }

  /** Period-over-period: each metric gains a `<name>_prev` column with
    * its value `offset` units earlier — a self-join of the
    * result-sized frame on the shifted bucket. Calendar units shift by
    * calendar arithmetic (a +31d month shift would never land on a
    * month-truncated bucket); fixed units shift by duration. */
  private def applyCompare(df: DataFrame, req: EventSegmentationRequest): DataFrame =
    req.compare match {
      case None => df
      case Some(Compare(offset, unit)) =>
        val metricNames = req.events.flatMap(_.queries.map(_.name)).distinct
          .filter(df.columns.contains)
        val keys = Seq("segment", "event") ++ allBreakdowns(req)
        // calendar interval addition preserves time-of-day (add_months
        // would cast to DATE and break sub-day intervals)
        val shiftedBucket = unit match {
          case TimeIntervalUnit.Month =>
            col("bucket") + expr(s"INTERVAL $offset MONTH")
          case TimeIntervalUnit.Year =>
            col("bucket") + expr(s"INTERVAL ${offset * 12} MONTH")
          case u =>
            timestamp_millis(unix_millis(col("bucket")) + offset * u.millis)
        }
        val shifted = df.select(
          (keys.map(col) :+ shiftedBucket.as("bucket")) ++
            metricNames.map(n => col(n).as(s"${n}_prev")): _*)
        // null-safe key equality: block-private breakdown columns are
        // null on other blocks' rows (and breakdown values may be
        // null), which a using-column join would never match
        val l = df.alias("l")
        val r = shifted.alias("r")
        val cond = (keys :+ "bucket")
          .map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
        l.join(r, cond, "left").select(
          df.columns.map(c => col(s"l.$c")) ++
            metricNames.map(n => col(s"r.${n}_prev").as(s"${n}_prev")): _*)
    }

  /** Stable internal column key for a metric spec, so identical specs
    * across blocks share one aggregate buffer. */
  private def fnKey(f: AggFn): String = f match {
    case AggFn.Percentile(p)           => s"pct${(p * 10000).toLong}"
    case AggFn.ApproxDistinctCount(r)  => s"adc${(r * 10000).toLong}"
    case other                         => other.toString.toLowerCase
  }
  private def specKey(q: Query): String = q match {
    case Query.CountEvents                       => "__s_cnt"
    case Query.CountUniqueGroups(_)              => "__s_du"
    case Query.AggregateProperty(p, f)           => s"__s_a_${fnKey(f)}_$p"
    case Query.CountPerGroup(f)                  => s"__s_cpg_${fnKey(f)}"
    case Query.AggregatePropertyPerGroup(p, i, o) => s"__s_apg_${fnKey(o)}_${fnKey(i)}_$p"
    case Query.Formula(_)                        => sys.error("formula has no spec")
  }

  /** Fused execution — the one event-segmentation plan: ONE events
    * scan for any number of blocks and segments. Each input row is
    * EXPLODED into the (segment × block) cells it belongs to before
    * aggregation (amplification ≤ cells, slim payload, map-side
    * combine), one aggregate runs keyed by
    * (bucket, breakdowns, cell), and the long-form output shape is a
    * single projection with per-block when-chains — no union, so the
    * aggregate subplan is never duplicated by branch pruning. The
    * reference evaluates all segments/metrics in one pass the same
    * way (its SegmentedAggregate node). The scan filter keeps the
    * time range AND the OR of block predicates, so single-block
    * requests push down the block's own predicate. Segment
    * membership is one groupBy(user) flag pass
    * ([[Segments.membershipFlags]]) joined on the group key. */
  private def runFused(events: DataFrame, req: EventSegmentationRequest): DataFrame = {
    val blocks = req.events
    val blockPreds = blocks.map(b => Exprs.and(
      b.eventName.map(Exprs.eventPredicate(col(EventCol), _)).toSeq ++
        b.customEvent.map(Exprs.customEventPredicate(col(EventCol), _)).toSeq ++
        b.filters.map(Exprs.propPredicate)))

    val (withFlags, segFlags, segNames) =
      if (req.segments.isEmpty) (events, Seq(lit(true)), Seq("all"))
      else {
        val flags = Segments.membershipFlags(
          events, req.segments, req.time, req.groupCol, TsCol, EventCol)
        (events.join(flags, Seq(req.groupCol)),
          req.segments.indices.map(i => col(s"__seg_$i")),
          req.segments.map(_.name))
      }

    val scanPred = Exprs.and(
      Seq(Exprs.timePredicateFor(withFlags, TsCol, req.time)) ++
        req.filters.map(Exprs.propPredicate) :+
        blockPreds.reduce(_ || _))
    val filtered = withFlags.filter(scanPred)

    // explode each row into its matching cells: a group for cell
    // (si, bi) then exists iff the cell matched ≥1 row, so empty
    // buckets are omitted
    val cellStructs = for {
      (sf, si) <- segFlags.zipWithIndex
      (bp, bi) <- blockPreds.zipWithIndex
    } yield when(sf && bp, struct(lit(si).as("si"), lit(bi).as("bi")))
    val exploded = filtered
      .withColumn("__cell",
        explode(filter(array(cellStructs: _*), c => c.isNotNull)))
      .withColumn("__si", col("__cell.si"))
      .withColumn("__bi", col("__cell.bi"))

    val bucketCol = Exprs.bucket(col(TsCol), req.interval).as("bucket")
    // union of request + block-private breakdowns, MASKED per cell: a
    // block groups only by its own breakdowns, so another block's
    // private breakdown column must read null in this block's cells —
    // otherwise an unrelated column would split its groups.
    val bds = allBreakdowns(req)
    val bdKeyCols = bds.map { c =>
      val owners = blocks.zipWithIndex.collect {
        case (b, bi) if (req.breakdowns ++ b.breakdowns).contains(c) => bi
      }
      val kc = if (owners.size == blocks.size) col(c)
               else when(col("__bi").isin(owners: _*), col(c))
      kc.as(c)
    }
    val keys = (bucketCol +: bdKeyCols) ++ Seq(col("__si"), col("__bi"))
    val keyNames = ("bucket" +: bds) ++ Seq("__si", "__bi")

    val aggQs = blocks.flatMap(_.queries).map(_.query)
      .filterNot(_.isInstanceOf[Query.Formula]).distinctBy(specKey)
    val anyInner = aggQs.exists {
      case _: Query.CountPerGroup | _: Query.AggregatePropertyPerGroup => true
      case _                                                         => false
    }
    def oneLevel(q: Query): Column = (q match {
      case Query.CountEvents             => count(lit(1))
      case Query.CountUniqueGroups(_)    => count_distinct(col(req.groupCol))
      case Query.AggregateProperty(p, f) => aggFn(f, col(p))
      case other                         => sys.error(s"unexpected $other")
    }).as(specKey(q))

    val aggregated = if (!anyInner) {
      val aggCols = aggQs.map(oneLevel)
      exploded.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
    } else {
      // property metrics with no per-user partial (median, percentile,
      // distinct counts) cannot be rebuilt from the inner pass; they
      // run one-level below and join on the cell key
      val (twoLevelQs, oneLevelQs) = aggQs.partition {
        case Query.AggregateProperty(_, f) => f match {
          case AggFn.Count | AggFn.Sum | AggFn.Min | AggFn.Max | AggFn.Avg => true
          case _                                                           => false
        }
        case _ => true
      }
      // two-level: one shared per-user inner pass; inner rows exist
      // only for users that matched the cell, so no guards are needed
      val inner = scala.collection.mutable.LinkedHashMap[String, Column]()
      def innerCol(key: String, c: => Column): Column = {
        inner.getOrElseUpdate(key, c.as(key)); col(key)
      }
      val outers = twoLevelQs.map { q =>
        (q match {
          case Query.CountEvents =>
            sum(innerCol("__cnt", count(lit(1))))
          case Query.CountUniqueGroups(_) =>
            count(lit(1))
          case Query.AggregateProperty(p, f) => f match {
            case AggFn.Count => sum(innerCol(s"__cntnn_$p", count(col(p))))
            case AggFn.Sum   => sum(innerCol(s"__sum_$p", sum(col(p))))
            case AggFn.Min   => min(innerCol(s"__min_$p", min(col(p))))
            case AggFn.Max   => max(innerCol(s"__max_$p", max(col(p))))
            case AggFn.Avg =>
              sum(innerCol(s"__sum_$p", sum(col(p)))) /
                sum(innerCol(s"__cntnn_$p", count(col(p))))
            case other => sys.error(s"$other has no per-user partial")
          }
          case Query.CountPerGroup(outerFn) =>
            aggFn(outerFn, innerCol("__cnt", count(lit(1))))
          case Query.AggregatePropertyPerGroup(p, innerFn, outerFn) =>
            aggFn(outerFn, innerCol(s"__i_${p}_$innerFn", aggFn(innerFn, col(p))))
          case other => sys.error(s"unexpected $other")
        }).as(specKey(q))
      }
      val twoLevel = exploded
        .groupBy((keys :+ col(req.groupCol)): _*)
        .agg(inner.values.head, inner.values.tail.toSeq: _*)
        .groupBy(keyNames.map(col): _*)
        .agg(outers.head, outers.tail: _*)
      if (oneLevelQs.isEmpty) twoLevel
      else {
        // both aggregates group the same exploded rows by the same
        // keys, so every cell matches exactly once; `<=>` because
        // masked breakdown keys (and breakdown values) may be null
        val sideKeys = keyNames.indices.map(i => s"__k$i")
        val oneCols = oneLevelQs.map(oneLevel)
        val side = exploded.groupBy(keys: _*).agg(oneCols.head, oneCols.tail: _*)
          .select(keyNames.zip(sideKeys).map { case (k, sk) => col(k).as(sk) } ++
            oneLevelQs.map(q => col(specKey(q))): _*)
        twoLevel
          .join(side, keyNames.zip(sideKeys).map { case (k, sk) => col(k) <=> col(sk) }
            .reduce(_ && _))
          .drop(sideKeys: _*)
      }
    }

    // long-form shape via per-block when-chains — one projection, no
    // union, the aggregate stays a single subplan. An unmatched chain
    // yields a typed null, the analog of unionByName's missing-column
    // null.
    def biChain(perBlock: Seq[(Int, Column)]): Column =
      perBlock.tail.foldLeft(
        when(col("__bi") === perBlock.head._1, perBlock.head._2)) {
        case (acc, (bi, c)) => acc.when(col("__bi") === bi, c)
      }
    val metricNames = blocks.flatMap(_.queries.map(_.name)).distinct
    // non-formula metrics first (formulas reference them by name)
    val plainCols = metricNames.flatMap { n =>
      val defs = blocks.zipWithIndex.flatMap { case (b, bi) =>
        b.queries.find(_.name == n).collect {
          case NamedQuery(q, _) if !q.isInstanceOf[Query.Formula] => (bi, col(specKey(q)))
        }
      }
      if (defs.isEmpty) None else Some(biChain(defs).as(n))
    }
    val eventTag = biChain(blocks.zipWithIndex.map { case (b, bi) =>
      (bi, lit(b.customEvent.map(_.name).orElse(b.eventName).getOrElse("all")))
    }).as("event")
    val segDefs = segNames.zipWithIndex.map { case (n, si) => (si, lit(n)) }
    val segTag = segDefs.tail.foldLeft(
      when(col("__si") === segDefs.head._1, segDefs.head._2)) {
      case (acc, (si, c)) => acc.when(col("__si") === si, c)
    }.as("segment")
    val staged = aggregated.select(
      ("bucket" +: bds).map(col) ++ Seq(col("__bi")) ++
        plainCols ++ Seq(eventTag, segTag): _*)
    // formulas evaluate over the named metric columns of their block's
    // rows; a name may be a formula in one block and a plain metric in
    // another, so unmatched rows fall back to the existing column
    val withFormulas = metricNames.foldLeft(staged) { (acc, n) =>
      val fdefs = blocks.zipWithIndex.flatMap { case (b, bi) =>
        b.queries.find(_.name == n).collect {
          case NamedQuery(Query.Formula(e), _) => (bi, expr(e))
        }
      }
      if (fdefs.isEmpty) acc
      else {
        val fallback: Column =
          if (acc.columns.contains(n)) col(n) else lit(null)
        acc.withColumn(n, fdefs.foldRight(fallback) {
          case ((bi, c), els) => when(col("__bi") === bi, c).otherwise(els)
        })
      }
    }
    withFormulas
      .select(("bucket" +: bds).map(col) ++
        metricNames.map(col) ++ Seq(col("event"), col("segment")): _*)
  }

  /** Materialized time range of a request (for the precomputed pivot
    * bucket list — reference common/src/query.rs:464-518). */
  def timeRange(t: QueryTime): (java.sql.Timestamp, java.sql.Timestamp) = t match {
    case QueryTime.Between(f, to)   => (f, to)
    case QueryTime.Last(n, u, now)  => (new java.sql.Timestamp(now.getTime - n * u.millis), now)
    case QueryTime.From(f)          => (f, f) // unbounded: single bucket
  }

  /** The reference's Regular output format (§3.1 plan tail): long-form
    * metrics are melted to (agg_name, value), pivoted over the
    * PRECOMPUTED bucket list of the query range (missing buckets
    * appear as null columns), a row-average column is appended, rows
    * sort by it, and only the top-k group tuples survive
    * (reference Unpivot → Pivot → AggregateAndSortColumns →
    * LimitGroups(50) → ReorderColumns, event_segmentation.rs:630-730). */
  def runPivoted(events: DataFrame, req: EventSegmentationRequest,
                 topGroups: Int = 50): DataFrame = {
    val long = run(events, req)
    val bds = allBreakdowns(req)
    val idCols = Seq("segment", "event") ++ bds
    val metricCols = long.columns.toSeq.diff(idCols :+ "bucket")
    val melted = Reshape.unpivot(long, idCols :+ "bucket", metricCols)
    val (from, to) = timeRange(req.time)
    val buckets = Reshape.timeColumns(from, to, req.interval)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val bucketNames = buckets.map(b => fmt.format(b.toInstant))
    // The pivoted frame is result-sized (series × metrics rows), so
    // the tail runs on one partition: the global sort and the
    // top-groups aggregate below plan as local operators, with no
    // range-sampling job and no exchange.
    val wide = Reshape.pivot(
      melted.withColumn("__b", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss")),
      idCols :+ "agg_name", "__b", bucketNames, "value").coalesce(1)
    val sorted = Reshape.aggregateAndSortColumns(wide, bucketNames)
    val limited =
      if (bds.isEmpty) sorted
      else Reshape.limitGroups(sorted, bds, "average", topGroups)
    Reshape.reorderColumns(limited, idCols :+ "agg_name")
  }

  /** Rolling n-day active groups (the reference declares
    * Weekly/MonthlyActiveGroups and leaves them unimplemented!(),
    * event_segmentation.rs:641-650). Each event contributes its group
    * id to the n daily windows that cover it (row amplification ×n),
    * then one distinct-count per day — no per-day rescan, scales as a
    * single shuffle on (day, group). */
  def rollingActiveGroups(events: DataFrame, windowDays: Int,
                          from: java.sql.Timestamp, to: java.sql.Timestamp,
                          groupCol: String = UserCol, tsCol: String = TsCol,
                          outCol: String = "active"): DataFrame = {
    events
      // timePredicateFor: the range filter upgrades to event_date
      // directory pruning on the canonical layout
      .filter(Exprs.timePredicateFor(events, tsCol,
        graft.model.QueryTime.Between(from, to)))
      .select(col(groupCol),
        explode(sequence(lit(0), lit(windowDays - 1))).as("__i"),
        to_date(date_trunc("day", col(tsCol))).as("__d0"))
      .select(col(groupCol), date_add(col("__d0"), col("__i")).as("d"))
      .filter(col("d") <= to_date(lit(to)))
      .groupBy(col("d"))
      .agg(count_distinct(col(groupCol)).as(outCol))
  }
}
