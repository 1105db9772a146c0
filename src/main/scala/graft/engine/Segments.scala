package graft.engine

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment (user-set) computation. The reference evaluates a
  * `SegmentExpr` tree over user-sorted events and emits qualifying
  * user ids, then each aggregate expression skips non-members
  * (reference query/src/logical_plan/segment.rs:65-107,
  * physical_plan/segmented_aggregate.rs:365-399 — effectively a
  * broadcast left-semi join on user id).
  *
  * Spark build: a condition's meaning is ONE per-user boolean
  * aggregate ([[flagAgg]]). [[membershipFlags]] evaluates every
  * segment's conditions in one `groupBy(user)` pass and composes the
  * Or-of-Ands as boolean columns, which segmentation and funnels join
  * on the user key. A condition that needs a pass before its
  * aggregate ([[preScope]]: the per-user first-use window, or a
  * rolling window key) runs [[userSet]] — the same [[flagAgg]] behind
  * that pass — and joins in as a flag.
  *
  * The reference leaves `RelativeCount`, `HistoricalCount`,
  * `HasPropertyValue` and `AfterFirstUse` unimplemented
  * (common/src/query.rs:313-399, event_segmentation.rs:456-545); the
  * first and last are implemented here for real.
  */
object Segments {

  private def cmp(c: Column, op: PropOp, v: Any): Column = op match {
    case PropOp.Eq  => c === lit(v)
    case PropOp.Neq => c =!= lit(v)
    case PropOp.Gt  => c > lit(v)
    case PropOp.Gte => c >= lit(v)
    case PropOp.Lt  => c < lit(v)
    case PropOp.Lte => c <= lit(v)
    case other      => sys.error(s"unsupported segment comparison $other")
  }

  private def cmpCols(a: Column, op: PropOp, b: Column): Column = op match {
    case PropOp.Eq  => a === b
    case PropOp.Neq => a =!= b
    case PropOp.Gt  => a > b
    case PropOp.Gte => a >= b
    case PropOp.Lt  => a < b
    case PropOp.Lte => a <= b
    case other      => sys.error(s"unsupported segment comparison $other")
  }

  private def conditionTime(c: SegmentCondition): Option[SegmentTime] = c match {
    case SegmentCondition.DidEventCount(_, _, _, _, t)                   => Some(t)
    case SegmentCondition.DidEventAggregateProperty(_, _, _, _, _, _, t) => Some(t)
    case SegmentCondition.DidEventRelativeCount(_, _, _, _, _, t)        => Some(t)
    case SegmentCondition.HadPropertyValue(_, _, _, t)                   => t
    case _: SegmentCondition.HasPropertyValue                            => None
  }

  /** The pass a condition needs BEFORE its per-user aggregate:
    * `AfterFirstUse` keeps the rows within the user's first-use window
    * (any condition); `Each` groups a `DidEventCount` by rolling
    * window. `Each` on the other conditions scopes nothing. */
  private def preScope(c: SegmentCondition): Option[SegmentTime] = (c, conditionTime(c)) match {
    case (_, Some(t: SegmentTime.AfterFirstUse))                       => Some(t)
    case (_: SegmentCondition.DidEventCount, Some(t: SegmentTime.Each)) => Some(t)
    case _                                                             => None
  }

  /** The scope's resolved `[from, to]` ts bounds, for the three
    * range-shaped scopes (Between/From/Last); None for the
    * structural scopes (Each/AfterFirstUse). `From` has no upper
    * bound. */
  private def tsBounds(t: SegmentTime, reqTime: QueryTime)
      : Option[(java.sql.Timestamp, Option[java.sql.Timestamp])] = t match {
    case SegmentTime.Between(f, to) => Some((f, Some(to)))
    case SegmentTime.From(f)        => Some((f, None))
    case SegmentTime.Last(n, unit) =>
      val to = reqTime match {
        case QueryTime.Between(_, t2)  => t2
        case QueryTime.Last(_, _, now) => now
        case QueryTime.From(_)         => new java.sql.Timestamp(Long.MaxValue / 2)
      }
      Some((new java.sql.Timestamp(to.getTime - n * unit.millis), Some(to)))
    case _ => None
  }

  /** A condition's range-shaped time scope as a predicate on `on`,
    * each ts bound mapped through `bound` — the ts column with `lit`,
    * or the `event_date` partition column with the bounds' dates (the
    * conjunct that upgrades the scope to directory pruning, as in
    * [[Exprs.timePredicateWithPartitionPruning]]). Both derive from
    * one [[tsBounds]], so the two can never disagree per condition,
    * which the flag pass's prefilter depends on. None for
    * all-history conditions and structural scopes. */
  private def scopePred(c: SegmentCondition, reqTime: QueryTime, on: Column,
                        bound: java.sql.Timestamp => Column): Option[Column] =
    conditionTime(c).flatMap(tsBounds(_, reqTime)).map { case (from, to) =>
      to.foldLeft(on >= bound(from))((p, t2) => p && on <= bound(t2))
    }

  /** One condition → its per-user boolean aggregate: the one
    * definition of what the condition means. A range scope folds into
    * the row guard; structural scopes are applied by [[userSet]]
    * before the aggregate. */
  private def flagAgg(c: SegmentCondition, reqTime: QueryTime,
                      tsCol: String, eventCol: String): Column = {
    val scope = scopePred(c, reqTime, col(tsCol), lit(_)).toSeq
    def matching(ev: Option[String], filters: Seq[PropFilter]): Column = Exprs.and(
      ev.map(Exprs.eventPredicate(col(eventCol), _)).toSeq ++
        filters.map(Exprs.propPredicate) ++ scope)
    c match {
      case SegmentCondition.DidEventCount(ev, filters, op, value, _) =>
        val g = matching(ev, filters)
        // "did event": membership needs ≥1 matching row even for
        // zero-satisfiable comparisons (Lt/Neq)
        count(when(g, 1)) > 0 && cmp(count(when(g, 1)), op, value)
      case SegmentCondition.DidEventAggregateProperty(ev, filters, prop, fn, op, value, _) =>
        val g = matching(ev, filters)
        val guarded = when(g, col(prop))
        val agg = fn match {
          case AggFn.Count => count(guarded)
          case AggFn.Sum   => sum(guarded)
          case AggFn.Min   => min(guarded)
          case AggFn.Max   => max(guarded)
          case AggFn.Avg   => avg(guarded)
          case other       => sys.error(s"unsupported segment agg $other")
        }
        // ≥1 matching row required (count() yields 0, not null, for
        // zero rows, which would wrongly satisfy Lt/Lte/Neq)
        count(when(g, 1)) > 0 && cmp(agg, op, value)
      case SegmentCondition.DidEventRelativeCount(ev, filters, otherEv, otherFilters, op, _) =>
        // count(A) OP count(B), and the user must appear in the
        // condition's time scope at all
        Exprs.and(scope.map(s => count(when(s, 1)) > 0) :+
          cmpCols(count(when(matching(ev, filters), 1)), op,
            count(when(matching(otherEv, otherFilters), 1))))
      case SegmentCondition.HadPropertyValue(prop, op, values, _) =>
        coalesce(bool_or(Exprs.and(
          Exprs.propPredicate(PropFilter(prop, op, values)) +: scope)), lit(false))
      case SegmentCondition.HasPropertyValue(prop, op, values, versionCol) =>
        // CURRENT value = value on the user's highest-version row
        // (replacing-table semantics, dedup-on-read)
        Exprs.propPredicateOn(max_by(col(prop), col(versionCol)),
          PropFilter(prop, op, values))
    }
  }

  /** One condition → DataFrame[user] of qualifying users: its
    * [[preScope]] pass, then its [[flagAgg]] per user. `AfterFirstUse`
    * needs the per-user first event timestamp — one window pass,
    * shuffled by user, bounded state. `Each` is a rolling-window count
    * (reference segmentation/count.rs:29-212 + time_range.rs
    * `SegmentTime::Each`): qualifies if ANY window of length n*unit
    * satisfies, approximated as the reference does — ts bucketed by
    * the window length, the flag per (user, bucket). */
  def userSet(
      events: DataFrame, cond: SegmentCondition, reqTime: QueryTime,
      userCol: String, tsCol: String, eventCol: String): DataFrame = {
    val (scoped, window) = preScope(cond) match {
      case Some(SegmentTime.AfterFirstUse(within, unit)) =>
        (events
          .withColumn("__first_ts", min(col(tsCol)).over(Window.partitionBy(col(userCol))))
          .filter(unix_millis(col(tsCol)) - unix_millis(col("__first_ts")) <=
            within * unit.millis), Nil)
      case Some(SegmentTime.Each(n, unit)) =>
        (events, Seq((unix_millis(col(tsCol)) / lit(n * unit.millis)).cast("long").as("__w")))
      case _ => (events, Nil)
    }
    val users = scoped.groupBy(col(userCol) +: window: _*)
      .agg(flagAgg(cond, reqTime, tsCol, eventCol).as("__f"))
      .filter(col("__f")).select(col(userCol))
    if (window.isEmpty) users else users.distinct()
  }

  /** All segments → (userCol, __seg_0 … __seg_{k-1}) membership
    * flags: every condition without a [[preScope]] is one [[flagAgg]]
    * in ONE aggregation over events; the others compute their
    * [[userSet]] separately and LEFT-join in as a flag. Per-segment
    * membership is then a boolean Or-of-Ands over the condition flags.
    * Only users belonging to at least one segment survive. */
  def membershipFlags(
      events: DataFrame, segments: Seq[Segment], reqTime: QueryTime,
      userCol: String, tsCol: String, eventCol: String): DataFrame = {
    require(segments.nonEmpty, "membershipFlags needs segments")
    val conditions = segments.flatMap(_.conditions.flatten).distinct
    val condIdx = conditions.zipWithIndex.toMap
    val (fused, separate) = conditions.partition(preScope(_).isEmpty)
    // when EVERY fused condition carries a time bound AND there are no
    // separate conditions, the flag scan prunes to the union of
    // those bounds (each flag still applies its own scope predicate).
    // A separate condition disables the prune: its users LEFT-join
    // onto the base, so the base must keep every user with any event
    // or such users could never become members.
    val scopes = fused.map(scopePred(_, reqTime, col(tsCol), lit(_)))
    val events0 =
      if (fused.nonEmpty && separate.isEmpty && scopes.forall(_.isDefined)) {
        val tsOr = scopes.flatten.reduce(_ || _)
        // On the canonical date-partitioned layout, AND in the OR of
        // each scope's implied event_date bounds as a SEPARATE
        // conjunct: it references only the partition column, so
        // Catalyst extracts it as a PartitionFilter (a single OR
        // mixing ts and event_date would not decompose), and it is
        // implied by tsOr, so results are identical.
        val dateOr =
          if (events.columns.contains("event_date"))
            Some(fused.flatMap(scopePred(_, reqTime, col("event_date"),
              t => to_date(lit(t)))).reduce(_ || _))
          else None
        events.filter(dateOr.map(tsOr && _).getOrElse(tsOr))
      } else events
    val fusedAggs = fused.map(c =>
      flagAgg(c, reqTime, tsCol, eventCol).as(s"__c_${condIdx(c)}"))
    val base =
      if (fusedAggs.nonEmpty)
        events0.groupBy(col(userCol)).agg(fusedAggs.head, fusedAggs.tail: _*)
      else events.select(col(userCol)).distinct()
    val withAll = separate.foldLeft(base) { (acc, c) =>
      val name = s"__c_${condIdx(c)}"
      val us = userSet(events, c, reqTime, userCol, tsCol, eventCol)
        .withColumn(name, lit(true))
      acc.join(us, Seq(userCol), "left")
        .withColumn(name, coalesce(col(name), lit(false)))
    }
    val segCols = segments.zipWithIndex.map { case (s, i) =>
      s.conditions.map(conj =>
        conj.map(c => coalesce(col(s"__c_${condIdx(c)}"), lit(false))).reduce(_ && _))
        .reduce(_ || _).as(s"__seg_$i")
    }
    withAll.select(col(userCol) +: segCols: _*)
      .filter(segments.indices.map(i => col(s"__seg_$i")).reduce(_ || _))
  }
}
