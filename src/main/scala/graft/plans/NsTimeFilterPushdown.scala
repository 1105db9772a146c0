package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalyst rule: make time-range filters on nanosecond-long event
  * timestamps parquet-pushable.
  *
  * The driver's events table stores TIMESTAMP(NANOS), which we read as
  * a raw ns BIGINT and floor-convert with
  * `timestamp_micros(ts div 1000)` (graft.engine.Tables.events). A
  * predicate on that derived expression cannot reach the parquet
  * reader — `PushedFilters` shows only `IsNotNull`, so every query
  * would scan the full table at 100 TB.
  *
  * The conversion is monotonic, so each comparison against a literal
  * has an exact equivalent on the raw column. Catalyst's
  * `IntegralDivide` truncates toward ZERO (not floor), so the ns
  * boundary for a µs bound `us` depends on its sign:
  *
  *   trunc(a/1000) >= us  ⇔  a >= us*1000           (us >= 1)
  *                            a >= us*1000 - 999     (us <= 0)
  *   trunc(a/1000) <= us  ⇔  a <= us*1000 + 999     (us >= 0)
  *                            a <= us*1000           (us <= -1)
  *
  * and strict comparisons reduce to the inclusive form one µs over
  * (trunc > us ⇔ trunc >= us+1, trunc < us ⇔ trunc <= us-1).
  *
  * The rule ADDS the raw-column conjunct next to the original
  * predicate (semantically implied, so results are unchanged); the
  * data source then prunes row groups / pages on the raw long stats.
  * Installed by [[GraftExtensions]] (every `graft.Sessions.build`
  * session) or, on a session built elsewhere, once by
  * `graft.Sessions.install`, which Tables.events calls.
  */
object NsTimeFilterPushdown extends Rule[LogicalPlan] {

  /** a `timestamp_micros(attr div 1000)` subtree → the raw attr. */
  private def nsAttr(e: Expression): Option[Attribute] = e match {
    case MicrosToTimestamp(IntegralDivide(a: Attribute, Literal(1000L, LongType), _))
        if a.dataType == LongType => Some(a)
    case _ => None
  }

  /** a `cast(attr as timestamp)` over a TIMESTAMP_NTZ attr → the raw
    * attr, valid only when the session tz is UTC (then the cast maps
    * epoch-µs values identically, so bounds transfer exactly). */
  private def ntzAttr(e: Expression): Option[Attribute] = e match {
    case Cast(a: Attribute, TimestampType, _, _)
        if a.dataType == TimestampNTZType && utcSession => Some(a)
    case _ => None
  }

  private def utcSession: Boolean = {
    val tz = SQLConf.get.sessionLocalTimeZone
    tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "Z"
  }

  private def ntzLit(us: Long): Literal = Literal(us, TimestampNTZType)

  private def usOf(l: Literal): Option[Long] = l match {
    case Literal(v: Long, TimestampType) => Some(v) // internal value is epoch µs
    case _ => None
  }

  /** ns lower bound implied by `trunc(a/1000) >= us` (truncation
    * toward zero widens the window by 999 ns on the negative side). */
  private def nsGte(us: Long): Long = if (us >= 1L) us * 1000L else us * 1000L - 999L

  /** ns upper bound implied by `trunc(a/1000) <= us`. */
  private def nsLte(us: Long): Long = if (us <= -1L) us * 1000L else us * 1000L + 999L

  /** Raw-column conjunct implied by one comparison, if it matches.
    * ns longs need the truncation-widened bounds; NTZ casts are exact
    * under UTC so bounds (and strictness) transfer unchanged. */
  private def rawConjunct(p: Expression): Option[Expression] = p match {
    case GreaterThanOrEqual(e, lit: Literal) =>
      (for (a <- nsAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, Literal(nsGte(us))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, ntzLit(us)))
    case GreaterThan(e, lit: Literal) => // trunc > us ⇔ trunc >= us+1
      (for (a <- nsAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, Literal(nsGte(us + 1L))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield GreaterThan(a, ntzLit(us)))
    case LessThanOrEqual(e, lit: Literal) =>
      (for (a <- nsAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, Literal(nsLte(us))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, ntzLit(us)))
    case LessThan(e, lit: Literal) => // trunc < us ⇔ trunc <= us-1
      (for (a <- nsAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, Literal(nsLte(us - 1L))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield LessThan(a, ntzLit(us)))
    // mirrored literal-first forms
    case GreaterThanOrEqual(lit: Literal, e) => // lit >= e ⇔ e <= lit
      (for (a <- nsAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, Literal(nsLte(us))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, ntzLit(us)))
    case GreaterThan(lit: Literal, e) => // lit > e ⇔ e < lit
      (for (a <- nsAttr(e); us <- usOf(lit)) yield LessThanOrEqual(a, Literal(nsLte(us - 1L))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield LessThan(a, ntzLit(us)))
    case LessThanOrEqual(lit: Literal, e) => // lit <= e ⇔ e >= lit
      (for (a <- nsAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, Literal(nsGte(us))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, ntzLit(us)))
    case LessThan(lit: Literal, e) => // lit < e ⇔ e > lit
      (for (a <- nsAttr(e); us <- usOf(lit)) yield GreaterThanOrEqual(a, Literal(nsGte(us + 1L))))
        .orElse(for (a <- ntzAttr(e); us <- usOf(lit)) yield GreaterThan(a, ntzLit(us)))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val extras = conjuncts.flatMap(rawConjunct)
        .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
        .distinct
      if (extras.isEmpty) f
      else Filter((conjuncts ++ extras).reduce(And), child)
  }

  private def splitConjunctivePredicates(condition: Expression): Seq[Expression] =
    condition match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other     => other :: Nil
    }
}
