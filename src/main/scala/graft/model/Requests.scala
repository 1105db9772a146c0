package graft.model

import java.sql.Timestamp

/** Request DSL mirroring the reference's JSON query surface
  * (reference: src/common/src/query.rs — QueryTime, PropValueOperation,
  * Breakdown, Query enum; src/common/src/funnel.rs — Funnel DSL).
  * These are plain case classes: the engine compiles them into Spark
  * DataFrame plans; Catalyst handles all optimization.
  */

/** Time selector (reference common/src/query.rs:401-422). */
sealed trait QueryTime
object QueryTime {
  /** Closed interval [from, to]. */
  final case class Between(from: Timestamp, to: Timestamp) extends QueryTime
  /** Open-ended [from, +inf). */
  final case class From(from: Timestamp) extends QueryTime
  /** Last n units ending at `now`. */
  final case class Last(n: Long, unit: TimeIntervalUnit, now: Timestamp) extends QueryTime
}

/** Bucketing / window units (reference common/src/query.rs:424-462).
  * Duration semantics (for funnel windows): Month≈31d, Year≈372d —
  * calendar semantics are used only for date_trunc bucketing.
  */
sealed abstract class TimeIntervalUnit(val truncName: String, val millis: Long)
object TimeIntervalUnit {
  case object Second extends TimeIntervalUnit("second", 1000L)
  case object Minute extends TimeIntervalUnit("minute", 60 * 1000L)
  case object Hour   extends TimeIntervalUnit("hour", 3600 * 1000L)
  case object Day    extends TimeIntervalUnit("day", 24 * 3600 * 1000L)
  case object Week   extends TimeIntervalUnit("week", 7 * 24 * 3600 * 1000L)
  case object Month  extends TimeIntervalUnit("month", 31 * 24 * 3600 * 1000L)
  case object Year   extends TimeIntervalUnit("year", 372 * 24 * 3600 * 1000L)
}

/** Property predicate operations (reference common/src/query.rs:235-262). */
sealed trait PropOp
object PropOp {
  case object Eq       extends PropOp
  case object Neq      extends PropOp
  case object Gt       extends PropOp
  case object Gte      extends PropOp
  case object Lt       extends PropOp
  case object Lte      extends PropOp
  case object True     extends PropOp
  case object False    extends PropOp
  case object Exists   extends PropOp
  case object Empty    extends PropOp
  case object Like     extends PropOp
  case object NotLike  extends PropOp
  case object Regex    extends PropOp
  case object NotRegex extends PropOp
}

/** A filter over a (physical) column; multi-value → OR chain
  * (reference query/src/expr.rs:206-391).
  */
final case class PropFilter(column: String, op: PropOp, values: Seq[Any] = Nil)

/** Aggregate function selector (reference common/src/query.rs:27-47). */
sealed trait AggFn
object AggFn {
  case object Count extends AggFn
  case object Sum   extends AggFn
  case object Min   extends AggFn
  case object Max   extends AggFn
  case object Avg   extends AggFn
  /** Reference declares these but leaves them unimplemented!(); we
    * implement them properly (SURVEY.md §2.4). */
  case object Median extends AggFn
  final case class Percentile(p: Double) extends AggFn
  case object DistinctCount extends AggFn
  /** HLL-sketched distinct — the 100 TB path where exact
    * count_distinct would shuffle every value. */
  final case class ApproxDistinctCount(rsd: Double = 0.05) extends AggFn
}

/** Per-event query metric (reference common/src/query.rs Query enum). */
sealed trait Query
object Query {
  case object CountEvents extends Query
  final case class CountUniqueGroups(unit: Option[TimeIntervalUnit] = None) extends Query
  final case class AggregateProperty(prop: String, fn: AggFn) extends Query
  /** Two-level: inner count per group (user), outer agg over groups. */
  final case class CountPerGroup(outer: AggFn) extends Query
  /** Two-level: inner agg of prop per group, outer agg over groups. */
  final case class AggregatePropertyPerGroup(prop: String, inner: AggFn, outer: AggFn) extends Query
  /** SQL expression over the block's other named metrics, evaluated
    * after aggregation (the reference declares QueryFormula but leaves
    * it unimplemented — event_segmentation.rs:885-922). */
  final case class Formula(expression: String) extends Query
}

final case class NamedQuery(query: Query, name: String)

/** Custom event: a named OR of member events, each with its own
  * filters; members may recursively reference other custom events
  * (reference metadata/src/custom_events.rs:52,294-315 — expansion
  * happens at plan-build time, query/src/expr.rs:60-115). */
final case class CustomEvent(name: String, members: Seq[CustomEventMember])
sealed trait CustomEventMember
object CustomEventMember {
  final case class Event(eventName: Option[String], filters: Seq[PropFilter] = Nil)
    extends CustomEventMember
  final case class Custom(custom: CustomEvent) extends CustomEventMember
}

/** One event block in an event-segmentation request. */
final case class EventBlock(
    eventName: Option[String],       // None = all events
    filters: Seq[PropFilter] = Nil,
    queries: Seq[NamedQuery] = Nil,
    breakdowns: Seq[String] = Nil,
    customEvent: Option[CustomEvent] = None)

/** Breakdown = group-by property (reference only supports Property). */
final case class Breakdown(column: String)

/** Segment condition DSL (reference common/src/query.rs:313-399). */
sealed trait SegmentCondition
object SegmentCondition {
  /** User did `event` with agg(condition) OP value inside time range. */
  final case class DidEventCount(
      eventName: Option[String], filters: Seq[PropFilter],
      op: PropOp, value: Long, time: SegmentTime) extends SegmentCondition
  final case class DidEventAggregateProperty(
      eventName: Option[String], filters: Seq[PropFilter],
      prop: String, fn: AggFn, op: PropOp, value: Double,
      time: SegmentTime) extends SegmentCondition
  final case class HadPropertyValue(
      prop: String, op: PropOp, values: Seq[Any],
      /** Optional scope: "had the value at some point WITHIN the
        * range" (reference DTO carries a SegmentTime here). */
      time: Option[SegmentTime] = None) extends SegmentCondition
  /** User's CURRENT (latest-row) property value matches (reference
    * SegmentCondition::HasPropertyValue — unimplemented upstream;
    * "current" = the value on the user's most recent event, the
    * denormalized stand-in for the replacing group table). */
  final case class HasPropertyValue(
      prop: String, op: PropOp, values: Seq[Any],
      versionCol: String = "event_id") extends SegmentCondition
  /** count(event) OP count(otherEvent) per user (reference
    * DidEventAggregate::RelativeCount — unimplemented upstream). */
  final case class DidEventRelativeCount(
      eventName: Option[String], filters: Seq[PropFilter],
      otherEventName: Option[String], otherFilters: Seq[PropFilter],
      op: PropOp, time: SegmentTime) extends SegmentCondition
}

sealed trait SegmentTime
object SegmentTime {
  final case class Between(from: Timestamp, to: Timestamp) extends SegmentTime
  final case class From(from: Timestamp) extends SegmentTime
  final case class Last(n: Long, unit: TimeIntervalUnit) extends SegmentTime
  /** Rolling window: qualifies if ANY window of n units satisfies. */
  final case class Each(n: Long, unit: TimeIntervalUnit) extends SegmentTime
  /** Events within `within` units of the user's first-ever event
    * (reference common/src/query.rs:324-327). */
  final case class AfterFirstUse(within: Long, unit: TimeIntervalUnit) extends SegmentTime
}

/** Boolean composition of conditions: OR of ANDs (reference
  * event_segmentation.rs:456-545 builds And/Or trees). */
final case class Segment(name: String, conditions: Seq[Seq[SegmentCondition]])

/** Post-aggregation series transform (reference DTO
  * platform/src/event_segmentation.rs:126-135 — declared, carried,
  * never computed by the reference's query crate; implemented for
  * real here). */
sealed trait Analysis
object Analysis {
  case object Linear extends Analysis
  /** Trailing mean over `window` buckets. */
  final case class RollingAverage(window: Int) extends Analysis
  case object Cumulative extends Analysis
  case object Logarithmic extends Analysis
}

/** Period-over-period comparison: each metric also reports its value
  * `offset` units earlier (reference DTO Compare{offset, unit} —
  * carried, never computed upstream). */
final case class Compare(offset: Long, unit: TimeIntervalUnit)

/** The event-segmentation request (reference
  * platform/src/event_segmentation.rs DTO → common types). */
final case class EventSegmentationRequest(
    time: QueryTime,
    interval: TimeIntervalUnit,
    events: Seq[EventBlock],
    filters: Seq[PropFilter] = Nil,
    breakdowns: Seq[String] = Nil,
    segments: Seq[Segment] = Nil,
    /** Which group dimension partitions per-entity metrics — the
      * reference has 5 (group_0..group_4, group 0 = users,
      * common/src/lib.rs:16-21). */
    groupCol: String = "user_id",
    /** Tenant id (reference common/src/types.rs:22) — None on
      * single-project stores. */
    projectId: Option[Long] = None,
    analysis: Analysis = Analysis.Linear,
    compare: Option[Compare] = None)

// ----------------------------------------------------------------
// Funnel request model (reference common/src/funnel.rs DSL; HTTP DTO
// platform/src/funnel.rs:294-308). Engine lowering lives in
// graft.engine.Funnel.fromModel — these stay Spark-free.
// ----------------------------------------------------------------

/** One event alternative inside a funnel step (platform/src/funnel.rs:369). */
final case class FunnelEvent(eventName: Option[String], filters: Seq[PropFilter] = Nil)

/** A funnel step = OR over its event alternatives (funnel.rs:310). */
final case class FunnelStep(events: Seq[FunnelEvent])

sealed trait FunnelCount
object FunnelCount {
  case object Unique extends FunnelCount
  case object NonUnique extends FunnelCount
  case object Session extends FunnelCount
}

sealed trait FunnelFilter
object FunnelFilter {
  case object DropOffOnAnyStep extends FunnelFilter
  final case class DropOffOnStep(step: Int) extends FunnelFilter
  final case class TimeToConvert(fromMs: Long, toMs: Long) extends FunnelFilter
}

sealed trait FunnelTouch
object FunnelTouch {
  case object First extends FunnelTouch
  case object Last extends FunnelTouch
  final case class Step(step: Int) extends FunnelTouch
}

/** Exclude predicate active while in steps [fromStep, toStep]
  * (0-based inclusive; ExcludeSteps::All → full range). */
final case class FunnelExcludeModel(
    eventName: Option[String], filters: Seq[PropFilter] = Nil,
    fromStep: Int = 0, toStep: Int = Int.MaxValue)

/** Response format (reference query/src/context.rs `Format`):
  * Regular = reshaped presentation output (pivoted time columns),
  * Compact = the long-form frame, skipping the reshaping tail
  * (event_segmentation.rs:349-350). */
sealed trait ResponseFormat
object ResponseFormat {
  case object Regular extends ResponseFormat
  case object Compact extends ResponseFormat
}

// ----------------------------------------------------------------
// Record-search / property-values / group-records request models
// (reference HTTP DTOs: platform/src/event_records.rs:142-149
// EventRecordsSearchRequest, platform/src/properties.rs:348-356
// ListPropertyValuesRequest, platform/src/group_records.rs:215-221
// GroupRecordsSearchRequest). The reference carries the result limit
// in backend config; accepted inline here for transportless callers.
// ----------------------------------------------------------------

/** Event-record search: time ∧ OR-of-(event ∧ its filters) ∧ global
  * filters → projection → sort `event_id` desc → limit.
  * [[FunnelEvent]] doubles as the flattened EventRef+filters struct
  * the reference uses in both DTOs (event_records.rs:135-140). */
final case class RecordsSearchRequest(
    time: QueryTime,
    events: Seq[FunnelEvent] = Nil,
    filters: Seq[PropFilter] = Nil,
    properties: Seq[String] = Nil,
    limit: Int = 100,
    projectId: Option[Long] = None)

/** Property-values listing: distinct values of one property, optional
  * event scope and value filter, sorted, limited. */
final case class PropertyValuesRequest(
    prop: String,
    eventName: Option[String] = None,
    filter: Option[PropFilter] = None,
    limit: Int = 1000,
    projectId: Option[Long] = None)

/** Group-record (profile) search over one group dimension. `sort` is
  * (column, ascending) pairs; the group id is always the final
  * tiebreak. */
final case class GroupSearchRequest(
    groupCol: String = "user_id",
    time: Option[QueryTime] = None,
    filters: Seq[PropFilter] = Nil,
    properties: Seq[String] = Nil,
    sort: Seq[(String, Boolean)] = Nil,
    limit: Int = 100,
    projectId: Option[Long] = None)

/** Text / hybrid retrieval request — beyond the reference's surface
  * (it ships no text retrieval; this keeps the repo's own rule that
  * every analysis is reachable from the request layer). `terms` drive
  * the lexical BM25 ranker; an optional `semantic` block adds the
  * embedding cosine top-k list and the two fuse by integer RRF. */
final case class SearchRequest(
    terms: Seq[String],
    topK: Int = 10,
    k1: Double = 1.2,
    b: Double = 0.75,
    semantic: Option[SemanticSearch] = None,
    fuseTopK: Int = 10,
    weights: Seq[(String, Long)] = Nil,
    passage: Option[PassageSearch] = None,
    maxsim: Option[MaxsimSearch] = None,
    analyzer: Option[AnalyzerSpec] = None,
    /** Quoted-phrase mode: documents where these terms appear
      * CONSECUTIVELY, with occurrence counts — positional-postings
      * only, so an `index` is REQUIRED (there is no scan twin). */
    phrase: Seq[String] = Nil,
    /** Proximity (NEAR) mode: both terms within `window` positions —
      * positional-postings only, `index` required like phrase. */
    near: Option[NearSearch] = None,
    /** A PERSISTED index serving this request's text mode (lexical /
      * sparse / passage / maxsim / phrase / near): a registered id
      * when the serving layer supplies a resolver (the HTTP
      * registry), a direct artifact path otherwise. Absent → the scan
      * forms, the index-free twins (phrase/near have none). A named
      * index carries its own persisted analyzer, so `analyzer` does
      * not combine with it. */
    index: Option[String] = None,
    /** Facet columns (doc metadata) to count BESIDE the ranked list —
      * the search-sidebar aggregate: counts cover the FULL
      * conjunctive matched set (a sidebar describes everything that
      * matched, not the page), one melted aggregate per request.
      * Derived from the request's LEXICAL half (terms over the named
      * text index's postings), so they ride plain lexical, the
      * semantic hybrid and the fused-maxsim hybrid alike. */
    facets: Seq[String] = Nil,
    /** Best-window snippet width (tokens): per ranked topK hit, the
      * window covering the most distinct query terms (ties: most
      * occurrences, earliest start), computed FROM the positional
      * postings — the raw corpus is never read, and the window work
      * is PAGE-bounded (the unrestricted all-matches form is the
      * library operator). Text index required like phrase. */
    snippet: Option[Int] = None,
    projectId: Option[Long] = None)

/** The proximity mode of a [[SearchRequest]]: two distinct terms
  * within `window` token positions, minimum distance reported. */
final case class NearSearch(a: String, b: String, window: Int = 3)

/** The late-interaction mode of a [[SearchRequest]]: `terms` become
  * per-token query vectors (deterministic md5 space — a stand-in for
  * a real token-embedding table) and documents score by
  * Σ_{query tokens} max_{doc tokens} cos. `index` names the
  * TOKEN-INSTANCE IVF artifact serving this block (falling back to
  * the request-level `index` when the block is the request's only
  * mode); `nProbe`/`candTok` bound the indexed form's candidate
  * stage.
  *
  * `fuse` turns the request into the standard two-stage quality
  * recipe — BM25 ⊕ maxsim: the SAME terms rank both a lexical list
  * (request-level `index` → postings, else the scan) and this
  * block's late-interaction list (each `topK` deep), fused by
  * integer RRF to `fuseTopK`. The two lists may then serve from TWO
  * different artifacts: the request `index` is the text index, the
  * block's `index` the token-instance one. */
final case class MaxsimSearch(dims: Int = 16, nProbe: Int = 8,
                              candTok: Int = 20,
                              fuse: Boolean = false,
                              index: Option[String] = None)

/** Optional text analysis of a lexical [[SearchRequest]] — the JSON
  * shape of [[graft.pipeline.TextAnalysis.Analyzer]]: lowercase both
  * corpus tokens and query terms, drop stopwords (which also changes
  * dl, i.e. every BM25 denominator), S-stem plurals. */
final case class AnalyzerSpec(lowercase: Boolean = false,
                              stopwords: Seq[String] = Nil,
                              stemmer: Boolean = false)

/** The semantic half of a hybrid [[SearchRequest]]: the query vector
  * is the embedding row with `queryId` (the embedded corpus keys
  * documents by id), ranked to its cosine top-`k`. `index` names a
  * persisted IVF artifact over the embedding corpus (id or path,
  * resolved like the request-level index) — the ANN serving form,
  * probing `nProbe` cells — instead of the brute scan. The serving
  * layer dispatches on the ARTIFACT'S detected layout (flat /
  * quantized / composed PQ / residual / two-level), so each artifact
  * answers in its stored form — a PQ artifact by its codes-only
  * candidate scan, never a float rescan.
  *
  * `where` is the FILTERED ("nearest WHERE tenant/label …") form:
  * predicates over the payload columns the index was built with,
  * applied INSIDE the probed-cell scan before scoring on every
  * layout (never a post-filter, which returns short or over-scans).
  * Filtered selectivity eats recall like any IVF restriction — raise
  * `nProbe` as filters sharpen. `shortlist` bounds the re-rank
  * candidate set of the compressed layouts (PQ/residual/quantized
  * and the codes-only artifact; default 4·k). A two-level index
  * probes under its own persisted coarseProbe. */
final case class SemanticSearch(queryId: Long, k: Int = 20,
                                index: Option[String] = None,
                                nProbe: Int = 1,
                                where: Seq[PropFilter] = Nil,
                                shortlist: Option[Int] = None)

/** The passage mode of a [[SearchRequest]]: chunk the corpus into
  * `window`-token spans with `stride` overlap, BM25 the chunk corpus,
  * pool the best `passageK` passages max-per-document. In the scan
  * form absent knobs default to (32, 16); with a NAMED passage index,
  * chunking happened at build — supplied knobs are VALIDATED against
  * the artifact's persisted `passage_meta` (a silent mismatch would
  * mis-describe what the request searched), absent knobs just serve. */
final case class PassageSearch(window: Option[Int] = None,
                               stride: Option[Int] = None,
                               passageK: Int = 100)

final case class FunnelRequestModel(
    time: QueryTime,
    steps: Seq[FunnelStep],
    windowN: Long,
    windowUnit: TimeIntervalUnit,
    count: FunnelCount = FunnelCount.Unique,
    filter: Option[FunnelFilter] = None,
    touch: FunnelTouch = FunnelTouch.First,
    holdingConstants: Seq[String] = Nil,
    exclude: Seq[FunnelExcludeModel] = Nil,
    breakdowns: Seq[String] = Nil,
    segments: Seq[Segment] = Nil,
    filters: Seq[PropFilter] = Nil,
    /** Inclusive 0-based any-order slot ranges (StepOrder::Any). */
    anyOrderGroups: Seq[(Int, Int)] = Nil,
    /** Opt-in reference-parity positional matching for the any-order
      * ranges (DSL order type "any_positional"). */
    anyOrderPositional: Boolean = false,
    interval: Option[TimeIntervalUnit] = None,
    groupCol: String = "user_id",
    projectId: Option[Long] = None)
