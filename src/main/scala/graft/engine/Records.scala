package graft.engine

import graft.model._
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record search + property values (reference
  * query/src/event_records.rs:223-419 build_search_plan,
  * group_records.rs:220-320, properties.rs:118-195).
  * All three are filter → project → sort → limit chains; Spark's
  * TakeOrderedAndProject physical operator executes sort+limit as a
  * distributed top-k (per-partition heap + driver merge) — no global
  * sort even at 100 TB.
  */
object Records {

  /** Event-record search: filter (time ∧ OR-of-events ∧ props) →
    * project (+forced event_id) → sort event_id desc → limit. */
  def searchEvents(
      events0: DataFrame,
      time: QueryTime,
      eventNames: Seq[String] = Nil,
      filters: Seq[PropFilter] = Nil,
      projection: Seq[String] = Nil,
      limitN: Int = 100,
      projectId: Option[Long] = None): DataFrame = {
    val events = Exprs.tenantScope(events0, projectId)
    val evPred =
      if (eventNames.isEmpty) lit(true)
      else eventNames.map(Exprs.eventPredicate(col(EventSegmentation.EventCol), _)).reduce(_ || _)
    val pred = Exprs.and(
      Seq(Exprs.timePredicateFor(events, EventSegmentation.TsCol, time), evPred) ++
        filters.map(Exprs.propPredicate))
    val projected =
      if (projection.isEmpty) events.filter(pred)
      else events.filter(pred).select((projection :+ "event_id").distinct.map(col): _*)
    projected.orderBy(col("event_id").desc).limit(limitN)
  }

  /** Request-model form of [[searchEvents]]: each event block carries
    * its OWN filters — the predicate is OR over (event ∧ block
    * filters), matching the reference's build_search_plan
    * (query/src/event_records.rs:223-419). */
  def search(events0: DataFrame, req: RecordsSearchRequest): DataFrame = {
    val events = Exprs.tenantScope(events0, req.projectId)
    val evPred =
      if (req.events.isEmpty) lit(true)
      else req.events.map { e =>
        Exprs.and(
          e.eventName.map(Exprs.eventPredicate(col(EventSegmentation.EventCol), _)).toSeq ++
            e.filters.map(Exprs.propPredicate))
      }.reduce(_ || _)
    val pred = Exprs.and(
      Seq(Exprs.timePredicateFor(events, EventSegmentation.TsCol, req.time), evPred) ++
        req.filters.map(Exprs.propPredicate))
    val projected =
      if (req.properties.isEmpty) events.filter(pred)
      else events.filter(pred).select((req.properties :+ "event_id").distinct.map(col): _*)
    projected.orderBy(col("event_id").desc).limit(req.limit)
  }

  /** Get single record by id (reference event_records.rs:421-492). */
  def getById(events: DataFrame, id: Long): DataFrame =
    events.filter(col("event_id") === lit(id))

  /** Get one group's current profile row (reference
    * group_records.rs:38-44 `GET /:group_id/:id` → get_by_id). The raw
    * path segment is coerced by the group column's actual type, so
    * string-keyed group dimensions resolve and numeric ones keep a
    * pushable long-literal predicate (a `cast(col as string)`
    * comparison would defeat parquet pushdown AND throw under ANSI on
    * non-numeric strings). A non-numeric segment against a numeric
    * column raises NumberFormatException (→ the HTTP 400 plane). The
    * equality filter lands BEFORE the dedup window, so the scan prunes
    * to the one group's events and the window sorts only those — a
    * pushed-down point lookup, not a full-table row_number. */
  def getGroupByKey(events: DataFrame, groupCol: String, rawId: String,
                    versionCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val key = events.schema(groupCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => lit(rawId.toLong)
      case StringType                                    => lit(rawId)
      case other => lit(rawId).cast(other)
    }
    latestPerGroup(events.filter(col(groupCol) === key), groupCol, versionCol)
  }

  /** Group-record (profile) search. Group tables in the reference are
    * replacing tables (last version wins, cmd/src/lib.rs:270); with
    * immutable parquet that's dedup-on-read:
    * row_number over (partition by id order by version desc) = 1
    * (SURVEY.md §1.4). Here the events table doubles as the profile
    * source: the latest event per user is its current profile row. */
  def latestPerGroup(df: DataFrame, idCol: String, versionCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Property-values listing: distinct → optional contains-filter →
    * sort asc → limit 1000 (reference properties.rs:118-195). */
  def propertyValues(
      events: DataFrame, prop: String,
      contains: Option[String] = None, limitN: Int = 1000): DataFrame = {
    val base = events.select(col(prop)).filter(col(prop).isNotNull).distinct()
    val f = contains.fold(base)(s => base.filter(col(prop).contains(s)))
    f.orderBy(col(prop).asc).limit(limitN)
  }

  /** Request-model form: optional event scope plus any property-op
    * value filter (the reference's `Filter{operation, value}`,
    * platform/src/properties.rs:343-346). */
  def propertyValues(events0: DataFrame, req: PropertyValuesRequest): DataFrame = {
    val events = Exprs.tenantScope(events0, req.projectId)
    val scoped = req.eventName.fold(events)(n =>
      events.filter(Exprs.eventPredicate(col(EventSegmentation.EventCol), n)))
    val base = scoped.select(col(req.prop)).filter(col(req.prop).isNotNull).distinct()
    val filtered = req.filter.fold(base)(f => base.filter(Exprs.propPredicate(f)))
    filtered.orderBy(col(req.prop).asc).limit(req.limit)
  }

  /** Group-record search over one group dimension: dedup-on-read
    * profile rows ([[latestPerGroup]]) → filters → projection → sort
    * (group id as final tiebreak) → limit (reference
    * group_records.rs:220-320). */
  def searchGroups(events0: DataFrame, req: GroupSearchRequest,
                   versionCol: String = "event_id"): DataFrame = {
    val events = Exprs.tenantScope(events0, req.projectId)
    val timed = req.time.fold(events)(t =>
      events.filter(Exprs.timePredicateFor(events, EventSegmentation.TsCol, t)))
    val profiles = latestPerGroup(timed, req.groupCol, versionCol)
    val filtered = req.filters.foldLeft(profiles)((d, f) => d.filter(Exprs.propPredicate(f)))
    // sort/limit BEFORE projecting: the sort property need not be in
    // the requested projection (reference SortablePropertyRef is
    // independent of `properties`) — projecting first would drop it
    val sorted = Groups.search(filtered, None, req.sort, req.groupCol, req.limit)
    if (req.properties.isEmpty) sorted
    else sorted.select((req.groupCol +: req.properties).distinct.map(col): _*)
  }
}
