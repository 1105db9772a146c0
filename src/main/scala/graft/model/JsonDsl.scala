package graft.model

import java.sql.Timestamp

import Json._

/** JSON request deserialization — the engine's user surface, mirroring
  * the reference's serde DTOs field-for-field:
  *
  *  - event segmentation: reference platform/src/event_segmentation.rs:439-454
  *    (`EventSegmentationRequest { time, group, intervalUnit, chartType,
  *    analysis, compare?, events, filters?, breakdowns?, segments? }`)
  *  - funnel: reference platform/src/funnel.rs:294-308
  *    (`FunnelRequest { time, group, steps, timeWindow, chartType, count,
  *    filter?, touch?, holdingConstants?, exclude?, breakdowns?,
  *    segments?, filters? }`)
  *
  * Tagging conventions follow the reference's serde derives: internally
  * tagged enums use `"type"` (platform/src/lib.rs:719 QueryTime,
  * :504 PropValueFilter, :801 Breakdown), event refs use `"eventType"`
  * (:400), property refs use `"propertyType"` and flatten into their
  * parent (:440), and variant names are camelCase.
  *
  * Unknown tags and missing fields raise [[Json.JsonError]] with the
  * offending fragment — the validation role of the reference's
  * `validate_request` (platform/src/event_segmentation.rs:497-560).
  */
object JsonDsl {

  /** Parse an event-segmentation request.
    * @param customEvents resolver for `{"eventType":"custom","eventId":N}`
    *                     refs (the reference resolves ids through its
    *                     metadata registry, metadata/src/custom_events.rs). */
  def eventSegmentation(json: String,
                        customEvents: Map[Long, CustomEvent] = Map.empty,
                        registry: Registry = Registry.open): EventSegmentationRequest = {
    implicit val reg: Registry = customEvents.foldLeft(registry) {
      case (r, (id, ce)) => r.withCustomEvent(id, ce)
    }
    val j = Json.parse(json)
    EventSegmentationRequest(
      time = queryTime(j / "time", j.asOpt("now")),
      interval = intervalUnit(j / "intervalUnit"),
      events = (j / "events").arr.map(eventBlock),
      filters = j.asOpt("filters").map(groupedFilters).getOrElse(Nil),
      breakdowns = j.asOpt("breakdowns").map(_.arr.map(breakdown)).getOrElse(Nil),
      segments = j.asOpt("segments").map(_.arr.map(segment)).getOrElse(Nil),
      groupCol = groupCol(j.asOpt("group").map(_.int).getOrElse(0)),
      // the reference carries the tenant in the URL path; accept it
      // inline for transportless callers
      projectId = j.asOpt("projectId").map(_.long),
      analysis = j.asOpt("analysis").map(analysis).getOrElse(Analysis.Linear),
      compare = j.asOpt("compare").map(c =>
        Compare((c / "offset").long, intervalUnit(c / "unit"))))
  }

  /** Analysis DTO (platform/src/event_segmentation.rs:126-135). */
  private def analysis(j: JValue): Analysis = (j / "type").str match {
    case "linear"         => Analysis.Linear
    case "rollingAverage" => Analysis.RollingAverage((j / "window").int)
    case "cumulative"     => Analysis.Cumulative
    case "logarithmic"    => Analysis.Logarithmic
    case other            => throw JsonError(s"unknown analysis '$other'")
  }

  /** Parse a funnel request (model form; lowered to the engine request
    * by graft.engine.Funnel.fromModel). */
  def funnel(json: String, registry: Registry = Registry.open): FunnelRequestModel = {
    implicit val reg: Registry = registry
    val j = Json.parse(json)
    val stepsJ = (j / "steps").arr
    val steps = stepsJ.map(s => FunnelStep((s / "events").arr.map(funnelEvent)))
    // StepOrder::Any ranges: the DTO repeats the order spec per step
    // (platform/src/funnel.rs:310-312); any step carrying Any
    // contributes its ranges once.
    // "any_positional" = same ranges, but matched with the reference's
    // positional semantics (bug-for-bug parity opt-in; see
    // graft.engine.Funnel's StepOrder::Any divergence note)
    var anyPositional = false
    val anyOrder = stepsJ.flatMap(s => s.asOpt("order")).flatMap { o =>
      (o / "type").str match {
        case "exact" => Nil
        case t @ ("any" | "any_positional") =>
          if (t == "any_positional") anyPositional = true
          (o / "steps").arr.map { pair =>
            val p = pair.arr
            (p(0).int, p(1).int)
          }
        case other => throw JsonError(s"unknown step order '$other'")
      }
    }.distinct
    val tw = j / "timeWindow"
    FunnelRequestModel(
      time = queryTime(j / "time", j.asOpt("now")),
      steps = steps,
      windowN = (tw / "n").long,
      windowUnit = intervalUnit(tw / "unit"),
      count = j.asOpt("count").map(funnelCount).getOrElse(FunnelCount.Unique),
      filter = j.asOpt("filter").map(funnelFilter),
      touch = j.asOpt("touch").map(funnelTouch).getOrElse(FunnelTouch.First),
      holdingConstants = j.asOpt("holdingConstants").map(_.arr.map(propertyName)).getOrElse(Nil),
      exclude = j.asOpt("exclude").map(_.arr.map(funnelExclude(_, steps.size))).getOrElse(Nil),
      breakdowns = j.asOpt("breakdowns").map(_.arr.map(breakdown)).getOrElse(Nil),
      segments = j.asOpt("segments").map(_.arr.map(segment)).getOrElse(Nil),
      filters = j.asOpt("filters").map(groupedFilters).getOrElse(Nil),
      anyOrderGroups = anyOrder,
      anyOrderPositional = anyPositional,
      interval = j.asOpt("intervalUnit").map(intervalUnit),
      groupCol = groupCol(j.asOpt("group").map(_.int).getOrElse(0)),
      projectId = j.asOpt("projectId").map(_.long))
  }

  /** Response-format routing (reference `QueryParams.format`:
    * `json` → Format::Regular (reshaped, pivoted time columns),
    * `jsonCompact` → Format::Compact (skips the reshaping tail —
    * event_segmentation.rs:349-350). The reference takes it as a
    * query-string param; accepted in the body envelope here. */
  def format(json: String): ResponseFormat =
    Json.parse(json).asOpt("format").map(_.str) match {
      case None | Some("json") => ResponseFormat.Regular
      case Some("jsonCompact") => ResponseFormat.Compact
      case Some(other)         => throw JsonError(s"unknown format '$other'")
    }

  /** Parse an event-record search request
    * (platform/src/event_records.rs:142-149). */
  def eventRecordsSearch(json: String,
                         registry: Registry = Registry.open): RecordsSearchRequest = {
    implicit val reg: Registry = registry
    val j = Json.parse(json)
    RecordsSearchRequest(
      time = queryTime(j / "time", j.asOpt("now")),
      events = j.asOpt("events").map(_.arr.map(funnelEvent)).getOrElse(Nil),
      filters = j.asOpt("filters").map(groupedFilters).getOrElse(Nil),
      properties = j.asOpt("properties").map(_.arr.map(propertyName)).getOrElse(Nil),
      limit = j.asOpt("limit").map(_.int).getOrElse(100),
      projectId = j.asOpt("projectId").map(_.long))
  }

  /** Parse a property-values listing request
    * (platform/src/properties.rs:348-356 — PropertyRef and optional
    * EventRef flattened into the top level, optional value filter). */
  def propertyValues(json: String,
                     registry: Registry = Registry.open): PropertyValuesRequest = {
    implicit val reg: Registry = registry
    val j = Json.parse(json)
    val prop = propertyName(j)
    val event = j.asOpt("eventType").map(_.str) match {
      case None            => None
      case Some("regular") => Some(reg.validateEvent((j / "eventName").str))
      case Some(other)     => throw JsonError(s"unknown eventType '$other'")
    }
    val filter = j.asOpt("filter").map(f =>
      PropFilter(prop, propOp(f / "operation"),
        f.asOpt("value").map(_.arr.map(_.scalar)).getOrElse(Nil)))
    PropertyValuesRequest(prop, event, filter,
      limit = j.asOpt("limit").map(_.int).getOrElse(1000),
      projectId = j.asOpt("projectId").map(_.long))
  }

  /** Parse a retrieval search request (beyond-reference surface):
    * {{{
    *   {"terms": ["column", "scan"], "topK": 15,
    *    "k1": 1.2, "b": 0.75,                      // optional BM25 knobs
    *    "semantic": {"queryId": 0, "k": 20},       // optional hybrid half
    *    "fuseTopK": 10}
    * }}} */
  def search(json: String): SearchRequest = {
    val j = Json.parse(json)
    // sparse mode: {"weights": {"column": 2500000, ...}} — integer
    // micro-weights; terms may be absent (the weight keys ARE the
    // query). passage mode: {"passage": {"window": 32, "stride": 16,
    // "passageK": 100}} over the usual terms.
    val weights = j.asOpt("weights")
      .map(_.obj.map { case (t, v) => (t, v.long) }).getOrElse(Nil)
    val terms = j.asOpt("terms").map(_.arr.map(_.str)).getOrElse(Nil)
    // a semantic block alone is a PURE ANN request (no lexical half to
    // fuse), and phrase/near carry their query inside their own block —
    // every other mode needs query terms or weights
    if (terms.isEmpty && weights.isEmpty && j.asOpt("semantic").isEmpty &&
        j.asOpt("phrase").isEmpty && j.asOpt("near").isEmpty)
      throw JsonError("search request needs terms, weights, or a " +
        "semantic/phrase/near block")
    // window/stride stay OPTIONAL in the DTO: the scan form defaults
    // them (32, 16), the indexed form validates supplied values
    // against the artifact's persisted chunking
    val passage = j.asOpt("passage").map(p => PassageSearch(
      window = p.asOpt("window").map(_.int),
      stride = p.asOpt("stride").map(_.int),
      passageK = p.asOpt("passageK").map(_.int).getOrElse(100)))
    if (passage.nonEmpty && terms.isEmpty)
      throw JsonError("passage search needs terms")
    // maxsim mode: {"maxsim": {"dims": 16}} over the usual terms —
    // late-interaction scoring, exclusive with every other mode.
    // nProbe/candTok bound the candidate stage of the INDEXED form
    // (ignored by the scan form, like every index-only knob).
    val maxsim = j.asOpt("maxsim").map { m =>
      val dims = m.asOpt("dims").map(_.int).getOrElse(16)
      // dims 0 would silently score every pair 0.0 (empty vectors);
      // an absurd width is a typo'd request, not a corpus property
      if (dims < 1 || dims > 4096)
        throw JsonError(s"maxsim dims must be in [1, 4096], got $dims")
      val nProbe = m.asOpt("nProbe").map(_.int).getOrElse(8)
      val candTok = m.asOpt("candTok").map(_.int).getOrElse(20)
      if (nProbe < 1 || candTok < 1)
        throw JsonError("maxsim nProbe and candTok must be >= 1")
      MaxsimSearch(dims = dims, nProbe = nProbe, candTok = candTok,
        fuse = m.asOpt("fuse").map(_.bool).getOrElse(false),
        index = m.asOpt("index").map(_.str))
    }
    if (maxsim.nonEmpty && terms.isEmpty)
      throw JsonError("maxsim search needs terms")
    if (maxsim.nonEmpty && (weights.nonEmpty || passage.nonEmpty ||
        j.asOpt("semantic").nonEmpty))
      throw JsonError("maxsim does not combine with weights/passage/semantic")
    if (weights.nonEmpty && (passage.nonEmpty || j.asOpt("semantic").nonEmpty))
      throw JsonError("weights do not combine with passage/semantic blocks")
    // analyzer: {"lowercase": true, "stopwords": [...], "stemmer":
    // true} — lexical (BM25) mode only in v1: the other modes'
    // operators define their own tokenization contracts
    val analyzer = j.asOpt("analyzer").map(a => AnalyzerSpec(
      lowercase = a.asOpt("lowercase").exists(_.bool),
      stopwords = a.asOpt("stopwords").map(_.arr.map(_.str)).getOrElse(Nil),
      stemmer = a.asOpt("stemmer").exists(_.bool)))
    if (analyzer.nonEmpty && (weights.nonEmpty || passage.nonEmpty ||
        maxsim.nonEmpty || j.asOpt("semantic").nonEmpty))
      throw JsonError("analyzer applies to plain lexical search only")
    if (analyzer.nonEmpty && terms.isEmpty)
      throw JsonError("analyzed search needs terms")
    // terms+weights is ambiguous (which set is the query?) — reject
    // loudly like the other invalid combinations rather than letting
    // sparse mode silently win over the ignored terms
    if (weights.nonEmpty && terms.nonEmpty)
      throw JsonError("supply terms (lexical) or weights (sparse), not both" +
        " — sparse queries carry their terms as the weight keys")
    // positional modes: {"phrase": ["a","b"]} (consecutive terms) and
    // {"near": {"a": ..., "b": ..., "window": 3}} — both serve from
    // positional postings, so they REQUIRE an index and combine with
    // nothing else (their result shapes are their own)
    val phrase = j.asOpt("phrase").map(_.arr.map(_.str)).getOrElse(Nil)
    if (j.asOpt("phrase").nonEmpty && phrase.isEmpty)
      throw JsonError("phrase needs at least one term")
    val near = j.asOpt("near").map { n =>
      val w = n.asOpt("window").map(_.int).getOrElse(3)
      if (w < 1) throw JsonError("near window must be >= 1")
      NearSearch((n / "a").str, (n / "b").str, w)
    }
    if (phrase.nonEmpty && near.nonEmpty)
      throw JsonError("phrase and near are distinct modes — pick one")
    if ((phrase.nonEmpty || near.nonEmpty) &&
        (terms.nonEmpty || weights.nonEmpty || passage.nonEmpty ||
          maxsim.nonEmpty || analyzer.nonEmpty ||
          j.asOpt("semantic").nonEmpty))
      throw JsonError("phrase/near do not combine with other modes")
    if ((phrase.nonEmpty || near.nonEmpty) && j.asOpt("index").isEmpty)
      throw JsonError("phrase/near serve from positional postings — " +
        "name an index (they have no scan form)")
    // a persisted index serves the request's text mode: {"index":
    // "docs-idx"}. A named index carries its own PERSISTED analyzer
    // (the build-time contract), so a request-scoped analyzer block
    // alongside it could silently disagree with how the postings were
    // tokenized — rejected, the persisted one wins.
    val index = j.asOpt("index").map(_.str)
    if (index.nonEmpty && analyzer.nonEmpty)
      throw JsonError("a named index carries its own persisted analyzer — " +
        "drop the analyzer block")
    // facet counts and best-window snippets — the two search-UI
    // companions of the ranked list: both are postings-derived, so
    // they need a named index and a lexical (terms) query
    val facets = j.asOpt("facets").map(_.arr.map(_.str)).getOrElse(Nil)
    if (j.asOpt("facets").nonEmpty && facets.isEmpty)
      throw JsonError("facets needs at least one column")
    val snippet = j.asOpt("snippet").map { sn =>
      val w = (sn / "width").int
      if (w < 1) throw JsonError("snippet width must be >= 1")
      w
    }
    if (facets.nonEmpty || snippet.nonEmpty) {
      // both derive from the request's LEXICAL half (terms over the
      // named index's postings) — so they ride any mode that HAS one,
      // including the semantic and fused-maxsim hybrids; weights/
      // passage redefine what "matched" means and are rejected
      if (terms.isEmpty)
        throw JsonError("facets/snippet describe the lexical (terms) half " +
          "of a search")
      if (index.isEmpty)
        throw JsonError("facets/snippet serve from a persisted index " +
          "(postings intersection / positional windows) — name one")
      if (weights.nonEmpty || passage.nonEmpty)
        throw JsonError("facets/snippet combine with term-based modes only")
      if (maxsim.exists(!_.fuse))
        throw JsonError("a lone maxsim request's index is the " +
          "token-instance artifact — facets/snippet need the lexical text " +
          "index (set maxsim.fuse, whose request-level index is lexical)")
    }
    if (index.nonEmpty && maxsim.isEmpty && terms.isEmpty &&
        weights.isEmpty && phrase.isEmpty && near.isEmpty)
      throw JsonError("an index serves lexical/sparse/passage/maxsim/" +
        "phrase/near requests — supply a query")
    SearchRequest(
      terms = terms,
      topK = j.asOpt("topK").map(_.int).getOrElse(10),
      k1 = j.asOpt("k1").map(_.num).getOrElse(1.2),
      b = j.asOpt("b").map(_.num).getOrElse(0.75),
      semantic = j.asOpt("semantic").map { s =>
        // knob validation at PARSE, matching the maxsim block's: a
        // nProbe <= 0 would otherwise only fail deep inside the cell
        // ranking with a less actionable message
        val nProbe = s.asOpt("nProbe").map(_.int).getOrElse(1)
        if (nProbe < 1) throw JsonError("semantic nProbe must be >= 1")
        val shortlist = s.asOpt("shortlist").map(_.int)
        if (shortlist.exists(_ < 1))
          throw JsonError("semantic shortlist must be >= 1")
        // the filtered-search predicate: payload COLUMNS of the named
        // index (index-local physical names, deliberately NOT
        // registry-resolved properties), each {"column", "op",
        // "values"} — one PropFilter per entry, AND-composed
        val where = s.asOpt("where").map(_.arr.map { f =>
          PropFilter((f / "column").str, propOp(f / "op"),
            f.asOpt("values").map(_.arr.map(_.scalar)).getOrElse(Nil))
        }).getOrElse(Nil)
        if (where.nonEmpty && s.asOpt("index").isEmpty)
          throw JsonError("semantic where filters payload columns of a " +
            "NAMED index — name one (the brute scan filters its own frame)")
        SemanticSearch(
          (s / "queryId").long, s.asOpt("k").map(_.int).getOrElse(20),
          index = s.asOpt("index").map(_.str),
          nProbe = nProbe, where = where, shortlist = shortlist)
      },
      fuseTopK = j.asOpt("fuseTopK").map(_.int).getOrElse(10),
      weights = weights,
      passage = passage,
      maxsim = maxsim,
      analyzer = analyzer,
      phrase = phrase,
      near = near,
      index = index,
      facets = facets,
      snippet = snippet,
      projectId = j.asOpt("projectId").map(_.long))
  }

  /** Parse a group-record search request
    * (platform/src/group_records.rs:215-221; sort is a
    * SortablePropertyRef — propertyType-tagged with a direction,
    * platform/src/lib.rs:451-468). */
  def groupRecordsSearch(json: String,
                         registry: Registry = Registry.open): GroupSearchRequest = {
    implicit val reg: Registry = registry
    val j = Json.parse(json)
    val sort = j.asOpt("sort").map { s =>
      val dir = (s / "direction").str match {
        case "asc"  => true
        case "desc" => false
        case other  => throw JsonError(s"unknown sort direction '$other'")
      }
      Seq((propertyName(s), dir))
    }.getOrElse(Nil)
    GroupSearchRequest(
      groupCol = groupCol(j.asOpt("group").map(_.int).getOrElse(0)),
      time = j.asOpt("time").map(t => queryTime(t, j.asOpt("now"))),
      filters = j.asOpt("filters").map(groupedFilters).getOrElse(Nil),
      properties = j.asOpt("properties").map(_.arr.map(propertyName)).getOrElse(Nil),
      sort = sort,
      limit = j.asOpt("limit").map(_.int).getOrElse(100),
      projectId = j.asOpt("projectId").map(_.long))
  }

  // ---------------- shared fragments ----------------

  private def parseTs(j: JValue): Timestamp = {
    val s = j.str
    val instant =
      try java.time.Instant.parse(s)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.OffsetDateTime.parse(s).toInstant
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDateTime.parse(s.replace(' ', 'T'))
                .atZone(java.time.ZoneOffset.UTC).toInstant
          }
      }
    Timestamp.from(instant)
  }

  private def queryTime(j: JValue, now: Option[JValue]): QueryTime = (j / "type").str match {
    case "between" => QueryTime.Between(parseTs(j / "from"), parseTs(j / "to"))
    case "from"    => QueryTime.From(parseTs(j / "from"))
    case "last" =>
      // `now` anchors Last deterministically (the reference anchors at
      // QueryParams.timestamp, falling back to wall clock —
      // platform/src/event_segmentation.rs:62-64)
      val anchor = now.map(parseTs).getOrElse(new Timestamp(System.currentTimeMillis()))
      QueryTime.Last((j / "last").long, intervalUnit(j / "unit"), anchor)
    case other => throw JsonError(s"unknown time type '$other'")
  }

  private def intervalUnit(j: JValue): TimeIntervalUnit = j.str match {
    case "second" => TimeIntervalUnit.Second
    case "minute" => TimeIntervalUnit.Minute
    case "hour"   => TimeIntervalUnit.Hour
    case "day"    => TimeIntervalUnit.Day
    case "week"   => TimeIntervalUnit.Week
    case "month"  => TimeIntervalUnit.Month
    case "year"   => TimeIntervalUnit.Year
    case other    => throw JsonError(s"unknown interval unit '$other'")
  }

  /** `"group": N` → physical column through the registry's configured
    * group dimensions (reference common/src/lib.rs:16-21 keeps 5
    * fixed `group_{N}` tables; deployments configure the columns
    * here). */
  private def groupCol(idx: Int)(implicit reg: Registry): String =
    reg.groupColumn(idx)

  /** Flattened-PropertyRef name: `{"propertyType":"event"|"group",
    * "propertyName":...}` → physical column, resolved (and, for
    * strict registries, validated) through the metadata registry.
    * Group refs carry the group-dimension index (reference
    * platform/src/lib.rs:440-447 `PropertyRef::Group { property_name,
    * group }`) and resolve through THAT group's namespace — two
    * groups may share a display name and address different columns. */
  private def propertyName(j: JValue)(implicit reg: Registry): String =
    (j / "propertyType").str match {
      case "event" => reg.column((j / "propertyName").str)
      case "group" => reg.groupPropertyColumn(
        j.asOpt("group").map(_.int).getOrElse(0), (j / "propertyName").str)
      case other   => throw JsonError(s"unknown propertyType '$other'")
    }

  private def propOp(j: JValue): PropOp = j.str match {
    case "eq"       => PropOp.Eq
    case "neq"      => PropOp.Neq
    case "gt"       => PropOp.Gt
    case "gte"      => PropOp.Gte
    case "lt"       => PropOp.Lt
    case "lte"      => PropOp.Lte
    case "true"     => PropOp.True
    case "false"    => PropOp.False
    case "exists"   => PropOp.Exists
    case "empty"    => PropOp.Empty
    case "like"     => PropOp.Like
    case "notLike"  => PropOp.NotLike
    case "regex"    => PropOp.Regex
    case "notRegex" => PropOp.NotRegex
    case other      => throw JsonError(s"unknown operation '$other'")
  }

  /** PropValueFilter (platform/src/lib.rs:504-515): internally tagged
    * `property` variant with the PropertyRef flattened in. */
  private def propFilter(j: JValue)(implicit reg: Registry): PropFilter = (j / "type").str match {
    case "property" =>
      PropFilter(propertyName(j), propOp(j / "operation"),
        j.asOpt("value").map(_.arr.map(_.scalar)).getOrElse(Nil))
    case other => throw JsonError(s"unknown filter type '$other'")
  }

  /** EventGroupedFilters → flat filter list: the reference keeps only
    * groups[0].filters (platform/src/event_segmentation.rs:467-480). */
  private def groupedFilters(j: JValue)(implicit reg: Registry): Seq[PropFilter] = j match {
    case JObj(_) =>
      (j / "groups").arr.headOption
        .map(g => (g / "filters").arr.map(propFilter))
        .getOrElse(Nil)
    case JArr(vs) => vs.map(propFilter) // already-flat form
    case other    => throw JsonError(s"expected filters, got ${other.render}")
  }

  private def breakdown(j: JValue)(implicit reg: Registry): String = (j / "type").str match {
    case "property" => propertyName(j)
    case other      => throw JsonError(s"unknown breakdown type '$other'")
  }

  private def aggFn(j: JValue): AggFn = j.str match {
    case "count"          => AggFn.Count
    case "sum"            => AggFn.Sum
    case "min"            => AggFn.Min
    case "max"            => AggFn.Max
    case "avg"            => AggFn.Avg
    case "median"         => AggFn.Median
    case "distinctCount"  => AggFn.DistinctCount
    case "approxDistinct" => AggFn.ApproxDistinctCount()
    case other            => throw JsonError(s"unknown aggregate '$other'")
  }

  /** ES Query enum (platform/src/event_segmentation.rs:241-261).
    * `name` is optional; defaults mirror the names the reference's
    * fix_request assigns (query/src/event_segmentation.rs). */
  private def namedQuery(j: JValue)(implicit reg: Registry): NamedQuery = {
    val (q, defaultName) = (j / "type").str match {
      case "countEvents"         => (Query.CountEvents, "count")
      case "countUniqueGroups"   => (Query.CountUniqueGroups(), "count_unique")
      case "dailyActiveGroups"   => (Query.CountUniqueGroups(Some(TimeIntervalUnit.Day)), "dau")
      case "weeklyActiveGroups"  => (Query.CountUniqueGroups(Some(TimeIntervalUnit.Week)), "wau")
      case "monthlyActiveGroups" => (Query.CountUniqueGroups(Some(TimeIntervalUnit.Month)), "mau")
      case "countPerGroup" =>
        (Query.CountPerGroup(aggFn(j / "aggregate")), "count_per_group")
      case "aggregateProperty" =>
        val p = propertyName(j)
        (Query.AggregateProperty(p, aggFn(j / "aggregate")),
          s"${(j / "aggregate").str}_$p")
      case "aggregatePropertyPerGroup" =>
        val p = propertyName(j)
        (Query.AggregatePropertyPerGroup(p,
          aggFn(j / "aggregatePerGroup"), aggFn(j / "aggregate")),
          s"${(j / "aggregate").str}_${(j / "aggregatePerGroup").str}_$p")
      case "formula" => (Query.Formula((j / "formula").str), "formula")
      case other     => throw JsonError(s"unknown query type '$other'")
    }
    NamedQuery(q, j.asOpt("name").map(_.str).getOrElse(defaultName))
  }

  /** ES event block: flattened EventRef + filters/breakdowns/queries
    * (platform/src/event_segmentation.rs Event struct). */
  private def eventBlock(j: JValue)(implicit reg: Registry): EventBlock = {
    val (name, custom) = (j / "eventType").str match {
      case "regular" => (Some(reg.validateEvent((j / "eventName").str)), None)
      case "all"     => (None, None) // additive: explicit all-events block
      case "custom" =>
        j.asOpt("customEvent") match {
          case Some(ce) => (None, Some(customEventDef(ce)))
          case None     => (None, Some(reg.customEvent((j / "eventId").long)))
        }
      case other => throw JsonError(s"unknown eventType '$other'")
    }
    EventBlock(
      eventName = name,
      filters = j.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil),
      queries = j.asOpt("queries").map(_.arr.map(namedQuery)).getOrElse(Nil),
      breakdowns = j.asOpt("breakdowns").map(_.arr.map(breakdown)).getOrElse(Nil),
      customEvent = custom)
  }

  /** Inline custom-event definition (members recurse like
    * metadata/src/custom_events.rs:52). */
  /** Parse a custom-event definition (also the body of the schema
    * CRUD route, platform/src/http/custom_events.rs create/update). */
  def customEventDef(j: JValue)(implicit reg: Registry): CustomEvent =
    CustomEvent((j / "name").str, (j / "events").arr.map { m =>
      m.asOpt("customEvent") match {
        case Some(inner) => CustomEventMember.Custom(customEventDef(inner))
        case None => CustomEventMember.Event(
          m.asOpt("eventName").map(_.str),
          m.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil))
      }
    })

  /** Render a stored custom-event definition back to the wire shape
    * `customEventDef` parses (the GET side of custom_events.rs
    * get_by_id/list). A stored [[PropFilter]] carries only the
    * resolved physical column, so rendering maps it back through the
    * CURRENT registry: the event namespace's display name if one
    * addresses the column, else the first group namespace's (emitted
    * as a `"group"`-typed ref so it re-resolves through the same
    * namespace), else the raw column — which re-parses via the open
    * registry's passthrough. This keeps GET output valid as a PUT
    * body even after property renames on a strict registry. */
  def customEventJson(ce: CustomEvent)(implicit reg: Registry): String = {
    def scalarJson(v: Any): String = v match {
      case null       => "null"
      case s: String  => JStr(s).render
      case b: Boolean => b.toString
      case n          => n.toString
    }
    def propRef(column: String): String =
      reg.allProperties.find(_.column == column) match {
        case Some(m) =>
          s""""propertyType":"event","propertyName":${JStr(m.name).render}"""
        case None =>
          val fromGroup = reg.groupCols.indices.iterator
            .flatMap(i => reg.groupProperties(i).find(_.column == column)
              .map(m => s""""propertyType":"group","group":$i,"propertyName":${JStr(m.name).render}"""))
            .nextOption()
          fromGroup.getOrElse(
            s""""propertyType":"event","propertyName":${JStr(column).render}""")
      }
    def filterJson(f: PropFilter): String = {
      val vs =
        if (f.values.isEmpty) ""
        else s""","value":${f.values.map(scalarJson).mkString("[", ",", "]")}"""
      s"""{"type":"property",${propRef(f.column)},""" +
        s""""operation":${JStr(opName(f.op)).render}$vs}"""
    }
    def memberJson(m: CustomEventMember): String = m match {
      case CustomEventMember.Custom(inner) =>
        s"""{"customEvent":${customEventJson(inner)}}"""
      case CustomEventMember.Event(name, filters) =>
        val n = name.map(s => s""""eventName":${JStr(s).render}""").toSeq
        val fs = if (filters.isEmpty) Nil
          else Seq(s""""filters":${filters.map(filterJson).mkString("[", ",", "]")}""")
        (n ++ fs).mkString("{", ",", "}")
    }
    s"""{"name":${JStr(ce.name).render},"events":${ce.members.map(memberJson).mkString("[", ",", "]")}}"""
  }

  /** Inverse of [[propOp]]. */
  def opName(op: PropOp): String = op match {
    case PropOp.Eq       => "eq"
    case PropOp.Neq      => "neq"
    case PropOp.Gt       => "gt"
    case PropOp.Gte      => "gte"
    case PropOp.Lt       => "lt"
    case PropOp.Lte      => "lte"
    case PropOp.True     => "true"
    case PropOp.False    => "false"
    case PropOp.Exists   => "exists"
    case PropOp.Empty    => "empty"
    case PropOp.Like     => "like"
    case PropOp.NotLike  => "notLike"
    case PropOp.Regex    => "regex"
    case PropOp.NotRegex => "notRegex"
  }

  private def segmentTime(j: JValue): SegmentTime = (j / "type").str match {
    case "between"    => SegmentTime.Between(parseTs(j / "from"), parseTs(j / "to"))
    case "from"       => SegmentTime.From(parseTs(j / "from"))
    case "last"       => SegmentTime.Last((j / "last").long, intervalUnit(j / "unit"))
    case "windowEach" => SegmentTime.Each((j / "n").long, intervalUnit(j / "unit"))
    case "afterFirstUse" =>
      SegmentTime.AfterFirstUse((j / "within").long, intervalUnit(j / "unit"))
    case other => throw JsonError(s"unknown segment time type '$other'")
  }

  /** SegmentCondition (platform/src/lib.rs:1004-1027) with the
    * DidEventAggregate variants folded in (lib.rs:869-894). */
  private def segmentCondition(j: JValue)(implicit reg: Registry): SegmentCondition = (j / "type").str match {
    case "hasPropertyValue" =>
      SegmentCondition.HasPropertyValue(
        propertyName(j / "property"), propOp(j / "operation"),
        j.asOpt("value").map(_.arr.map(_.scalar)).getOrElse(Nil))
    case "hadPropertyValue" =>
      SegmentCondition.HadPropertyValue(
        propertyName(j / "property"), propOp(j / "operation"),
        j.asOpt("value").map(_.arr.map(_.scalar)).getOrElse(Nil),
        j.asOpt("time").map(segmentTime))
    case "didEvent" =>
      val ev = j.asOpt("eventName").map(_.str)
      val filters = j.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil)
      val agg = j / "aggregate"
      (agg / "type").str match {
        case "count" =>
          SegmentCondition.DidEventCount(ev, filters,
            propOp(agg / "operation"), (agg / "value").long, segmentTime(agg / "time"))
        case "historicalCount" =>
          // count over all history (reference lib.rs:890-894)
          SegmentCondition.DidEventCount(ev, filters,
            propOp(agg / "operation"), (agg / "value").long,
            SegmentTime.From(new Timestamp(0L)))
        case "aggregateProperty" =>
          SegmentCondition.DidEventAggregateProperty(ev, filters,
            propertyName(agg), aggFn(agg / "aggregate"),
            propOp(agg / "operation"), (agg / "value").num, segmentTime(agg / "time"))
        case "relativeCount" =>
          SegmentCondition.DidEventRelativeCount(ev, filters,
            agg.asOpt("eventName").map(_.str),
            agg.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil),
            propOp(agg / "operation"), segmentTime(agg / "time"))
        case other => throw JsonError(s"unknown didEvent aggregate '$other'")
      }
    case other => throw JsonError(s"unknown segment condition '$other'")
  }

  /** `conditions` is an OR of AND-groups; an empty OR or an empty
    * group has no users to select and no plan to build. */
  private def segment(j: JValue)(implicit reg: Registry): Segment = {
    val name = (j / "name").str
    val conditions = (j / "conditions").arr.map(_.arr.map(segmentCondition))
    if (conditions.isEmpty || conditions.exists(_.isEmpty))
      throw JsonError(s"segment '$name': conditions must be non-empty lists of conditions")
    Segment(name, conditions)
  }

  // ---------------- funnel fragments ----------------

  private def funnelEvent(j: JValue)(implicit reg: Registry): FunnelEvent = (j / "eventType").str match {
    case "regular" => FunnelEvent(Some(reg.validateEvent((j / "eventName").str)),
      j.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil))
    case "all" => FunnelEvent(None,
      j.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil))
    case other => throw JsonError(s"unknown eventType '$other'")
  }

  private def funnelCount(j: JValue): FunnelCount = j.str match {
    case "unique"    => FunnelCount.Unique
    case "nonUnique" => FunnelCount.NonUnique
    case "session"   => FunnelCount.Session
    case other       => throw JsonError(s"unknown count '$other'")
  }

  private def funnelFilter(j: JValue): FunnelFilter = (j / "type").str match {
    case "dropOffOnAnyStep" => FunnelFilter.DropOffOnAnyStep
    case "dropOffOnStep"    => FunnelFilter.DropOffOnStep((j / "step").int)
    case "timeToConvert" =>
      FunnelFilter.TimeToConvert((j / "from").long, (j / "to").long)
    case other => throw JsonError(s"unknown funnel filter '$other'")
  }

  private def funnelTouch(j: JValue): FunnelTouch = (j / "type").str match {
    case "first" => FunnelTouch.First
    case "last"  => FunnelTouch.Last
    case "step"  => FunnelTouch.Step((j / "step").int)
    case other   => throw JsonError(s"unknown touch '$other'")
  }

  private def funnelExclude(j: JValue, nSteps: Int)(implicit reg: Registry): FunnelExcludeModel = {
    val (from, to) = j.asOpt("steps") match {
      case None => (0, nSteps - 1)
      case Some(st) => (st / "type").str match {
        case "all"     => (0, nSteps - 1)
        case "between" => ((st / "from").int, (st / "to").int)
        case other     => throw JsonError(s"unknown exclude steps '$other'")
      }
    }
    FunnelExcludeModel(
      j.asOpt("eventName").map(_.str),
      j.asOpt("filters").map(_.arr.map(propFilter)).getOrElse(Nil),
      from, to)
  }
}
