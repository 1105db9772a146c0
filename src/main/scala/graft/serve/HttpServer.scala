package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine.{JsonApi, Metrics, Response}
import graft.model.Json
import graft.model.Json._
import graft.model.{CustomEvent, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin JDK-only HTTP transport over [[graft.engine.JsonApi]] — the
  * analog of the reference's axum router (reference
  * platform/src/http/mod.rs; route shapes from
  * platform/src/http/event_segmentation.rs:31-40, funnel.rs:32,
  * event_records.rs, properties.rs, group_records.rs, reports.rs
  * :201-216). Like the reference, every route nests under
  * `/api/v1/projects/:project_id/…` and the path's project id scopes
  * the request: it is injected into the JSON body (unless the body
  * already pins one) so the engine's tenant filter applies, and the
  * report/dashboard registries are consulted project-first.
  *
  * The handler does parse → [[Metrics.timed]] → JsonApi → JSON
  * response, nothing else — all real work stays in the engine, so a
  * body POSTed here returns byte-identical output to calling JsonApi
  * directly. `com.sun.net.httpserver` ships in the JDK (no new
  * dependency); this transport is a driver-side front door, the data
  * path behind it is the same distributed Spark plan either way.
  *
  * Every accepted connection gets TCP_NODELAY (see the companion
  * object): the server sets `sun.net.httpserver.nodelay` before it
  * creates its first JDK server. The JDK reads that property once per
  * JVM, so a JVM that started another `com.sun.net.httpserver` server
  * first keeps that server's setting. Request bodies over
  * [[GraftHttpServer.MaxBodyBytes]] are answered with 413.
  *
  * Routes:
  *  - POST queries/event-segmentation   → columnar JSON
  *  - POST queries/funnel               → nested funnel JSON
  *  - POST event-records/search, GET event-records/:id → columnar JSON
  *  - POST properties/values            → columnar JSON
  *  - POST group-records/search         → columnar JSON
  *  - POST/GET reports, GET/PUT/DELETE reports/:id, POST reports/:id/run
  *  - POST/GET dashboards, GET/PUT/DELETE dashboards/:id,
  *    POST dashboards/:id/run
  *  - POST bookmarks, GET bookmarks/:id
  *  - GET schema/event-properties[/name/:name], PUT/DELETE
  *    schema/event-properties/:name, GET/POST schema/events,
  *    DELETE schema/events/:name, POST/DELETE
  *    schema/events/name/:event/properties/:prop (associations),
  *    POST schema/custom-events, DELETE schema/custom-events/:id,
  *    GET/POST groups (dimensions, capped at 5) — metadata CRUD over
  *    the copy-on-write registry; queries see the updated snapshot
  *
  * With a [[graft.model.Tenancy]]+[[graft.model.Auth]] attached, the
  * identity surface comes up too (reference platform/src/http/auth.rs
  * :210-217, organizations.rs:61-70, projects.rs:61-70; ingester
  * sources/http/mod.rs:255-256):
  *  - POST auth/signup | auth/login | auth/refresh-token |
  *    auth/switch-organization/:org_id
  *  - GET profile, PUT profile/name | profile/email |
  *    profile/password (self-service; email/password changes
  *    re-verify the current password and rotate the token pair)
  *  - POST/GET organizations, GET/PUT/DELETE organizations/:id
  *  - POST/GET projects, GET organizations/:id/projects
  *  - POST ingest/:token/track — project resolved by ingest token
  *  - GET/PUT /api/v1/admin/settings (with a SettingsProvider —
  *    partial merge, validated save, every secret write-only; behind
  *    the org-owner admin gate)
  *  - GET /api/v1/admin/backups, POST /admin/backups/backup,
  *    GET /admin/backups/:id (with a SettingsProvider AND a
  *    backupStore — archives the store via sources.Backup)
  * and every `/projects/:id/…` query route then demands a Bearer
  * access token whose account may explore that project (the
  * reference's Context extractor + rbac check). Tenancy MUTATIONS
  * (create/rename/delete organization, create project) likewise
  * demand a Bearer token — the acting account is taken from the
  * token's claims, never the request body — and an org role granting
  * manage_organization / manage_projects; tenant READS (org/project
  * listings and by-id gets) filter to the caller's memberships so
  * ingest tokens never enumerate cross-tenant. Without an Auth the
  * server stays open, matching the pre-auth test surface.
  */
final class GraftHttpServer(
    spark: SparkSession,
    events: DataFrame,
    reports: graft.model.Reports = new graft.model.Reports,
    registry: Registry = Registry.open,
    customEvents: Map[Long, CustomEvent] = Map.empty,
    clock: () => Long = () => System.currentTimeMillis(),
    tenancy: Option[graft.model.Tenancy] = None,
    auth: Option[graft.model.Auth] = None,
    settings: Option[graft.model.SettingsProvider] = None,
    /** Store directory the admin backup routes archive (reference
      * platform/src/http/backups.rs); the routes mount only when both
      * this and a settings provider are present. */
    backupStore: Option[String] = None,
    /** Documents (and optional embeddings) frames behind the
      * retrieval route `POST queries/search` — beyond-reference
      * surface; the route mounts only when a documents frame is
      * supplied. */
    documents: Option[DataFrame] = None,
    embeddings: Option[DataFrame] = None,
    /** id → artifact path registry behind the `/admin/indexes`
      * maintenance routes (GDPR delete/purge, atomic retrain) —
      * beyond-reference surface mirroring backupStore's shape; the
      * routes mount only when non-empty (or when an [[indexRoot]]
      * makes the registry writable). */
    indexes: Map[String, String] = Map.empty,
    /** Root directory registrations over `POST /admin/indexes/:id`
      * must live under — the path validation that keeps the route
      * from aiming index maintenance at arbitrary filesystem paths.
      * None (default) leaves the registry read-only: exactly the
      * pre-CRUD static-map surface. */
    indexRoot: Option[String] = None) {

  /** Backup-run records behind `/admin/backups` (reference
    * metadata/src/backups.rs). */
  private val backups = new graft.model.Backups

  /** Live index registry: the constructor map seeds it; CRUD routes
    * mutate it (volatile snapshot swap, the registry-read pattern of
    * `reg`). Registration never touches index bytes — it names an
    * existing artifact; deletion unregisters, never deletes bytes.
    * With an [[indexRoot]], the registry PERSISTS to
    * `<root>/_graft_indexes.json` (atomic tmp+move write, loaded at
    * construction under the constructor map), so registrations
    * survive a server restart — the last gap between CRUD routes and
    * an operable control plane. */
  private val registryFile: Option[java.io.File] =
    indexRoot.map(r => new java.io.File(r, "_graft_indexes.json"))
  /** API-registered entries — the persisted OVERLAY. The file holds
    * exactly these (never constructor wiring), so what an operator
    * registered over the route survives a restart, while the
    * constructor map stays the code's responsibility (and outranks
    * the overlay on id conflict). */
  @volatile private var apiRegistered: Map[String, String] =
    registryFile.filter(_.exists).map { f =>
      // an unreadable overlay must degrade, not refuse to boot: the
      // registry is an optional convenience over the constructor map,
      // and the whole serving plane must not hinge on one file
      // surviving a crash. Corrupt bytes are set aside (inspectable)
      // and the overlay starts empty.
      try Json.parse(java.nio.file.Files.readString(f.toPath)) match {
        case JObj(fields) => fields.map { case (k, v) => k -> v.str }.toMap
        case _            => throw Json.JsonError("not an object")
      } catch {
        case scala.util.control.NonFatal(e) =>
          val aside = new java.io.File(f.getParentFile,
            s"${f.getName}.corrupt-${clock()}")
          java.nio.file.Files.move(f.toPath, aside.toPath): Unit
          System.err.println(s"[graft-http] corrupt index registry " +
            s"${f.getPath} (${e.getMessage}) — moved to ${aside.getPath}, " +
            "starting with an empty overlay")
          Map.empty[String, String]
      }
    }.getOrElse(Map.empty)
  @volatile private var indexReg: Map[String, String] =
    apiRegistered ++ indexes
  /** Serializes registry read-modify-write + file rewrite (the
    * per-index monitors serialize maintenance per id; two REGISTRY
    * writes on different ids still race the shared file without
    * this). */
  private val registryLock = new Object
  private def persistRegistry(): Unit = registryFile.foreach { f =>
    val body = apiRegistered.toSeq.sorted.map { case (k, v) =>
      s"${JStr(k).render}:${JStr(v).render}"
    }.mkString("{", ",", "}")
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    // SYNC: the tmp file's bytes must reach disk BEFORE the rename —
    // without it a crash can publish a truncated file under the final
    // name (rename-before-data on ext4-class filesystems)
    java.nio.file.Files.writeString(tmp.toPath, body,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.SYNC)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }
  /** The index surface mounts when there is anything to serve OR a
    * root makes the registry writable. */
  private def indexesMounted: Boolean = indexReg.nonEmpty || indexRoot.isDefined
  /** Per-index monitors serializing mutating maintenance
    * (delete/purge/retrain/gc): commitNewGeneration's single-rebuilder
    * contract must hold even if the JDK server is given a concurrent
    * executor — two racing retrains on one index would collide on the
    * same gen number and commit torn bytes. Different indexes proceed
    * in parallel; a long retrain never blocks reads (they take no
    * lock). */
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def indexLocked[A](id: String)(body: => A): A =
    indexLocks.computeIfAbsent(id, _ => new Object).synchronized(body)

  /** Live schema state behind the CRUD routes: the constructor's
    * registry/customEvents seed copy-on-write snapshots (reference
    * metadata/src/properties.rs:585-631 update paths mutate RocksDB;
    * here every mutation swaps an immutable Registry). Queries read
    * whatever snapshot is current — a rename is visible to the next
    * request, exactly like the reference's metadata store. */
  // constructor-supplied custom events fold into the registry (and
  // get the same cycle/depth validation as CRUD entries) so there is
  // ONE source of truth — query routes read reg.customEvents
  @volatile private var reg: Registry =
    customEvents.foldLeft(registry) { case (r, (id, ce)) => r.withCustomEvent(id, ce) }
  /** Serializes schema read-modify-write cycles. The server never
    * calls `setExecutor`, so today handlers run one at a time on the
    * JDK dispatcher thread; the lock is there for a handler pool (ROADMAP
    * D7), under which two interleaved renames on the volatile snapshot
    * would silently drop one. Queries stay lock-free (they read one
    * volatile snapshot). */
  private val schemaLock = new Object
  /** Test/embedding hook: the current schema snapshot. */
  def currentRegistry: Registry = reg

  private val server = GraftHttpServer.bind()
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): GraftHttpServer = { server.start(); this }
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)

  private val ProjectPath = "/api/v1/projects/([0-9]+)(/.*)".r
  private val ApiPath = "/api/v1(/.*)".r

  /** Events POSTed to `ingest/:token/track`, buffered request-at-a-time
    * like the reference ingester's HTTP source feeds its executor
    * (ingester sources/http/mod.rs:109-135) — drain into
    * [[graft.ingest.Ingest.executeTrackBatch]] as a micro-batch. */
  private val trackBuffer = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  def trackedEvents: Seq[(Long, String)] = trackBuffer.synchronized(trackBuffer.toSeq)

  private def handle(ex: HttpExchange): Unit = {
    // prometheus scrape endpoint (reference platform/src/lib.rs mounts
    // its recorder at the server root the same way): text exposition,
    // no auth — counters only, no tenant data
    if (ex.getRequestMethod == "GET" && ex.getRequestURI.getPath == "/metrics") {
      val bytes = Metrics.prometheusText.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
      return
    }
    val (status, json) =
      try {
        val body = readBody(ex)
        ex.getRequestURI.getPath match {
          case ProjectPath(pid, rest) =>
            authorize(ex, pid.toLong) match {
              case Left(denied) => denied
              case Right(acting) =>
                route(ex.getRequestMethod, pid.toLong,
                  rest.split("/").filter(_.nonEmpty).toList, body, acting)
            }
          case ApiPath(rest) =>
            routeIdentity(ex, ex.getRequestMethod,
              rest.split("/").filter(_.nonEmpty).toList, body)
          case _ => 404 -> err("not found")
        }
      } catch {
        case e: GraftHttpServer.BodyTooLarge => 413 -> err(e.getMessage)
        case e: graft.model.Auth.ForbiddenError => 403 -> err(e.getMessage)
        case e: Json.JsonError          => 400 -> err(e.message)
        case e: IllegalArgumentException => 400 -> err(e.getMessage)
        case e: RuntimeException
          if e.getMessage != null && e.getMessage.contains("not found") =>
          404 -> err(e.getMessage)
        // anything else is a server-side failure: answer 500 rather
        // than dropping the connection with no bytes (the reference's
        // axum error layer does the same fold to a status response)
        case scala.util.control.NonFatal(e) =>
          500 -> err(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    // a refused body is read and dropped, up to one bound more, after
    // the answer is written: a client that reads the answer only once
    // it has sent its body (the JDK HttpClient does) would otherwise
    // meet a reset connection instead of the 413
    if (status == 413) discard(ex.getRequestBody, GraftHttpServer.MaxBodyBytes)
    ex.close()
  }

  /** The request body, or [[GraftHttpServer.BodyTooLarge]] when it is
    * over [[GraftHttpServer.MaxBodyBytes]]. A declared Content-Length
    * over the bound is refused before any byte is read; a body of
    * unknown length (chunked) is read up to one byte past the bound. */
  private def readBody(ex: HttpExchange): String = {
    import GraftHttpServer.{BodyTooLarge, MaxBodyBytes}
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.trim.toLongOption)
    if (declared.exists(_ > MaxBodyBytes)) throw new BodyTooLarge
    val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bytes.length > MaxBodyBytes) throw new BodyTooLarge
    new String(bytes, StandardCharsets.UTF_8)
  }

  /** Reads and drops up to `limit` bytes. Not `skip`: the JDK body
    * stream inherits FilterInputStream.skip, which bypasses the body's
    * length framing. */
  private def discard(in: java.io.InputStream, limit: Int): Unit = {
    val buf = new Array[Byte](8192)
    var left = limit
    var n = 0
    while (left > 0 && { n = in.read(buf, 0, math.min(left, buf.length)); n > 0 })
      left -= n
  }

  private def route(method: String, pid: Long, segs: List[String],
                    body: String, acting: Option[Long]): (Int, String) = (method, segs) match {
    case ("POST", List("queries", "event-segmentation")) =>
      200 -> JsonApi.columnarJson("event_segmentation")(JsonApi.eventSegmentation(
        events, withProject(body, pid), reg.customEvents, reg))
    case ("POST", List("queries", "funnel")) =>
      200 -> JsonApi.funnelJson(spark, events, withProject(body, pid), reg)
    // retrieval (beyond-reference): lexical BM25, or hybrid RRF when
    // the request carries a semantic block — the JSON route IS the
    // library operator (JsonApi.search)
    case ("POST", List("queries", "search")) if documents.isDefined =>
      200 -> Metrics.timed("search") {
        // persisted-index serving: a request naming an index resolves
        // it through the SAME admin registry as /admin/indexes —
        // registered ids only, never raw request-supplied paths (404
        // on unknown, like every registry lookup)
        val resolver = Some((id: String) => indexReg.getOrElse(id,
          throw new RuntimeException(s"index $id not found")))
        val reqBody = withProject(body, pid)
        val t = Response.collect(JsonApi.search(
          documents.get, reqBody, embeddings = embeddings,
          resolveIndex = resolver))
        Metrics.recordRows("search", t.rowCount)
        // a request carrying facets/snippet blocks gets the search-UI
        // companion sections BESIDE the ranked list, each the exact
        // columnar serialization of its library operator
        val req = graft.model.JsonDsl.search(reqBody)
        if (req.facets.isEmpty && req.snippet.isEmpty) t.toJson
        else {
          val parts = Seq(s""""results":${t.toJson}""") ++
            (if (req.facets.isEmpty) Nil
             else Seq(s""""facets":${Response.collect(JsonApi.searchFacets(
               documents.get, reqBody, resolveIndex = resolver)).toJson}""")) ++
            (if (req.snippet.isEmpty) Nil
             else Seq(s""""snippets":${Response.collect(JsonApi.searchSnippets(
               spark, reqBody, resolveIndex = resolver)).toJson}"""))
          s"{${parts.mkString(",")}}"
        }
      }
    case ("POST", List("event-records", "search")) =>
      200 -> JsonApi.columnarJson("event_records_search")(JsonApi.eventRecordsSearch(
        events, withProject(body, pid), reg))
    case ("POST", List("properties", "values")) =>
      200 -> JsonApi.columnarJson("property_values")(JsonApi.propertyValues(
        events, withProject(body, pid), reg))
    case ("POST", List("group-records", "search")) =>
      200 -> JsonApi.columnarJson("group_records_search")(JsonApi.groupRecordsSearch(
        events, withProject(body, pid), reg))
    // one group's current profile row (reference group_records.rs:45
    // `GET /:group_id/:id` → get_by_id): point-filter the group's
    // events, then dedup-on-read picks the latest version
    // the id segment stays RAW: string-keyed group dimensions are
    // addressable, numeric ones coerce (bad number → 400)
    case ("GET", List("group-records", IdSeg(gid), rawId)) =>
      Metrics.timed("group_record_get") {
        val table = Response.collect(graft.engine.Records.getGroupByKey(
          graft.engine.Exprs.tenantScope(events, Some(pid)),
          reg.groupColumn(gidIdx(gid)), rawId))
        if (table.columns.forall(_.values.isEmpty))
          404 -> err(s"group $gid record $rawId not found")
        else 200 -> table.toJson
      }

    // ---- schema CRUD (reference platform/src/http/properties.rs:
    // 164-176 event-properties routes, events.rs:100-118, custom_
    // events.rs; mutations demand ManageSchema, rbac.rs
    // PROJECT_PERMISSIONS) ----
    // group DIMENSIONS (reference platform/src/http/groups.rs —
    // POST create / GET list under the project; the reference caps at
    // GROUPS_COUNT=5, common/src/lib.rs:16-21)
    case ("GET", List("groups")) =>
      200 -> reg.groupCols.zipWithIndex.map { case (c, i) =>
        s"""{"id":$i,"column":${JStr(c).render}}"""
      }.mkString("[", ",", "]")
    case ("POST", List("groups")) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        val column = (Json.parse(body) / "column").str
        if (reg.groupCols.size >= 5)
          400 -> err("maximum 5 group dimensions")
        else if (reg.groupCols.contains(column))
          400 -> err(s"group dimension '$column' already exists")
        else {
          reg = reg.withGroupColumns(reg.groupCols :+ column)
          200 -> s"""{"id":${reg.groupCols.size - 1},"column":${JStr(column).render}}"""
        }
      })

    // per-group property namespaces (reference platform/src/http/
    // properties.rs:149-162 attach_group_routes — each group dimension
    // owns an independent display-name map under
    // /schema/group-properties/:group_id)
    case ("GET", List("schema", "group-properties", IdSeg(gid))) =>
      200 -> reg.groupProperties(gidIdx(gid)).map(propJson).mkString("[", ",", "]")
    case ("GET", List("schema", "group-properties", IdSeg(gid), "name", name)) =>
      reg.groupProperties(gidIdx(gid)).find(_.name.equalsIgnoreCase(name))
        .map(m => 200 -> propJson(m))
        .getOrElse(404 -> err(s"group $gid property '$name' not found"))
    case ("PUT", List("schema", "group-properties", IdSeg(gid), name)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        if (!reg.groupProperties(gidIdx(gid)).exists(_.name.equalsIgnoreCase(name)))
          return 404 -> err(s"group $gid property '$name' not found")
        val j = Json.parse(body)
        var next = reg
        val finalName = j.asOpt("displayName").map(_.str).getOrElse(name)
        if (finalName != name)
          next = next.renameGroupProperty(gidIdx(gid), name, finalName)
        j.asOpt("isDictionary").map(_.bool).foreach { d =>
          next = next.withGroupProperty(gidIdx(gid),
            next.groupProperty(gidIdx(gid), finalName).copy(isDictionary = d))
        }
        reg = next
        200 -> propJson(reg.groupProperty(gidIdx(gid), finalName))
      })
    case ("DELETE", List("schema", "group-properties", IdSeg(gid), name)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        if (!reg.groupProperties(gidIdx(gid)).exists(_.name.equalsIgnoreCase(name)))
          404 -> err(s"group $gid property '$name' not found")
        else { reg = reg.withoutGroupProperty(gidIdx(gid), name); 200 -> "{}" }
      })

    case ("GET", List("schema", "event-properties")) =>
      200 -> reg.allProperties.map(propJson).mkString("[", ",", "]")
    case ("GET", List("schema", "event-properties", "name", name)) =>
      reg.allProperties.find(_.name.equalsIgnoreCase(name))
        .map(m => 200 -> propJson(m))
        .getOrElse(404 -> err(s"property '$name' not found"))
    case ("PUT", List("schema", "event-properties", name)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        // existence check BEFORE any update: on an open (non-strict)
        // registry, property() would otherwise synthesize a passthrough
        // meta for an unknown name and the flag update would register a
        // phantom property — the GET-by-name route 404s, so must PUT
        if (!reg.allProperties.exists(_.name.equalsIgnoreCase(name)))
          return 404 -> err(s"property '$name' not found")
        val j = Json.parse(body)
        var next = reg
        // display rename first (UpdatePropertyRequest.display_name),
        // then flag updates address the NEW name
        val finalName = j.asOpt("displayName").map(_.str).getOrElse(name)
        if (finalName != name) next = next.renameProperty(name, finalName)
        j.asOpt("isDictionary").map(_.bool).foreach { d =>
          next = next.withProperty(next.property(finalName).copy(isDictionary = d))
        }
        reg = next
        200 -> propJson(reg.property(finalName))
      })
    case ("DELETE", List("schema", "event-properties", name)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        if (!reg.allProperties.exists(_.name.equalsIgnoreCase(name)))
          404 -> err(s"property '$name' not found")
        else { reg = reg.withoutProperty(name); 200 -> "{}" }
      })
    case ("GET", List("schema", "events")) =>
      200 -> reg.eventNames.toSeq.sorted.map { n =>
        val ps = reg.eventProperties.getOrElse(n, Set.empty)
          .toSeq.sorted.map(p => JStr(p).render).mkString("[", ",", "]")
        s"""{"name":${JStr(n).render},"properties":$ps}"""
      }.mkString("[", ",", "]")
    // single event by name (reference events.rs:109
    // `GET /name/:event_name` → get_by_name)
    case ("GET", List("schema", "events", "name", name)) =>
      if (!reg.eventNames.contains(name)) 404 -> err(s"event '$name' not found")
      else {
        val ps = reg.eventProperties.getOrElse(name, Set.empty)
          .toSeq.sorted.map(p => JStr(p).render).mkString("[", ",", "]")
        200 -> s"""{"name":${JStr(name).render},"properties":$ps}"""
      }
    // event↔property association (reference events.rs:111-117
    // attach_property / detach_property routes)
    case ("POST", List("schema", "events", "name", event, "properties", prop)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        reg = reg.withEventProperty(event, prop)
        200 -> s"""{"event":${JStr(event).render},"attached":${JStr(prop).render}}"""
      })
    case ("DELETE", List("schema", "events", "name", event, "properties", prop)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        reg = reg.withoutEventProperty(event, prop)
        200 -> "{}"
      })
    case ("POST", List("schema", "events")) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        val name = (Json.parse(body) / "name").str
        reg = reg.withEventName(name)
        200 -> s"""{"name":${JStr(name).render}}"""
      })
    case ("DELETE", List("schema", "events", name)) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        reg = reg.withoutEventName(name); 200 -> "{}"
      })
    case ("POST", List("schema", "custom-events")) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        val j = Json.parse(body)
        val id = (j / "id").long
        val ce = graft.model.JsonDsl.customEventDef(j / "definition")(reg)
        reg = reg.withCustomEvent(id, ce)  // validates cycle/depth at entry
        200 -> s"""{"id":$id,"name":${JStr(ce.name).render}}"""
      })
    case ("DELETE", List("schema", "custom-events", IdSeg(id))) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        reg = reg.withoutCustomEvent(id)
        200 -> "{}"
      })
    // custom-event reads + update (reference custom_events.rs:68-70
    // `GET /` list, `GET /:id`, `PUT /:id`); definitions render in the
    // registry's canonical form via JsonDsl.customEventJson
    case ("GET", List("schema", "custom-events")) =>
      200 -> reg.customEvents.toSeq.sortBy(_._1).map { case (id, ce) =>
        s"""{"id":$id,"definition":${graft.model.JsonDsl.customEventJson(ce)(reg)}}"""
      }.mkString("[", ",", "]")
    case ("GET", List("schema", "custom-events", IdSeg(id))) =>
      reg.customEvents.get(id)
        .map(ce => 200 -> s"""{"id":$id,"definition":${graft.model.JsonDsl.customEventJson(ce)(reg)}}""")
        .getOrElse(404 -> err(s"custom event $id not found"))
    case ("PUT", List("schema", "custom-events", IdSeg(id))) =>
      schemaGate(pid, acting).getOrElse(schemaLock.synchronized {
        // update-only: an unknown id 404s rather than upserting, like
        // the reference's provider.update on a missing key
        if (!reg.customEvents.contains(id))
          404 -> err(s"custom event $id not found")
        else {
          val ce = graft.model.JsonDsl.customEventDef(Json.parse(body) / "definition")(reg)
          reg = reg.withCustomEvent(id, ce)  // re-validates cycle/depth
          200 -> s"""{"id":$id,"name":${JStr(ce.name).render}}"""
        }
      })

    case ("POST", List("reports")) =>
      val j = Json.parse(body)
      val r = reports.create(pid, (j / "name").str, (j / "type").str,
        (j / "query").render, clock(),
        tags = j.asOpt("tags").map(_.arr.map(_.str)).getOrElse(Nil),
        description = j.asOpt("description").map(_.str))
      200 -> reportJson(r)
    case ("GET", List("reports")) =>
      200 -> reports.list(pid).map(reportJson).mkString("[", ",", "]")
    case ("GET", List("reports", IdSeg(id))) =>
      reports.get(pid, id).map(r => 200 -> reportJson(r))
        .getOrElse(404 -> err(s"report $id not found"))
    case ("DELETE", List("reports", IdSeg(id))) =>
      reports.delete(pid, id); 200 -> "{}"
    case ("POST", List("reports", IdSeg(id), "run")) =>
      reports.get(pid, id)
        .map { r =>
          200 -> Metrics.timed("report_run") {
            Response.collect(
              JsonApi.runReport(spark, events, r, reg.customEvents, reg)).toJson
          }
        }
        .getOrElse(404 -> err(s"report $id not found"))
    // partial update (reference reports.rs update route —
    // UpdateReportRequest's optional fields; absent fields keep their
    // value, the model records updatedAt)
    case ("PUT", List("reports", IdSeg(id))) =>
      val j = Json.parse(body)
      val r = reports.update(pid, id, clock(),
        name = j.asOpt("name").map(_.str),
        typ = j.asOpt("type").map(_.str),
        queryJson = j.asOpt("query").map(_.render),
        tags = j.asOpt("tags").map(_.arr.map(_.str)))
      200 -> reportJson(r)

    case ("POST", List("dashboards")) =>
      val j = Json.parse(body)
      val d = reports.createDashboard(pid, (j / "name").str,
        panelsOf(j / "panels"), clock())
      200 -> dashboardJson(d)
    // full dashboard CRUD (reference dashboards.rs:69-79 —
    // POST create / GET list, GET/PUT/DELETE by id)
    case ("GET", List("dashboards")) =>
      200 -> reports.listDashboards(pid).map(dashboardJson).mkString("[", ",", "]")
    case ("GET", List("dashboards", IdSeg(id))) =>
      reports.getDashboard(pid, id).map(d => 200 -> dashboardJson(d))
        .getOrElse(404 -> err(s"dashboard $id not found"))
    case ("PUT", List("dashboards", IdSeg(id))) =>
      val j = Json.parse(body)
      val d = reports.updateDashboard(pid, id, clock(),
        name = j.asOpt("name").map(_.str),
        panels = j.asOpt("panels").map(panelsOf))
      200 -> dashboardJson(d)
    case ("DELETE", List("dashboards", IdSeg(id))) =>
      reports.deleteDashboard(pid, id); 200 -> "{}"
    case ("POST", List("dashboards", IdSeg(id), "run")) =>
      reports.getDashboard(pid, id)
        .map { d =>
          val results = JsonApi.runDashboard(spark, events, d, reports,
            reg.customEvents, reg)
          200 -> results.map { case (p, df) =>
            s"""{"reportId":${p.reportId},"result":${Response.collect(df).toJson}}"""
          }.mkString("""{"panels":[""", ",", "]}")
        }
        .getOrElse(404 -> err(s"dashboard $id not found"))

    // bookmarks: saved ad-hoc queries (reference platform/src/http/
    // bookmarks.rs — POST create, GET by id; no list/delete upstream)
    case ("POST", List("bookmarks")) =>
      val j = Json.parse(body)
      val typ = j.asOpt("type").map(_.str)
        .getOrElse(graft.model.ReportType.EventSegmentation)
      if (!graft.model.ReportType.all.contains(typ))
        400 -> err(s"unknown report type: $typ")
      else {
        val b = reports.createBookmark(pid, typ,
          j.asOpt("query").map(_.render), clock())
        200 -> bookmarkJson(b)
      }
    case ("GET", List("bookmarks", IdSeg(id))) =>
      reports.getBookmark(pid, id).map(b => 200 -> bookmarkJson(b))
        .getOrElse(404 -> err(s"bookmark $id not found"))

    // single event record by id (reference event_records.rs:421-492,
    // routed at :38-44) — the engine path q_record_by_id exercises,
    // scoped to the path's project like the search route
    case ("GET", List("event-records", IdSeg(id))) =>
      Metrics.timed("event_record_get") {
        val table = Response.collect(graft.engine.Records.getById(
          graft.engine.Exprs.tenantScope(events, Some(pid)), id))
        // a missing (or other-project) id is 404, like every other
        // by-id GET and the reference's event_records.rs get route —
        // never a 200 with empty columns
        if (table.columns.forall(_.values.isEmpty))
          404 -> err(s"event record $id not found")
        else 200 -> table.toJson
      }

    case _ => 404 -> err("not found")
  }

  private def panelsOf(j: Json.JValue): Seq[graft.model.Panel] =
    j.arr.map { p =>
      graft.model.Panel((p / "reportId").long,
        p.asOpt("x").map(_.int).getOrElse(0), p.asOpt("y").map(_.int).getOrElse(0),
        p.asOpt("w").map(_.int).getOrElse(1), p.asOpt("h").map(_.int).getOrElse(1))
    }

  private def dashboardJson(d: graft.model.Dashboard): String = {
    val panels = d.panels.map(p =>
      s"""{"reportId":${p.reportId},"x":${p.x},"y":${p.y},"w":${p.w},"h":${p.h}}""")
      .mkString("[", ",", "]")
    s"""{"id":${d.id},"projectId":${d.projectId},"name":${JStr(d.name).render},"panels":$panels}"""
  }

  private def bookmarkJson(b: graft.model.Bookmark): String = {
    val q = b.queryJson.getOrElse("null")
    s"""{"id":${b.id},"projectId":${b.projectId},"type":${JStr(b.typ).render},"query":$q,"createdAt":${b.createdAt}}"""
  }

  /** The ONE Bearer parse+verify (the reference's Context extractor,
    * platform/src/context.rs): header shape and token problems fold to
    * 401 here; [[authorize]] / [[actor]] / [[withBearer]] all build on
    * it so token handling cannot diverge between route families. */
  private def bearerClaims(ex: HttpExchange, a: graft.model.Auth)
      : Either[(Int, String), (String, graft.model.Token.AccessClaims)] = {
    val header = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!header.startsWith("Bearer ")) Left(401 -> err("unauthorized"))
    else {
      val tok = header.stripPrefix("Bearer ")
      a.authenticate(tok) match {
        case Left(msg)     => Left(401 -> err(msg))
        case Right(claims) => Right((tok, claims))
      }
    }
  }

  /** Bearer-token gate for `/projects/:id/…` routes — claims + the
    * rbac ExploreProjects walk (common/src/rbac.rs). Right(acting
    * account) = allowed (None when no Auth is attached — servers
    * constructed without one stay open); Left = denial. The account
    * flows on to per-route permission checks (schema mutations demand
    * manage_schema on top of explore). */
  private def authorize(ex: HttpExchange, pid: Long): Either[(Int, String), Option[Long]] =
    auth match {
      case None => Right(None)
      case Some(a) =>
        bearerClaims(ex, a).flatMap { case (_, claims) =>
          if (tenancy.forall(_.canExploreProject(claims.accountId, pid)))
            Right(Some(claims.accountId))
          else Left(403 -> err(s"account ${claims.accountId} may not explore project $pid"))
        }
    }

  /** ManageSchema gate for schema mutations: explore got the caller
    * through [[authorize]]; writes additionally need manage_schema on
    * the project (or org-level manage_projects/ownership) — reference
    * rbac.rs PROJECT_PERMISSIONS, checked by every update/delete
    * handler in platform/src/properties.rs and events.rs. */
  private def schemaGate(pid: Long, acting: Option[Long]): Option[(Int, String)] =
    acting.flatMap { acc =>
      if (tenancy.forall(_.canManageSchema(acc, pid))) None
      else Some(403 -> err(s"account $acc may not manage_schema in project $pid"))
    }

  private def propJson(m: graft.model.PropertyMeta): String =
    s"""{"name":${JStr(m.name).render},"column":${JStr(m.column).render},""" +
      s""""dataType":${JStr(m.dataType).render},"isDictionary":${m.isDictionary},""" +
      s""""isSystem":${m.isSystem}}"""

  /** Actor resolution for identity-plane mutations (the reference's
    * Context extractor, platform/src/context.rs): with an Auth
    * attached, the acting account comes from the Bearer access token —
    * NEVER from the request body; without one the pre-auth test
    * surface stays open and Right(None) lets callers fall back to
    * body-supplied ids. */
  private def actor(ex: HttpExchange): Either[(Int, String), Option[Long]] =
    auth match {
      case None    => Right(None)
      case Some(a) => bearerClaims(ex, a).map(c => Some(c._2.accountId))
    }

  /** Org-scoped RBAC gate for tenancy mutations (reference
    * common/src/rbac.rs ORGANIZATION_PERMISSIONS; platform/src/
    * organizations.rs, projects.rs put their create/delete behind it):
    * resolve the actor, 404 an unknown org BEFORE the role check (no
    * membership oracle on missing ids), then demand `permission` of
    * the actor's role in that org. */
  private def requireOrgRole(ex: HttpExchange, orgId: Long, permission: String,
                             bodyActor: => Json.JValue)(
                             run: Long => (Int, String)): (Int, String) =
    actor(ex) match {
      case Left(denied) => denied
      case Right(acting) =>
        val t = tenancy.getOrElse(return 404 -> err("not found"))
        val org = t.organization(orgId)
          .getOrElse(return 404 -> err(s"organization $orgId not found"))
        acting match {
          case None =>
            // open pre-auth surface: the body MAY carry an actor id,
            // but an empty/malformed body (e.g. a bare DELETE) must
            // not turn a working mutation into a 400
            val fromBody =
              try {
                val b = bodyActor
                b.asOpt("createdBy").map(_.long)
                  .orElse(b.asOpt("updatedBy").map(_.long))
              } catch { case _: Json.JsonError => None }
            run(fromBody.getOrElse(org.createdBy))
          case Some(accId) =>
            // global admin short-circuits the org-role walk, exactly as
            // the reference grants Admin→Permission::All before any
            // org/project check (common/src/rbac.rs:63,
            // platform/src/context.rs check_permission)
            if (t.isGlobalAdmin(accId)) run(accId)
            else org.roleOf(accId).filter(graft.model.Rbac.orgAllows(_, permission)) match {
              case Some(_) => run(accId)
              case None => 403 -> err(
                s"account $accId may not $permission in organization $orgId")
            }
        }
    }

  /** Identity-plane routes (reference platform/src/http/auth.rs:210-217,
    * organizations.rs:61-70, projects.rs:61-70; ingest token routes
    * ingester/src/sources/http/mod.rs:255-256). Only mounted when a
    * Tenancy is attached. */
  private def routeIdentity(ex: HttpExchange, method: String, segs: List[String],
                            body: String): (Int, String) = {
    // lazy: the admin/settings routes mount without a Tenancy; every
    // tenancy-backed route 404s through the handler's not-found fold
    def t = tenancy.getOrElse(sys.error("not found"))
    def j = Json.parse(body)
    (method, segs) match {
      case ("POST", List("auth", "signup")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        val tok = a.signUp((j / "email").str, (j / "password").str,
          j.asOpt("name").map(_.str))
        200 -> tokensJson(tok)
      case ("POST", List("auth", "login")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        try 200 -> tokensJson(a.logIn((j / "email").str, (j / "password").str,
          j.asOpt("organizationId").map(_.long)))
        catch { case e: IllegalArgumentException => 401 -> err(e.getMessage) }
      case ("POST", List("auth", "refresh-token")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        try 200 -> tokensJson(a.refresh((j / "refreshToken").str))
        catch { case e: IllegalArgumentException => 401 -> err(e.getMessage) }

      case ("POST", List("auth", "switch-organization", IdSeg(orgId))) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          try 200 -> tokensJson(a.switchOrganization(tok, orgId))
          catch { case e: IllegalArgumentException => 403 -> err(e.getMessage) }
        }

      // profile self-service (reference http/auth.rs:217-220): the
      // account comes from the Bearer token; email/password changes
      // re-verify the CURRENT password and rotate the token pair
      case ("GET", List("profile")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          try 200 -> accountJson(a.profile(tok))
          catch { case e: IllegalArgumentException => 401 -> err(e.getMessage) }
        }
      case ("PUT", List("profile", "name")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          200 -> accountJson(a.updateName(tok, (j / "name").str))
        }
      case ("PUT", List("profile", "email")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          200 -> tokensJson(a.updateEmail(tok, (j / "email").str, (j / "password").str))
        }
      case ("PUT", List("profile", "password")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          200 -> tokensJson(a.updatePassword(tok,
            (j / "password").str, (j / "newPassword").str))
        }
      // first-login set flows for admin-provisioned accounts
      // (reference http/auth.rs:221-222 routes, provider.rs:262-322):
      // gated on the account's force_update flags — 403 otherwise
      case ("PUT", List("profile", "set-password")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          200 -> tokensJson(a.setPassword(tok, (j / "password").str))
        }
      case ("PUT", List("profile", "set-email")) =>
        val a = auth.getOrElse(return 404 -> err("not found"))
        withBearer(ex) { tok =>
          200 -> tokensJson(a.setEmail(tok, (j / "email").str))
        }

      case ("POST", List("organizations")) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            // any authenticated account may found an org (it becomes
            // owner, organizations.rs:64); the creator is the token's
            // account, never a body-supplied id
            val createdBy = acting.getOrElse((j / "createdBy").long)
            200 -> orgJson(t.createOrganization((j / "name").str, createdBy, clock()))
        }
      // reads are scoped to the caller's memberships when an Auth is
      // attached (the reference lists via the Context's account); an
      // auth-less server keeps the open pre-auth surface. Tenant
      // metadata — and above all PROJECT INGEST TOKENS — must never
      // enumerate cross-tenant.
      case ("GET", List("organizations")) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            val visible = acting match {
              case None => t.listOrganizations()
              // a global admin sees every tenant (reference context.rs
              // check_permission: Admin→All precedes membership walks)
              case Some(acc) if t.isGlobalAdmin(acc) => t.listOrganizations()
              case Some(acc) => t.listOrganizations().filter(_.isMember(acc))
            }
            200 -> visible.map(orgJson).mkString("[", ",", "]")
        }
      case ("GET", List("organizations", IdSeg(id))) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            t.organization(id) match {
              case None => 404 -> err(s"organization $id not found")
              case Some(o) if acting.forall(a => o.isMember(a) || t.isGlobalAdmin(a)) =>
                200 -> orgJson(o)
              case Some(_) =>
                403 -> err(s"account ${acting.get} is not a member of organization $id")
            }
        }
      case ("GET", List("organizations", IdSeg(id), "projects")) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            val visible = acting match {
              case None      => t.listProjects(id)
              case Some(acc) => t.listProjects(id).filter(p => t.canExploreProject(acc, p.id))
            }
            200 -> visible.map(projectJson).mkString("[", ",", "]")
        }
      case ("PUT", List("organizations", IdSeg(id))) =>
        requireOrgRole(ex, id, "manage_organization", bodyActor = j) {
          actorId => 200 -> orgJson(
            t.renameOrganization(id, (j / "name").str, actorId, clock()))
        }
      case ("DELETE", List("organizations", IdSeg(id))) =>
        requireOrgRole(ex, id, "manage_organization", bodyActor = j) { _ =>
          t.deleteOrganization(id); 200 -> "{}"
        }

      case ("POST", List("projects")) =>
        requireOrgRole(ex, (j / "organizationId").long, "manage_projects",
            bodyActor = j) { actorId =>
          200 -> projectJson(t.createProject(
            (j / "organizationId").long, (j / "name").str,
            (j / "token").str, actorId, clock(),
            sessionDurationSeconds =
              j.asOpt("sessionDurationSeconds").map(_.long).getOrElse(3600L)))
        }
      case ("GET", List("projects")) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            val visible = acting match {
              case None      => t.listProjects()
              case Some(acc) => t.listProjects().filter(p => t.canExploreProject(acc, p.id))
            }
            200 -> visible.map(projectJson).mkString("[", ",", "]")
        }
      case ("GET", List("projects", IdSeg(id))) =>
        actor(ex) match {
          case Left(denied) => denied
          case Right(acting) =>
            t.project(id) match {
              case None => 404 -> err(s"project $id not found")
              case Some(p) if acting.forall(t.canExploreProject(_, p.id)) =>
                200 -> projectJson(p)
              case Some(_) =>
                403 -> err(s"account ${acting.get} may not explore project $id")
            }
        }
      // project update/delete (reference projects.rs:66-69
      // `PUT/DELETE /:project_id`, behind ManageProjects of the
      // OWNING org — resolved from the project, never the body)
      case ("PUT", List("projects", IdSeg(id))) =>
        val proj = t.project(id).getOrElse(return 404 -> err(s"project $id not found"))
        requireOrgRole(ex, proj.organizationId, "manage_projects", bodyActor = j) {
          actorId =>
            // explicit-null description clears it (partial-update
            // OptionalProperty semantics); absent leaves it alone.
            // asOpt folds JNull to None, so read the raw field list
            val desc = j match {
              case Json.JObj(fields) => fields.collectFirst {
                case ("description", Json.JNull) => None
                case ("description", v)          => Some(v.str)
              }
              case _ => None
            }
            200 -> projectJson(t.updateProject(id, actorId, clock(),
              name = j.asOpt("name").map(_.str),
              token = j.asOpt("token").map(_.str),
              description = desc,
              sessionDurationSeconds = j.asOpt("sessionDurationSeconds").map(_.long)))
        }
      case ("DELETE", List("projects", IdSeg(id))) =>
        val proj = t.project(id).getOrElse(return 404 -> err(s"project $id not found"))
        requireOrgRole(ex, proj.organizationId, "manage_projects", bodyActor = j) { _ =>
          t.deleteProject(id); 200 -> "{}"
        }

      // server settings document (reference platform/src/http/
      // settings.rs:28-30 GET/PUT /api/v1/admin/settings); PUT is a
      // partial merge onto the current document, validated on save.
      // ADMIN-plane: behind the admin gate, not mere authentication.
      case ("GET", List("admin", "settings")) =>
        val sp = settings.getOrElse(return 404 -> err("not found"))
        adminGate(ex).getOrElse(200 -> settingsJson(sp.load()))
      case ("PUT", List("admin", "settings")) =>
        val sp = settings.getOrElse(return 404 -> err("not found"))
        adminGate(ex).getOrElse {
          val merged = mergeSettings(sp.load(), j)
          sp.save(merged)            // IllegalArgumentException → 400
          200 -> settingsJson(sp.load())
        }

      // admin backups (reference platform/src/http/backups.rs:38-46 —
      // GET list, POST /backup runs one, GET by id; storage
      // db.rs:1348-1513 full_backup). The archive lands under the
      // settings-configured local provider path; failures record a
      // Failed status like the reference's status enum.
      case ("GET", List("admin", "backups")) =>
        if (settings.isEmpty || backupStore.isEmpty) return 404 -> err("not found")
        adminGate(ex).getOrElse(
          200 -> backups.list().map(backupJson).mkString("[", ",", "]"))
      case ("GET", List("admin", "backups", IdSeg(id))) =>
        if (settings.isEmpty || backupStore.isEmpty) return 404 -> err("not found")
        adminGate(ex).getOrElse(
          backups.get(id).map(b => 200 -> backupJson(b))
            .getOrElse(404 -> err(s"backup $id not found")))
      case ("POST", List("admin", "backups", "backup")) =>
        val sp = settings.getOrElse(return 404 -> err("not found"))
        val store = backupStore.getOrElse(return 404 -> err("not found"))
        adminGate(ex).getOrElse {
          val s = sp.load()
          val base =
            if (s.backupProviderLocalPath.nonEmpty) s.backupProviderLocalPath
            else s"$store-backups"
          // the record id keys the filename: two same-millisecond
          // requests must never share (and silently clobber) one file
          val now = clock()
          val rec0 = backups.start(s.backupProvider, "", now)
          val rec = backups.repath(rec0.id, s"$base/backup-$now-${rec0.id}.graftbak")
          try {
            val m = graft.sources.Backup.create(spark, store, rec.path)
            200 -> backupJson(backups.complete(rec.id, m.files.size, m.totalBytes, clock()))
          } catch {
            case scala.util.control.NonFatal(e) =>
              500 -> backupJson(backups.fail(rec.id,
                Option(e.getMessage).getOrElse(e.getClass.getSimpleName), clock()))
          }
        }

      // admin index maintenance — the erasure/retrain operations the
      // retrieval artifacts expose library-side (Similarity
      // .deleteFromIndex/purgeIndexDeletes/retrain, TextAnalysis
      // .deleteFromTextIndex/purgeTextIndex), reachable over the
      // request layer like backups: a GDPR deletion request should
      // not require a spark-shell. Same admin gate; the id→path
      // registry is constructor-supplied; the artifact kind is
      // detected from its committed generation's layout.
      case ("GET", List("admin", "indexes")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(
          200 -> indexReg.keys.toSeq.sorted.map(indexJson)
            .mkString("[", ",", "]"))
      case ("GET", List("admin", "indexes", id)) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(
          indexReg.get(id).map(_ => 200 -> indexJson(id))
            .getOrElse(404 -> err(s"index $id not found")))
      // registry CRUD: register names an EXISTING artifact under the
      // configured root (path-validated — the route must not aim
      // maintenance at arbitrary filesystem paths); unregister drops
      // the name, never bytes. Writes serialize on the registry like
      // the schema CRUD's snapshot swap.
      case ("POST", List("admin", "indexes", id)) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse {
          val root = indexRoot.getOrElse(
            return 403 -> err("index registration needs a configured indexRoot"))
          require(id.matches("[A-Za-z0-9_-]+"), s"invalid index id: $id")
          val raw = (j / "path").str
          // containment is checked on REAL paths (symlinks resolved),
          // not lexically: a symlink under the root pointing outside
          // it must not let maintenance aim at arbitrary paths. Real
          // resolution needs existence — registering a missing
          // artifact is rejected anyway (nothing to maintain).
          val rawP = java.nio.file.Paths.get(raw).normalize()
          if (!java.nio.file.Files.exists(rawP))
            return 400 -> err(s"index path does not exist: $raw")
          val norm = rawP.toRealPath()
          val rootP = java.nio.file.Paths.get(root).toRealPath()
          if (!norm.startsWith(rootP))
            return 403 -> err(s"index path must live under $root")
          registryLock.synchronized {
            if (indexReg.contains(id)) 400 -> err(s"index $id already registered")
            else {
              apiRegistered = apiRegistered + (id -> norm.toString)
              indexReg = indexReg + (id -> norm.toString)
              persistRegistry()
              200 -> indexJson(id)
            }
          }
        }
      case ("DELETE", List("admin", "indexes", id)) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(registryLock.synchronized {
          if (!indexReg.contains(id)) 404 -> err(s"index $id not found")
          // constructor-wired ids are the CODE's registrations: the
          // overlay file never records them, so a DELETE here would
          // silently revert at the next restart (the constructor map
          // re-seeds the registry). Refuse loudly — live state and
          // post-restart state must agree — instead of persisting a
          // tombstone that would make the file outrank the code.
          else if (indexes.contains(id))
            400 -> err(s"index $id is constructor-wired — a registry " +
              "DELETE cannot survive a restart; remove it from the " +
              "server constructor instead")
          else {
            apiRegistered = apiRegistered - id
            indexReg = indexReg - id
            persistRegistry()
            200 -> "{}"
          }
        })
      // drift report — the measurement side of the drift→retrain loop
      // (Similarity.indexDriftReport): per cell, live rows and mean
      // angular distance to the stored centroid, plus the summary the
      // retrain policy thresholds on. Cell count is codebook-bounded,
      // so the collect is driver-safe.
      case ("GET", List("admin", "indexes", id, "drift")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          if (indexKind(path) != "vector")
            return 400 -> err("drift applies to vector indexes")
          // column names as QUERY PARAMETERS first: many HTTP clients
          // and intermediaries drop GET bodies, and a silently-dropped
          // body would fall back to the wrong columns. The body stays
          // as a fallback for callers that already send one.
          val rows = graft.pipeline.Similarity.indexDriftReport(spark, path,
              queryParam(ex, "idCol").getOrElse(idColOf(body)),
              queryParam(ex, "vecCol").getOrElse(vecColOf(body))).collect()
          val cells = rows.map(r =>
            s"""{"cellId":${r.getLong(0)},"nRows":${r.getLong(1)},""" +
              s""""driftMicro":${r.getLong(2)}}""").mkString("[", ",", "]")
          // ONE summary definition shared with the retrain policy
          // (Similarity.driftSummary) — the served evidence can never
          // diverge from what maybe-retrain thresholds on
          val (maxDrift, skew) =
            graft.pipeline.Similarity.driftSummary(rows.toSeq)
          200 -> s"""{"maxDriftMicro":$maxDrift,"cellSkew":$skew,"cells":$cells}"""
        }
      case ("POST", List("admin", "indexes", id, "delete")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(indexLocked(id) {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          val ids = (j / "ids").arr.map(_.long)
          val name = (j / "name").str
          require(ids.nonEmpty, "delete needs ids")
          import spark.implicits._
          indexKind(path) match {
            case "text" =>
              graft.pipeline.TextAnalysis.deleteFromTextIndex(spark, path,
                ids.toDF("doc_id"), name)
            case "vector" =>
              val kc = j.asOpt("keyColumn").map(_.str).getOrElse("vec_id")
              graft.pipeline.Similarity.deleteFromIndex(spark, path,
                ids.toDF(kc), name)
            case other =>
              return 400 -> err(s"index $id has no recognizable artifact ($other)")
          }
          200 -> s"""{"deleted":${ids.size}}"""
        })
      case ("POST", List("admin", "indexes", id, "purge")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(indexLocked(id) {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          indexKind(path) match {
            case "text" =>
              graft.pipeline.TextAnalysis.purgeTextIndex(spark, path)
              200 -> """{"purged":true}"""
            case "vector" =>
              val name = j.asOpt("name").map(_.str)
                .getOrElse(s"http-purge-${clock()}")
              val (cells, rows) =
                graft.pipeline.Similarity.purgeIndexDeletes(spark, path, name)
              200 -> s"""{"purged":true,"cells":$cells,"rows":$rows}"""
            case other =>
              return 400 -> err(s"index $id has no recognizable artifact ($other)")
          }
        })
      case ("POST", List("admin", "indexes", id, "gc")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(indexLocked(id) {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          val keep = j.asOpt("keep").map(_.int).getOrElse(1)
          val dropped = graft.pipeline.IndexGen.gcGenerations(spark, path,
            keep = keep)
          200 -> s"""{"dropped":[${dropped.mkString(",")}]}"""
        })
      // retrain follows the artifact's detected layout
      // (Similarity.retrain over IndexLayout.detect): two-level
      // artifacts rebuild hierarchically under their persisted
      // coarseProbe, composed IVF×PQ retrains coarse + sub-codebooks
      // with geometry and residual flag from the artifact — so every
      // cells layout is drivable over the request layer, not just a
      // spark-shell.
      case ("POST", List("admin", "indexes", id, "retrain")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(indexLocked(id) {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          if (indexKind(path) != "vector")
            return 400 -> err("retrain applies to vector indexes; rebuild a " +
              "text index from its corpus via TextAnalysis.rebuildTextIndex")
          if (!vectorLayout(path).retrainable)
            return 400 -> err("retrain needs a cells-layout artifact; a " +
              "codes-only PQ index has no coarse quantizer — rebuild it " +
              "from its corpus via Similarity.build with IndexLayout.PqCodes")
          val (gen, steps) = graft.pipeline.Similarity.retrain(
            spark, path, idColOf(body), vecColOf(body),
            maxIters = j.asOpt("maxIters").map(_.int).getOrElse(1),
            eps = j.asOpt("eps").map(_.num).getOrElse(0.0),
            pqIters = j.asOpt("pqIters").map(_.int).getOrElse(1))
          200 -> s"""{"generation":$gen,"steps":$steps}"""
        })
      // the complete drift→retrain decision as ONE request
      // (Similarity.maybeRetrain): read the drift report, retrain iff
      // a threshold trips, answer with the decision AND its evidence
      // either way — the endpoint a scheduled maintenance job curls.
      case ("POST", List("admin", "indexes", id, "maybe-retrain")) =>
        if (!indexesMounted) return 404 -> err("not found")
        adminGate(ex).getOrElse(indexLocked(id) {
          val path = indexReg.getOrElse(id,
            return 404 -> err(s"index $id not found"))
          if (indexKind(path) != "vector")
            return 400 -> err("maybe-retrain applies to vector indexes")
          // an unretrainable artifact is a REPORTED state, not a
          // request error: a scheduled maintenance job polling this
          // route should learn the contract ("keep the corpus"), not
          // retry a 400 forever
          if (!vectorLayout(path).retrainable)
            return 200 -> ("""{"retrained":false,"retrainable":false,""" +
              """"reason":"codes-only PQ artifact stores no float """ +
              """vectors — keep the source corpus and rebuild via """ +
              """Similarity.build with IndexLayout.PqCodes"}""")
          val d = graft.pipeline.Similarity.maybeRetrain(spark, path,
            idColOf(body), vecColOf(body),
            maxDriftMicro = (j / "maxDriftMicro").long,
            maxCellSkew = j.asOpt("maxCellSkew").map(_.num)
              .getOrElse(Double.MaxValue),
            maxIters = j.asOpt("maxIters").map(_.int).getOrElse(1),
            eps = j.asOpt("eps").map(_.num).getOrElse(0.0),
            pqIters = j.asOpt("pqIters").map(_.int).getOrElse(1))
          val gen = d.generation.map(_.toString).getOrElse("null")
          200 -> (s"""{"retrained":${d.retrained},""" +
            s""""maxDriftMicro":${d.maxDriftMicro},""" +
            s""""cellSkew":${d.cellSkew},"generation":$gen,""" +
            s""""steps":${d.steps}}""")
        })

      // admin account CRUD (reference platform/src/http/accounts.rs:
      // 62-63 — create/list, get/update/delete by id, all behind the
      // global-admin gate). PUT accepts name and role ("admin" sets,
      // "none" clears — the JSON layer folds null fields away).
      case ("GET", List("accounts")) =>
        adminGate(ex).getOrElse(
          200 -> t.listAccounts().map(accountJson).mkString("[", ",", "]"))
      case ("GET", List("accounts", IdSeg(id))) =>
        adminGate(ex).getOrElse(
          t.account(id).map(a => 200 -> accountJson(a))
            .getOrElse(404 -> err(s"account $id not found")))
      case ("POST", List("accounts")) =>
        adminGate(ex).getOrElse {
          // admin provisioning may mark the account for first-login
          // password/email reset (reference CreateAccountRequest
          // force_update_password/force_update_email; the profile
          // set-password/set-email routes consume the flags)
          val a = t.createAccount((j / "email").str, (j / "password").str,
            j.asOpt("name").map(_.str), now = clock(),
            forceUpdatePassword = j.asOpt("forceUpdatePassword").exists(_.bool),
            forceUpdateEmail = j.asOpt("forceUpdateEmail").exists(_.bool))
          200 -> accountJson(a)
        }
      case ("PUT", List("accounts", IdSeg(id))) =>
        adminGate(ex).getOrElse {
          // validate the WHOLE request before applying any of it — a
          // valid-name + invalid-role PUT must mutate nothing
          // (reference accounts.rs update is a single atomic put)
          if (t.account(id).isEmpty)
            return 404 -> err(s"account $id not found")
          val name = j.asOpt("name").map(_.str)
          val role = j.asOpt("role").map(_.str)
          name.foreach(n => require(n.nonEmpty, "empty name"))
          role.foreach(r => require(r == "none" || r == "admin",
            s"unknown global role: $r"))
          name.foreach(n => t.updateAccountName(id, n, clock()))
          role.foreach {
            case "none" => t.setAccountRole(id, None, clock())
            case r      => t.setAccountRole(id, Some(r), clock())
          }
          t.account(id).map(a => 200 -> accountJson(a))
            .getOrElse(404 -> err(s"account $id not found"))
        }
      case ("DELETE", List("accounts", IdSeg(id))) =>
        adminGate(ex).getOrElse { t.deleteAccount(id); 200 -> "{}" }

      // request-at-a-time ingest, project resolved by its token
      // (ingester executor.rs:123 get_by_token; 404 on unknown token)
      case ("POST", List("ingest", token, "track")) =>
        t.projectByToken(token) match {
          case None => 404 -> err("project can't be found by token")
          case Some(p) =>
            trackBuffer.synchronized(trackBuffer += (p.id -> body))
            t.incrementEventsCounter(p.id)
            200 -> s"""{"projectId":${p.id},"buffered":true}"""
        }

      case _ => 404 -> err("not found")
    }
  }

  /** Authenticate, then hand the validated raw token to the profile
    * method — remaining failures are request-validation 400s. */
  private def withBearer(ex: HttpExchange)(f: String => (Int, String)): (Int, String) =
    bearerClaims(ex, auth.get) match {
      case Left(denied)    => denied
      case Right((tok, _)) => f(tok)
    }

  private def accountJson(a: graft.model.Account): String = {
    val orgs = a.organizations.map { case (id, role) =>
      s"""{"id":$id,"role":${JStr(role).render}}"""
    }.mkString("[", ",", "]")
    val projs = a.projects.map { case (id, role) =>
      s"""{"id":$id,"role":${JStr(role).render}}"""
    }.mkString("[", ",", "]")
    val name = a.name.map(n => JStr(n).render).getOrElse("null")
    val role = a.role.map(r => JStr(r).render).getOrElse("null")
    // passwordHash deliberately never serialized
    s"""{"id":${a.id},"email":${JStr(a.email).render},"name":$name,""" +
      s""""role":$role,"organizations":$orgs,"projects":$projs,""" +
      s""""forceUpdatePassword":${a.forceUpdatePassword},""" +
      s""""forceUpdateEmail":${a.forceUpdateEmail}}"""
  }

  /** Admin-plane gate for `/admin/…` and `/accounts` (reference
    * context.rs check_permission: the account's GLOBAL role, rbac.rs
    * PERMISSIONS Admin→All, consulted before any org/project walk).
    * The first admin is bootstrapped programmatically
    * (Tenancy.setAccountRole), like the reference's init-time admin
    * account. */
  private def adminGate(ex: HttpExchange): Option[(Int, String)] =
    auth match {
      case None => None
      case Some(a) =>
        bearerClaims(ex, a) match {
          case Left(denied) => Some(denied)
          case Right((_, claims)) =>
            // tenancy is the ONLY role oracle: a server with auth but
            // no Tenancy must fail closed, not treat every
            // authenticated account as admin
            if (tenancy.exists(_.isGlobalAdmin(claims.accountId))) None
            else Some(403 -> err(s"account ${claims.accountId} is not an admin"))
        }
    }

  /** Artifact kind behind an /admin/indexes id: resolved through the
    * committed generation (one IndexGen resolution, like every
    * library read path), then layout-sniffed — postings/ is the text
    * index, cells/ or codes/ the vector families. */
  private def indexKind(path: String): String = {
    val root = graft.pipeline.IndexGen.resolveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(d: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))
    if (has("postings")) "text"
    else if (has("cells") || has("codes")) "vector"
    else "unknown"
  }

  /** One decoded query-string parameter, if present — GET routes
    * whose options must survive body-dropping clients read these
    * first (the drift route). */
  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split("&").iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == name =>
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }
    }

  /** id/vector column names of an index-maintenance request — the
    * body is OPTIONAL (a bare GET drift has none), so parse failures
    * fold to the registry defaults instead of a 400. */
  private def idColOf(body: String): String =
    try Json.parse(body).asOpt("idCol").map(_.str).getOrElse("vec_id")
    catch { case _: Json.JsonError => "vec_id" }
  private def vecColOf(body: String): String =
    try Json.parse(body).asOpt("vecCol").map(_.str).getOrElse("embedding")
    catch { case _: Json.JsonError => "embedding" }

  private def vectorLayout(path: String): graft.pipeline.IndexLayout =
    graft.pipeline.IndexLayout.detect(spark,
      graft.pipeline.IndexGen.resolveRoot(spark, path))

  private def indexJson(id: String): String = {
    val path = indexReg(id)
    val gen = graft.pipeline.IndexGen.currentGen(spark, path)
      .map(_.toString).getOrElse("null")
    val kind = indexKind(path)
    // the retrainability CONTRACT surfaces in the listing, so an
    // operator learns "keep the corpus" at registration time, not at
    // maintenance time: vector layouts answer their IndexLayout
    // (codes-only PQ = false); text indexes rebuild from their corpus
    // via rebuildTextIndex, so the vector-retrain contract reads false
    // for them too.
    val vl = if (kind == "vector") Some(vectorLayout(path)) else None
    val layout = vl.map(_.name).getOrElse(kind)
    val retrainable = vl.exists(_.retrainable)
    s"""{"id":${JStr(id).render},"path":${JStr(path).render},""" +
      s""""kind":${JStr(kind).render},"layout":${JStr(layout).render},""" +
      s""""generation":$gen,"retrainable":$retrainable}"""
  }

  private def backupJson(b: graft.model.BackupRecord): String = {
    val err0 = b.error.map(e => JStr(e).render).getOrElse("null")
    val upd = b.updatedAtMs.map(_.toString).getOrElse("null")
    s"""{"id":${b.id},"createdAt":${b.createdAtMs},"updatedAt":$upd,""" +
      s""""provider":${JStr(b.provider).render},"path":${JStr(b.path).render},""" +
      s""""status":${JStr(b.status).render},"files":${b.files},"bytes":${b.bytes},""" +
      s""""error":$err0}"""
  }

  private def settingsJson(s: graft.model.Settings): String =
    // every secret — auth token material, admin default password,
    // backup encryption password, provider keys — is WRITE-ONLY:
    // stored on PUT, never echoed
    s"""{"backupEnabled":${s.backupEnabled},""" +
      s""""backupEncryptionEnabled":${s.backupEncryptionEnabled},""" +
      s""""backupCompressionEnabled":${s.backupCompressionEnabled},""" +
      s""""backupProvider":${JStr(s.backupProvider).render},""" +
      s""""backupProviderLocalPath":${JStr(s.backupProviderLocalPath).render},""" +
      s""""backupProviderS3Bucket":${JStr(s.backupProviderS3Bucket).render},""" +
      s""""backupProviderS3Path":${JStr(s.backupProviderS3Path).render},""" +
      s""""backupProviderS3Region":${JStr(s.backupProviderS3Region).render},""" +
      s""""backupProviderGcpBucket":${JStr(s.backupProviderGcpBucket).render},""" +
      s""""backupProviderGcpPath":${JStr(s.backupProviderGcpPath).render},""" +
      s""""backupScheduleInterval":${JStr(s.backupScheduleInterval).render},""" +
      s""""backupScheduleStartHour":${s.backupScheduleStartHour}}"""
      // secrets (s3 keys, gcp key) deliberately not echoed back —
      // write-only fields, like any credentials endpoint

  /** Partial update: absent fields keep their current value (the
    * reference's OptionalProperty DTO semantics). */
  private def mergeSettings(cur: graft.model.Settings, j: Json.JValue): graft.model.Settings =
    cur.copy(
      authAccessToken = j.asOpt("authAccessToken").map(_.str).getOrElse(cur.authAccessToken),
      authRefreshToken = j.asOpt("authRefreshToken").map(_.str).getOrElse(cur.authRefreshToken),
      authAdminDefaultPassword = j.asOpt("authAdminDefaultPassword").map(_.str)
        .getOrElse(cur.authAdminDefaultPassword),
      backupEnabled = j.asOpt("backupEnabled").map(_.bool).getOrElse(cur.backupEnabled),
      backupEncryptionEnabled = j.asOpt("backupEncryptionEnabled").map(_.bool)
        .getOrElse(cur.backupEncryptionEnabled),
      backupEncryptionPassword = j.asOpt("backupEncryptionPassword").map(_.str)
        .getOrElse(cur.backupEncryptionPassword),
      backupCompressionEnabled = j.asOpt("backupCompressionEnabled").map(_.bool)
        .getOrElse(cur.backupCompressionEnabled),
      backupProvider = j.asOpt("backupProvider").map(_.str).getOrElse(cur.backupProvider),
      backupProviderLocalPath = j.asOpt("backupProviderLocalPath").map(_.str)
        .getOrElse(cur.backupProviderLocalPath),
      backupProviderS3Bucket = j.asOpt("backupProviderS3Bucket").map(_.str)
        .getOrElse(cur.backupProviderS3Bucket),
      backupProviderS3Path = j.asOpt("backupProviderS3Path").map(_.str)
        .getOrElse(cur.backupProviderS3Path),
      backupProviderS3Region = j.asOpt("backupProviderS3Region").map(_.str)
        .getOrElse(cur.backupProviderS3Region),
      backupProviderS3AccessKey = j.asOpt("backupProviderS3AccessKey").map(_.str)
        .getOrElse(cur.backupProviderS3AccessKey),
      backupProviderS3SecretKey = j.asOpt("backupProviderS3SecretKey").map(_.str)
        .getOrElse(cur.backupProviderS3SecretKey),
      backupProviderGcpBucket = j.asOpt("backupProviderGcpBucket").map(_.str)
        .getOrElse(cur.backupProviderGcpBucket),
      backupProviderGcpPath = j.asOpt("backupProviderGcpPath").map(_.str)
        .getOrElse(cur.backupProviderGcpPath),
      backupProviderGcpKey = j.asOpt("backupProviderGcpKey").map(_.str)
        .getOrElse(cur.backupProviderGcpKey),
      backupScheduleInterval = j.asOpt("backupScheduleInterval").map(_.str)
        .getOrElse(cur.backupScheduleInterval),
      backupScheduleStartHour = j.asOpt("backupScheduleStartHour").map(_.long.toInt)
        .getOrElse(cur.backupScheduleStartHour))

  private def tokensJson(tok: graft.model.Auth.Tokens): String =
    s"""{"accessToken":${JStr(tok.accessToken).render},"refreshToken":${JStr(tok.refreshToken).render}}"""

  private def orgJson(o: graft.model.Organization): String = {
    val members = o.members.map { case (id, role) =>
      s"""{"id":$id,"role":${JStr(role).render}}"""
    }.mkString("[", ",", "]")
    s"""{"id":${o.id},"name":${JStr(o.name).render},"createdBy":${o.createdBy},"members":$members}"""
  }

  private def projectJson(p: graft.model.Project): String = {
    val desc = p.description.map(d => JStr(d).render).getOrElse("null")
    s"""{"id":${p.id},"organizationId":${p.organizationId},"name":${JStr(p.name).render},""" +
      s""""description":$desc,""" +
      s""""token":${JStr(p.token).render},"sessionDurationSeconds":${p.sessionDurationSeconds},""" +
      s""""eventsCount":${p.eventsCount}}"""
  }

  /** The reference carries the tenant in the URL path
    * (platform/src/http/event_segmentation.rs:31 `:project_id`); a
    * body that doesn't pin `projectId` inherits the path's. */
  private def withProject(body: String, pid: Long): String =
    Json.parse(body) match {
      case JObj(fs) if !fs.exists(_._1 == "projectId") =>
        JObj(fs :+ ("projectId" -> JNum(pid.toDouble))).render
      case _ => body
    }

  /** Group ids are small registry indexes; a value past Int range can
    * only reach an existing group by silent truncation, so it maps to
    * -1 and fails requireGroup's range check (400) instead. */
  private def gidIdx(gid: Long): Int =
    if (gid >= 0 && gid <= Int.MaxValue) gid.toInt else -1

  private object IdSeg {
    def unapply(s: String): Option[Long] =
      try Some(s.toLong) catch { case _: NumberFormatException => None }
  }

  private def err(msg: String): String =
    s"""{"error":${JStr(if (msg == null) "error" else msg).render}}"""

  private def reportJson(r: graft.model.Report): String = {
    val tags = r.tags.map(t => JStr(t).render).mkString("[", ",", "]")
    val desc = r.description.map(d => JStr(d).render).getOrElse("null")
    s"""{"id":${r.id},"projectId":${r.projectId},"name":${JStr(r.name).render},""" +
      s""""type":${JStr(r.typ).render},"query":${r.queryJson},"tags":$tags,""" +
      s""""description":$desc,"createdAt":${r.createdAt}}"""
  }
}

object GraftHttpServer {
  /** Request bodies over this many bytes are refused with 413: 2 MiB,
    * the default request-body limit of axum, the reference's framework. */
  val MaxBodyBytes: Int = 2 * 1024 * 1024

  final class BodyTooLarge
      extends RuntimeException(s"request body over $MaxBodyBytes bytes")

  // TCP_NODELAY on every accepted connection. A handler writes the
  // response headers (sendResponseHeaders flushes them) and then the
  // body, so with Nagle's algorithm on, the body segment waits for the
  // client's ACK of the header segment, and a client in request/response
  // mode delays that ACK (about 40 ms on Linux). The JDK server sets
  // TCP_NODELAY on an accepted channel only when this property is true;
  // it reads the property once, when the JVM's first
  // com.sun.net.httpserver server is created. [[bind]] creates every
  // server of this class, so this initializer runs before the first of
  // them.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(): HttpServer = HttpServer.create(new InetSocketAddress(0), 0)
}
