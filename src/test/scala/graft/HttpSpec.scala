package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.engine.{JsonApi, Response}
import graft.serve.GraftHttpServer
import org.apache.spark.sql.functions._

/** End-to-end HTTP transport: a body POSTed to the router must return
  * byte-identical output to calling JsonApi directly — the server adds
  * routing and tenancy, never computation. */
class HttpSpec extends SparkTestBase {

  private def ev = eventsDf(Seq(
    (1L, 1704067200000L, "view", "ios", 20.0),
    (1L, 1704067300000L, "click", "ios", 5.0),
    (1L, 1704067400000L, "purchase", "ios", 99.0),
    (2L, 1704070000000L, "view", "android", 15.0),
    (2L, 1704070100000L, "click", "android", 3.0),
    (3L, 1704080000000L, "view", "web", 50.0)))

  private val esBody = """{
    "time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-02-01T00:00:00Z"},
    "group": 0,
    "intervalUnit": "day",
    "events": [{
      "eventType": "regular",
      "eventName": "view",
      "filters": [{"type": "property", "propertyType": "event",
                   "propertyName": "value", "operation": "gt", "value": [10]}],
      "queries": [{"type": "countEvents", "name": "cnt"},
                  {"type": "countUniqueGroups", "name": "uniq"}]
    }],
    "breakdowns": []
  }"""

  private val funnelBody = """{
    "time": {"type": "between", "from": "1970-01-01T00:00:00Z", "to": "2100-01-01T00:00:00Z"},
    "group": 0,
    "steps": [
      {"events": [{"eventType": "regular", "eventName": "view"}], "order": {"type": "exact"}},
      {"events": [{"eventType": "regular", "eventName": "click"}], "order": {"type": "exact"}},
      {"events": [{"eventType": "regular", "eventName": "purchase"}], "order": {"type": "exact"}}
    ],
    "timeWindow": {"n": 1000, "unit": "year"},
    "chartType": "line",
    "count": "unique",
    "touch": {"type": "first"}
  }"""

  private val client = HttpClient.newHttpClient()

  private def req(port: Int, method: String, path: String,
                  body: String = "", bearer: String = ""): (Int, String) = {
    val b0 = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val b = if (bearer.nonEmpty) b0.header("Authorization", s"Bearer $bearer") else b0
    val r = method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m        => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    val res = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def withServer[A](srv: GraftHttpServer)(f: GraftHttpServer => A): A =
    try f(srv.start()) finally srv.stop()

  test("query routes return byte-identical JsonApi output") {
    val events = ev
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", esBody)
      assert(c1 == 200)
      assert(got1 == Response.collect(JsonApi.eventSegmentation(events, esBody)).toJson)

      val (c2, got2) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/funnel", funnelBody)
      assert(c2 == 200)
      assert(got2 == JsonApi.funnelJson(spark, events, funnelBody))
      assert(got2.contains("\"steps\""))
    }
  }

  test("search route returns byte-identical JsonApi.search output; unmounted without docs") {
    import spark.implicits._
    val events = ev
    val words = Seq("alpha", "scan", "column", "window", "beta")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until (3 + i % 4)).map(j =>
        words((i * 3 + j) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    val emb = (0 until 40).map { i =>
      val a = i * 0.15
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val lexBody = """{"terms": ["scan", "column"], "topK": 10}"""
    val hybBody = """{"terms": ["scan", "column"], "topK": 20,
                      "semantic": {"queryId": 0, "k": 20}, "fuseTopK": 10}"""
    withServer(new GraftHttpServer(spark, events,
        documents = Some(docs), embeddings = Some(emb))) { srv =>
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", lexBody)
      assert(c1 == 200)
      assert(got1 == Response.collect(JsonApi.search(docs, lexBody)).toJson)
      val (c2, got2) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", hybBody)
      assert(c2 == 200)
      assert(got2 == Response.collect(
        JsonApi.search(docs, hybBody, embeddings = Some(emb))).toJson)
      // sparse and passage modes ride the same route and dispatch on
      // the request shape alone
      val spBody = """{"weights": {"scan": 300, "column": -100}, "topK": 5}"""
      val (c4, got4) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", spBody)
      assert(c4 == 200)
      assert(got4 == Response.collect(JsonApi.search(docs, spBody)).toJson)
      val paBody = """{"terms": ["scan", "column"], "topK": 5,
                       "passage": {"window": 4, "stride": 2}}"""
      val (c5, got5) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", paBody)
      assert(c5 == 200)
      assert(got5 == Response.collect(JsonApi.search(docs, paBody)).toJson)
    }
    // without a documents frame the route does not mount
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (c3, _) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", lexBody)
      assert(c3 == 404)
    }
  }

  test("GET /metrics serves prometheus text whose counters advance per query") {
    graft.engine.Metrics.reset()
    val events = ev
    def counter(text: String, name: String, tag: String): Long =
      text.linesIterator
        .find(_.startsWith(s"""$name{query="$tag"} """))
        .map(_.split(' ').last.toLong).getOrElse(0L)
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (c0, before) = req(srv.port, "GET", "/metrics")
      assert(c0 == 200)
      val q0 = counter(before, "graft_query_queries_total", "event_segmentation")
      req(srv.port, "POST", "/api/v1/projects/1/queries/event-segmentation", esBody)
      req(srv.port, "POST", "/api/v1/projects/1/queries/event-segmentation", esBody)
      val (_, after) = req(srv.port, "GET", "/metrics")
      assert(counter(after, "graft_query_queries_total", "event_segmentation") == q0 + 2)
      // the rows counter advances with the collected result size
      assert(counter(after, "graft_query_rows_total", "event_segmentation") > 0)
      assert(after.contains("# TYPE graft_query_execution_time_seconds histogram"))
    }
  }

  test("path project id scopes the query like an inline projectId") {
    // user 3's events belong to project 2; the same body via the two
    // project paths must see different slices
    val events = ev.withColumn("project_id",
      when(col("user_id") === 3, 2L).otherwise(1L))
    val countBody = """{
      "time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-02-01T00:00:00Z"},
      "intervalUnit": "day",
      "events": [{"eventType": "all", "queries": [{"type": "countEvents", "name": "cnt"}]}]
    }"""
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (_, p1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", countBody)
      val (_, p2) = req(srv.port, "POST",
        "/api/v1/projects/2/queries/event-segmentation", countBody)
      assert(p1 != p2)
      val direct2 = Response.collect(JsonApi.eventSegmentation(events,
        countBody.trim.dropRight(1) + ""","projectId": 2}""")).toJson
      assert(p2 == direct2)
      // a body that pins its own projectId wins over the path
      val (_, pinned) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation",
        countBody.trim.dropRight(1) + ""","projectId": 2}""")
      assert(pinned == direct2)
    }
  }

  test("report CRUD + run, dashboards, and project isolation") {
    val events = ev
    withServer(new GraftHttpServer(spark, events,
      clock = () => 1700000000000L)) { srv =>
      val create = s"""{"name": "daily views", "type": "eventSegmentation",
        "query": $esBody, "tags": ["kpi"]}"""
      val (cc, created) = req(srv.port, "POST", "/api/v1/projects/1/reports", create)
      assert(cc == 200)
      assert(created.contains("\"id\":1") && created.contains("\"name\":\"daily views\""))

      val (gl, listed) = req(srv.port, "GET", "/api/v1/projects/1/reports")
      assert(gl == 200 && listed.startsWith("[") && listed.contains("\"id\":1"))

      // other tenant: invisible
      assert(req(srv.port, "GET", "/api/v1/projects/2/reports/1")._1 == 404)
      assert(req(srv.port, "GET", "/api/v1/projects/2/reports")._2 == "[]")

      val (rc, run) = req(srv.port, "POST", "/api/v1/projects/1/reports/1/run")
      assert(rc == 200)
      // identical to running the saved body through the dispatcher
      val store = new graft.model.Reports
      val r = store.create(1L, "daily views", graft.model.ReportType.EventSegmentation,
        graft.model.Json.parse(esBody).render, 1700000000000L)
      assert(run == Response.collect(JsonApi.runReport(spark, events, r)).toJson)

      val (dc, dash) = req(srv.port, "POST", "/api/v1/projects/1/dashboards",
        """{"name": "main", "panels": [{"reportId": 1, "w": 2}]}""")
      assert(dc == 200 && dash.contains("\"reportId\":1"))
      val (drc, drun) = req(srv.port, "POST", "/api/v1/projects/1/dashboards/1/run")
      assert(drc == 200)
      assert(drun.startsWith("""{"panels":[{"reportId":1,"result":"""))
      assert(drun.contains(run))

      // report PUT is a partial update: only the named fields move,
      // GET round-trips the PUT body byte-identically
      val (uc, updated) = req(srv.port, "PUT", "/api/v1/projects/1/reports/1",
        """{"name": "weekly views", "tags": ["kpi", "weekly"]}""")
      assert(uc == 200 && updated.contains("\"name\":\"weekly views\"")
        && updated.contains("\"tags\":[\"kpi\",\"weekly\"]")
        && updated.contains("\"type\":\"eventSegmentation\""))
      assert(req(srv.port, "GET", "/api/v1/projects/1/reports/1")._2 == updated)
      assert(req(srv.port, "PUT", "/api/v1/projects/1/reports/1",
        """{"type": "nope"}""")._1 == 400)
      assert(req(srv.port, "PUT", "/api/v1/projects/2/reports/1",
        """{"name": "x"}""")._1 == 404, "cross-tenant PUT is not found")

      // dashboard list/get/update/delete (reference dashboards.rs:69-79)
      val (dl, dlist) = req(srv.port, "GET", "/api/v1/projects/1/dashboards")
      assert(dl == 200 && dlist == s"[$dash]")
      assert(req(srv.port, "GET", "/api/v1/projects/1/dashboards/1")._2 == dash)
      assert(req(srv.port, "GET", "/api/v1/projects/2/dashboards/1")._1 == 404)
      val (duc, dupd) = req(srv.port, "PUT", "/api/v1/projects/1/dashboards/1",
        """{"name": "ops"}""")
      assert(duc == 200 && dupd.contains("\"name\":\"ops\"")
        && dupd.contains("\"reportId\":1"), "absent panels keep their value")
      assert(req(srv.port, "PUT", "/api/v1/projects/1/dashboards/1",
        """{"panels": [{"reportId": 99}]}""")._1 == 400,
        "panel referential check applies to updates")
      assert(req(srv.port, "DELETE", "/api/v1/projects/1/dashboards/1")._1 == 200)
      assert(req(srv.port, "GET", "/api/v1/projects/1/dashboards/1")._1 == 404)
      assert(req(srv.port, "GET", "/api/v1/projects/1/dashboards")._2 == "[]")

      // bookmarks: create + get round-trip, tenancy-scoped, 404 unknown
      val (bc, bk) = req(srv.port, "POST", "/api/v1/projects/1/bookmarks",
        s"""{"type": "eventSegmentation", "query": $esBody}""")
      assert(bc == 200 && bk.contains("\"id\":1"))
      assert(req(srv.port, "GET", "/api/v1/projects/1/bookmarks/1")._2 == bk)
      assert(req(srv.port, "GET", "/api/v1/projects/2/bookmarks/1")._1 == 404)
      assert(req(srv.port, "GET", "/api/v1/projects/1/bookmarks/9")._1 == 404)
      assert(req(srv.port, "POST", "/api/v1/projects/1/bookmarks",
        """{"type": "nope"}""")._1 == 400)

      // GET event-records/:id matches the engine path byte-identically
      val someId = events.select("event_id").limit(1).collect()(0).getLong(0)
      val (ec, rec) = req(srv.port, "GET",
        s"/api/v1/projects/1/event-records/$someId")
      assert(ec == 200)
      assert(rec == Response.collect(
        graft.engine.Records.getById(events, someId)).toJson)
      // a missing id is 404 like every other by-id GET, never 200
      // with empty columns (reference event_records.rs get route)
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/event-records/999999999")._1 == 404)
    }
  }

  test("identity plane: signup/login, org+project CRUD, Bearer-guarded queries, token ingest") {
    val tenancy = new graft.model.Tenancy
    var now = 1000L
    val auth = new graft.model.Auth(tenancy, "k".getBytes,
      accessSeconds = 60, clock = () => now)
    withServer(new GraftHttpServer(spark, ev, clock = () => now * 1000,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      // signup → tokens; org + project created over HTTP
      val (sc, signed) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "o@example.com", "password": "Str0ng!pass", "name": "Owner"}""")
      assert(sc == 200 && signed.contains("accessToken"))
      val signedTok = (graft.model.Json.parse(signed) / "accessToken").str

      // tenancy mutations demand a Bearer token (no body-trusted
      // createdBy): anonymous create → 401, then the signup token
      // creates the org and becomes its owner
      assert(req(srv.port, "POST", "/api/v1/organizations",
        """{"name": "Acme", "createdBy": 77}""")._1 == 401)
      val (oc, org) = req(srv.port, "POST", "/api/v1/organizations",
        """{"name": "Acme"}""", bearer = signedTok)
      assert(oc == 200 && org.contains("\"id\":1"))
      assert(org.contains("\"createdBy\":1"), "creator derives from token claims")

      // project creation needs manage_projects in the org: anonymous →
      // 401, a non-member account → 403, the org owner → 200
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Shop", "token": "t_shop"}""")._1 == 401)
      val (_, signed2) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "m@example.com", "password": "Str0ng!pass2"}""")
      val memberTok = (graft.model.Json.parse(signed2) / "accessToken").str
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Shop", "token": "t_shop"}""",
        bearer = memberTok)._1 == 403)
      val (pc, proj) = req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Shop", "token": "t_shop"}""",
        bearer = signedTok)
      assert(pc == 200 && proj.contains("\"token\":\"t_shop\""))
      assert(req(srv.port, "GET", "/api/v1/organizations/1/projects",
        bearer = signedTok)._2.contains("\"name\":\"Shop\""))

      // tenant listings are SCOPED: a non-member account sees no
      // foreign org, no foreign project, and above all no ingest
      // token; direct by-id reads deny rather than leak
      assert(req(srv.port, "GET", "/api/v1/organizations")._1 == 401)
      assert(req(srv.port, "GET", "/api/v1/organizations",
        bearer = memberTok)._2 == "[]")
      assert(!req(srv.port, "GET", "/api/v1/projects",
        bearer = memberTok)._2.contains("t_shop"))
      assert(req(srv.port, "GET", "/api/v1/projects/1",
        bearer = memberTok)._1 == 403)
      assert(req(srv.port, "GET", "/api/v1/organizations/1",
        bearer = memberTok)._1 == 403)
      assert(req(srv.port, "GET", "/api/v1/organizations/1/projects",
        bearer = memberTok)._2 == "[]")

      // the documented PUT rename and flat project list are wired
      val (rc, renamed) = req(srv.port, "PUT", "/api/v1/organizations/1",
        """{"name": "Acme Corp"}""", bearer = signedTok)
      assert(rc == 200 && renamed.contains("\"name\":\"Acme Corp\""))
      assert(req(srv.port, "PUT", "/api/v1/organizations/1",
        """{"name": "Evil"}""", bearer = memberTok)._1 == 403)
      val (lc, listed) = req(srv.port, "GET", "/api/v1/projects", bearer = signedTok)
      assert(lc == 200 && listed.contains("\"name\":\"Shop\""))

      // a syntactically broken Bearer token is a 401, not a 400
      assert(req(srv.port, "POST", "/api/v1/organizations",
        """{"name": "X"}""", bearer = "!!not-base64!!.x.y")._1 == 401)
      assert(req(srv.port, "POST", "/api/v1/projects/1/queries/event-segmentation",
        esBody, bearer = "a.b")._1 == 401)

      // unauthenticated query → 401; valid login token → 200
      assert(req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", esBody)._1 == 401)
      val (_, tokens) = req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "o@example.com", "password": "Str0ng!pass"}""")
      val access = graft.model.Json.parse(tokens) match {
        case j => (j / "accessToken").str
      }
      val authed = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/projects/1/queries/event-segmentation"))
        .header("Authorization", s"Bearer $access")
        .POST(HttpRequest.BodyPublishers.ofString(esBody)).build()
      val res = client.send(authed, HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 200)
      assert(res.body() == Response.collect(JsonApi.eventSegmentation(ev, esBody)).toJson)

      // a project outside the account's reach → 403 (org owner only sees org 1)
      val other = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/projects/99/queries/event-segmentation"))
        .header("Authorization", s"Bearer $access")
        .POST(HttpRequest.BodyPublishers.ofString(esBody)).build()
      assert(client.send(other, HttpResponse.BodyHandlers.ofString()).statusCode() == 403)

      // expired access token → 401; refresh mints a working pair
      now += 120
      assert(client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/projects/1/queries/event-segmentation"))
        .header("Authorization", s"Bearer $access")
        .POST(HttpRequest.BodyPublishers.ofString(esBody)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
      val refreshTok = (graft.model.Json.parse(tokens) / "refreshToken").str
      val (rc2, renewed) = req(srv.port, "POST", "/api/v1/auth/refresh-token",
        s"""{"refreshToken": "$refreshTok"}""")
      assert(rc2 == 200 && renewed.contains("accessToken"))

      // token-addressed ingest buffers the event and bumps the counter
      val (ic, ing) = req(srv.port, "POST", "/api/v1/ingest/t_shop/track",
        """{"event": "view", "userId": "u1"}""")
      assert(ic == 200 && ing.contains("\"projectId\":1"))
      assert(req(srv.port, "POST", "/api/v1/ingest/nope/track", "{}")._1 == 404)
      assert(srv.trackedEvents == Seq(1L -> """{"event": "view", "userId": "u1"}"""))
      assert(tenancy.project(1L).get.eventsCount == 1L)

      // bad credentials → 401 with the opaque message
      assert(req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "o@example.com", "password": "wrong"}""")._1 == 401)
    }
  }

  test("schema CRUD: rename/flag properties, event names, custom events; queries follow") {
    val events = ev
    val registry = graft.engine.Metadata.fromEvents(events,
      display = Map("value" -> "Revenue"))
    withServer(new GraftHttpServer(spark, events, registry = registry)) { srv =>
      // list + by-name lookup
      val (lc, props) = req(srv.port, "GET", "/api/v1/projects/1/schema/event-properties")
      assert(lc == 200 && props.contains("\"name\":\"Revenue\""))
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/event-properties/name/Revenue")._1 == 200)
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/event-properties/name/Nope")._1 == 404)

      // rename Revenue -> Turnover; a query addressing the NEW display
      // name resolves, the old one no longer does
      val (uc, upd) = req(srv.port, "PUT",
        "/api/v1/projects/1/schema/event-properties/Revenue",
        """{"displayName": "Turnover"}""")
      assert(uc == 200 && upd.contains("\"name\":\"Turnover\""))
      assert(srv.currentRegistry.property("Turnover").column == "value")
      // dictionary flag update on a column the query below doesn't touch
      val (fc, flagged) = req(srv.port, "PUT",
        "/api/v1/projects/1/schema/event-properties/device",
        """{"isDictionary": true}""")
      assert(fc == 200 && flagged.contains("\"isDictionary\":true"))
      val esTurnover = esBody.replace(
        "\"propertyName\": \"value\"", "\"propertyName\": \"Turnover\"")
      val (qc, got) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", esTurnover)
      assert(qc == 200)
      assert(got == Response.collect(JsonApi.eventSegmentation(
        events, esTurnover, registry = srv.currentRegistry)).toJson)

      // event-name list + custom-event definition with cycle guard
      val (ec, _) = req(srv.port, "POST", "/api/v1/projects/1/schema/events",
        """{"name": "install"}""")
      assert(ec == 200)
      assert(req(srv.port, "GET", "/api/v1/projects/1/schema/events")._2
        .contains("install"))
      val (cc, ceJson) = req(srv.port, "POST",
        "/api/v1/projects/1/schema/custom-events",
        """{"id": 7, "definition": {"name": "engagement", "events": [
             {"eventName": "view"}, {"eventName": "click"}]}}""")
      assert(cc == 200 && ceJson.contains("engagement"))
      assert(srv.currentRegistry.customEvent(7L).name == "engagement")
      // over-deep definition rejected by the registry guard -> 400
      assert(req(srv.port, "POST", "/api/v1/projects/1/schema/custom-events",
        """{"id": 8, "definition": {"name": "l1", "events": [{"customEvent":
             {"name": "l2", "events": [{"customEvent": {"name": "l3", "events":
             [{"customEvent": {"name": "l4", "events": [{"customEvent":
             {"name": "l5", "events": [{"eventName": "view"}]}}]}}]}}]}}]}}""")._1 == 400)
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/custom-events/7")._1 == 200)

      // event<->property association: attach, duplicate 400, listed
      // under the event, detach; association follows a later rename
      assert(req(srv.port, "POST",
        "/api/v1/projects/1/schema/events/name/install/properties/device")._1 == 200)
      assert(req(srv.port, "POST",
        "/api/v1/projects/1/schema/events/name/install/properties/device")._1 == 400)
      assert(req(srv.port, "GET", "/api/v1/projects/1/schema/events")._2
        .contains("""{"name":"install","properties":["device"]}"""))
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/event-properties/device",
        """{"displayName": "Device Kind"}""")._1 == 200)
      assert(req(srv.port, "GET", "/api/v1/projects/1/schema/events")._2
        .contains("\"properties\":[\"Device Kind\"]"), "association renames with the property")
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/events/name/install/properties/Device%20Kind")._1 == 200)
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/events/name/install/properties/Device%20Kind")._1 == 400)
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/event-properties/Nope")._1 == 404)
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/event-properties/Turnover")._1 == 200)

      // group dimensions: list, add (unique, capped at the fixed 5),
      // and the new index resolves through the registry
      assert(req(srv.port, "GET", "/api/v1/projects/1/groups")._2
        .contains("\"id\":0"))
      assert(req(srv.port, "POST", "/api/v1/projects/1/groups",
        """{"column": "company_id"}""")._1 == 200)
      assert(req(srv.port, "POST", "/api/v1/projects/1/groups",
        """{"column": "company_id"}""")._1 == 400)
      assert(srv.currentRegistry.groupColumn(1) == "company_id")
      Seq("g2", "g3", "g4").foreach { g =>
        assert(req(srv.port, "POST", "/api/v1/projects/1/groups",
          s"""{"column": "$g"}""")._1 == 200)
      }
      assert(req(srv.port, "POST", "/api/v1/projects/1/groups",
        """{"column": "g5"}""")._1 == 400, "GROUPS_COUNT=5 cap")
    }
  }

  test("group-properties routes: per-group namespaces over HTTP") {
    val events = ev
    val registry = graft.engine.Metadata.fromEvents(events)
      .withGroupColumns(Seq("user_id", "device"))
      .withGroupProperty(0, graft.model.PropertyMeta("Tier", "value", "double"))
      .withGroupProperty(1, graft.model.PropertyMeta("Tier", "device", "string"))
    withServer(new GraftHttpServer(spark, events, registry = registry)) { srv =>
      // each group lists only ITS namespace; homonyms coexist
      val (l0, g0) = req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/0")
      assert(l0 == 200 && g0.contains("\"column\":\"value\""))
      val (l1, g1) = req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/1")
      assert(l1 == 200 && g1.contains("\"column\":\"device\""))
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/1/name/Tier")._2
        .contains("\"column\":\"device\""))
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/1/name/Nope")._1 == 404)
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/9")._1 == 400)
      // an id past Int range must NOT truncate-alias group 0
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/4294967296")._1 == 400)

      // rename in group 1 only — group 0's homonym must not move
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/group-properties/1/Tier",
        """{"displayName": "Plan"}""")._1 == 200)
      assert(srv.currentRegistry.groupProperty(1, "Plan").column == "device")
      assert(srv.currentRegistry.groupProperty(0, "Tier").column == "value")
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/group-properties/1/Tier",
        """{"displayName": "X"}""")._1 == 404, "old name gone after rename")
      // flag update addresses the group namespace, then delete empties it
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/group-properties/1/Plan",
        """{"isDictionary": true}""")._2.contains("\"isDictionary\":true"))
      assert(req(srv.port, "DELETE",
        "/api/v1/projects/1/schema/group-properties/1/Plan")._1 == 200)
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/group-properties/1")._2 == "[]")
      assert(srv.currentRegistry.groupProperty(0, "Tier").column == "value")
    }
  }

  test("schema mutations demand manage_schema; readers get 403") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    withServer(new GraftHttpServer(spark, ev,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      val owner = tenancy.createAccount("o@x.com", "Str0ng!pass", None, 0L)
      val org = tenancy.createOrganization("Acme", owner.id, 0L)
      val p = tenancy.createProject(org.id, "Shop", "t", owner.id, 0L)
      val reader = tenancy.createAccount("r@x.com", "Str0ng!pass2", None, 0L)
      tenancy.addProjectRole(reader.id, p.id, "reader")
      val ownerTok = auth.logIn("o@x.com", "Str0ng!pass").accessToken
      val readerTok = auth.logIn("r@x.com", "Str0ng!pass2").accessToken
      // reader may LIST schema (view_schema rides explore) but not mutate
      assert(req(srv.port, "GET", s"/api/v1/projects/${p.id}/schema/events",
        bearer = readerTok)._1 == 200)
      assert(req(srv.port, "POST", s"/api/v1/projects/${p.id}/schema/events",
        """{"name": "x"}""", bearer = readerTok)._1 == 403)
      assert(req(srv.port, "POST", s"/api/v1/projects/${p.id}/schema/events",
        """{"name": "x"}""", bearer = ownerTok)._1 == 200)
    }
  }

  test("profile self-service: get, rename, email/password change rotate tokens") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    withServer(new GraftHttpServer(spark, ev,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      val (_, signed) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "p@example.com", "password": "Str0ng!pass", "name": "Pat"}""")
      val tok = (graft.model.Json.parse(signed) / "accessToken").str

      assert(req(srv.port, "GET", "/api/v1/profile")._1 == 401)
      val (gc, prof) = req(srv.port, "GET", "/api/v1/profile", bearer = tok)
      assert(gc == 200 && prof.contains("\"email\":\"p@example.com\""))
      assert(!prof.contains("pbkdf2"), "password hash never serialized")

      assert(req(srv.port, "PUT", "/api/v1/profile/name",
        """{"name": "Patricia"}""", bearer = tok)._2.contains("\"name\":\"Patricia\""))

      // email change demands the CURRENT password; wrong one -> 400
      assert(req(srv.port, "PUT", "/api/v1/profile/email",
        """{"email": "new@example.com", "password": "wrong"}""", bearer = tok)._1 == 400)
      val (ec, rotated) = req(srv.port, "PUT", "/api/v1/profile/email",
        """{"email": "new@example.com", "password": "Str0ng!pass"}""", bearer = tok)
      assert(ec == 200 && rotated.contains("accessToken"))
      assert(tenancy.account(1L).get.email == "new@example.com")

      // password change: wrong current 400, weak new 400, then works
      assert(req(srv.port, "PUT", "/api/v1/profile/password",
        """{"password": "nope", "newPassword": "An0ther!pass"}""", bearer = tok)._1 == 400)
      assert(req(srv.port, "PUT", "/api/v1/profile/password",
        """{"password": "Str0ng!pass", "newPassword": "weak"}""", bearer = tok)._1 == 400)
      assert(req(srv.port, "PUT", "/api/v1/profile/password",
        """{"password": "Str0ng!pass", "newPassword": "An0ther!pass"}""",
        bearer = tok)._1 == 200)
      assert(req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "new@example.com", "password": "An0ther!pass"}""")._1 == 200)
      assert(req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "new@example.com", "password": "Str0ng!pass"}""")._1 == 401)

      // switch-organization mints tokens carrying the org; non-member 403
      val org = tenancy.createOrganization("Solo", 1L, 0L)
      val (_, fresh) = req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "new@example.com", "password": "An0ther!pass"}""")
      val freshTok = (graft.model.Json.parse(fresh) / "accessToken").str
      val (swc, swapped) = req(srv.port, "POST",
        s"/api/v1/auth/switch-organization/${org.id}", bearer = freshTok)
      assert(swc == 200 && swapped.contains("accessToken"))
      assert(req(srv.port, "POST",
        "/api/v1/auth/switch-organization/999", bearer = freshTok)._1 == 403)
    }
  }

  test("provisioned accounts: set-password/set-email consume the force flags") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    withServer(new GraftHttpServer(spark, ev,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      // bootstrap an admin, then provision an account flagged for
      // first-login password AND email reset (reference
      // CreateAccountRequest.force_update_password/email)
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "root@a.com", "password": "Str0ng!pass"}""")
      val adminTok = (graft.model.Json.parse(s1) / "accessToken").str
      tenancy.setAccountRole(1L, Some("admin"), 0L)
      val (cc, created) = req(srv.port, "POST", "/api/v1/accounts",
        """{"email": "temp@a.com", "password": "Pr0visioned!1",
            "forceUpdatePassword": true, "forceUpdateEmail": true}""",
        bearer = adminTok)
      assert(cc == 200 && created.contains("\"forceUpdatePassword\":true")
        && created.contains("\"forceUpdateEmail\":true"))

      val (_, li) = req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "temp@a.com", "password": "Pr0visioned!1"}""")
      val tok = (graft.model.Json.parse(li) / "accessToken").str

      // weak replacement 400s and leaves the flag armed
      assert(req(srv.port, "PUT", "/api/v1/profile/set-password",
        """{"password": "weak"}""", bearer = tok)._1 == 400)
      assert(tenancy.account(2L).get.forceUpdatePassword)
      // set-password needs no current password, clears the flag, and
      // rotates the token pair (reference auth/provider.rs:262-295)
      val (pc, ptoks) = req(srv.port, "PUT", "/api/v1/profile/set-password",
        """{"password": "MyOwn!pass1"}""", bearer = tok)
      assert(pc == 200 && ptoks.contains("accessToken"))
      assert(!tenancy.account(2L).get.forceUpdatePassword)
      assert(req(srv.port, "POST", "/api/v1/auth/login",
        """{"email": "temp@a.com", "password": "MyOwn!pass1"}""")._1 == 200)
      // second attempt: the flag is consumed -> 403, not 400
      assert(req(srv.port, "PUT", "/api/v1/profile/set-password",
        """{"password": "Another!pass1"}""", bearer = tok)._1 == 403)

      // same lifecycle for the email flag
      val (ec, etoks) = req(srv.port, "PUT", "/api/v1/profile/set-email",
        """{"email": "mine@a.com"}""", bearer = tok)
      assert(ec == 200 && etoks.contains("accessToken"))
      assert(tenancy.account(2L).get.email == "mine@a.com")
      assert(!tenancy.account(2L).get.forceUpdateEmail)
      assert(req(srv.port, "PUT", "/api/v1/profile/set-email",
        """{"email": "again@a.com"}""", bearer = tok)._1 == 403)
      // an un-flagged account never passes the gate
      assert(req(srv.port, "PUT", "/api/v1/profile/set-password",
        """{"password": "Whatever!pass1"}""", bearer = adminTok)._1 == 403)
    }
  }

  test("project update/delete behind manage_projects of the owning org") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    withServer(new GraftHttpServer(spark, ev,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "o@a.com", "password": "Str0ng!pass"}""")
      val ownerTok = (graft.model.Json.parse(s1) / "accessToken").str
      val (_, s2) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "x@a.com", "password": "Str0ng!pass2"}""")
      val outsiderTok = (graft.model.Json.parse(s2) / "accessToken").str
      req(srv.port, "POST", "/api/v1/organizations", """{"name": "Acme"}""",
        bearer = ownerTok)
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Web", "token": "tk1"}""",
        bearer = ownerTok)._1 == 200)
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Mobile", "token": "tk2"}""",
        bearer = ownerTok)._1 == 200)

      // outsider: no org role -> 403; unknown project 404s first
      assert(req(srv.port, "PUT", "/api/v1/projects/1",
        """{"name": "Stolen"}""", bearer = outsiderTok)._1 == 403)
      assert(req(srv.port, "PUT", "/api/v1/projects/99",
        """{"name": "Ghost"}""", bearer = ownerTok)._1 == 404)

      // owner updates: rename + description; explicit-null clears it;
      // a name collision with a sibling 400s and mutates nothing
      val (uc, upd) = req(srv.port, "PUT", "/api/v1/projects/1",
        """{"name": "Website", "description": "main site"}""", bearer = ownerTok)
      assert(uc == 200 && upd.contains("\"name\":\"Website\""))
      assert(upd.contains("\"description\":\"main site\""),
        "the response reflects the field that was just set")
      assert(tenancy.project(1L).get.description.contains("main site"))
      val (nc, cleared) = req(srv.port, "PUT", "/api/v1/projects/1",
        """{"description": null}""", bearer = ownerTok)
      assert(nc == 200 && tenancy.project(1L).get.description.isEmpty)
      assert(cleared.contains("\"name\":\"Website\""), "partial update keeps the name")
      assert(cleared.contains("\"description\":null"))
      assert(req(srv.port, "PUT", "/api/v1/projects/1",
        """{"name": "Mobile"}""", bearer = ownerTok)._1 == 400)
      assert(tenancy.project(1L).get.name == "Website")

      // a global admin outside the org passes (Admin -> Permission::All)
      tenancy.setAccountRole(2L, Some("admin"), 0L)
      assert(req(srv.port, "PUT", "/api/v1/projects/1",
        """{"sessionDurationSeconds": 7200}""", bearer = outsiderTok)._1 == 200)
      assert(tenancy.project(1L).get.sessionDurationSeconds == 7200L)
      tenancy.setAccountRole(2L, None, 0L)

      // delete: outsider 403, owner 200, gone afterwards (and the
      // ingest token dies with it)
      assert(req(srv.port, "DELETE", "/api/v1/projects/2",
        bearer = outsiderTok)._1 == 403)
      assert(req(srv.port, "DELETE", "/api/v1/projects/2",
        bearer = ownerTok)._1 == 200)
      assert(req(srv.port, "GET", "/api/v1/projects/2", bearer = ownerTok)._1 == 404)
      assert(tenancy.projectByToken("tk2").isEmpty)
    }
  }

  test("custom-event reads/update, event get-by-name, group-record by id") {
    val events = ev
    val registry = graft.engine.Metadata.fromEvents(events)
    withServer(new GraftHttpServer(spark, events, registry = registry)) { srv =>
      val base = "/api/v1/projects/1/schema/custom-events"
      assert(req(srv.port, "GET", base)._2 == "[]")
      assert(req(srv.port, "POST", base,
        """{"id": 3, "definition": {"name": "engagement", "events": [
             {"eventName": "view", "filters": [{"type": "property",
              "propertyType": "event", "propertyName": "value",
              "operation": "gt", "value": [10]}]},
             {"eventName": "click"}]}}""")._1 == 200)

      // list + by-id render the stored definition; the canonical form
      // round-trips through PUT (parse(render) == stored)
      val (lc, listed) = req(srv.port, "GET", base)
      assert(lc == 200 && listed.contains("\"id\":3")
        && listed.contains("\"name\":\"engagement\""))
      val (gc, one) = req(srv.port, "GET", s"$base/3")
      assert(gc == 200)
      val defJson = (graft.model.Json.parse(one) / "definition").render
      assert(req(srv.port, "PUT", s"$base/3",
        s"""{"definition": $defJson}""")._1 == 200)
      assert(req(srv.port, "GET", s"$base/3")._2 == one, "render/parse round-trip is stable")

      // the round-trip survives a property RENAME on this strict
      // registry: the stored filter's physical column renders under
      // its CURRENT display name, which the strict parse resolves
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/event-properties/value",
        """{"displayName": "Amount"}""")._1 == 200)
      val (rc2, renamed) = req(srv.port, "GET", s"$base/3")
      assert(rc2 == 200 && renamed.contains("\"propertyName\":\"Amount\""))
      val renamedDef = (graft.model.Json.parse(renamed) / "definition").render
      assert(req(srv.port, "PUT", s"$base/3",
        s"""{"definition": $renamedDef}""")._1 == 200,
        "rendered definition must re-parse after the rename")
      assert(req(srv.port, "PUT",
        "/api/v1/projects/1/schema/event-properties/Amount",
        """{"displayName": "value"}""")._1 == 200)

      // update replaces the definition and queries follow it
      assert(req(srv.port, "PUT", s"$base/3",
        """{"definition": {"name": "views only", "events": [{"eventName": "view"}]}}""")._1 == 200)
      assert(srv.currentRegistry.customEvent(3L).name == "views only")
      assert(srv.currentRegistry.customEvent(3L).members.size == 1)
      assert(req(srv.port, "PUT", s"$base/99",
        """{"definition": {"name": "ghost", "events": [{"eventName": "view"}]}}""")._1 == 404)
      assert(req(srv.port, "GET", s"$base/99")._1 == 404)

      // single event by name (reference events.rs get_by_name)
      val (ec, evJson) = req(srv.port, "GET",
        "/api/v1/projects/1/schema/events/name/view")
      assert(ec == 200 && evJson.contains("\"name\":\"view\""))
      assert(req(srv.port, "GET",
        "/api/v1/projects/1/schema/events/name/install")._1 == 404)

      // group-record by id: byte-identical to the engine path; a
      // missing id 404s like every by-id GET
      val (rc, rec) = req(srv.port, "GET", "/api/v1/projects/1/group-records/0/2")
      assert(rc == 200)
      assert(rec == Response.collect(graft.engine.Records.getGroupByKey(
        events, "user_id", "2")).toJson)
      assert(rec.contains("click"), "latest event of user 2 is its profile row")
      assert(req(srv.port, "GET", "/api/v1/projects/1/group-records/0/999")._1 == 404)
      // a STRING-keyed group dimension resolves through the raw
      // segment; a non-numeric id on a numeric dimension is 400
      assert(req(srv.port, "POST", "/api/v1/projects/1/groups",
        """{"column": "device"}""")._1 == 200)
      val (sc, srec) = req(srv.port, "GET", "/api/v1/projects/1/group-records/1/web")
      assert(sc == 200 && srec.contains("web"))
      assert(req(srv.port, "GET", "/api/v1/projects/1/group-records/1/nope")._1 == 404)
      assert(req(srv.port, "GET", "/api/v1/projects/1/group-records/0/abc")._1 == 400)
    }
  }

  test("admin settings: partial PUT merges, validation 400s, secrets not echoed") {
    val sp = new graft.model.SettingsProvider
    withServer(new GraftHttpServer(spark, ev, settings = Some(sp))) { srv =>
      val (gc, defaults) = req(srv.port, "GET", "/api/v1/admin/settings")
      assert(gc == 200 && defaults.contains("\"backupProvider\":\"local\""))
      // partial update keeps unmentioned fields; validation rejects an
      // incomplete s3 config and leaves the stored document untouched
      assert(req(srv.port, "PUT", "/api/v1/admin/settings",
        """{"backupProvider": "s3"}""")._1 == 400)
      assert(sp.load().backupProvider == "local")
      val (uc, upd) = req(srv.port, "PUT", "/api/v1/admin/settings",
        """{"backupProvider": "s3", "backupProviderS3Bucket": "b",
            "backupProviderS3Region": "r", "backupProviderS3AccessKey": "ak",
            "backupProviderS3SecretKey": "sk", "backupEnabled": true}""")
      assert(uc == 200 && upd.contains("\"backupEnabled\":true"))
      assert(!upd.contains("sk"), "secret keys are write-only")
      assert(sp.load().backupProviderS3SecretKey == "sk")
      // tenancy routes on a settings-only server are 404, not crashes
      assert(req(srv.port, "GET", "/api/v1/organizations")._1 == 404)
      assert(req(srv.port, "DELETE", "/api/v1/organizations/1")._1 == 404)
    }
  }

  test("admin settings behind the admin gate; open org mutations take empty bodies") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    val sp = new graft.model.SettingsProvider
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(tenancy),
      auth = Some(auth), settings = Some(sp))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "o@a.com", "password": "Str0ng!pass"}""")
      val ownerTok = (graft.model.Json.parse(s1) / "accessToken").str
      val (_, s2) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "m@a.com", "password": "Str0ng!pass2"}""")
      val plainTok = (graft.model.Json.parse(s2) / "accessToken").str
      req(srv.port, "POST", "/api/v1/organizations", """{"name": "Acme"}""",
        bearer = ownerTok)
      // the first admin bootstraps programmatically (the reference
      // creates one at init); org ownership alone does NOT suffice
      assert(req(srv.port, "GET", "/api/v1/admin/settings",
        bearer = ownerTok)._1 == 403)
      tenancy.setAccountRole(1L, Some("admin"), 0L)

      // global admin passes the gate; a mere account does not;
      // anonymous is 401 — and secrets never echo even to the admin
      assert(req(srv.port, "GET", "/api/v1/admin/settings")._1 == 401)
      assert(req(srv.port, "GET", "/api/v1/admin/settings",
        bearer = plainTok)._1 == 403)
      val (ac, admin) = req(srv.port, "GET", "/api/v1/admin/settings",
        bearer = ownerTok)
      assert(ac == 200 && !admin.contains("authAdminDefaultPassword"))
      assert(req(srv.port, "PUT", "/api/v1/admin/settings",
        """{"authAdminDefaultPassword": "hunter2"}""", bearer = plainTok)._1 == 403)
      assert(req(srv.port, "PUT", "/api/v1/admin/settings",
        """{"authAdminDefaultPassword": "hunter2"}""", bearer = ownerTok)._1 == 200)
      assert(sp.load().authAdminDefaultPassword == "hunter2")

      // admin account CRUD: list shows roles, PUT promotes/demotes,
      // an admin token reaches any project, DELETE scrubs memberships
      assert(req(srv.port, "GET", "/api/v1/accounts", bearer = plainTok)._1 == 403)
      val (lc, accs) = req(srv.port, "GET", "/api/v1/accounts", bearer = ownerTok)
      assert(lc == 200 && accs.contains("\"role\":\"admin\""))
      assert(req(srv.port, "PUT", "/api/v1/accounts/2",
        """{"role": "admin"}""", bearer = ownerTok)._1 == 200)
      assert(tenancy.isGlobalAdmin(2L))
      assert(req(srv.port, "PUT", "/api/v1/accounts/2",
        """{"role": "none"}""", bearer = ownerTok)._1 == 200)
      assert(!tenancy.isGlobalAdmin(2L))
      val (cc2, created) = req(srv.port, "POST", "/api/v1/accounts",
        """{"email": "svc@a.com", "password": "Str0ng!pass3"}""", bearer = ownerTok)
      assert(cc2 == 200 && created.contains("svc@a.com"))
      assert(req(srv.port, "DELETE", "/api/v1/accounts/3", bearer = ownerTok)._1 == 200)
      assert(tenancy.account(3L).isEmpty)
    }

    // auth-LESS server: the open pre-auth surface must accept a bare
    // DELETE with no body (the body-actor fallback is best-effort)
    val open = new graft.model.Tenancy
    open.createAccount("x@a.com", "Str0ng!pass", None, 0L)
    open.createOrganization("Solo", 1L, 0L)
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(open))) { srv =>
      assert(req(srv.port, "DELETE", "/api/v1/organizations/1")._1 == 200)
      assert(open.organization(1L).isEmpty)
    }
  }

  test("global admin short-circuits the org plane; adminGate fails closed; PUT accounts atomic") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    withServer(new GraftHttpServer(spark, ev,
      tenancy = Some(tenancy), auth = Some(auth))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "o@a.com", "password": "Str0ng!pass"}""")
      val ownerTok = (graft.model.Json.parse(s1) / "accessToken").str
      val (_, s2) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "root@a.com", "password": "Str0ng!pass2"}""")
      val rootTok = (graft.model.Json.parse(s2) / "accessToken").str
      req(srv.port, "POST", "/api/v1/organizations", """{"name": "Acme"}""",
        bearer = ownerTok)
      req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "P", "token": "tk1"}""", bearer = ownerTok)

      // account 2 is a member of NOTHING: scoped reads hide the
      // tenant and org mutations 403 (the pre-admin baseline)
      assert(req(srv.port, "GET", "/api/v1/organizations", bearer = rootTok)._2 == "[]")
      assert(req(srv.port, "GET", "/api/v1/organizations/1", bearer = rootTok)._1 == 403)
      assert(req(srv.port, "GET", "/api/v1/projects", bearer = rootTok)._2 == "[]")
      assert(req(srv.port, "PUT", "/api/v1/organizations/1",
        """{"name": "Evil"}""", bearer = rootTok)._1 == 403)
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Q", "token": "tk2"}""",
        bearer = rootTok)._1 == 403)

      // promote to global admin: Admin→Permission::All precedes every
      // org/project walk (reference common/src/rbac.rs:63), so the
      // SAME requests now succeed without any membership
      tenancy.setAccountRole(2L, Some("admin"), 0L)
      val (lo, orgs) = req(srv.port, "GET", "/api/v1/organizations", bearer = rootTok)
      assert(lo == 200 && orgs.contains("\"name\":\"Acme\""))
      assert(req(srv.port, "GET", "/api/v1/organizations/1", bearer = rootTok)._1 == 200)
      val (lp, projs) = req(srv.port, "GET", "/api/v1/projects", bearer = rootTok)
      assert(lp == 200 && projs.contains("\"name\":\"P\""))
      assert(req(srv.port, "GET", "/api/v1/organizations/1/projects",
        bearer = rootTok)._2.contains("\"name\":\"P\""))
      val (rc, renamed) = req(srv.port, "PUT", "/api/v1/organizations/1",
        """{"name": "Acme2"}""", bearer = rootTok)
      assert(rc == 200 && renamed.contains("\"name\":\"Acme2\""))
      assert(req(srv.port, "POST", "/api/v1/projects",
        """{"organizationId": 1, "name": "Q", "token": "tk2"}""",
        bearer = rootTok)._1 == 200)

      // PUT /accounts/:id is atomic: a valid name + invalid role must
      // mutate NOTHING (validate-then-apply, not apply-as-you-parse)
      assert(req(srv.port, "PUT", "/api/v1/accounts/1",
        """{"name": "Mutated", "role": "bogus"}""", bearer = rootTok)._1 == 400)
      assert(tenancy.account(1L).get.name.isEmpty, "invalid-role PUT leaked the name update")
      assert(req(srv.port, "PUT", "/api/v1/accounts/999",
        """{"name": "X"}""", bearer = rootTok)._1 == 404)

      // admin delete of an org it doesn't belong to also passes
      // (a project-less one — delete still enforces the no-projects
      // domain constraint regardless of role)
      req(srv.port, "POST", "/api/v1/organizations", """{"name": "Beta"}""",
        bearer = ownerTok)
      assert(req(srv.port, "DELETE", "/api/v1/organizations/1", bearer = rootTok)._1 == 400)
      assert(req(srv.port, "DELETE", "/api/v1/organizations/2", bearer = rootTok)._1 == 200)
      assert(tenancy.organization(2L).isEmpty)
    }

    // auth attached but NO tenancy: the admin plane must fail closed —
    // an authenticated account is not implicitly an admin
    val lonely = new graft.model.Tenancy
    val lonelyAuth = new graft.model.Auth(lonely, "k".getBytes, clock = () => 1000L)
    val sp = new graft.model.SettingsProvider
    withServer(new GraftHttpServer(spark, ev,
      auth = Some(lonelyAuth), settings = Some(sp))) { srv =>
      val (_, s) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "x@a.com", "password": "Str0ng!pass"}""")
      val tok = (graft.model.Json.parse(s) / "accessToken").str
      assert(req(srv.port, "GET", "/api/v1/admin/settings", bearer = tok)._1 == 403)
      assert(req(srv.port, "PUT", "/api/v1/admin/settings",
        """{"backupEnabled": true}""", bearer = tok)._1 == 403)
      assert(!sp.load().backupEnabled)
    }
  }

  test("admin backups: POST runs an archive, records round-trip, gate enforced") {
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    val sp = new graft.model.SettingsProvider
    val root = java.nio.file.Files.createTempDirectory("graft-http-bak").toString
    val store = s"$root/store"
    ev.write.mode("overwrite").parquet(store)
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(tenancy),
      auth = Some(auth), settings = Some(sp), backupStore = Some(store))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "a@x.com", "password": "Str0ng!pass"}""")
      val tok = (graft.model.Json.parse(s1) / "accessToken").str
      // non-admin 403, anonymous 401
      assert(req(srv.port, "GET", "/api/v1/admin/backups", bearer = tok)._1 == 403)
      assert(req(srv.port, "POST", "/api/v1/admin/backups/backup")._1 == 401)
      tenancy.setAccountRole(1L, Some("admin"), 0L)

      assert(req(srv.port, "GET", "/api/v1/admin/backups", bearer = tok)._2 == "[]")
      val (bc, made) = req(srv.port, "POST", "/api/v1/admin/backups/backup",
        bearer = tok)
      assert(bc == 200 && made.contains("\"status\":\"completed\""))
      val path = (graft.model.Json.parse(made) / "path").str
      assert(path.startsWith(s"$store-backups/"), "default path derives from the store")
      // the archive is real: restore it and read the rows back
      val m = graft.sources.Backup.restore(spark, path, s"$root/restored")
      assert(m.totalBytes > 0 && spark.read.parquet(s"$root/restored").count() == ev.count())
      // records list and resolve by id
      assert(req(srv.port, "GET", "/api/v1/admin/backups", bearer = tok)._2 == s"[$made]")
      assert(req(srv.port, "GET", "/api/v1/admin/backups/1", bearer = tok)._2 == made)
      assert(req(srv.port, "GET", "/api/v1/admin/backups/9", bearer = tok)._1 == 404)
      // a second run — even in the same clock millisecond — must get
      // its own archive file, never clobber the first record's bytes
      val (_, made2) = req(srv.port, "POST", "/api/v1/admin/backups/backup",
        bearer = tok)
      val p2 = (graft.model.Json.parse(made2) / "path").str
      assert(p2 != path, "record id keys the filename")
      assert(new java.io.File(path).length() > 0 && new java.io.File(p2).length() > 0)
    }

    // without a store (or settings) the surface is unmounted
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(tenancy),
      auth = Some(auth), settings = Some(sp))) { srv =>
      assert(req(srv.port, "GET", "/api/v1/admin/backups")._1 == 404)
    }
  }

  test("errors: malformed JSON 400, unknown routes 404") {
    withServer(new GraftHttpServer(spark, ev)) { srv =>
      assert(req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", "{nope")._1 == 400)
      assert(req(srv.port, "POST", "/api/v1/projects/1/queries/nope", "{}")._1 == 404)
      assert(req(srv.port, "GET", "/healthz")._1 == 404)
      assert(req(srv.port, "POST", "/api/v1/projects/1/reports/99/run")._1 == 404)
    }
  }

  test("a block mixing a per-user metric with a median is a 200, byte-identical to JsonApi") {
    val mixedBody = """{
      "time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-02-01T00:00:00Z"},
      "group": 0,
      "intervalUnit": "day",
      "events": [{
        "eventType": "regular",
        "eventName": "view",
        "queries": [{"type": "countPerGroup", "aggregate": "avg", "name": "avg_epu"},
                    {"type": "aggregateProperty", "propertyType": "event",
                     "propertyName": "value", "aggregate": "median", "name": "med"}]
      }],
      "breakdowns": []
    }"""
    val events = ev
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (code, got) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", mixedBody)
      assert(code == 200, got)
      assert(got == Response.collect(JsonApi.eventSegmentation(events, mixedBody)).toJson)
      assert(got.contains("med"))
    }
  }

  test("a segment with no condition group or an empty group is a 400, not a 500") {
    withServer(new GraftHttpServer(spark, ev)) { srv =>
      for (conditions <- Seq("[]", "[[]]");
           (route, body) <- Seq("event-segmentation" -> esBody, "funnel" -> funnelBody)) {
        val withSegment = body.trim.stripSuffix("}") +
          s""", "segments": [{"name": "none", "conditions": $conditions}]}"""
        val (code, out) = req(srv.port, "POST", s"/api/v1/projects/1/queries/$route", withSegment)
        assert(code == 400 && out.contains("segment 'none'"), s"$route $conditions: $code $out")
      }
    }
  }

  test("admin indexes: delete/purge/retrain routes are the library calls, gated") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    val root = java.nio.file.Files.createTempDirectory("graft-http-idx").toString
    val emb = (0 until 60).map { i =>
      (i.toLong,
        (0 until 8).map(j => (((i * 37 + j * 11) % 2001) - 1000) / 1000.0f))
    }.toDF("vec_id", "embedding")
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/vec",
      graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.trainCodebook(emb, "vec_id", "embedding",
        nCells = 4, iters = 1)))
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "beta gamma")).toDF("doc_id", "text")
    graft.pipeline.TextAnalysis.buildTextIndex(docs, "doc_id", "text", s"$root/txt")
    def neighbors(): Set[Long] = {
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.pipeline.Similarity.search(spark, q, "q_id", "q_vec",
          s"$root/vec", "vec_id", "embedding", k = 3, nProbe = 2)
        .select("vec_id").as[Long].collect().toSet
    }
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(tenancy),
        auth = Some(auth),
        indexes = Map("vec" -> s"$root/vec", "txt" -> s"$root/txt"))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "a@x.com", "password": "Str0ng!pass"}""")
      val tok = (graft.model.Json.parse(s1) / "accessToken").str
      // non-admin 403, anonymous 401 — the backup gate exactly
      assert(req(srv.port, "GET", "/api/v1/admin/indexes", bearer = tok)._1 == 403)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/vec/delete")._1 == 401)
      tenancy.setAccountRole(1L, Some("admin"), 0L)
      val (_, listed) = req(srv.port, "GET", "/api/v1/admin/indexes", bearer = tok)
      assert(listed.contains("\"kind\":\"vector\"") &&
        listed.contains("\"kind\":\"text\""))
      // route delete == library deleteFromIndex: the id stops
      // surfacing from every search tail immediately
      val before = neighbors()
      val victim = before.max
      val (dc, dbody) = req(srv.port, "POST", "/api/v1/admin/indexes/vec/delete",
        s"""{"ids": [$victim], "name": "gdpr-1"}""", bearer = tok)
      assert(dc == 200 && dbody == """{"deleted":1}""")
      assert(!neighbors().contains(victim))
      // purge reclaims bytes and keeps the id hidden
      val (pc, pbody) = req(srv.port, "POST", "/api/v1/admin/indexes/vec/purge",
        """{"name": "gdpr-1"}""", bearer = tok)
      assert(pc == 200 && pbody.contains("\"purged\":true"))
      assert(!neighbors().contains(victim))
      // retrain commits generation 0 atomically; the listing reflects
      // it and the erasure survives the physical rebuild
      val (rc, rbody) = req(srv.port, "POST", "/api/v1/admin/indexes/vec/retrain",
        """{"idCol": "vec_id", "vecCol": "embedding", "maxIters": 1}""",
        bearer = tok)
      assert(rc == 200 && rbody.contains("\"generation\":0"))
      val (_, got) = req(srv.port, "GET", "/api/v1/admin/indexes/vec", bearer = tok)
      assert(got.contains("\"generation\":0"))
      assert(!neighbors().contains(victim))
      // a second retrain then gc: the superseded generation is
      // reclaimed over the route and the serving one keeps answering
      val (rc2, rbody2) = req(srv.port, "POST", "/api/v1/admin/indexes/vec/retrain",
        """{"idCol": "vec_id", "vecCol": "embedding", "maxIters": 1}""",
        bearer = tok)
      assert(rc2 == 200 && rbody2.contains("\"generation\":1"))
      val (gc, gbody) = req(srv.port, "POST", "/api/v1/admin/indexes/vec/gc",
        """{"keep": 1}""", bearer = tok)
      assert(gc == 200 && gbody == """{"dropped":[0]}""")
      assert(!new java.io.File(s"$root/vec/gen=0").exists)
      assert(!neighbors().contains(victim))
      // text index: route delete == deleteFromTextIndex (doc 2 stops
      // matching and stats fold down), purge reclaims, retrain is a
      // loud 400 (text rebuilds from its corpus)
      val (tc, _) = req(srv.port, "POST", "/api/v1/admin/indexes/txt/delete",
        """{"ids": [2], "name": "gdpr-t"}""", bearer = tok)
      assert(tc == 200)
      val hits = graft.pipeline.TextAnalysis.termLookupAll(spark,
          s"$root/txt", Seq("alpha"))
        .select("doc_id").as[Long].collect().toSet
      assert(hits == Set(1L))
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/txt/purge", "{}",
        bearer = tok)._1 == 200)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/txt/retrain", "{}",
        bearer = tok)._1 == 400)
      assert(req(srv.port, "GET", "/api/v1/admin/indexes/zzz", bearer = tok)._1 == 404)
    }
    // without a registry the surface is unmounted
    withServer(new GraftHttpServer(spark, ev)) { srv =>
      assert(req(srv.port, "GET", "/api/v1/admin/indexes")._1 == 404)
    }
  }

  test("admin indexes: drift report, layout-dispatched retrain, registry CRUD") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tenancy = new graft.model.Tenancy
    val auth = new graft.model.Auth(tenancy, "k".getBytes, clock = () => 1000L)
    val root = java.nio.file.Files.createTempDirectory("graft-http-idx2").toString
    // clustered corpus: retrains move centroids measurably
    val emb = (0 until 100).map { i =>
      val cl = i % 4
      (i.toLong, (0 until 8).map(j =>
        (((cl * 997 + j * 131) % 2001) - 1000) / 1000.0f +
          (((i * 31 + j * 7) % 201) - 100) / 2000.0f))
    }.toDF("vec_id", "embedding")
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/pq",
      graft.pipeline.IndexLayout.Pq(m = 2, kCents = 4),
      Seq(graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 4)),
      pqIters = 1)
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/2l",
      graft.pipeline.IndexLayout.TwoLevel(coarseProbe = 2),
      Seq(graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 8),
        graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 2)))
    withServer(new GraftHttpServer(spark, ev, tenancy = Some(tenancy),
        auth = Some(auth),
        indexes = Map("pq" -> s"$root/pq", "2l" -> s"$root/2l"),
        indexRoot = Some(root))) { srv =>
      val (_, s1) = req(srv.port, "POST", "/api/v1/auth/signup",
        """{"email": "a@x.com", "password": "Str0ng!pass"}""")
      val tok = (graft.model.Json.parse(s1) / "accessToken").str
      tenancy.setAccountRole(1L, Some("admin"), 0L)
      // drift over HTTP == the library report, cell for cell
      val (dc, dbody) = req(srv.port, "GET", "/api/v1/admin/indexes/pq/drift",
        bearer = tok)
      assert(dc == 200, dbody)
      val lib = graft.pipeline.Similarity.indexDriftReport(spark, s"$root/pq",
        "vec_id", "embedding").collect()
      lib.foreach { r =>
        assert(dbody.contains(
          s"""{"cellId":${r.getLong(0)},"nRows":${r.getLong(1)},"driftMicro":${r.getLong(2)}}"""),
          s"missing cell ${r.getLong(0)} in $dbody")
      }
      assert(dbody.contains(
        s""""maxDriftMicro":${lib.map(_.getLong(2)).max}"""))
      // composed retrain dispatches to retrainIndexPq: commits gen 0,
      // the searches keep answering through the new generation
      val (rc, rbody) = req(srv.port, "POST", "/api/v1/admin/indexes/pq/retrain",
        """{"maxIters": 1}""", bearer = tok)
      assert(rc == 200 && rbody.contains("\"generation\":0"), rbody)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      assert(graft.pipeline.Similarity.search(spark, q,
        "q_id", "q_vec", s"$root/pq", "vec_id", "embedding",
        k = 3, shortlist = Some(6), nProbe = 2).collect().nonEmpty)
      // two-level retrain dispatches to retrainIndexTwoLevel under
      // the persisted coarseProbe; byte parity with the library call
      // on a twin artifact built+retrained the same way
      val twin = s"$root/2l-twin"
      graft.pipeline.Similarity.build(emb, "vec_id", "embedding", twin,
        graft.pipeline.IndexLayout.TwoLevel(coarseProbe = 2),
        Seq(graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 8),
          graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 2)))
      graft.pipeline.Similarity.retrain(spark, twin,
        "vec_id", "embedding", maxIters = 1)
      val (rc2, rbody2) = req(srv.port, "POST", "/api/v1/admin/indexes/2l/retrain",
        """{"maxIters": 1}""", bearer = tok)
      assert(rc2 == 200 && rbody2.contains("\"generation\":0") &&
        rbody2.contains("\"steps\":2"), rbody2)
      def rows2l(path: String) = graft.pipeline.Similarity
        .search(spark, q, "q_id", "q_vec", path,
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      assert(rows2l(s"$root/2l") == rows2l(twin),
        "HTTP retrain must equal the library retrain")
      // registry CRUD lifecycle: register → get → maintenance → delete → 404
      val extra = s"$root/extra"
      graft.pipeline.Similarity.build(emb, "vec_id", "embedding", extra,
        graft.pipeline.IndexLayout.Flat,
        Seq(graft.pipeline.Similarity.trainCodebook(emb, "vec_id", "embedding",
          nCells = 4, iters = 1)))
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/extra",
        s"""{"path": "$extra"}""", bearer = tok)._1 == 200)
      val (gc2, gbody2) = req(srv.port, "GET", "/api/v1/admin/indexes/extra",
        bearer = tok)
      assert(gc2 == 200 && gbody2.contains("\"kind\":\"vector\""), gbody2)
      assert(req(srv.port, "GET", "/api/v1/admin/indexes/extra/drift",
        bearer = tok)._1 == 200)
      // duplicate id rejected; traversal, out-of-root, symlink-escape
      // and missing paths rejected
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/extra",
        s"""{"path": "$extra"}""", bearer = tok)._1 == 400)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/evil",
        s"""{"path": "$root/../../etc"}""", bearer = tok)._1 == 403)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/evil",
        """{"path": "/etc/passwd"}""", bearer = tok)._1 == 403)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/evil",
        s"""{"path": "$root/does-not-exist"}""", bearer = tok)._1 == 400)
      // a symlink UNDER the root pointing outside it must not pass
      // the containment check (real paths, not lexical)
      val outside = java.nio.file.Files.createTempDirectory("graft-outside")
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(root, "sneaky"), outside)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/evil",
        s"""{"path": "$root/sneaky"}""", bearer = tok)._1 == 403)
      // unauthenticated probes cannot enumerate the registry: a
      // registered id answers exactly like an unknown one (401)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/pq/retrain",
        "{}")._1 == 401)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/zzz/retrain",
        "{}")._1 == 401)
      assert(req(srv.port, "DELETE", "/api/v1/admin/indexes/extra",
        bearer = tok)._1 == 200)
      assert(req(srv.port, "GET", "/api/v1/admin/indexes/extra",
        bearer = tok)._1 == 404)
      assert(req(srv.port, "DELETE", "/api/v1/admin/indexes/extra",
        bearer = tok)._1 == 404)
      // unregistering never deletes bytes
      assert(new java.io.File(s"$extra/cells").exists)
    }
    // a writable-but-empty registry still mounts the surface; without
    // a root, registration is refused (the static-map contract)
    withServer(new GraftHttpServer(spark, ev, indexRoot = Some(root))) { srv =>
      assert(req(srv.port, "GET", "/api/v1/admin/indexes")._2 == "[]")
    }
    withServer(new GraftHttpServer(spark, ev,
        indexes = Map("pq" -> s"$root/pq"))) { srv =>
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/x",
        s"""{"path": "$root/pq"}""")._1 == 403)
    }
  }

  test("admin indexes: maybe-retrain decision over HTTP; registrations persist across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-http-mr").toString
    val emb = (0 until 100).map { i =>
      val cl = i % 4
      (i.toLong, (0 until 8).map(j =>
        (((cl * 997 + j * 131) % 2001) - 1000) / 1000.0f +
          (((i * 31 + j * 7) % 201) - 100) / 2000.0f))
    }.toDF("vec_id", "embedding")
    // seed centroids (iters=0): high drift by design, so the policy
    // has something real to trip on
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/mr",
      graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.trainCodebook(emb, "vec_id", "embedding",
        nCells = 4, iters = 0)))
    // auth-less servers keep the open pre-auth surface — this test is
    // about the policy/persistence mechanics, gates are covered above
    withServer(new GraftHttpServer(spark, ev, indexRoot = Some(root))) { srv =>
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/mr",
        s"""{"path": "$root/mr"}""")._1 == 200)
      // below thresholds: decision + evidence, NO generation committed
      val (nc, nbody) = req(srv.port, "POST",
        "/api/v1/admin/indexes/mr/maybe-retrain",
        """{"maxDriftMicro": 99999999999}""")
      assert(nc == 200 && nbody.contains("\"retrained\":false") &&
        nbody.contains("\"generation\":null"), nbody)
      assert(graft.pipeline.IndexGen.currentGen(spark, s"$root/mr").isEmpty)
      // above thresholds: retrain fires through the dispatcher and
      // commits a generation; the evidence rides the response
      val (yc, ybody) = req(srv.port, "POST",
        "/api/v1/admin/indexes/mr/maybe-retrain",
        """{"maxDriftMicro": 0, "maxIters": 2}""")
      assert(yc == 200 && ybody.contains("\"retrained\":true") &&
        ybody.contains("\"generation\":0") &&
        ybody.contains("\"steps\":2"), ybody)
      assert(graft.pipeline.IndexGen.currentGen(spark, s"$root/mr")
        .contains(0L))
    }
    // a NEW server over the same root sees the persisted registration
    withServer(new GraftHttpServer(spark, ev, indexRoot = Some(root))) { srv =>
      val (gc, gbody) = req(srv.port, "GET", "/api/v1/admin/indexes/mr")
      assert(gc == 200 && gbody.contains("\"kind\":\"vector\""), gbody)
      assert(req(srv.port, "DELETE", "/api/v1/admin/indexes/mr")._1 == 200)
    }
    // the unregistration persisted too
    withServer(new GraftHttpServer(spark, ev, indexRoot = Some(root))) { srv =>
      assert(req(srv.port, "GET", "/api/v1/admin/indexes/mr")._1 == 404)
    }
    // constructor entries outrank a persisted registration on conflict
    val f = new java.io.File(root, "_graft_indexes.json")
    java.nio.file.Files.writeString(f.toPath,
      s"""{"mr":"$root/stale"}""")
    withServer(new GraftHttpServer(spark, ev, indexRoot = Some(root),
        indexes = Map("mr" -> s"$root/mr"))) { srv =>
      val (_, body) = req(srv.port, "GET", "/api/v1/admin/indexes/mr")
      assert(body.contains(s"$root/mr") && !body.contains("stale"), body)
      // a constructor-wired id refuses registry DELETE: the overlay
      // file never records constructor wiring, so the deletion would
      // silently revert at the next restart — live and post-restart
      // state must agree
      val (dc, dbody) = req(srv.port, "DELETE", "/api/v1/admin/indexes/mr")
      assert(dc == 400 && dbody.contains("constructor-wired"), dbody)
      assert(req(srv.port, "GET", "/api/v1/admin/indexes/mr")._1 == 200)
    }
  }

  test("search serves persisted indexes via the registry: byte-identity, 404 unknown, analyzer rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = Seq("alpha", "scan", "column", "window", "beta")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until (3 + i % 4)).map(j =>
        words((i * 3 + j) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-http-srv").toString
    graft.pipeline.TextAnalysis.buildTextIndex(docs, "doc_id", "text",
      s"$root/text")
    graft.pipeline.Similarity.build(
      graft.engine.JsonApi.maxsimTokenInstances(docs, "doc_id", "text", 8),
      "tok_id", "d_vec", s"$root/tok", graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.syntheticCodebook(spark, nCells = 4, dims = 8)),
      payload = Seq("doc_id"))
    val registry = Map("docs-idx" -> s"$root/text", "tok-idx" -> s"$root/tok")
    val resolver: Option[String => String] = Some(id => registry(id))
    withServer(new GraftHttpServer(spark, ev, documents = Some(docs),
        indexes = registry)) { srv =>
      // lexical through the persisted postings: the HTTP bytes ARE the
      // library's indexed result — the route resolves the id through
      // the SAME registry as /admin/indexes
      val lexBody =
        """{"terms": ["scan", "column"], "topK": 10, "index": "docs-idx"}"""
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", lexBody)
      assert(c1 == 200)
      assert(got1 == Response.collect(
        JsonApi.search(docs, lexBody, resolveIndex = resolver)).toJson)
      // and the indexed result matches the scan twin's numbers (one
      // oracle by construction)
      assert(got1 == Response.collect(JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 10}""")).toJson)
      // indexed late interaction through the token-instance artifact
      val msBody =
        """{"terms": ["scan", "column"], "topK": 5, "index": "tok-idx",
            "maxsim": {"dims": 8, "nProbe": 4, "candTok": 500}}"""
      val (c2, got2) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", msBody)
      assert(c2 == 200)
      assert(got2 == Response.collect(
        JsonApi.search(docs, msBody, resolveIndex = resolver)).toJson)
      // probe-all + vacuous candTok: indexed maxsim == scan maxsim
      assert(got2 == Response.collect(JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 5,
            "maxsim": {"dims": 8}}""")).toJson)
      // sparse through the same postings artifact
      val spBody = """{"weights": {"scan": 300, "column": -100},
                       "topK": 5, "index": "docs-idx"}"""
      val (c3, got3) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", spBody)
      assert(c3 == 200)
      assert(got3 == Response.collect(
        JsonApi.search(docs, spBody, resolveIndex = resolver)).toJson)
      // an id outside the registry can never aim a search at a path
      val (c4, b4) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search",
        s"""{"terms": ["scan"], "topK": 5, "index": "$root/text"}""")
      assert(c4 == 404 && b4.contains("not found"), b4)
      // a request analyzer cannot override the persisted one
      val (c5, b5) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search",
        """{"terms": ["scan"], "topK": 5, "index": "docs-idx",
            "analyzer": {"lowercase": true}}""")
      assert(c5 == 400 && b5.contains("persisted analyzer"), b5)
      // the registry listing surfaces the retrainability contract AND
      // the detected layout: a cells-layout vector artifact retrains,
      // a text index does not (it rebuilds from its corpus)
      val (_, tokJson) = req(srv.port, "GET", "/api/v1/admin/indexes/tok-idx")
      assert(tokJson.contains("\"retrainable\":true") &&
        tokJson.contains("\"layout\":\"flat\""), tokJson)
      val (_, txtJson) = req(srv.port, "GET", "/api/v1/admin/indexes/docs-idx")
      assert(txtJson.contains("\"retrainable\":false") &&
        txtJson.contains("\"layout\":\"text\""), txtJson)
    }
  }

  test("search companions + layout dispatch over HTTP: facet/snippet sections, filtered semantic, fused maxsim") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = Seq("alpha", "scan", "column", "window", "beta")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until (3 + i % 4)).map(j =>
        words((i * 3 + j) % words.length)).mkString(" "),
        if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    val emb = (0 until 40).map { i =>
      val a = i * 0.15
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat),
        (i % 3).toLong)
    }.toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft-http-cs").toString
    graft.pipeline.TextAnalysis.buildTextIndex(docs, "doc_id", "text",
      s"$root/text")
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/vec",
      graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.trainCodebook(emb, "vec_id", "embedding",
        nCells = 4, iters = 1)),
      payload = Seq("label"))
    graft.pipeline.Similarity.build(
      graft.engine.JsonApi.maxsimTokenInstances(docs, "doc_id", "text", 8),
      "tok_id", "d_vec", s"$root/tok", graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.syntheticCodebook(spark, nCells = 4, dims = 8)),
      payload = Seq("doc_id"))
    val registry = Map("docs-idx" -> s"$root/text", "vec-idx" -> s"$root/vec",
      "tok-idx" -> s"$root/tok")
    val resolver: Option[String => String] = Some(id => registry(id))
    withServer(new GraftHttpServer(spark, ev, documents = Some(docs),
        embeddings = Some(emb), indexes = registry)) { srv =>
      // facet + snippet sections ride BESIDE the ranked list, each
      // section the exact columnar bytes of its library operator
      val fBody = """{"terms": ["scan", "column"], "topK": 5,
                      "index": "docs-idx", "facets": ["lang"],
                      "snippet": {"width": 4}}"""
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", fBody)
      assert(c1 == 200)
      val expected = "{" +
        s""""results":${Response.collect(JsonApi.search(docs, fBody,
          resolveIndex = resolver)).toJson},""" +
        s""""facets":${Response.collect(JsonApi.searchFacets(docs, fBody,
          resolveIndex = resolver)).toJson},""" +
        s""""snippets":${Response.collect(JsonApi.searchSnippets(spark, fBody,
          resolveIndex = resolver)).toJson}""" + "}"
      assert(got1 == expected)
      assert(got1.contains("\"facets\"") && got1.contains("\"snippets\""))
      // a facets/snippet request without an index is a 400 at parse
      assert(req(srv.port, "POST", "/api/v1/projects/1/queries/search",
        """{"terms": ["scan"], "facets": ["lang"]}""")._1 == 400)
      // FILTERED semantic search: the where block compiles INSIDE the
      // probed-cell scan — byte-identity with the library, and every
      // neighbor satisfies the predicate
      val fsBody = """{"semantic": {"queryId": 0, "k": 3, "nProbe": 4,
                       "index": "vec-idx",
                       "where": [{"column": "label", "op": "eq",
                                  "values": [1]}]}}"""
      val (c2, got2) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", fsBody)
      assert(c2 == 200)
      assert(got2 == Response.collect(JsonApi.search(docs, fsBody,
        embeddings = Some(emb), resolveIndex = resolver)).toJson)
      val okIds = emb.filter(col("label") === 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val served = JsonApi.search(docs, fsBody, embeddings = Some(emb),
          resolveIndex = resolver)
        .select("id").collect().map(_.getLong(0))
      assert(served.nonEmpty && served.forall(okIds))
      // companions ride the SEMANTIC HYBRID too: its lexical half
      // carries the facet section beside the fused list
      val hfBody = """{"terms": ["scan", "column"], "topK": 10,
                       "index": "docs-idx", "facets": ["lang"],
                       "semantic": {"queryId": 0, "k": 5}, "fuseTopK": 5}"""
      val (cH, gotH) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", hfBody)
      assert(cH == 200)
      val expH = "{" +
        s""""results":${Response.collect(JsonApi.search(docs, hfBody,
          embeddings = Some(emb), resolveIndex = resolver)).toJson},""" +
        s""""facets":${Response.collect(JsonApi.searchFacets(docs, hfBody,
          resolveIndex = resolver)).toJson}""" + "}"
      assert(gotH == expH)
      // FUSED lexical × maxsim: two persisted artifacts serve one
      // request; probe-all + vacuous candTok makes the indexed route
      // equal the scan twin
      val fmBody = """{"terms": ["scan", "column"], "topK": 10,
                      "fuseTopK": 5, "index": "docs-idx",
                      "maxsim": {"dims": 8, "fuse": true, "nProbe": 4,
                                 "candTok": 500, "index": "tok-idx"}}"""
      val (c3, got3) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", fmBody)
      assert(c3 == 200)
      assert(got3 == Response.collect(JsonApi.search(docs, fmBody,
        resolveIndex = resolver)).toJson)
      assert(got3 == Response.collect(JsonApi.search(docs,
        """{"terms": ["scan", "column"], "topK": 10, "fuseTopK": 5,
            "maxsim": {"dims": 8, "fuse": true}}""")).toJson)
    }
  }

  test("indexed passage requests validate the persisted chunking; self-contained maxsim over HTTP") {
    import spark.implicits._
    val words = Seq("alpha", "scan", "column", "window", "beta", "merge")
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until (6 + i % 4)).map(j =>
        words((i * 3 + j) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-http-pm").toString
    graft.pipeline.TextAnalysis.buildPassageIndex(docs, "doc_id", "text",
      s"$root/pass", windowTokens = 4, strideTokens = 2)
    val registry = Map("pass-idx" -> s"$root/pass")
    withServer(new GraftHttpServer(spark, ev, documents = Some(docs),
        indexes = registry)) { srv =>
      // knob-less request serves from the persisted chunking
      val okBody = """{"terms": ["scan", "column"], "topK": 5,
                      "passage": {"passageK": 50}, "index": "pass-idx"}"""
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", okBody)
      assert(c1 == 200)
      assert(got1 == Response.collect(JsonApi.search(docs, okBody,
        resolveIndex = Some(_ => s"$root/pass"))).toJson)
      // matching explicit knobs serve; a MISMATCHED window is a wrong
      // belief about the artifact — 400, never silently wrong results
      assert(req(srv.port, "POST", "/api/v1/projects/1/queries/search",
        """{"terms": ["scan"], "topK": 5, "index": "pass-idx",
            "passage": {"window": 4, "stride": 2}}""")._1 == 200)
      val (cBad, bBad) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search",
        """{"terms": ["scan"], "topK": 5, "index": "pass-idx",
            "passage": {"window": 32}}""")
      assert(cBad == 400 && bBad.contains("window=4"), bBad)
    }
  }

  test("one registry, full lifecycle: register -> indexed search -> HTTP retrain -> search follows the new generation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-http-life").toString
    val docs = Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
    val emb = (0 until 60).map { i =>
      val cl = i % 3
      (i.toLong, (0 until 8).map(j =>
        (((cl * 997 + j * 131) % 2001) - 1000) / 1000.0f +
          (((i * 31 + j * 7) % 201) - 100) / 2000.0f))
    }.toDF("vec_id", "embedding")
    graft.pipeline.Similarity.build(emb, "vec_id", "embedding", s"$root/vec",
      graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.seedCodebook(emb, "vec_id", "embedding", 3)))
    val semBody = s"""{"semantic": {"queryId": 0, "k": 5, "nProbe": 2,
                       "index": "vec"}}"""
    withServer(new GraftHttpServer(spark, ev, documents = Some(docs),
        embeddings = Some(emb), indexRoot = Some(root))) { srv =>
      // an unregistered id 404s; registering it over the route makes
      // the SAME request serve
      assert(req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", semBody)._1 == 404)
      assert(req(srv.port, "POST", "/api/v1/admin/indexes/vec",
        s"""{"path": "$root/vec"}""")._1 == 200)
      val (c1, got1) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", semBody)
      assert(c1 == 200)
      assert(got1 == Response.collect(JsonApi.search(docs, semBody,
        embeddings = Some(emb),
        resolveIndex = Some(_ => s"$root/vec"))).toJson)
      // retrain over the SAME registry: a new generation commits and
      // the very next search request serves it, no re-registration
      val (rc, rbody) = req(srv.port, "POST",
        "/api/v1/admin/indexes/vec/retrain",
        """{"idCol": "vec_id", "vecCol": "embedding", "maxIters": 2}""")
      assert(rc == 200 && rbody.contains("\"generation\":0"), rbody)
      val (c2, got2) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/search", semBody)
      assert(c2 == 200)
      assert(got2 == Response.collect(JsonApi.search(docs, semBody,
        embeddings = Some(emb),
        resolveIndex = Some(_ => s"$root/vec"))).toJson)
      // the retrained (Lloyd-refined) generation really is what
      // serves: its results differ from the seed-codebook artifact
      // pinned at gen-less resolution only if centroids moved — pin
      // instead that the served generation is gen=0 (resolution moved)
      assert(graft.pipeline.IndexGen.currentGen(spark, s"$root/vec")
        .contains(0L))
    }
  }

  test("codes-only PQ: retrainable:false surfaced; maybe-retrain reports instead of erroring; drift takes query params") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-http-ret").toString
    val emb = (0 until 64).map { i =>
      (i.toLong, (0 until 8).map(j =>
        (((i * 31 + j * 7) % 2001) - 1000) / 1000.0f))
    }.toDF("vid", "emb")
    graft.pipeline.Similarity.build(emb, "vid", "emb", s"$root/codes",
      graft.pipeline.IndexLayout.PqCodes(m = 2, kCents = 4), Nil, pqIters = 1)
    graft.pipeline.Similarity.build(emb, "vid", "emb", s"$root/ivf",
      graft.pipeline.IndexLayout.Flat,
      Seq(graft.pipeline.Similarity.trainCodebook(emb, "vid", "emb", nCells = 4, iters = 1)))
    withServer(new GraftHttpServer(spark, ev,
        indexes = Map("codes" -> s"$root/codes", "ivf" -> s"$root/ivf"))) { srv =>
      // the codes-only artifact reads as an unretrainable vector index
      val (gc, gbody) = req(srv.port, "GET", "/api/v1/admin/indexes/codes")
      assert(gc == 200 && gbody.contains("\"kind\":\"vector\"") &&
        gbody.contains("\"retrainable\":false"), gbody)
      // maybe-retrain REPORTS the contract (200 + reason), so a
      // scheduled job learns "keep the corpus" instead of retrying 400s
      val (mc, mbody) = req(srv.port, "POST",
        "/api/v1/admin/indexes/codes/maybe-retrain",
        """{"maxDriftMicro": 0}""")
      assert(mc == 200 && mbody.contains("\"retrainable\":false") &&
        mbody.contains("\"retrained\":false") &&
        mbody.contains("IndexLayout.PqCodes"), mbody)
      // retrain refuses it with the same pointer library-side
      val e = intercept[IllegalArgumentException](
        graft.pipeline.Similarity.retrain(spark, s"$root/codes",
          "vid", "emb", maxIters = 1))
      assert(e.getMessage.contains("IndexLayout.PqCodes"))
      // drift on NON-default columns: query parameters survive clients
      // that drop GET bodies (the body-only form silently fell back to
      // vec_id/embedding and failed)
      val (dc, dbody) = req(srv.port, "GET",
        "/api/v1/admin/indexes/ivf/drift?idCol=vid&vecCol=emb")
      assert(dc == 200 && dbody.contains("\"maxDriftMicro\""), dbody)
      val (dc2, _) = req(srv.port, "GET", "/api/v1/admin/indexes/ivf/drift")
      assert(dc2 != 200, "default columns must not silently fit this index")
    }
  }

  test("a response does not wait for the client's delayed ACK") {
    // back-to-back requests on one HTTP/1.1 connection put the client's
    // TCP in request/response mode, where Linux delays an ACK by about
    // 40 ms; with Nagle on, the response body (written after the
    // flushed headers) would wait for that ACK
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    withServer(new GraftHttpServer(spark, ev)) { srv =>
      val get = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/metrics")).build()
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        assert(http11.send(get, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 20.0, ms.map(m => f"$m%.1f").mkString("ms: ", " ", ""))
    }
  }

  test("a request body over the 2 MiB bound gets 413, and the server keeps serving") {
    val path = "/api/v1/projects/1/queries/event-segmentation"
    val over = " " * (GraftHttpServer.MaxBodyBytes + 1)
    withServer(new GraftHttpServer(spark, ev)) { srv =>
      // declared Content-Length: refused before the body is read
      val (c1, b1) = req(srv.port, "POST", path, over)
      assert(c1 == 413 && b1.contains("\"error\""), b1)
      // unknown length (chunked): refused after bound + 1 bytes
      val chunked = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path"))
        .POST(HttpRequest.BodyPublishers.fromPublisher(
          HttpRequest.BodyPublishers.ofString(over)))
        .build()
      val r2 = client.send(chunked, HttpResponse.BodyHandlers.ofString())
      assert(r2.statusCode() == 413 && r2.body().contains("\"error\""), r2.body())
      val (c3, _) = req(srv.port, "POST", path, esBody)
      assert(c3 == 200)
    }
  }

  test("a request body at the 2 MiB bound is not refused for its size") {
    val events = ev
    // trailing whitespace pads a real query to exactly the bound
    val atBound = esBody + " " * (GraftHttpServer.MaxBodyBytes - esBody.length)
    withServer(new GraftHttpServer(spark, events)) { srv =>
      val (c, got) = req(srv.port, "POST",
        "/api/v1/projects/1/queries/event-segmentation", atBound)
      assert(c == 200, got)
      assert(got == Response.collect(JsonApi.eventSegmentation(events, esBody)).toJson)
    }
  }
}
