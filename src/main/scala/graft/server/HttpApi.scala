package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.Graft
import graft.core._
import graft.storage.LayerStore

/** Thin HTTP facade over query / document / versioning — the
  * reference's REST surface ([ref:server/routes.pl]) re-expressed over
  * the Spark engine. Built on the JDK's HttpServer (no dependencies).
  *
  * This is a CONTROL-PLANE surface: requests carry WOQL JSON in, and
  * responses carry bindings out, so response size is the result size —
  * exactly the reference's contract. Analytics-scale results stay in
  * Spark (write to a sink); the facade is how a TerminusDB client
  * submits queries, reads/inserts documents, and drives branches.
  *
  * Routes (all JSON):
  *   GET  /api/info                      — engine identity
  *   POST /api/woql                      — v10 WOQL JSON → bindings
  *   GET  /api/document?id=IRI           — flat document by id
  *   GET  /api/document?type=T[&query=J] — list (optionally template-matched)
  *   POST /api/document?type=T&key=f     — insert docs (one JSON per line)
  *   PUT  /api/document?id=I&type=T      — replace a document in place
  *   DELETE /api/document?id=I           — delete a document subgraph
  *   GET  /api/branch                    — list branches (name → head)
  *   POST /api/branch?name=N&from=B      — create branch at B's head
  *   POST /api/reset?branch=B&commit=C   — move a branch head
  *   POST /api/rebase?src=A&onto=B       — replay A onto B (conflicts reported)
  *   POST /api/squash?branch=B[&msg=M]   — one-commit equivalent head
  *   POST /api/migration[?branch=B]      — schema migration ops (JSON list)
  *                                         → one commit, data rewritten
  *   POST /api/pack?branch=B&dest=DIR    — write a transfer directory
  *   POST /api/clone?dest=DIR&branch=B   — clone into a fresh store root
  *   POST /api/push?remote=DIR&branch=B  — fast-forward push to a store root
  *   POST /api/pull?remote=DIR&branch=B  — fast-forward pull from a store root
  *   POST /api/fetch?remote=DIR&branch=B[&name=R] — fetch layers + remote-tracking
  *                                         ref; local branch head untouched
  *   GET  /api/log?branch=B[&start=N&count=M] — commit log, newest first
  *   GET  /api/diff?from=X&to=Y[&id=IRI][&format=triples] — patch
  *                                         presentation (swap/insert/
  *                                         delete) or lossless EAV rows
  *   POST /api/patch?branch=B            — apply a triples-format patch
  *                                         body as one commit
  *   POST /api/apply?branch=B&from=X&to=Y — server-side diff-and-commit
  *   POST /api/optimize?branch=B         — flatten the head's layer
  *                                         chain (history untouched)
  *   GET/POST/DELETE /api/remote         — named remote catalog
  *   GET  /api/ok                        — liveness probe (no auth)
  *   GET/POST/DELETE /api/user | /api/organization | /api/role,
  *   POST/DELETE /api/capability         — capability management
  *                                         (requires manage_capabilities)
  *   GET  /api/prefixes                  — the database prefix context
  *   GET  /api/triples?branch=B          — branch graph as turtle (text)
  *   POST /api/triples?branch=B          — turtle body → one commit
  *   GET/POST/DELETE /api/db[?name=N]    — list / create / delete databases
  *   GET  /api/schema                    — schema graph as JSON triples
  *   GET  /api/frame[?class=C]           — class frames (own + inherited)
  *
  * Auth: pass `token` to [[start]] (or set GRAFT_HTTP_TOKEN) to require
  * `Authorization: Bearer <token>` on every route except `/api/info`.
  * Pass `capabilities` (a [[Capabilities.Catalog]] of orgs/users/roles)
  * to replace the shared token with per-user bearer tokens and
  * route-level action checks — 401 for unknown tokens, 403 when the
  * user's grants don't cover the route's `(action, database)` (see
  * `requiredCap` for the policy table; the base dataset is database
  * `_default`).
  *
  * Bindings render: IRIs as plain strings, literals as
  * `{"@type": xsd-type, "@value": v}` — the reference's JSON-LD-ish
  * binding shape. */
object HttpApi {

  final case class Running(server: HttpServer, port: Int, store: LayerStore) {
    def stop(): Unit = server.stop(0)
    def url(path: String): String = s"http://127.0.0.1:$port$path"
  }

  /** Mutable capability state: the management routes (`/api/user`,
    * `/api/role`, …) swap whole immutable [[Capabilities.Catalog]]
    * values through this reference — auth checks read one volatile. */
  type CapsRef =
    java.util.concurrent.atomic.AtomicReference[Option[Capabilities.Catalog]]

  def start(spark: SparkSession, sfDir: String, port: Int = 0,
            token: Option[String] = sys.env.get("GRAFT_HTTP_TOKEN"),
            capabilities: Option[Capabilities.Catalog] =
              sys.env.get("GRAFT_CAPS_FILE").map(Capabilities.fromFile),
            capsFile: Option[String] = sys.env.get("GRAFT_CAPS_FILE"),
            storeRoot: Option[String] = None): Running = {
    implicit val auth: Option[String] = token
    implicit val caps: CapsRef = new CapsRef(capabilities)
    val store = LayerStore.open(spark, storeRoot.getOrElse(
      Graft.cacheRoot + "/http_store_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")))
    // the base ctx carries the store's `using` resolver, so WOQL-level
    // Using(branch/..., q) works over the wire as well as ?branch/?commit
    implicit val ctx: Ctx = Graft.ctx(spark, sfDir)
      .copy(resolve = graft.storage.Updates.resolver(store))
    val srv = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)

    srv.createContext("/api/info", route { ex =>
      ok(JObject("api:status" -> JString("api:success"),
        "name" -> JString("graft"),
        "engine" -> JString("spark"),
        "spark_version" -> JString(spark.version)))
    })

    // resource addressing shared by the woql and graphql routes:
    // ?branch=B queries a branch head, ?commit=C any commit (TIME
    // TRAVEL — the reference's commit-descriptor resources); default
    // is the base dataset. The subsumption closure re-derives from the
    // ADDRESSED graph — a branch's own schema triples drive isa there,
    // not the base's — and graphKey re-derives commit-id-keyed:
    // carrying the base key over would poison the path engine's
    // step-relation cache with the wrong graph's edges. A commit's
    // graph never changes, so its closure is memoized under the same
    // key as its fold.
    def addressedCtx(ex: HttpExchange): Ctx = {
      def at(commitId: String) = {
        val g = store.materialize(commitId)
        ctx.copy(triples = g,
          subclass = store.derived(commitId, "subclass")(
            graft.storage.Eav.subclassClosure(spark, g)),
          graphKey = Some(store.graphKey(commitId)))
      }
      (param(ex, "commit"), param(ex, "branch")) match {
        case (Some(c), _) => at(c)
        case (_, Some(b)) => at(store.refs.getOrElse(b,
          throw new IllegalArgumentException(s"no such branch $b")))
        case _ => ctx
      }
    }

    srv.createContext("/api/woql", route { ex =>
      require(ex.getRequestMethod == "POST", "POST required")
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      // wire-version sniff on the PARSED root @type ([ref:core/query/
      // json_woql.pl]): v3 roots are `woql:`-prefixed. Substring
      // sniffing on the raw body would misroute v10 queries whose
      // string DATA merely contains "woql:". Both dialects execute
      // through the same AST, reads AND writes.
      val isV3 = JsonMethods.parseOpt(body).exists(j => (j \ "@type") match {
        case JString(t) => t.startsWith("woql:")
        case _ => false
      })
      val (ast, writes) =
        if (isV3) {
          val (q, adds, dels) = graft.core.JsonWoqlV3.parseUpdate(body)
          (q, adds.map(t => (t._1, t._2, t._3, "instance", true)) ++
            dels.map(t => (t._1, t._2, t._3, "instance", false)))
        } else JsonWoql.parseUpdate(body)
      val qctx = addressedCtx(ex)
      if (writes.isEmpty)
        bindingsJson(Compiler.run(ast)(qctx),
          start = param(ex, "start").map(_.toInt).getOrElse(0),
          limit = param(ex, "limit").map(_.toInt))
      else {
        // WOQL WRITE query over the wire ([ref:server/routes.pl] woql
        // against a writable resource): AddTriple/DeleteTriple leaves
        // become staging templates driven by the read part's solutions,
        // landed as ONE commit on ?branch (default main). The read part
        // queries the addressed resource like every other woql call.
        // Requires instance_write_access — and schema_write_access when
        // any template targets the schema graph, mirroring the prefix
        // route's gate (a writer role must not be able to inject
        // constraint rows). 403, not 400, when a grant is missing.
        caps.get().foreach { cat =>
          val u = bearer(ex).flatMap(cat.user)
          if (!u.exists(cat.allows(_,
              Capabilities.Actions.InstanceWrite, BaseDb)))
            throw Denied("requires instance_write_access on " + BaseDb)
          if (writes.exists(_._4 == "schema") &&
              !u.exists(cat.allows(_,
                Capabilities.Actions.SchemaWrite, BaseDb)))
            throw Denied("schema-graph templates require " +
              "schema_write_access on " + BaseDb)
        }
        require(param(ex, "commit").isEmpty,
          "cannot write to a commit resource — address a branch")
        val branch = param(ex, "branch").getOrElse("main")
        val byGraph = writes.groupBy(_._4)
        var adds = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], graft.storage.Eav.schema)
        var removes = adds
        byGraph.toList.sortBy(_._1).foreach { case (g, ts) =>
          val (a, r) = graft.storage.Updates.stage(ast,
            inserts = ts.filter(_._5).map(t => (t._1, t._2, t._3)),
            deletes = ts.filterNot(_._5).map(t => (t._1, t._2, t._3)),
            graph = g)(qctx)
          adds = adds.unionByName(a); removes = removes.unionByName(r)
        }
        val (na, nr) = (adds.count(), removes.count())
        val head = store.commit(branch, adds, removes,
          param(ex, "msg").getOrElse("woql update"))
        ok(JObject("api:status" -> JString("api:success"),
          "branch" -> JString(branch), "head" -> JString(head),
          "inserts" -> JInt(BigInt(na)), "deletes" -> JInt(BigInt(nr))))
      }
    })

    srv.createContext("/api/graphql", route { ex =>
      require(ex.getRequestMethod == "POST", "POST required")
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      // standard GraphQL-over-HTTP envelope {"query": "..."}; a raw
      // query document is accepted too
      val query = JsonMethods.parseOpt(body) match {
        case Some(j) => (j \ "query") match {
          case JString(q) => q
          case _ => body
        }
        case None => body
      }
      // same ?branch/?commit resource addressing as /api/woql — the
      // reference's per-branch GraphQL endpoints
      val (cls, df) = GraphQL.run(query)(addressedCtx(ex))
      val rows: List[JValue] = df.collect().toList.map { r =>
        JObject(df.columns.toList.map { c =>
          // data queries bind Vals structs; introspection binds plain
          // scalars — render both
          c -> (r.get(r.fieldIndex(c)) match {
            case null => JNull
            case row: Row => plainVal(row)
            case s: String => JString(s)
            case l: Long => JInt(BigInt(l))
            case i: Int => JInt(BigInt(i))
            case d: Double => JDouble(d)
            case b: Boolean => JBool(b)
            case other => JString(other.toString)
          })
        })
      }
      ok(JObject("data" -> JObject(cls -> JArray(rows))))
    })

    // Default document graph, shared by the by-id and list-by-type
    // sub-routes: the base dataset plus (when it exists) the main
    // branch head, so API-committed documents and the loaded corpus
    // are both visible without an explicit ?branch. A `def`: main's
    // head moves with every commit.
    def defaultGraph: org.apache.spark.sql.DataFrame =
      store.refs.get("main").map(h => ctx.triples.unionByName(store.materialize(h)))
        .getOrElse(ctx.triples)

    // document JSON with the reference's @id/@type envelope
    // ([ref:core/document/json.pl] json document shape) — metadata
    // first, fields after, like the reference's document responses
    def docJsonWithMeta(g: org.apache.spark.sql.DataFrame, id: String,
                        unfold: Boolean = true,
                        depth: Int = Int.MaxValue): String = {
      import org.apache.spark.sql.functions.col
      val ty = g.filter(col("s") === id && col("p") === "rdf:type" &&
          col("o_kind") === "i").select("o_iri").limit(1)
        .collect().headOption.map(_.getString(0))
      val body = graft.docs.Documents.read(g, id, unfold, depth) match {
        case JObject(fields) => fields
        case other => List("value" -> other)
      }
      JsonMethods.compact(JsonMethods.render(JObject(
        ("@id" -> (JString(id): JValue)) ::
          ty.map(t => "@type" -> (JString(t): JValue)).toList ::: body)))
    }

    srv.createContext("/api/document", route { ex =>
      ex.getRequestMethod match {
        case "GET" => param(ex, "id") match {
          case Some(id) =>
            // ?branch=B reads the document from a branch head, and
            // ?commit=C from any commit (time travel, like /api/woql);
            // default graph matches the list-by-type sub-route below
            // (base dataset ∪ main head) so a document returned by the
            // listing never 404s on the follow-up id fetch, and base
            // documents stay readable once an API commit creates main
            val g = (param(ex, "commit"), param(ex, "branch")) match {
              case (Some(c), _) => store.materialize(c)
              case (_, Some(b)) => store.materializeBranch(b)
              case _ => defaultGraph
            }
            require(!g.filter(org.apache.spark.sql.functions
              .col("s") === id).isEmpty, s"document not found: $id")
            // JSON-LD framing ([ref:core/query/frame.pl]):
            // ?unfold=false folds subdocuments to their @id strings,
            // ?depth=N unfolds only N levels below the root
            raw(docJsonWithMeta(g, id,
              unfold = !param(ex, "unfold").contains("false"),
              depth = param(ex, "depth").map(_.toInt).getOrElse(Int.MaxValue)))
          case None =>
            // paged list-by-type: one JSON document per line, ordered
            // by id so skip/count page deterministically
            val ty = param(ex, "type")
              .getOrElse(sys.error("id or type parameter required"))
            val skip = param(ex, "skip").map(_.toInt).getOrElse(0)
            val count = param(ex, "count").map(_.toInt).getOrElse(100)
            val unfold = !param(ex, "unfold").contains("false")
            val depth = param(ex, "depth").map(_.toInt).getOrElse(Int.MaxValue)
            val graph = defaultGraph
            // ?query=<partial document JSON> filters the listing to
            // template-matching documents ([ref:core/api/api_document.pl]
            // query parameter); same ordered skip/count paging
            val ids = param(ex, "query") match {
              case Some(q) => graft.docs.Documents.queryIds(
                graph, ty, JsonMethods.parse(q), skip, count)
              case None => graft.docs.Documents.listIds(graph, ty, skip, count)
            }
            raw(ids.map(docJsonWithMeta(graph, _, unfold, depth)).mkString("\n"))
        }
        case "POST" =>
          val docType = param(ex, "type").getOrElse(sys.error("type parameter required"))
          val keyFields = param(ex, "key").map(_.split(",").toSeq)
            .getOrElse(sys.error("key parameter required"))
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          import spark.implicits._
          val jsons = body.split("\n").toSeq.filter(_.trim.nonEmpty).toDS()
          val adds = graft.docs.Documents.insertAll(jsons, docType,
            graft.docs.Documents.LexicalKey(keyFields))
          // ?validate=true: run the full commit-time constraint set
          // ([ref:core/validation/validate_instance.pl]) BEFORE the
          // commit — schema rows come from the base dataset AND main's
          // head (g = "schema"), so constraints committed through the
          // API are enforced here too. Violations 400 with per-check
          // counts; the store is untouched.
          if (param(ex, "validate").contains("true")) {
            import org.apache.spark.sql.functions.col
            val g0 = defaultGraph
            // subclass closure re-derives from the SAME merged graph
            // the schema rows come from — an API-committed
            // rdfs:subClassOf must reach the domain checks, not just
            // the base dataset's startup-time closure
            val results = graft.storage.Validator.validate(
              g0.filter(col("g") === "instance"), adds,
              g0.filter(col("g") === "schema"),
              graft.storage.Eav.subclassClosure(spark, g0))
            val bad = results.toList.sortBy(_._1)
              .map { case (k, df) => k -> df.limit(11).count() }
              .filter(_._2 > 0)
            require(bad.isEmpty, "schema validation failed: " +
              bad.map { case (k, n) =>
                s"$k(${if (n > 10) "10+" else n.toString})" }.mkString(", "))
          }
          val ids = adds.filter(org.apache.spark.sql.functions.col("p") === "rdf:type")
            .select("s").distinct().collect().map(_.getString(0)).toList.sorted
          val commitId = store.commit("main", adds,
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              graft.storage.Eav.schema), s"insert ${ids.size} $docType docs")
          ok(JObject("api:status" -> JString("api:success"),
            "commit" -> JString(commitId),
            "ids" -> JArray(ids.map(JString(_)))))
        // replace-in-place ([ref:core/api/api_document.pl] PUT): the
        // body document's subgraph supplants ?id's — removes the old
        // subgraph, inserts the new one under the SAME id, one commit
        case "PUT" =>
          val id = param(ex, "id").getOrElse(sys.error("id parameter required"))
          val docType = param(ex, "type")
            .getOrElse(sys.error("type parameter required"))
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          val g = defaultGraph
          require(!g.filter(org.apache.spark.sql.functions
            .col("s") === id).isEmpty, s"document not found: $id")
          val (adds, removes) = graft.storage.Updates.stageDocUpdate(
            g, id, body, docType)
          val commitId = store.commit("main", adds, removes, s"replace $id")
          ok(JObject("api:status" -> JString("api:success"),
            "commit" -> JString(commitId), "id" -> JString(id)))
        // document delete ([ref:core/api/api_document.pl] DELETE):
        // stages the full subgraph as removes through the commit
        // protocol — subdocuments go with their root
        case "DELETE" =>
          val id = param(ex, "id").getOrElse(sys.error("id parameter required"))
          val g = defaultGraph
          val doomed = graft.docs.Documents.delete(g, id)
          require(!doomed.isEmpty, s"document not found: $id")
          val commitId = store.commit("main",
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              graft.storage.Eav.schema), doomed, s"delete $id")
          ok(JObject("api:status" -> JString("api:success"),
            "commit" -> JString(commitId), "deleted" -> JString(id)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/branch", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          ok(JObject("api:status" -> JString("api:success"),
            "branches" -> JObject(store.refs.toList.sortBy(_._1)
              .map { case (n, h) => n -> (JString(h): JValue) })))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val from = param(ex, "from").getOrElse("main")
          store.branch(name, store.refs(from))
          ok(JObject("api:status" -> JString("api:success"),
            "branch" -> JString(name), "head" -> JString(store.refs(name))))
        case "DELETE" =>
          // ref removal only — commits are content-addressed and may be
          // shared ([ref:core/api/db_branch.pl] branch delete); main is
          // protected
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          store.deleteBranch(name)
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    // ---- versioning routes ([ref:server/routes.pl] rebase / squash /
    // pack / clone / push / pull / prefixes / triples). Remote stores
    // are addressed by store-root directory — the single-node spelling
    // of the reference's remote URL; the pack format is the transfer
    // directory `pack`/`unpack` already exchange. ----

    def postParam(ex: HttpExchange, name: String): String = {
      require(ex.getRequestMethod == "POST", "POST required")
      param(ex, name).getOrElse(sys.error(s"$name parameter required"))
    }

    srv.createContext("/api/reset", route { ex =>
      val branch = postParam(ex, "branch")
      val commit = postParam(ex, "commit")
      store.reset(branch, commit)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(commit)))
    })

    srv.createContext("/api/rebase", route { ex =>
      val src = postParam(ex, "src"); val onto = postParam(ex, "onto")
      // optional JSON body {"resolutions": {"<cid>": "ours"|"theirs"}}
      // — the reference's rebase fixup/continuation path: a prior
      // api:conflict response names the commits; the client re-posts
      // with a strategy per conflict and the replay completes
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val resolutions: Map[String, String] =
        JsonMethods.parseOpt(body).toList.flatMap(j =>
          (j \ "resolutions") match {
            case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }
            case _ => Nil
          }).toMap
      store.rebase(src, onto, resolutions = resolutions) match {
        case Right(head) => ok(JObject(
          "api:status" -> JString("api:success"),
          "branch" -> JString(src), "head" -> JString(head)))
        case Left(conflicts) => ok(JObject(
          "api:status" -> JString("api:conflict"),
          "conflicts" -> JArray(conflicts.toList.map { case (cid, n) =>
            JObject("commit" -> JString(cid),
              "missing_triples" -> JInt(BigInt(n))): JValue })))
      }
    })

    srv.createContext("/api/squash", route { ex =>
      val branch = postParam(ex, "branch")
      val msg = param(ex, "msg").getOrElse("squash")
      val head = store.optimize(branch, msg)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(head)))
    })

    srv.createContext("/api/migration", route { ex =>
      // schema migration ([ref:core/api/api_migration.pl]): a JSON list
      // of operations, applied as ONE commit on ?branch (default main).
      // [{"op":"rename_property","from":"p","to":"q"},
      //  {"op":"cast_property","property":"p","range":"xsd:integer"},
      //  {"op":"add_class","class":"C","super":"D"},
      //  {"op":"delete_class","class":"C","force":true},
      //  {"op":"add_property","property":"p","domain":"C","range":"xsd:string"},
      //  {"op":"delete_property","property":"p"}]
      require(ex.getRequestMethod == "POST", "POST required")
      val branch = param(ex, "branch").getOrElse("main")
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      import graft.storage.Migration
      def s(j: JValue, f: String): String = (j \ f) match {
        case JString(x) => x
        case _ => sys.error(s"migration op needs string field '$f'")
      }
      val ops = JsonMethods.parse(body) match {
        case JArray(items) => items.map { j =>
          s(j, "op") match {
            case "add_class" => Migration.AddClass(s(j, "class"),
              (j \ "super") match { case JString(x) => Some(x); case _ => None })
            case "delete_class" => Migration.DeleteClass(s(j, "class"),
              (j \ "force") == JBool(true))
            case "add_property" => Migration.AddProperty(s(j, "property"),
              s(j, "domain"), s(j, "range"))
            case "delete_property" => Migration.DeleteProperty(s(j, "property"))
            case "rename_property" => Migration.RenameProperty(s(j, "from"), s(j, "to"))
            case "cast_property" => Migration.CastProperty(s(j, "property"), s(j, "range"))
            case other => sys.error(s"unknown migration op '$other'")
          }
        }
        case _ => sys.error("migration body must be a JSON list of ops")
      }
      val head = Migration.migrate(store, branch, ops,
        param(ex, "msg").getOrElse("migration"))
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(head),
        "ops" -> JInt(BigInt(ops.size))))
    })

    // ---- named remotes ([ref:server/routes.pl] remote CRUD): a small
    // name → store-root catalog persisted next to the commit catalog;
    // push/pull/fetch/clone accept a remote name, a literal filesystem
    // root, or an `http(s)://` base URL of another graft server ----

    // small name→string catalogs persisted next to the commit catalog
    // (remotes, prefix overlay) share one read/write pair
    def readJsonMap(p: java.nio.file.Path): Map[String, String] =
      if (!java.nio.file.Files.exists(p)) Map.empty
      else JsonMethods.parse(java.nio.file.Files.readString(p)) match {
        case JObject(fields) => fields.collect {
          case (n, JString(v)) => n -> v }.toMap
        case _ => Map.empty
      }
    def writeJsonMap(p: java.nio.file.Path, m: Map[String, String]): Unit = {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p,
        JsonMethods.pretty(JsonMethods.render(JObject(
          m.toList.sortBy(_._1).map { case (n, v) => n -> (JString(v): JValue) }))))
    }

    val remotesPath = java.nio.file.Paths.get(store.root, "_catalog", "remotes.json")
    def readRemotes: Map[String, String] = readJsonMap(remotesPath)
    def writeRemotes(m: Map[String, String]): Unit = writeJsonMap(remotesPath, m)
    def remoteRoot(nameOrPath: String): String =
      readRemotes.getOrElse(nameOrPath, nameOrPath)
    def isHttp(root: String): Boolean =
      root.startsWith("http://") || root.startsWith("https://")
    // credential for the remote goes in ?remote_token= — the caller's
    // own bearer is NEVER forwarded implicitly (that would hand this
    // server's credential to whatever URL the request names)
    def httpRemote(ex: HttpExchange, root: String) =
      graft.storage.RemoteTransfer.HttpRemote(root, param(ex, "remote_token"))

    srv.createContext("/api/pack", route { ex =>
      val branch = postParam(ex, "branch")
      param(ex, "dest") match {
        case Some(dest) => // filesystem transfer-dir mode (same host)
          store.pack(branch, dest)
          val layers = Option(new java.io.File(dest, "layers").list())
            .map(_.length).getOrElse(0)
          ok(JObject("api:status" -> JString("api:success"),
            "branch" -> JString(branch), "dest" -> JString(dest),
            "layers" -> JInt(BigInt(layers))))
        case None =>
          // network mode ([ref:core/api/api_pack.pl] streams pack
          // payloads): the pack is zipped to a TEMP FILE and streamed
          // file→socket through a fixed buffer, so a multi-GB layer
          // pack never materializes in the facade heap.
          // ?have=<comma-separated commit ids> is the receiver's
          // negotiation set — their layers are not packed
          val have = param(ex, "have")
            .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
          graft.storage.RemoteTransfer.withPackFile(store, branch, have) { zip =>
            ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
            ex.sendResponseHeaders(200, java.nio.file.Files.size(zip))
            java.nio.file.Files.copy(zip, ex.getResponseBody)
            ex.close()
          }
          null // response already sent
      }
    })

    srv.createContext("/api/unpack", route { ex =>
      // import layers; reports the pack's branch heads WITHOUT moving
      // local refs by default (reset/pull move them — the reference's
      // unpack route has the same import-only contract). With
      // ?advance=<branch> the route is the receiving half of PUSH: it
      // fast-forwards that branch ref to the packed head, refusing
      // non-fast-forward moves.
      val heads = param(ex, "src") match {
        case Some(src) => store.unpack(src) // filesystem mode
        case None =>
          // stream the request body socket→temp-file before unzipping,
          // mirroring /api/pack's heap bound on the receiving side
          val zip = java.nio.file.Files.createTempFile("graft-recv", ".zip")
          try {
            java.nio.file.Files.copy(ex.getRequestBody, zip,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            graft.storage.RemoteTransfer.unpackFile(store, zip)
          } finally {
            val _ = java.nio.file.Files.deleteIfExists(zip)
          }
      }
      param(ex, "advance").foreach { b =>
        val newHead = heads.getOrElse(b,
          sys.error(s"pack carries no head for branch $b"))
        store.refs.get(b).foreach { old =>
          require(store.chain(newHead).contains(old),
            s"non-fast-forward push of $b rejected")
        }
        store.reset(b, newHead)
      }
      ok(JObject("api:status" -> JString("api:success"),
        "heads" -> JObject(heads.toList.sortBy(_._1)
          .map { case (b, h) => b -> (JString(h): JValue) })))
    })

    // branch → head map: the discovery half of refs negotiation (a
    // pushing client learns the remote head here, then packs only the
    // segment past it)
    srv.createContext("/api/refs", route { ex =>
      ok(JObject("api:status" -> JString("api:success"),
        "refs" -> JObject(store.refs.toList.sortBy(_._1)
          .map { case (b, h) => b -> (JString(h): JValue) })))
    })

    srv.createContext("/api/clone", route { ex =>
      val branch = postParam(ex, "branch")
      param(ex, "src") match {
        case Some(src) => // clone FROM a remote (http or catalog name)
          val head = graft.storage.RemoteTransfer.cloneFrom(
            store, httpRemote(ex, remoteRoot(src)), branch)
          ok(JObject("api:status" -> JString("api:success"),
            "src" -> JString(src), "head" -> JString(head)))
        case None => // clone this store TO a fresh filesystem root
          val dest = postParam(ex, "dest")
          val other = store.cloneTo(dest, branch)
          ok(JObject("api:status" -> JString("api:success"),
            "dest" -> JString(dest),
            "head" -> JString(other.refs(branch))))
      }
    })

    srv.createContext("/api/push", route { ex =>
      val remote = remoteRoot(postParam(ex, "remote"))
      val branch = postParam(ex, "branch")
      val head =
        if (isHttp(remote))
          graft.storage.RemoteTransfer.push(store, httpRemote(ex, remote), branch)
        else {
          val other = LayerStore.open(spark, remote)
          store.push(other, branch)
          other.refs(branch)
        }
      ok(JObject("api:status" -> JString("api:success"),
        "remote" -> JString(remote), "branch" -> JString(branch),
        "head" -> JString(head)))
    })

    srv.createContext("/api/pull", route { ex =>
      val remote = remoteRoot(postParam(ex, "remote"))
      val branch = postParam(ex, "branch")
      if (isHttp(remote))
        graft.storage.RemoteTransfer.pull(store, httpRemote(ex, remote), branch)
      else store.pull(LayerStore.open(spark, remote), branch)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(store.refs(branch))))
    })

    srv.createContext("/api/fetch", route { ex =>
      val remote = remoteRoot(postParam(ex, "remote"))
      val branch = postParam(ex, "branch")
      val name = param(ex, "name").getOrElse("origin")
      val head =
        if (isHttp(remote))
          graft.storage.RemoteTransfer.fetch(store, httpRemote(ex, remote), branch, name)
        else store.fetch(LayerStore.open(spark, remote), branch, name)
      // negotiation result: where the remote is, and whether the local
      // branch (if any) could fast-forward to it
      val localHead = store.refs.get(branch)
      val ff = localHead.forall(l => store.chain(head).contains(l))
      ok(JObject("api:status" -> JString("api:success"),
        "remote" -> JString(remote),
        "tracking" -> JString(s"remotes/$name/$branch"),
        "head" -> JString(head),
        "local_head" -> localHead.map(JString(_): JValue).getOrElse(JNull),
        "fast_forwardable" -> JBool(ff)))
    })

    // ---- history / diff / patch / storage routes ----

    srv.createContext("/api/log", route { ex =>
      // commit log, newest first, paged ([ref:server/routes.pl] log)
      require(ex.getRequestMethod == "GET", "GET required")
      val branch = param(ex, "branch").getOrElse("main")
      val startAt = param(ex, "start").map(_.toInt).getOrElse(0)
      val count = param(ex, "count").map(_.toInt).getOrElse(Int.MaxValue)
      val upto = math.min(startAt.toLong + count, Int.MaxValue.toLong).toInt
      val entries = store.log(branch).slice(startAt, upto)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch),
        "commits" -> JArray(entries.toList.map { case (id, parent, msg, at) =>
          JObject("identifier" -> JString(id),
            "parent" -> parent.map(JString(_): JValue).getOrElse(JNull),
            "message" -> JString(msg),
            "timestamp" -> JString(at)): JValue
        })))
    })

    srv.createContext("/api/history", route { ex =>
      // commit history of ONE document ([ref:server/routes.pl] history
      // route): the commits on the branch chain that touched ?id,
      // newest first, with per-commit added/removed triple counts.
      // The subject predicate is pushed into every delta-layer scan —
      // cost ∝ the document's own change history, not the store.
      require(ex.getRequestMethod == "GET", "GET required")
      val branch = param(ex, "branch").getOrElse("main")
      val id = param(ex, "id").getOrElse(sys.error("id parameter required"))
      val startAt = param(ex, "start").map(_.toInt).getOrElse(0)
      val count = param(ex, "count").map(_.toInt).getOrElse(Int.MaxValue)
      val upto = math.min(startAt.toLong + count, Int.MaxValue.toLong).toInt
      val entries = store.history(branch, id).slice(startAt, upto)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "id" -> JString(id),
        "commits" -> JArray(entries.toList.map { case (cid, msg, at, a, rm) =>
          JObject("identifier" -> JString(cid),
            "message" -> JString(msg), "timestamp" -> JString(at),
            "added" -> JInt(BigInt(a)), "removed" -> JInt(BigInt(rm))): JValue
        })))
    })

    // from/to accept a branch name or a commit id on all three routes
    def resolveCommit(x: String): String = store.refs.getOrElse(x, x)

    def diffFrame(ex: HttpExchange): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit}
      val from = param(ex, "from").getOrElse(sys.error("from parameter required"))
      val to = param(ex, "to").getOrElse(sys.error("to parameter required"))
      val (added, removed) = store.diff(resolveCommit(from), resolveCommit(to))
      val d = added.withColumn("op", lit("insert"))
        .unionByName(removed.withColumn("op", lit("delete")))
      // ?id=IRI narrows to one document's subgraph — the reference's
      // document-level diff
      param(ex, "id").map(i => d.filter(col("s") === i)).getOrElse(d)
    }

    // one parsed JSON document → an EAV frame rooted at its @id (or
    // _:doc), the shape both content-mode routes diff/patch over.
    // `forceSubject` roots the document at a caller-chosen id so a
    // before/after pair always diffs field-by-field, never as two
    // unrelated subjects.
    def docFrame(j: JValue, forceSubject: Option[String] = None): (String, DataFrame) = {
      val o = j match {
        case o: JObject => o
        case other => sys.error(s"document must be a JSON object, got $other")
      }
      val subject = forceSubject.getOrElse((o \ "@id") match {
        case JString(s) => s; case _ => "_:doc"
      })
      val docType = (o \ "@type") match {
        case JString(t) => t; case _ => "Document"
      }
      val body = JObject(o.obj.filterNot { case (k, _) => k.startsWith("@") })
      val rows = graft.docs.Documents.expand(docType, subject, body)
      (subject, spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), graft.storage.Eav.schema))
    }

    def renderPatch(d: DataFrame): String = {
      val rows = graft.docs.Diff.patchView(d).collect().toList
        .sortBy(r => (r.getString(0), r.getString(1), r.getString(2)))
      ok(JObject("api:status" -> JString("api:success"),
        "patch" -> JArray(rows.map { r =>
          JObject("subject" -> JString(r.getString(0)),
            "property" -> JString(r.getString(1)),
            "op" -> JString(r.getString(2)),
            "old" -> (if (r.isNullAt(3)) JNull else JString(r.getString(3))),
            "new" -> (if (r.isNullAt(4)) JNull else JString(r.getString(4)))): JValue
        })))
    }

    srv.createContext("/api/diff", route { ex =>
      // diff two commits/branches ([ref:server/routes.pl] diff route,
      // core/document/patch.pl). Default render is the patch
      // presentation (swap/insert/delete per changed field);
      // ?format=triples emits the lossless EAV+op rows (one JSON
      // object per line) that POST /api/patch applies verbatim.
      // CONTENT MODE (the reference's stateless diff): POST a JSON
      // body {"before": {...}, "after": {...}} — no store involved;
      // both documents expand to EAV rooted at the same subject and
      // diff exactly like two commits.
      val body =
        if (ex.getRequestMethod == "POST")
          new String(ex.getRequestBody.readAllBytes(), "UTF-8").trim
        else ""
      val d =
        if (body.startsWith("{")) {
          val j = JsonMethods.parse(body)
          (j \ "before", j \ "after") match {
            case (b: JObject, a: JObject) =>
              val (subj, bf) = docFrame(b)
              graft.docs.Diff.diffTriples(bf, docFrame(a, Some(subj))._2)
            case _ => sys.error(
              "content diff body must carry before and after objects")
          }
        } else diffFrame(ex)
      param(ex, "format") match {
        case Some("triples") => raw(d.toJSON.collect().sorted.mkString("\n"))
        case _ => renderPatch(d)
      }
    })

    val opSchema = org.apache.spark.sql.types.StructType(
      graft.storage.Eav.schema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))

    // triples-format patch lines (the /api/diff?format=triples payload)
    // → an EAV+op frame
    def patchFrame(lines: Seq[String]): DataFrame = {
      import spark.implicits._
      spark.read.schema(opSchema).json(lines.filter(_.trim.nonEmpty).toDS())
    }

    srv.createContext("/api/patch", route { ex =>
      // apply a triples-format patch (the /api/diff?format=triples
      // payload) as ONE commit on ?branch ([ref:core/document/patch.pl]
      // apply half). Round-trip contract: patching `from` with
      // diff(from → to) materializes to exactly `to`'s graph.
      // CONTENT MODE (the reference's stateless patch): POST a JSON
      // body {"before": {...}, "patch": [<triples rows>]} — returns
      // the patched document, no store involved; with the content
      // diff above, diff(before, after) patched onto before yields
      // exactly after.
      require(ex.getRequestMethod == "POST", "POST required")
      import org.apache.spark.sql.functions.col
      val cols = graft.storage.Eav.schema.fieldNames.toSeq.map(col)
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8").trim
      // content-mode sniff that never parses a multi-row store body as
      // one document (that would depend on the mapper's lenient
      // trailing-token default silently reading just the first row):
      // store-mode bodies are one COMPLETE JSON row per line, so
      // either the first line parses (single-line body or a store row
      // — decided by the "before" key) or the body is one multi-line
      // JSON document (content mode by construction).
      val firstLine = body.linesIterator.next()
      val contentMode: Option[JValue] =
        if (!body.startsWith("{")) None
        else JsonMethods.parseOpt(firstLine) match {
          case Some(j) if (j \ "before").isInstanceOf[JObject] =>
            Some(if (body == firstLine) j else JsonMethods.parse(body))
          case Some(_) => None // a store-mode triples row
          case None => JsonMethods.parseOpt(body)
            .filter(j => (j \ "before").isInstanceOf[JObject])
        }
      contentMode match {
        case Some(j) =>
          val before = (j \ "before").asInstanceOf[JObject]
          val lines = (j \ "patch") match {
            case JArray(rows) =>
              rows.map(r => JsonMethods.compact(JsonMethods.render(r)))
            case JString(s) => s.split("\n").toSeq
            case other => sys.error(s"bad patch field: $other")
          }
          val (subj, bf) = docFrame(before)
          val after = graft.docs.Diff.applyPatch(bf, patchFrame(lines))
          ok(JObject("api:status" -> JString("api:success"),
            "after" -> graft.docs.Documents.read(after, subj)))
        case None =>
          val branch = param(ex, "branch").getOrElse("main")
          val d = patchFrame(body.split("\n").toSeq)
          val adds = d.filter(col("op") === "insert").select(cols: _*)
          val removes = d.filter(col("op") === "delete").select(cols: _*)
          val cid = store.commit(branch, adds, removes,
            param(ex, "msg").getOrElse("patch"))
          ok(JObject("api:status" -> JString("api:success"),
            "branch" -> JString(branch), "head" -> JString(cid)))
      }
    })

    srv.createContext("/api/apply", route { ex =>
      // server-side diff-and-commit ([ref:server/routes.pl] apply):
      // the change set between two commits replayed onto a branch,
      // without the patch payload ever leaving the engine
      require(ex.getRequestMethod == "POST", "POST required")
      val branch = postParam(ex, "branch")
      val from = postParam(ex, "from"); val to = postParam(ex, "to")
      val (added, removed) = store.diff(resolveCommit(from), resolveCommit(to))
      val cid = store.commit(branch, added, removed,
        param(ex, "msg").getOrElse(s"apply $from..$to"))
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(cid)))
    })

    srv.createContext("/api/optimize", route { ex =>
      // storage optimization WITHOUT history rewrite ([ref:server/
      // routes.pl] optimize vs squash): fold the head's layer chain
      // into a flat cache layer; refs, commit ids and the log are
      // untouched, reads of this head now cost one layer
      val branch = postParam(ex, "branch")
      val folded = store.compact(branch)
      ok(JObject("api:status" -> JString("api:success"),
        "branch" -> JString(branch), "head" -> JString(store.refs(branch)),
        "layers_folded" -> JInt(BigInt(folded))))
    })

    srv.createContext("/api/remote", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          ok(JObject("api:status" -> JString("api:success"),
            "remotes" -> JObject(readRemotes.toList.sortBy(_._1)
              .map { case (n, l) => n -> (JString(l): JValue) })))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val location = param(ex, "location")
            .getOrElse(sys.error("location parameter required"))
          writeRemotes(readRemotes + (name -> location))
          ok(JObject("api:status" -> JString("api:success"),
            "remote" -> JString(name), "location" -> JString(location)))
        case "DELETE" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          require(readRemotes.contains(name), s"remote not found: $name")
          writeRemotes(readRemotes - name)
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    // ---- database admin ([ref:server/routes.pl] db create/delete):
    // a "database" is a named LayerStore root under the server's
    // store directory — the single-node spelling of the reference's
    // org/db addressing. Creation seeds an empty "main" commit so the
    // branch surface works immediately; deletion removes the root. ----

    val dbRoot = new java.io.File(store.root, "dbs")

    // A db name must start with a letter/digit/underscore (all-dot names
    // like "." and ".." would otherwise resolve to the store root / its
    // parent and turn DELETE into a recursive wipe), and — defense in
    // depth — the resolved directory must sit directly under dbRoot.
    def dbDir(name: String): java.io.File = {
      require(name.matches("[A-Za-z0-9_][A-Za-z0-9._-]*"),
        s"invalid database name: $name")
      val dir = new java.io.File(dbRoot, name)
      require(dir.getCanonicalFile.getParentFile == dbRoot.getCanonicalFile,
        s"database name escapes the store root: $name")
      dir
    }

    srv.createContext("/api/db", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          val names = Option(dbRoot.list()).getOrElse(Array.empty[String])
            .sorted.toList
          ok(JObject("api:status" -> JString("api:success"),
            "databases" -> JArray(names.map(JString(_): JValue))))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val dir = dbDir(name)
          require(!dir.exists(), s"database already exists: $name")
          val db = LayerStore.open(spark, dir.getPath)
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], graft.storage.Eav.schema)
          val head = db.commit("main", empty, empty, s"create database $name")
          ok(JObject("api:status" -> JString("api:success"),
            "database" -> JString(name), "head" -> JString(head)))
        case "DELETE" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val dir = dbDir(name)
          require(dir.exists(), s"database not found: $name")
          org.apache.commons.io.FileUtils.deleteDirectory(dir)
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/schema", route { ex =>
      require(ex.getRequestMethod == "GET", "GET required")
      // the schema graph as JSON triples — IRI objects plain, literal
      // constraint values (maxCard) as numbers
      import org.apache.spark.sql.functions.col
      val rows = ctx.triples.filter(col("g") === "schema")
        .select(col("s"), col("p"), col("o_iri"), col("o_lng"))
        .collect().toList.sortBy(r => (r.getString(0), r.getString(1),
          Option(r.getString(2)).getOrElse("")))
      ok(JObject("api:status" -> JString("api:success"),
        "triples" -> JArray(rows.map { r =>
          JObject("s" -> JString(r.getString(0)), "p" -> JString(r.getString(1)),
            "o" -> (if (!r.isNullAt(2)) JString(r.getString(2))
              else if (!r.isNullAt(3)) JInt(BigInt(r.getLong(3)))
              else JNull)): JValue
        })))
    })

    srv.createContext("/api/frame", route { ex =>
      require(ex.getRequestMethod == "GET", "GET required")
      // class frames from the schema graph (docs/Frames): own +
      // inherited property declarations; ?class=C narrows to one class
      import org.apache.spark.sql.functions.col
      val schema = ctx.triples.filter(col("g") === "schema")
      val frames = param(ex, "class") match {
        case Some(cls) => graft.docs.Frames
          .classFrame(schema, ctx.subclass, cls)
          .withColumn("cls", org.apache.spark.sql.functions.lit(cls))
          .select(col("cls"), col("property"), col("range"), col("maxCard"))
        case None => graft.docs.Frames.allFrames(schema, ctx.subclass)
      }
      val rows = frames.collect().toList
        .sortBy(r => (r.getString(0), r.getString(1)))
      ok(JObject("api:status" -> JString("api:success"),
        "frames" -> JArray(rows.map { r =>
          JObject("class" -> JString(r.getString(0)),
            "property" -> JString(r.getString(1)),
            "range" -> (if (r.isNullAt(2)) JNull else JString(r.getString(2))),
            "max_card" -> (if (r.isNullAt(3)) JNull
              else JInt(BigInt(r.getLong(3))))): JValue
        })))
    })

    // ---- prefix context ([ref:server/routes.pl] prefixes route):
    // the engine defaults plus a per-store overlay persisted next to
    // the commit catalog; POST/DELETE manage the overlay only (the
    // built-in context is not deletable) ----

    val prefixesPath =
      java.nio.file.Paths.get(store.root, "_catalog", "prefixes.json")
    def readPrefixOverrides: Map[String, String] = readJsonMap(prefixesPath)
    def writePrefixOverrides(m: Map[String, String]): Unit =
      writeJsonMap(prefixesPath, m)

    srv.createContext("/api/prefixes", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          val merged = graft.docs.Prefixes.Default ++ readPrefixOverrides
          ok(JObject("api:status" -> JString("api:success"),
            "@context" -> JObject(merged.toList.sortBy(_._1)
              .map { case (p, base) => p -> (JString(base): JValue) })))
        case "POST" =>
          val p = param(ex, "prefix").getOrElse(sys.error("prefix parameter required"))
          val base = param(ex, "base").getOrElse(sys.error("base parameter required"))
          require(p.matches("[A-Za-z][A-Za-z0-9_-]*"),
            s"prefix must be a bare name (no colon): $p")
          writePrefixOverrides(readPrefixOverrides + (p -> base))
          ok(JObject("api:status" -> JString("api:success"),
            "prefix" -> JString(p), "base" -> JString(base)))
        case "DELETE" =>
          val p = param(ex, "prefix").getOrElse(sys.error("prefix parameter required"))
          require(readPrefixOverrides.contains(p),
            s"prefix not in the overlay (built-ins are not deletable): $p")
          writePrefixOverrides(readPrefixOverrides - p)
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(p)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/triples", route { ex =>
      val branch = param(ex, "branch").getOrElse(sys.error("branch parameter required"))
      ex.getRequestMethod match {
        case "GET" =>
          // ?expand=true: emit fully-qualified IRIs by expanding stored
          // CURIEs against the prefix context (defaults ∪ the overlay
          // managed on /api/prefixes) — the overlay's engine-side
          // consumer, so a registered prefix changes real exports
          val g0 = store.materializeBranch(branch)
          val g =
            if (param(ex, "expand").contains("true")) {
              import org.apache.spark.sql.functions.{col, when}
              val pctx = graft.docs.Prefixes.Default ++ readPrefixOverrides
              def ex1(c: String) =
                graft.docs.Prefixes.expandCol(pctx, col(c))
              g0.withColumn("s", ex1("s")).withColumn("p", ex1("p"))
                .withColumn("o_iri",
                  when(col("o_kind") === "i", ex1("o_iri"))
                    .otherwise(col("o_iri")))
            } else g0
          // ?format=ntriples|nquads: the line formats (splittable at
          // scale, canonical quoted literals); default stays turtle
          // like the reference's triples route
          param(ex, "format") match {
            case Some("ntriples") =>
              raw(graft.sources.NTriples.dumpLines(g).collect()
                .map(_.getString(0)).mkString("", "\n", "\n"))
            case Some("nquads") =>
              raw(graft.sources.NTriples.dumpQuadLines(g).collect()
                .map(_.getString(0)).mkString("", "\n", "\n"))
            case _ => raw(graft.sources.Turtle.dump(g))
          }
        case "POST" | "PUT" =>
          // turtle (default) or line-format upload: parse the body,
          // land it as ONE commit on the branch — the put half of the
          // reference's triples route
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          val adds = param(ex, "format") match {
            case Some("ntriples") => graft.sources.NTriples.fromLines(
              spark.createDataset(body.linesIterator.toSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("value"))
            case Some("nquads") => graft.sources.NTriples.fromLines(
              spark.createDataset(body.linesIterator.toSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("value"),
              quads = true)
            case _ => graft.sources.Turtle.load(spark, body)
          }
          val n = adds.count()
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], graft.storage.Eav.schema)
          val cid = store.commit(branch, adds, empty, s"turtle put ($n triples)")
          ok(JObject("api:status" -> JString("api:success"),
            "branch" -> JString(branch), "head" -> JString(cid),
            "inserted" -> JInt(BigInt(n))))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/ok", route { _ =>
      // liveness probe: unauthenticated, constant ([ref:server/routes.pl] ok)
      ok(JObject("api:status" -> JString("api:success")))
    })

    // ---- capability management ([ref:core/account/capabilities.pl]
    // org/user/role/grant CRUD — the reference's _system db admin
    // surface). Only live when a catalog is configured; each mutation
    // swaps a whole immutable catalog (its constructor re-validates
    // referential integrity, so e.g. deleting a role still in use
    // fails the request instead of corrupting the policy) and persists
    // back to the caps file. All four routes require the manage
    // action. Tokens never appear in responses. ----

    def catalogNow: Capabilities.Catalog =
      caps.get().getOrElse(sys.error("no capability catalog configured"))
    def swapCatalog(f: Capabilities.Catalog => Capabilities.Catalog): Unit = {
      val next = f(catalogNow) // validates before any state changes
      caps.set(Some(next))
      capsFile.foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), Capabilities.toJson(next)))
    }
    def listParam(ex: HttpExchange, name: String): Set[String] =
      param(ex, name).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)

    srv.createContext("/api/user", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          ok(JObject("api:status" -> JString("api:success"),
            "users" -> JArray(catalogNow.users.toList.sortBy(_.name).map { u =>
              JObject("name" -> JString(u.name),
                "capabilities" -> JArray(u.capabilities.toList.map(c =>
                  JObject("role" -> JString(c.role),
                    "scope" -> JString(c.scope)): JValue))): JValue
            })))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val tok = param(ex, "token").getOrElse(sys.error("token parameter required"))
          swapCatalog(c => c.copy(users = c.users.filterNot(_.name == name) :+
            Capabilities.User(name, tok, Nil)))
          ok(JObject("api:status" -> JString("api:success"),
            "user" -> JString(name)))
        case "DELETE" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          require(catalogNow.users.exists(_.name == name), s"user not found: $name")
          swapCatalog(c => c.copy(users = c.users.filterNot(_.name == name)))
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/organization", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          ok(JObject("api:status" -> JString("api:success"),
            "organizations" -> JArray(catalogNow.orgs.toList.sortBy(_.name).map { o =>
              JObject("name" -> JString(o.name),
                "databases" -> JArray(o.dbs.toList.sorted
                  .map(JString(_): JValue))): JValue
            })))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          val dbs = listParam(ex, "dbs")
          swapCatalog(c => c.copy(orgs = c.orgs.filterNot(_.name == name) :+
            Capabilities.Org(name, dbs)))
          ok(JObject("api:status" -> JString("api:success"),
            "organization" -> JString(name)))
        case "DELETE" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          require(catalogNow.orgs.exists(_.name == name), s"organization not found: $name")
          swapCatalog(c => c.copy(orgs = c.orgs.filterNot(_.name == name)))
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/role", route { ex =>
      ex.getRequestMethod match {
        case "GET" =>
          ok(JObject("api:status" -> JString("api:success"),
            "roles" -> JArray(catalogNow.roles.toList.sortBy(_.name).map { r =>
              JObject("name" -> JString(r.name),
                "actions" -> JArray(r.actions.toList.sorted
                  .map(JString(_): JValue))): JValue
            })))
        case "POST" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          // Role's constructor rejects unknown actions
          val role = Capabilities.Role(name, listParam(ex, "actions"))
          swapCatalog(c => c.copy(roles = c.roles.filterNot(_.name == name) :+ role))
          ok(JObject("api:status" -> JString("api:success"),
            "role" -> JString(name)))
        case "DELETE" =>
          val name = param(ex, "name").getOrElse(sys.error("name parameter required"))
          require(catalogNow.roles.exists(_.name == name), s"role not found: $name")
          swapCatalog(c => c.copy(roles = c.roles.filterNot(_.name == name)))
          ok(JObject("api:status" -> JString("api:success"),
            "deleted" -> JString(name)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.createContext("/api/capability", route { ex =>
      // grant / revoke one (role, scope) capability on a user
      val user = param(ex, "user").getOrElse(sys.error("user parameter required"))
      val role = param(ex, "role").getOrElse(sys.error("role parameter required"))
      val scope = param(ex, "scope").getOrElse(sys.error("scope parameter required"))
      val cap = Capabilities.Capability(role, scope)
      def update(f: Seq[Capabilities.Capability] => Seq[Capabilities.Capability]) =
        swapCatalog { c =>
          val u = c.users.find(_.name == user)
            .getOrElse(sys.error(s"user not found: $user"))
          c.copy(users = c.users.filterNot(_.name == user) :+
            u.copy(capabilities = f(u.capabilities)))
        }
      ex.getRequestMethod match {
        case "POST" =>
          update(cs => if (cs.contains(cap)) cs else cs :+ cap)
          ok(JObject("api:status" -> JString("api:success"),
            "user" -> JString(user), "role" -> JString(role),
            "scope" -> JString(scope)))
        case "DELETE" =>
          update(cs => cs.filterNot(_ == cap))
          ok(JObject("api:status" -> JString("api:success"),
            "user" -> JString(user), "revoked" -> JString(role)))
        case m => sys.error(s"unsupported method $m")
      }
    })

    srv.setExecutor(null) // serve on the accept thread: control plane
    // start from a daemon thread: the JDK dispatcher inherits daemon
    // status from its creator, so a server left running can never
    // wedge JVM shutdown (a forked verify run must exit when main does)
    val starter = new Thread(() => srv.start(), "graft-http-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    Running(srv, srv.getAddress.getPort, store)
  }

  // ---- plumbing ----

  /** Thrown by handlers that discover a capability requirement only
    * after reading the body (e.g. a WOQL write query on the read
    * route) — mapped to 403 like the route-level gate. */
  private final case class Denied(reason: String)
    extends RuntimeException(reason)

  private def route(f: HttpExchange => String)(
      implicit auth: Option[String],
      catalog: CapsRef): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      def fail(msg: String) = JsonMethods.compact(JsonMethods.render(JObject(
        "api:status" -> JString("api:failure"), "api:message" -> JString(msg))))
      val (code, body) =
        if (!authorized(ex)) (401, fail("authentication required"))
        else capabilityDenied(ex) match {
          case Some(reason) => (403, fail(reason))
          case None => try (200, f(ex))
            catch {
              case Denied(reason) => (403, fail(reason))
              case e: Throwable =>
                (400, fail(Option(e.getMessage).getOrElse(e.toString)))
            }
        }
      if (code == 401)
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer realm=\"graft\"")
      if (body == null) () // handler streamed its own (binary) response
      else {
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    }

  private def bearer(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))

  /** Token auth (the reference's basic-auth surface, minimal spelling):
    * with a capability catalog, the bearer token must name a catalog
    * user (the single shared token is replaced); with only a token,
    * every route except the identity probe `/api/info` requires
    * `Authorization: Bearer <token>` (constant-time compare). Neither
    * configured → open, as before. */
  private def authorized(ex: HttpExchange)(implicit auth: Option[String],
      catalog: CapsRef): Boolean =
    catalog.get() match {
      case Some(cat) =>
        openRoute(routedPath(ex)) ||
          bearer(ex).exists(cat.user(_).isDefined)
      case None => auth match {
        case None => true
        case Some(_) if openRoute(routedPath(ex)) => true
        case Some(tok) =>
          Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
            java.security.MessageDigest.isEqual(
              h.getBytes("UTF-8"), s"Bearer $tok".getBytes("UTF-8"))
          }
      }
    }

  /** The served base dataset's database name under the capability
    * model (the reference scopes grants per `org/db`; a single-db
    * server addresses its one dataset as `_default`). */
  val BaseDb = "_default"

  /** The path the JDK server actually ROUTED to. HttpServer dispatches
    * by longest context-path prefix (raw startsWith), so a request like
    * `POST /api/user/x` reaches the `/api/user` handler; keying the
    * policy table on the raw request path would let such requests fall
    * into the lenient default case while still executing the privileged
    * handler. The registered context path is the only routing-faithful
    * policy key. */
  private def routedPath(ex: HttpExchange): String =
    Option(ex.getHttpContext).map(_.getPath)
      .getOrElse(ex.getRequestURI.getPath)

  /** Route-level policy table: which action on which database each
    * request needs ([ref:core/account/capabilities.pl] route guards).
    * Centralized here so the mapping is auditable in one place.
    * Keyed on [[routedPath]] — the handler that will run — never on
    * the raw request path (see routedPath's note on prefix routing). */
  private def requiredCap(ex: HttpExchange): Option[(String, String)] = {
    import Capabilities.Actions._
    val get = ex.getRequestMethod == "GET"
    routedPath(ex) match {
      case "/api/info" | "/api/ok" => None
      case "/api/log" | "/api/diff" | "/api/history" | "/api/refs" =>
        Some((InstanceRead, BaseDb))
      case "/api/patch" | "/api/apply" => Some((InstanceWrite, BaseDb))
      case "/api/optimize" => Some((Branch, BaseDb))
      case "/api/remote" => Some((Transfer, BaseDb))
      case "/api/user" | "/api/organization" | "/api/role" |
           "/api/capability" => Some((Manage, BaseDb))
      case "/api/db" =>
        if (get) None // listing names is identity-level, like /api/info
        else if (ex.getRequestMethod == "POST")
          Some((CreateDb, param(ex, "name").getOrElse("")))
        else Some((DeleteDb, param(ex, "name").getOrElse("")))
      case "/api/woql" | "/api/graphql" => Some((InstanceRead, BaseDb))
      case "/api/document" =>
        Some((if (get) InstanceRead else InstanceWrite, BaseDb))
      case "/api/triples" =>
        Some((if (get) InstanceRead else InstanceWrite, BaseDb))
      case "/api/schema" | "/api/frame" => Some((SchemaRead, BaseDb))
      case "/api/prefixes" =>
        Some((if (get) SchemaRead else SchemaWrite, BaseDb))
      case "/api/branch" => Some((if (get) InstanceRead else Branch, BaseDb))
      case "/api/reset" | "/api/rebase" | "/api/squash" =>
        Some((Branch, BaseDb))
      case "/api/migration" => Some((SchemaWrite, BaseDb))
      case "/api/pack" | "/api/unpack" | "/api/clone" | "/api/push" |
           "/api/pull" | "/api/fetch" => Some((Transfer, BaseDb))
      case _ => Some((InstanceRead, BaseDb)) // default-deny to read level
    }
  }

  /** Unauthenticated routes: engine identity and the liveness probe
    * (the reference's `/api/ok` health endpoint). */
  private def openRoute(path: String): Boolean =
    path == "/api/info" || path == "/api/ok"

  private def capabilityDenied(ex: HttpExchange)(
      implicit catalog: CapsRef): Option[String] =
    catalog.get().flatMap { cat =>
      requiredCap(ex).flatMap { case (action, db) =>
        val u = bearer(ex).flatMap(cat.user)
        if (u.exists(cat.allows(_, action, db))) None
        else Some(s"user '${u.map(_.name).getOrElse("?")}' lacks " +
          s"$action on database '$db'")
      }
    }

  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  private def ok(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))
  private def raw(s: String): String = s

  /** Hard ceiling on rows a single woql response renders — the facade
    * JVM must error-page a runaway query, not OOM building its JSON.
    * Overridable per deployment (GRAFT_HTTP_MAX_ROWS). */
  private def maxResponseRows: Int =
    sys.props.get("graft.http.maxRows")
      .orElse(sys.env.get("GRAFT_HTTP_MAX_ROWS"))
      .map(_.toInt).getOrElse(10000)

  /** Bindings response: one JSON object per solution row, IRIs plain,
    * literals `{"@type","@value"}` (reference binding shape).
    * `?start`/`?limit` page deterministically (mirroring the document
    * list paging); with no explicit limit the default cap applies and
    * a clipped response carries `"api:truncated": true` plus the next
    * `start`, so no client can mistake a page for the whole result. */
  def bindingsJson(df: DataFrame, start: Int = 0,
                   limit: Option[Int] = None): String = {
    // reject rather than clamp: ?limit=0 would page forever (next_start
    // == start) and a negative limit throws deep inside limit(); the
    // route plumbing maps this require to a clean 400
    require(start >= 0, s"start must be >= 0 (got $start)")
    limit.foreach(l => require(l >= 1, s"limit must be >= 1 (got $l)"))
    val vars = df.columns.toSeq
    val eff = math.min(limit.getOrElse(maxResponseRows), maxResponseRows)
    // one extra row answers "is there more?" without a second count job
    val page = (if (start > 0) df.offset(start) else df).limit(eff + 1)
    val collected = page.collect().toList
    val truncated = collected.length > eff
    val rows: List[JValue] = collected.take(eff).map { r =>
      JObject(vars.flatMap { v =>
        Option(r.getAs[Row](v)).map(s => v -> renderVal(s))
      }.toList)
    }
    val base = List(
      "api:status" -> (JString("api:success"): JValue),
      "api:variable_names" -> (JArray(vars.map(JString(_): JValue).toList): JValue),
      "bindings" -> (JArray(rows): JValue))
    val marker =
      if (truncated) List("api:truncated" -> (JBool(true): JValue),
        "api:next_start" -> (JInt(BigInt(start + eff)): JValue))
      else Nil
    JsonMethods.compact(JsonMethods.render(JObject(base ++ marker)))
  }

  /** GraphQL-style plain scalar render (no type wrapper). */
  private def plainVal(s: Row): JValue = {
    def at(f: String) = s.fieldIndex(f)
    if (!s.isNullAt(at("iri"))) JString(s.getAs[String]("iri"))
    else if (!s.isNullAt(at("str"))) JString(s.getAs[String]("str"))
    else if (!s.isNullAt(at("dbl"))) JDouble(s.getDouble(at("dbl")))
    else if (!s.isNullAt(at("lng"))) JInt(BigInt(s.getLong(at("lng"))))
    else if (!s.isNullAt(at("dec")))
      JString(s.getAs[java.math.BigDecimal]("dec").toPlainString)
    else if (!s.isNullAt(at("bool"))) JBool(s.getBoolean(at("bool")))
    else if (!s.isNullAt(at("ts")))
      JString(s.getAs[java.sql.Timestamp]("ts").toInstant.toString)
    else JNull
  }

  private def renderVal(s: Row): JValue = {
    def at(f: String) = s.fieldIndex(f)
    if (!s.isNullAt(at("iri"))) JString(s.getAs[String]("iri"))
    else {
      val typ = s.getAs[String]("typ")
      val v: JValue =
        if (!s.isNullAt(at("str"))) JString(s.getAs[String]("str"))
        else if (!s.isNullAt(at("dbl"))) JDouble(s.getDouble(at("dbl")))
        else if (!s.isNullAt(at("lng"))) JInt(BigInt(s.getLong(at("lng"))))
        else if (!s.isNullAt(at("dec")))
          JString(s.getAs[java.math.BigDecimal]("dec").toPlainString)
        else if (!s.isNullAt(at("bool"))) JBool(s.getBoolean(at("bool")))
        else if (!s.isNullAt(at("ts")))
          JString(s.getAs[java.sql.Timestamp]("ts").toInstant.toString)
        else JNull
      JObject("@type" -> JString(Option(typ).getOrElse("xsd:anyType")),
        "@value" -> v)
    }
  }
}
