package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** HTTP facade end-to-end: JDK client against the JDK-server routes
  * (query / document / versioning — [ref:server/routes.pl] surface). */
class ServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val srv = server.HttpApi.start(spark, sfDir)
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = srv.stop()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(srv.url(path))).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(srv.url(path)))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("info reports the engine") {
    val (code, body) = get("/api/info")
    assert(code == 200)
    val j = JsonMethods.parse(body)
    assert((j \ "api:status") == JString("api:success"))
    assert((j \ "engine") == JString("spark"))
  }

  test("woql over the wire returns reference-shaped bindings") {
    val wire =
      """{"@type":"Triple","subject":{"variable":"S"},
        |"predicate":{"node":"tpch:r_name"},"object":{"variable":"N"}}""".stripMargin
    val (code, body) = post("/api/woql", wire)
    assert(code == 200)
    val j = JsonMethods.parse(body)
    val JArray(bindings) = (j \ "bindings"): @unchecked
    assert(bindings.size == 5) // five regions
    // IRIs plain, literals typed
    assert(bindings.forall(b => (b \ "S").isInstanceOf[JString]))
    assert(bindings.forall(b => (b \ "N" \ "@type") == JString("xsd:string")))
  }

  test("document read by id") {
    val (code, body) = get("/api/document?id=tpch:region/0")
    assert(code == 200)
    val j = JsonMethods.parse(body)
    // typed document JSON (numbers as numbers) with the reference's
    // @id/@type envelope
    assert((j \ "@id") == JString("tpch:region/0"))
    assert((j \ "@type") == JString("tpch:Region"))
    assert((j \ "r_regionkey") == JInt(0))
    assert((j \ "r_name").isInstanceOf[JString])
  }

  test("document insert commits; branch list/create work") {
    val docs =
      """{"name":"alpha","size":1}
        |{"name":"beta","size":2}""".stripMargin
    val (code, body) = post("/api/document?type=Thing&key=name", docs)
    assert(code == 200)
    val j = JsonMethods.parse(body)
    val JArray(ids) = (j \ "ids"): @unchecked
    assert(ids == List(JString("doc:Thing/alpha"), JString("doc:Thing/beta")))

    val (c2, b2) = get("/api/branch")
    assert(c2 == 200)
    val mainHead = (JsonMethods.parse(b2) \ "branches" \ "main")
    assert(mainHead.isInstanceOf[JString])

    val (c3, b3) = post("/api/branch?name=dev&from=main", "")
    assert(c3 == 200)
    assert((JsonMethods.parse(b3) \ "head") == mainHead)
  }

  test("document list-by-type pages deterministically with skip/count") {
    // runs after the insert test: doc:Thing/{alpha,beta} exist on main
    val (c1, b1) = get("/api/document?type=Thing")
    assert(c1 == 200)
    val lines = b1.split("\n").toSeq
    assert(lines.size == 2)
    assert((JsonMethods.parse(lines.head) \ "name") == JString("alpha"))
    // paging: skip=1 yields only the second id-ordered doc
    val (_, b2) = get("/api/document?type=Thing&skip=1&count=5")
    assert(b2.split("\n").toSeq.size == 1)
    assert((JsonMethods.parse(b2) \ "name") == JString("beta"))
    val (_, b3) = get("/api/document?type=Thing&skip=0&count=1")
    assert((JsonMethods.parse(b3) \ "name") == JString("alpha"))
  }

  test("document PUT replaces in place; DELETE removes the subgraph; query= filters") {
    // runs after the insert test: doc:Thing/{alpha,beta} exist on main
    def send(method: String, path: String, body: String): (Int, String) = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(srv.url(path)))
          .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // template query filters the listing
    val (cq, bq) = get("/api/document?type=Thing&query=" +
      java.net.URLEncoder.encode("""{"size":2}""", "UTF-8"))
    assert(cq == 200 && bq.split("\n").length == 1)
    assert((JsonMethods.parse(bq) \ "name") == JString("beta"))
    // PUT replaces alpha's subgraph under the same id
    val (cp, _) = send("PUT", "/api/document?id=doc:Thing/alpha&type=Thing",
      """{"name":"alpha","size":9,"flag":"updated"}""")
    assert(cp == 200)
    val (_, b1) = get("/api/document?id=doc:Thing/alpha")
    val j1 = JsonMethods.parse(b1)
    assert((j1 \ "size") == JInt(9) && (j1 \ "flag") == JString("updated"))
    // DELETE removes beta; the listing shrinks to alpha only
    val (cd, _) = send("DELETE", "/api/document?id=doc:Thing/beta", "")
    assert(cd == 200)
    val (_, b2) = get("/api/document?type=Thing")
    val lines = b2.split("\n").filter(_.nonEmpty).toSeq
    assert(lines.size == 1)
    assert((JsonMethods.parse(lines.head) \ "name") == JString("alpha"))
    // deleting a missing document errors, not silently succeeds
    val (cm, _) = send("DELETE", "/api/document?id=doc:Thing/ghost", "")
    assert(cm >= 400)
  }

  test("graphql endpoint compiles into the engine") {
    val q = """{"query": "{ Region(orderBy: {r_name: ASC}, limit: 2) { r_name } }"}"""
    val (code, body) = post("/api/graphql", q)
    assert(code == 200)
    val JArray(rows) = (JsonMethods.parse(body) \ "data" \ "Region"): @unchecked
    assert(rows.map(r => r \ "r_name") == List(JString("AFRICA"), JString("AMERICA")))
  }

  test("a broken request yields api:failure with 400") {
    val (code, body) = post("/api/woql", "{not json")
    assert(code == 400)
    assert((JsonMethods.parse(body) \ "api:status") == JString("api:failure"))
  }

  test("an out-of-range times(n, m) is a 400 naming the bounds") {
    val wire =
      """{"@type":"Path","subject":{"node":"tpch:region/0"},
        |"pattern":{"@type":"PathTimes","from":3,"to":2,
        |"times":{"@type":"InversePathPredicate","predicate":"tpch:n_regionkey"}},
        |"object":{"variable":"Y"}}""".stripMargin
    val (code, body) = post("/api/woql", wire)
    assert(code == 400, body)
    assert(body.contains("times(3,2) out of range"), body)
  }

  test("fetch records a remote-tracking ref without moving the local head") {
    val remoteDir = java.nio.file.Files
      .createTempDirectory("graft_http_remote").toString
    // seed the remote with the current main, then advance it one commit
    val (c0, _) = post(s"/api/clone?dest=$remoteDir&branch=main", "")
    assert(c0 == 200)
    val remote = storage.LayerStore.open(spark, remoteDir)
    val ahead = remote.commit("main", triples((":fx", ":p", ":fy")),
      triples().limit(0), "remote-only commit")
    val localBefore = srv.store.refs("main")

    val (code, body) = post(s"/api/fetch?remote=$remoteDir&branch=main", "")
    assert(code == 200)
    val j = JsonMethods.parse(body)
    assert((j \ "head") == JString(ahead))
    assert((j \ "tracking") == JString("remotes/origin/main"))
    assert((j \ "local_head") == JString(localBefore))
    assert((j \ "fast_forwardable") == JBool(true))
    // tracking ref recorded, local branch untouched, layers transferred
    assert(srv.store.refs("remotes/origin/main") == ahead)
    assert(srv.store.refs("main") == localBefore)
    assert(srv.store.chain(ahead).contains(localBefore))
  }

  test("bearer-token auth gates every route except the identity probe") {
    val gated = server.HttpApi.start(spark, sfDir, token = Some("sesame"))
    try {
      def hit(path: String, auth: Option[String]): Int = {
        val b = HttpRequest.newBuilder(URI.create(gated.url(path))).GET()
        auth.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(hit("/api/info", None) == 200)
      assert(hit("/api/branch", None) == 401)
      assert(hit("/api/branch", Some("wrong")) == 401)
      assert(hit("/api/branch", Some("sesame")) == 200)
    } finally gated.stop()
  }

  // ---- GraphQL compiler surface (direct, no HTTP round-trip) ----
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.functions.col
  private implicit lazy val gctx: core.Ctx = Graft.ctx(spark, sfDir)
  private def strs(df: org.apache.spark.sql.DataFrame, c: String): Seq[String] =
    df.collect().toSeq.map(_.getAs[Row](c).getAs[String]("str"))

  test("graphql id and ids arguments select by subject IRI; _id projects it") {
    val (_, one) = server.GraphQL.run("""{ Region(id: "tpch:region/1") { _id r_name } }""")
    val rows = one.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Row]("_id").getAs[String]("iri") == "tpch:region/1")
    val (_, two) = server.GraphQL.run(
      """{ Region(ids: ["tpch:region/0", "tpch:region/3"]) { r_name } }""")
    assert(two.count() == 2)
  }

  test("graphql overlapping _or dedups; ne / _not / regex / startsWith filter") {
    val (_, df) = server.GraphQL.run(
      """{ Nation(filter: {_or: [{n_name: {startsWith: "NATION_1"}},
        |                        {n_name: {regex: "3$"}}],
        |                  n_nationkey: {lt: 20}}) { n_name } }""".stripMargin)
    val got = strs(df, "n_name")
    // NATION_13 matches both _or branches — must appear exactly once
    assert(got.length == got.distinct.length)
    assert(got.toSet == (Set(1, 3, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19)
      .map(i => s"NATION_$i"): Set[String]))
    val (_, ne) = server.GraphQL.run(
      """{ Region(filter: {r_name: {ne: "AFRICA"}, _not: {r_name: {eq: "ASIA"}}}) { r_name } }""")
    val rn = strs(ne, "r_name").toSet
    assert(!rn.contains("AFRICA") && !rn.contains("ASIA") && rn.size == 3)
  }

  test("graphql back-link traverses the reverse direction") {
    val (_, bk) = server.GraphQL.run(
      """{ Region(filter: {r_name: {eq: "AFRICA"}}) {
        |    r_name _n_regionkey_of_Nation { n_name } } }""".stripMargin)
    val got = strs(bk, "_n_regionkey_of_Nation_n_name").toSet
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val reg = spark.read.parquet(s"$sfDir/region.parquet").filter(col("r_name") === "AFRICA")
    val want = nat.join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("graphql string escapes decode; bad strings yield positioned errors") {
    // \uXXXX decodes before matching: "AFRICA" ≡ "AFRICA"
    val uq = "{ Region(filter: {r_name: {eq: \"\\" +
      "u0041FRICA\"}}) { r_name } }"
    val (_, df) = server.GraphQL.run(uq)
    assert(strs(df, "r_name") == Seq("AFRICA"))
    // \n decodes to a real newline (no region matches; parse must succeed)
    val (_, nl) = server.GraphQL.run(
      "{ Region(filter: {r_name: {eq: \"A\\nB\"}}) { r_name } }")
    assert(nl.count() == 0)
    val bad = intercept[IllegalArgumentException] {
      server.GraphQL.run("{ Region(filter: {r_name: {eq: \"oops}}) { r_name } }")
    }
    assert(bad.getMessage.contains("unterminated") && bad.getMessage.contains("at "))
    val unk = intercept[IllegalArgumentException] {
      server.GraphQL.run("{ Region(filter: {r_name: {eq: \"a\\qb\"}}) { r_name } }")
    }
    assert(unk.getMessage.contains("escape"))
  }

  test("graphql _or branch on an optional field doesn't make it required") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StringType
    // derive a ctx where only nations with n_nationkey % 7 == 3 carry
    // tpch:n_note — the other 21 genuinely lack the predicate
    val notes = storage.Eav.encodeTable(
      spark.read.parquet(s"$sfDir/nation.parquet")
        .filter(col("n_nationkey") % 7 === 3),
      concat(lit("tpch:nation/"), col("n_nationkey").cast(StringType)),
      "tpch:Nation",
      Seq(("tpch:n_note", storage.Eav.PStr, lit("flagged"))))
      .filter(col("p") =!= "rdf:type")
    val ctx2 = gctx.copy(triples = gctx.triples.unionByName(notes))
    val (_, or) = server.GraphQL.run(
      """{ Nation(filter: {_or: [{n_note: {eq: "flagged"}},
        |                        {n_name: {startsWith: "NATION_1"}}]}) {
        |    n_name } }""".stripMargin)(ctx2)
    // note-less NATION_1x must still match via the second branch
    val want = (Set(3, 17, 24) ++ Set(1) ++ (10 to 19)).map(i => s"NATION_$i")
    assert(strs(or, "n_name").toSet == want)
    // _not over the optional field: absent ⇒ survives; noted ⇒ dropped
    val (_, notQ) = server.GraphQL.run(
      """{ Nation(filter: {_not: {n_note: {eq: "flagged"}}}) { n_name } }""")(ctx2)
    val keep = (0 to 24).toSet.diff(Set(3, 10, 17, 24)).map(i => s"NATION_$i")
    assert(strs(notQ, "n_name").toSet == keep)
  }

  private def delete(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(srv.url(path))).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("db create / list / duplicate-refused / delete round-trip") {
    val (c1, b1) = post("/api/db?name=testdb1", "")
    assert(c1 == 200, b1)
    assert((JsonMethods.parse(b1) \ "head").isInstanceOf[JString])
    val (_, listed) = get("/api/db")
    val JArray(names) = (JsonMethods.parse(listed) \ "databases"): @unchecked
    assert(names.contains(JString("testdb1")))
    val (dup, _) = post("/api/db?name=testdb1", "")
    assert(dup == 400) // already exists
    val (cd, _) = delete("/api/db?name=testdb1")
    assert(cd == 200)
    val (_, listed2) = get("/api/db")
    val JArray(names2) = (JsonMethods.parse(listed2) \ "databases"): @unchecked
    assert(!names2.contains(JString("testdb1")))
    // path traversal refused
    val (bad, _) = post("/api/db?name=..%2Fevil", "")
    assert(bad == 400)
    // all-dot names would resolve to the store root / its parent:
    // DELETE name=.. must NOT recursively destroy the layer store
    for (dots <- Seq(".", "..", "...")) {
      val (cDel, _) = delete(s"/api/db?name=$dots")
      assert(cDel == 400, s"name=$dots must be refused")
      val (cPost, _) = post(s"/api/db?name=$dots", "")
      assert(cPost == 400, s"name=$dots must be refused")
    }
    // leading-dot names are refused too (must start with [A-Za-z0-9_])
    val (cHidden, _) = post("/api/db?name=.hidden", "")
    assert(cHidden == 400)
  }

  test("schema route serves the schema graph as JSON triples") {
    val (code, body) = get("/api/schema")
    assert(code == 200)
    val JArray(ts) = (JsonMethods.parse(body) \ "triples"): @unchecked
    assert(ts.nonEmpty)
    // the TPC-H schema declares rdfs:domain rows; maxCard is numeric
    assert(ts.exists(t => (t \ "p") == JString("rdfs:domain")))
    assert(ts.filter(t => (t \ "p") == JString("graft:maxCard"))
      .forall(t => (t \ "o").isInstanceOf[JInt]))
  }

  test("frame route serves class frames, narrowed by ?class") {
    val (code, body) = get("/api/frame?class=tpch:Customer")
    assert(code == 200)
    val JArray(fs) = (JsonMethods.parse(body) \ "frames"): @unchecked
    assert(fs.nonEmpty)
    assert(fs.forall(f => (f \ "class") == JString("tpch:Customer")))
    assert(fs.exists(f => (f \ "property") == JString("tpch:c_name")))
    // unfiltered: every class, superset of the narrowed frame
    val (_, all) = get("/api/frame")
    val JArray(af) = (JsonMethods.parse(all) \ "frames"): @unchecked
    assert(af.size > fs.size)
  }

  test("pack -> unpack imports layers and reports heads without moving refs") {
    // seed a branch on the server store, pack it out, then unpack the
    // pack back in: heads reported, local refs untouched
    val (_, bs) = post("/api/branch?name=packsrc&from=main", "")
    val head0 = (JsonMethods.parse(bs) \ "head") match {
      case JString(h) => h
      case other => fail(s"no head in $bs: $other")
    }
    val dest = java.nio.file.Files.createTempDirectory("graft-packrt").toString
    val (cp, _) = post("/api/pack?branch=packsrc&dest=" +
      java.net.URLEncoder.encode(dest, "UTF-8"), "")
    assert(cp == 200)
    val (cu, bu) = post("/api/unpack?src=" +
      java.net.URLEncoder.encode(dest, "UTF-8"), "")
    assert(cu == 200, bu)
    assert((JsonMethods.parse(bu) \ "heads" \ "packsrc") == JString(head0))
    // refs unmoved
    val (_, bl) = get("/api/branch")
    assert((JsonMethods.parse(bl) \ "branches" \ "packsrc") == JString(head0))
  }

  test("triples PUT round-trips through the turtle GET") {
    val (_, bb) = post("/api/branch?name=ttlrt&from=main", "")
    assert((JsonMethods.parse(bb) \ "api:status") == JString("api:success"))
    val ttl =
      """@prefix ex: <http://ex.org/> .
        |ex:x ex:name 'Xavier' ; ex:age 41 .
        |""".stripMargin
    val (code, body) = post("/api/triples?branch=ttlrt", ttl)
    assert(code == 200, body)
    assert((JsonMethods.parse(body) \ "inserted") == JInt(BigInt(2)))
    val (cg, dump) = get("/api/triples?branch=ttlrt")
    assert(cg == 200)
    assert(dump.contains("Xavier") && dump.contains("http://ex.org/age"))
    // the uploaded triples parse back to the same rows
    val again = graft.sources.Turtle.load(spark, dump)
    assert(again.filter(col("s") === "http://ex.org/x").count() == 2)
  }

  test("triples ?format=ntriples/nquads round-trips the line formats") {
    val (_, bb) = post("/api/branch?name=ntrt&from=main", "")
    assert((JsonMethods.parse(bb) \ "api:status") == JString("api:success"))
    val nt =
      """<http://ex.org/y> <http://ex.org/name> "Yara\n2" .
        |<http://ex.org/y> <http://ex.org/age> "39"^^<xsd:integer> .
        |""".stripMargin
    val (code, body) = post("/api/triples?branch=ntrt&format=ntriples", nt)
    assert(code == 200, body)
    assert((JsonMethods.parse(body) \ "inserted") == JInt(BigInt(2)))
    // N-Triples GET: canonical quoted literals, one statement per line
    val (cg, dump) = get("/api/triples?branch=ntrt&format=ntriples")
    assert(cg == 200)
    val yLines = dump.split("\n").filter(_.startsWith("<http://ex.org/y>"))
    // canonical export expands xsd: datatypes to the full XML-Schema
    // IRI (r14 ADVICE interop fix) — external tools must not see a
    // <xsd:integer> relative-scheme IRI
    assert(yLines.toSet == Set(
      """<http://ex.org/y> <http://ex.org/name> "Yara\n2" .""",
      "<http://ex.org/y> <http://ex.org/age> " +
        "\"39\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
    // N-Quads GET carries the graph term
    val (cq, qdump) = get("/api/triples?branch=ntrt&format=nquads")
    assert(cq == 200)
    assert(qdump.split("\n").filter(_.startsWith("<http://ex.org/y>"))
      .forall(_.endsWith(" <instance> .")))
  }

  test("document GET reads from a branch head with ?branch") {
    // docs committed to main by the insert test
    val (code, body) = get("/api/document?id=doc:Thing/alpha&branch=main")
    assert(code == 200, body)
    assert((JsonMethods.parse(body) \ "name") == JString("alpha"))
    val (miss, _) = get("/api/document?id=doc:Thing/nope&branch=main")
    assert(miss == 400)
  }

  test("a document GET on a cached head scans the base EAV exactly once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val (cp, bp) = post("/api/document?type=OneScan&key=name", """{"name":"s1","n":1}""")
    assert(cp == 200, bp)
    val path = "/api/document?id=doc:OneScan/s1"
    assert(get(path)._1 == 200) // folds main's new head into the cache
    // scans outside the layer store: the base EAV
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans.addAndGet(collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec if !s.relation.location.rootPaths
            .exists(_.toString.contains(srv.store.root)) => s
        }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val (code, body) = try {
      val r = get(path)
      org.apache.spark.ListenerBusFlush(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(l)
    assert(code == 200, body)
    assert((JsonMethods.parse(body) \ "@type") == JString("doc:OneScan"))
    assert((JsonMethods.parse(body) \ "n") == JInt(1))
    assert(scans.get == 1)
  }

  test("woql queries a branch head and TIME-TRAVELS to a commit") {
    post("/api/branch?name=tt&from=main", "")
    val (_, b1) = post("/api/triples?branch=tt",
      "<http://tt/x> <http://tt/p> 'v1' .")
    val c1 = (JsonMethods.parse(b1) \ "head") match {
      case JString(h) => h; case o => fail(s"$o") }
    post("/api/triples?branch=tt", "<http://tt/x> <http://tt/p> 'v2' .")
    val wire =
      """{"@type":"Triple","subject":{"node":"http://tt/x"},
        |"predicate":{"node":"http://tt/p"},"object":{"variable":"V"}}""".stripMargin
    def vals(extra: String): Set[String] = {
      val (code, body) = post(s"/api/woql$extra", wire)
      assert(code == 200, body)
      val JArray(bs) = (JsonMethods.parse(body) \ "bindings"): @unchecked
      bs.map(b => (b \ "V" \ "@value") match {
        case JString(v) => v; case o => o.toString }).toSet
    }
    assert(vals("?branch=tt") == Set("v1", "v2")) // head sees both commits
    assert(vals(s"?commit=$c1") == Set("v1"))     // time travel: first only
    assert(vals("") == Set.empty)                 // base dataset: neither
  }

  test("graphql introspection lists classes and class frames") {
    val (_, schemaDf) = server.GraphQL.run("{ __schema { types { name } } }")(
      graft.Graft.ctx(spark, sfDir))
    val names = schemaDf.collect().map(_.getString(0)).toSeq
    assert(names == names.sorted)
    assert(names.contains("Customer") && names.contains("Entity"))
    val (_, typeDf) = server.GraphQL.run(
      """{ __type(name: "Customer") { fields { name type max_card } } }""")(
      graft.Graft.ctx(spark, sfDir))
    val fields = typeDf.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(fields("c_nationkey") == "Nation") // link range prefix-stripped
    assert(fields("rdfs:label") == "xsd:string") // inherited from Entity
    // over the wire too
    val (code, body) = post("/api/graphql", """{"query":"{ __schema { types { name } } }"}""")
    assert(code == 200)
    val JArray(rows) = (JsonMethods.parse(body) \ "data" \ "__schema"): @unchecked
    assert(rows.exists(r => (r \ "name") == JString("Customer")))
  }

  test("graphql deep links chain two hops with an exact double filter") {
    val (_, deep) = server.GraphQL.run(
      """{ Lineitem(filter: {l_quantity: {eq: 50.0}, l_returnflag: {eq: "R"}}) {
        |    l_linenumber l_orderkey { o_custkey { c_name } } } }""".stripMargin)
    val n = deep.count()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") === 50.0 && col("l_returnflag") === "R").count()
    assert(n == li && n > 0)
  }

  test("migration route applies a rename as one commit on a branch") {
    // isolate on a fresh branch so the shared store's main is untouched
    val (cb, _) = post("/api/branch?name=migtest&from=main", "")
    assert(cb == 200)
    val ops =
      """[{"op":"add_property","property":"doc:size","domain":"doc:Thing","range":"xsd:integer"},
        | {"op":"rename_property","from":"doc:size","to":"doc:bytes"}]""".stripMargin
    val (code, body) = post("/api/migration?branch=migtest&msg=rename", ops)
    assert(code == 200, body)
    val j = JsonMethods.parse(body)
    assert((j \ "ops") == JInt(2))
    assert((j \ "head").isInstanceOf[JString])
    // malformed op list is a 400, not a commit
    val (bad, _) = post("/api/migration?branch=migtest", """[{"op":"nope"}]""")
    assert(bad == 400)
  }

  test("capability catalog enforces per-user, per-db route grants") {
    import server.Capabilities._
    val catalog = Catalog(
      orgs = Seq(Org("acme", Set("dbA", "dbB"))),
      roles = Seq(AdminRole, ReaderRole, WriterRole,
        Role("db_owner", Set(Actions.CreateDb, Actions.DeleteDb))),
      users = Seq(
        User("root", "tok-root", Seq(Capability("admin", "*"))),
        User("alice", "tok-alice", Seq(Capability("reader", s"db/${server.HttpApi.BaseDb}"))),
        User("bob", "tok-bob", Seq(Capability("db_owner", "db/dbA"))),
        User("carol", "tok-carol", Seq(Capability("db_owner", "org/acme")))))
    val capSrv = server.HttpApi.start(spark, sfDir, capabilities = Some(catalog))
    try {
      def req(method: String, path: String, tok: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(capSrv.url(path)))
          .header("Authorization", s"Bearer $tok")
        val r = client.send((method match {
          case "GET" => b.GET()
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(""))
          case "DELETE" => b.DELETE()
        }).build(), HttpResponse.BodyHandlers.ofString())
        r.statusCode()
      }
      // unknown token → 401; /api/info stays open
      assert(req("GET", "/api/branch", "tok-nobody") == 401)
      assert(req("GET", "/api/info", "tok-nobody") == 200)
      // reader: read routes allowed, writes and db admin 403
      assert(req("GET", "/api/branch", "tok-alice") == 200)
      assert(req("GET", "/api/schema", "tok-alice") == 200)
      assert(req("POST", "/api/document?type=T&key=k", "tok-alice") == 403)
      assert(req("POST", "/api/db?name=dbA", "tok-alice") == 403)
      // bob may create/delete dbA but NOT dbB (per-db grant)
      assert(req("POST", "/api/db?name=dbB", "tok-bob") == 403)
      assert(req("POST", "/api/db?name=dbA", "tok-bob") == 200)
      assert(req("DELETE", "/api/db?name=dbA", "tok-bob") == 200)
      // bob has no read grant on the base dataset
      assert(req("GET", "/api/branch", "tok-bob") == 403)
      // carol's org-scoped grant covers both acme dbs
      assert(req("POST", "/api/db?name=dbB", "tok-carol") == 200)
      assert(req("DELETE", "/api/db?name=dbB", "tok-carol") == 200)
      // root's * admin covers everything
      assert(req("GET", "/api/branch", "tok-root") == 200)
      assert(req("POST", "/api/db?name=dbC", "tok-root") == 200)
      assert(req("DELETE", "/api/db?name=dbC", "tok-root") == 200)
    } finally capSrv.stop()
  }

  test("ok route is an unauthenticated liveness probe") {
    val gated = server.HttpApi.start(spark, sfDir, token = Some("sesame"))
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(gated.url("/api/ok"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert((JsonMethods.parse(r.body()) \ "api:status") == JString("api:success"))
    } finally gated.stop()
  }

  test("log route pages the commit chain newest first") {
    post("/api/branch?name=logb&from=main", "")
    val heads = (1 to 3).map { i =>
      val (_, b) = post("/api/triples?branch=logb",
        s"<http://log/x$i> <http://log/p> 'v$i' .")
      (JsonMethods.parse(b) \ "head") match {
        case JString(h) => h; case o => fail(s"$o") }
    }
    val (code, body) = get("/api/log?branch=logb")
    assert(code == 200, body)
    val JArray(commits) = (JsonMethods.parse(body) \ "commits"): @unchecked
    val ids = commits.map(c => (c \ "identifier") match {
      case JString(x) => x; case o => fail(s"$o") })
    // newest first; the three turtle commits lead the chain
    assert(ids.take(3) == heads.reverse)
    // parent links agree with the order
    assert(commits.head \ "parent" == JString(ids(1)))
    assert(commits.forall(c => (c \ "message").isInstanceOf[JString]))
    // paging
    val (_, page) = get("/api/log?branch=logb&start=1&count=1")
    val JArray(one) = (JsonMethods.parse(page) \ "commits"): @unchecked
    assert(one.map(c => c \ "identifier") == List(JString(ids(1))))
  }

  test("diff route presents swaps and round-trips through patch") {
    // base branch with one value; fork and change it + add a triple
    post("/api/branch?name=dbase&from=main", "")
    srv.store.commit("dbase", triples((":da", ":p", "v1")),
      triples().limit(0), "base value")
    post("/api/branch?name=dfork&from=dbase", "")
    srv.store.commit("dfork",
      triples((":da", ":p", "v2"), (":db", ":p", "w")),
      triples((":da", ":p", "v1")), "swap + insert")

    // patch presentation: the changed field fuses into a swap
    val (c1, b1) = get("/api/diff?from=dbase&to=dfork")
    assert(c1 == 200, b1)
    val JArray(patch) = (JsonMethods.parse(b1) \ "patch"): @unchecked
    val byOp = patch.groupBy(p => p \ "op")
    assert(byOp(JString("swap")).exists(p =>
      (p \ "subject") == JString(":da") &&
        (p \ "old") == JString("v1") && (p \ "new") == JString("v2")))
    assert(byOp(JString("insert")).exists(p => (p \ "subject") == JString(":db")))

    // document-scoped diff: only :da rows
    val (_, bDoc) = get("/api/diff?from=dbase&to=dfork&id=:da")
    val JArray(docPatch) = (JsonMethods.parse(bDoc) \ "patch"): @unchecked
    assert(docPatch.nonEmpty &&
      docPatch.forall(p => (p \ "subject") == JString(":da")))

    // lossless triples format applied onto a third branch reproduces
    // the fork's graph exactly
    val (c2, payload) = get("/api/diff?from=dbase&to=dfork&format=triples")
    assert(c2 == 200)
    post("/api/branch?name=dpatch&from=dbase", "")
    val (c3, b3) = post("/api/patch?branch=dpatch&msg=replay", payload)
    assert(c3 == 200, b3)
    val got = srv.store.materializeBranch("dpatch")
    val want = srv.store.materializeBranch("dfork")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("history route lists the commits touching one document") {
    post("/api/branch?name=histb&from=main", "")
    srv.store.commit("histb", triples((":ha", ":p", "v1"), (":hz", ":p", "z")),
      triples().limit(0), "h base")
    srv.store.commit("histb", triples((":hz", ":q", "z2")),
      triples().limit(0), "unrelated")
    srv.store.commit("histb", triples((":ha", ":p", "v2")),
      triples((":ha", ":p", "v1")), "h swap")
    val (code, body) = get("/api/history?branch=histb&id=:ha")
    assert(code == 200, body)
    val JArray(cs) = (JsonMethods.parse(body) \ "commits"): @unchecked
    // newest first, the unrelated middle commit filtered out
    assert(cs.map(c => c \ "message") ==
      List(JString("h swap"), JString("h base")))
    assert(cs.head \ "added" == JInt(1) && cs.head \ "removed" == JInt(1))
    assert(cs(1) \ "added" == JInt(1) && cs(1) \ "removed" == JInt(0))
    // paging slices the filtered history
    val (_, page) = get("/api/history?branch=histb&id=:ha&start=1&count=1")
    val JArray(one) = (JsonMethods.parse(page) \ "commits"): @unchecked
    assert(one.map(c => c \ "message") == List(JString("h base")))
  }

  test("content diff and patch work on raw documents, no store") {
    val before = """{"@id":"doc:City/1","@type":"City",
      |"name":"Utrecht","population":360000}""".stripMargin
    val after = """{"@id":"doc:City/1","@type":"City",
      |"name":"Utrecht","population":375000,"country":"NL"}""".stripMargin
    val (c1, b1) = post("/api/diff",
      s"""{"before":$before,"after":$after}""")
    assert(c1 == 200, b1)
    val JArray(patch) = (JsonMethods.parse(b1) \ "patch"): @unchecked
    assert(patch.exists(p => (p \ "op") == JString("swap") &&
      (p \ "property") == JString("doc:population") &&
      (p \ "old") == JString("360000") && (p \ "new") == JString("375000")))
    assert(patch.exists(p => (p \ "op") == JString("insert") &&
      (p \ "property") == JString("doc:country")))
    // name is unchanged — no row for it
    assert(!patch.exists(p => (p \ "property") == JString("doc:name")))

    // lossless round-trip: content diff (triples format) patched onto
    // before reproduces after exactly
    val (c2, lines) = post("/api/diff?format=triples",
      s"""{"before":$before,"after":$after}""")
    assert(c2 == 200)
    val rows = lines.split("\n").filter(_.trim.nonEmpty)
      .mkString("[", ",", "]")
    val (c3, b3) = post("/api/patch",
      s"""{"before":$before,"patch":$rows}""")
    assert(c3 == 200, b3)
    val got = JsonMethods.parse(b3) \ "after"
    assert((got \ "population") == JInt(375000))
    assert((got \ "country") == JString("NL"))
    assert((got \ "name") == JString("Utrecht"))
  }

  test("validated document insert enforces committed schema constraints") {
    import org.apache.spark.sql.functions.lit
    // enum constraint committed through the store into the SCHEMA graph:
    // doc:status ∈ {open, closed}
    srv.store.commit("main",
      triples(("doc:status", "graft:oneOf", "open"),
        ("doc:status", "graft:oneOf", "closed"))
        .withColumn("g", lit("schema")),
      triples().limit(0), "status enum")
    // unique type per run: the spec store persists across test runs
    val ty = s"Ticket${System.nanoTime}"
    val (cBad, bBad) = post(s"/api/document?type=$ty&key=name&validate=true",
      """{"name":"t1","status":"weird"}""")
    assert(cBad == 400, bBad)
    assert(bBad.contains("enum"))
    // the violating insert must not have committed anything
    val (_, list0) = get(s"/api/document?type=$ty")
    assert(list0.trim.isEmpty)
    val (cOk, bOk) = post(s"/api/document?type=$ty&key=name&validate=true",
      """{"name":"t2","status":"open"}""")
    assert(cOk == 200, bOk)
    val (_, b2) = get(s"/api/document?id=doc:$ty/t2")
    assert((JsonMethods.parse(b2) \ "status") == JString("open"))
  }

  test("prefix overlay is managed over the route and merges with defaults") {
    val (c0, b0) = get("/api/prefixes")
    assert(c0 == 200)
    val JObject(ctx0) = (JsonMethods.parse(b0) \ "@context"): @unchecked
    assert(ctx0.exists(_._1 == "rdf"))
    val (c1, _) = post("/api/prefixes?prefix=ex&base=http://example.org/ns%23", "")
    assert(c1 == 200)
    val (_, b2) = get("/api/prefixes")
    assert((JsonMethods.parse(b2) \ "@context" \ "ex") ==
      JString("http://example.org/ns#"))
    // malformed prefix refused
    val (c3, _) = post("/api/prefixes?prefix=ex:&base=http://x/", "")
    assert(c3 == 400)
    // overlay deletable, built-ins not
    val del = client.send(
      HttpRequest.newBuilder(URI.create(srv.url("/api/prefixes?prefix=ex")))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 200)
    val delRdf = client.send(
      HttpRequest.newBuilder(URI.create(srv.url("/api/prefixes?prefix=rdf")))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    assert(delRdf.statusCode() == 400)
  }

  test("woql write query commits AddTriple/DeleteTriple over the wire") {
    post("/api/branch?name=wwr&from=main", "")
    srv.store.commit("wwr", triples((":wa", ":p", "old"), (":wb", ":p", "keep")),
      triples().limit(0), "wire base")
    // read part binds S over the branch; AddTriple tags every solution,
    // DeleteTriple drops the old value of :wa
    val body =
      """{"@type":"And","and":[
        | {"@type":"Triple","subject":{"node":":wa"},
        |  "predicate":{"node":":p"},"object":{"variable":"O"}},
        | {"@type":"DeleteTriple","subject":{"node":":wa"},
        |  "predicate":{"node":":p"},"object":{"variable":"O"}},
        | {"@type":"AddTriple","subject":{"node":":wa"},
        |  "predicate":{"node":":p"},
        |  "object":{"data":{"@type":"xsd:string","@value":"new"}}}
        |]}""".stripMargin
    val (code, resp) = post("/api/woql?branch=wwr", body)
    assert(code == 200, resp)
    val j = JsonMethods.parse(resp)
    assert((j \ "inserts") == JInt(1) && (j \ "deletes") == JInt(1))
    val after = srv.store.materializeBranch("wwr")
    import org.apache.spark.sql.functions.col
    val waVals = after.filter(col("s") === ":wa")
      .select("o_str").collect().map(_.getString(0)).toSet
    assert(waVals == Set("new"))
    // writes to a commit resource are refused
    val head = srv.store.refs("wwr")
    val (cBad, _) = post(s"/api/woql?commit=$head", body)
    assert(cBad == 400)
  }

  test("woql write query requires instance_write_access") {
    val catalog = server.Capabilities.fromJson(
      """{"orgs":[{"name":"o","dbs":["_default"]}],
        |"roles":[{"name":"reader","actions":["instance_read_access"]}],
        |"users":[{"name":"r","token":"rtok",
        |  "capabilities":[{"role":"reader","scope":"org/o"}]}]}""".stripMargin)
    val gated = server.HttpApi.start(spark, sfDir,
      capabilities = Some(catalog), capsFile = None)
    try {
      val body =
        """{"@type":"AddTriple","subject":{"node":":x"},
          |"predicate":{"node":":p"},
          |"object":{"data":{"@type":"xsd:string","@value":"v"}}}""".stripMargin
      val r = client.send(
        HttpRequest.newBuilder(URI.create(gated.url("/api/woql")))
          .header("Authorization", "Bearer rtok")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 403, r.body())
      assert(r.body().contains("instance_write_access"))
    } finally gated.stop()
  }

  test("graphql serves a branch head via ?branch addressing") {
    post("/api/branch?name=gqb&from=main", "")
    import org.apache.spark.sql.functions.{col, lit, when}
    // GraphQL maps class Widget to IRI prefix+Widget = tpch:Widget;
    // the triples() helper only emits ":"-led IRIs, so patch the type
    val gqData = triples(("tpch:thing/1", "rdf:type", ":w"),
        ("tpch:thing/1", "tpch:w_name", "gizmo"))
      .withColumn("o_iri", when(col("o_iri") === ":w",
        lit("tpch:Widget")).otherwise(col("o_iri")))
    srv.store.commit("gqb", gqData, triples().limit(0), "gq data")
    // the committed triples only exist on the branch: rdf:type must be
    // an IRI object; the type IRI is prefix + class name
    val (code, resp) = post("/api/graphql?branch=gqb",
      """{"query":"{ Widget { w_name } }"}""")
    assert(code == 200, resp)
    val JArray(rows) =
      (JsonMethods.parse(resp) \ "data" \ "Widget"): @unchecked
    assert(rows.map(r => r \ "w_name") == List(JString("gizmo")))
    // the base context has no Widget instances
    val (c2, r2) = post("/api/graphql", """{"query":"{ Widget { w_name } }"}""")
    assert(c2 == 200)
    val JArray(none) = (JsonMethods.parse(r2) \ "data" \ "Widget"): @unchecked
    assert(none.isEmpty)
  }

  test("graphql _count aggregates matching documents; filters + branch addressing") {
    post("/api/branch?name=gqc&from=main", "")
    import org.apache.spark.sql.functions.{col, lit, when}
    val data = triples(
        ("tpch:thing/10", "rdf:type", ":w"),
        ("tpch:thing/10", "tpch:w_name", "gizmo"),
        ("tpch:thing/11", "rdf:type", ":w"),
        ("tpch:thing/11", "tpch:w_name", "gizmo"),
        ("tpch:thing/12", "rdf:type", ":w"),
        ("tpch:thing/12", "tpch:w_name", "doohickey"))
      .withColumn("o_iri", when(col("o_iri") === ":w",
        lit("tpch:Widget")).otherwise(col("o_iri")))
    srv.store.commit("gqc", data, triples().limit(0), "count data")
    // filtered count on the branch head
    val (code, resp) = post("/api/graphql?branch=gqc",
      """{"query":"{ Widget(filter: {w_name: {eq: \"gizmo\"}}) { _count } }"}""")
    assert(code == 200, resp)
    val JArray(rows) = (JsonMethods.parse(resp) \ "data" \ "Widget"): @unchecked
    assert(rows.map(r => r \ "_count") == List(JInt(2)))
    // unfiltered count sees every Widget on the branch
    val (c2, r2) = post("/api/graphql?branch=gqc",
      """{"query":"{ Widget { _count } }"}""")
    assert(c2 == 200)
    val JArray(all) = (JsonMethods.parse(r2) \ "data" \ "Widget"): @unchecked
    assert(all.map(r => r \ "_count") == List(JInt(3)))
    // the base context has no Widgets — count 0, not an empty page
    val (c3, r3) = post("/api/graphql", """{"query":"{ Widget { _count } }"}""")
    assert(c3 == 200)
    val JArray(zero) = (JsonMethods.parse(r3) \ "data" \ "Widget"): @unchecked
    assert(zero.map(r => r \ "_count") == List(JInt(0)))
    // _count cannot mix with per-row fields (flat frame shape clash)
    val (c4, r4) = post("/api/graphql",
      """{"query":"{ Widget { _count w_name } }"}""")
    assert(c4 == 400 && r4.contains("_count"), r4)
  }

  test("graphql per-link _count returns per-parent counts with filters") {
    // back-link count per nation, filter respected; the parent's
    // row-level field (n_name) survives next to the count column
    val (code, resp) = post("/api/graphql",
      """{"query":"{ Nation(filter: {n_name: {startsWith: \"NATION_1\"}}) { n_name _c_nationkey_of_Customer(filter: {c_acctbal: {gt: 5000.0}}) { _count } } }"}""")
    assert(code == 200, resp)
    val JArray(rows) = (JsonMethods.parse(resp) \ "data" \ "Nation"): @unchecked
    assert(rows.nonEmpty)
    // independently recompute one nation's count relationally
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    import org.apache.spark.sql.functions.col
    val expected = customer.join(nation,
        customer("c_nationkey") === nation("n_nationkey"))
      .where(nation("n_name") === "NATION_10" && col("c_acctbal") > 5000.0)
      .count()
    val got = rows.collectFirst {
      case r if (r \ "n_name") == JString("NATION_10") =>
        (r \ "_c_nationkey_of_Customer__count"): @unchecked
    }
    if (expected > 0) assert(got.contains(JInt(expected)), s"$got vs $expected")
    else assert(got.isEmpty) // inner semantics: zero-match parent absent
  }

  test("rebase route resolves conflicts from the request body") {
    import org.apache.spark.sql.functions.col
    post("/api/branch?name=rbm&from=main", "")
    srv.store.commit("rbm",
      triples((":rb/x", "p", "v"), (":rb/y", "p", "v")),
      triples().limit(0), "base")
    post("/api/branch?name=rbd&from=rbm", "")
    // dev removes :rb/x and adds a marker; rbm also removes :rb/x —
    // the replayed remove conflicts
    srv.store.commit("rbd", triples((":rb/m", "p", "v")),
      triples((":rb/x", "p", "v")), "dev work")
    srv.store.commit("rbm", triples().limit(0),
      triples((":rb/x", "p", "v")), "main rm x")
    val (c1, r1) = post("/api/rebase?src=rbd&onto=rbm", "")
    assert(c1 == 200 && r1.contains("api:conflict"), r1)
    val JArray(cs) = (JsonMethods.parse(r1) \ "conflicts"): @unchecked
    val JString(cid) = (cs.head \ "commit"): @unchecked
    // re-post with a per-conflict strategy — the continuation path
    val (c2, r2) = post("/api/rebase?src=rbd&onto=rbm",
      s"""{"resolutions":{"$cid":"theirs"}}""")
    assert(c2 == 200 && r2.contains("api:success"), r2)
    val mat = srv.store.materializeBranch("rbd")
    assert(mat.filter(col("s") === ":rb/m").count() == 1)
    assert(mat.filter(col("s") === ":rb/x").count() == 0)
    assert(mat.filter(col("s") === ":rb/y").count() == 1)
  }

  test("document GET time-travels with ?commit addressing") {
    post("/api/branch?name=dtt&from=main", "")
    val c1 = srv.store.commit("dtt",
      triples(("doc:Pt/1", "rdf:type", ":t"), ("doc:Pt/1", "doc:v", "one")),
      triples().limit(0), "v one")
    srv.store.commit("dtt", triples(("doc:Pt/1", "doc:v", "two")),
      triples(("doc:Pt/1", "doc:v", "one")), "v two")
    val (cHead, bHead) = get("/api/document?id=doc:Pt/1&branch=dtt")
    assert(cHead == 200 && (JsonMethods.parse(bHead) \ "v") == JString("two"))
    val (cOld, bOld) = get(s"/api/document?id=doc:Pt/1&commit=$c1")
    assert(cOld == 200, bOld)
    assert((JsonMethods.parse(bOld) \ "v") == JString("one"))
  }

  test("branch delete removes the ref and protects main") {
    post("/api/branch?name=bdel&from=main", "")
    assert(srv.store.refs.contains("bdel"))
    val del = client.send(
      HttpRequest.newBuilder(URI.create(srv.url("/api/branch?name=bdel")))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 200, del.body())
    assert(!srv.store.refs.contains("bdel"))
    val delMain = client.send(
      HttpRequest.newBuilder(URI.create(srv.url("/api/branch?name=main")))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    assert(delMain.statusCode() == 400)
  }

  test("woql route accepts the v3 wire dialect, reads and writes") {
    // v3 read: woql:-prefixed types execute through the same AST
    val v3read =
      """{"@type":"woql:Triple",
        |"woql:subject":{"@type":"woql:Variable","woql:variable_name":"S"},
        |"woql:predicate":{"@type":"woql:Node","woql:node":"tpch:r_name"},
        |"woql:object":{"@type":"woql:Variable","woql:variable_name":"N"}}""".stripMargin
    val (c1, b1) = post("/api/woql", v3read)
    assert(c1 == 200, b1)
    val JArray(bindings) = (JsonMethods.parse(b1) \ "bindings"): @unchecked
    assert(bindings.size == 5)
    // v3 write: AddTriple leaf commits like the v10 path
    post("/api/branch?name=v3w&from=main", "")
    val v3write =
      """{"@type":"woql:AddTriple",
        |"woql:subject":{"@type":"woql:Node","woql:node":":v3s"},
        |"woql:predicate":{"@type":"woql:Node","woql:node":":p"},
        |"woql:object":{"@type":"woql:Datatype","woql:datatype":
        |  {"@type":"xsd:string","@value":"v3v"}}}""".stripMargin
    val (c2, b2) = post("/api/woql?branch=v3w", v3write)
    assert(c2 == 200, b2)
    import org.apache.spark.sql.functions.col
    val vals = srv.store.materializeBranch("v3w")
      .filter(col("s") === ":v3s").select("o_str")
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("v3v"))
  }

  test("schema-graph wire writes demand schema_write_access") {
    val catalog = server.Capabilities.fromJson(
      """{"orgs":[{"name":"o","dbs":["_default"]}],
        |"roles":[{"name":"w","actions":
        |  ["instance_read_access","instance_write_access"]}],
        |"users":[{"name":"u","token":"wtok",
        |  "capabilities":[{"role":"w","scope":"org/o"}]}]}""".stripMargin)
    val gated = server.HttpApi.start(spark, sfDir,
      capabilities = Some(catalog), capsFile = None)
    try {
      val body =
        """{"@type":"AddTriple","subject":{"node":":sx"},
          |"predicate":{"node":"graft:oneOf"},
          |"object":{"data":{"@type":"xsd:string","@value":"v"}},
          |"graph":"schema"}""".stripMargin
      val r = client.send(
        HttpRequest.newBuilder(URI.create(gated.url("/api/woql")))
          .header("Authorization", "Bearer wtok")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 403, r.body())
      assert(r.body().contains("schema_write_access"))
    } finally gated.stop()
  }

  test("turtle export expands CURIEs against the managed prefix context") {
    post("/api/prefixes?prefix=exq&base=http://ex.org/q%23", "")
    post("/api/branch?name=texp&from=main", "")
    srv.store.commit("texp", triples(("exq:a", "exq:p", "w")),
      triples().limit(0), "prefixed")
    val (c1, raw1) = get("/api/triples?branch=texp")
    assert(c1 == 200 && raw1.contains("<exq:a>"))
    val (c2, expanded) = get("/api/triples?branch=texp&expand=true")
    assert(c2 == 200, expanded)
    assert(expanded.contains("<http://ex.org/q#a> <http://ex.org/q#p>"))
  }

  test("apply route replays a change set onto another branch") {
    post("/api/branch?name=abase&from=main", "")
    srv.store.commit("abase", triples((":aa", ":p", "x")),
      triples().limit(0), "base")
    post("/api/branch?name=afork&from=abase", "")
    srv.store.commit("afork", triples((":ab", ":p", "y")),
      triples().limit(0), "fork adds :ab")
    post("/api/branch?name=atarget&from=abase", "")
    val (code, body) = post("/api/apply?branch=atarget&from=abase&to=afork", "")
    assert(code == 200, body)
    val got = srv.store.materializeBranch("atarget")
    val want = srv.store.materializeBranch("afork")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("optimize flattens storage without rewriting history") {
    post("/api/branch?name=optb&from=main", "")
    srv.store.commit("optb", triples((":o1", ":p", "a")), triples().limit(0), "c1")
    srv.store.commit("optb", triples((":o2", ":p", "b")), triples((":o1", ":p", "a")), "c2")
    val headBefore = srv.store.refs("optb")
    val logBefore = srv.store.log("optb").map(_._1)
    val matBefore = srv.store.materializeBranch("optb").collect().toSet

    val (code, body) = post("/api/optimize?branch=optb", "")
    assert(code == 200, body)
    val j = JsonMethods.parse(body)
    assert((j \ "head") == JString(headBefore)) // head UNCHANGED
    assert((j \ "layers_folded") match {
      case JInt(n) => n >= 2; case o => fail(s"$o") })
    // history intact, reads unchanged (now served from the flat cache)
    assert(srv.store.refs("optb") == headBefore)
    assert(srv.store.log("optb").map(_._1) == logBefore)
    assert(srv.store.materializeBranch("optb").collect().toSet == matBefore)
    // a later commit gets a fresh head → cache miss → still correct
    srv.store.commit("optb", triples((":o3", ":p", "c")), triples().limit(0), "c3")
    val after = srv.store.materializeBranch("optb")
    assert(after.filter(col("s") === ":o3").count() == 1)
    assert(after.filter(col("s") === ":o1").count() == 0) // c2's remove holds
  }

  test("named remotes resolve in push/pull and round-trip CRUD") {
    val remoteDir = java.nio.file.Files
      .createTempDirectory("graft_named_remote").toString
    val (c1, _) = post("/api/remote?name=origin2&location=" +
      java.net.URLEncoder.encode(remoteDir, "UTF-8"), "")
    assert(c1 == 200)
    val (_, listed) = get("/api/remote")
    assert((JsonMethods.parse(listed) \ "remotes" \ "origin2") ==
      JString(remoteDir))
    // push by NAME, not path
    val (c2, b2) = post("/api/push?remote=origin2&branch=main", "")
    assert(c2 == 200, b2)
    assert(storage.LayerStore.open(spark, remoteDir).refs.contains("main"))
    val (c3, _) = delete("/api/remote?name=origin2")
    assert(c3 == 200)
    val (_, listed2) = get("/api/remote")
    assert((JsonMethods.parse(listed2) \ "remotes" \ "origin2") == JNothing)
    // deleting an unknown remote is a 400
    val (c4, _) = delete("/api/remote?name=nope")
    assert(c4 == 400)
  }

  test("capability management routes mutate and persist the catalog") {
    import server.Capabilities._
    val catalog = Catalog(
      orgs = Seq(Org("acme", Set("dbA"))),
      roles = Seq(AdminRole, ReaderRole, WriterRole),
      users = Seq(
        User("root", "tok-root", Seq(Capability("admin", "*"))),
        User("alice", "tok-alice",
          Seq(Capability("reader", s"db/${server.HttpApi.BaseDb}")))))
    val capsFile = java.nio.file.Files.createTempFile("graft_caps", ".json")
    val capSrv = server.HttpApi.start(spark, sfDir,
      capabilities = Some(catalog), capsFile = Some(capsFile.toString))
    try {
      def req(method: String, path: String, tok: String): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(capSrv.url(path)))
          .header("Authorization", s"Bearer $tok")
        val r = client.send((method match {
          case "GET" => b.GET()
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(""))
          case "DELETE" => b.DELETE()
        }).build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // management requires the manage action: reader 403, admin 200
      assert(req("GET", "/api/user", "tok-alice")._1 == 403)
      val (cl, bl) = req("GET", "/api/user", "tok-root")
      assert(cl == 200)
      assert(!bl.contains("tok-root")) // tokens never leave the server
      // create a user, grant writer on the base db → token becomes live
      assert(req("POST", "/api/user?name=dave&token=tok-dave", "tok-root")._1 == 200)
      assert(req("GET", "/api/branch", "tok-dave")._1 == 403) // no grants yet
      assert(req("POST", "/api/capability?user=dave&role=writer" +
        s"&scope=db/${server.HttpApi.BaseDb}", "tok-root")._1 == 200)
      assert(req("GET", "/api/branch", "tok-dave")._1 == 200)
      // revoke → gone again
      assert(req("DELETE", "/api/capability?user=dave&role=writer" +
        s"&scope=db/${server.HttpApi.BaseDb}", "tok-root")._1 == 200)
      assert(req("GET", "/api/branch", "tok-dave")._1 == 403)
      // deleting a role still in use fails validation, catalog intact
      assert(req("DELETE", "/api/role?name=reader", "tok-root")._1 == 400)
      assert(req("GET", "/api/branch", "tok-alice")._1 == 200)
      // org + role CRUD
      assert(req("POST", "/api/role?name=auditor&actions=" +
        "instance_read_access,schema_read_access", "tok-root")._1 == 200)
      assert(req("POST", "/api/role?name=bad&actions=launch_missiles",
        "tok-root")._1 == 400)
      assert(req("POST", "/api/organization?name=emca&dbs=dbX,dbY",
        "tok-root")._1 == 200)
      assert(req("DELETE", "/api/organization?name=emca", "tok-root")._1 == 200)
      // mutations persisted to the caps file in the readable shape
      val persisted = fromFile(capsFile.toString)
      assert(persisted.users.exists(_.name == "dave"))
      assert(persisted.roles.exists(_.name == "auditor"))
    } finally capSrv.stop()
  }

  test("capability catalog is introspectable as a system graph") {
    import server.Capabilities._
    val catalog = Catalog(Seq(Org("acme", Set("dbA"))), Seq(ReaderRole),
      Seq(User("alice", "secret-token", Seq(Capability("reader", "db/dbA")))))
    val g = catalog.toTriples(spark)
    assert(g.filter(col("p") === "rdf:type" && col("o_str") === "sys:User").count() == 1)
    assert(g.filter(col("p") === "sys:action").count() == ReaderRole.actions.size)
    // tokens never enter the graph — only hashes
    assert(g.filter(col("o_str").contains("secret-token")).count() == 0)
  }

  test("policy keys on the ROUTED context: prefix paths cannot bypass caps") {
    // JDK HttpServer dispatches by context-path PREFIX, so a request
    // like 'POST /api/user/x' runs the privileged /api/user handler;
    // the policy table must key on the routed context, never the raw
    // request path (which would fall into the lenient default case).
    import server.Capabilities._
    val catalog = Catalog(
      orgs = Seq(Org("acme", Set("dbA"))),
      roles = Seq(AdminRole, ReaderRole),
      users = Seq(
        User("root", "tok-root", Seq(Capability("admin", "*"))),
        User("alice", "tok-alice",
          Seq(Capability("reader", s"db/${server.HttpApi.BaseDb}")))))
    val capSrv = server.HttpApi.start(spark, sfDir, capabilities = Some(catalog))
    try {
      def req(method: String, path: String, tok: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(capSrv.url(path)))
          .header("Authorization", s"Bearer $tok")
        val r = client.send((method match {
          case "GET" => b.GET()
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(""))
          case "DELETE" => b.DELETE()
        }).build(), HttpResponse.BodyHandlers.ofString())
        r.statusCode()
      }
      // reader hitting privileged handlers through prefix paths → 403
      assert(req("POST", "/api/user/?name=eve&token=t&caps=admin:*",
        "tok-alice") == 403)
      assert(req("POST", "/api/user/x?name=eve&token=t&caps=admin:*",
        "tok-alice") == 403)
      assert(req("DELETE", "/api/db/?name=dbA", "tok-alice") == 403)
      assert(req("DELETE", "/api/db/x?name=dbA", "tok-alice") == 403)
      assert(req("POST", "/api/migration/x?ops=%5B%5D", "tok-alice") == 403)
      // exact paths still work for the admin
      assert(req("GET", "/api/branch", "tok-alice") == 200)
      assert(req("POST", "/api/user?name=eve&token=t&caps=reader:db/_default",
        "tok-root") == 200)
    } finally capSrv.stop()
  }

  test("woql bindings page with ?start/?limit and flag truncation") {
    // ordered query so pages are deterministic and provably disjoint
    val wire =
      """{"@type":"OrderBy","ordering":[{"variable":"S","order":"asc"}],
        |"query":{"@type":"Triple","subject":{"variable":"S"},
        |"predicate":{"node":"tpch:r_name"},"object":{"variable":"N"}}}""".stripMargin
    def page(q: String): (List[JValue], JValue, JValue) = {
      val (code, body) = post(s"/api/woql$q", wire)
      assert(code == 200, body)
      val j = JsonMethods.parse(body)
      val JArray(bs) = (j \ "bindings"): @unchecked
      (bs, j \ "api:truncated", j \ "api:next_start")
    }
    // 5 regions, limit 3: first page clipped + marked, second disjoint
    val (p1, t1, n1) = page("?limit=3")
    assert(p1.size == 3 && t1 == JBool(true) && n1 == JInt(3))
    val (p2, t2, _) = page("?limit=3&start=3")
    assert(p2.size == 2 && t2 == JNothing)
    val ids = (p1 ++ p2).map(b => b \ "S")
    assert(ids.distinct.size == 5)
    // the DEFAULT cap also clips and marks (no explicit limit)
    sys.props("graft.http.maxRows") = "2"
    try {
      val (pc, tc, nc) = page("")
      assert(pc.size == 2 && tc == JBool(true) && nc == JInt(2))
    } finally sys.props.remove("graft.http.maxRows")
  }

  test("woql paging rejects limit<1 and start<0 with a 400") {
    val wire =
      """{"@type":"Triple","subject":{"variable":"S"},
        |"predicate":{"node":"tpch:r_name"},"object":{"variable":"N"}}""".stripMargin
    // ?limit=0 would page forever (next_start == start); negative
    // limit/start used to throw an opaque planner error
    val (c0, b0) = post("/api/woql?limit=0", wire)
    assert(c0 == 400 && b0.contains("limit"), b0)
    val (c1, b1) = post("/api/woql?limit=-3", wire)
    assert(c1 == 400 && b1.contains("limit"), b1)
    val (c2, b2) = post("/api/woql?start=-1&limit=2", wire)
    assert(c2 == 400 && b2.contains("start"), b2)
  }

  test("two servers sync over HTTP: clone, push with negotiation, pull") {
    import storage.{LayerStore, RemoteTransfer}
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, concat}
    def t(pairs: (Int, String)*) = pairs.toSeq.toDF("n_nationkey", "n_name")
      .select(lit("instance").as("g"),
        concat(lit("x:n/"), col("n_nationkey").cast(org.apache.spark.sql.types.StringType)).as("s"),
        lit("x:name").as("p"), lit("l").as("o_kind"),
        lit(null).cast(org.apache.spark.sql.types.StringType).as("o_iri"),
        lit("xsd:string").as("o_typ"), col("n_name").as("o_str"),
        lit(null).cast(org.apache.spark.sql.types.DoubleType).as("o_dbl"),
        lit(null).cast(org.apache.spark.sql.types.LongType).as("o_lng"),
        lit(null).cast(org.apache.spark.sql.types.TimestampType).as("o_ts"),
        lit(null).cast(org.apache.spark.sql.types.BooleanType).as("o_bool"),
        lit(null).cast(org.apache.spark.sql.types.StringType).as("o_lang"),
        lit(null).cast(graft.core.Vals.Dec38).as("o_dec"))
    def none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      storage.Eav.schema)
    val rootA = java.nio.file.Files.createTempDirectory("xfer-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("xfer-b").toString
    val stA = LayerStore.open(spark, rootA)
    stA.commit("main", t((1, "A1"), (2, "A2")), none, "base")
    stA.commit("main", t((3, "A3")), none, "delta")
    val srvA = server.HttpApi.start(spark, sfDir, storeRoot = Some(rootA))
    val srvB = server.HttpApi.start(spark, sfDir, storeRoot = Some(rootB))
    try {
      val stB = srvB.store
      val remoteA = RemoteTransfer.HttpRemote(srvA.url(""))
      // clone: B gets A's two layers and head
      RemoteTransfer.cloneFrom(stB, remoteA, "main")
      assert(stB.refs("main") == stA.refs("main"))
      assert(stB.commitIds == stA.commitIds)
      // push: B commits, negotiated push ships exactly ONE layer
      stB.commit("main", t((4, "B4")), none, "b-only")
      val layersA0 = Option(new java.io.File(rootA, "layers").list())
        .map(_.length).getOrElse(0)
      RemoteTransfer.push(stB, remoteA, "main")
      assert(stA.refs("main") == stB.refs("main"))
      assert(new java.io.File(rootA, "layers").list().length == layersA0 + 1)
      // pull: A advances, B fast-forwards over HTTP
      stA.commit("main", t((5, "A5")), none, "a-extra")
      RemoteTransfer.pull(stB, remoteA, "main")
      assert(stB.refs("main") == stA.refs("main"))
      val names = stB.materializeBranch("main")
        .select("o_str").collect().map(_.getString(0)).toSet
      assert(names == Set("A1", "A2", "A3", "B4", "A5"))
      // non-fast-forward push is refused by the RECEIVING server too:
      // reset B's main back, commit a divergent layer, push → reject
      val aHead = stA.refs("main")
      val preChain = stB.chain(stB.refs("main"))
      stB.reset("main", preChain(preChain.length - 2))
      stB.commit("main", t((6, "B6")), none, "diverge")
      val ex = intercept[Exception](RemoteTransfer.push(stB, remoteA, "main"))
      assert(ex.getMessage.contains("non-fast-forward"))
      assert(stA.refs("main") == aHead) // remote ref unmoved
      // and the server-side advance check rejects a crafted direct pack
      val bytes = RemoteTransfer.packBytes(stB, "main",
        stA.commitIds.intersect(stB.commitIds))
      val ex2 = intercept[Exception](remoteA.sendPack(bytes, Some("main")))
      assert(ex2.getMessage.contains("rejected pack"))
      assert(stA.refs("main") == aHead)
    } finally { srvA.stop(); srvB.stop() }
  }

  test("streamed pack transfer: multi-layer multi-MB store, no lingering temp files") {
    // The pack path is file→socket→file end to end (zipDirTo /
    // unzipStreamTo + file-backed HTTP bodies): heap use is one copy
    // buffer regardless of pack size. A true sub-pack -Xmx harness
    // needs a forked Spark JVM (too heavy for this suite), so this
    // case verifies the streaming contract's observable halves: a
    // multi-layer, multi-MB pack round-trips bit-correct, and every
    // temp artifact (pack zips on both ends, fetch spools) is deleted.
    import storage.{LayerStore, RemoteTransfer}
    import org.apache.spark.sql.functions.{concat, lit, md5}
    import org.apache.spark.sql.types.{StringType => ST}
    def none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      storage.Eav.schema)
    // ~2.5 MB of incompressible payload per layer (md5 chains), 4 layers
    def big(layer: Int) = spark.range(20000).select(
      lit("instance").as("g"),
      concat(lit(s"x:b$layer/"), col("id").cast(ST)).as("s"),
      lit("x:blob").as("p"), lit("l").as("o_kind"),
      lit(null).cast(ST).as("o_iri"), lit("xsd:string").as("o_typ"),
      concat(md5(concat(lit(s"a$layer"), col("id").cast(ST))),
        md5(concat(lit(s"b$layer"), col("id").cast(ST))),
        md5(concat(lit(s"c$layer"), col("id").cast(ST))),
        md5(concat(lit(s"d$layer"), col("id").cast(ST)))).as("o_str"),
      lit(null).cast(org.apache.spark.sql.types.DoubleType).as("o_dbl"),
      lit(null).cast(org.apache.spark.sql.types.LongType).as("o_lng"),
      lit(null).cast(org.apache.spark.sql.types.TimestampType).as("o_ts"),
      lit(null).cast(org.apache.spark.sql.types.BooleanType).as("o_bool"),
      lit(null).cast(ST).as("o_lang"),
      lit(null).cast(graft.core.Vals.Dec38).as("o_dec"))
    def tempPacks(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.list()).getOrElse(Array.empty[String])
        .filter(n => n.startsWith("graft-pack") || n.startsWith("graft-fetch") ||
          n.startsWith("graft-send") || n.startsWith("graft-recv") ||
          n.startsWith("graft-unpack") || n.startsWith("graft-packz") ||
          n.startsWith("graft-unpackz")).toSet
    }
    val rootC = java.nio.file.Files.createTempDirectory("xfer-c").toString
    val rootD = java.nio.file.Files.createTempDirectory("xfer-d").toString
    val stC = LayerStore.open(spark, rootC)
    (1 to 4).foreach(i => stC.commit("main", big(i), none, s"layer $i"))
    val srvC = server.HttpApi.start(spark, sfDir, storeRoot = Some(rootC))
    val srvD = server.HttpApi.start(spark, sfDir, storeRoot = Some(rootD))
    try {
      val before = tempPacks()
      RemoteTransfer.cloneFrom(srvD.store, RemoteTransfer.HttpRemote(srvC.url("")), "main")
      assert(srvD.store.refs("main") == stC.refs("main"))
      assert(srvD.store.commitIds == stC.commitIds)
      assert(srvD.store.materializeBranch("main").count() == 80000L)
      // push back a fifth layer through the streamed sender too
      srvD.store.commit("main", big(5), none, "layer 5")
      RemoteTransfer.push(srvD.store, RemoteTransfer.HttpRemote(srvC.url("")), "main")
      assert(stC.refs("main") == srvD.store.refs("main"))
      assert(stC.materializeBranch("main").count() == 100000L)
      assert(tempPacks() == before, "pack temp files must be deleted")
    } finally { srvC.stop(); srvD.stop() }
  }
}
