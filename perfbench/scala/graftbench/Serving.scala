package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The database user's path: `HttpApi` in-process, one closed-loop
  * client on one connection (the server handles requests on its accept
  * thread, so more clients would only queue). The sequence of request
  * types is fixed; the seed picks what each request asks. */
object Serving {

  /** One request of the stream, with what a correct answer looks like. */
  final case class Req(kind: String, method: String, path: String, body: String,
                       expectRows: Option[Int] = None, docId: Option[String] = None,
                       expectSize: Option[Int] = None) {
    def cls: String = kind match {
      case "branch_read" | "commit_read" => "versioned"
      case "doc_post" | "doc_put" => "write"
      case _ => "read"
    }
  }

  /** One block of the stream, in order: 17 requests, one in four a
    * write; the PUT is followed by a GET of the same id
    * (read-your-writes). The order is fixed, so a read folds the same
    * chain length on every seed; the seed picks what each request asks. */
  val block: Seq[String] = Seq("point", "doc_post", "point", "scan", "point",
    "graphql", "doc_post", "point", "branch_read", "point", "doc_put",
    "commit_read", "point", "doc_get", "doc_post", "graphql")

  /** The warm-up: one request of each type but the PUT, whose
    * construction and commit paths the POST already warms. */
  val warmKinds: Seq[String] = block.distinct.filterNot(_ == "doc_put")

  /** Blocks per timed stream: whole blocks of about `blockSeconds` each
    * on a 4-core machine, so the work done does not depend on speed. */
  val blockSeconds = 20.0
  def blocks(seconds: Double): Int = math.max(1, math.round(seconds / blockSeconds).toInt)

  private val customers = 100
  private val seedCommits = 2
  private val docsPerSeedCommit = 4

  def triple(s: String, p: String, o: String): String =
    s"""{"@type":"Triple","subject":$s,"predicate":$p,"object":$o}"""
  def v(name: String) = s"""{"variable":"$name"}"""
  def node(iri: String) = s"""{"node":"$iri"}"""

  /** Orders per market segment: a join of two predicate scans and a
    * grouped count. */
  val scanQuery: String =
    s"""{"@type":"Select","variables":["Seg","N"],"query":{"@type":"And","and":[""" +
      s"""{"@type":"GroupBy","template":["O"],"group_by":["Seg"],"grouped":"L",""" +
      s""""query":{"@type":"And","and":[${triple(v("O"), node("tpch:o_custkey"), v("C"))},""" +
      s"""${triple(v("C"), node("tpch:c_mktsegment"), v("Seg"))}]}},""" +
      s"""{"@type":"Length","list":"L","result":"N"}]}}"""
  val widgetsQuery: String = triple(v("S"), node("rdf:type"), node("doc:Widget"))
  val graphqlQuery: String =
    """{"query":"{ Nation(orderBy: {n_name: ASC}, limit: 10) { n_name n_regionkey } }"}"""

  /** The seeded request stream. Document ids, commit targets and
    * expected answers are resolved by replaying the stream's own writes,
    * starting from the seeded commits; returns the stream and the doc
    * count and sizes it leaves. */
  def stream(seed: Long, kinds: Seq[String], seeded: Seq[(String, Int)],
             docs0: Int, sizes0: Map[String, Int]): (Seq[Req], Int, Map[String, Int]) = {
    val rnd = new scala.util.Random(seed)
    var nDocs = docs0
    val sizes = scala.collection.mutable.Map[String, Int]() ++ sizes0
    def id(i: Int) = s"doc:Widget/w$i"
    // skewed toward recently written ids: geometric back-off from the newest
    def recent(): Int = math.max(0, nDocs - 1 - (-math.log(1 - rnd.nextDouble()) * 4).toInt)
    val reqs = kinds.flatMap {
      case "point" =>
        val c = rnd.nextInt(customers)
        Seq(Req("point", "POST", "/api/woql", triple(node(s"tpch:customer/$c"), v("P"), v("O"))))
      case "scan" => Seq(Req("scan", "POST", "/api/woql", scanQuery))
      case "graphql" => Seq(Req("graphql", "POST", "/api/graphql", graphqlQuery))
      case "branch_read" =>
        Seq(Req("branch_read", "POST", "/api/woql?branch=main", widgetsQuery, Some(nDocs)))
      case "commit_read" =>
        val (c, n) = seeded(rnd.nextInt(seeded.size))
        Seq(Req("commit_read", "POST", s"/api/woql?commit=$c", widgetsQuery, Some(n)))
      case "doc_get" =>
        val d = id(recent())
        Seq(Req("doc_get", "GET", s"/api/document?id=$d", "", docId = Some(d),
          expectSize = Some(sizes(d))))
      case "doc_post" =>
        val d = id(nDocs); nDocs += 1
        val size = rnd.nextInt(1000); sizes(d) = size
        Seq(Req("doc_post", "POST", "/api/document?type=Widget&key=name",
          widgetJson(s"w${nDocs - 1}", size), docId = Some(d)))
      case "doc_put" =>
        val d = id(recent())
        val size = rnd.nextInt(1000); sizes(d) = size
        Seq(Req("doc_put", "PUT", s"/api/document?id=$d&type=Widget",
          widgetJson(d.stripPrefix("doc:Widget/"), size), docId = Some(d)),
          Req("doc_get", "GET", s"/api/document?id=$d", "", docId = Some(d),
            expectSize = Some(size)))
    }
    (reqs, nDocs, sizes.toMap)
  }

  def widgetJson(name: String, size: Int): String =
    s"""{"name":"$name","size":$size,"color":"${Seq("red", "green", "blue")(size % 3)}"}"""

  /** A running server with its seeded commits. */
  final class Server(spark: SparkSession, sfDir: String, storeRoot: String) {
    val api: graft.server.HttpApi.Running = graft.server.HttpApi.start(spark, sfDir,
      token = None, capabilities = None, capsFile = None, storeRoot = Some(storeRoot))
    val client: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    /** Request body bytes this server was sent: input, for space_amp. */
    var bodyBytes = 0L

    def send(r: Req): HttpResponse[String] = {
      bodyBytes += r.body.getBytes("UTF-8").length
      val b = HttpRequest.newBuilder(URI.create(api.url(r.path)))
      val req = r.method match {
        case "GET" => b.GET()
        case m => b.method(m, HttpRequest.BodyPublishers.ofString(r.body))
      }
      client.send(req.build(), HttpResponse.BodyHandlers.ofString())
    }

    /** Seed commits on main, then derive a stream of `kinds` from
      * them. */
    def seedStream(seed: Long, kinds: Seq[String]): Seq[Req] = {
      var n = 0
      val sizes = scala.collection.mutable.Map[String, Int]()
      val commits = (1 to seedCommits).map { _ =>
        val body = (0 until docsPerSeedCommit).map { _ =>
          sizes(s"doc:Widget/w$n") = n; n += 1; widgetJson(s"w${n - 1}", n - 1)
        }.mkString("\n")
        val r = send(Req("seed", "POST", "/api/document?type=Widget&key=name", body))
        require(r.statusCode == 200, s"seed commit failed: ${r.body}")
        val JString(c) = (JsonMethods.parse(r.body) \ "commit"): @unchecked
        c -> n
      }
      stream(seed, kinds, commits, n, sizes.toMap)._1
    }

    def stop(): Unit = api.stop()
  }

  /** Rows of a WOQL bindings answer. */
  def rows(body: String): Int = (JsonMethods.parse(body) \ "bindings") match {
    case JArray(xs) => xs.size
    case _ => -1
  }

  /** Order-independent print of an answer body's rows, for the golden
    * check of the templates whose answer does not depend on the seed. */
  def print(r: Req, body: String): Fingerprint.Print = {
    val items = r.kind match {
      case "graphql" => JsonMethods.parse(body) \ "data" \ "Nation"
      case _ => JsonMethods.parse(body) \ "bindings"
    }
    val xs = items match { case JArray(a) => a; case _ => Nil }
    val h = xs.map(x => scala.util.hashing.MurmurHash3.stringHash(
      JsonMethods.compact(JsonMethods.render(x))).toLong).sum
    Fingerprint.Print(xs.size.toLong, h, r.kind)
  }

  /** None when the answer is right, else why not. */
  def check(r: Req, resp: HttpResponse[String], golden: Golden): Option[String] = {
    val body = resp.body
    if (resp.statusCode != 200) Some(s"${r.kind} ${r.path}: status ${resp.statusCode}: ${body.take(200)}")
    else scala.util.Try {
      r.kind match {
        case "scan" | "graphql" => golden.check(s"serving_${r.kind}", print(r, body))
        case "point" => golden.entries.get("serving_point") match {
          case None => Some("serving_point: no golden fingerprint")
          case Some(g) =>
            val n = rows(body)
            if (n != g.rows) Some(s"point ${r.body.take(80)}: $n rows, golden ${g.rows}") else None
        }
        case "branch_read" | "commit_read" =>
          val n = rows(body)
          if (r.expectRows.contains(n)) None
          else Some(s"${r.kind} ${r.path}: $n Widgets, expected ${r.expectRows.get}")
        case "doc_get" =>
          (JsonMethods.parse(body) \ "size") match {
            case JInt(s) if r.expectSize.contains(s.toInt) => None
            case other => Some(s"doc_get ${r.docId.get}: size $other, expected ${r.expectSize.get}")
          }
        case "doc_post" =>
          (JsonMethods.parse(body) \ "ids") match {
            case JArray(List(JString(id))) if r.docId.contains(id) => None
            case other => Some(s"doc_post: ids $other, expected ${r.docId.get}")
          }
        case _ => None
      }
    }.fold(e => Some(s"${r.kind}: unreadable answer: ${e.getMessage}"), identity)
  }

  def run(spark: SparkSession, run: Main.Run, jvm: JvmCounters): Map[String, Any] = {
    val (sfDir, ctx1) = run.coldCtx(spark, 1)
    run.extra("eav_bytes") = Main.dirBytes(new java.io.File(run.eavRoot))
    val stores = new java.io.File(run.dir, "stores")
    def start(name: String): Server = new Server(spark, sfDir, new java.io.File(stores, name).getPath)
    val t0 = Clock.nowNs
    var srv = start("warm")
    val serverS = (Clock.nowNs - t0) / 1e9
    val responses = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val prints = scala.collection.mutable.LinkedHashMap[String, Any]()

    def exec(reqs: Seq[Req], pass: String): Unit = reqs.foreach { r =>
      run.attempted += 1
      try {
        val resp = run.span("request", r.kind, r.cls, pass) { srv.send(r) }
        responses += Map("pass" -> pass, "kind" -> r.kind,
          "bytes" -> resp.body.getBytes("UTF-8").length)
        check(r, resp, run.golden).foreach(run.fail)
        if (pass == "warm" && Set("scan", "graphql", "point")(r.kind)) {
          val p = print(r, resp.body)
          prints(s"serving_${r.kind}") = Map("rows" -> p.rows, "hash" -> p.hash.toString,
            "schema" -> p.schema)
        }
      } catch {
        case e: Throwable =>
          run.fail(s"${r.kind} ${r.path} failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        val _ = graft.util.Scratch.drain()
        run.leakedRdds += Leaks.settle(spark, r.kind)
        for (_ <- 1 to HostSpeed.samplesPerOp) run.speed += pass -> HostSpeed.sample()
      }
    }

    // set-up: one request of every type against a store of its own,
    // then the seeded commits of the store the timed stream runs on
    val kinds = Seq.fill(blocks(run.seconds))(block).flatten
    val warm0 = Clock.nowNs
    exec(srv.seedStream(run.seed + 7919, warmKinds), "warm")
    srv.stop()
    srv = start("timed")
    val timed = srv.seedStream(run.seed, kinds)
    val warmS = (Clock.nowNs - warm0) / 1e9

    jvm.begin()
    exec(timed, "timed")
    jvm.end()
    val store = srv.api.store
    val chainLen = store.chain(store.refs("main")).size
    val storeBytes = Main.dirBytes(new java.io.File(stores, "timed"))
    val written = Main.dirBytes(new java.io.File(run.eavRoot)) + storeBytes
    val bodyBytes = srv.bodyBytes
    srv.stop()

    // traced replays: the same seeded commits and stream on a fresh
    // store each, so both traced passes do identical work
    val trace = if (!run.traced) Map.empty[String, Any] else {
      val t = new Trace(spark, run.eavRoot)
      for (p <- Seq("trace1", "trace2")) {
        srv = start(p)
        val s = srv.seedStream(run.seed, kinds)
        t.start()
        exec(s, p)
        t.stop()
        srv.stop()
      }
      Map("trace" -> t.toJson)
    }

    val ctxS = Seq(ctx1, run.coldCtx(spark, 2)._2, run.coldCtx(spark, 3)._2)
    Map("ctx_s" -> ctxS, "server_s" -> serverS, "warm_s" -> warmS,
      "chain_len" -> chainLen, "store_bytes" -> storeBytes, "written_bytes" -> written,
      "request_body_bytes" -> bodyBytes, "fingerprints" -> prints,
      "responses" -> responses.toList) ++ trace
  }
}
