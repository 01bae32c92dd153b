package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.jackson.JsonMethods
import graft.core._
import graft.util.LocalFinish

/** The semi-naive frontier walk ([[graft.util.Fixpoint.walk]]) behind the
  * bound-endpoint plus/star walks (with and without a witness), the
  * bound-variable pair walk, `path_dist` and the landmark BFS: it has no
  * depth cap, it gives a driver-side BFS's rows, and its joins take the
  * shuffle branch when the broadcast decision answers "does not fit". */
class FixpointSpec extends AnyFunSuite {
  import TestSpark._

  private def iri(r: Row, v: String): String = r.getAs[Row](v).getAs[String]("iri")
  private def lng(r: Row, v: String): Long = r.getAs[Row](v).getAs[Long]("lng")
  private def str(r: Row, v: String): String = r.getAs[Row](v).getAs[String]("str")

  private def run(q: Woql)(implicit c: Ctx): Array[Row] = Compiler.run(q).collect()

  /** `X` bound to every node with a `seed` triple. */
  private def seeded(q: Woql): Woql =
    And(Seq(TriplePat(V("X"), Node("seed"), Node(":s")), q))

  test("bound-endpoint walks run to their fixpoint on a 70-node chain") {
    val len = 70
    implicit val c: Ctx = ctxOf(triples(
      (0 until len - 1).map(i => (s":v$i", "e", s":v${i + 1}")) :+
        ((":v0", "seed", ":s")): _*))
    val reached = (1 until len).map(i => s":v$i").toSet
    val plus = PPlus(PPred("e"))
    assert(run(PathQ(Node(":v0"), plus, V("Y"))).map(iri(_, "Y")).toSet == reached)
    assert(run(seeded(PathQ(V("X"), plus, V("Y"))))
      .map(r => (iri(r, "X"), iri(r, "Y"))).toSet == reached.map((":v0", _)))
    assert(run(PathDistQ(Node(":v0"), PPred("e"), V("Y"), "D"))
      .map(r => (iri(r, "Y"), lng(r, "D"))).toSet ==
      (1 until len).map(i => (s":v$i", i.toLong)).toSet)
    val w = run(PathQ(Node(":v0"), plus, V("Y"), witness = Some("W")))
      .map(r => iri(r, "Y") -> str(r, "W")).toMap
    assert(w.keySet == reached)
    assert(w(s":v${len - 1}") == (0 until len).map(i => s":v$i").mkString("/"))
  }

  test("times(n, m) bounds are checked once, with one message, for every input") {
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.startsWith("requirement failed: times(3,2) out of range"),
        e.getMessage)
    }
    refused(PTimes(PPred("e"), 3, 2))
    refused(PathSyntax.parse("e{3,2}"))
    refused(JsonWoql.toPath(JsonMethods.parse(
      """{"@type":"PathTimes","from":3,"to":2,
        |"times":{"@type":"PathPredicate","predicate":"e"}}""".stripMargin)))
    refused(JsonWoqlV3.toPath(JsonMethods.parse(
      """{"@type":"woql:PathTimes",
        |"woql:path_pattern":{"@type":"woql:PathPredicate","woql:path_predicate":"e"},
        |"woql:from":{"@type":"xsd:nonNegativeInteger","@value":3},
        |"woql:to":{"@type":"xsd:nonNegativeInteger","@value":2}}""".stripMargin)))
    intercept[IllegalArgumentException](PTimes(PPred("e"), -1, 2))
    intercept[IllegalArgumentException](PTimes(PPred("e"), 0, 0))
    // every endpoint shape reaches the pattern through the one constructor
    implicit val c: Ctx = ctxOf(triples((":a", "e", ":b"), (":a", "seed", ":s")))
    val shapes: Seq[PathPat => Woql] = Seq(
      PathQ(Node(":a"), _, V("Y")), PathQ(V("X"), _, Node(":b")),
      p => seeded(PathQ(V("X"), p, V("Y"))), PathQ(V("X"), _, V("Y")),
      PathQ(Node(":a"), _, Node(":b")),
      PathQ(Node(":a"), _, V("Y"), witness = Some("W")),
      PathAllQ(Node(":a"), _, V("Y"), "W"), PathDistQ(Node(":a"), _, V("Y"), "D"))
    for (shape <- shapes) {
      refused(run(shape(PTimes(PPred("e"), 3, 2))))
      assert(run(shape(PTimes(PPred("e"), 0, 1))).nonEmpty)
    }
  }

  // ---- property: the walk against a driver-side BFS ---------------------

  /** Fewest steps (≥ 1) from `from` to each node it reaches. */
  private def bfs(adj: Map[String, Seq[String]], from: String,
                  maxHops: Int = Int.MaxValue): Map[String, Long] = {
    var dist = Map.empty[String, Long]
    var frontier = Set(from)
    var d = 0L
    while (frontier.nonEmpty && d < maxHops) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      frontier.foreach(n => dist += n -> d)
    }
    dist
  }

  /** A random directed graph over :n0..:n5 with a self-loop, a 3-cycle
    * and random edges; :n6 and :n7 have no edges. */
  private def randomGraph(seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    def node() = s":n${rnd.nextInt(6)}"
    val (a, b, c, l) = (node(), node(), node(), node())
    (Seq((l, l), (a, b), (b, c), (c, a)) ++ Seq.fill(5)((node(), node()))).distinct
  }

  /** `body` run as is and under the forced-distributed decision, each
    * with Spark's own size-based broadcast off, so only the walk's
    * decision can plan a broadcast join: it must in the first run and
    * must not in the second. */
  private def bothBranches[T](body: => T): (T, T) = {
    def planned(run: => T): (T, Boolean) = {
      val bhj = new java.util.concurrent.atomic.AtomicBoolean(false)
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.executedPlan.toString.contains("BroadcastHashJoin")) bhj.set(true)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        val r = run
        org.apache.spark.ListenerBusFlush(spark.sparkContext)
        (r, bhj.get)
      } finally spark.listenerManager.unregister(l)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val (local, localBhj) = planned(body)
      val (dist, distBhj) = planned(LocalFinish.forcingDistributed(body))
      assert(localBhj, "the walk broadcast nothing inside the driver budget")
      assert(!distBhj, "a broadcast join was planned under the forced shuffle")
      (local, dist)
    } finally spark.conf.set(key, saved)
  }

  test("property: seeded random graphs, every walk equals a driver-side BFS on both branches") {
    for (seed <- 1L to 3L) {
      val edges = randomGraph(seed)
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val nodes = (0 until 8).map(i => s":n$i")
      val (src, iso) = (edges.head._2, ":n6")
      implicit val c: Ctx = ctxOf(triples(
        edges.map { case (s, d) => (s, "e", d) } ++
          Seq(src, iso, ":n7").map(n => (n, "seed", ":s")): _*))
      val plus = PPlus(PPred("e"))
      val clue = s"seed $seed, edges $edges"

      for (from <- Seq(src, iso)) {
        val want = bfs(adj, from)
        val (p1, p2) = bothBranches(run(PathQ(Node(from), plus, V("Y"))).map(iri(_, "Y")).toSet)
        assert(p1 == want.keySet && p2 == p1, clue)
        val (s1, s2) = bothBranches(
          run(PathQ(Node(from), PStar(PPred("e")), V("Y"))).map(iri(_, "Y")).toSet)
        assert(s1 == want.keySet + from && s2 == s1, clue)
        // one shortest witness per reached node, re-reached seeds included
        val (w1, w2) = bothBranches(run(PathQ(Node(from), plus, V("Y"), witness = Some("W")))
          .map(r => iri(r, "Y") -> str(r, "W").split("/").toSeq).toMap)
        assert(w1 == w2 && w1.keySet == want.keySet, clue)
        for ((y, path) <- w1) {
          assert(path.head == from && path.last == y && path.length == want(y) + 1, clue)
          assert(path.sliding(2).forall { case Seq(a, b) => adj.getOrElse(a, Nil).contains(b) }, clue)
        }
        val (d1, d2) = bothBranches(run(PathDistQ(Node(from), PPred("e"), V("Y"), "D"))
          .map(r => iri(r, "Y") -> lng(r, "D")).toMap)
        assert(d1 == want && d2 == d1, clue)
      }

      val (pw1, pw2) = bothBranches(run(seeded(PathQ(V("X"), plus, V("Y"))))
        .map(r => (iri(r, "X"), iri(r, "Y"))).toSet)
      assert(pw1 == Seq(src, iso, ":n7").flatMap(x => bfs(adj, x).keySet.map((x, _))).toSet &&
        pw2 == pw1, clue)

      val (all1, all2) = bothBranches(run(PathDistQ(V("X"), PPred("e"), V("Y"), "D"))
        .map(r => (iri(r, "X"), iri(r, "Y"), lng(r, "D"))).toSet)
      assert(all1 == adj.keySet.flatMap(x => bfs(adj, x).map { case (y, d) => (x, y, d) }) &&
        all2 == all1, clue)

      // landmark closeness: BFS over the undirected, loop-free graph from
      // the k least node ids, within maxHops
      import spark.implicits._
      val (k, maxHops) = (2, 2)
      val und = edges.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.groupBy(_._1).map { case (a, v) => a -> v.map(_._2) }
      val dists = und.keys.toSeq.sorted.take(k)
        .map(l => bfs(und, l, maxHops).filter(_._1 != l) + (l -> 0L))
      val wantCloseness = nodes.flatMap { v =>
        val ds = dists.flatMap(_.get(v))
        if (ds.isEmpty) None else Some((v, ds.size.toLong, ds.sum))
      }.toSet
      val edgeDf = edges.toDF("src", "dst")
      val (cl1, cl2) = bothBranches(graft.operators.Centrality
        .landmarkCloseness(edgeDf, k = k, maxHops = maxHops).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      assert(cl1 == wantCloseness && cl2 == cl1, clue)
    }
  }
}
