package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.core._

/** RPQ engine on a cyclic graph: termination + correctness of
  * star/plus/times/seq/alt/inverse (SURVEY §2.7). */
class PathsSpec extends AnyFunSuite {
  import TestSpark._

  // 3-cycle plus a tail: a→b→c→a, c→d
  private val g = triples(
    (":a", "e", ":b"), (":b", "e", ":c"), (":c", "e", ":a"), (":c", "e", ":d"))
  private implicit val ctx: Ctx = ctxOf(g)

  private def pairs(q: Woql): Set[(String, String)] =
    Compiler.run(q).collect().map { r =>
      def iri(v: String) =
        if (!r.schema.fieldNames.contains(v)) null
        else Option(r.getAs[Row](v)).map(_.getAs[String]("iri")).orNull
      (iri("X"), iri("Y"))
    }.toSet

  test("plus terminates on cycles and reaches the whole component") {
    val res = pairs(PathQ(V("X"), PPlus(PPred("e")), V("Y")))
    assert(res.contains((":a", ":a"))) // full cycle
    assert(res.contains((":a", ":d"))) // via 3 hops
    assert(res == Set(
      (":a", ":a"), (":a", ":b"), (":a", ":c"), (":a", ":d"),
      (":b", ":a"), (":b", ":b"), (":b", ":c"), (":b", ":d"),
      (":c", ":a"), (":c", ":b"), (":c", ":c"), (":c", ":d")))
  }

  test("unbounded closure refuses beyond the edge budget") {
    import org.apache.spark.sql.functions.col
    val e = g.select(col("s").as("src"), col("o_iri").as("dst"))
    System.setProperty("graft.closure.maxEdges", "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        core.Paths.transitiveClosure(e).count()
      }
      assert(ex.getMessage.contains("GRAFT_CLOSURE_MAX_EDGES"))
      assert(ex.getMessage.contains("bind one path endpoint"))
    } finally System.clearProperty("graft.closure.maxEdges")
  }

  test("Pregel closure equals the semi-naive DataFrame closure") {
    import org.apache.spark.sql.functions.col
    val e = g.select(col("s").as("src"), col("o_iri").as("dst"))
    val semiNaive = core.Paths.transitiveClosure(e).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val pregel = operators.PregelClosure.closurePairs(spark, e).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pregel == semiNaive)
    assert(pregel.contains((":a", ":a"))) // cycle self-reach survives
  }

  test("star adds zero-length identities") {
    val res = pairs(PathQ(V("X"), PStar(PPred("e")), V("Y")))
    assert(res.contains((":d", ":d"))) // identity on sink node
    assert(res.contains((":a", ":a")))
  }

  test("times bounds repetition") {
    val res = pairs(PathQ(V("X"), PTimes(PPred("e"), 2, 2), V("Y")))
    assert(res == Set(
      (":a", ":c"), (":b", ":a"), (":b", ":d"), (":c", ":b")))
  }

  test("inverse flips edges") {
    val res = pairs(PathQ(V("X"), PInv("e"), V("Y")))
    assert(res.contains((":b", ":a")) && !res.contains((":a", ":b")))
  }

  test("seq composes; alt unions") {
    val seq2 = pairs(PathQ(V("X"), PSeq(PPred("e"), PPred("e")), V("Y")))
    assert(seq2.contains((":b", ":d")))
    val alt = pairs(PathQ(V("X"), PAlt(PPred("e"), PInv("e")), V("Y")))
    assert(alt.contains((":a", ":b")) && alt.contains((":b", ":a")))
  }

  test("bound endpoint restricts solutions") {
    val res = pairs(PathQ(V("X"), PPlus(PPred("e")), Node(":d")))
    assert(res.map(_._1) == Set(":a", ":b", ":c"))
  }

  private def witnesses(q: Woql)(implicit c: Ctx): Seq[(String, String)] =
    Compiler.run(q)(c).collect().toSeq.map { r =>
      (Option(r.getAs[Row]("Y")).map(_.getAs[String]("iri")).orNull,
        r.getAs[Row]("W").getAs[String]("str"))
    }

  test("shortest distance: first discovery is the minimum, cycles terminate") {
    // shortcut diamond: a→b→c→d plus a→c direct — a⇝c min 1, a⇝d min 2
    val d = triples((":a", "e", ":b"), (":b", "e", ":c"),
      (":c", "e", ":d"), (":a", "e", ":c"))
    val res = Compiler.run(
      PathDistQ(V("X"), PPred("e"), V("Y"), "D"))(ctxOf(d))
      .collect().map { r =>
        (r.getAs[Row]("X").getAs[String]("iri"),
          r.getAs[Row]("Y").getAs[String]("iri"),
          r.getAs[Row]("D").getAs[Long]("lng"))
      }.toSet
    assert(res == Set(
      (":a", ":b", 1L), (":a", ":c", 1L), (":a", ":d", 2L),
      (":b", ":c", 1L), (":b", ":d", 2L), (":c", ":d", 1L)))
    // on the cyclic base graph: distance around the full cycle
    val cyc = Compiler.run(
      PathDistQ(Node(":a"), PPred("e"), V("Y"), "D"))(ctx)
      .collect().map { r =>
        (r.getAs[Row]("Y").getAs[String]("iri"),
          r.getAs[Row]("D").getAs[Long]("lng"))
      }.toSet
    assert(cyc == Set((":b", 1L), (":c", 2L), (":a", 3L), (":d", 3L)))
  }

  test("witness plus binds a source that a longer cycle re-reaches") {
    // a→b→c→a: plus from :a reaches :a again after 3 steps, as the walk
    // without a witness does (`plus terminates on cycles`)
    val res = witnesses(PathQ(Node(":a"), PPlus(PPred("e")), V("Y"),
      witness = Some("W")))
    assert(res.toSet == Set((":b", ":a/:b"), (":c", ":a/:b/:c"),
      (":a", ":a/:b/:c/:a"), (":d", ":a/:b/:c/:d")))
  }

  test("all-sources shortest refuses beyond the edge budget") {
    System.setProperty("graft.closure.maxEdges", "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        Compiler.run(PathDistQ(V("X"), PPred("e"), V("Y"), "D"))(ctx)
          .collect()
      }
      assert(ex.getMessage.contains("shortest-path"))
    } finally System.clearProperty("graft.closure.maxEdges")
  }

  test("exhaustive enumeration: one row per distinct path") {
    // diamond: a→b→d and a→c→d — two distinct 2-hop paths a⇝d
    val d = triples((":a", "e", ":b"), (":a", "e", ":c"),
      (":b", "e", ":d"), (":c", "e", ":d"))
    val res = witnesses(PathAllQ(Node(":a"),
      PSeq(PPred("e"), PPred("e")), V("Y"), "W"))(ctxOf(d))
    assert(res.toSet == Set((":d", ":a/:b/:d"), (":d", ":a/:c/:d")))
    assert(res.size == 2)
  }

  test("exhaustive plus on a cycle: anchors truncate re-entry") {
    // a→b→c→a, c→d: plus from :a enumerates each simple chain once and
    // refuses to re-anchor :a (documented truncation — the reference's
    // loop check)
    val res = witnesses(PathAllQ(Node(":a"), PPlus(PPred("e")), V("Y"), "W"))
    assert(res.toSet == Set(
      (":b", ":a/:b"), (":c", ":a/:b/:c"), (":d", ":a/:b/:c/:d")))
    assert(res.size == 3)
  }

  test("canonical witness edge list belongs to the CANONICAL path") {
    // two 2-hop routes a⇝d; canonical = lexicographically-least node
    // path (via :b) — its edge list must be :b's edges, never a mix
    val d = triples((":a", "e", ":b"), (":a", "e", ":c"),
      (":b", "e", ":d"), (":c", "e", ":d"))
    val res = Compiler.run(PathQ(Node(":a"), PPlus(PPred("e")), V("Y"),
        witness = Some("W"), edgesVar = Some("E")))(ctxOf(d))
      .collect().map(r => (r.getAs[Row]("Y").getAs[String]("iri"),
        (r.getAs[Row]("W").getAs[String]("str"),
          r.getAs[Row]("E").getAs[String]("str")))).toMap
    assert(res(":d") == ((":a/:b/:d", ":a|e|:b;:b|e|:d")))
    assert(res(":b") == ((":a/:b", ":a|e|:b")))
  }

  test("edge-object witness binds the traversed triples, stored direction") {
    // a→b→d and a→c→d, plus an INVERSE step pattern: edge structs must
    // record the stored (s,p,o) even when the walk went backwards
    val d = triples((":a", "e", ":b"), (":b", "e", ":d"), (":c", "e", ":d"))
    // forward two hops: edges = traversed triples in order
    val fwd = Compiler.run(PathAllQ(Node(":a"),
        PSeq(PPred("e"), PPred("e")), V("Y"), "W",
        edgesVar = Some("E")))(ctxOf(d))
      .collect().map(r => (r.getAs[Row]("Y").getAs[String]("iri"),
        r.getAs[Row]("E").getAs[String]("str"))).toSet
    assert(fwd == Set((":d", ":a|e|:b;:b|e|:d")))
    // forward then INVERSE: walking d→c traverses the edge STORED as
    // (c, e, d) — that stored orientation must be what's bound
    val inv = Compiler.run(PathAllQ(Node(":b"),
        PSeq(PPred("e"), PInv("e")), V("Y"), "W",
        edgesVar = Some("E")))(ctxOf(d))
      .collect().map(r => (r.getAs[Row]("Y").getAs[String]("iri"),
        r.getAs[Row]("E").getAs[String]("str"))).toSet
    assert(inv == Set((":b", ":b|e|:d;:b|e|:d"), (":c", ":b|e|:d;:c|e|:d")))
  }

  test("exhaustive enumeration refuses beyond the path budget") {
    // chain of 3 diamonds: a0→{b0,c0}→a1→{b1,c1}→a2→{b2,c2}→a3 — 2^3
    // distinct paths a0⇝a3; a budget of 4 must trip before completion
    val rows = (0 until 3).flatMap { i =>
      Seq((s":a$i", "e", s":b$i"), (s":a$i", "e", s":c$i"),
        (s":b$i", "e", s":a${i + 1}"), (s":c$i", "e", s":a${i + 1}"))
    }
    val d = triples(rows: _*)
    System.setProperty("graft.path.all.maxPaths", "4")
    try {
      val ex = intercept[IllegalStateException] {
        witnesses(PathAllQ(Node(":a0"), PPlus(PPred("e")), V("Y"), "W"))(ctxOf(d))
      }
      assert(ex.getMessage.contains("GRAFT_PATH_ALL_MAX_PATHS"))
      assert(ex.getMessage.contains("canonical-witness"))
    } finally System.clearProperty("graft.path.all.maxPaths")
  }

  test("exhaustive times over alternation enumerates every branch") {
    val d = triples((":a", "e", ":b"), (":a", "f", ":b"), (":b", "e", ":c"))
    val res = witnesses(PathAllQ(Node(":a"),
      PTimes(PAlt(PPred("e"), PPred("f")), 1, 2), V("Y"), "W"))(ctxOf(d))
    // 2 one-hop paths to :b (one per predicate) + each extends to :c:
    // 4 rows; node-sequence witnesses coincide pairwise
    assert(res.size == 4)
    assert(res.toSet == Set((":b", ":a/:b"), (":c", ":a/:b/:c")))
  }
}
