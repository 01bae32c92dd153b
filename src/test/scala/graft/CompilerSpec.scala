package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.core._
import graft.core.Compiler

/** Binding-environment semantics of the WOQL compiler (SURVEY §7.5's
  * "subtlest compiler logic"): eq as assignment vs filter, or-branch
  * null alignment, negation-as-failure, optional, once, distinct. */
class CompilerSpec extends AnyFunSuite {
  import TestSpark._

  private val g = triples(
    (":a", "knows", ":b"), (":b", "knows", ":c"), (":c", "knows", ":a"),
    (":a", "name", "alice"), (":b", "name", "bob"),
    (":a", "age", 30), (":b", "age", 40))

  private implicit val ctx: Ctx = ctxOf(g)

  private def names(q: Woql, v: String): Set[String] =
    Compiler.run(q).collect().map(r =>
      Option(r.getAs[Row](v)).map(x =>
        Option(x.getAs[String]("iri")).getOrElse(x.getAs[String]("str"))).orNull)
      .toSet

  test("eq acts as filter when bound, assignment when free") {
    val filter = And(Seq(
      TriplePat(V("X"), Node("name"), V("N")), Eq(V("N"), Str("alice"))))
    assert(names(filter, "X") == Set(":a"))
    val assign = And(Seq(
      TriplePat(V("X"), Node("name"), Str("bob")), Eq(V("Y"), Str("hi"))))
    assert(names(assign, "Y") == Set("hi"))
  }

  test("zero-shared-var conjunction: small products allowed, budget refuses big ones") {
    // disjoint variable sets → cross join; the 3×2 product is fine
    val q = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      TriplePat(V("A"), Node("age"), V("B"))))
    assert(Compiler.run(q).count() == 6)
    // same query over a 1-row budget must be refused with the guard
    System.setProperty("graft.cartesian.maxRows", "1")
    try {
      val e = intercept[IllegalArgumentException] { Compiler.run(q).count() }
      assert(e.getMessage.contains("GRAFT_CARTESIAN_MAX_ROWS"))
      // …but the scalar-broadcast idiom (a ≤1-row aggregate crossed
      // with an N-row side) bypasses the budget: its product is just N
      val scalar = And(Seq(
        CountQ(TriplePat(V("X"), Node("knows"), V("Y")), "N"),
        TriplePat(V("A"), Node("age"), V("B"))))
      assert(Compiler.run(scalar).count() == 2)
    } finally System.clearProperty("graft.cartesian.maxRows")
  }

  test("cartesian guard probes are bounded limit scans, not full counts") {
    // the guard decides from limit(budget+1) probes: with budget B and
    // both sides > 1 row, the reported product is capped near B+1 per
    // side rather than the true cardinalities — observable via the
    // error message ("≥" product, not the exact 3×2=6)
    System.setProperty("graft.cartesian.maxRows", "2")
    try {
      val q = And(Seq(
        TriplePat(V("X"), Node("knows"), V("Y")),
        TriplePat(V("A"), Node("age"), V("B"))))
      val e = intercept[IllegalArgumentException] { Compiler.run(q).count() }
      // probe caps at budget+1 = 3 rows/side → product reported from
      // capped counts (3×2=6 here since side2 has 2 rows < cap)
      assert(e.getMessage.contains(">="))
    } finally System.clearProperty("graft.cartesian.maxRows")
  }

  test("subject-shared conjunction joins on the iri field; object-shared keeps the struct key") {
    // subject/predicate bindings are iri-only by construction, so conj
    // takes the narrow-key fast path: the join keys are the extracted
    // iri strings, and the struct-normalization wrapper Spark wraps
    // around float-bearing struct keys must NOT appear in the plan
    val subjShared = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      TriplePat(V("X"), Node("name"), V("N"))))
    val df = Compiler.run(subjShared)
    assert(names(subjShared, "X") == Set(":a", ":b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("knownfloatingpointnormalized"),
      s"subject-shared conj still joins on the full value struct:\n$plan")
    // an OBJECT-shared variable can bind any value kind — the join must
    // stay on the full normalized struct (the fast path must not fire)
    val objShared = And(Seq(
      TriplePat(V("X"), Node("age"), V("A")),
      TriplePat(V("Y"), Node("age"), V("A"))))
    val objDf = Compiler.run(objShared)
    assert(objDf.count() == 2) // (:a,:a,30) and (:b,:b,40)
    val objPlan = objDf.queryExecution.executedPlan.toString
    assert(objPlan.contains("knownfloatingpointnormalized"),
      s"object-shared conj unexpectedly lost the struct join key:\n$objPlan")
  }

  test("path edge-object variable requires the supported endpoint shape") {
    val e = intercept[IllegalArgumentException] {
      Compiler.run(PathQ(V("X"), PPred("knows"), V("Y"),
        witness = None, edgesVar = Some("E")))
    }
    assert(e.getMessage.contains("edge-object"))
  }

  test("using without an attached store fails at plan time with a clear error") {
    val e = intercept[RuntimeException] {
      Compiler.run(Using("branch/dev", TriplePat(V("S"), Node("name"), V("N"))))
    }
    assert(e.getMessage.contains("no store attached"))
  }

  test("or aligns missing vars as nulls across asymmetric branches") {
    val q = Or(Seq(
      TriplePat(V("X"), Node("name"), V("N")),
      TriplePat(V("X"), Node("age"), V("A"))))
    val rows = Compiler.run(q).collect()
    assert(rows.length == 4)
    assert(rows.count(_.getAs[Row]("N") == null) == 2) // age-branch rows
    assert(rows.count(_.getAs[Row]("A") == null) == 2)
  }

  test("not is negation-as-failure on shared vars") {
    val q = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Not(TriplePat(V("X"), Node("name"), V("N")))))
    assert(names(q, "X") == Set(":c")) // only :c has no name
  }

  test("opt keeps unmatched outer rows with null binding") {
    val q = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Opt(TriplePat(V("X"), Node("name"), V("N")))))
    val rows = Compiler.run(q).collect()
    assert(rows.length == 3)
    assert(rows.count(_.getAs[Row]("N") == null) == 1)
  }

  test("once yields exactly one solution, deterministically the least") {
    val q = Once(TriplePat(V("X"), Node("knows"), V("Y")))
    val runs = (1 to 3).map { _ =>
      Compiler.run(q).collect().map { r =>
        (r.getAs[Row]("X").getAs[String]("iri"),
          r.getAs[Row]("Y").getAs[String]("iri"))
      }.toSeq
    }
    assert(runs.head.length == 1)
    assert(runs.distinct.length == 1) // same least solution every run
  }

  test("eq of two unbound vars raises a clear error, not a MatchError") {
    val e = intercept[IllegalArgumentException] {
      Compiler.run(Eq(V("A"), V("B")))
    }
    assert(e.getMessage.contains("at least one side must be bound"))
  }

  test("conjunction order does not change the solution set") {
    val a = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      TriplePat(V("X"), Node("age"), V("A")),
      TriplePat(V("X"), Node("name"), V("N"))))
    val b = And(Seq(
      TriplePat(V("X"), Node("name"), V("N")),
      TriplePat(V("X"), Node("age"), V("A")),
      TriplePat(V("X"), Node("knows"), V("Y"))))
    val ra = Compiler.run(a).select("X", "Y", "A", "N").collect().toSet
    val rb = Compiler.run(b).select("X", "Y", "A", "N").collect().toSet
    assert(ra == rb && ra.nonEmpty)
  }

  test("distinct dedups on the projected vars") {
    val q = Distinct(Seq("P"), TriplePat(V("X"), V("P"), V("O")))
    assert(Compiler.run(q).count() == 3) // knows, name, age
  }

  test("cast round-trips integer through string") {
    val q = And(Seq(
      TriplePat(V("X"), Node("age"), V("A")),
      CastQ(V("A"), "xsd:string", "S"),
      CastQ(V("S"), "xsd:integer", "I")))
    val vals = Compiler.run(q).collect()
      .map(_.getAs[Row]("I").getAs[Long]("lng")).toSet
    assert(vals == Set(30L, 40L))
  }

  test("decimal eval is exact where doubles round") {
    val big = new java.math.BigDecimal("10000000000.000000000000000001")
    val gd = triples((":m", "amt", big))
    // amt + amt − 1: exact decimal keeps the 18th fractional digit that
    // a double (53-bit mantissa) cannot represent
    val q = And(Seq(
      TriplePat(V("X"), Node("amt"), V("A")),
      Eval(ABin("-", ABin("+", ATerm(V("A")), ATerm(V("A"))), ATerm(Lng(1))), "R")))
    val r = Compiler.run(q)(ctxOf(gd)).select("R").head().getStruct(0)
    assert(r.getAs[String]("typ") == "xsd:decimal")
    assert(r.getAs[java.math.BigDecimal]("dec").toPlainString
      == "19999999999.000000000000000002")
    // double-typed inputs keep the double path
    val gdd = triples((":m", "amt", 2.5))
    val r2 = Compiler.run(q)(ctxOf(gdd)).select("R").head().getStruct(0)
    assert(r2.getAs[String]("typ") == "xsd:double" && r2.getAs[Double]("dbl") == 4.0)
  }

  test("typecast to and from xsd:decimal is lossless") {
    val big = new java.math.BigDecimal("123.456000000000000789")
    val gd = triples((":m", "amt", big))
    val q = And(Seq(
      TriplePat(V("X"), Node("amt"), V("A")),
      CastQ(V("A"), "xsd:string", "S"),
      CastQ(V("S"), "xsd:decimal", "D")))
    val row = Compiler.run(q)(ctxOf(gd)).select("S", "D").head()
    assert(row.getStruct(0).getAs[String]("str") == "123.456000000000000789")
    assert(row.getStruct(1).getAs[java.math.BigDecimal]("dec").toPlainString
      == "123.456000000000000789")
  }

  test("when extends matching rows and passes others through") {
    val q = And(Seq(
      TriplePat(V("X"), Node("name"), V("N")),
      WhenQ(Eq(V("N"), Str("alice")), Eq(V("T"), Str("yes")))))
    val rows = Compiler.run(q).collect().map { r =>
      (r.getAs[Row]("N").getAs[String]("str"),
        Option(r.getAs[Row]("T")).map(_.getAs[String]("str")).orNull)
    }.toSet
    assert(rows == Set(("alice", "yes"), ("bob", null)))
  }

  test("when on the unit frame with failing cond binds Then-vars to null") {
    // the unit/empty-cond branch must still introduce the Then-only
    // variables (as null structs) so downstream references resolve
    val q = And(Seq(
      WhenQ(Eq(Str("a"), Str("b")), Eq(V("T"), Str("yes"))),
      Eq(V("X"), Str("ok"))))
    val out = Compiler.run(q).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Row]("T") == null)
    assert(out.head.getAs[Row]("X").getAs[String]("str") == "ok")
  }

  test("multi-group re binds every capture group of the first match") {
    val q = And(Seq(
      Eq(V("S"), Str("ab-12")),
      ReMatch("([a-z]+)-(\\d+)", V("S"), "G"),
      MemberQ("W", "G")))
    val ws = Compiler.run(q).collect()
      .map(_.getAs[Row]("W").getAs[String]("str")).toSet
    assert(ws == Set("ab", "12"))
  }

  test("repeated variable inside one pattern forces equality") {
    val g2 = triples((":x", "knows", ":x"), (":x", "knows", ":y"))
    val q = TriplePat(V("A"), Node("knows"), V("A"))
    val res = Compiler.run(q)(ctxOf(g2)).collect()
    assert(res.length == 1)
  }

  test("group_by + sum over grouped list") {
    val q = And(Seq(
      GroupBy(Seq("A"), Seq("P"),
        TriplePat(V("X"), V("P"), V("A"), "instance"), "L"),
      LengthList("L", "N")))
    val counts = Compiler.run(q).collect()
      .map(r => r.getAs[Row]("P").getAs[String]("iri") ->
        r.getAs[Row]("N").getAs[Long]("lng")).toMap
    assert(counts == Map("knows" -> 3L, "name" -> 2L, "age" -> 2L))
  }

  test("armed skew pre-flight warns on unbound-p patterns over a skewed scan") {
    // :hub owns 12 triples, everyone else 1 → subject skew_ratio =
    // 12/(15/4) = 3.2; threshold 3.0 trips, 10.0 does not
    val skewed = triples(
      (Seq.tabulate(12)(i => (":hub", s"p$i", s"v$i")) ++
        Seq((":x", "p0", "v"), (":y", "p0", "v"), (":z", "p0", "v"))): _*)
    val sctx = ctxOf(skewed)
    val q = And(Seq(
      TriplePat(Node(":hub"), V("P"), V("O"), "instance")))
    try {
      Preflight.lastWarning = None
      // armed + over threshold → warning names the heavy subject
      sys.props("graft.preflight.skew") = "3.0"
      val n = Compiler.run(q)(sctx).count()
      assert(n == 12)
      assert(Preflight.lastWarning.exists(w =>
        w.contains(":hub") && w.contains("unbound-predicate")))
      // armed + under threshold → no warning
      sys.props("graft.preflight.skew") = "10.0"
      val _ = Compiler.run(q)(sctx).count()
      assert(Preflight.lastWarning.isEmpty)
      // bound p → probe never runs (lastWarning untouched by design)
      sys.props("graft.preflight.skew") = "0.1"
      Preflight.lastWarning = None
      val b = Compiler.run(TriplePat(V("S"), Node("p0"), V("O")))(sctx).count()
      assert(b == 4 && Preflight.lastWarning.isEmpty)
    } finally {
      sys.props.remove("graft.preflight.skew")
      Preflight.lastWarning = None
    }
  }

  test("armed join-cardinality pre-flight warns on multiplying and-joins") {
    // 5 knowsA edges and 4 knowsB edges all pointing at :hub — the
    // shared object variable multiplies 5×4 = 20 output rows
    val fanin = triples(
      (Seq.tabulate(5)(i => (s":a$i", "knowsA", s":hub")) ++
        Seq.tabulate(4)(i => (s":b$i", "knowsB", s":hub"))): _*)
    val sctx = ctxOf(fanin)
    val q = And(Seq(
      TriplePat(V("X"), Node("knowsA"), V("O"), "instance"),
      TriplePat(V("Y"), Node("knowsB"), V("O"), "instance")))
    try {
      sys.props("graft.preflight.joincard.floor") = "2"
      Preflight.lastJoinWarning = None
      // armed + over threshold → warning names the key and estimate
      sys.props("graft.preflight.joincard") = "10"
      val n = Compiler.run(q)(sctx).count()
      assert(n == 20)
      assert(Preflight.lastJoinWarning.exists(w =>
        w.contains("and-join on (O)") && w.contains("estimates 20")))
      // armed + under threshold → no warning (probe reuses the memo)
      sys.props("graft.preflight.joincard") = "100"
      val _ = Compiler.run(q)(sctx).count()
      assert(Preflight.lastJoinWarning.isEmpty)
      // disarmed → probe never runs
      sys.props.remove("graft.preflight.joincard")
      Preflight.lastJoinWarning = Some("sentinel")
      val _2 = Compiler.run(q)(sctx).count()
      assert(Preflight.lastJoinWarning.contains("sentinel"))
    } finally {
      sys.props.remove("graft.preflight.joincard")
      sys.props.remove("graft.preflight.joincard.floor")
      Preflight.lastJoinWarning = None
    }
  }

  test("malformed pre-flight thresholds raise a named error") {
    val sctx = ctxOf(triples((":a", "p", ":b")))
    try {
      sys.props("graft.preflight.skew") = "not-a-number"
      val e = intercept[IllegalArgumentException] {
        Compiler.run(TriplePat(Node(":a"), V("P"), V("O"), "instance"))(sctx)
      }
      assert(e.getMessage.contains("graft.preflight.skew") &&
        e.getMessage.contains("not-a-number"))
    } finally sys.props.remove("graft.preflight.skew")
  }

  test("immediately(Q) is equivalent to Q under staged updates") {
    val g2 = triples((":a", "name", "ada"), (":b", "name", "bob"))
    val inner = TriplePat(V("X"), Node("name"), V("N"))
    val plain = Compiler.run(inner)(ctxOf(g2)).collect().toSet
    val imm = Compiler.run(Immediately(inner))(ctxOf(g2)).collect().toSet
    assert(imm == plain && imm.size == 2)
    // v10 JSON wire form parses
    val ast = JsonWoql.parse(
      """{"@type":"Immediately","query":
        | {"@type":"True"}}""".stripMargin)
    assert(ast == Immediately(True))
  }
}
