package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, GetStructField}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.core._
import graft.core.Compiler

/** Round-18 optimization-phase pins. */
class Round18OpsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  // -- iri narrow-key extension (Opt/Not/WhenQ/Once/CountQ) -------------

  private val g = triples(
    (":a", "knows", ":b"), (":b", "knows", ":c"), (":c", "knows", ":a"),
    (":a", "name", "alice"), (":b", "name", "bob"),
    (":a", "age", 30), (":b", "age", 40))

  private implicit val ctx: Ctx = ctxOf(g)

  private def iriOf(r: Row, v: String): String =
    Option(r.getAs[Row](v)).map(_.getAs[String]("iri")).orNull
  private def strOf(r: Row, v: String): String =
    Option(r.getAs[Row](v)).map(_.getAs[String]("str")).orNull
  private def plan(q: Woql): SparkPlan = finalPlan(Compiler.run(q))

  /** The plan `df` ran with: collecting THIS Dataset makes its adaptive
    * plan final (a `count()` runs a new Dataset and leaves it initial). */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(!p.toString.contains("isFinalPlan=false"), s"initial adaptive plan:\n$p")
    p
  }

  /** Keys with the optimizer's helper columns (`_extract_iri`, `_w0`)
    * replaced by the expression a projection below defines them as. */
  private def resolved(p: SparkPlan, keys: Seq[Expression]): Seq[Expression] = {
    val defs = flatMap(p)(_.expressions.flatMap(_.collect {
      case a: Alias => a.exprId -> a.child
    })).toMap
    keys.map(_.transform {
      case a: Attribute if a.name.startsWith("_") &&
          !a.name.startsWith("__r_") && defs.contains(a.exprId) =>
        defs(a.exprId)
    })
  }

  /** Variable `v` (or its right-side rename `__r_v`) as a binding column. */
  private def isVar(e: Expression, v: String): Boolean = e match {
    case a: Attribute => a.name == v || a.name == s"__r_$v"
    case _ => false
  }

  /** Every key that reads `v` reads only its `.iri` field, and some key
    * does — the narrow iri key, not the float-normalized value struct. */
  private def narrowOn(keys: Seq[Expression], v: String): Boolean = {
    val onV = keys.filter(_.exists(isVar(_, v)))
    onV.nonEmpty && onV.forall {
      case GetStructField(c, _, Some("iri")) => isVar(c, v)
      case _ => false
    }
  }

  private def joinKeys(p: SparkPlan): Seq[Expression] =
    resolved(p, collect(p) { case j: BaseJoinExec => j.leftKeys ++ j.rightKeys }.flatten)

  test("Opt/Not/WhenQ/CountQ join on narrow iri keys when subject-shared") {
    // every one of these compiles a frame join keyed on X (iri-only by
    // construction): each join key that reads X must read only X.iri,
    // and the solutions must match hand-traced sets. The object
    // variable Y can bind any value kind, so a join on Y keeps the
    // full value struct.
    val opt = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Opt(TriplePat(V("X"), Node("name"), V("N")))))
    val optRows = Compiler.run(opt).collect()
      .map(r => iriOf(r, "X") -> strOf(r, "N")).toMap
    assert(optRows == Map(":a" -> "alice", ":b" -> "bob", ":c" -> null))
    assert(narrowOn(joinKeys(plan(opt)), "X"),
      "independent Opt still joins on the full value struct")

    val not = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Not(TriplePat(V("X"), Node("name"), V("N")))))
    assert(Compiler.run(not).collect().map(iriOf(_, "X")).toSet == Set(":c"))
    assert(narrowOn(joinKeys(plan(not)), "X"),
      "self-contained Not still anti-joins on the full value struct")

    val whenQ = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      WhenQ(TriplePat(V("X"), Node("name"), V("N")),
        Eq(V("Z"), Str("seen")))))
    val whenRows = Compiler.run(whenQ).collect()
      .map(r => iriOf(r, "X") -> strOf(r, "Z")).toMap
    assert(whenRows == Map(":a" -> "seen", ":b" -> "seen", ":c" -> null))
    assert(narrowOn(joinKeys(plan(whenQ)), "X"),
      "WhenQ pass-through anti-join still keys on the full value struct")

    val cnt = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      CountQ(TriplePat(V("X"), Node("name"), V("N")), "C")))
    val cntRows = Compiler.run(cnt).collect()
      .map(r => iriOf(r, "X") -> r.getAs[Row]("C").getAs[Long]("lng")).toMap
    assert(cntRows == Map(":a" -> 1L, ":b" -> 1L, ":c" -> 0L))
    assert(narrowOn(joinKeys(plan(cnt)), "X"),
      "CountQ left-extend still keys on the full value struct")
  }

  test("null-padded optional vars keep exact join semantics downstream") {
    // :c has no name, so Opt pads N with a null struct; a LATER conj
    // sharing N must treat the padded rows as non-matching (null iri
    // never matches — identical to struct equality), never as a
    // wildcard. X rides along to check which rows survived.
    val q = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Opt(TriplePat(V("X"), Node("name"), V("N"))),
      TriplePat(V("X"), Node("age"), V("A"))))
    // :c knows :a but has no age → dropped by the final pattern; padded
    // N rows (for :c) must not leak through the age join either
    val rows = Compiler.run(q).collect()
      .map(r => iriOf(r, "X") -> strOf(r, "N")).toMap
    assert(rows == Map(":a" -> "alice", ":b" -> "bob"))
  }

  test("Once partitions on the narrow iri key and keeps one row per frame key") {
    val q = And(Seq(
      TriplePat(V("X"), Node("knows"), V("Y")),
      Once(TriplePat(V("X"), Node("knows"), V("W")))))
    val df = Compiler.run(q)
    val rows = df.collect().map(r => (iriOf(r, "X"), iriOf(r, "W")))
    // exactly one solution per frame row, and the least W per X
    assert(rows.toSet == Set((":a", ":b"), (":b", ":c"), (":c", ":a")))
    val p = finalPlan(df)
    val partitionKeys = resolved(p,
      collect(p) { case w: WindowExec => w.partitionSpec }.flatten)
    assert(narrowOn(partitionKeys, "X"),
      "Once window still partitions on the full value struct")
  }

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  test("hand-rolled GIF/TIFF payloads are byte-constants (golden sha-256)") {
    import spark.implicits._
    // The r16/r17 driver batteries proved the javax.imageio WRITER
    // path session-nondeterministic (green in the builder's JVM, red
    // in the driver's, identical code+data, two rounds running). The
    // generators are now hand-rolled byte layouts — a pure function of
    // doc_id with no library call between id and bytes — so the
    // payloads are CONSTANTS. These golden hashes pin that: any future
    // edit that reintroduces writer discretion (or any platform where
    // the bytes could vary) fails here, in every session, not just on
    // the driver. The DECODE side stays javax.imageio and is pinned
    // against the closed form by the Round17OpsSpec round-trip tests.
    val ids = Seq(0L, 1L, 7L, 13L, 42L, 255L, 256L)
    val docs = ids.toDF("doc_id")
    val goldGif = Map(
      0L -> "605389b8674f5023bc9ec2c1ce329326fbba83b611eb5a5453862f2230ae1a1a",
      1L -> "9613dac0315684172530395ad6151a4cacd4140e1119876675a52fba36e7e279",
      7L -> "896dcbe6ad4b3ea6fb767fd83493a3097f230c40c26ef4d6e892a44db60bdc73",
      13L -> "af3d1c1a6071530e2259215d2880e96b9ee304115adca50bfd017c6e7c44a2db",
      42L -> "f0ddab22b58f556bb996050560d759b4efa0b966f5b442742ff5e2f1173bea3e",
      255L -> "c755b05daf4a914265ea06c13107b341e52c4c965c470209c8a285f0f02ec15b",
      256L -> "7253134126826af7eeef79e0eb8eb8fa89bf73d2aaccdae8e83e37658f64d3ee")
    val goldTiff = Map(
      0L -> "a074ddcf80a2727c216d72176a719bc7545a67675f3fa77d790d3576d280a8df",
      1L -> "1ee0d4a97d5db4a544efe06263eaf40548bdeddc92d573488dfb7e0123ecd133",
      7L -> "5977603d14d85865575fc2987eda9dc69bfd8c02694bccb14921f584ffec8cba",
      13L -> "816355fb1b1e18b2a7c34b3416b51f7d712620f090bb079ebd2e130717b327e8",
      42L -> "3749bac145ddba530f3c9312678ce8ed269313fd9c7f20d2b2c94a445f026bcf",
      255L -> "be97308e8876679768332515e2fc7eece741ac6599cc234e7ee35044340b4827",
      256L -> "3427108ce84cff47539141622c3186e9ef3f55c276d46a9c1b4922a67ae136dd")
    val gotGif = graft.llm.Multimodal.withGifAnimPayload(docs)
      .collect().map(r => r.getLong(0) -> sha(r.getAs[Array[Byte]](1))).toMap
    val gotTiff = graft.llm.Multimodal.withTiffPayload(docs)
      .collect().map(r => r.getLong(0) -> sha(r.getAs[Array[Byte]](1))).toMap
    assert(gotGif == goldGif)
    assert(gotTiff == goldTiff)
  }
}
