package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compile context: where triple patterns read from.
  *
  * @param triples        full typed EAV table (graph column `g`)
  * @param subclass       reflexive-transitive (sub, sup) closure, broadcast
  * @param adds, removes  per-commit delta suppliers for added_/removed_triple
  */
final case class Ctx(
    spark: SparkSession,
    triples: DataFrame,
    subclass: DataFrame,
    adds: String => DataFrame = _ => null,
    removes: String => DataFrame = _ => null,
    /** Resource resolver for [[Using]]: maps "branch/<b>" /
      * "commit/<c>" to an addressed Ctx (triples AND subclass frames
      * re-derived from the addressed graph). Wired by
      * [[graft.storage.Updates.ctxFromStore]] and the HTTP layer;
      * contexts without a store refuse Using at plan time. */
    resolve: String => Ctx = r => sys.error(
      s"using('$r'): no store attached to this context — " +
        "build the Ctx with Updates.ctxFromStore (or via the HTTP API)"),
    /** Content-stable identity of `triples` (EAV cache dir for the base
      * dataset, `<storeRoot>@<commitId>` for layer stores). Set ONLY
      * when the graph a key describes is immutable under that key —
      * it unlocks cross-query memoization (e.g. the path engine's step
      * relations). None disables those caches, never correctness. */
    graphKey: Option[String] = None)

/** WOQL → DataFrame compiler.
  *
  * The reference compiles WOQL to Prolog goals executed by backtracking
  * nested-loop joins over store indexes (compile_wf/2 in
  * core/query/woql_compile.pl). We map *semantics*, not execution: each
  * operator becomes a declarative DataFrame transformation and Catalyst
  * picks physical strategy (broadcast vs shuffle joins, pushdown,
  * whole-stage codegen). Conjunction-with-shared-variables — WOQL's
  * implicit join — becomes an equi-join on binding columns (SURVEY §2.3).
  *
  * A solution set is a `BindingFrame`: a DataFrame with one Vals-struct
  * column per WOQL variable; the compiler threads the set of bound
  * variables the same way the reference threads its compile environment.
  */
object Compiler {
  import Vals._

  /** `iriVars` tracks which binding columns are IRI-ONLY BY
    * CONSTRUCTION — built via `iriVal` (kind 'i', `iri` set, every
    * other field null): subject/predicate bindings and their
    * equality-copies. For two such columns, struct equality ⟺ equality
    * of the `iri` field alone, so [[conj]] can join on the narrow
    * string key instead of hashing/sorting the full 10-field
    * normalized struct. Conservative: any operator that does not
    * explicitly propagate the set resets it to empty, which only
    * forfeits the optimization, never correctness. */
  final case class BF(df: DataFrame, vars: Set[String], isUnit: Boolean = false,
                      iriVars: Set[String] = Set.empty)

  def unit(ctx: Ctx): BF = BF(ctx.spark.range(1).select(), Set.empty, isUnit = true)

  /** Conservative: true when every variable occurrence of `q` is in a
    * binding TriplePat position, so `q` compiles from the unit frame
    * with no reference to outer bindings (used by the Not rewrite). */
  private def bindsAllVars(q: Woql): Boolean = q match {
    case _: TriplePat => true
    case And(qs) => qs.forall(bindsAllVars)
    case _ => false
  }

  def run(q: Woql)(implicit ctx: Ctx): DataFrame = compile(q, unit(ctx)).df

  /** Cartesian-product budget. A conjunction with ZERO shared
    * variables is a cross join — correct WOQL semantics, but at
    * 100 TB almost always a forgotten join variable: the product
    * explodes multiplicatively with no key to partition on. Same
    * treatment as the unbounded-closure guard in [[Paths]]: refuse
    * past the budget with an actionable message; deliberate products
    * raise GRAFT_CARTESIAN_MAX_ROWS. */
  private def cartesianBudget: Long =
    sys.props.get("graft.cartesian.maxRows")
      .orElse(sys.env.get("GRAFT_CARTESIAN_MAX_ROWS"))
      .map(_.toLong).getOrElse(10000000L)

  // ---- conjunction join (the heart: shared vars = equi-join keys) ----
  private def conj(cur: BF, nxt: BF): BF = {
    if (cur.isUnit) nxt
    else if (nxt.isUnit) cur
    else {
      val shared = (cur.vars intersect nxt.vars).toSeq.sorted
      val df =
        if (shared.isEmpty) {
          // Bounded probes, not full counts: a refusal must not cost two
          // full scans at 100 TB. `limit(n).count()` plans a CollectLimit
          // that stops reading once n rows are seen, so each probe touches
          // at most budget+1 rows. A ≤1-row side (the scalar-aggregate
          // broadcast idiom: 1-row stats frame crossed with an N-row side)
          // bypasses the budget entirely — its product is just N.
          def atMost(d: DataFrame, n: Long): Long =
            d.limit(math.min(n + 1, Int.MaxValue.toLong).toInt).count()
          val curN = atMost(cur.df, cartesianBudget)
          if (curN > 1) {
            val nxtN = atMost(nxt.df, cartesianBudget)
            if (nxtN > 1) {
              val product = BigInt(curN) * BigInt(nxtN)
              require(product <= cartesianBudget,
                s"conjunction with no shared variables is a >=$product-row " +
                  s"cartesian product, over GRAFT_CARTESIAN_MAX_ROWS=" +
                  s"$cartesianBudget — join the conjuncts on a shared " +
                  "variable, or raise the budget for a deliberate product")
            }
          }
          cur.df.crossJoin(nxt.df)
        } else {
          // SURVEY §4.1: EAV self-joins carry no table stats, so
          // Catalyst can't see a multiplying key — the armed
          // join-cardinality pre-flight does (keys-sized work)
          Preflight.joinCard(cur.df, nxt.df, shared)
          keyedJoin(cur.df, nxt.df, shared,
            shared.filter(v => cur.iriVars(v) && nxt.iriVars(v)).toSet,
            "inner")
        }
      BF(df, cur.vars ++ nxt.vars, iriVars = cur.iriVars ++ nxt.iriVars)
    }
  }

  /** Equi-join where the keys in `iriKeys` compare on the extracted
    * `iri` STRING and the rest on the full value struct. For an
    * iri-only-by-construction column (kind 'i', every other field
    * null) struct equality ⟺ iri equality, so narrowing is exact; the
    * exchange then hashes and the merge/hash compare one string per
    * key instead of the 10-field float-normalized struct (measured as
    * the dominant cost of the EAV self-join entries in r17, extended
    * to the outer/anti shapes in r18). A null-PADDED binding (whole-
    * null struct, e.g. from Opt/Or) stays safe: its extracted iri is
    * null and never matches — exactly like a null struct under `===`.
    * Output matches the using-columns join it replaces: left columns
    * (left copy of every key), then right's non-key columns; anti/semi
    * joins keep the left side only. */
  private def keyedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                        iriKeys: Set[String], joinType: String): DataFrame =
    if (keys.isEmpty || iriKeys.isEmpty) left.join(right, keys, joinType)
    else {
      val rn = right.select(right.columns.map(c =>
        if (keys.contains(c)) col(c).as(s"__r_$c") else col(c)).toSeq: _*)
      val cond = keys.map { v =>
        if (iriKeys(v))
          col(v).getField("iri") === col(s"__r_$v").getField("iri")
        else col(v) === col(s"__r_$v")
      }.reduce(_ && _)
      val joined = left.join(rn, cond, joinType)
      if (joinType == "left_anti" || joinType == "left_semi") joined
      else joined.select((left.columns.map(col) ++
        right.columns.filterNot(keys.contains).map(col)).toSeq: _*)
    }

  private def objVal: Column = mk(col("o_kind"), col("o_iri"), col("o_typ"),
    col("o_str"), col("o_dbl"), col("o_lng"), col("o_ts"), col("o_bool"), col("o_lang"),
    col("o_dec"))

  /** Compile one triple pattern against a triples-shaped DataFrame.
    * Bound positions become filters (pushed to parquet; bound `p` prunes
    * partitions); variable positions become projected binding columns. */
  private def pattern(src: DataFrame, s: Term, p: Term, o: Term): BF = {
    var df = src
    s match {
      case Node(i) => df = df.filter(col("s") === i)
      case _: Lit  => df = df.filter(lit(false)) // subjects are IRIs
      case V(_)    =>
    }
    p match {
      case Node(i) => df = df.filter(col("p") === i)
      case _: Lit  => df = df.filter(lit(false))
      case V(_)    =>
    }
    o match {
      case V(_)         =>
      case Node(i)      => df = df.filter(col("o_kind") === "i" && col("o_iri") === i)
      case Str(v, null) => df = df.filter(col("o_kind") === "l" && col("o_str") === v)
      case Str(v, lang) => df = df.filter(col("o_kind") === "l" && col("o_str") === v && col("o_lang") === lang)
      // numeric bound objects: a DISJUNCTION of single-column equalities
      // (not coalesce-equality) so each disjunct stays prunable by
      // parquet row-group stats — this is often the most selective
      // filter of a pattern. The lng disjunct only fires when the bound
      // value is integral (2.0 matches stored 2; 2.5 must not).
      case Dbl(v) =>
        val base = (col("o_dbl") === v) || (col("o_dec") === lit(v).cast(Vals.Dec38))
        df = df.filter(
          if (v.isWhole) base || (col("o_lng") === v.toLong) else base)
      case Lng(v) =>
        df = df.filter((col("o_lng") === v) || (col("o_dbl") === v.toDouble) ||
          (col("o_dec") === lit(v).cast(Vals.Dec38)))
      case Dec(v) =>
        df = df.filter((col("o_dec") === lit(v.bigDecimal).cast(Vals.Dec38)) ||
          (col("o_dbl") === v.toDouble) ||
          (if (v.isWhole) col("o_lng") === v.toLong else lit(false)))
      case Bool(v)      => df = df.filter(col("o_bool") === v)
      case Ts(v)        => df = df.filter(col("o_ts") === v)
    }
    // variable projections (a variable repeated within one pattern → equality)
    val proj = scala.collection.mutable.LinkedHashMap[String, Column]()
    def bind(t: Term, c: => Column): Unit = t match {
      case V(n) =>
        if (proj.contains(n)) df = df.filter(proj(n) === c) else proj(n) = c
      case _ =>
    }
    bind(s, iriVal(col("s")))
    bind(p, iriVal(col("p")))
    bind(o, objVal)
    // subject/predicate bindings are iriVal-constructed — iri-only by
    // construction (bind order: s, p first, so a variable repeated in
    // the object position keeps the iri binding and adds a filter)
    val iriBound = Seq(s, p).collect { case V(n) => n }.toSet
    BF(df.select(proj.map { case (n, c) => c.as(n) }.toSeq: _*),
      proj.keySet.toSet, iriVars = iriBound intersect proj.keySet)
  }

  /** Left-outer extension of `cur` by `inner` (inner's frame already
    * contains cur's columns). Used by Opt and CountQ. Keys that are
    * iri-only on BOTH frames join on the narrow iri string
    * ([[keyedJoin]]); extension vars stay iri-marked through the null
    * padding (null struct → null iri, identical non-match semantics),
    * filled vars are dropped from the set (the fill column is not
    * iri-built). */
  private def leftExtend(cur: BF, inner: BF, fill: Map[String, Column]): BF = {
    if (cur.isUnit) {
      if (inner.df.isEmpty) {
        val nulls = inner.vars.toSeq.sorted.map { v =>
          fill.getOrElse(v, lit(null).cast(Vals.structType)).as(v)
        }
        BF(cur.df.select(nulls: _*), inner.vars)
      } else inner
    } else {
      val keys = cur.vars.toSeq.sorted
      val joined = keyedJoin(cur.df, inner.df, keys,
        keys.filter(v => cur.iriVars(v) && inner.iriVars(v)).toSet,
        "left_outer")
      val filled =
        if (fill.isEmpty) joined
        else fill.foldLeft(joined) { case (d, (v, c)) => d.withColumn(v, coalesce(col(v), c)) }
      BF(filled, cur.vars ++ inner.vars,
        iriVars = (cur.iriVars ++ (inner.iriVars -- cur.vars)) -- fill.keySet)
    }
  }

  private def termCol(t: Term, bound: Set[String]): Column = t match {
    case V(n) if bound(n) => col(n)
    case V(n) => throw new IllegalArgumentException(s"variable $n not bound here")
    case other => ofTerm(other)
  }

  private def strOf(t: Term, bound: Set[String]): Column = Vals.text(termCol(t, bound))
  private def numOf(t: Term, bound: Set[String]): Column = Vals.num(termCol(t, bound))

  private def arith(e: ArithE, bound: Set[String]): Column = e match {
    case ATerm(t) => numOf(t, bound)
    case AFloor(x) => floor(arith(x, bound)).cast(DoubleType)
    case ABin(op, l, r) =>
      val (a, b) = (arith(l, bound), arith(r, bound))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "div" => floor(a / b).cast(DoubleType)
        case "exp" => pow(a, b)
      }
  }

  /** Exact-decimal view of an arith expression: Some(col) when the shape
    * stays within exact decimal semantics — `+`/`-` over decimal-or-
    * integer leaves. Operands are computed at (36,18): a (38,18) sum
    * would hit Spark's precision cap and silently round scale to 17
    * (DuckDB keeps 18 — an oracle-visible divergence), while (36,18)
    * has headroom so every step is exact for |value| < 10^18, full
    * 18-digit scale. Multiplication/division shrink scale by
    * engine-specific precision-loss rules, so they fall back to double
    * (documented divergence). The column is null on rows whose leaves
    * hold doubles; Eval falls back per-row. */
  private val DecOp = DecimalType(36, 18)
  private def arithDec(e: ArithE, bound: Set[String]): Option[Column] = e match {
    case ATerm(V(n)) if bound(n) =>
      Some(coalesce(col(n).getField("dec"), col(n).getField("lng").cast(DecOp))
        .cast(DecOp))
    case ATerm(Lng(v)) => Some(lit(v).cast(DecOp))
    case ATerm(Dec(v)) => Some(lit(v.bigDecimal).cast(DecOp))
    case ABin(op @ ("+" | "-"), l, r) =>
      for (a <- arithDec(l, bound); b <- arithDec(r, bound))
        yield (if (op == "+") a + b else a - b).cast(DecOp)
    case _ => None
  }

  // ---- main dispatch ----
  def compile(q: Woql, cur: BF)(implicit ctx: Ctx): BF = q match {

    case TriplePat(s, p, o, g) =>
      p match {
        // SURVEY §7.5: never join with unbound p silently — when the
        // optional pre-flight is armed, profile the all-predicates
        // scan's subject skew before it joins into the frame
        case V(pv) if !cur.vars.contains(pv) =>
          Preflight.unboundP(ctx.triples.filter(col("g") === g),
            s"($s ?$pv $o in $g)")
        case _ => ()
      }
      conj(cur, pattern(ctx.triples.filter(col("g") === g), s, p, o))

    case AddedTriple(s, p, o, commit) =>
      conj(cur, pattern(ctx.adds(commit), s, p, o))
    case RemovedTriple(s, p, o, commit) =>
      conj(cur, pattern(ctx.removes(commit), s, p, o))

    case GetCsv(asVars, path, header) =>
      // resource may be a path, file:// or http(s):// URL, or an
      // inline: POST body — sources.Resources resolves all four
      val raw = graft.sources.Resources.csv(ctx.spark, path, header)
      val df = raw.select(asVars.map { case (v, c) => strVal(col(c)).as(v) }: _*)
      conj(cur, BF(df, asVars.map(_._1).toSet))

    case GetJson(asVars, path) =>
      val raw = graft.sources.Resources.jsonLines(ctx.spark, path)
      val df = raw.select(asVars.map { case (v, f) =>
        strVal(col(f).cast(StringType)).as(v) }: _*)
      conj(cur, BF(df, asVars.map(_._1).toSet))

    case GetXml(asVars, path, rowTag) =>
      // XML-as-bindings: one solution per rowTag element, child
      // elements bound stringly (typecast narrows downstream) — the
      // same contract as GetCsv/GetJson, on Spark 4's built-in source
      val raw = graft.sources.Resources.xml(ctx.spark, path, rowTag)
      val df = raw.select(asVars.map { case (v, f) =>
        strVal(col(f).cast(StringType)).as(v) }: _*)
      conj(cur, BF(df, asVars.map(_._1).toSet))

    case GetTurtle(sv, pv, ov, path) =>
      // turtle-as-bindings: the resource resolves like GetCsv, parses
      // with the full Turtle 1.1 reader, and each triple becomes one
      // solution row. The tokenizer is driver-side (a turtle document
      // is not line-splittable once prefixes/collections are allowed);
      // bulk graph loads at scale go through the EAV encode path, this
      // op is the reference's small-resource get.
      val ttl = graft.sources.Resources.text(ctx.spark, path)
      val parsed = graft.sources.Turtle.load(ctx.spark, ttl)
      val bound = parsed.select(iriVal(col("s")).as(sv),
        iriVal(col("p")).as(pv), objVal.as(ov))
      conj(cur, BF(bound, Set(sv, pv, ov), iriVars = Set(sv, pv)))

    case PutCsv(cols, sub, path) =>
      val inner = compile(sub, cur)
      inner.df.select(cols.map { case (out, v) => Vals.text(col(v)).as(out) }: _*)
        .write.mode("overwrite").option("header", "true").csv(path)
      inner

    case WithGraph(g, resource, sub) =>
      val loaded =
        if (resource.endsWith(".csv") || new java.io.File(resource, "_SUCCESS").exists()
            && new java.io.File(resource).listFiles().exists(_.getName.endsWith(".csv"))) {
          ctx.spark.read.option("header", "true").csv(resource)
            .select(lit(g).as("g"), col("s"), col("p"), lit("l").as("o_kind"),
              lit(null).cast(StringType).as("o_iri"), lit("xsd:string").as("o_typ"),
              col("o").as("o_str"), lit(null).cast(DoubleType).as("o_dbl"),
              lit(null).cast(LongType).as("o_lng"),
              lit(null).cast(TimestampType).as("o_ts"),
              lit(null).cast(BooleanType).as("o_bool"),
              lit(null).cast(StringType).as("o_lang"),
              lit(null).cast(Vals.Dec38).as("o_dec"))
        } else ctx.spark.read.parquet(resource).withColumn("g", lit(g))
          .select(graft.storage.Eav.schema.fieldNames.map(col): _*)
      // the temp-graph union is a DIFFERENT graph: clear graphKey so
      // the path engine's step-relation cache never serves base edges
      compile(sub, cur)(ctx.copy(
        triples = ctx.triples.unionByName(loaded), graphKey = None))

    case Using(resource, sub) =>
      // swap the compile context for the subquery's duration; the
      // current binding frame threads through unchanged, so shared
      // variables still join across resources (head-vs-commit joins)
      compile(sub, cur)(ctx.resolve(resource))

    case TripleCount(g, into) =>
      val counted = ctx.triples.filter(col("g") === g)
        .agg(count(lit(1)).as("__c")).select(lngVal(col("__c")).as(into))
      conj(cur, BF(counted, Set(into)))

    case ReadDocQ(idT, into) =>
      // flat document JSON per subject: scalar fields, prefix-stripped
      // keys, sorted for determinism; one groupBy — scales with corpus
      val lits = ctx.triples.filter(col("g") === "instance" && col("o_kind") === "l")
        .select(col("s"),
          regexp_replace(col("p"), "^[^:]*:", "").as("__k"),
          coalesce(col("o_str"), col("o_lng").cast(StringType),
            col("o_dbl").cast(StringType), col("o_bool").cast(StringType),
            col("o_ts").cast(StringType)).as("__v"))
        .groupBy(col("s"), col("__k"))
        .agg(concat_ws(",", sort_array(collect_list(col("__v")))).as("__v1"))
      val docs = lits.groupBy(col("s"))
        .agg(to_json(map_from_entries(
          sort_array(collect_list(struct(col("__k"), col("__v1")))))).as("__doc"))
      val bf = idT match {
        case V(n) => BF(docs.select(iriVal(col("s")).as(n),
          strVal(col("__doc")).as(into)), Set(n, into), iriVars = Set(n))
        case Node(i) => BF(docs.filter(col("s") === i)
          .select(strVal(col("__doc")).as(into)), Set(into))
        case _ => throw new IllegalArgumentException("ReadDocument: id must be IRI or var")
      }
      conj(cur, bf)

    case And(qs) =>
      fuse(qs.toList).foldLeft(cur)((acc, sub) => compile(sub, acc))

    case GroupAgg(fn, template, by, sub, into) =>
      val inner = compile(sub, cur)
      val aggCol = fn match {
        case "sum" =>
          // exact decimal sum when EVERY row of the group is decimal- or
          // integer-typed (mirrors eval's per-row rule at group
          // granularity); double otherwise
          val v = col(template.head)
          val decView = coalesce(v.getField("dec"),
            v.getField("lng").cast(DecOp)).cast(DecOp)
          when(count(lit(1)) === count(decView), decVal(sum(decView)))
            .otherwise(dblVal(sum(Vals.num(v))))
        case "count" => lngVal(count(lit(1)))
      }
      BF(inner.df.groupBy(by.map(col): _*).agg(aggCol.as(into)), by.toSet + into,
        iriVars = inner.iriVars intersect by.toSet)

    case GroupCount(sub, by, into) =>
      // independent sub-query → per-`by` solution count, conj-joined
      // back into the enclosing frame on `by` (inner semantics). Unlike
      // GroupAgg this PRESERVES the frame's other columns — the GraphQL
      // per-link _count shape. One aggregate + one equi-join; the
      // grouped side is count-sized (≤ distinct parents), so AQE
      // broadcasts it against a big frame.
      val inner = compile(sub, unit(ctx))
      val g = inner.df.groupBy(by.map(col): _*)
        .agg(lngVal(count(lit(1))).as(into))
      conj(cur, BF(g, by.toSet + into,
        iriVars = inner.iriVars intersect by.toSet))

    case GroupStats(sub, by, aggs) =>
      // GroupCount generalized: ALL the link's aggregates compute in
      // ONE per-`by` aggregate and join back with ONE equi-join (the
      // GraphQL per-link _sum/_min/_max/_count shape). sum reuses
      // GroupAgg's exactness rule (decimal when every row is
      // decimal/integer-typed, double otherwise); min/max are value
      // picks over the numeric view — order-independent either way.
      val inner = compile(sub, unit(ctx))
      val aggCols = aggs.map { case (fn, valueVar, into) =>
        (fn match {
          case "count" => lngVal(count(lit(1)))
          case "sum" =>
            val v = col(valueVar.get)
            val decView = coalesce(v.getField("dec"),
              v.getField("lng").cast(DecOp)).cast(DecOp)
            when(count(lit(1)) === count(decView), decVal(sum(decView)))
              .otherwise(dblVal(sum(Vals.num(v))))
          case "min" => dblVal(min(Vals.num(col(valueVar.get))))
          case "max" => dblVal(max(Vals.num(col(valueVar.get))))
          case other => throw new IllegalArgumentException(
            s"unsupported group aggregate: $other")
        }).as(into)
      }
      val stats = inner.df.groupBy(by.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      conj(cur, BF(stats, by.toSet ++ aggs.map(_._3),
        iriVars = inner.iriVars intersect by.toSet))

    case GroupTopKJoin(sub, by, order, k, keep) =>
      // independent sub-query → per-`by` top-k under the canonical
      // value sort keys (materialized as columns — the native plan
      // orders by NAME), conj-joined back carrying `keep`. The grouped
      // side ships ≤ k·partitions rows per group through ONE clustered
      // exchange (partial bounded heaps), never a full-group sort.
      val inner = compile(sub, unit(ctx))
      var df = inner.df
      val sortSpecs = order.zipWithIndex.flatMap { case ((v, asc), i) =>
        df = df.withColumn(s"__kn$i", Vals.sortKeyNum(col(v)))
          .withColumn(s"__kt$i", Vals.sortKeyText(col(v)))
        Seq((s"__kn$i", !asc), (s"__kt$i", !asc))
      }
      val keyNames = order.indices.flatMap(i => Seq(s"__kn$i", s"__kt$i"))
      val cols = (by ++ keep).distinct
      val top = graft.plans.GroupTopK.topK(
          df.select((cols ++ keyNames).map(col): _*),
          by, sortSpecs, k.toInt, rankName = "__rk")
        .drop(keyNames :+ "__rk": _*)
      conj(cur, BF(top, cols.toSet,
        iriVars = inner.iriVars intersect cols.toSet))

    case Or(qs) =>
      val branches = qs.map(compile(_, cur))
      val allVars = branches.map(_.vars).reduce(_ ++ _)
      val dfs = branches.map { b =>
        val missing = (allVars -- b.vars).toSeq.sorted
        missing.foldLeft(b.df)((d, v) => d.withColumn(v, lit(null).cast(Vals.structType)))
      }
      // a var stays iri-only iff every branch binds it iri-only or not
      // at all (null padding — safe, see keyedJoin)
      BF(dfs.reduce(_ unionByName _), allVars,
        iriVars = branches.map(b => b.iriVars ++ (allVars -- b.vars))
          .reduce(_ intersect _))

    case Not(sub) =>
      // When the negated query is SELF-CONTAINED (every variable sits in
      // a binding TriplePat position), compile it from the unit frame and
      // anti-join on the shared variables only: semantically identical
      // (a row is dropped iff an extension satisfies sub — iff sub alone
      // has a solution agreeing on the shared vars), but the plan drops
      // a redundant inner join AND a second scan of the current frame
      // (the naive shape recomputes cur on both sides of the anti-join —
      // at sf0.1 that was a full extra rdf:type partition scan plus a
      // 15k×150k join feeding the anti). Subqueries that reference
      // outer-bound vars in filter positions still take the frame-based
      // path.
      val selfContained = bindsAllVars(sub)
      val inner = if (!cur.isUnit && selfContained) compile(sub, unit(ctx))
        else compile(sub, cur)
      if (cur.isUnit) {
        if (inner.df.isEmpty) cur else BF(cur.df.limit(0), cur.vars, isUnit = false)
      } else {
        val keys = (if (selfContained) cur.vars.intersect(inner.vars)
          else cur.vars).toSeq.sorted
        if (keys.isEmpty) {
          // disjoint vars: every row survives iff sub has no solution
          if (inner.df.isEmpty) cur
          else BF(cur.df.limit(0), cur.vars, iriVars = cur.iriVars)
        } else
          // anti-join on the narrow iri keys where both sides are
          // iri-only (a kept/dropped decision depends only on key
          // equality, which is unchanged by the narrowing)
          BF(keyedJoin(cur.df, inner.df.select(keys.map(col): _*), keys,
              keys.filter(v => cur.iriVars(v) && inner.iriVars(v)).toSet,
              "left_anti"),
            cur.vars, iriVars = cur.iriVars)
      }

    case Opt(sub) =>
      // mirror of the Not rewrite: a SELF-CONTAINED optional compiles
      // independently and left-extends on the shared variables only —
      // drops the redundant frame join and the second frame scan, and
      // extension compatibility is judged on the shared vars alone (a
      // null in an UNRELATED frame variable — e.g. the pad of an
      // earlier Opt — must not block extension, which a full-frame-key
      // join would).
      val optSelf = !cur.isUnit && bindsAllVars(sub)
      val indep = if (optSelf) compile(sub, unit(ctx)) else null
      if (optSelf && cur.vars.intersect(indep.vars).nonEmpty) {
        val keys = cur.vars.intersect(indep.vars).toSeq.sorted
        // narrow iri keys where both sides are iri-only; optional vars
        // stay iri-marked through the null padding (null struct → null
        // iri — never matches downstream, same as struct equality)
        BF(keyedJoin(cur.df, indep.df, keys,
            keys.filter(v => cur.iriVars(v) && indep.iriVars(v)).toSet,
            "left_outer"),
          cur.vars ++ indep.vars,
          iriVars = cur.iriVars ++ (indep.iriVars -- cur.vars))
      } else leftExtend(cur, compile(sub, cur), Map.empty)

    case WhenQ(c, t) =>
      // conditional extension: Cond's solutions flow through Then;
      // solutions Cond rejects pass through with Then-vars unbound.
      // (On the unit frame this is the classic `C has solutions → C∧T
      // else true`.)
      val condBF = compile(c, cur)
      val thenBF = compile(t, condBF)
      if (cur.isUnit) {
        if (condBF.df.isEmpty) {
          // pass through with Then-only variables unbound (null structs),
          // mirroring the non-unit padding — a downstream reference to a
          // Then-var must resolve, not throw
          val missing = (thenBF.vars -- cur.vars).toSeq.sorted
          if (missing.isEmpty) cur
          else BF(missing.foldLeft(cur.df)((d, v) =>
            d.withColumn(v, lit(null).cast(Vals.structType))),
            cur.vars ++ missing, isUnit = false)
        } else thenBF
      } else {
        val keys = cur.vars.toSeq.sorted
        val unmatched = keyedJoin(cur.df,
          condBF.df.select(keys.map(col): _*), keys,
          keys.filter(v => cur.iriVars(v) && condBF.iriVars(v)).toSet,
          "left_anti")
        val missing = (thenBF.vars -- cur.vars).toSeq.sorted
        val padded = missing.foldLeft(unmatched)((d, v) =>
          d.withColumn(v, lit(null).cast(Vals.structType)))
        BF(thenBF.df.unionByName(padded.select(thenBF.df.columns.map(col).toSeq: _*)),
          thenBF.vars,
          // a var stays iri-only iff iri-only in BOTH union branches
          // (pass-through rows: cur's iri vars, plus Then-only vars as
          // null padding — safe as above)
          iriVars = thenBF.iriVars intersect
            (cur.iriVars ++ (thenBF.vars -- cur.vars)))
      }

    case Immediately(sub) =>
      // staged-update model: eagerness is unobservable inside a query
      compile(sub, cur)

    case Once(sub) =>
      val inner = compile(sub, cur)
      // DETERMINISTIC once: the reference commits to its search engine's
      // first-found solution (Prolog clause order); a distributed engine
      // has no stable search order, so we bind the LEAST solution under
      // the total order of all bound variables — deterministic across
      // runs/partitionings and oracle-checkable (documented divergence;
      // same per-frame cardinality: exactly one solution).
      if (cur.isUnit) {
        val ord = inner.vars.toSeq.sorted.map(col)
        BF(inner.df.orderBy(ord: _*).limit(1), inner.vars,
          iriVars = inner.iriVars)
      } else {
        val keys = cur.vars.toSeq.sorted
        val rest = (inner.vars -- cur.vars).toSeq.sorted
        // iri-only partition keys narrow to the iri string: rows group
        // identically (struct value ⟺ iri for iri-only columns, nulls
        // group together either way) and the window exchange hashes
        // one string per key instead of the normalized struct
        val pCols = keys.map(v =>
          if (inner.iriVars(v)) col(v).getField("iri") else col(v))
        val w = Window.partitionBy(pCols: _*)
          .orderBy((keys ++ rest).map(col): _*)
        BF(inner.df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"), inner.vars,
          iriVars = inner.iriVars)
      }

    case True  => cur
    case False => BF((if (cur.isUnit) unit(ctx).df else cur.df).limit(0), cur.vars)

    case Select(vars, sub) =>
      val inner = compile(sub, cur)
      BF(inner.df.select(vars.map(col): _*), vars.toSet,
        iriVars = inner.iriVars intersect vars.toSet)

    case Distinct(vars, sub) =>
      val inner = compile(sub, cur)
      BF(inner.df.select(vars.map(col): _*).dropDuplicates(vars), vars.toSet,
        iriVars = inner.iriVars intersect vars.toSet)

    case Eq(a, b) => (a, b) match {
      case (V(x), V(y)) if cur.vars(x) && cur.vars(y) =>
        BF(cur.df.filter(col(x) === col(y)), cur.vars, iriVars = cur.iriVars)
      case (V(x), V(y)) if cur.vars(x) => BF(cur.df.withColumn(y, col(x)),
        cur.vars + y,
        iriVars = if (cur.iriVars(x)) cur.iriVars + y else cur.iriVars)
      case (V(x), V(y)) if cur.vars(y) => BF(cur.df.withColumn(x, col(y)),
        cur.vars + x,
        iriVars = if (cur.iriVars(y)) cur.iriVars + x else cur.iriVars)
      case (V(x), V(y)) => throw new IllegalArgumentException(
        s"eq($x, $y): at least one side must be bound — unbound-unbound " +
          "aliasing has no solutions to enumerate in a set-oriented engine")
      case (V(x), c: Term) if cur.vars(x) =>
        BF(cur.df.filter(col(x) === ofTerm(c)), cur.vars, iriVars = cur.iriVars)
      case (V(x), c: Term) => BF(cur.df.withColumn(x, ofTerm(c)), cur.vars + x,
        // a Node constant binds iriVal(lit(..)) — iri-only, non-null
        iriVars = c match { case Node(_) => cur.iriVars + x
                            case _ => cur.iriVars })
      case (c: Term, V(x)) => compile(Eq(V(x), c), cur)
      case (c1: Term, c2: Term) =>
        if (c1 == c2) cur else BF(cur.df.limit(0), cur.vars)
    }

    case Cmp(op, a, b) =>
      BF(cur.df.filter(Vals.cmp(op, termCol(a, cur.vars), termCol(b, cur.vars))),
        cur.vars, iriVars = cur.iriVars)

    case RegexTest(p, s) =>
      // pure codegen'd filter (RLike); stays inside whole-stage codegen
      BF(cur.df.filter(strOf(s, cur.vars).rlike(p)), cur.vars,
        iriVars = cur.iriVars)

    case Isa(x, cls) =>
      // instance-of with subclass inference: type triples ⨝ broadcast closure
      val typed = ctx.triples.filter(col("g") === "instance" && col("p") === "rdf:type")
        .select(col("s"), col("o_iri").as("__c0"))
      val withSup = typed.join(broadcast(ctx.subclass), col("__c0") === col("sub"), "inner")
        .select(col("s"), col("sup"))
      val bf = (x, cls) match {
        case (V(n), Node(c)) =>
          BF(withSup.filter(col("sup") === c).select(iriVal(col("s")).as(n)),
            Set(n), iriVars = Set(n))
        case (Node(i), Node(c)) =>
          BF(withSup.filter(col("s") === i && col("sup") === c).select(), Set.empty)
        case (V(n), V(cv)) =>
          BF(withSup.select(iriVal(col("s")).as(n), iriVal(col("sup")).as(cv)),
            Set(n, cv), iriVars = Set(n, cv))
        case (Node(i), V(cv)) =>
          BF(withSup.filter(col("s") === i).select(iriVal(col("sup")).as(cv)),
            Set(cv), iriVars = Set(cv))
        case _ => throw new IllegalArgumentException("isa: bad arguments")
      }
      conj(cur, bf)

    case Subsumption(sub, sup) =>
      val cl = ctx.subclass
      val bf = (sub, sup) match {
        case (Node(a), Node(b)) =>
          BF(cl.filter(col("sub") === a && col("sup") === b).select(), Set.empty)
        case (Node(a), V(y)) =>
          BF(cl.filter(col("sub") === a).select(iriVal(col("sup")).as(y)),
            Set(y), iriVars = Set(y))
        case (V(x), Node(b)) =>
          BF(cl.filter(col("sup") === b).select(iriVal(col("sub")).as(x)),
            Set(x), iriVars = Set(x))
        case (V(x), V(y)) =>
          BF(cl.select(iriVal(col("sub")).as(x), iriVal(col("sup")).as(y)),
            Set(x, y), iriVars = Set(x, y))
        case _ => throw new IllegalArgumentException("subsumption: bad arguments")
      }
      conj(cur, bf)

    case TypeOf(x, into) =>
      val xc = termCol(x, cur.vars)
      val t = when(xc.getField("k") === "i", lit("owl:Thing")).otherwise(xc.getField("typ"))
      into match {
        case V(n) if !cur.vars(n) => BF(cur.df.withColumn(n, strVal(t)),
          cur.vars + n, iriVars = cur.iriVars)
        case V(n) => BF(cur.df.filter(Vals.text(col(n)) === t), cur.vars,
          iriVars = cur.iriVars)
        case c: Term => BF(cur.df.filter(t === Vals.text(ofTerm(c))), cur.vars,
          iriVars = cur.iriVars)
      }

    case OrderBy(specs, sub) =>
      val inner = compile(sub, cur)
      val sortCols = specs.flatMap { case (v, asc) =>
        val kn = Vals.sortKeyNum(col(v)); val kt = Vals.sortKeyText(col(v))
        if (asc) Seq(kn.asc_nulls_last, kt.asc_nulls_last)
        else Seq(kn.desc_nulls_last, kt.desc_nulls_last)
      }
      BF(inner.df.orderBy(sortCols: _*), inner.vars, iriVars = inner.iriVars)

    case Limit(n, sub) =>
      val inner = compile(sub, cur)
      BF(inner.df.limit(n.toInt), inner.vars, iriVars = inner.iriVars)

    case Start(n, sub) =>
      val inner = compile(sub, cur)
      BF(inner.df.offset(n.toInt), inner.vars, iriVars = inner.iriVars)

    case GroupBy(template, by, sub, into) =>
      val inner = compile(sub, cur)
      // single-var template → list of value structs (so SumList/MemberQ/JoinS
      // operate on values); multi-var → list of named structs of values
      val tmpl = if (template.size == 1) col(template.head) else struct(template.map(col): _*)
      val g = inner.df.groupBy(by.map(col): _*).agg(collect_list(tmpl).as(into))
      BF(g, by.toSet + into, iriVars = inner.iriVars intersect by.toSet)

    case SortListQ(listVar, into) =>
      BF(cur.df.withColumn(into, array_sort(col(listVar))), cur.vars + into,
        iriVars = cur.iriVars)

    case CountQ(sub, into) =>
      val inner = compile(sub, cur)
      if (cur.isUnit)
        BF(inner.df.agg(count(lit(1)).as("__c")).select(lngVal(col("__c")).as(into)), Set(into))
      else {
        val keys = cur.vars.toSeq.sorted
        val counts = inner.df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__c"))
          .select(keys.map(col) :+ lngVal(col("__c")).as(into): _*)
        leftExtend(cur, BF(counts, cur.vars + into,
            iriVars = inner.iriVars intersect cur.vars),
          Map(into -> lngVal(lit(0L))))
      }

    case SumList(listVar, into) =>
      val summed = aggregate(col(listVar), lit(0.0),
        (acc, x) => acc + coalesce(sumElemNum(x), lit(0.0)))
      BF(cur.df.withColumn(into, dblVal(summed)), cur.vars + into,
      iriVars = cur.iriVars)

    case LengthList(listVar, into) =>
      BF(cur.df.withColumn(into, lngVal(size(col(listVar)).cast(LongType))),
        cur.vars + into, iriVars = cur.iriVars)

    case Eval(e, into) =>
      val asDbl = dblVal(arith(e, cur.vars))
      val result = arithDec(e, cur.vars) match {
        case Some(dc) => when(dc.isNotNull, decVal(dc)).otherwise(asDbl)
        case None => asDbl
      }
      BF(cur.df.withColumn(into, result), cur.vars + into,
        iriVars = cur.iriVars)

    case ConcatList(parts, into) =>
      val c = concat(parts.map(strOf(_, cur.vars)): _*)
      BF(cur.df.withColumn(into, strVal(c)), cur.vars + into,
        iriVars = cur.iriVars)

    case TrimS(s, into) =>
      BF(cur.df.withColumn(into, strVal(trim(strOf(s, cur.vars)))),
        cur.vars + into, iriVars = cur.iriVars)
    case UpperS(s, into) =>
      BF(cur.df.withColumn(into, strVal(upper(strOf(s, cur.vars)))),
        cur.vars + into, iriVars = cur.iriVars)
    case LowerS(s, into) =>
      BF(cur.df.withColumn(into, strVal(lower(strOf(s, cur.vars)))),
        cur.vars + into, iriVars = cur.iriVars)
    case PadS(s, ch, len, into) =>
      BF(cur.df.withColumn(into,
        strVal(lpad(strOf(s, cur.vars), numOf(len, cur.vars).cast(IntegerType), lit(ch)))),
        cur.vars + into, iriVars = cur.iriVars)

    case SplitS(s, sep, into) =>
      // reference separator is a literal string, Spark's split is regex: quote it
      val arr = split(strOf(s, cur.vars), java.util.regex.Pattern.quote(sep))
      BF(cur.df.withColumn(into, transform(arr, x => strVal(x))),
        cur.vars + into, iriVars = cur.iriVars)

    case JoinS(listVar, sep, into) =>
      val joined = array_join(transform(col(listVar), x => Vals.text(x)), sep)
      BF(cur.df.withColumn(into, strVal(joined)), cur.vars + into,
        iriVars = cur.iriVars)

    case SubstrS(s, before, len, intoAfter, intoSub) =>
      val str0 = strOf(s, cur.vars)
      val b = numOf(before, cur.vars).cast(IntegerType)
      val l = numOf(len, cur.vars).cast(IntegerType)
      val subC = str0.substr(b + 1, l)
      val afterC = length(str0) - b - l
      BF(cur.df.withColumn(intoSub, strVal(subC))
        .withColumn(intoAfter, lngVal(afterC.cast(LongType))),
        cur.vars + intoSub + intoAfter, iriVars = cur.iriVars)

    case ReMatch(p, s, intoGroups) =>
      // single capture group → all matches of it (global-flag style);
      // ≥2 groups → every capture group of the first match, the
      // reference's group-binding shape (core/query/woql_compile.pl re).
      val gc = java.util.regex.Pattern.compile(p).matcher("").groupCount()
      val groups =
        if (gc <= 1) regexp_extract_all(strOf(s, cur.vars), lit(p), lit(1))
        else array((1 to gc).map(i => regexp_extract(strOf(s, cur.vars), p, i)): _*)
      BF(cur.df.withColumn(intoGroups, transform(groups, x => strVal(x))),
        cur.vars + intoGroups, iriVars = cur.iriVars)

    case FormatS(p, args, into) =>
      BF(cur.df.withColumn(into,
        strVal(format_string(p, args.map(strOf(_, cur.vars)): _*))),
        cur.vars + into, iriVars = cur.iriVars)

    case CastQ(v, typ, into) =>
      val c = termCol(v, cur.vars)
      val casted: Column = typ match {
        case "xsd:string"   => strVal(Vals.text(c))
        case "xsd:integer"  => lngVal(coalesce(c.getField("lng"),
          c.getField("dec").cast(LongType),
          c.getField("dbl").cast(LongType), c.getField("str").cast(LongType),
          c.getField("bool").cast(LongType)))
        case "xsd:double" => dblVal(coalesce(c.getField("dbl"),
          c.getField("dec").cast(DoubleType),
          c.getField("lng").cast(DoubleType), c.getField("str").cast(DoubleType)))
        // exact targets first (decimal/integer/string are lossless);
        // double is last resort and documented lossy
        case "xsd:decimal" => decVal(coalesce(c.getField("dec"),
          c.getField("lng").cast(Vals.Dec38), c.getField("str").cast(Vals.Dec38),
          c.getField("dbl").cast(Vals.Dec38)))
        case "xsd:boolean"  => boolVal(coalesce(c.getField("bool"),
          when(lower(c.getField("str")).isin("true", "1"), lit(true))
            .when(lower(c.getField("str")).isin("false", "0"), lit(false))))
        case "xsd:dateTime" => tsVal(coalesce(c.getField("ts"),
          graft.functions.XsdTimestampCast.xsdTs(ctx.spark, c.getField("str"))))
        // typed duration: validated lexical stored as its XSD canonical
        // form under the xsd:duration tag (functions/XsdDuration.scala)
        case "xsd:duration" =>
          Vals.typedStr(typ, graft.functions.XsdDuration.canonical(Vals.text(c)))
        // xdd: extension literal types (functions/Xdd.scala): validate
        // the lexical, store the canonical form under the xdd type tag
        case "xdd:coordinate" =>
          Vals.typedStr(typ, graft.functions.Xdd.coordinate(Vals.text(c)))
        case "xdd:integerRange" =>
          Vals.typedStr(typ, graft.functions.Xdd.integerRange(Vals.text(c)))
        case "xdd:decimalRange" =>
          Vals.typedStr(typ, graft.functions.Xdd.decimalRange(Vals.text(c)))
        case "xdd:url" =>
          Vals.typedStr(typ, graft.functions.Xdd.url(Vals.text(c)))
        case "xdd:email" =>
          Vals.typedStr(typ, graft.functions.Xdd.email(Vals.text(c)))
        case other => throw new IllegalArgumentException(s"unsupported cast target $other")
      }
      BF(cur.df.withColumn(into, casted), cur.vars + into,
        iriVars = cur.iriVars)

    case HashKey(base, args, into) =>
      // iriVal over concat(lit, sha2(concat_ws(..))) — concat_ws/sha2
      // never return null, so the iri field is provably non-null and
      // the binding is safely iri-only
      val key = sha2(concat_ws("_", args.map(strOf(_, cur.vars)): _*), 256)
      BF(cur.df.withColumn(into, iriVal(concat(lit(base), key))),
        cur.vars + into, iriVars = cur.iriVars + into)

    case LexKey(base, args, into) =>
      val key = concat_ws("_", args.map(a => url_encode(strOf(a, cur.vars))): _*)
      BF(cur.df.withColumn(into, iriVal(concat(lit(base), key))),
        cur.vars + into, iriVars = cur.iriVars + into)

    case RandomKey(base, into) =>
      BF(cur.df.withColumn(into, iriVal(concat(lit(base), expr("uuid()")))),
        cur.vars + into, iriVars = cur.iriVars + into)

    case MemberQ(into, listVar) =>
      val exploded = cur.df.withColumn(into, explode(col(listVar)))
      BF(exploded, cur.vars + into, iriVars = cur.iriVars)

    case MemberConst(into, items) =>
      val arr = array(items.map(ofTerm): _*)
      BF(cur.df.withColumn(into, explode(arr)), cur.vars + into,
        // all-Node item lists bind iriVal constants (non-null iri)
        iriVars = if (items.forall(_.isInstanceOf[Node])) cur.iriVars + into
          else cur.iriVars)

    case DotQ(doc, field, into) =>
      // DEEP dot ([ref:core/query/woql_compile.pl] dot chaining): the
      // field may be a dot-separated PATH through nested documents —
      // "address.city" walks two levels, a numeric segment ("tags.1")
      // indexes an array — compiled to ONE codegen'd JsonPath probe
      // instead of N chained Dot ops re-parsing intermediate JSON
      // text. A plain field name compiles exactly as before.
      val path = "$" + field.split("\\.").map(seg =>
        if (seg.nonEmpty && seg.forall(_.isDigit)) s"[$seg]" else s".$seg")
        .mkString
      val j = get_json_object(strOf(doc, cur.vars), path)
      BF(cur.df.withColumn(into, strVal(j)), cur.vars + into,
        iriVars = cur.iriVars)

    case LikeSim(a, b, into, metric) =>
      // Dice bigrams by default (pure built-ins); "isub" switches to the
      // reference's Stoilos 2005 metric (functions/IsubSim.scala)
      val sim = metric match {
        case "isub" => graft.functions.IsubSim.isub(
          strOf(a, cur.vars), strOf(b, cur.vars))
        case _ => graft.functions.GraftFunctions.dice_similarity(
          strOf(a, cur.vars), strOf(b, cur.vars))
      }
      BF(cur.df.withColumn(into, dblVal(sim)), cur.vars + into,
        iriVars = cur.iriVars)

    case PathQ(x, pat, y, _witness, ew) =>
      // Bound endpoint → frontier expansion from that side (work ∝
      // reachable set); both free → full pair relation (SURVEY §4.1).
      def seed(i: String) = {
        import ctx.spark.implicits._
        Seq(i).toDF("n")
      }
      def seedW(i: String) = {
        import ctx.spark.implicits._
        val base = Seq((i, Seq(i))).toDF("n", "path")
        if (ew.isEmpty) base
        else base.withColumn("edges", array().cast(
          "array<struct<s:string,p:string,o:string>>"))
      }
      def edgeStrW: Column = concat_ws(";", transform(col("edges"),
        e => concat_ws("|", e.getField("s"), e.getField("p"), e.getField("o"))))
      // Edge objects ride on the canonical witness walk, so they require
      // the (bound source, free dest, witness) shape — fail loudly at
      // plan time rather than silently never binding the variable
      // (mirrors PathAllQ's bound-source requirement).
      (x, y, _witness) match {
        case (Node(_), V(_), Some(_)) => // supported
        case _ => require(ew.isEmpty,
          "path: edge-object variable requires a bound IRI source, a " +
            "free destination variable, and a path witness variable — " +
            "use path(Node(...), pat, V(...), witness, edges) or drop " +
            "the edges variable")
      }
      // Bound-VARIABLE walks read the current frame twice — once to
      // derive the seed set (consumed EAGERLY by the iterative walk's
      // per-round checkpoints) and once as the final join side. One
      // localCheckpoint makes both reads hit materialized blocks
      // instead of recomputing the frame's join tree (measured at
      // sf0.1: ~1.5 s off ext_graphql_path's 4-pattern root frame).
      lazy val curCp: BF =
        if (cur.isUnit) cur
        else BF(graft.util.Scratch.trackCheckpoint(
          cur.df.localCheckpoint(true)), cur.vars, cur.isUnit)
      var joinCur: BF = cur
      val bf0 = (x, y, _witness) match {
        case (Node(i), V(n), Some(w)) =>
          // canonical witness per reachable node, bound as node
          // sequence (+ optionally the traversed triples as edge
          // objects — the list belonging to the canonical path)
          val wdf = Paths.stepWitness(pat, seedW(i), ctx)
          val base = Seq(iriVal(col("n")).as(n),
            strVal(concat_ws("/", col("path"))).as(w))
          val cols = base ++ ew.map(v => strVal(edgeStrW).as(v))
          BF(wdf.select(cols: _*), Set(n, w) ++ ew, iriVars = Set(n))
        case (Node(i), V(n), None) =>
          BF(Paths.step(pat, seed(i), ctx).select(iriVal(col("n")).as(n)),
            Set(n), iriVars = Set(n))
        case (V(n), Node(i), _) =>
          BF(Paths.step(Paths.invert(pat), seed(i), ctx)
            .select(iriVal(col("n")).as(n)), Set(n), iriVars = Set(n))
        case (V(a), V(b), _) if cur.vars(a) =>
          // source var already bound by the frame → pair-carrying
          // frontier walk from the binding set (work ∝ reachable set,
          // never the graph's full pair closure); conj then equi-joins
          // the origins back onto the frame
          joinCur = curCp
          val seeds = curCp.df
            .select(col(a).getField("iri").as("orig"))
            .where(col("orig").isNotNull).distinct()
            .select(col("orig"), col("orig").as("n"))
          val walked = Paths.step(pat, seeds, ctx)
          BF(walked.select(iriVal(col("orig")).as(a), iriVal(col("n")).as(b)),
            Set(a, b), iriVars = Set(a, b))
        case (V(a), V(b), _) if cur.vars(b) =>
          // bound destination: same walk over the inverted pattern
          joinCur = curCp
          val seeds = curCp.df
            .select(col(b).getField("iri").as("orig"))
            .where(col("orig").isNotNull).distinct()
            .select(col("orig"), col("orig").as("n"))
          val walked = Paths.step(Paths.invert(pat), seeds, ctx)
          BF(walked.select(iriVal(col("orig")).as(b), iriVal(col("n")).as(a)),
            Set(a, b), iriVars = Set(a, b))
        case (V(a), V(b), _) =>
          val pairs = Paths.compile(pat, ctx)
          BF(pairs.select(iriVal(col("src")).as(a), iriVal(col("dst")).as(b)),
            Set(a, b), iriVars = Set(a, b))
        case (Node(i), Node(j), _) =>
          BF(Paths.step(pat, seed(i), ctx).filter(col("n") === j).select(), Set.empty)
        case _ => throw new IllegalArgumentException("path: endpoints must be IRIs or vars")
      }
      conj(joinCur, bf0)

    case PathAllQ(x, pat, y, w, ew) =>
      // exhaustive enumeration: one solution per distinct path from the
      // bound source (witness = node sequence; optionally also the edge
      // list — each traversed triple as an "s|p|o" term, matching the
      // reference's edge-object witness shape). Destination may be a
      // var or a bound IRI (filter).
      def seedW(i: String) = {
        import ctx.spark.implicits._
        val base = Seq((i, Seq(i))).toDF("n", "path")
        if (ew.isEmpty) base
        else base.withColumn("edges", array().cast(
          "array<struct<s:string,p:string,o:string>>"))
      }
      def edgeStr: Column = concat_ws(";", transform(col("edges"),
        e => concat_ws("|", e.getField("s"), e.getField("p"), e.getField("o"))))
      val bf0 = (x, y) match {
        case (Node(i), V(n)) =>
          val all = Paths.stepAllPaths(pat, seedW(i), ctx)
          val base = Seq(iriVal(col("n")).as(n),
            strVal(concat_ws("/", col("path"))).as(w))
          val cols = base ++ ew.map(v => strVal(edgeStr).as(v))
          BF(all.select(cols: _*), Set(n, w) ++ ew, iriVars = Set(n))
        case (Node(i), Node(j)) =>
          val all = Paths.stepAllPaths(pat, seedW(i), ctx).filter(col("n") === j)
          val cols = strVal(concat_ws("/", col("path"))).as(w) +:
            ew.map(v => strVal(edgeStr).as(v)).toSeq
          BF(all.select(cols: _*), Set(w) ++ ew)
        case _ => throw new IllegalArgumentException(
          "path_all: source endpoint must be a bound IRI")
      }
      conj(cur, bf0)

    case PathDistQ(x, pat, y, d) =>
      // min-hop BFS (Paths.shortest): bound source → seeded single-origin
      // walk; both vars → multi-source walk from every step source
      // (budget-guarded, same regime as the unbounded closure)
      def seed(i: String) = {
        import ctx.spark.implicits._
        Seq(i).toDF("n")
      }
      val bf0 = (x, y) match {
        case (Node(i), V(n)) =>
          val sp = Paths.shortest(pat, Some(seed(i)), ctx)
          BF(sp.select(iriVal(col("dst")).as(n), lngVal(col("dist")).as(d)),
            Set(n, d), iriVars = Set(n))
        case (V(a), V(b)) =>
          val sp = Paths.shortest(pat, None, ctx)
          BF(sp.select(iriVal(col("src")).as(a), iriVal(col("dst")).as(b),
            lngVal(col("dist")).as(d)), Set(a, b, d), iriVars = Set(a, b))
        case (Node(i), Node(j)) =>
          val sp = Paths.shortest(pat, Some(seed(i)), ctx).filter(col("dst") === j)
          BF(sp.select(lngVal(col("dist")).as(d)), Set(d))
        case _ => throw new IllegalArgumentException(
          "path_dist: endpoints must be a bound IRI source or two vars")
      }
      conj(cur, bf0)
  }

  /** Peephole rewrite (the one logical optimization Catalyst can't see
    * through our API): group_by immediately consumed by sum/length, with
    * the list otherwise unused, fuses into a direct grouped aggregate —
    * no per-group array materialization. Mirrors what the reference's
    * users get from its count/sum over group_by idiom, but shuffle-lean. */
  private def fuse(qs: List[Woql]): List[Woql] = qs match {
    case GroupBy(tmpl, by, q, l1) :: SumList(l2, s) :: rest
        if l1 == l2 && tmpl.size == 1 && !mentions(rest, l1) =>
      GroupAgg("sum", tmpl, by, q, s) :: fuse(rest)
    case GroupBy(tmpl, by, q, l1) :: LengthList(l2, nv) :: rest
        if l1 == l2 && !mentions(rest, l1) =>
      GroupAgg("count", tmpl, by, q, nv) :: fuse(rest)
    case h :: t => h :: fuse(t)
    case Nil    => Nil
  }

  /** Conservative check whether any op in `qs` references string `v`
    * anywhere (generic product scan — false positives only disable an
    * optimization, never break semantics). */
  private def mentions(qs: Seq[Woql], v: String): Boolean = {
    def scan(x: Any): Boolean = x match {
      case s: String => s == v
      case p: Product => p.productIterator.exists(scan)
      case it: Iterable[_] => it.exists(scan)
      case _ => false
    }
    qs.exists(scan)
  }

  /** Numeric content of a list element that is either a value struct or a
    * single-field template struct wrapping one. */
  private def sumElemNum(x: Column): Column = {
    // template structs from group_by have exactly one field holding a value
    // struct; plain value structs have field "k". Try value-struct shape
    // first, fall back to first-field access at analysis time is not
    // possible generically — the compiler wraps group_by single-var
    // templates so elements here are value structs.
    coalesce(x.getField("dbl"), x.getField("lng").cast(DoubleType),
      x.getField("dec").cast(DoubleType))
  }
}

/** Optional unbound-predicate skew pre-flight (SURVEY §7.5's "never
  * join with unbound p silently", wired per the r14 verdict): arm it
  * by setting system property `graft.preflight.skew` (or env
  * `GRAFT_PREFLIGHT_SKEW`) to a skew-ratio threshold. Before a triple
  * pattern whose PREDICATE is an unbound variable joins into the
  * binding frame — the pattern that scans EVERY predicate partition
  * and routinely hides a pathological join key — the subject-key skew
  * profile of the scan runs ([[graft.operators.Warehouse.skewProfile]],
  * a one-aggregate job whose result is one row) and a warning naming
  * the heaviest subject is emitted when max/mean exceeds the
  * threshold. Off by default: the probe is a deliberate pre-flight a
  * pipeline arms for suspicious queries, not a per-run tax. */
object Preflight {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions.{col, struct}

  /** Last emitted warning (None when the armed probe found the scan
    * under-threshold) — observable for tests and batch reports. */
  @volatile var lastWarning: Option[String] = None

  /** Last join-cardinality warning (None when the armed probe found
    * the estimated join output under-threshold). */
  @volatile var lastJoinWarning: Option[String] = None

  /** Parse an armed threshold, with a clear message on a malformed
    * value (a bare `.toDouble` NumberFormatException names nothing). */
  private def armedThreshold(prop: String, env: String): Option[Double] =
    sys.props.get(prop).orElse(sys.env.get(env)).map { v =>
      try v.toDouble
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$prop (or $env) must be a numeric threshold, got '$v'")
      }
    }

  // probe memos: the PROFILE row caches per canonical data plan (the
  // content-keyed artifact-cache discipline, per the r15 advisor — a
  // query compiled repeatedly paid a full-corpus job per compile);
  // the threshold compare stays per call, so re-arming with a new
  // threshold reuses the cached profile. BOUNDED (256-entry LRU, r16
  // advisor: the raw ConcurrentHashMap grew without bound over a long
  // session) and INVALIDATED by the store mutation points via
  // [[invalidate]] — a plan key does not see recommitted layer /
  // re-encoded cache content, so a stale profile would mis-arm.
  private final class Lru[V](max: Int)
      extends java.util.LinkedHashMap[String, V](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, V]): Boolean = size() > max
  }
  private val skewMemo: java.util.Map[String, Option[Row]] =
    java.util.Collections.synchronizedMap(new Lru[Option[Row]](256))
  private val cardMemo: java.util.Map[String, Option[Row]] =
    java.util.Collections.synchronizedMap(new Lru[Option[Row]](256))

  /** Drop every memoized profile. Called by the data mutation points
    * (layer-store commit, EAV encode): the memo key is the CANONICAL
    * PLAN, which cannot see content changes underneath it — after a
    * commit or re-encode the cached skew/cardinality row describes
    * data that no longer exists and an armed warning would misfire or
    * stay silent. Long sessions also rely on this (plus the LRU
    * bound) to keep the memos from accumulating without limit. */
  def invalidate(): Unit = { skewMemo.clear(); cardMemo.clear() }

  private[core] def unboundP(scan: DataFrame, desc: String): Unit =
    armedThreshold("graft.preflight.skew", "GRAFT_PREFLIGHT_SKEW")
      .foreach { threshold =>
        val top = skewMemo.computeIfAbsent(
          graft.llm.Clustering.planKey(scan),
          _ => graft.operators.Warehouse.skewProfile(scan, col("s"), 1)
            .collect().headOption)
        lastWarning = top.flatMap { r =>
          val ratio = r.getAs[Double]("skew_ratio")
          if (ratio >= threshold) {
            val msg = s"[graft][preflight] unbound-predicate pattern $desc " +
              s"scans ALL predicates; subject join key is skewed: heaviest " +
              s"s=${r.get(r.fieldIndex("key"))} (${r.getAs[Long]("cnt")} rows, " +
              s"skew_ratio=$ratio >= $threshold over ${r.getAs[Long]("n_keys")} " +
              "keys) — bind p, use a star pattern, or salt the join"
            System.err.println(msg)
            Some(msg)
          } else None
        }
      }

  /** Armed (`graft.preflight.joincard=<est output rows>`) exact
    * join-cardinality pre-flight on `and`-chain equi-joins: when BOTH
    * sides exceed the bounded-probe floor, Σ c_A(k)·c_B(k) over the
    * shared-variable key ([[graft.operators.Warehouse.joinCardinality]]
    * — keys-sized work, never the join) estimates the output and warns
    * naming the heaviest multiplying key. Catalyst's one blind spot on
    * EAV self-joins without stats (SURVEY §4.1). Off by default. */
  private[core] def joinCard(l: DataFrame, r: DataFrame,
                             shared: Seq[String]): Unit =
    armedThreshold("graft.preflight.joincard", "GRAFT_PREFLIGHT_JOINCARD")
      .foreach { threshold =>
        // broadcast-sized sides multiply harmlessly — bounded probes
        // (CollectLimit stops at floor+1 rows) skip them cheaply
        val floor = sys.props.get("graft.preflight.joincard.floor")
          .map(_.toInt).getOrElse(10000)
        def big(d: DataFrame): Boolean = d.limit(floor + 1).count() > floor
        if (big(l) && big(r)) {
          val key = graft.llm.Clustering.planKey(l) + " " +
            graft.llm.Clustering.planKey(r) + " " + shared.mkString(",")
          val keyCol = struct(shared.map(col): _*)
          val top = cardMemo.computeIfAbsent(key,
            _ => graft.operators.Warehouse
              .joinCardinality(l, keyCol, r, keyCol, 1).collect().headOption)
          lastJoinWarning = top.flatMap { row =>
            val est = row.getAs[Long]("est_rows")
            if (est >= threshold) {
              val msg = s"[graft][preflight] and-join on " +
                s"(${shared.mkString(", ")}) estimates $est output rows " +
                s">= $threshold (left ${row.getAs[Long]("left_rows")} rows/" +
                s"${row.getAs[Long]("left_keys")} keys, right " +
                s"${row.getAs[Long]("right_rows")} rows/" +
                s"${row.getAs[Long]("right_keys")} keys); heaviest key " +
                s"${row.get(row.fieldIndex("key"))} contributes " +
                s"${row.getAs[Long]("contrib")} " +
                s"(${row.getAs[Double]("share")} of output) — restrict " +
                "that key, reorder the chain, or salt the join"
              System.err.println(msg)
              Some(msg)
            } else None
          }
        }
      }
}
