package graft.core

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.util.Fixpoint.{cp, unionAll, walk}

/** Regular path query engine (reference: core/query/path.pl — pattern
  * algebra pred / inverse / seq / or / plus / star / times).
  *
  * The reference solves RPQs by Prolog search with per-solution cycle
  * sets. Spark-first redesign: compile the pattern to relational algebra
  * over an edge DataFrame `(src, dst)`; unbounded repetition becomes
  * **semi-naive iterative frontier expansion** (delta-only joins, result
  * accumulated distinct, `localCheckpoint` every few rounds to cut
  * lineage — SURVEY §2.7). This keeps the whole loop as DataFrame joins
  * that scale out, rather than a driver-side traversal.
  */
object Paths {

  /** Depth cap of the doubling all-pairs closure and of all-paths
    * enumeration; the frontier walks need none. */
  private val MaxIters = 64

  private def edges(p: String, ctx: Ctx): DataFrame =
    ctx.triples
      .filter(col("g") === "instance" && col("p") === p && col("o_kind") === "i")
      .select(col("s").as("src"), col("o_iri").as("dst"))

  /** Compose two pair-relations: a.dst = b.src. */
  private def compose(a: DataFrame, b: DataFrame): DataFrame = {
    val br = b.withColumnRenamed("src", "__m").withColumnRenamed("dst", "__d")
    a.join(br, col("dst") === col("__m"))
      .select(col("src"), col("__d").as("dst"))
  }

  /** Drop every cached step relation (test isolation / session end).
    * Clears the whole [[graft.util.FrameCache]], folded commits too. */
  def clearRelCache(): Unit = graft.util.FrameCache.clear()

  /** The materialized one-step relation for an iterative walk. A long-
    * running engine re-runs path queries against the same immutable
    * graph constantly, so when the context carries a stable graph key
    * the relation is memoized in [[graft.util.FrameCache]] (the same
    * artifact-memoization contract as the BPE merge table and the IVF
    * codebooks). A relation over the cache's row bound, or one over an
    * unkeyed context, is a query-scoped tracked checkpoint. */
  private def stepRelation(pat: PathPat, ctx: Ctx): DataFrame =
    ctx.graphKey match {
      case Some(gk) =>
        val key = s"$gk|$pat"
        graft.util.FrameCache.get(ctx.spark, key).getOrElse {
          val df = graft.util.FrameCache.checkpoint(compile(pat, ctx).distinct())
          if (df.count() > graft.util.FrameCache.maxRows)
            graft.util.Scratch.trackCheckpoint(df)
          else graft.util.FrameCache.put(ctx.spark, key, df)
        }
      case None => cp(compile(pat, ctx).distinct())
    }

  /** Unbounded-closure budget. With BOTH endpoints free, plus/star is
    * all-pairs reachability: cost ∝ |closure| (potentially |V|²), not
    * the answer a user usually wants — at 100 TB that query is almost
    * always a mistake. Guard: refuse when the base step relation
    * exceeds the budget, pointing at the bound-endpoint frontier walk
    * (work ∝ reachable set, Explain-visibly seeded). Deliberate
    * all-pairs runs raise GRAFT_CLOSURE_MAX_EDGES. */
  private def closureBudget: Long =
    sys.props.get("graft.closure.maxEdges")
      .orElse(sys.env.get("GRAFT_CLOSURE_MAX_EDGES"))
      .map(_.toLong).getOrElse(50000000L)

  /** Transitive closure of `e` by semi-naive iteration (1+ hops). */
  private def closure(e0: DataFrame): DataFrame = {
    val e = cp(e0.distinct())
    val nEdges = e.count()
    require(nEdges <= closureBudget,
      s"unbounded plus/star closure over $nEdges edges exceeds " +
        s"GRAFT_CLOSURE_MAX_EDGES=$closureBudget — bind one path endpoint " +
        "(seeded frontier expansion) or raise the budget for a deliberate " +
        "all-pairs run")
    // PATH-DOUBLING semi-naive: compose the frontier with the WHOLE
    // accumulated closure, not the base step. After round k the
    // accumulator holds every pair at distance ≤ 2^k and the frontier
    // exactly those in (2^(k-1), 2^k] — a pair at distance
    // l ∈ (2^k, 2^(k+1)] splits at the node exactly 2^k hops from its
    // source (prefix ∈ frontier, suffix ≤ 2^k ∈ accumulator), so each
    // round DOUBLES the covered distance: ⌈log₂(diameter)⌉ rounds and
    // as many sync barriers instead of diameter of them. Per-round
    // join cost grows (|frontier| ⋈ |closure-so-far| vs |e|), but the
    // closure budget above already bounds |closure|, and halving the
    // round count halves the driver sync + checkpoint floor that
    // dominates the long-diameter case.
    val chunks = scala.collection.mutable.ArrayBuffer(e)
    var frontier = e
    var i = 0
    var done = false
    while (!done && i < MaxIters) {
      i += 1
      val acc = unionAll(chunks.toSeq)
      val next = cp(compose(frontier, acc).distinct()
        .join(acc, Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) done = true
      else {
        chunks += next
        frontier = next
      }
    }
    unionAll(chunks.toSeq)
  }

  /** The zero-length pair (n, n) of every node in any edge of the
    * instance graph. */
  private def identityPairs(ctx: Ctx): DataFrame = {
    val t = ctx.triples.filter(col("g") === "instance")
    t.select(col("s").as("n"))
      .unionByName(t.filter(col("o_kind") === "i").select(col("o_iri").as("n")))
      .distinct()
      .select(col("n").as("src"), col("n").as("dst"))
  }

  /** Compile a path pattern to a pair relation (src, dst). */
  def compile(pat: PathPat, ctx: Ctx): DataFrame = pat match {
    case PPred(p) => edges(p, ctx)
    case PInv(p)  => edges(p, ctx).select(col("dst").as("src"), col("src").as("dst"))
    case PSeq(a, b) => compose(compile(a, ctx), compile(b, ctx))
    case PAlt(a, b) => compile(a, ctx).unionByName(compile(b, ctx))
    case PPlus(p) => closure(compile(p, ctx))
    case PStar(p) =>
      closure(compile(p, ctx)).unionByName(identityPairs(ctx)).distinct()
    case PTimes(p, n, m) =>
      val one = cp(compile(p, ctx).distinct())
      timesRange(n, m, identityPairs(ctx), one)(
        cur => cp(compose(cur, one).distinct())).distinct()
  }

  /** `times(n, m)` in every evaluation mode: the union of lengths n..m,
    * where `one` is length 1, `more` adds one application and `zero`
    * (read only when n = 0) is length 0. */
  private def timesRange(n: Int, m: Int, zero: => DataFrame, one: DataFrame)
                        (more: DataFrame => DataFrame): DataFrame = {
    val lengths = Iterator.iterate(one)(more).take(m).toList
    ((if (n == 0) List(zero) else Nil) ::: lengths.drop(n - 1))
      .reduceLeft(_ unionByName _)
  }

  /** Public helper for tests: closure of an arbitrary pair DataFrame. */
  def transitiveClosure(e: DataFrame): DataFrame = closure(e)

  // ---- endpoint-restricted evaluation (SURVEY §4.1: "early bound-side
  // restriction") ------------------------------------------------------
  //
  // When one endpoint of path(X, pat, Y) is bound, computing the FULL
  // closure and then filtering throws away almost all the work — at
  // scale it is the difference between O(reachable-set) and
  // O(all-pairs). Instead we walk frontiers from the bound side:
  // `step` maps a frontier through one application of the pattern, and
  // repetition operators run the semi-naive [[graft.util.Fixpoint.walk]],
  // which stops when a round finds nothing new (no depth cap).

  /** Mirror a pattern for walking from the destination side. */
  def invert(p: PathPat): PathPat = p match {
    case PPred(x)   => PInv(x)
    case PInv(x)    => PPred(x)
    case PSeq(a, b) => PSeq(invert(b), invert(a))
    case PAlt(a, b) => PAlt(invert(a), invert(b))
    case PPlus(x)   => PPlus(invert(x))
    case PStar(x)   => PStar(invert(x))
    case PTimes(x, n, m) => PTimes(invert(x), n, m)
  }

  /** One application of the pattern to `frontier`: one row per reached
    * node `n` and the frontier's other columns, which pass through.
    * Those carry an origin `orig` when a bound VARIABLE seeds the walk,
    * so each origin explores independently: work ∝ nodes reachable from
    * the bindings, instead of the full pair closure of the graph joined
    * afterwards (at 100 TB the closure is |V|²-shaped, the frontier walk
    * is answer-shaped). */
  def step(pat: PathPat, frontier: DataFrame, ctx: Ctx): DataFrame = pat match {
    case PPred(p) => hop(frontier, edges(p, ctx), "src", "dst")
    case PInv(p)  => hop(frontier, edges(p, ctx), "dst", "src")
    case PSeq(a, b) => step(b, step(a, frontier, ctx), ctx)
    case PAlt(a, b) =>
      step(a, frontier, ctx).unionByName(step(b, frontier, ctx)).distinct()
    case PPlus(p) => reach(p, frontier, ctx, includeZero = false)
    case PStar(p) => reach(p, frontier, ctx, includeZero = true)
    case PTimes(p, n, m) =>
      timesRange(n, m, frontier, cp(step(p, frontier, ctx)))(
        cur => cp(step(p, cur, ctx))).distinct()
  }

  /** Frontier rows moved along pair relation `e`, from its `from` column
    * to its `to` column. */
  private def hop(frontier: DataFrame, e: DataFrame, from: String,
                  to: String): DataFrame =
    frontier.join(e, col("n") === col(from))
      .select(frontier.columns.filter(_ != "n").map(col) :+ col(to).as("n"): _*)
      .distinct()

  /** Minimum-hop distances over `pat`: one row `(src, dst, dist)` per
    * pair reachable in 1+ repetitions of the step relation, `dist` =
    * fewest steps. The walk anti-joins each round against the
    * discovered set, so a pair is recorded exactly once, at its FIRST
    * (= minimal) distance — no min-aggregate over enumerated paths, and
    * per-round work ∝ the new frontier, not the closure so far. `seeds`
    * (an "n" column of origin nodes) bounds the walk to origins of
    * interest; None = every step-relation source (multi-source
    * all-distances, guarded by the same budget as the unbounded
    * closure, since it is one). */
  def shortest(pat: PathPat, seedsOpt: Option[DataFrame], ctx: Ctx): DataFrame = {
    val rel = stepRelation(pat, ctx)
    val origins = seedsOpt.getOrElse {
      val n = rel.count()
      require(n <= closureBudget,
        s"all-sources shortest-path over $n step edges exceeds " +
          s"GRAFT_CLOSURE_MAX_EDGES=$closureBudget — bind the source " +
          "endpoint or raise the budget for a deliberate all-pairs run")
      rel.select(col("src").as("n"))
    }
    walk(origins.select(col("n").as("orig"), col("n")), Seq("orig", "n"),
        seedsSeen = false, dist = true)(hop(_, rel, "src", "dst"))
      .select(col("orig").as("src"), col("n").as("dst"), col("dist"))
  }

  // ---- witness-carrying expansion --------------------------------------
  //
  // path(X, pat, Y, Witness): the reference enumerates every distinct
  // path (exponential in cyclic graphs). Our distributed variant binds
  // ONE canonical witness per reachable node — the lexicographically
  // least among shortest-first discoveries (deterministic, linear in
  // the reachable set); documented divergence. Witness = node sequence.

  private def dedupW(df: DataFrame): DataFrame =
    if (df.columns.contains("edges"))
      // canonical = least PATH; its edge list rides along inside the
      // min-struct (path is the struct's leading field, so struct-min
      // IS path-min, edges resolved by the same winner)
      df.groupBy(col("n"))
        .agg(min(struct(col("path"), col("edges"))).as("__pe"))
        .select(col("n"), col("__pe.path").as("path"),
          col("__pe.edges").as("edges"))
    else df.groupBy(col("n")).agg(min(col("path")).as("path"))

  /** Optional EDGE-OBJECT witness: when the frontier carries an `edges`
    * column, each traversal appends the UNDERLYING TRIPLE as an
    * (s, p, o) struct — the reference binds witness paths as edge
    * lists; node sequences (the `path` column) stay the default. An
    * inverse step still records the stored direction, (src, p, dst),
    * whichever way the pattern walked it. */
  private def withEdge(frontier: DataFrame, p: String): Seq[Column] =
    if (frontier.columns.contains("edges"))
      Seq(concat(col("edges"), array(struct(col("src").as("s"),
        lit(p).as("p"), col("dst").as("o")))).as("edges"))
    else Nil

  /** One pattern application carrying witness node-paths. */
  def stepWitness(pat: PathPat, frontier: DataFrame, ctx: Ctx): DataFrame = pat match {
    case PPred(p) => dedupW(frontier
      .join(edges(p, ctx), col("n") === col("src"))
      .select(col("dst").as("n") +:
        concat(col("path"), array(col("dst"))).as("path") +:
        withEdge(frontier, p): _*))
    case PInv(p) => dedupW(frontier
      .join(edges(p, ctx), col("n") === col("dst"))
      .select(col("src").as("n") +:
        concat(col("path"), array(col("src"))).as("path") +:
        withEdge(frontier, p): _*))
    case PSeq(a, b) => stepWitness(b, stepWitness(a, frontier, ctx), ctx)
    case PAlt(a, b) => dedupW(
      stepWitness(a, frontier, ctx).unionByName(stepWitness(b, frontier, ctx)))
    case PPlus(p) => reachWitness(p, frontier, ctx, includeZero = false)
    case PStar(p) => reachWitness(p, frontier, ctx, includeZero = true)
    case PTimes(p, n, m) =>
      dedupW(timesRange(n, m, frontier, cp(stepWitness(p, frontier, ctx)))(
        cur => cp(stepWitness(p, cur, ctx))))
  }

  /** [[reach]] carrying witnesses: the walk keys on `n` alone, so each
    * node keeps the witness of the round that first reached it. */
  private def reachWitness(pat: PathPat, seeds: DataFrame, ctx: Ctx,
                           includeZero: Boolean): DataFrame =
    walk(seeds, Seq("n"), seedsSeen = includeZero)(stepWitness(pat, _, ctx))

  // ---- exhaustive path enumeration (PathAllQ) --------------------------
  //
  // One row PER DISTINCT PATH from a bound source, not one per reachable
  // node (the reference enumerates every path; [[stepWitness]] binds one
  // canonical witness). Frontier rows are (n, path, outer anchors…).
  // Cycle guard: each plus/star/times repetition carries its OWN anchor
  // column and refuses to revisit a node it anchored on the same path —
  // the reference's loop check (core/query/path.pl), which keeps the
  // walk finite on cyclic graphs while seq/alt compose freely. Path
  // counts can still be exponential in pathological diamonds; the
  // MaxIters depth cap bounds the iteration, and enumeration is meant
  // for bounded/acyclic patterns (SURVEY §2.7).

  private val anchSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Enumeration budget for PathAllQ. The per-repetition cycle anchors
    * keep each walk finite, but path COUNTS still go exponential in
    * diamond-dense graphs (2^k paths through k diamonds) — a budget on
    * rows enumerated per repetition converts that blow-up into an
    * actionable error instead of an executor OOM. Deliberate large
    * enumerations raise GRAFT_PATH_ALL_MAX_PATHS. */
  private def allPathsBudget: Long =
    sys.props.get("graft.path.all.maxPaths")
      .orElse(sys.env.get("GRAFT_PATH_ALL_MAX_PATHS"))
      .map(_.toLong).getOrElse(2000000L)

  private def extendAll(frontier: DataFrame, e: DataFrame, p: String,
                        fromCol: String, toCol: String): DataFrame = {
    val keep = frontier.columns
      .filterNot(c => c == "n" || c == "path" || c == "edges").map(col)
    frontier.join(e, col("n") === col(fromCol))
      .select(col(toCol).as("n") +:
        concat(col("path"), array(col(toCol))).as("path") +:
        (withEdge(frontier, p) ++ keep.toSeq): _*)
  }

  /** All distinct paths from `frontier` rows via one pattern application.
    * Extra frontier columns (outer repetition anchors) pass through. */
  def stepAllPaths(pat: PathPat, frontier: DataFrame, ctx: Ctx): DataFrame = pat match {
    case PPred(p) => extendAll(frontier, edges(p, ctx), p, "src", "dst")
    case PInv(p)  => extendAll(frontier, edges(p, ctx), p, "dst", "src")
    case PSeq(a, b) => stepAllPaths(b, stepAllPaths(a, frontier, ctx), ctx)
    case PAlt(a, b) =>
      stepAllPaths(a, frontier, ctx).unionByName(stepAllPaths(b, frontier, ctx))
    case PPlus(p)  => repeatAll(p, frontier, ctx, minLen = 1, maxLen = MaxIters)
    case PStar(p)  => repeatAll(p, frontier, ctx, minLen = 0, maxLen = MaxIters)
    case PTimes(p, n, m) => repeatAll(p, frontier, ctx, minLen = n, maxLen = m)
  }

  private def repeatAll(pat: PathPat, frontier: DataFrame, ctx: Ctx,
                        minLen: Int, maxLen: Int): DataFrame = {
    val anch = s"__anch${anchSeq.incrementAndGet()}"
    var cur = cp(frontier.withColumn(anch, array(col("n"))))
    var acc: DataFrame = if (minLen == 0) frontier else null
    var len = 0
    var enumerated = 0L
    var done = false
    while (!done && len < math.min(maxLen, MaxIters)) {
      len += 1
      val next = cp(stepAllPaths(pat, cur, ctx)
        .filter(!array_contains(col(anch), col("n")))
        .withColumn(anch, concat(col(anch), array(col("n")))))
      // count is cheap post-checkpoint and doubles as the isEmpty probe
      val n = next.count()
      enumerated += n
      if (enumerated > allPathsBudget)
        throw new IllegalStateException(
          s"all-paths enumeration produced > $allPathsBudget rows " +
            s"(GRAFT_PATH_ALL_MAX_PATHS) at repetition length $len — the " +
            "graph is path-exponential here; use canonical-witness mode " +
            "(PathQ with a witness variable binds ONE shortest witness per " +
            "reachable node, linear in the reachable set) or raise the " +
            "budget for a deliberate exhaustive run")
      if (n == 0) done = true
      else {
        if (len >= minLen) {
          val out = next.drop(anch)
          acc = if (acc == null) out else acc.unionByName(out)
        }
        cur = next
      }
    }
    if (acc == null) frontier.limit(0) else acc
  }

  private def closureFree(p: PathPat): Boolean = p match {
    case PPred(_) | PInv(_) => true
    case PSeq(a, b) => closureFree(a) && closureFree(b)
    case PAlt(a, b) => closureFree(a) && closureFree(b)
    case _ => false
  }

  /** Fixpoint of [[step]] from `seeds` (1+ applications; with
    * `includeZero` the seeds too), keyed on every seed column. For
    * closure-free inner patterns the one-application pair relation is
    * materialized ONCE and reused each round, so rounds only join
    * shrinking frontiers against it instead of re-scanning the triple
    * store per predicate per round. Measured at sf0.1: lazy re-scans
    * cost more than one checkpoint, 7.7 s vs 5.3 s on the 6-predicate
    * closure and 5.8 s vs 4.4 s for 3k bound-variable seeds over a
    * 750k-row relation. */
  private def reach(pat: PathPat, seeds: DataFrame, ctx: Ctx,
                    includeZero: Boolean): DataFrame = {
    val next: DataFrame => DataFrame =
      if (closureFree(pat)) {
        val rel = stepRelation(pat, ctx)
        hop(_, rel, "src", "dst")
      } else step(pat, _, ctx)
    walk(seeds, seeds.columns.toSeq, seedsSeen = includeZero)(next)
  }
}
