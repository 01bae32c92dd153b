package graft.core

/** WOQL-flavored query AST.
  *
  * Operator inventory mirrors the reference's WOQL surface (see
  * SURVEY.md §2; reference modules `core/query/json_woql.pl`,
  * `core/query/woql_compile.pl`, `core/query/path.pl` of
  * terminusdb/terminus-server — capability source only, execution is
  * re-designed Spark-first).
  *
  * Terms: a term in a triple pattern / expression position is either a
  * variable, an IRI node, or a typed literal.
  */
sealed trait Term
final case class V(name: String) extends Term
final case class Node(iri: String) extends Term
sealed trait Lit extends Term
final case class Str(v: String, lang: String = null) extends Lit
final case class Dbl(v: Double) extends Lit
final case class Lng(v: Long) extends Lit
final case class Bool(v: Boolean) extends Lit
final case class Ts(v: java.sql.Timestamp) extends Lit
/** Exact xsd:decimal literal (38,18). */
final case class Dec(v: BigDecimal) extends Lit

/** Arithmetic expression tree for `eval/2` (WOQL `Eval`). */
sealed trait ArithE
final case class ATerm(t: Term) extends ArithE
final case class ABin(op: String, l: ArithE, r: ArithE) extends ArithE // + - * / div exp
final case class AFloor(e: ArithE) extends ArithE

/** Path pattern algebra for `path/4` (reference: core/query/path.pl). */
sealed trait PathPat
final case class PPred(p: String) extends PathPat
final case class PInv(p: String) extends PathPat
final case class PSeq(a: PathPat, b: PathPat) extends PathPat
final case class PAlt(a: PathPat, b: PathPat) extends PathPat
final case class PPlus(p: PathPat) extends PathPat
final case class PStar(p: PathPat) extends PathPat
/** `p` repeated n..m times. Every parser and caller builds one here,
  * so the bounds are checked once, at construction. */
final case class PTimes(p: PathPat, n: Int, m: Int) extends PathPat {
  require(n >= 0 && m >= 1 && n <= m,
    s"times($n,$m) out of range: need 0 <= n <= m and m >= 1")
}

sealed trait Woql

// ---- scans (SURVEY §2.1) ----
final case class TriplePat(s: Term, p: Term, o: Term, g: String = "instance") extends Woql
final case class AddedTriple(s: Term, p: Term, o: Term, commit: String) extends Woql
final case class RemovedTriple(s: Term, p: Term, o: Term, commit: String) extends Woql
/** Tabular CSV input `get(AsVars, Resource)`: bind csv columns to vars. */
final case class GetCsv(asVars: Seq[(String, String)], path: String, header: Boolean = true) extends Woql
/** Tabular CSV output `put(AsVars, Query, Resource)` — eager sink. */
final case class PutCsv(cols: Seq[(String, String)], q: Woql, path: String) extends Woql
/** `get` over a TURTLE resource as bindings ([ref:core/query/
  * resolve_query_resource.pl] turtle branch): one solution per parsed
  * triple, subject/predicate bound as IRIs, object as its typed
  * value. Resource forms match [[GetCsv]] (path, file://, http(s)://,
  * inline: body). */
final case class GetTurtle(s: String, p: String, o: String, path: String) extends Woql
/** `get` over a JSON-lines resource (the reference's panda_json
  * format family): one solution per JSON object, named top-level
  * fields bound as strings (same stringly contract as [[GetCsv]] —
  * `typecast` narrows downstream). */
final case class GetJson(asVars: Seq[(String, String)], path: String) extends Woql
/** `get` over an XML resource (the reference's panda tabular family
  * beyond csv/json): one solution per `rowTag` element, named child
  * elements bound as strings (same stringly contract as [[GetCsv]] —
  * `typecast` narrows downstream). Spark 4 ships the XML source
  * built-in, so the path/file form reads distributed per row tag. */
final case class GetXml(asVars: Seq[(String, String)], path: String, rowTag: String = "row") extends Woql
/** `with(Graph, Resource, Query)` — query-local temp graph loaded from a
  * resource (EAV parquet dir, or CSV with s,p,o columns). */
final case class WithGraph(g: String, resource: String, q: Woql) extends Woql
/** `using(Resource, Query)` — subquery-level resource scoping
  * ([ref:core/query/woql_compile.pl] using/from clauses): triple
  * patterns (and isa/subsumption frames) inside `q` read from the
  * addressed graph — `branch/<name>` or `commit/<id>` of the attached
  * store — while outer bindings keep flowing through. Enables
  * cross-commit joins ("head vs commit X in one query"), the WOQL-level
  * spelling of the HTTP layer's ?branch/?commit time travel. */
final case class Using(resource: String, q: Woql) extends Woql
/** `triple_count(Resource, N)` — triples in a graph. */
final case class TripleCount(g: String, into: String) extends Woql
/** ReadDocument: bind the (flat) JSON document rooted at an IRI —
  * scalar fields only, keys sorted; nested assembly lives in
  * `docs.Documents.read`. */
final case class ReadDocQ(id: Term, into: String) extends Woql

// ---- connectives / joins (§2.3) ----
final case class And(qs: Seq[Woql]) extends Woql
object And { def of(qs: Woql*): And = And(qs.toList) }
final case class Or(qs: Seq[Woql]) extends Woql
object Or { def of(qs: Woql*): Or = Or(qs.toList) }
final case class Not(q: Woql) extends Woql
final case class Opt(q: Woql) extends Woql
final case class Once(q: Woql) extends Woql
/** `immediately(Q)` — the reference's v3 eager-side-effect quirk
  * (reference: core/query/woql_compile.pl immediately clause): run Q's
  * updates without waiting for the surrounding transaction. Our updates
  * are STAGED and commit atomically once per query, so eagerness has no
  * observable effect inside a query — the operator is accepted and
  * compiles to Q itself (documented equivalence, SURVEY §2.3). */
final case class Immediately(q: Woql) extends Woql
/** `when(Cond, Then)` — conditional extension (reference:
  * core/query/woql_compile.pl when clauses): solutions that Cond extends
  * must flow through Then; solutions Cond rejects pass through unchanged
  * with Then-only variables unbound. The v3 conditional-update
  * workhorse: `stage` drops template rows with unbound slots, so a
  * when-driven insert fires only for Cond's solutions. */
final case class WhenQ(cond: Woql, thenQ: Woql) extends Woql
case object True extends Woql
case object False extends Woql

// ---- projection / predicates (§2.2) ----
final case class Select(vars: Seq[String], q: Woql) extends Woql
final case class Distinct(vars: Seq[String], q: Woql) extends Woql
final case class Eq(a: Term, b: Term) extends Woql
final case class Cmp(op: String, a: Term, b: Term) extends Woql // "<" | ">" | "<=" | ">="
final case class LikeSim(a: Term, b: Term, into: String,
    metric: String = "dice") extends Woql // "dice" (default) | "isub"
/** Boolean regex predicate: keep solutions whose textual view of `s`
  * CONTAINS a match of `pattern` (Java regex, unanchored — the partial
  * -match convention GraphQL filter surfaces use). Distinct from
  * ReMatch, which BINDS capture groups and never filters. */
final case class RegexTest(pattern: String, s: Term) extends Woql
final case class Isa(x: Term, cls: Term) extends Woql
final case class Subsumption(sub: Term, sup: Term) extends Woql
final case class TypeOf(x: Term, into: Term) extends Woql

// ---- modifiers / aggregates (§2.4) ----
final case class OrderBy(specs: Seq[(String, Boolean)], q: Woql) extends Woql // (var, ascending)
final case class Limit(n: Long, q: Woql) extends Woql
final case class Start(n: Long, q: Woql) extends Woql
/** group_by(template, groupVars, q, into): into = list of template structs per group. */
final case class GroupBy(template: Seq[String], by: Seq[String], q: Woql, into: String) extends Woql
final case class CountQ(q: Woql, into: String) extends Woql
/** sum(listVar, into) — sum over a bound list (usually a group_by result). */
final case class SumList(listVar: String, into: String) extends Woql
final case class LengthList(listVar: String, into: String) extends Woql
/** Canonical sort of a bound list (stable order for join/output). */
final case class SortListQ(listVar: String, into: String) extends Woql
/** INTERNAL: fused group_by+sum/length when the list itself is unused —
  * produced by the compiler's peephole rewrite, never by users. Avoids
  * materializing per-group lists just to aggregate them. */
final case class GroupAgg(fn: String, template: Seq[String], by: Seq[String],
                          q: Woql, into: String) extends Woql
/** INTERNAL: a grouped count that JOINS BACK into the enclosing
  * conjunction — `into` = per-`by` solution count of the independent
  * sub-query `q`, conj-joined on `by` (inner semantics: a parent with
  * zero matches drops, like every link). Produced by the GraphQL
  * compiler for per-link `_count` fields; unlike [[GroupAgg]] it does
  * NOT collapse the frame to (by, into). */
final case class GroupCount(q: Woql, by: Seq[String], into: String) extends Woql
/** INTERNAL: grouped numeric aggregates that JOIN BACK into the
  * enclosing conjunction — [[GroupCount]]'s shape generalized: each
  * `(fn, valueVar, into)` agg (fn ∈ count|sum|min|max; valueVar None
  * for count) computes over the independent sub-query `q` per `by`
  * and all land in ONE aggregate + ONE conj-join. Produced by the
  * GraphQL compiler for per-link `_sum`/`_min`/`_max` (+`_count`)
  * fields; numeric aggs return xsd:double value structs. */
final case class GroupStats(q: Woql, by: Seq[String],
                            aggs: Seq[(String, Option[String], String)]) extends Woql
/** INTERNAL: per-`by` TOP-K of the independent sub-query `q` under
  * canonical value ordering of the `order` vars (asc flag), conj-joined
  * back into the enclosing conjunction carrying `keep` vars. Rides the
  * native GroupTopK plan (partial bounded heaps, one clustered
  * exchange of ≤ k·partitions rows per group — never a full-group
  * sort). Produced by the GraphQL compiler for per-link orderBy/limit;
  * never by users. */
final case class GroupTopKJoin(q: Woql, by: Seq[String],
                               order: Seq[(String, Boolean)], k: Long,
                               keep: Seq[String]) extends Woql

// ---- scalar ops (§2.6); each binds `into` ----
final case class Eval(expr: ArithE, into: String) extends Woql
final case class ConcatList(parts: Seq[Term], into: String) extends Woql
final case class TrimS(s: Term, into: String) extends Woql
final case class UpperS(s: Term, into: String) extends Woql
final case class LowerS(s: Term, into: String) extends Woql
final case class PadS(s: Term, char: String, len: Term, into: String) extends Woql
final case class SplitS(s: Term, sep: String, into: String) extends Woql // into: list
final case class JoinS(listVar: String, sep: String, into: String) extends Woql
/** substring(s, before, length, after, sub) — xpath-style (SURVEY §2.6). */
final case class SubstrS(s: Term, before: Term, len: Term, intoAfter: String, intoSub: String) extends Woql
final case class ReMatch(pattern: String, s: Term, intoGroups: String) extends Woql
final case class FormatS(pattern: String, args: Seq[Term], into: String) extends Woql
final case class CastQ(v: Term, typ: String, into: String) extends Woql
final case class HashKey(base: String, args: Seq[Term], into: String) extends Woql
final case class LexKey(base: String, args: Seq[Term], into: String) extends Woql
final case class RandomKey(base: String, into: String) extends Woql
/** member(x, list) — generator over a bound list (explode). */
final case class MemberQ(into: String, listVar: String) extends Woql
/** member over an inline list of constants. */
final case class MemberConst(into: String, items: Seq[Term]) extends Woql
/** dot(docVar, field, into) — field access on a JSON string value. */
final case class DotQ(doc: Term, field: String, into: String) extends Woql

// ---- path (§2.7) ----
final case class PathQ(x: Term, pattern: PathPat, y: Term,
                       witness: Option[String] = None,
                       edgesVar: Option[String] = None) extends Woql
/** Exhaustive path-witness enumeration from a bound source: one solution
  * per DISTINCT path (reference: core/query/path.pl enumerates every
  * path; PathQ's witness binds one canonical witness per node). Cycle
  * guard: each plus/star/times repetition refuses to revisit a node it
  * already anchored in the same path — the reference's loop check. */
final case class PathAllQ(x: Term, pattern: PathPat, y: Term, witness: String,
                          edgesVar: Option[String] = None) extends Woql
/** Shortest-path distance: binds, per reachable (x, y) pair, the
  * MINIMUM number of `pattern` steps as `dist` (≥1). The reference's
  * path engine enumerates paths but never exposes hop counts; this is
  * the extension a graph-analytics user reaches for first. */
final case class PathDistQ(x: Term, pattern: PathPat, y: Term, dist: String) extends Woql
