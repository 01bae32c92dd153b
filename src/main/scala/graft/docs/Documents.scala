package graft.docs

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.storage.Eav

/** Document layer: JSON documents as subgraphs rooted at an IRI
  * (SURVEY §2.8 / E2; reference: core/document/json.pl — id generation
  * per @key strategy, recursive subdocument expansion, JSON
  * reconstruction from SP-indexed reads).
  *
  * Spark-first: bulk insert parses+expands JSON inside `mapPartitions`
  * (pure function per document, embarrassingly parallel); bulk read is
  * a groupBy(subject) assembly. Single-document read/delete are
  * driver-side conveniences over the same triples.
  */
object Documents {

  sealed trait KeyStrategy
  final case class LexicalKey(fields: Seq[String]) extends KeyStrategy
  final case class HashKey(fields: Seq[String]) extends KeyStrategy
  case object ValueHash extends KeyStrategy
  case object RandomKey extends KeyStrategy
  /** Pin a known id (document update replaces in place). */
  final case class FixedKey(id: String) extends KeyStrategy

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** Canonical rendering used by ValueHash (sorted keys, no spaces). */
  def canonical(j: JValue): String = j match {
    case JObject(fs) => fs.sortBy(_._1)
      .map { case (k, v) => s""""$k":${canonical(v)}""" }.mkString("{", ",", "}")
    case JArray(xs) => xs.map(canonical).mkString("[", ",", "]")
    case JString(s) => s""""$s""""
    case JInt(i) => i.toString
    case JDouble(d) => d.toString
    case JDecimal(d) => d.toString
    case JBool(b) => b.toString
    case JNull => "null"
    case _ => "null"
  }

  def genId(docType: String, j: JObject, key: KeyStrategy): String = key match {
    case LexicalKey(fs) =>
      s"doc:$docType/" + urlEncode(fs.map(f => render(j \ f)).mkString("_"))
    case HashKey(fs) =>
      s"doc:$docType/" + sha256(fs.map(f => render(j \ f)).mkString("_"))
    case ValueHash => s"doc:$docType/" + sha256(canonical(j))
    case RandomKey => s"doc:$docType/" + java.util.UUID.randomUUID().toString
    case FixedKey(id) => id
  }

  private def render(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i) => i.toString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case _ => ""
  }

  /** Expand one parsed document into EAV rows (g = "instance").
    * Nested objects become subdocuments with `parent/field` subjects;
    * arrays expand to one triple per element plus a graft:idx triple on
    * subdocument elements (v10 array-index style). */
  def expand(docType: String, subject: String, j: JObject,
             listFields: Set[String] = Set.empty): Seq[Row] = {
    val typeRow = row(subject, "rdf:type", iri = Some(s"doc:$docType"))
    val fieldRows = j.obj.flatMap { case (field, v) =>
      value(subject, field, v, listFields) }
    typeRow +: fieldRows
  }

  private def value(subject: String, field: String, v: JValue,
                    listFields: Set[String]): Seq[Row] = v match {
    case JString(s)  => Seq(row(subject, s"doc:$field", str = Some(s)))
    case JInt(i)     => Seq(row(subject, s"doc:$field", lng = Some(i.toLong)))
    case JDouble(d)  => Seq(row(subject, s"doc:$field", dbl = Some(d)))
    case JDecimal(d) => Seq(row(subject, s"doc:$field", dbl = Some(d.toDouble)))
    case JBool(b)    => Seq(row(subject, s"doc:$field", bool = Some(b)))
    case JNull       => Seq.empty
    case o: JObject  =>
      val sub = s"$subject/$field"
      row(subject, s"doc:$field", iri = Some(sub)) +: expandSub(sub, o, listFields)
    // `@type: List` fields write ORDERED rdf cons cells
    // ([ref:core/document/json.pl] list handling) — cell subjects stay
    // under the document prefix so read/delete capture them
    case JArray(xs) if listFields(field) =>
      if (xs.isEmpty) Seq(row(subject, s"doc:$field", iri = Some("rdf:nil")))
      else {
        def cell(i: Int) = s"$subject/$field/_l$i"
        val head = row(subject, s"doc:$field", iri = Some(cell(0)))
        head +: xs.zipWithIndex.flatMap { case (x, i) =>
          val restTo = if (i == xs.length - 1) "rdf:nil" else cell(i + 1)
          val rest = row(cell(i), "rdf:rest", iri = Some(restTo))
          val first: Seq[Row] = x match {
            case JString(s) => Seq(row(cell(i), "rdf:first", str = Some(s)))
            case JInt(n)    => Seq(row(cell(i), "rdf:first", lng = Some(n.toLong)))
            case JDouble(d) => Seq(row(cell(i), "rdf:first", dbl = Some(d)))
            case JBool(b)   => Seq(row(cell(i), "rdf:first", bool = Some(b)))
            case o: JObject =>
              val sub = s"${cell(i)}/v"
              row(cell(i), "rdf:first", iri = Some(sub)) +:
                expandSub(sub, o, listFields)
            case _ => Seq.empty
          }
          first :+ rest
        }
      }
    case JArray(xs)  => xs.zipWithIndex.flatMap {
      case (o: JObject, i) =>
        val sub = s"$subject/$field/$i"
        Seq(row(subject, s"doc:$field", iri = Some(sub)),
          row(sub, "graft:idx", lng = Some(i.toLong))) ++ expandSub(sub, o, listFields)
      case (JString(s), _) => Seq(row(subject, s"doc:$field", str = Some(s)))
      case (JInt(n), _)    => Seq(row(subject, s"doc:$field", lng = Some(n.toLong)))
      case (JDouble(d), _) => Seq(row(subject, s"doc:$field", dbl = Some(d)))
      case (JBool(b), _)   => Seq(row(subject, s"doc:$field", bool = Some(b)))
      case _ => Seq.empty
    }
    case _ => Seq.empty
  }

  private def expandSub(subject: String, o: JObject,
                        listFields: Set[String]): Seq[Row] =
    o.obj.flatMap { case (f, v) => value(subject, f, v, listFields) }

  private def row(s: String, p: String, iri: Option[String] = None,
                  str: Option[String] = None, dbl: Option[Double] = None,
                  lng: Option[Long] = None, bool: Option[Boolean] = None): Row =
    Row("instance", s, p,
      if (iri.isDefined) "i" else "l",
      iri.orNull,
      if (iri.isDefined) null
      else if (str.isDefined) "xsd:string"
      else if (dbl.isDefined) "xsd:double"
      else if (lng.isDefined) "xsd:integer"
      else if (bool.isDefined) "xsd:boolean" else null,
      str.orNull,
      dbl.map(java.lang.Double.valueOf).orNull,
      lng.map(java.lang.Long.valueOf).orNull,
      null,
      bool.map(java.lang.Boolean.valueOf).orNull,
      null,
      null)

  /** Bulk insert: Dataset of JSON strings → EAV triples DataFrame.
    * Parsing + id-gen + expansion run inside mapPartitions (scales out;
    * no driver round-trip). */
  def insertAll(docs: Dataset[String], docType: String, key: KeyStrategy,
                listFields: Set[String] = Set.empty): DataFrame = {
    val spark = docs.sparkSession
    val rows = docs.mapPartitions { it =>
      it.flatMap { s =>
        JsonMethods.parse(s) match {
          case o: JObject => expand(docType, genId(docType, o, key), o, listFields)
          case _ => Seq.empty
        }
      }
    }(Encoders.row(Eav.schema))
    spark.createDataFrame(rows.rdd, Eav.schema)
  }

  /** Ordered rdf:List chains from `heads`: `(head → elements in
    * position order)`, each element as a raw value row. POINTER
    * DOUBLING over the `rdf:rest` relation — round k covers positions
    * < 2^k, so a length-n chain costs ⌈log₂ n⌉ distributed joins, not
    * n driver round-trips (the reference walks cons cells one Prolog
    * call at a time; that shape would serialize a long list read).
    * Reachability is seeded from `heads`, so unrelated lists in the
    * graph are touched only through the shared (persisted) jump
    * relation. A malformed CYCLE cannot loop: positions are deduped by
    * min per (head, node), and growth stops when no new node appears. */
  private def consChains(graph: DataFrame, heads: Seq[String])
      : Map[String, Seq[Row]] = {
    if (heads.isEmpty) return Map.empty
    val spark = graph.sparkSession
    import spark.implicits._
    val rest = graph.filter(col("p") === "rdf:rest" && col("o_kind") === "i")
      .select(col("s").as("node"), col("o_iri").as("next"))
    // jump(node, next, len): node's 2^k-step successor after k doublings
    var jump = graft.util.Scratch.trackCheckpoint(
      rest.withColumn("len", lit(1L)).localCheckpoint(true))
    var reach = graft.util.Scratch.trackCheckpoint(heads.toDF("head")
      .select(col("head"), col("head").as("node"), lit(0L).as("pos"))
      .localCheckpoint(true))
    var grew = true
    var rounds = 0
    while (grew && rounds < 40) { // 2^40 positions ≫ any real list
      rounds += 1
      val stepped = reach.join(jump, Seq("node"))
        .select(col("head"), col("next").as("node"), (col("pos") + col("len")).as("pos"))
      val merged = graft.util.Scratch.trackCheckpoint(
        reach.unionByName(stepped)
          .groupBy(col("head"), col("node")).agg(min(col("pos")).as("pos"))
          .localCheckpoint(true))
      grew = merged.count() > reach.count()
      reach = merged
      if (grew)
        jump = graft.util.Scratch.trackCheckpoint(
          jump.as("a").join(jump.as("b"), col("a.next") === col("b.node"))
            .select(col("a.node").as("node"), col("b.next").as("next"),
              (col("a.len") + col("b.len")).as("len"))
            .groupBy(col("node"), col("next")).agg(min(col("len")).as("len"))
            .localCheckpoint(true))
    }
    val firsts = graph.filter(col("p") === "rdf:first")
      .select(col("s").as("node"), col("o_kind"), col("o_iri"), col("o_typ"),
        col("o_str"), col("o_dbl"), col("o_lng"), col("o_bool"))
    reach.filter(col("node") =!= "rdf:nil")
      .join(firsts, Seq("node"))
      .select(col("head"), col("pos"), col("o_kind"), col("o_iri"),
        col("o_typ"), col("o_str"), col("o_dbl"), col("o_lng"), col("o_bool"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (h, rows) => h -> rows.sortBy(_.getLong(1)).toSeq }
  }

  /** Reassemble one document (recursive over subdocument edges;
    * rdf:List cons chains — own writes AND turtle-loaded collections,
    * including blank-node cells outside the subject prefix — re-form
    * as JSON arrays, [ref:core/document/json.pl] list handling).
    *
    * JSON-LD framing options ([ref:core/query/frame.pl] unfold/depth
    * control on document GET):
    *   - `unfold=false` — subdocuments are NOT expanded inline; each
    *     renders as its `@id` string. List cells still re-form as a
    *     JSON array, but subdocument ELEMENTS fold to id strings too.
    *   - `depth=N` — unfold only N levels below the root; a level-N
    *     subdocument value renders as its id string (`depth=0` ≡
    *     `unfold=false`; the default ∞ ≡ today's full unfold).
    * An IRI pointing OUTSIDE the document's own subgraph (a link to
    * another root document) always renders as its id string — links
    * are references, never owned content, so no framing option
    * inlines a foreign document. */
  def read(graph: DataFrame, id: String, unfold: Boolean = true,
           depth: Int = Int.MaxValue): JValue =
    fromRows(graph, id, subjectRows(graph, id), unfold, depth)

  /** The rows [[read]] assembles document `id` from, in ONE collect:
    * `(s, p, o_kind, o_iri, o_typ, o_str, o_dbl, o_lng, o_bool)` of every
    * triple whose subject is `id` or lies under `id/`. */
  def subjectRows(graph: DataFrame, id: String): Array[Row] =
    graph.filter(col("s") === id || col("s").startsWith(id + "/"))
      .select("s", "p", "o_kind", "o_iri", "o_typ", "o_str", "o_dbl", "o_lng", "o_bool")
      .collect()

  /** [[read]] from rows [[subjectRows]] already collected. */
  def fromRows(graph: DataFrame, id: String, triples: Array[Row], unfold: Boolean,
               depth: Int): JValue = {
    val maxDepth = if (unfold) depth else 0
    val have = triples.map(_.getString(0)).toSet
    // list heads: IRI field values that carry rdf:first — in-prefix
    // cells are already collected; out-of-prefix targets (turtle blank
    // nodes) are probed with ONE filter
    val iriTargets = triples.filter(r =>
      r.getString(2) == "i" && r.getString(1) != "rdf:type").map(_.getString(3))
    val inPrefixHeads = iriTargets.filter(t => have(t) &&
      triples.exists(r => r.getString(0) == t && r.getString(1) == "rdf:first"))
    val outTargets = iriTargets.filterNot(have).filter(_ != "rdf:nil").distinct
    val probedHeads: Seq[String] =
      if (outTargets.isEmpty) Seq.empty
      else graph.filter(col("p") === "rdf:first" &&
          col("s").isin(outTargets.toIndexedSeq: _*))
        .select(col("s")).distinct().collect().map(_.getString(0)).toSeq
    val chains = consChains(graph, (inPrefixHeads ++ probedHeads).distinct.toSeq)
    def valueOf(kind: String, oIri: String, oStr: String,
                dblAt: => Option[Double], lngAt: => Option[Long],
                boolAt: => Option[Boolean],
                assembleIri: String => JValue): JValue =
      if (kind == "i") assembleIri(oIri)
      else if (oStr != null) JString(oStr)
      else dblAt.map(JDouble(_): JValue)
        .orElse(lngAt.map(l => JInt(BigInt(l)): JValue))
        .orElse(boolAt.map(JBool(_): JValue))
        .getOrElse(JNull)
    def assemble(subject: String, lvl: Int): JValue = {
      // the framing boundary: an in-prefix subdocument IRI expands
      // only while lvl < maxDepth; at the boundary (or for any
      // out-of-prefix link) the value is the id string
      def frameIri(iri: String): JValue =
        if (have(iri) && lvl < maxDepth) assemble(iri, lvl + 1)
        else JString(iri)
      val mine = triples.filter(_.getString(0) == subject)
      val fields: List[(String, JValue)] = mine.toList.flatMap { r =>
        val p = r.getString(1)
        if (p == "rdf:type" || p == "graft:idx" ||
            p == "rdf:first" || p == "rdf:rest") None
        else {
          // any-prefix strip (doc:, tpch:, …) — same field naming as
          // the WOQL ReadDocument projection, so a document reads the
          // same through both surfaces
          val field = p.replaceFirst("^[^:]*:", "")
          val v: JValue =
            if (r.getString(2) == "i" && r.getString(3) == "rdf:nil")
              JArray(Nil)
            else if (r.getString(2) == "i" && chains.contains(r.getString(3)))
              JArray(chains(r.getString(3)).toList.map { e =>
                valueOf(e.getString(2), e.getString(3), e.getString(5),
                  if (e.isNullAt(6)) None else Some(e.getDouble(6)),
                  if (e.isNullAt(7)) None else Some(e.getLong(7)),
                  if (e.isNullAt(8)) None else Some(e.getBoolean(8)),
                  frameIri)
              })
            else valueOf(r.getString(2), r.getString(3), r.getString(5),
              if (r.isNullAt(6)) None else Some(r.getDouble(6)),
              if (r.isNullAt(7)) None else Some(r.getLong(7)),
              if (r.isNullAt(8)) None else Some(r.getBoolean(8)),
              frameIri)
          Some(field -> v)
        }
      }
      // collapse repeated fields (arrays) back into JArray
      val grouped = fields.groupBy(_._1)
      JObject(fields.map(_._1).distinct.map { f =>
        grouped(f) match {
          case List((_, v)) => f -> v
          case many => f -> JArray(many.map(_._2))
        }
      })
    }
    assemble(id, 0)
  }

  def readJson(graph: DataFrame, id: String, unfold: Boolean = true,
               depth: Int = Int.MaxValue): String =
    JsonMethods.compact(JsonMethods.render(read(graph, id, unfold, depth)))

  /** Paged root-id listing for a document type — id-ordered so paging
    * is DETERMINISTIC across requests (the reference's
    * GET-documents-by-type skip/count contract). Subdocument subjects
    * (`root/...`) never carry the type triple, so only roots list. */
  def listIds(graph: DataFrame, docType: String,
              skip: Int, count: Int): Seq[String] =
    graph.filter(col("p") === "rdf:type" && col("o_kind") === "i" &&
        col("o_iri") === s"doc:$docType")
      .select(col("s")).distinct().orderBy(col("s"))
      .offset(skip).limit(count)
      .collect().map(_.getString(0)).toSeq

  /** Template-matching document query ([ref:core/api/api_document.pl]
    * `query` parameter): root ids of `docType` documents matching a
    * PARTIAL document `template` — conjunctive equality over every
    * leaf the template sets, descending into subdocument templates
    * along the field chain. A scalar leaf against a multi-valued field
    * means set MEMBERSHIP (scalar arrays expand to repeated triples,
    * so equality IS containment); a template JArray constrains every
    * listed element (containment of all of them). `@type` inside a
    * nested template constrains that node's rdf:type; `@id` pins the
    * node's IRI. Ids come back ordered, so skip/count page
    * deterministically like [[listIds]].
    *
    * Scale shape: each template leaf compiles to ONE filtered triple
    * scan (predicate suffix + typed value both pushed to the scan)
    * followed by path-depth equi-joins up the subject chain; the
    * conjunction intersects root sets with inner joins on the root
    * id. The whole match is a single declarative plan — Catalyst/AQE
    * reorder the intersection by observed selectivity, and nothing is
    * collected before the final ordered page. */
  def queryIds(graph: DataFrame, docType: String, template: JValue,
               skip: Int = 0, count: Int = 100): Seq[String] = {
    def leafPred(v: JValue): org.apache.spark.sql.Column = v match {
      case JString(x)  => (col("o_kind") === "l" && col("o_str") === x) ||
        (col("o_kind") === "i" && col("o_iri") === x)
      case JInt(x)     => col("o_lng") === x.toLong
      case JDouble(x)  => col("o_dbl") === x
      case JDecimal(x) => col("o_dbl") === x.toDouble
      case JBool(x)    => col("o_bool") === x
      case other => sys.error(s"unsupported template leaf: $other")
    }
    // flatten the template to (field path, scalar leaf) constraints;
    // a JArray fans out to one constraint per element at the same path
    def leaves(prefix: List[String], v: JValue): List[(List[String], JValue)] =
      v match {
        case JObject(fields) =>
          fields.flatMap { case (f, sub) => leaves(prefix :+ f, sub) }
        case JArray(xs) => xs.flatMap(x => leaves(prefix, x))
        case JNull => Nil
        case leaf => List((prefix, leaf))
      }
    // subjects whose node at `path.init` satisfies the leaf at
    // `path.last`, joined back up the subject chain to the root
    def roots(path: List[String], leaf: JValue): DataFrame = {
      val scan = path.last match {
        case "@type" => graph.filter(col("p") === "rdf:type" &&
          col("o_kind") === "i" && leafPred(leaf match {
            case JString(x) if !x.contains(":") => JString(s"doc:$x")
            case other => other
          }))
        case "@id" => graph.filter(leaf match {
          case JString(x) => col("s") === x
          case other => sys.error(s"@id must be a string, got $other")
        })
        // any-prefix field match — the same naming rule read() strips by
        case f => graph.filter(col("p").endsWith(":" + f) && leafPred(leaf))
      }
      var cur = scan.select(col("s").as("__n")).distinct()
      for (f <- path.init.reverse) {
        cur = graph.filter(col("p").endsWith(":" + f) && col("o_kind") === "i")
          .join(cur, col("o_iri") === col("__n"))
          .select(col("s").as("__n")).distinct()
      }
      cur.select(col("__n").as("__root"))
    }
    val typed = graph.filter(col("p") === "rdf:type" && col("o_kind") === "i" &&
        col("o_iri") === s"doc:$docType")
      .select(col("s").as("__root")).distinct()
    val matched = leaves(Nil, template)
      .filterNot { case (p, l) => // root @type duplicates the route param
        p == List("@type") && l == JString(docType) }
      .foldLeft(typed) { case (acc, (path, leaf)) =>
        require(path.nonEmpty, s"template leaf without a field: $leaf")
        acc.join(roots(path, leaf), Seq("__root"))
      }
    matched.distinct().orderBy(col("__root"))
      .offset(skip).limit(count)
      .collect().map(_.getString(0)).toSeq
  }

  /** Staged removal of a document subgraph. */
  def delete(graph: DataFrame, id: String): DataFrame =
    graph.filter(col("s") === id || col("s").startsWith(id + "/"))

  /** Bulk flat view: one row per document with a map of scalar fields —
    * the analytical "document table" projection. */
  def flatView(graph: DataFrame): DataFrame =
    graph.filter(col("o_kind") === "l")
      // repeated predicates (arrays) first collapse per (s, p) — a map
      // must not see duplicate keys
      .groupBy(col("s"), col("p"))
      .agg(concat_ws(",", sort_array(collect_list(
        coalesce(col("o_str"), col("o_lng").cast("string"),
          col("o_dbl").cast("string"), col("o_bool").cast("string"))))).as("v"))
      .groupBy(col("s"))
      .agg(map_from_entries(collect_list(struct(col("p"), col("v")))).as("fields"))
}
