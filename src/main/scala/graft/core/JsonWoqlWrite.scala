package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods

/** AST → WOQL v10 JSON serializer — the exact inverse of [[JsonWoql]]
  * (reference: core/query/json_woql.pl; v10 serializes each operator as
  * a class object `{"@type": "Select", ...}`). Domain = the wire subset
  * the reader parses: `JsonWoql.parse(JsonWoqlWrite.write(q)) == q` for
  * every supported query, so stored/transported queries round-trip.
  * Engine-internal nodes (GroupAgg, GroupCount) and local-resource ops
  * (get/put/with) raise — they are not part of the reference wire
  * format. */
object JsonWoqlWrite {

  def write(q: Woql): String = JsonMethods.compact(JsonMethods.render(toJson(q)))

  def term(t: Term): JValue = t match {
    case V(n) => JObject("variable" -> JString(n))
    case Node(i) => JObject("node" -> JString(i))
    case Str(s, null) => data("xsd:string", JString(s))
    case Str(s, lang) => data("xsd:string", JString(s), "@language" -> JString(lang))
    case Lng(value) => data("xsd:integer", JInt(BigInt(value)))
    case Dbl(value) => data("xsd:double", JDouble(value))
    // decimal as a STRING literal: JSON doubles cannot carry (38,18)
    case Dec(value) => data("xsd:decimal", JString(value.bigDecimal.toPlainString))
    case Bool(value) => data("xsd:boolean", JBool(value))
    case Ts(value) => data("xsd:dateTime", JString(value.toInstant.toString))
  }

  private def data(typ: String, value: JValue, extra: (String, JValue)*): JValue =
    JObject("data" -> JObject(
      (List("@type" -> JString(typ), "@value" -> value) ++ extra): _*))

  private def v(n: String): JValue = JObject("variable" -> JString(n))

  def path(p: PathPat): JValue = p match {
    case PPred(x) => JObject("@type" -> JString("PathPredicate"), "predicate" -> JString(x))
    case PInv(x) => JObject("@type" -> JString("InversePathPredicate"), "predicate" -> JString(x))
    case s: PSeq =>
      // flatten nested seq/alt the way reduce(PSeq) built them, so the
      // reader's re-reduce reproduces the identical tree
      def flat(q: PathPat): List[PathPat] = q match {
        case PSeq(a, b) => flat(a) :+ b
        case other => List(other)
      }
      JObject("@type" -> JString("PathSequence"),
        "sequence" -> JArray(flat(s).map(path)))
    case a: PAlt =>
      def flat(q: PathPat): List[PathPat] = q match {
        case PAlt(x, y) => flat(x) :+ y
        case other => List(other)
      }
      JObject("@type" -> JString("PathOr"), "or" -> JArray(flat(a).map(path)))
    case PPlus(x) => JObject("@type" -> JString("PathPlus"), "plus" -> path(x))
    case PStar(x) => JObject("@type" -> JString("PathStar"), "star" -> path(x))
    case PTimes(x, n, m) => JObject("@type" -> JString("PathTimes"),
      "times" -> path(x), "from" -> JInt(BigInt(n)), "to" -> JInt(BigInt(m)))
  }

  def arith(e: ArithE): JValue = e match {
    case ATerm(t) => term(t)
    case AFloor(x) => JObject("@type" -> JString("Floor"), "argument" -> arith(x))
    case ABin(op, l, r) =>
      val name = op match {
        case "+" => "Plus"; case "-" => "Minus"; case "*" => "Times"
        case "/" => "Divide"; case "div" => "Div"; case "exp" => "Exp"
        case other => throw new IllegalArgumentException(s"unserializable arith op $other")
      }
      JObject("@type" -> JString(name), "left" -> arith(l), "right" -> arith(r))
  }

  def toJson(q: Woql): JValue = q match {
    case TriplePat(s, p, o, g) =>
      val base = List[JField]("@type" -> JString("Triple"), "subject" -> term(s),
        "predicate" -> term(p), "object" -> term(o))
      JObject(if (g == "instance") base else base :+ JField("graph", JString(g)))
    case AddedTriple(s, p, o, c) => JObject("@type" -> JString("AddedTriple"),
      "subject" -> term(s), "predicate" -> term(p), "object" -> term(o),
      "commit" -> JString(c))
    case RemovedTriple(s, p, o, c) => JObject("@type" -> JString("RemovedTriple"),
      "subject" -> term(s), "predicate" -> term(p), "object" -> term(o),
      "commit" -> JString(c))
    case And(qs) => JObject("@type" -> JString("And"), "and" -> JArray(qs.toList.map(toJson)))
    case Or(qs) => JObject("@type" -> JString("Or"), "or" -> JArray(qs.toList.map(toJson)))
    case Not(x) => JObject("@type" -> JString("Not"), "query" -> toJson(x))
    case Using(res, x) => JObject("@type" -> JString("Using"),
      "collection" -> JString(res), "query" -> toJson(x))
    case Opt(x) => JObject("@type" -> JString("Optional"), "query" -> toJson(x))
    case Once(x) => JObject("@type" -> JString("Once"), "query" -> toJson(x))
    case Immediately(x) => JObject("@type" -> JString("Immediately"), "query" -> toJson(x))
    case WhenQ(c, t) => JObject("@type" -> JString("When"),
      "query" -> toJson(c), "consequent" -> toJson(t))
    case True => JObject("@type" -> JString("True"))
    case Select(vars, x) => JObject("@type" -> JString("Select"),
      "variables" -> JArray(vars.toList.map(JString(_))), "query" -> toJson(x))
    case Distinct(vars, x) => JObject("@type" -> JString("Distinct"),
      "variables" -> JArray(vars.toList.map(JString(_))), "query" -> toJson(x))
    case Eq(a, b) => JObject("@type" -> JString("Equals"), "left" -> term(a), "right" -> term(b))
    case Cmp("<", a, b) => JObject("@type" -> JString("Less"), "left" -> term(a), "right" -> term(b))
    case Cmp(">", a, b) => JObject("@type" -> JString("Greater"), "left" -> term(a), "right" -> term(b))
    case LikeSim(a, b, into, _) => JObject("@type" -> JString("Like"),
      "left" -> term(a), "right" -> term(b), "similarity" -> v(into))
    case Isa(x, cls) => JObject("@type" -> JString("IsA"),
      "element" -> term(x), "of_type" -> term(cls))
    case Subsumption(sub, sup) => JObject("@type" -> JString("Subsumption"),
      "child" -> term(sub), "parent" -> term(sup))
    case TypeOf(x, t) => JObject("@type" -> JString("TypeOf"),
      "value" -> term(x), "type" -> term(t))
    case OrderBy(specs, x) => JObject("@type" -> JString("OrderBy"),
      "ordering" -> JArray(specs.toList.map { case (n, asc) =>
        JObject("variable" -> JString(n),
          "order" -> JString(if (asc) "asc" else "desc"))
      }), "query" -> toJson(x))
    case Limit(n, x) => JObject("@type" -> JString("Limit"),
      "limit" -> JInt(BigInt(n)), "query" -> toJson(x))
    case Start(n, x) => JObject("@type" -> JString("Start"),
      "start" -> JInt(BigInt(n)), "query" -> toJson(x))
    case GroupBy(tmpl, by, x, into) => JObject("@type" -> JString("GroupBy"),
      "template" -> JArray(tmpl.toList.map(JString(_))),
      "group_by" -> JArray(by.toList.map(JString(_))),
      "query" -> toJson(x), "grouped" -> v(into))
    case CountQ(x, into) => JObject("@type" -> JString("Count"),
      "query" -> toJson(x), "count" -> v(into))
    case SumList(l, into) => JObject("@type" -> JString("Sum"),
      "list" -> v(l), "result" -> v(into))
    case LengthList(l, into) => JObject("@type" -> JString("Length"),
      "list" -> v(l), "result" -> v(into))
    case Eval(e, into) => JObject("@type" -> JString("Eval"),
      "expression" -> arith(e), "result" -> v(into))
    case ConcatList(parts, into) => JObject("@type" -> JString("Concatenate"),
      "list" -> JArray(parts.toList.map(term)), "result" -> v(into))
    case TrimS(s, into) => JObject("@type" -> JString("Trim"),
      "untrimmed" -> term(s), "trimmed" -> v(into))
    case UpperS(s, into) => JObject("@type" -> JString("Upper"),
      "mixed" -> term(s), "upper" -> v(into))
    case LowerS(s, into) => JObject("@type" -> JString("Lower"),
      "mixed" -> term(s), "lower" -> v(into))
    case PadS(s, char, len, into) => JObject("@type" -> JString("Pad"),
      "string" -> term(s), "char" -> JString(char), "times" -> term(len),
      "result" -> v(into))
    case SplitS(s, sep, into) => JObject("@type" -> JString("Split"),
      "string" -> term(s), "pattern" -> JString(sep), "list" -> v(into))
    case JoinS(l, sep, into) => JObject("@type" -> JString("Join"),
      "list" -> v(l), "separator" -> JString(sep), "result" -> v(into))
    case SubstrS(s, before, len, after, sub) => JObject("@type" -> JString("Substring"),
      "string" -> term(s), "before" -> term(before), "length" -> term(len),
      "after" -> v(after), "substring" -> v(sub))
    case ReMatch(pat, s, into) => JObject("@type" -> JString("Regexp"),
      "pattern" -> JString(pat), "string" -> term(s), "result" -> v(into))
    case CastQ(x, typ, into) => JObject("@type" -> JString("Typecast"),
      "value" -> term(x), "type" -> JString(typ), "result" -> v(into))
    case HashKey(base, args, into) => JObject("@type" -> JString("HashKey"),
      "base" -> JString(base), "key_list" -> JArray(args.toList.map(term)),
      "uri" -> v(into))
    case LexKey(base, args, into) => JObject("@type" -> JString("LexicalKey"),
      "base" -> JString(base), "key_list" -> JArray(args.toList.map(term)),
      "uri" -> v(into))
    case RandomKey(base, into) => JObject("@type" -> JString("RandomKey"),
      "base" -> JString(base), "uri" -> v(into))
    case MemberQ(into, l) => JObject("@type" -> JString("Member"),
      "member" -> v(into), "list" -> v(l))
    case DotQ(doc, field, into) => JObject("@type" -> JString("Dot"),
      "document" -> term(doc), "field" -> JString(field), "value" -> v(into))
    case PathQ(_, _, _, _, ew) if ew.nonEmpty =>
      // the v10 wire Path has no edge-object slot; dropping the variable
      // silently would make the round-trip lossy with no error
      throw new IllegalArgumentException(
        "Path with an edge-object variable is not expressible in the " +
          "v10 wire format — drop the edges variable before serializing")
    case PathQ(x, pat, y, w, _) =>
      val base = List("@type" -> JString("Path"), "subject" -> term(x),
        "pattern" -> path(pat), "object" -> term(y))
      JObject(w.map(n => base :+ ("path" -> v(n))).getOrElse(base): _*)
    case other => throw new IllegalArgumentException(
      s"not serializable to the v10 wire format: ${other.getClass.getSimpleName}")
  }
}
