package graft.materialize

import graft.util.Json

/** Property-value normalization, reproducing the reference's
  * `_sanitize_property_value` + `_ensure_jsonable` rules
  * (ref:src/fancyrag/kg/pipeline.py:759-819, 849-855) so row-level equality
  * checks against the reference stay exact (SURVEY.md §1.2):
  *
  *   - null            -> property dropped
  *   - str/int/long/float/double/bool -> rendered as-is
  *   - homogeneous primitive sequence (nulls skipped) -> JSON list
  *   - heterogeneous/nested sequence or any map -> canonical JSON
  *     (keys sorted)
  *   - anything else   -> toString
  *
  * Output is Map[String, String]: graph properties are carried as a
  * MapType(String, String) column, canonical-JSON-encoded where structured.
  */
object PropertySanitizer {

  def sanitize(props: Map[String, Any]): Map[String, String] =
    props.flatMap { case (k, v) => render(v).map(k -> _) }

  def render(v: Any): Option[String] = v match {
    case null     => None
    case None     => None
    case Some(x)  => render(x)
    case s: String => Some(s)
    case b: Boolean => Some(if (b) "true" else "false")
    case n @ (_: Int | _: Long | _: Short | _: Byte) => Some(n.toString)
    case d: Double => Some(renderNum(d))
    case f: Float  => Some(renderNum(f.toDouble))
    case seq: Seq[_] =>
      val kept = seq.filter(x => x != null && x != None)
      if (kept.forall(isPrimitive) && homogeneous(kept))
        Some(kept.map(jsonScalar).mkString("[", ",", "]"))
      else Some(canonicalJson(seq))
    case m: Map[_, _] => Some(canonicalJson(m))
    case other        => Some(other.toString)
  }

  private def isPrimitive(x: Any): Boolean = x match {
    case _: String | _: Boolean | _: Int | _: Long | _: Short | _: Byte |
        _: Double | _: Float => true
    case _ => false
  }

  private def homogeneous(xs: Seq[Any]): Boolean = {
    def kind(x: Any): Int = x match {
      case _: String  => 0
      case _: Boolean => 1
      case _          => 2 // all numerics count as one kind, like JSON
    }
    xs.map(kind).distinct.size <= 1
  }

  private def renderNum(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString

  /** Canonical JSON: object keys sorted (reference json.dumps(sort_keys=True),
    * ref:src/fancyrag/kg/pipeline.py:808,814).
    */
  def canonicalJson(v: Any): String = v match {
    case null    => "null"
    case None    => "null"
    case Some(x) => canonicalJson(x)
    case s: String => Json.str(s)
    case b: Boolean => if (b) "true" else "false"
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => renderNum(d)
    case f: Float  => renderNum(f.toDouble)
    case seq: Seq[_] => seq.map(canonicalJson).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq
        .map { case (k, x) => (String.valueOf(k), canonicalJson(x)) }
        .sortBy(_._1)
        .map { case (k, j) => Json.str(k) + ":" + j }
        .mkString("{", ",", "}")
    case other => Json.str(other.toString)
  }

  private def jsonScalar(x: Any): String = x match {
    case s: String => Json.str(s)
    case other     => canonicalJson(other)
  }
}
