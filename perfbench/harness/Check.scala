package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Minimal JSON writing for the result record. */
object Json {
  private val mapper = new ObjectMapper()

  def str(s: String): String = mapper.writeValueAsString(s)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** Expected output of one operation, computed from the gate's DuckDB
  * oracle SQL by `oracle.py`. Rows are keyed by their exact (non-quantile)
  * columns; each quantile column carries the interval of data values the
  * t-digest estimate may take within the sketch's rank error.
  */
final case class Expected(columns: Seq[String], quantiles: Seq[String],
                          rows: Seq[(String, Seq[(Double, Double)])])

object Check {
  def load(path: String): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.fields().asScala.map { e =>
      val n: JsonNode = e.getValue
      def strings(f: String) = n.get(f).elements().asScala.map(_.asText).toSeq
      val rows = n.get("rows").elements().asScala.map { r =>
        r.get(0).asText -> r.get(1).elements().asScala
          .map(b => (b.get(0).asDouble, b.get(1).asDouble)).toSeq
      }.toSeq
      e.getKey -> Expected(strings("columns"), strings("quantiles"), rows)
    }.toMap
  }

  /** Canonical text of one cell, shared with `oracle.py`: integers in
    * decimal, doubles by their IEEE bits (so the comparison is exact and
    * sign-of-zero strict, like the gate), strings verbatim.
    */
  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => "D%016x".format(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => canon(f.toDouble)
    case b: Boolean => s"B$b"
    case n: java.lang.Number => s"I${n.longValue}"
    case s => s"S$s"
  }

  /** Mismatch description, or None when `rows` match `exp`: the same
    * column names, the same multiset of exact-column keys, and every
    * quantile value inside its interval.
    */
  def compare(exp: Expected, schema: StructType, rows: Seq[Row]): Option[String] = {
    val names = schema.fieldNames.toSeq
    if (names.sorted != exp.columns.sorted)
      return Some(s"columns ${names.sorted} != ${exp.columns.sorted}")
    val keyCols = names.filterNot(exp.quantiles.contains).sorted
      .map(schema.fieldIndex)
    val qCols = exp.quantiles.sorted.map(schema.fieldIndex)
    val got = rows.map(r =>
      keyCols.map(i => canon(r.get(i))).mkString("\u0001") ->
        qCols.map(i => r.getDouble(i)))
    if (got.length != exp.rows.length)
      return Some(s"rows ${got.length} != ${exp.rows.length}")
    val want = exp.rows.groupMap(_._1)(_._2)
    val have = got.groupMap(_._1)(_._2)
    have.iterator.map { case (k, vals) =>
      want.get(k) match {
        case None => Some(s"unexpected row ${k.replace('\u0001', '|')}")
        case Some(bounds) if bounds.length != vals.length =>
          Some(s"row count for ${k.replace('\u0001', '|')}")
        case Some(bounds) =>
          // rows sharing a key pair up in sorted order of their values
          val pairs = vals.sortBy(_.headOption.getOrElse(0.0))
            .zip(bounds.sortBy(_.headOption.map(_._1).getOrElse(0.0)))
          pairs.collectFirst {
            case (vs, bs) if vs.zip(bs).exists { case (v, (lo, hi)) =>
                !(v >= lo && v <= hi) } =>
              s"quantile out of bounds at ${k.replace('\u0001', '|')}: $vs vs $bs"
          }
      }
    }.collectFirst { case Some(msg) => msg }
  }
}
