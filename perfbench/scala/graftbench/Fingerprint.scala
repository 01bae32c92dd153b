package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a fully materialized result: the row
  * count plus the wrapping sum of one 64-bit hash per row. Summation
  * commutes, so neither row order nor partitioning moves the hash; any
  * changed, added or dropped row does (up to 2^-64 collisions). */
object Fingerprint {
  final case class Print(rows: Long, hash: Long, schema: String)

  def of(df: DataFrame): Print = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(quoted(f.name)), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(rowHash.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0)))
      .head()
    Print(r.getLong(0), wrap(r.getDecimal(1)), schemaOf(df))
  }

  /** The schema as compared when content is unstable: names and types. */
  def schemaOf(df: DataFrame): String = df.schema.simpleString

  /** Reduce the exact decimal sum to 64 bits (two's-complement wrap). */
  def wrap(sum: java.math.BigDecimal): Long = sum.toBigInteger.longValue()

  private def quoted(name: String) = "`" + name.replace("`", "``") + "`"

  /** Spark refuses to hash maps; render them (at any depth) as JSON. */
  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(struct(c)) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }
}
