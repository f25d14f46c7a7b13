package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count and an order-independent digest of a result. Columns are taken
  * in sorted-name order and rendered as text (floating point to 9
  * significant digits, nested values as JSON), each row is hashed, and the
  * hashes are summed in two 32-bit halves, so neither row order nor
  * partitioning changes the digest.
  */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case _: StructType | _: ArrayType | _: MapType => to_json(c)
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): (Long, String) = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val parts = df.columns.sorted.map(n => coalesce(canon(col(s"`$n`"), types(n)), lit("\u0000null")))
    val h = xxhash64(parts.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val rows = r.getLong(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (rows, f"$rows%d:$hi%x:$lo%x")
  }
}
