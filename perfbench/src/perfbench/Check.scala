package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action: one job that evaluates every output column of a query
  * and returns its row count plus an order-insensitive digest.
  *
  * Each row hashes (xxhash64) over canonical column values; the digest is the
  * two 32-bit halves of the hashes summed separately, so row order and
  * partitioning never matter and the sums cannot overflow. Floating values
  * are first printed at six significant digits: a last-bit change in a
  * floating sum (shuffle fetch order) must not read as a wrong answer. */
object Check {

  final case class Result(rows: Long, digest: String)

  def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.5e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)): _*))
    case VectorType => canon(vector_to_array(c), ArrayType(DoubleType))
    case _: UserDefinedType[_] | CalendarIntervalType | _: VariantType => c.cast(StringType)
    case _ => c
  }

  def digest(df: DataFrame): Result = {
    val fields = df.schema.fields
    val plain = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val h = xxhash64(lit(fields.length) +: fields.indices.map(i =>
      canon(col(s"c$i"), fields(i).dataType)): _*)
    val row = plain.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (row.isNullAt(1)) 0L else row.getLong(1)
    val hi = if (row.isNullAt(2)) 0L else row.getLong(2)
    Result(row.getLong(0), f"$hi%016x$lo%016x")
  }
}
