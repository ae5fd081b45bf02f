package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: row count plus the sum and xor
  * of a 64-bit hash of each row's canonical text. Columns are taken in
  * name order; doubles are printed to 10 significant digits (float
  * aggregates may differ in the last bits between partition orders),
  * timestamps as epoch micros, binaries by their own hash. Row order and
  * partitioning do not enter the result.
  */
object Fp {

  final case class Print(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
    /** `oracle` prints carry only the DuckDB oracle's row count */
    def accepts(got: Print): Boolean = if (hash == "oracle") rows == got.rows else this == got
  }

  def parse(s: String): Print = {
    val Array(r, h) = s.split(":", 2)
    Print(r.toLong, h)
  }

  private def num(c: Column): Column =
    when(c.isNull, lit("N"))
      .when(isnan(c), lit("NaN"))
      .when(c === 0, lit("0"))
      .otherwise(format_string("%.9e", c))

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => num(c.cast(DoubleType))
    case _: DecimalType => num(c.cast(DoubleType))
    case TimestampType | TimestampNTZType => coalesce(unix_micros(c.cast(TimestampType)).cast("string"), lit("N"))
    case BinaryType => coalesce(xxhash64(c).cast("string"), lit("N"))
    case ArrayType(DoubleType | FloatType, _) =>
      coalesce(concat(lit("["), array_join(transform(c, x => num(x.cast(DoubleType))), ","), lit("]")), lit("N"))
    case _: ArrayType | _: MapType | _: StructType => coalesce(to_json(c), lit("N"))
    case _ => coalesce(c.cast(StringType), lit("N"))
  }

  def rowHash(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name)
    val parts = fields.flatMap(f => Seq(lit(f.name), canon(df.col(s"`${f.name}`"), f.dataType)))
    xxhash64(concat_ws("\u0001", parts: _*))
  }

  def of(df: DataFrame): Print = {
    val h = rowHash(df)
    val r = df.select(h.as("h")).agg(
      count(lit(1)),
      sum(shiftrightunsigned(col("h"), 32)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))),
      bit_xor(col("h"))).head()
    if (r.getLong(0) == 0) Print(0, "0")
    else {
      val (hi, lo, x) = (r.getLong(1), r.getLong(2), r.getLong(3))
      Print(r.getLong(0), f"${hi + (lo >>> 32)}%x.${lo & 0xffffffffL}%08x.$x%016x")
    }
  }
}
