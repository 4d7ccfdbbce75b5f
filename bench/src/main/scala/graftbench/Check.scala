package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output fingerprint: row count plus the sum of one
  * 64-bit hash per row. Floating values are rounded to
  * [[SignificantDigits]] significant digits before hashing, so summation
  * order inside the engine (which follows partitioning) cannot change the
  * fingerprint at any magnitude; a duplicated, missing or altered row
  * always does. */
object Check {
  final case class Fingerprint(rows: Long, sum: String)

  val SignificantDigits = 9
  /** Floating values smaller than this in magnitude hash as zero: a value
    * that cancels to zero carries only rounding noise, which relative
    * rounding cannot absorb. */
  val ZeroBelow = 1e-9

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(abs(d) < ZeroBelow, lit("0"))
        .otherwise(format_string(s"%.${SignificantDigits - 1}e", d))
    case _: DecimalType => round(c, 6).cast(StringType)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      to_json(transform(c, x => canon(x, et)))
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case _ => c
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.toSeq
    val rowHash =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast(DecimalType(20, 0)))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** A failure reason, or None when `got` matches the reference. */
  def compare(name: String, got: Fingerprint, want: Fingerprint): Option[String] =
    if (got == want) None
    else Some(s"$name: got ${got.rows} rows / ${got.sum}, reference ${want.rows} rows / ${want.sum}")
}
