package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive fingerprint of a DataFrame.
  *
  * Every output column feeds the row hash, so the one action computes
  * every column (a `count()` lets Catalyst prune the projection and
  * skip kernels such as `redactText`). Columns are hashed by sorted
  * name; doubles are rounded to 12 significant digits and floats to 6
  * before hashing, so summation order cannot flip a fingerprint; maps
  * are hashed as key-sorted entry arrays. The row hashes are summed in
  * two 32-bit halves, which cannot overflow below 2^31 rows.
  */
final case class Print(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:$lo:$hi"
}

object Fingerprint {

  def parse(s: String): Print = s.split(':') match {
    case Array(r, lo, hi) => Print(r.toLong, lo.toLong, hi.toLong)
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType => roundSig(c, 12)
    case FloatType => roundSig(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case StructType(fields) =>
      when(c.isNotNull, struct(fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** `x` as a decimal string with `digits` significant digits; -0.0 as 0. */
  private def roundSig(x: Column, digits: Int): Column =
    when(x === 0.0, lit("0")).otherwise(format_string(s"%.${digits - 1}e", x))

  /** The one-row aggregate whose action computes the fingerprint. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: an output may repeat a column name
    val fields = df.schema.fields.zipWithIndex
    val cols = fields.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => norm(col(s"_c$i"), f.dataType) }
    val h = xxhash64(cols.toIndexedSeq: _*)
    df.toDF(fields.map { case (_, i) => s"_c$i" }.toIndexedSeq: _*)
      .agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
  }

  def read(frame: DataFrame): Print = {
    val r = frame.collect()(0)
    Print(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def of(df: DataFrame): Print = read(frame(df))

  /** Fingerprints of several frames, computed by one action. */
  def all(frames: Seq[(String, DataFrame)]): Map[String, Print] =
    frames.map { case (name, df) => frame(df).withColumn("_name", lit(name)) }
      .reduce(_ union _).collect()
      .map(r => r.getString(3) -> Print(r.getLong(0), r.getLong(1), r.getLong(2))).toMap
}
