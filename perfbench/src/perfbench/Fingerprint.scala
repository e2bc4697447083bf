package perfbench

import java.math.MathContext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a frame: row count plus the wrapping sum of
  * one 64-bit hash per row. Columns enter in name order, so the digest
  * covers contents only; a caller that cares about column order compares
  * the schema itself. */
case class Fingerprint(rows: Long, digest: Long) {
  override def toString: String = f"$rows%d rows, digest $digest%016x"
}

object Fingerprint {

  /** Plug outputs: one aggregate over Spark's own `xxhash64` of every column.
    * It is a Dataset action, so it materializes every output column and
    * completes the plug's `Observation`. The two 32-bit halves are summed
    * separately so the sums cannot overflow a long under ANSI mode. */
  def ofPlug(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    Fingerprint(r.getLong(0), if (r.getLong(0) == 0) 0L else (r.getLong(2) << 32) + r.getLong(1))
  }

  /** The digest [[ofPlug]] computes, over rows held on the driver: the same
    * `XxHash64` expression, evaluated row by row. */
  def ofRows(rows: Array[Row], schema: StructType): Fingerprint = {
    val h = new XxHash64(schema.fieldNames.sorted.toSeq.map(n =>
      BoundReference(schema.fieldIndex(n), schema(n).dataType, nullable = true)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    var lo, hi = 0L
    rows.foreach { row =>
      val v = h.eval(toCatalyst(row).asInstanceOf[InternalRow]).asInstanceOf[Long]
      lo += v & 0xffffffffL
      hi += v >>> 32
    }
    Fingerprint(rows.length, if (rows.isEmpty) 0L else (hi << 32) + lo)
  }

  /** Query outputs: consumes `queryExecution.toRdd`, the same single job the
    * repo's bench runs, and hashes each row on the way. DOUBLE values are
    * rounded to 9 and FLOAT values to 6 significant digits first, so a
    * different summation order cannot flip the digest. */
  def ofQuery(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n, d = 0L
      while (it.hasNext) {
        val row = it.next()
        var h = 17L
        order.foreach(i => h = h * 31 + value(row.get(i, schema(i).dataType), schema(i).dataType))
        d += XXH64.hashLong(h, 42)
        n += 1
      }
      Iterator((n, d))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private val sig9 = new MathContext(9)
  private val sig6 = new MathContext(6)

  private def rounded(d: Double, mc: MathContext): Long =
    if (d == 0 || d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(new java.math.BigDecimal(d).round(mc).doubleValue)

  private def value(v: Any, dt: DataType): Long = if (v == null) 0x5bd1e995L else dt match {
    case DoubleType => XXH64.hashLong(rounded(v.asInstanceOf[Double], sig9), 1)
    case FloatType => XXH64.hashLong(rounded(v.asInstanceOf[Float].toDouble, sig6), 2)
    case StringType =>
      val s = v.asInstanceOf[UTF8String]
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 3)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 4)
    case BooleanType => if (v.asInstanceOf[Boolean]) 5 else 6
    case ByteType | ShortType | IntegerType | DateType =>
      XXH64.hashLong(v.asInstanceOf[Number].longValue, 7)
    case LongType | TimestampType | TimestampNTZType => XXH64.hashLong(v.asInstanceOf[Long], 8)
    case _: DecimalType =>
      val s = UTF8String.fromString(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 9)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).foldLeft(11L)((h, i) => h * 31 + value(a.get(i, et), et))
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.foldLeft(13L)((h, i) => h * 31 + value(r.get(i, st(i).dataType), st(i).dataType))
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      (0 until m.numElements()).map { i =>
        XXH64.hashLong(value(m.keyArray().get(i, kt), kt) * 31 + value(m.valueArray().get(i, vt), vt), 10)
      }.sum
    case other => throw new IllegalArgumentException(s"no fingerprint for $other")
  }
}
