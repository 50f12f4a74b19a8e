package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a whole query result: the row count
  * plus the sum (mod 2^64) of one 64-bit hash per row. Each row is
  * rendered canonically first, with columns in name order, so the same
  * multiset of rows gives the same fingerprint from any engine.
  * `perfbench/checks.py` renders DuckDB results by the same rules:
  *
  *  - null is `\N`; booleans `true`/`false`; integers in decimal;
  *  - floats and doubles as the hex of their IEEE-754 double bits, with
  *    every zero as `0` and every NaN as `nan`;
  *  - dates as days and timestamps as microseconds since the epoch;
  *  - strings as-is, binary as hex, decimals as plain strings;
  *  - arrays `[a,b]`, structs `{a,b}` in field order, maps `{k:v}`
  *    sorted by rendered key.
  *
  * Cells are joined by U+0001; the row hash is the first eight bytes of
  * the row's MD5, read big-endian.
  */
object Fingerprint {

  final case class Result(rows: Long, sum: Long) {
    def hex: String = java.lang.Long.toHexString(sum)
  }

  /** Execute `df`'s own physical plan and fingerprint every output row.
    * Every column of every row is computed, as a noop write would. */
  def ofPlan(df: DataFrame): Result = {
    val schema = df.schema
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var s = 0L
      val sb = new java.lang.StringBuilder
      while (it.hasNext) {
        val row = it.next()
        sb.setLength(0)
        var i = 0
        while (i < order.length) {
          if (i > 0) sb.append('\u0001')
          val c = order(i)
          cell(sb, if (row.isNullAt(c)) null else row.get(c, schema(c).dataType), schema(c).dataType)
          i += 1
        }
        s += rowHash(md, sb.toString)
        n += 1
      }
      Iterator((n, s))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(md: MessageDigest, row: String): Long = {
    val d = md.digest(row.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == 0.0) "0"
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  /** Render one Catalyst value of type `dt` into `sb`. */
  def cell(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    if (v == null) sb.append("\\N")
    else dt match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "true" else "false")
      case ByteType | ShortType | IntegerType | LongType | DateType => sb.append(v.toString)
      case TimestampType | TimestampNTZType => sb.append(v.toString)
      case FloatType => sb.append(double(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(double(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          cell(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        var i = 0
        while (i < st.length) {
          if (i > 0) sb.append(',')
          cell(sb, if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType)
          i += 1
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val k = new java.lang.StringBuilder
          cell(k, m.keyArray().get(i, kt), kt)
          val x = new java.lang.StringBuilder
          cell(x, if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt)
          (k.toString, x.toString)
        }.sortBy(_._1)
        sb.append('{')
        sb.append(entries.map { case (k, x) => s"$k:$x" }.mkString(","))
        sb.append('}')
      case _ => sb.append(v.toString) // StringType: UTF8String renders as-is
    }
}
