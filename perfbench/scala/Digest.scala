package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's output: row count plus the
  * 64-bit sum of each row's hash. A row hashes as the first 8 bytes of the
  * SHA-256 of its canonical text, columns in name order. `digest.py` builds
  * the same text from DuckDB's values, so equal digests mean the two
  * engines returned the same multiset of rows. */
object Digest {
  final case class Result(columns: Seq[String], rows: Long, hash: Long) {
    def hex: String = java.lang.Long.toUnsignedString(hash, 16)
  }

  /** Runs the query's physical plan once, hashing rows inside the tasks. */
  def of(df: DataFrame): Result = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val ords = fields.map(_._2)
    val types = fields.map(_._1.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var h = 0L
      val sb = new StringBuilder
      it.foreach { r =>
        sb.setLength(0)
        var i = 0
        while (i < ords.length) {
          if (i > 0) sb.append('|')
          value(r, ords(i), types(i), sb)
          i += 1
        }
        h += rowHash(md, sb.toString)
        n += 1
      }
      Iterator((n, h))
    }.collect()
    Result(fields.map(_._1.name).toSeq, parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(md: MessageDigest, text: String): Long = {
    val d = md.digest(text.getBytes(UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xff); i += 1 }
    x
  }

  private def dbl(d: Double, sb: StringBuilder): Unit = {
    val v = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    sb.append("d:").append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(v)))
  }

  private def value(r: InternalRow, i: Int, t: DataType, sb: StringBuilder): Unit =
    if (r.isNullAt(i)) sb.append('N') else t match {
      case BooleanType => sb.append("b:").append(r.getBoolean(i))
      case ByteType => sb.append("i:").append(r.getByte(i))
      case ShortType => sb.append("i:").append(r.getShort(i))
      case IntegerType => sb.append("i:").append(r.getInt(i))
      case LongType => sb.append("i:").append(r.getLong(i))
      case FloatType => dbl(r.getFloat(i).toDouble, sb)
      case DoubleType => dbl(r.getDouble(i), sb)
      case d: DecimalType =>
        sb.append("n:").append(r.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.stripTrailingZeros.toPlainString)
      case StringType | _: StringType =>
        val s = r.getUTF8String(i).toString
        sb.append("s").append(s.getBytes(UTF_8).length).append(':').append(s)
      case BinaryType => sb.append("x:").append(r.getBinary(i).map(b => f"${b & 0xff}%02x").mkString)
      // a date reads as its midnight timestamp, as the oracle compare
      // normalises both sides to datetimes
      case DateType => sb.append("t:").append(r.getInt(i) * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append("t:").append(r.getLong(i))
      case ArrayType(et, _) => array(r.getArray(i), et, sb)
      case st: StructType => struct(r.getStruct(i, st.length), st, sb)
      case MapType(kt, vt, _) => map(r.getMap(i), kt, vt, sb)
      case other => sb.append("?").append(r.get(i, other))
    }

  private def array(a: ArrayData, et: DataType, sb: StringBuilder): Unit = {
    val row = InternalRow.fromSeq(a.toSeq[Any](et))
    sb.append('[')
    var i = 0
    while (i < a.numElements()) {
      if (i > 0) sb.append(',')
      value(row, i, et, sb)
      i += 1
    }
    sb.append(']')
  }

  private def struct(s: InternalRow, st: StructType, sb: StringBuilder): Unit = {
    sb.append('{')
    st.fields.zipWithIndex.sortBy(_._1.name).zipWithIndex.foreach { case ((f, i), k) =>
      if (k > 0) sb.append(',')
      sb.append(f.name).append('=')
      value(s, i, f.dataType, sb)
    }
    sb.append('}')
  }

  private def map(m: MapData, kt: DataType, vt: DataType, sb: StringBuilder): Unit = {
    val ks = InternalRow.fromSeq(m.keyArray().toSeq[Any](kt))
    val vs = InternalRow.fromSeq(m.valueArray().toSeq[Any](vt))
    val entries = (0 until m.numElements()).map { i =>
      val e = new StringBuilder
      value(ks, i, kt, e); e.append("=>"); value(vs, i, vt, e)
      e.toString
    }.sorted
    sb.append("M{").append(entries.mkString(",")).append('}')
  }
}
