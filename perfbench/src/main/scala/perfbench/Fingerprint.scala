package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a fully collected result: the row count
  * plus two 64-bit sums of per-row hashes. Columns are taken in name order,
  * so a reordered projection with the same cells reads the same; rows are
  * combined by addition, so row order does not matter but duplicates do.
  *
  * Cells render exactly: doubles and floats by their IEEE bits (one NaN),
  * decimals by their plain string, nested values recursively.
  */
object Fingerprint {

  def of(schema: StructType, rows: Iterable[Row]): String = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).toSeq
    var n = 0L
    var h1 = 0L
    var h2 = 0L
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      order.foreach { case (f, i) =>
        sb.append(f.name).append('=')
        render(sb, if (r.isNullAt(i)) null else r.get(i), f.dataType)
        sb.append('\u0001')
      }
      val bytes = sb.toString.getBytes(UTF_8)
      n += 1
      h1 += mix(scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5bd1e995))
      h2 += mix(scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x1b873593))
    }
    f"$n%d:$h1%016x$h2%016x"
  }

  /** Spreads a 32-bit hash over 64 bits so that sums do not cancel. */
  private def mix(h: Int): Long = {
    var z = h.toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  private def render(sb: java.lang.StringBuilder, v: Any,
      t: DataType): Unit = (v, t) match {
    case (null, _) => sb.append("\u0000")
    case (d: Double, _) =>
      sb.append("d").append(java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(d)))
    case (f: Float, _) =>
      sb.append("f").append(Integer.toHexString(
        java.lang.Float.floatToIntBits(f)))
    case (d: java.math.BigDecimal, _) => sb.append(d.toPlainString)
    case (b: Array[Byte], _) =>
      b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      sb.append('[')
      s.foreach { e => render(sb, e, et); sb.append(',') }
      sb.append(']')
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      // entry order of a map is not part of its value
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        render(e, k, kt); e.append(':'); render(e, x, vt)
        e.toString
      }.sorted
      sb.append('{')
      entries.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case (r: Row, st: StructType) =>
      sb.append('(')
      st.fields.indices.foreach { i =>
        render(sb, if (r.isNullAt(i)) null else r.get(i), st(i).dataType)
        sb.append(',')
      }
      sb.append(')')
    case (x, _) => sb.append(x.toString)
  }
}
