package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, sum, xxhash64}

/** Result digests for the output checks. */
object Digest {

  /** SHA-256 over the rows in their delivered order. Values are encoded
    * canonically: doubles and floats by their bits, maps sorted by key,
    * nested rows and arrays recursively, so equal results give equal
    * digests in every JVM.
    */
  def ordered(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    def enc(v: Any): Unit = v match {
      case null => sb.append("\u0000N")
      case d: Double => sb.append('d').append(java.lang.Double.doubleToLongBits(d))
      case f: Float => sb.append('f').append(java.lang.Float.floatToIntBits(f))
      case b: Array[Byte] => sb.append('b').append(java.util.Base64.getEncoder.encodeToString(b))
      case r: Row => sb.append('('); r.toSeq.foreach { x => enc(x); sb.append(',') }; sb.append(')')
      case m: scala.collection.Map[_, _] =>
        val parts = m.toSeq.map { case (k, x) =>
          val save = sb.length; enc(k); sb.append(':'); enc(x)
          val s = sb.substring(save); sb.setLength(save); s
        }.sorted
        sb.append('{'); parts.foreach(p => sb.append(p).append(',')); sb.append('}')
      case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => enc(x); sb.append(',') }; sb.append(']')
      case other => sb.append(other.getClass.getSimpleName.charAt(0)).append(other.toString)
    }
    rows.foreach { r =>
      sb.setLength(0); enc(r); sb.append('\n')
      md.update(sb.toString.getBytes(UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Order-insensitive digest computed by the engine: the row count and
    * two 32-bit halves of the sum of per-row xxhash64 over every column.
    * Reading a table through it consumes every row and column.
    */
  def unordered(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(col("h"), 32))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }
}
