package secdbbench

import org.apache.spark.sql.Row

/** Result digest of one query: row count plus a SHA-256 over a canonical
  * text form of every row, in result order (every `q_*` query ends with
  * a total ORDER BY, so the order is part of the answer). Doubles are
  * hashed by their exact bits, decimals by their plain string, nested
  * rows, arrays and maps recursively (map entries sorted by key text). */
object Digest {
  final case class Result(rows: Long, sha256: String) {
    def text: String = s"$rows:$sha256"
  }

  def of(rows: Array[Row]): Result = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sb = new StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      value(sb, r)
      sb += '\n'
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    Result(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def value(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "\\N"
    case r: Row =>
      sb += '('
      var i = 0
      while (i < r.length) {
        if (i > 0) sb += '\u001f'
        value(sb, if (r.isNullAt(i)) null else r.get(i))
        i += 1
      }
      sb += ')'
    case d: Double => sb ++= java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => sb ++= Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case d: java.math.BigDecimal => sb ++= d.toPlainString
    case d: scala.math.BigDecimal => sb ++= d.bigDecimal.toPlainString
    case b: Array[Byte] => sb ++= b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val ks = new StringBuilder; value(ks, k)
        val vs = new StringBuilder; value(vs, x)
        (ks.toString, vs.toString)
      }.sortBy(_._1)
      sb += '{'
      kv.foreach { case (k, x) => sb ++= k; sb += '='; sb ++= x; sb += ';' }
      sb += '}'
    case xs: scala.collection.Seq[_] =>
      sb += '['
      xs.foreach { x => value(sb, x); sb += ';' }
      sb += ']'
    case other => sb ++= other.toString
  }
}
