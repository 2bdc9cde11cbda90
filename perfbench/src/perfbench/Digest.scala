package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

/** Order-independent multiset digest of a query result.
  *
  * Each row becomes a canonical string (top-level columns sorted by
  * name, like `tools/check.py` compares them; doubles rounded to nine
  * significant digits, the 1e-9 relative tolerance of that check) and
  * is hashed to 64 bits; the digest is the row count plus the sum of
  * the row hashes mod 2^64, so it does not depend on row order or
  * partitioning.
  */
object Digest {

  private val Sig = new MathContext(9)

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("␀")
    case d: Double => double(d, sb)
    case f: Float => double(f.toDouble, sb)
    case r: Row =>
      sb.append('{')
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        canon(r.get(i), sb)
        i += 1
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(k, e); e.append("->"); canon(x, e)
        e.toString
      }.sorted
      sb.append(entries.mkString("<", ",", ">"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x =>
        if (!first) sb.append(',')
        first = false
        canon(x, sb)
      }
      sb.append(']')
    case b: Array[Byte] => b.foreach(x => sb.append("%02x".format(x)))
    case s: String =>
      sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
    case other => sb.append(other.toString)
  }

  private def double(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else if (d == 0.0) sb.append('0')
    else sb.append(new JBigDecimal(d).round(Sig).stripTrailingZeros.toString)

  /** Canonical form of one row whose columns were put in `order`. */
  def rowString(r: Row, order: Array[Int]): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < order.length) {
      if (i > 0) sb.append('|')
      canon(r.get(order(i)), sb)
      i += 1
    }
    sb.toString
  }

  def rowHash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  final case class Value(rows: Long, sum: Long) {
    def +(o: Value): Value = Value(rows + o.rows, sum + o.sum)
    override def toString: String = f"$rows%d:$sum%016x"
  }

  /** Digest computed by executing `df`'s own physical plan
    * (`queryExecution.toRdd`, like `Bench.force`), so the action that
    * produces the digest is the action being timed.
    */
  def of(df: DataFrame): Value = byColumn(df, None).values.fold(Value(0, 0))(_ + _)

  /** One digest per value of the string column `key` (all rows under
    * "" when `key` is None), in a single pass.
    */
  def byColumn(df: DataFrame, key: Option[String]): Map[String, Value] = {
    val schema: StructType = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val k = key.map(schema.fieldIndex).getOrElse(-1)
    df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val acc = scala.collection.mutable.HashMap[String, Value]()
      it.foreach { ir =>
        val r = toRow(ir).asInstanceOf[Row]
        val g = if (k < 0) "" else String.valueOf(r.get(k))
        acc(g) = acc.getOrElse(g, Value(0, 0)) + Value(1, rowHash(rowString(r, order)))
      }
      Iterator(acc.toMap)
    }.collect().foldLeft(Map.empty[String, Value]) { (m, part) =>
      part.foldLeft(m) { case (mm, (g, v)) => mm.updated(g, mm.getOrElse(g, Value(0, 0)) + v) }
    }
  }
}
