package mmbench

import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint: the row count, and per column
  * (by lower-case name) the non-null count and an order-free aggregate:
  * a sum for numbers, epoch days and seconds for dates and timestamps,
  * the count of true for booleans, and a sum of 64-bit md5 prefixes for
  * strings. Sums are compared with a relative tolerance, since Spark and
  * DuckDB add floating-point values in different orders.
  *
  * `tools/oracle_fingerprints.py` computes the same fingerprint from
  * DuckDB results; the two must stay in step.
  */
object Fingerprint {
  final case class Col(nonNull: Long, kind: String, value: BigDecimal)
  final case class Fp(rows: Long, cols: Map[String, Col])

  private val Mod = BigInt(1) << 64

  private def md5Prefix(s: String): BigInt = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    BigInt(1, d.take(8))
  }

  private def kindAndValue(v: Any): (String, BigDecimal) = v match {
    case b: Boolean => ("bool", if (b) 1 else 0)
    case x: java.math.BigDecimal => ("num", BigDecimal(x))
    case x: Double => ("num", BigDecimal(x))
    case x: Float => ("num", BigDecimal(x.toDouble))
    case x: Long => ("num", BigDecimal(x))
    case x: Int => ("num", BigDecimal(x))
    case x: Short => ("num", BigDecimal(x.toInt))
    case x: Byte => ("num", BigDecimal(x.toInt))
    case x: java.sql.Date => ("num", BigDecimal(x.toLocalDate.toEpochDay))
    case x: java.time.LocalDate => ("num", BigDecimal(x.toEpochDay))
    case x: java.sql.Timestamp => ("num", BigDecimal(x.toInstant.getEpochSecond) + BigDecimal(x.getNanos) / 1e9)
    case x: java.time.Instant => ("num", BigDecimal(x.getEpochSecond) + BigDecimal(x.getNano) / 1e9)
    case s: String => ("str", BigDecimal(md5Prefix(s)))
    case _ => ("other", BigDecimal(0))
  }

  def of(names: Seq[String], rows: Array[Row]): Fp = {
    val cols = names.zipWithIndex.map { case (name, i) =>
      var n = 0L
      var kind = "none"
      var sum = BigDecimal(0)
      rows.foreach { r =>
        if (!r.isNullAt(i)) {
          val (k, v) = kindAndValue(r.get(i))
          n += 1
          kind = k
          sum += v
        }
      }
      if (kind == "str") sum = BigDecimal(sum.toBigInt.mod(Mod))
      name.toLowerCase -> Col(n, kind, sum)
    }.toMap
    Fp(rows.length.toLong, cols)
  }

  /** None when `got` matches `want`, else what differs. */
  def diff(want: Fp, got: Fp): Option[String] = {
    def close(a: BigDecimal, b: BigDecimal) = (a - b).abs <= (a.abs max b.abs) * 1e-6 + 1e-6
    if (want.rows != got.rows) Some(s"rows ${got.rows} != ${want.rows}")
    else if (want.cols.keySet != got.cols.keySet)
      Some(s"columns ${got.cols.keySet.toSeq.sorted} != ${want.cols.keySet.toSeq.sorted}")
    else want.cols.toSeq.sortBy(_._1).collectFirst {
      case (c, w) if {
        val g = got.cols(c)
        g.nonNull != w.nonNull || (w.nonNull > 0 && (g.kind != w.kind ||
          (if (w.kind == "str") g.value != w.value else !close(g.value, w.value))))
      } => s"column $c ${got.cols(c)} != $w"
    }
  }

  def toJson(fp: Fp): String = {
    val cs = fp.cols.toSeq.sortBy(_._1).map { case (c, v) =>
      s""""$c": [${v.nonNull}, "${v.kind}", "${v.value.bigDecimal.toPlainString}"]"""
    }
    s"""{"rows": ${fp.rows}, "cols": {${cs.mkString(", ")}}}"""
  }

  /** Reads the `{name: fingerprint}` file written by the oracle tool. */
  def load(json: String): Map[String, Fp] =
    new ObjectMapper().readTree(json).fields().asScala.map { e =>
      val cols = e.getValue.get("cols").fields().asScala.map { c =>
        val xs = c.getValue
        c.getKey -> Col(xs.get(0).asLong, xs.get(1).asText, BigDecimal(xs.get(2).asText))
      }.toMap
      e.getKey -> Fp(e.getValue.get("rows").asLong, cols)
    }.toMap
}
