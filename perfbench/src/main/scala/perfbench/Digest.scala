package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: row count plus the sum of one
  * xxhash64 per row over every column, columns taken in name order and
  * doubles rounded to [[Digest.Places]] decimals (the canonical form the
  * oracle compares). It rides on the timed `noop` action through
  * `Dataset.observe`, so checking an output costs one hash per result row
  * instead of a second execution of the query.
  */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${sum.toPlainString}"
}

object Digest {
  val Places = 6

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), Places)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** `df`'s rows, columns renamed by position (names may repeat), with an
    * observation attached; read it with [[get]] after the action.
    */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.columns.zipWithIndex.sortBy { case (n, i) => (n, i) }.map {
      case (_, i) => canon(col(s"c$i"), df.schema(i).dataType)
    }
    val h = xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))
    named.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h), lit(0).cast(DecimalType(38, 0))).as("sum"))
  }

  def get(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long],
      m("sum").asInstanceOf[java.math.BigDecimal])
  }

  /** Digest of a string payload (a serve response), same `rows:sum` shape. */
  def ofString(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    "1:" + md.digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  /** Expected digests: one `key<TAB>digest` line each, `#` comments. */
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
}
