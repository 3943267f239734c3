package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.ParquetSource

/** Loaders for the driver-generated test tables (see TESTDATA.md/FIXTURES.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; here they are
  * single parquet files per table. All queries take the sf directory as a
  * parameter so the same code runs at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (older
    * generators — Spark 4 rejects nanos by default, so read as long and
    * truncate) and plain TIMESTAMP(MICROS) (current generator — usable
    * directly). Sniff the decoded type and normalize to a microsecond
    * TimestampType either way. The nanos→µs division is done in longs
    * (`DIV`), never via double, which would lose precision above 2^53 ns.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) decodes as NTZ; cast to
        // TIMESTAMP (session tz is pinned UTC, so the cast is value-
        // preserving) because watermarks/unix_micros require the LTZ type.
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` works against the dir.
    * `events` goes through its accessor so views and query paths see the same
    * µs-truncated timestamp schema (ADVICE r2).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n        => load(spark, dir, n).createOrReplaceTempView(n)
    }
}
