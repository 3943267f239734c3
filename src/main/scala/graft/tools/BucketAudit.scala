package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, Tables}
import graft.sources.ParquetFormat
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Dev tool: regenerate `audits/bucketed_links.txt` — the committed plan
  * evidence for SCALE.md's graph-layer claim that a `src`-bucketed edge
  * table makes per-src aggregation and src-keyed joins shuffle-free.
  * BucketedTableSpec pins the same three plan shapes in CI; this dump is
  * the human-readable artifact.
  *
  * Usage: runMain graft.tools.BucketAudit <sfDir> <outFile>
  */
object BucketAudit {
  def main(args: Array[String]): Unit = {
    val sfDir   = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "audits/bucketed_links.txt"
    // warehouse.dir is a static conf — must be set before session creation
    System.setProperty("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_bucket_wh_").toString)
    val spark = GraftSession.local(8, "graft-bucket-audit")

    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")).distinct()
    edges.write.format(ParquetFormat.Name).mode("overwrite")
      .bucketBy(8, "src").sortBy("src").saveAsTable("links_by_src")
    edges.groupBy("src").agg(countDistinct(col("dst")).as("n_parts"))
      .write.format(ParquetFormat.Name).mode("overwrite")
      .bucketBy(8, "src").sortBy("src").saveAsTable("attrs_by_src")

    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(FormattedMode)

    val sb = new StringBuilder
    sb ++= "== audit: bucketed links (SCALE.md graph-layer claim; BucketedTableSpec pins these) ==\n\n"
    sb ++= "-- degree agg over src-bucketed table (NO Exchange) --\n"
    sb ++= fmt(spark.table("links_by_src").groupBy("src").agg(count(lit(1)).as("deg")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sb ++= "\n-- src join of co-bucketed tables, broadcast disabled (SMJ, NO Exchange) --\n"
    sb ++= fmt(spark.table("links_by_src").join(spark.table("attrs_by_src"), "src"))
    sb ++= "\n-- non-bucketed baseline degree agg (Exchange present) --\n"
    sb ++= fmt(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    edges.write.format(ParquetFormat.Name).mode("overwrite")
      .bucketBy(8, "dst").sortBy("dst").saveAsTable("links_by_dst")
    sb ++= "\n-- reverse scan: in-degree agg over the dst-bucketed copy (NO Exchange) --\n"
    sb ++= fmt(spark.table("links_by_dst").groupBy("dst").agg(count(lit(1)).as("in_deg")))

    Files.writeString(Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
