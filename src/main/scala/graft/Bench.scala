package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Session comes from GraftSession so the bench runs with the engine's
    // real settings (AQE coalesce/skew, broadcast threshold, UTC).
    val spark = GraftSession.local(cpus, "graft-bench")
    warmup(spark, sfDir)
    // Sorted execution order: stable run-to-run attribution of timings.
    // Each query reports its best of 2 back-to-back runs: the first run
    // carries plan-specific JIT/codegen compilation and any transient host
    // stall (this VM shows up-to-4x hiccups on identical code), the min is
    // the engine's warm steady-state — the number that scales.
    // A query is "failed" only if NO run succeeded (a first-run throw with
    // a clean second run counts as a success — the reported time is then
    // the min over SUCCESSFUL runs only, never a mix of a valid timing and
    // an elapsed-to-throw). A failed query must be LOUD in the artifact:
    // its name lands in "failed" and the "failures" count, and its
    // (meaningless) elapsed-to-throw time is EXCLUDED from the headline
    // total so cross-run total diffing never credits a crash as a speedup.
    // The throw time still appears under "queries" so the driver's
    // per-query diffing keeps a stable key set — treat any name in
    // "failed" as untimed.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case NonFatal(_) => false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val runs = Seq(once(), once())
      val good = runs.collect { case (t, true) => t }
      if (good.isEmpty) failed += name
      name -> (if (good.nonEmpty) good.min else runs.map(_._1).min)
    }
    // Millisecond precision keeps the single JSON line compact (~2.5 KB at
    // 160 queries instead of ~5 KB) — resilient to line-length caps in
    // downstream log capture, and sub-ms digits are noise anyway.
    // Locale.ROOT pins the decimal separator: a comma-decimal default
    // locale (de_DE, fr_FR) would emit `1,234` and corrupt the JSON line.
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !failed.contains(k) => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Both lines share "metric":"total" (the driver's documented shape) but
    // carry an explicit "kind" discriminator so a consumer selecting by
    // metric name can't pick the wrong record or double-count (ADVICE r10):
    // "full" has the per-query breakdown, "compact" is the summary-only twin.
    val fullLine = s"""{"metric":"total","kind":"full","value":${ms(total)},"unit":"sec","queries":$qs,"failures":${failed.size},"failed":$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // The per-query line above is ~3 KB at 188 queries and the driver's
    // tail capture truncates its FRONT, leaving no parseable record
    // (BENCH_r08/r09 both recorded "parsed": null). Emit a compact (<200 B)
    // summary LAST so any tail window ends with one complete JSON object;
    // the long line stays for local audits and per-query diffing.
    println(s"""{"metric":"total","kind":"compact","value":${ms(total)},"unit":"sec","n":${results.size},"failures":${failed.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // The stdout mitigation above was not enough: the driver's tail window
    // has stayed too small for the full line since r13 (PERF per_query
    // empty, "parsed": null in BENCH_r13..r15 — sbt appends [success] after
    // the JSON and the ~5 KB full record outgrows the capture). Persist the
    // SAME full record to a stable file so per-query diffs never depend on
    // stdout capture. Purely additive: both stdout lines are byte-identical
    // to the existing contract, queries/methodology unchanged.
    try
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_last_full.json"),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(_) => () } // a read-only cwd must not fail the bench
    spark.stop()
  }

  /** Absorb session/codegen/parquet-footer init so the first timed query
    * isn't charged ~3s of one-off JVM cost. Best effort: a failure here
    * surfaces in the timed runs instead.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id % 7)").collect()
      Tables.lineitem(spark, sfDir).limit(1).collect()
      // Exercise the join/window/HOF/shuffle machinery once on tiny data so
      // Janino/JIT infrastructure is compiled before timing starts.
      val a = spark.range(1000L).selectExpr("id", "id % 13 AS k", "CAST(id AS STRING) AS s")
      val b = spark.range(100L).selectExpr("id AS k2")
      a.join(b, a("k") === b("k2"))
        .selectExpr("k", "s",
          "row_number() OVER (PARTITION BY k ORDER BY id) AS rn",
          "aggregate(sequence(1, 5), 0L, (x, y) -> x + y) AS h",
          "md5(s) AS m")
        .groupBy("k").count().collect()
    } catch { case NonFatal(_) => () }
}
