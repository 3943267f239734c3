package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rows-only dump guards THEMSELVES (VERDICT r13 ask #7): Verify
  * retracts a dump whose guard throws, so the guards are load-bearing —
  * each must (a) pass the real query's real output and (b) throw on a
  * structurally corrupted stand-in. Without (b) a guard could silently
  * be a no-op and the rows-only gate would be existence-only again.
  */
class DumpGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("a3_approx_distinct guard: real output passes, an off-by-10x estimate throws") {
    val guard = SparkEntry.resultChecksSf("a3_approx_distinct")
    val real = SparkEntry.queries("a3_approx_distinct")(spark, dir)
    guard(spark, dir, real) // must not throw
    val exact = Tables.lineitem(spark, dir)
      .select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val bogus = Seq(exact * 10).toDF("n_orders_approx")
    val e = intercept[IllegalArgumentException] { guard(spark, dir, bogus) }
    assert(e.getMessage.contains("outside"))
  }

  test("a12_approx_percentile guard: real output passes, inverted and shifted quantiles throw") {
    val guard = SparkEntry.resultChecksSf("a12_approx_percentile")
    val real = SparkEntry.queries("a12_approx_percentile")(spark, dir)
    guard(spark, dir, real)
    // p50 > p90: ordering violation.
    intercept[IllegalArgumentException] {
      guard(spark, dir, Seq(("A", 5000.0, 2000.0))
        .toDF("l_returnflag", "p50_price_approx", "p90_price_approx"))
    }
    // Plausibly ordered but rank-impossible values (both at the extreme
    // low end): the rank re-check must reject.
    intercept[IllegalArgumentException] {
      guard(spark, dir, Seq(("A", 1.0, 2.0))
        .toDF("l_returnflag", "p50_price_approx", "p90_price_approx"))
    }
  }

  test("v4_centroid_agg guard: real output passes, a perturbed component throws") {
    val guard = SparkEntry.resultChecksSf("v4_centroid_agg")
    val real = SparkEntry.queries("v4_centroid_agg")(spark, dir)
    guard(spark, dir, real)
    // Perturb one component of one label's signature by 0.01 (10x the
    // guard's 1e-3 band — far above reordering noise, far below a real
    // transposition) — must throw.
    val rows = real.collect()
    val broken = rows.zipWithIndex.map { case (r, i) =>
      val sig = r.getString(1)
      if (i == 0) {
        val parts = sig.split(",")
        parts(0) = f"${parts(0).toDouble + 0.01}%.4f"
        (r.get(0).toString, parts.mkString(","))
      } else (r.get(0).toString, sig)
    }.toSeq.toDF("label", "centroid_sig")
    intercept[IllegalArgumentException] { guard(spark, dir, broken) }
    // An empty dump is also a loud failure, not a vacuous pass.
    intercept[IllegalArgumentException] {
      guard(spark, dir, Seq.empty[(String, String)].toDF("label", "centroid_sig"))
    }
  }

  test("g16_effective_diameter guard: truncated, non-monotone, and empty-frontier dumps throw") {
    val guard = SparkEntry.resultChecks("g16_effective_diameter")
    def df(rows: Seq[(Int, Long, Long, Int, Int)]) =
      rows.toDF("h", "est_pairs", "n_changed", "at_eff_horizon", "converged")
    // A healthy-looking converged census passes.
    guard(df(Seq((0, 10L, 10L, 0, 1), (1, 40L, 10L, 0, 1), (2, 100L, 4L, 1, 1))))
    // converged = 0 (a truncated census) must throw.
    intercept[IllegalArgumentException] {
      guard(df(Seq((0, 10L, 10L, 0, 0), (1, 40L, 10L, 0, 0), (2, 100L, 4L, 1, 0))))
    }
    // Non-monotone census must throw.
    intercept[IllegalArgumentException] {
      guard(df(Seq((0, 10L, 10L, 0, 1), (1, 100L, 10L, 1, 1), (2, 90L, 4L, 1, 1))))
    }
    // Horizon-flag algebra drift must throw.
    intercept[IllegalArgumentException] {
      guard(df(Seq((0, 10L, 10L, 0, 1), (1, 40L, 10L, 1, 1), (2, 100L, 4L, 1, 1))))
    }
    // A claimed round with an empty frontier must throw (emitted rounds
    // changed at least one sketch by construction).
    intercept[IllegalArgumentException] {
      guard(df(Seq((0, 10L, 10L, 0, 1), (1, 40L, 0L, 0, 1), (2, 100L, 4L, 1, 1))))
    }
  }
}
