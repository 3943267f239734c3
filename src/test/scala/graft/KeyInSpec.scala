package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft_key_in` (GraftExtensions): the key-set predicate the serving
  * routes filter with. It must select exactly what `isin` selects, plan as
  * Catalyst `InSet` (keys held by reference in generated code, so one
  * compiled plan serves every key), and reject at analysis any call whose
  * keys are not constants of the column's type.
  */
class KeyInSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def orders = Tables.orders(spark, dir)

  private def keyIn(keys: Long*) =
    call_function("graft_key_in", col("o_orderkey") +: keys.map(lit): _*)

  private def keys(n: Int): Seq[Long] = {
    val spark0 = spark
    import spark0.implicits._
    orders.select("o_orderkey").orderBy("o_orderkey").as[Long].collect()
      .grouped(7).map(_.head).take(n).toSeq
  }

  test("graft_key_in selects exactly what isin selects, for one key and for several") {
    for (ks <- Seq(keys(1), keys(5), keys(5) :+ -1L)) {
      val got = orders.filter(keyIn(ks: _*))
      val want = orders.filter(col("o_orderkey").isin(ks: _*))
      assert(got.orderBy("o_orderkey").collect().toSeq ===
        want.orderBy("o_orderkey").collect().toSeq, ks)
      assert(got.count() === ks.count(_ >= 0), ks)
    }
  }

  test("graft_key_in plans as InSet even for one key, and its generated code does not depend on the keys") {
    def inSets(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.expressions.flatMap(_.collect { case i: InSet => i })
    def code(c: org.apache.spark.sql.Column) =
      orders.filter(c).queryExecution.debug.codegenToSeq().map(_._2)
    val Seq(k) = keys(1)
    val Seq(one) = inSets(orders.filter(keyIn(k)))
    assert(one.hset === Set(k))
    assert(inSets(orders.filter(col("o_orderkey").isin(k))).isEmpty)
    // One compiled class serves every key set; isin inlines its keys.
    assert(code(keyIn(k)) === code(keyIn(keys(5): _*)))
    assert(code(col("o_orderkey").isin(k)) !== code(col("o_orderkey").isin(k + 1)))
  }

  test("graft_key_in fails analysis for a non-constant key, a mistyped key, or no keys") {
    def analyze(c: org.apache.spark.sql.Column) =
      intercept[AnalysisException](orders.filter(c).queryExecution.assertAnalyzed())
    val nonConstant = analyze(call_function("graft_key_in", col("o_orderkey"), col("o_custkey")))
    assert(nonConstant.getMessage.contains("is not a constant"), nonConstant.getMessage)
    val mistyped = analyze(call_function("graft_key_in", col("o_orderkey"), lit("1")))
    assert(mistyped.getMessage.contains("graft_key_in: key"), mistyped.getMessage)
    val noKeys = analyze(call_function("graft_key_in", col("o_orderkey")))
    assert(noKeys.getMessage.contains("at least one key"), noKeys.getMessage)
  }
}
