package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Divide, Expression, ExpressionInfo, InSet, MonotonicallyIncreasingID, Multiply, Rand, Randn, Sqrt, Uuid, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extension point (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the native vector functions into the session's
  * FunctionRegistry so they are callable from SQL and
  * `functions.call_function` alike.
  *
  *   - `graft_dot(a, b)`     — native codegen dot product ([[DotProduct]])
  *   - `graft_cosine(a, b)`  — cosine similarity composed from existing
  *                             Catalyst nodes (Divide/Multiply/Sqrt over
  *                             [[DotProduct]]); no new eval code to trust.
  *   - `graft_key_in(c, k…)` — `c IN (k…)` as Catalyst `InSet`, whose
  *                             generated code holds the keys by reference,
  *                             so a point-lookup plan compiles once for
  *                             every key (the serving routes).
  *   - prepared plans        — a planner strategy that plans a
  *     [[PreparedPlan]] leaf as the physical plan it instantiates, so the
  *     serving routes run a per-request copy of a plan prepared once:
  *     per request Catalyst plans one analyzed leaf as the copy.
  *   - determinism guard     — an injected analysis CHECK rule rejecting
  *     partition-order-sensitive expressions (rand/randn/uuid/
  *     monotonically_increasing_id) whose values change under
  *     repartitioning/retry and so can never hash-match an oracle or
  *     reproduce across runs (SURVEY.md §6 determinism mandate; seeded
  *     alternatives in this engine: md5 ordering for sampling — g5/t9 —
  *     and row-key hashing for salting). Opt out per session with
  *     `spark.graft.determinismGuard=false`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProduct].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => PreparedPlanStrategy)
    // Key-only Filters commute with per-key top-k; without this rule the
    // custom node is a pushdown barrier (see PushFilterThroughTopKPerKey).
    ext.injectOptimizerRule(_ => PushFilterThroughTopKPerKey)

    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two double arrays"),
      (args: Seq[Expression]) => {
        val (a, b) = (args(0), args(1))
        Divide(
          DotProduct(a, b),
          Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))),
          evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
      }))

    // Bloom-filter pre-join pruning, exposed as first-class functions. These
    // compose Spark's OWN runtime-filter machinery (the expressions behind
    // spark.sql.optimizer.runtime.bloomFilter, normally analyzer-injected
    // and not user-callable) so a query can place the bloom pass exactly
    // where the pipeline wants it: sketch the small side once
    // (`graft_bloom_agg`, an order/merge-insensitive OR of bits — safe as a
    // deterministic scalar subquery), then drop non-candidate probe rows
    // BEFORE the shuffle with `graft_might_contain`. False positives are
    // killed by the exact join that follows, so results stay oracle-exact;
    // the win is (1 - fp)·|non-matching| rows never entering the Exchange.
    // Both sides hash through the same XxHash64(seed 42) the builtin
    // runtime filter uses, applied here at build time so callers pass raw
    // values and can never mismatch hash functions between the two calls.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        "graft_bloom_agg(v[, est_items]) - binary bloom-filter sketch over xxhash64(v)"),
      (args: Seq[Expression]) => {
        val hashed = new XxHash64(Seq(args(0)))
        args match {
          case Seq(_)    => new BloomFilterAggregate(hashed)
          case Seq(_, n) =>
            // SQL integer literals arrive as INT; the aggregate's type
            // check wants BIGINT — widen so both call surfaces work.
            val nL = org.apache.spark.sql.catalyst.expressions.Cast(
              n, org.apache.spark.sql.types.LongType)
            new BloomFilterAggregate(hashed, nL,
              Multiply(nL, org.apache.spark.sql.catalyst.expressions.Literal(8L)))
          case _ => throw new IllegalArgumentException(
            "graft_bloom_agg takes 1 or 2 arguments")
        }
      }))

    // Packed-HLL primitives for the HyperBall census (PackedHll.scala):
    // a declarative lane-max aggregate (HashAggregate, never
    // ObjectHashAggregate) over byte-lane-packed registers, plus the
    // estimator that reads them back. See LinkGraph.hyperBallCensus.
    ext.injectFunction((
      FunctionIdentifier("graft_lanemax_agg"),
      info("graft_lanemax_agg",
        "graft_lanemax_agg(v) - per-byte-lane unsigned max aggregate over BIGINTs"),
      (args: Seq[Expression]) => graft.operators.LaneMaxAgg(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_hll_estimate"),
      info("graft_hll_estimate",
        "graft_hll_estimate(lanes) - HLL cardinality estimate from packed register lanes"),
      (args: Seq[Expression]) => graft.operators.PackedHllEstimate(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_lane_bytesum"),
      info("graft_lane_bytesum",
        "graft_lane_bytesum(lanes) - sum of all byte registers of a packed sketch"),
      (args: Seq[Expression]) => graft.operators.PackedLaneByteSum(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain",
        "graft_might_contain(bloom, v) - membership probe; false => definitely absent"),
      (args: Seq[Expression]) =>
        BloomFilterMightContain(args(0), new XxHash64(Seq(args(1))))))

    // Key-set membership for point lookups (the serving routes). Catalyst's
    // own `isin` inlines every key as a literal into the generated code, and
    // OptimizeIn folds a one-key list to `=` (also inlined), so each new key
    // compiles a new whole-stage class. InSet's generated code reads its keys
    // through a reference object instead: one class serves every key set of
    // the same plan. InSet still prunes buckets and pushes down to parquet.
    // (For BYTE/SHORT/INT/DATE columns Spark emits a `switch` over the
    // keys, which inlines them again; the serving keys are BIGINT.)
    ext.injectFunction((
      FunctionIdentifier("graft_key_in"),
      info("graft_key_in",
        "graft_key_in(col, k1, k2, ...) - col IN (k1, k2, ...) with keys held by reference"),
      (args: Seq[Expression]) => {
        def fail(msg: String) = throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
          messageParameters = Map("errorMessage" -> s"graft_key_in: $msg"))
        if (args.size < 2) fail("needs a column and at least one key")
        val (c, keys) = (args.head, args.tail)
        keys.foreach { k =>
          if (!k.foldable) fail(s"key ${k.sql} is not a constant")
          if (k.dataType != c.dataType)
            fail(s"key ${k.sql} is ${k.dataType.sql}, column ${c.sql} is ${c.dataType.sql}")
        }
        // Always a HashSet: generated code casts the set reference to its
        // runtime class, and `toSet` picks Set1..Set4 by size.
        InSet(c, scala.collection.immutable.HashSet.from(keys.map(_.eval())))
      }))

    ext.injectCheckRule { session => plan =>
      if (session.conf.get("spark.graft.determinismGuard", "true") == "true") {
        // Recurse into subquery plans too — `WHERE x > (SELECT rand())`
        // must not slip past the guard.
        def checkPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
          p.foreach { node =>
            node.expressions.foreach(_.foreach {
              case e @ (_: Rand | _: Randn | _: Uuid | _: MonotonicallyIncreasingID) =>
                throw new org.apache.spark.sql.AnalysisException(
                  errorClass = "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
                  messageParameters = Map("errorMessage" ->
                    (s"graft determinism guard: expression '${e.prettyName}' is " +
                      "partition-order sensitive and banned in this engine " +
                      "(use md5-key ordering/hashing instead, or set " +
                      "spark.graft.determinismGuard=false)")))
              case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
                checkPlan(s.plan)
              case _ => ()
            })
          }
        checkPlan(plan)
      }
    }
  }
}
