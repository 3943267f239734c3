package graft.api

import scala.collection.immutable.HashSet

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.BitSet

import graft.plans.PreparedPlan

/** One serving route's reply plan, planned once and run per request with
  * only its keys rebound.
  *
  * `template` is the route's own DataFrame (its [[TropologyApi]] call with
  * the reply projection) for `templateKeys`. Its physical plan from before
  * the execution preparations (`QueryExecution.sparkPlan`) is kept. [[run]]
  * copies that plan with fresh node instances (`clone()`), so no metric,
  * lazily built RDD or adaptive wrapper is shared between requests, and
  * rebinds what depends on the keys:
  *   - every `graft_key_in` set of the template keys (an `InSet` in a
  *     filter and in the scan's `dataFilters`, which parquet pushdown
  *     reads) holds the request's keys;
  *   - the keyed bucketed scan's `optionalBucketSet` holds the buckets of
  *     the request's keys, from Spark's own
  *     `BucketingUtils.getBucketIdFromValue`;
  *   - with `count`, the one filter `count = n`, where n is the number of
  *     distinct template keys, compares with the number of distinct
  *     request keys.
  * The copy runs as one SQL action (`collect`) over a [[PreparedPlan]]
  * leaf, which is also the action's optimized plan, so neither analyzer
  * nor optimizer runs per request. The physical preparations (the
  * adaptive wrapper where the plan needs one, bucketed-scan choice,
  * whole-stage codegen) run on the copy as on any query. Because the keys
  * are held by reference (`graft_key_in`), the copy's generated code is
  * the template's, so it compiles once.
  *
  * The action is one `runJob` over the executed plan's RDD with
  * [[PreparedRoute.replies]] as the task function, which reads each
  * row's reply string in the task, so Spark cleans one closure, of a small
  * class. Not `executeCollect`: its `RDD.collect` goes through two nested
  * `runJob` calls that each clean a closure declared in `RDD` or
  * `SparkContext`, reading and walking that large class from its jar, and
  * it returns the rows as compressed `UnsafeRow` bytes to decode.
  *
  * The template must show every key-dependent part that is rebound: one
  * whose plan holds no set of its keys, a keyed scan that is not pruned to
  * buckets, or not exactly one `count` filter fails here, rather than
  * serving a plan whose keys were not all rebound.
  */
private[graft] final class PreparedRoute(template: DataFrame, templateKeys: Seq[Long],
    count: Option[String] = None) {

  private val session = template.sparkSession.asInstanceOf[classic.SparkSession]
  private val plan = template.queryExecution.sparkPlan
  private val estimate = template.queryExecution.optimizedPlan.stats
  private val templateSet: Set[Any] = templateKeys.toSet
  private val templateCount = templateKeys.distinct.size.toLong

  private def isKeySet(e: Expression): Boolean = e match {
    case i: InSet => templateKeys.nonEmpty && i.hset == templateSet
    case _ => false
  }
  private def isCount(e: Expression): Boolean = e match {
    case EqualTo(a: Attribute, Literal(n, LongType)) => count.contains(a.name) && n == templateCount
    case _ => false
  }
  private def keyed(scan: FileSourceScanExec): Boolean = scan.dataFilters.exists(_.exists(isKeySet))
  private def occurrences(p: Expression => Boolean): Int =
    plan.collect { case n => n.expressions.map(_.collect { case e if p(e) => e }.size).sum }.sum

  require(templateKeys.isEmpty || occurrences(isKeySet) > 0,
    s"template plan holds no key set ${templateKeys.mkString(", ")}: $plan")
  require(plan.collect { case s: FileSourceScanExec if keyed(s) => s }
      .forall(s => s.relation.bucketSpec.isDefined && s.optionalBucketSet.isDefined),
    s"a keyed scan of the template is not pruned to buckets: $plan")
  require(count.isEmpty || occurrences(isCount) == 1,
    s"template plan does not hold exactly one filter ${count.getOrElse("")} = $templateCount: $plan")

  /** The reply rows for `keys` (the template's one string column), by one
    * SQL action over a fresh copy of the template bound to `keys`.
    */
  def run(keys: Long*): Array[String] = {
    require(keys.isEmpty == templateKeys.isEmpty,
      s"route takes ${if (templateKeys.isEmpty) "no" else "at least one"} key")
    val leaf = PreparedPlan(plan.output, estimate, () => bind(keys))
    val qe = new QueryExecution(session, leaf,
        shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)) {
      override def optimizedPlan: LogicalPlan = leaf
    }
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      session.sparkContext.runJob(rdd, PreparedRoute.replies, 0 until rdd.getNumPartitions).flatten
    }
  }

  /** A fresh copy of the template plan with `keys` bound. */
  private[graft] def bind(keys: Seq[Long]): SparkPlan = {
    val set = HashSet.from[Any](keys)
    val n = Literal(keys.distinct.size.toLong)
    plan.clone()
      .transformUp {
        case scan: FileSourceScanExec if keyed(scan) =>
          val bound = scan.copy(optionalBucketSet = buckets(scan, keys))
          bound.copyTagsFrom(scan)
          bound
      }
      .transformAllExpressions {
        case i: InSet if isKeySet(i) => InSet(i.child, set)
        case e @ EqualTo(a, _) if isCount(e) => EqualTo(a, n)
      }
  }

  /** The buckets of `scan`'s table that hold `keys`; None if that is all. */
  private def buckets(scan: FileSourceScanExec, keys: Seq[Long]): Option[BitSet] = {
    val spec = scan.relation.bucketSpec.get
    val resolve = session.sessionState.conf.resolver
    val column = scan.output.find(a => resolve(a.name, spec.bucketColumnNames.head)).get
    val bits = new BitSet(spec.numBuckets)
    keys.foreach(k => bits.set(BucketingUtils.getBucketIdFromValue(column, spec.numBuckets, k)))
    Some(bits).filter(_.cardinality() < spec.numBuckets)
  }
}

private[graft] object PreparedRoute {

  /** A task's reply strings: the one string column of each of its rows.
    * Declared here, in a class of a few members, because Spark cleans
    * the task function of every job by reading and walking the class
    * that declares it.
    */
  val replies: (TaskContext, Iterator[InternalRow]) => Array[String] =
    (_, rows) => rows.map(_.getUTF8String(0).toString).toArray
}
