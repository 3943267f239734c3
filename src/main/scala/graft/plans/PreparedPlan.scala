package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A logical leaf that stands for a physical plan built outside Catalyst's
  * analysis and optimization: [[PreparedPlanStrategy]] plans it as
  * `instantiate()`. The leaf counts as analyzed, since it stands for an
  * analyzed and checked plan, so the analyzer returns it as it is, and the
  * optimizer has one node to visit; the serving routes skip even that, as
  * their query execution takes the leaf as its optimized plan. The
  * physical preparations (adaptive execution, whole-stage codegen,
  * bucketed-scan pruning) still run on the instantiated plan as on any
  * other query. The serving routes use it to run a per-request copy of a
  * route plan prepared once (`graft.api.PreparedRoute`).
  *
  * `instantiate` is called while the planner holds the session active, so
  * the nodes it builds capture the session as planned nodes do. It must
  * return fresh node instances on every call: an executed plan carries
  * per-run state (metrics, lazily built RDDs, the adaptive wrapper).
  * `output` is the instantiated plan's output and `estimate` the
  * statistics the leaf reports to rules that ask.
  */
final case class PreparedPlan(output: Seq[Attribute], estimate: Statistics,
    instantiate: () => SparkPlan) extends LeafNode {
  override def computeStats(): Statistics = estimate
  override def analyzed: Boolean = true
  override def simpleString(maxFields: Int): String =
    s"PreparedPlan ${output.map(_.name).mkString("[", ", ", "]")}"
}

/** Plans a [[PreparedPlan]] leaf as its instantiated physical plan. */
object PreparedPlanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PreparedPlan => p.instantiate() :: Nil
    case _ => Nil
  }
}
