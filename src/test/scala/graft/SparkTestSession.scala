package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole forked test JVM (never stopped —
  * suites must not call spark.stop() or they'd kill sibling suites). It is
  * the production session, `GraftSession.local`, on 4 cores, so tests pin
  * the plans of the configuration that ships.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** Runs `body` and returns its result with the SQL actions it ran, in
    * order, as (action name, executed plan string — the final plan under
    * AQE). See [[withQueries]].
    */
  def withActions[T](body: => T): (T, Seq[(String, String)]) = {
    val (out, queries) = withQueries(body)
    (out, queries.map { case (name, qe) => name -> plan(qe) })
  }

  /** Runs `body` and returns its result with the SQL actions it ran, in
    * order, as (action name, query execution). A QueryExecutionListener is
    * registered for the call only; its events arrive asynchronously
    * (FIFO), so one sentinel action runs first and one last: the capture
    * skips the events of actions that ran before the call (they can still
    * be in flight when the listener registers) and waits for the last
    * sentinel.
    */
  def withQueries[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val id = java.util.UUID.randomUUID()
    val (first, marker) = (s"actions-start-$id", s"actions-sentinel-$id")
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.put(funcName -> qe)
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"SELECT '$first'").collect()
      val out = body
      spark.sql(s"SELECT '$marker'").collect()
      val actions = Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError("query listener events did not arrive")))
        .dropWhile(a => !plan(a._2).contains(first)).drop(1)
        .takeWhile(a => !plan(a._2).contains(marker)).toVector
      (out, actions)
    } finally spark.listenerManager.unregister(listener)
  }

  private def plan(qe: QueryExecution): String = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }
}
