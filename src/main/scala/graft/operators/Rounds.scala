package graft.operators

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The one driver-side round loop behind every iterative graph operator
  * ([[LinkGraph]]'s BFS, PageRank, label-propagation, components, k-core
  * and HyperBall loops, and [[ShortestPaths]]). Each round extends the
  * lineage of a DataFrame state; `Rounds` owns how that state is
  * materialized, how its statistics are read and when the loop stops, so
  * no operator restates those rules.
  *
  *   - '''One action per round.''' A round that something reads is
  *     materialized by ONE eager `localCheckpoint`: the lineage is
  *     truncated (a round reads its input state more than once, e.g. a join
  *     plus a union, so un-truncated state would be recomputed per
  *     reference, 2^n over n rounds) and the round's partitions are
  *     computed exactly once before the next round fans out over them. The
  *     round's `stats` ride on that same job through `Dataset.observe`, so
  *     a convergence count, census or fingerprint costs no second job. The
  *     checkpoint must be eager: an observation on a lazy checkpoint fires
  *     before any row is computed and reports empty aggregates. The values
  *     are read from the checkpoint's own `QueryExecution` as soon as it
  *     returns; an `Observation` would wait for the asynchronous listener
  *     bus to deliver them.
  *   - '''Which rounds are materialized.''' Round 0 (`init`) and round i
  *     are materialized when the next round or a statistic reads them. The
  *     last round of a fixed-count loop without statistics is read by
  *     nobody here, so it is returned lazily and the caller's action
  *     computes it.
  *   - '''Stopping.''' With `done`, the loop ends after the first round
  *     whose stat rows so far satisfy it; reaching `rounds` without that
  *     throws `IllegalStateException` naming the loop and the cap, so a
  *     truncated fixpoint can never pass for a converged one. Without
  *     `done`, exactly `rounds` rounds run.
  *
  * Loop-invariant inputs (edge and degree tables) are the caller's to
  * materialize once before the loop. On a cluster the same loop would use
  * reliable `checkpoint()`: local-checkpoint blocks die with their
  * executor.
  */
object Rounds {

  /** The final state, the number of rounds run, and one stat row per
    * materialized round (row 0 is `init`'s; empty without `stats`), with
    * one field per `stats` column in order.
    */
  final case class Result(state: DataFrame, rounds: Int, stats: IndexedSeq[Row])

  /** Runs `step(state, i)` for i = 1.. until `done` holds on the stat rows
    * (or exactly `rounds` times without `done`). `stats` are aggregate
    * columns evaluated over every materialized round's state.
    */
  def iterate(name: String, init: DataFrame, rounds: Int, stats: Seq[Column] = Nil)
      (step: (DataFrame, Int) => DataFrame)
      (done: Option[IndexedSeq[Row] => Boolean] = None): Result = {
    require(rounds >= 0, s"$name: round cap must be >= 0, got $rounds")
    require(done.isEmpty || stats.nonEmpty, s"$name: a stopping rule needs stats to read")
    val named = stats.zipWithIndex.map { case (c, j) => c.as(s"stat$j") }
    val rows = ArrayBuffer.empty[Row]
    def materialize(df: DataFrame): DataFrame =
      if (named.isEmpty) df.localCheckpoint()
      else {
        val observed = df.observe(name, named.head, named.tail: _*)
        val m = observed.localCheckpoint()
        rows += observed.queryExecution.observedMetrics(name)
        m
      }
    @tailrec def loop(state: DataFrame, i: Int): Result =
      if (i > 0 && done.exists(_(rows.toIndexedSeq))) Result(state, i, rows.toIndexedSeq)
      else if (i == rounds) {
        if (done.isDefined) throw new IllegalStateException(
          s"$name did not converge within its cap of $rounds rounds; raise the cap")
        Result(state, i, rows.toIndexedSeq)
      } else {
        val next = step(state, i + 1)
        loop(if (i + 1 < rounds || named.nonEmpty) materialize(next) else next, i + 1)
      }
    loop(if (rounds > 0 || named.nonEmpty) materialize(init) else init, 0)
  }
}
