package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkGraph

/** The round-loop contract of [[graft.operators.Rounds]], observed from the
  * outside through the actions a loop runs.
  */
class RoundsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("connectedComponents runs one checkpoint action per round and no stat action") {
    // Path a-b-c-d plus the pair e-f, symmetrized (the LinkGraphSpec fixture).
    val g = new LinkGraph(
      Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")).toDF("src", "dst")).symmetrized
    val ((labels, rounds), actions) = SparkTestSession.withActions(g.connectedComponents())
    assert(rounds >= 3, s"rounds=$rounds")
    // Every action is a checkpoint: the edge input (lazy), round 0 and one
    // per round. Convergence rides on the round's own job (observe), so no
    // count/head/collect runs inside the loop.
    assert(actions.map(_._1).toSet === Set("localCheckpoint"), actions.map(_._1))
    assert(actions.count(_._2.contains("Join")) === rounds,
      s"round checkpoints != $rounds rounds: ${actions.map(_._1)}")
    assert(actions.size === rounds + 2)
    assert(labels.as[(String, String)].collect().toMap ===
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "e", "f" -> "e"))
  }
}
