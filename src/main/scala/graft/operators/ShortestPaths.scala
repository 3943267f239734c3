package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed single/multi-source shortest paths over weighted edges —
  * fixed-round Bellmann-Ford relaxation, the iterative-join shape (like
  * [[LinkGraph.pageRankFixed]]) rather than a priority queue: Dijkstra's
  * sequential frontier does not distribute, while "relax every edge, keep
  * the min per node" is one join + one hash agg per round and converges to
  * the same distances once rounds ≥ the hop diameter of the touched
  * region.
  *
  * Determinism: distances are LONG sums folded with `min` — associative,
  * commutative, partition-order independent — so a fixed round count gives
  * bit-identical results on any engine, which is what lets an unrolled SQL
  * oracle gate it.
  *
  * Scale: each round shuffles the frontier-joined edge list once (hash on
  * dst) and the running distance table once (hash on id). The loop is a
  * [[Rounds.iterate]] call, which materializes every round the next one
  * reads: the distance table is referenced twice per round (relax join +
  * union), so un-truncated lineage would double the recompute per round.
  */
object ShortestPaths {

  /** `rounds` relaxations of `dist'(v) = min(dist(v), min_{u→v}(dist(u)+w))`
    * from `sources` (an `id` column, dist 0). `wedges` columns:
    * `src, dst, w` (long weights ≥ 0). Returns `(id, dist)` for every node
    * within `rounds` hops of a source; unreached nodes are absent.
    */
  def fixedRounds(wedges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val e = wedges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(false) // loop-invariant: materialize once, not per round
    val init = sources.select(col("id")).distinct().withColumn("dist", lit(0L))
    Rounds.iterate("fixedRounds", init, rounds) { (dist, _) =>
      dist.union(e.join(dist, e("src") === dist("id"))
          .select(e("dst").as("id"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }().state
  }
}
