package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkGraph

/** LinkGraph invariants on a known tiny graph plus consistency checks on
  * the lineitem-derived graph (degree totals vs edge count — the
  * reference's pages.incoming/outgoing ≡ groupBy-count-over-links
  * property from FIXTURES.md).
  */
class LinkGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Path a-b-c-d plus isolated pair e-f (undirected via symmetrized).
  private def tiny = new LinkGraph(
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")).toDF("src", "dst")).symmetrized

  test("degree sums equal edge count") {
    val g = tiny
    val nEdges = g.edges.count()
    val outSum = g.outDegrees.agg(sum("out_deg")).as[Long].head()
    val inSum  = g.inDegrees.agg(sum("in_deg")).as[Long].head()
    assert(outSum === nEdges && inSum === nEdges)
  }

  test("kHop distances on a path graph") {
    val g = tiny
    val src = Seq("a").toDF("id")
    val got = g.kHop(src, 3).as[(String, Int)].collect().toMap
    assert(got === Map("b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("label propagation converges to component minima") {
    val labels = tiny.labelPropagation(4).as[(String, String)].collect().toMap
    assert(labels("a") === "a" && labels("b") === "a" &&
      labels("c") === "a" && labels("d") === "a")
    assert(labels("e") === "e" && labels("f") === "e")
  }

  test("fixed-point PageRank is deterministic and rank-positive") {
    val g = tiny
    val r1 = g.pageRankFixed(3).orderBy("id").as[(String, Long)].collect().toSeq
    val r2 = g.pageRankFixed(3).orderBy("id").as[(String, Long)].collect().toSeq
    assert(r1 === r2)
    assert(r1.forall(_._2 > 0))
    // b and c are the path's interior nodes → strictly higher rank than the ends.
    val m = r1.toMap
    assert(m("b") > m("a") && m("c") > m("d"))
  }

  test("connectedComponents converges to exact component minima and stops") {
    val (labels, rounds) = tiny.connectedComponents()
    val m = labels.as[(String, String)].collect().toMap
    assert(m === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e"))
    // Path a-b-c-d has eccentricity 3 from 'a'; must stop soon after, not
    // run to the maxIters guard.
    assert(rounds >= 3 && rounds <= 6, s"rounds=$rounds")
  }

  test("pageRankConverged reaches the fixed-iteration fixpoint") {
    val g = tiny
    val tol = 1e-6
    val conv  = g.pageRankConverged(tol)._1.orderBy("id").as[(String, Long)].collect().toSeq
    val fixed = g.pageRankFixed(30).orderBy("id").as[(String, Long)].collect().toSeq
    assert(conv.map(_._1) === fixed.map(_._1))
    val maxDiff = conv.zip(fixed).map { case ((_, a), (_, b)) => math.abs(a - b) }.max
    // Stopping at delta <= tol·scale leaves ranks within a small multiple
    // of that band of the true fixpoint.
    assert(maxDiff <= 10L * (tol * 1000000000000L).toLong, s"maxDiff=$maxDiff")
  }

  test("personalizedPageRankFixed matches hand-computed ranks on a 3-node path") {
    // Directed graph 1→2, 2→3, 3→2 (every node has out-degree ≥ 1, so no
    // dangling-mass handling is in play). Seed = {1}, scale = 100 so the
    // integer arithmetic below is exact hand math (damping 0.85 → 85/100,
    // integer division per round, teleport mass only to the seed):
    // r0 = (100, 0, 0)
    // r1: n1 = 15·100/100 = 15 ; n2 = 85·(r0(1)/1 + r0(3)/1)/100 = 85
    //     n3 = 85·r0(2)/100 = 0
    // r2: n1 = 15 ; n2 = 85·(15 + 0)/100 = 12 ; n3 = 85·85/100 = 72
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val g = new LinkGraph(edges)
    val ranks = g.personalizedPageRankFixed(Seq(1L).toDF("id"), iters = 2, scale = 100L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
    assert(ranks === Map(1L -> 15L, 2L -> 12L, 3L -> 72L))
  }

  test("coSourcePairs: uncapped pairs on a known graph") {
    // dsts: x shared by a,b,c; y shared by a,b → pairs (a,b):2, (a,c):1, (b,c):1
    val e = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("a", "y"), ("b", "y"))
      .toDF("src", "dst")
    val got = new LinkGraph(e).coSourcePairs(cap = 100)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
  }

  test("coSourcePairs: a celebrity dst is bounded by the hub cap") {
    // One dst shared by 10k sources: uncapped this is ~50M pairs; with
    // cap=64 it must emit exactly C(64,2) pairs over the 64 smallest srcs.
    val hot = spark.range(10000).selectExpr("format_string('s%05d', id) AS src", "'hub' AS dst")
    val pairs = new LinkGraph(hot).coSourcePairs(cap = 64)
    assert(pairs.count() === 64L * 63 / 2)
    val maxSrc = pairs.agg(max("b")).as[String].head()
    assert(maxSrc === "s00063") // deterministic: smallest 64 sources kept
  }

  test("connectedComponentsStar matches the fixpoint labels on the fixture") {
    val (expect, _) = tiny.connectedComponents()
    val (got, _)    = tiny.connectedComponentsStar()
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("connectedComponentsStar is O(log n) rounds on a path graph") {
    // Path 0-1-...-63: min-label propagation needs ~63 rounds (the min
    // travels one hop per round); star contraction squares the jump
    // distance each round, so it must finish in a handful.
    val n = 64
    val path = new LinkGraph(
      (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst"))
    val (labels, rounds) = path.connectedComponentsStar()
    assert(rounds <= 12, s"rounds=$rounds — not logarithmic")
    val m = labels.as[(Long, Long)].collect().toMap
    assert(m.size === n && m.values.forall(_ === 0L))
  }

  test("connectedComponentsStar fails loudly when maxIters is too small to converge") {
    // The same round cap (Rounds.iterate) guards every converging loop: a
    // cap below the 64-node path's fixpoint must throw, naming the loop,
    // instead of returning a truncated result.
    val n = 64
    val path = new LinkGraph(
      (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst"))
    val sym = path.symmetrized
    def loud(loop: String)(run: => Any): Unit = {
      val e = intercept[IllegalStateException](run)
      assert(e.getMessage.contains(s"$loop did not converge"), e.getMessage)
    }
    loud("connectedComponentsStar")(path.connectedComponentsStar(maxIters = 2))
    loud("connectedComponents")(sym.connectedComponents(maxIters = 2))
    loud("kCore")(sym.kCore(2, maxIters = 2))
    loud("pageRankConverged")(sym.pageRankConverged(tol = 1e-12, maxIters = 2))
  }

  test("connectedComponentsStar matches connectedComponents on the lineitem graph") {
    val e = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    val g = new LinkGraph(e).symmetrized
    val (expect, _) = g.connectedComponents()
    val (got, _)    = g.connectedComponentsStar()
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("cappedEdges agrees with coSourcePairs: n_common never exceeds capped degrees") {
    // 70 sources all pointing at dst "hub" (over the cap) plus a 2-dst
    // overlap pair: the cap must bound BOTH the pair counts and the degree
    // denominators, or Jaccard scores could exceed 1.
    val cap = 8
    val hub = (0 until 70).map(i => (f"s$i%02d", "hub"))
    val extra = Seq(("s00", "d2"), ("s01", "d2"))
    val g = new LinkGraph((hub ++ extra).toDF("src", "dst"))
    val capped = g.cappedEdges(cap)
    // Per-dst counts respect the cap; surviving sources are the smallest.
    val perDst = capped.groupBy("dst").count().as[(String, Long)].collect().toMap
    assert(perDst("hub") === cap.toLong && perDst("d2") === 2L)
    assert(capped.filter(col("dst") === "hub")
      .agg(max("src")).as[String].head() === "s07")
    val deg = capped.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val viol = g.coSourcePairs(cap)
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .filter(col("n_common") > least(col("da"), col("db")))
      .count()
    assert(viol === 0L)
  }

  test("kHopTagged attributes hop distances to each source independently") {
    val g = tiny
    val sources = Seq(("a", "a"), ("e", "e")).toDF("tag", "id")
    val got = g.kHopTagged(sources, 3)
      .as[(String, String, Int)].collect().toSet
    // From a along the path: b@1, c@2, d@3; from e only its pair f@1 —
    // the two BFS frontiers share rounds but never mix attributions.
    assert(got === Set(("a", "b", 1), ("a", "c", 2), ("a", "d", 3), ("e", "f", 1)))
    // Single-source tagged BFS degenerates to kHop exactly.
    val plain = g.kHop(Seq("a").toDF("id"), 3).as[(String, Int)].collect().toSet
    val tagged = g.kHopTagged(Seq(("a", "a")).toDF("tag", "id"), 3)
      .select("id", "dist").as[(String, Int)].collect().toSet
    assert(tagged === plain)
  }

  test("kCore peels a hanging chain off a clique, cascading over multiple rounds") {
    // Triangle {1,2,3} (every node degree 2) with a chain 3-4-5 hanging off:
    // k=2 peeling must CASCADE — round 1 drops 5 (deg 1), which exposes 4
    // (now deg 1) for round 2, leaving exactly the triangle.
    val g = new LinkGraph(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
        .toDF("src", "dst")).symmetrized
    val (core, rounds) = g.kCore(2)
    val nodes = core.select("src").distinct().as[Long].collect().sorted
    assert(nodes === Array(1L, 2L, 3L))
    assert(core.count() === 6L) // the symmetrized triangle
    // Two effective peels + the confirming no-op round.
    assert(rounds === 3)
    // k above the max degree empties the graph (and terminates).
    val (empty, _) = g.kCore(10)
    assert(empty.count() === 0L)
  }

  test("neighborhood census over tagged BFS: path graph pair counts per hop") {
    // Path a-b-c-d-e, sources {a, c}: exact per-hop pair counts are
    // h=1 → {a→b, c→b, c→d} = 3, h=2 → {a→c, c→a, c→e} = 3,
    // h=3 → {a→d} = 1, h=4 → {a→e} = 1. Cumulative 3,6,7,8; the 90%
    // effective horizon (10·cum ≥ 9·total ⇔ cum ≥ 7.2 ⇒ cum=8) is h=4.
    val g = new LinkGraph(
      Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
        .toDF("src", "dst")).symmetrized
    val srcs = Seq(("a", "a"), ("c", "c")).toDF("tag", "id")
    val census = g.kHopTagged(srcs, 4)
      .groupBy(col("dist")).agg(count(lit(1)).as("n"))
      .orderBy("dist").as[(Int, Long)].collect().toSeq
    assert(census === Seq((1, 3L), (2, 3L), (3, 1L), (4, 1L)))
    val cums = census.scanLeft(0L)(_ + _._2).tail
    val total = cums.last
    assert(cums.map(c => c * 10 >= total * 9) === Seq(false, false, false, true))
  }

  test("hyperBallCensus matches the exact neighborhood function on a known graph") {
    import spark.implicits._
    // 12 nodes: a 6-cycle (1..6) with a 3-node tail off 1 (7,8,9) and one
    // off 4 (10,11,12) — varied ball growth per hop, symmetrized.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 7L), (7L, 8L), (8L, 9L), (4L, 10L), (10L, 11L), (11L, 12L))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val got = new LinkGraph(sym).hyperBallCensus(3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val adj = (base ++ base.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, h: Int): Set[Long] =
      (0 until h).foldLeft(Set(v))((s, _) => s ++ s.flatMap(adj.getOrElse(_, Set.empty)))
    for (h <- 0 to 3) {
      val exact = adj.keySet.toSeq.map(v => ball(v, h).size.toLong).sum
      // Balls this small sit deep in the packed sketch's linear-counting
      // regime (n ≪ m = 256 registers, PackedHll.estimate), where the
      // m·ln(m/zeros) estimator is near-exact; allow 2% slack so the pin
      // is about the algorithm, not the estimator's last digit.
      assert(math.abs(got(h) - exact) <= math.max(1L, exact / 50),
        s"h=$h est=${got(h)} exact=$exact")
    }
    // Cumulative census must be monotone in h.
    assert((0 to 2).forall(h => got(h) <= got(h + 1)))
  }

  test("hyperBallDiameter: delta propagation is invisible, terminates at the horizon, marks 90%") {
    import spark.implicits._
    // Same 12-node graph as the census test; its diameter is 9
    // (9→8→7→1→{2,6}…→4→10→11→12).
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 7L), (7L, 8L), (8L, 9L), (4L, 10L), (10L, 11L), (11L, 12L))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val g = new LinkGraph(sym)
    val dia = g.hyperBallDiameter(lgK = 8, maxRounds = 32)
      .orderBy("h").collect()
      .map(r => (r.getAs[Int]("h"), r.getAs[Long]("est_pairs"),
        r.getAs[Int]("at_eff_horizon"))).toSeq
    // (1) Delta propagation must be semantically INVISIBLE: the sketches
    //     are bit-identical to full propagation, so the h ≤ 3 census
    //     values equal hyperBallCensus's EXACTLY (same estimator, same
    //     registers — not "within tolerance").
    val full = g.hyperBallCensus(3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val diaByH = dia.map(t => t._1 -> t._2).toMap
    for (h <- 0 to 3)
      assert(diaByH(h) === full(h), s"delta/full census diverged at h=$h")
    // (2) Terminates at the sketch fixpoint: no later than the true
    //     diameter (sets saturate at h = 9; sketches can only freeze
    //     earlier, never later), and deep enough to see the whole horizon.
    assert(dia.last._1 <= 9, s"ran past the diameter: h=${dia.last._1}")
    // (3) The fixpoint census ≈ total reachable pairs (all 12 nodes reach
    //     all 12 = 144). Pin at 3%: the linear-counting estimator
    //     m·ln(m/(m−n)) carries a POSITIVE bias ≈ n/2m per node
    //     (12/512 ≈ 2.3% here — second-order term of the log), so the
    //     saturated census reads 147, not 144; the census test's h ≤ 3
    //     rows sit below saturation where the bias is smaller.
    val exactTotal = 12L * 12L
    assert(math.abs(dia.last._2 - exactTotal) <= math.max(2L, exactTotal * 3 / 100),
      s"fixpoint census ${dia.last._2} vs exact $exactTotal")
    // (4) Monotone census, and the horizon marker is exactly
    //     est·10 ≥ final·9 with the last row always flagged.
    assert(dia.sliding(2).forall { case Seq(a, b) => a._2 <= b._2 })
    val fin = dia.last._2
    assert(dia.forall { case (_, est, m) =>
      m === (if (est * 10 >= fin * 9) 1 else 0) })
    assert(dia.last._3 === 1)
  }

  /** The executed plans of hyperBallDiameter's joining round checkpoints
    * on a 12-node graph, in round order. Round 0 (the initial balls) does
    * not join, so the first plan is round 1's.
    */
  private def hyperBallRoundPlans: Seq[String] = {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 7L), (7L, 8L), (8L, 9L), (4L, 10L), (10L, 11L), (11L, 12L))
    val g = new LinkGraph((base ++ base.map(_.swap)).toDF("src", "dst"))
    val (_, actions) = SparkTestSession.withActions(g.hyperBallDiameter(lgK = 8, maxRounds = 32))
    actions.collect { case ("localCheckpoint", p) if p.contains("Join") => p }
  }

  test("hyperBallDiameter round join is shuffled-hash with the frontier as build side") {
    // Round 16: the round join hints SHUFFLE_HASH on the shrinking changed
    // frontier — under a local broadcast threshold AQE otherwise broadcasts
    // the loop-invariant edge table and rebuilds its HashedRelation every
    // round (measured 0.4-0.5 s/round of driver-side gap; min-of-4 wall
    // 12.5 -> 7.3 s on g16 at sf0.1). An invalid or renamed hint would be
    // SILENTLY dropped by the planner, so pin the executed plan of every
    // round from round 2 on, where the frontier is the changed balls only.
    val rounds = hyperBallRoundPlans
    assert(rounds.size >= 3, s"expected several joining rounds, got ${rounds.size}")
    rounds.drop(1).zipWithIndex.foreach { case (plan, i) =>
      assert(plan.contains("ShuffledHashJoin"),
        s"round ${i + 2} join is not shuffled-hash:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"round ${i + 2} join regressed to a per-round broadcast rebuild")
    }
  }

  test("hyperBallDiameter round 1 keeps AQE's join choice: its frontier is every node") {
    // A shuffled-hash build side cannot spill, and round 1's frontier is all
    // of V, so the hint starts at round 2. On this small graph AQE's choice
    // is a broadcast.
    val round1 = hyperBallRoundPlans.head
    assert(!round1.contains("ShuffledHashJoin"), s"round 1 is hinted:\n$round1")
    assert(round1.contains("BroadcastHashJoin"), s"round 1 left AQE's choice:\n$round1")
  }

  test("hyperBallDiameter: maxRounds below the horizon fails loudly, never silently truncates") {
    import spark.implicits._
    // Same 12-node graph (diameter 9, sketch horizon ~6-9): maxRounds = 2
    // is below the horizon, so sketches are still changing when the
    // budget runs out. The run must THROW — a truncated census is
    // indistinguishable from a converged one by shape alone, and its
    // at_eff_horizon marker would be wrong.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 7L), (7L, 8L), (8L, 9L), (4L, 10L), (10L, 11L), (11L, 12L))
    val g = new LinkGraph((base ++ base.map(_.swap)).toDF("src", "dst"))
    val ex = intercept[IllegalStateException] {
      g.hyperBallDiameter(lgK = 8, maxRounds = 2)
    }
    assert(ex.getMessage.contains("hyperBallDiameter did not converge within its cap of 2 rounds"))
    // A converged run is branded converged = 1 on every row.
    val full = g.hyperBallDiameter(lgK = 8, maxRounds = 32)
      .orderBy("h").collect()
    assert(full.forall(_.getAs[Int]("converged") === 1))
    // lgK below 4 is rejected: m = 8 sits outside the estimator's
    // derived alpha range (PackedHll.estimate's per-m table).
    intercept[IllegalArgumentException] { g.hyperBallDiameter(lgK = 3) }
    intercept[IllegalArgumentException] { g.hyperBallCensus(2, lgK = 3) }
  }

  test("hyperBallDiameter: empty and disconnected graphs") {
    import spark.implicits._
    // Empty edge frame: one h=0 row, census 0, flagged, no NPE.
    val empty = new LinkGraph(Seq.empty[(Long, Long)].toDF("src", "dst"))
      .hyperBallDiameter(lgK = 8).collect()
    assert(empty.length === 1)
    assert(empty.head.getInt(0) === 0 && empty.head.getLong(1) === 0L)
    // Two disconnected components (a 2-path and a 3-path, symmetrized):
    // converges at the max component horizon (2), and the fixpoint census
    // is the SUM of per-component reachable pairs: 2² + 3² = 13.
    val base = Seq((1L, 2L), (10L, 11L), (11L, 12L))
    val two = new LinkGraph((base ++ base.map(_.swap)).toDF("src", "dst"))
      .hyperBallDiameter(lgK = 8)
      .orderBy("h").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(two.last._1 <= 2, s"ran past the larger component's diameter: $two")
    assert(math.abs(two.last._2 - 13L) <= 1, s"fixpoint census: $two")
  }

  test("lineitem graph: degree table totals match the edge count") {
    val e = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey").cast("string").as("src"),
        col("l_partkey").cast("string").as("dst"))
    val g = new LinkGraph(e)
    val inSum = g.inDegrees.agg(sum("in_deg")).as[Long].head()
    assert(inSum === e.count())
  }
}
