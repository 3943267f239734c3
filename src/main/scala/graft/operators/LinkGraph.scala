package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analysis over a directed edge DataFrame `(src, dst)` — the
  * Spark-native form of the reference's pages/links adjacency model
  * (`src/tropology/db.clj` network + degree queries, public repo; see
  * SURVEY.md §3.9).
  *
  * The reference kept both-direction B-tree indexes on the edge table; here
  * the same locality comes from shuffling on the join key — each operation
  * is a keyed join/agg that Catalyst plans with hash exchanges, and at
  * 100 TB the edge table would be bucketed by `src` (plus a `dst`-bucketed
  * copy for reverse scans) so these joins become shuffle-free.
  *
  * Iterative algorithms (k-hop, PageRank, label propagation, components,
  * k-core, HyperBall) are driver-side loops over DataFrames, each one
  * [[Rounds.iterate]] call: `Rounds` owns per-round materialization,
  * statistics and the round cap, so the methods here only say what one
  * round computes and when it has converged.
  *
  * PageRank uses fixed-point integer arithmetic (ranks scaled by `scale`,
  * integer division everywhere) — deterministic regardless of partition
  * order and bit-identical across engines, unlike double sums. For display,
  * divide by `scale` at the end.
  */
class LinkGraph(val edges: DataFrame) {

  /** Undirected view: every edge plus its reverse, deduplicated. */
  lazy val symmetrized: LinkGraph = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    new LinkGraph(edges.select("src", "dst").union(rev).distinct())
  }

  /** Distinct node ids appearing at either end of an edge. */
  def nodeIds: DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))

  /** Pairs `(a, b)` of distinct src nodes (a < b) sharing at least one dst,
    * with the shared-dst count — the common-neighbor / co-occurrence
    * building block.
    *
    * Pair generation goes through per-dst adjacency arrays (groupBy +
    * nested transform), not an edge self-join: the Σ deg² pair rows are
    * emitted locally after ONE shuffle on the shared endpoint.
    *
    * Hub guard (the celebrity-node problem): each dst's sorted adjacency
    * list is truncated to its `cap` smallest sources BEFORE pair emission,
    * so a hot dst contributes at most cap·(cap−1)/2 pairs instead of d²/2 —
    * the difference between a bounded shuffle and a job-killing blowup at
    * 100 TB. Deterministic (sorted prefix) and cheap (`slice` on the
    * already-collected array); callers mirroring results in SQL must apply
    * the same cap (row_number per dst ≤ cap).
    */
  /** Per-dst adjacency arrays `(dst, ss)` truncated to the `cap` smallest
    * sources — the shared hub-guard derivation behind [[coSourcePairs]]
    * and [[cappedEdges]], so pair counts and capped degrees can never
    * disagree on which edges survived the cap. Callers combining BOTH
    * derived forms (e.g. Jaccard link prediction) should materialize this
    * once (`localCheckpoint`) and use the [[LinkGraph.pairsFromAdjacency]]/
    * [[LinkGraph.edgesFromAdjacency]] statics, instead of paying one
    * adjacency build per derived form.
    */
  def cappedAdjacency(cap: Int): DataFrame = {
    require(cap >= 1, s"cappedAdjacency: cap must be >= 1, got $cap")
    // Requires DISTINCT (src, dst) edges — duplicates would inflate the
    // co-occurrence counts. collect_list over pre-distinct input measured
    // faster than fusing the dedup into collect_set here (set maintenance
    // per row costs more than the distinct pass it saves).
    edges
      .groupBy(col("dst"))
      .agg(slice(sort_array(collect_list(col("src"))), 1, cap).as("ss"))
  }

  /** The edge set AFTER the hub cap: each dst keeps its `cap` smallest
    * sources. SQL mirror: `row_number() OVER (PARTITION BY dst ORDER BY
    * src) <= cap`. Degree counts over this set are the denominators that
    * pair with [[coSourcePairs]] numerators (e.g. Jaccard link prediction).
    */
  def cappedEdges(cap: Int): DataFrame =
    LinkGraph.edgesFromAdjacency(cappedAdjacency(cap))

  def coSourcePairs(cap: Int): DataFrame = {
    require(cap >= 2, s"coSourcePairs: cap must be >= 2, got $cap")
    LinkGraph.pairsFromAdjacency(cappedAdjacency(cap))
  }

  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))

  /** Nodes at minimum distance 1..k from `sources` (a DataFrame with an
    * `id` column), as `(id, dist)`. Sources themselves are dist 0 and
    * excluded from the result. BFS by repeated join + anti-join: the round
    * state is the visited set, and round i expands its dist = i−1
    * frontier.
    */
  def kHop(sources: DataFrame, k: Int): DataFrame = {
    val init = sources.select(col("id")).distinct().withColumn("dist", lit(0))
    Rounds.iterate("kHop", init, k) { (visited, i) =>
      val frontier = visited.filter(col("dist") === i - 1).select("id")
      visited.union(edges.join(frontier, edges("src") === frontier("id"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id").as("vid")), col("id") === col("vid"), "left_anti")
        .withColumn("dist", lit(i)))
    }().state.filter(col("dist") > 0)
  }

  /** Multi-source BFS with per-source attribution: like [[kHop]] but each
    * frontier row carries the `tag` of the source that reached it, so one
    * joint loop yields every (source, node, hop-distance) triple — the
    * shape landmark-centrality methods need. Cost per round is one edge
    * join on the combined frontier (|tags| × the per-source frontier,
    * deduped per (tag, node)) instead of |tags| separate loops, so rounds
    * — the scarce resource at scale, each one a shuffle — don't multiply
    * with the landmark count. `sources` must provide (tag, id).
    */
  def kHopTagged(sources: DataFrame, k: Int): DataFrame = {
    val init = sources.select(col("tag"), col("id")).distinct().withColumn("dist", lit(0))
    Rounds.iterate("kHopTagged", init, k) { (visited, i) =>
      val frontier = visited.filter(col("dist") === i - 1)
      visited.union(edges.join(frontier, edges("src") === frontier("id"))
        .select(col("tag"), col("dst").as("id")).distinct()
        .join(visited.select(col("tag").as("vtag"), col("id").as("vid")),
          col("tag") === col("vtag") && col("id") === col("vid"), "left_anti")
        .withColumn("dist", lit(i)))
    }().state.filter(col("dist") > 0)
  }

  /** HyperBall neighborhood-function census (ANF): per-node HLL sketches
    * of the h-hop ball, iterated `rounds` times —
    * `b_h(v) = b_{h-1}(v) ∪ ⋃_{v→w} b_{h-1}(w)` — then
    * `N(h) = Σ_v |b_h(v)|` estimated from the sketches. THE tractable way
    * to measure reachable-pair growth / effective diameter at 100 TB:
    * state is one fixed-width sketch per node (the exact census carries a
    * (source, node) PAIR frontier, quadratic in reach), each round is ONE
    * edge join + ONE sketch-union aggregate, and the error is the
    * standard HLL bound (~6.5% per NODE at lgK = 8). The census reads the
    * SUM over all nodes; per-node errors partially cancel there, but ONLY
    * while balls are small and mostly disjoint (early h): every node's
    * sketch derives its registers from the SAME xxhash64(id), so nodes
    * with overlapping balls produce CORRELATED estimates — and at the
    * fixpoint of a connected component every ball is identical, the
    * errors are perfectly correlated, and the census error is the full
    * per-node bound (~6.5% at lgK = 8, plus linear-counting's ≈ n/2m
    * positive bias in the small regime — the 147-vs-144 the spec pins).
    * The 1/√|V| independent-cancellation figure applies to the h=0/h=1
    * rows, not the saturated tail; size lgK for the PER-NODE bound you
    * need at the horizon, not for the cancelled early rounds.
    * Engine-specific sketch bytes — like a3_approx_distinct this cannot
    * cross the DuckDB oracle gate, so the accuracy contract is
    * spec-pinned against the exact census (LinkGraphSpec) and the query
    * ships rows-only. Returns `(h, est_pairs)` for h = 0..rounds.
    *
    * REPRESENTATION (round 13): the 2^lgK registers are packed 8-per-long
    * into (2^lgK)/8 flat BIGINT columns, and the per-round ball union is
    * [[LaneMaxAgg]] per column — a DeclarativeAggregate over an
    * all-primitive fixed-width buffer, so every round plans as a true
    * HashAggregate with MAP-SIDE partial aggregation and whole-stage
    * codegen. The previous `hll_sketch_agg`/`hll_union_agg` formulation
    * (variable-width Datasketches blobs → TypedImperativeAggregate)
    * planned as ObjectHashAggregate, whose 128-distinct-key fallback
    * SORTED the full |E|-row contribution input every round — the
    * measured 125×-scale killer (SCALE.md). Register derivation and the
    * estimator live in [[PackedHll]]; the per-node init is pure builtin
    * codegen expressions (xxhash64 → bucket/trailing-zero rho → one
    * shifted lane), no custom eval on the init path at all.
    */
  def hyperBallCensus(rounds: Int, lgK: Int = 8): DataFrame = {
    // Lower bound 4: m = 16 is the smallest register count with a
    // published HLL alpha constant (PackedHll.estimate's per-m table);
    // m = 8 would run the estimator outside its derived range. 14 caps
    // the agg column count at 2048 (codegen method-size sanity).
    require(lgK >= 4 && lgK <= 14, s"lgK must be in [4, 14], got $lgK")
    val m = 1 << lgK
    val nLanes = m / 8
    val laneCols = (0 until nLanes).map(j => s"l$j")
    // Materialize the edge table once for the loop. NO repartition(dst)
    // first (round 15): the checkpointed LogicalRDD reports
    // UnknownPartitioning (verified in plans/r15/g16_*_roundagg plans), so
    // the dst layout the former repartition paid one full edge shuffle for
    // never reached the per-round join planner anyway — the join plans
    // identically (broadcast under the threshold, fresh exchanges above
    // it) with or without it. Pure saved work.
    val e = edges.localCheckpoint(false)
    // Each round shuffles ≈ |E| · 2^lgK sketch bytes, and those shuffle
    // files are reclaimed only after a driver GC notices the dereferenced
    // dependencies — a large driver heap may never GC inside the loop, so
    // rounds ACCUMULATE on local disk (measured at the 125× probe:
    // ~37 GB/round overran the host's disk budget). An explicit GC per
    // round bounds retention to ~one round's working set, but a full STW
    // collect of a big heap costs tens of seconds (measured 3× on the
    // 25× probe when applied unconditionally) — so it is gated on the
    // round's sketch-shuffle volume: only when a round writes ≳ 16 GB
    // (edges ≥ 2^(34−lgK)) does retention threaten the disk before the
    // cleaner's natural pace reclaims it.
    val gcPerRound = e.count() >= (1L << (34 - lgK))
    val laneAggs = laneCols.map(c => expr(s"graft_lanemax_agg($c)").as(c))
    // The per-round census is a statistic, so it rides on each round's
    // checkpoint job and no round's sketch table outlives the next round.
    val res = Rounds.iterate("hyperBallCensus", packedInitBalls(e, lgK), rounds,
        Seq(censusOf(laneCols))) { (balls, h) =>
      if (gcPerRound && h > 1) System.gc() // see the gate's derivation above
      e.join(balls, e("dst") === balls("id"))
        .select(e("src").as("id") +: laneCols.map(col): _*)
        .union(balls.select(col("id") +: laneCols.map(col): _*))
        .groupBy(col("id"))
        .agg(laneAggs.head, laneAggs.tail: _*)
    }()
    val s = edges.sparkSession
    import s.implicits._
    res.stats.zipWithIndex.map { case (r, h) => (h, r.getLong(0)) }.toDF("h", "est_pairs")
  }

  /** Estimated census Σ_v |b(v)| over a ball table's lanes. The per-node
    * estimates are summed as DECIMAL(38,12), which is exact: an observed
    * aggregate merges its per-task partial sums in task-completion order,
    * and a double sum would then depend on that order. coalesce(…, 0): a
    * sum over zero rows is NULL, and an empty edge frame must yield a
    * 0-census, not an NPE out of a public method.
    */
  private def censusOf(laneCols: Seq[String]): Column =
    coalesce(round(sum(expr(s"graft_hll_estimate(array(${laneCols.mkString(", ")}))")
      .cast(DecimalType(38, 12))), 0), lit(0)).cast("long")

  /** Round-0 packed-HLL ball table: each node's ball is {itself}, i.e.
    * exactly ONE register set — bucket = xxhash64(id) & (m-1), rho =
    * trailing zeros of the remaining bits + 1 (tz = bit_count((w & -w)
    * - 1); P(tz >= k) = 2^-k, as uniform as leading-run length and
    * builtin-expressible). The single rho lands in lane bucket>>3 at
    * byte offset bucket&7; every other lane is 0. All builtin codegen'd
    * expressions — no custom eval on the init path at all. Shared by
    * [[hyperBallCensus]] and [[hyperBallDiameter]].
    */
  private def packedInitBalls(e: DataFrame, lgK: Int): DataFrame = {
    val m = 1 << lgK
    val laneCols = (0 until (m / 8)).map(j => s"l$j")
    val laneInit = laneCols.zipWithIndex.map { case (c, j) =>
      s"IF(shiftright(bucket, 3) = $j, " +
        s"shiftleft(CAST(rho AS BIGINT), (bucket & 7) * 8), CAST(0 AS BIGINT)) AS $c"
    }
    e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .selectExpr("id",
        s"CAST(xxhash64(id) & ${m - 1}L AS INT) AS bucket",
        s"shiftrightunsigned(xxhash64(id), $lgK) AS w")
      .selectExpr(Seq("id", "bucket",
        s"CASE WHEN w = 0 THEN ${64 - lgK + 1} " +
          "ELSE bit_count((w & -w) - 1) + 1 END AS rho"): _*)
      .selectExpr(("id" +: laneInit): _*)
  }

  /** HyperBall run to CONVERGENCE with the paper's systolic optimization
    * (Boldi & Vigna, "HyperBall: Counting the Distance Distribution of
    * Large Graphs in Memory"; Palmer et al.'s ANF before it): each round,
    * only nodes whose sketch CHANGED last round contribute to their
    * neighbors, and the loop stops when NO sketch changes — the graph's
    * horizon is exhausted and the census is at its fixpoint.
    *
    * CORRECTNESS of the skip: if b_{h-1}(w) = b_{h-2}(w), then w's
    * round-h contribution b_{h-1}(w) was already delivered to every
    * in-neighbor v in the round after w last changed (induction from
    * round 1, where every round-0 ball is new and all nodes contribute),
    * so it is ⊆ b_{h-1}(v) and re-sending it is a no-op. Delta
    * propagation is therefore semantically INVISIBLE — the per-round
    * sketches are bit-identical to full propagation (spec-pinned against
    * [[hyperBallCensus]] in LinkGraphSpec).
    *
    * Why the fixed-round census doesn't do this: while balls grow,
    * nearly every node changes every round, so the skip saves nothing
    * and the changed-flag bookkeeping isn't free. A convergence run is
    * the opposite shape — near the horizon almost NOTHING changes, and
    * delta propagation turns the tail rounds from |E|-joins into
    * |changed-frontier|-joins. That decay is what makes running to the
    * horizon (the effective-diameter question) affordable at 100-TB
    * scale, where the horizon of a web-ish graph sits far past any
    * fixed round budget.
    *
    * The changed flag costs NO extra join or pass: the same
    * HashAggregate that lane-maxes the union also carries the standing
    * row's lanes (a declarative MAX over `IF(is_ball=1, lane, NULL)` —
    * exactly one standing row per group), and the flag is a null-safe
    * post-agg lane comparison.
    *
    * Output mirrors the exact census's shape (`g13_neighborhood`):
    * one row per round h = 0..horizon with the estimated cumulative
    * reachable pairs, the round's systolic frontier size `n_changed`
    * (how many sketches changed in round h; |V| at h = 0 — the decay of
    * this column IS the delta-propagation saving, measured not claimed),
    * and the integer 90%-of-horizon marker (est·10 ≥ final·9; the
    * smallest flagged h is the effective-diameter estimate).
    *
    * CONVERGENCE CONTRACT: `maxRounds` is a safety valve, not a result
    * parameter. A run that hits it while sketches are still changing has
    * a TRUNCATED census, and the horizon marker computed against it is
    * simply wrong — yet the output would look exactly like a converged
    * run (monotone, contiguous, last row flagged). So a truncated run
    * THROWS ([[Rounds]]' cap), and every output row carries a constant
    * `converged = 1` column that dump-time guards assert independently.
    */
  def hyperBallDiameter(lgK: Int = 8, maxRounds: Int = 64): DataFrame = {
    require(lgK >= 4 && lgK <= 14, s"lgK must be in [4, 14], got $lgK")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val m = 1 << lgK
    val laneCols = (0 until (m / 8)).map(j => s"l$j")
    // No repartition(dst) — see hyperBallCensus (round 15): the layout
    // does not survive the checkpoint, so it was one wasted edge shuffle.
    val e = edges.localCheckpoint(false)
    val gcPerRound = e.count() >= (1L << (34 - lgK)) // see hyperBallCensus
    val laneArray = s"array(${laneCols.mkString(", ")})"
    // Changed-flag carrier (round 15): ONE aggregated long — the standing
    // ball's register byte-sum — instead of the former second full set of
    // 2^lgK/8 max(IF(is_ball...)) lane columns. EXACT, not a hash:
    // registers are monotone non-decreasing under lane-max union, so the
    // unioned sketch's byte-sum equals the standing ball's iff every
    // register is unchanged. Halves the per-round groupBy's aggregation
    // buffer (2·lanes+1 slots → lanes+1) and therefore the bytes every
    // round's partial-agg shuffle carries, and shrinks the generated
    // aggregate code — measured plan diff in plans/r15/ (64 agg
    // expressions → 33).
    val aggs = laneCols.map(c => expr(s"graft_lanemax_agg($c)").as(c)) :+
      expr("max(bs)").as("o_bs")
    // Null-safe: a group without a standing row cannot occur (round 0
    // covers every src and dst), but IS DISTINCT FROM keeps the flag
    // total rather than null-poisoned if that invariant ever moved.
    val chgExpr = s"graft_lane_bytesum($laneArray) IS DISTINCT FROM o_bs"
    // Round state: the ball table plus `chg` (1 = the sketch changed in
    // that round). Round 0 created every ball, so every node contributes
    // to round 1. Stats per round: the census and n_changed, the systolic
    // frontier size — emitted so the delta-propagation tail decay is
    // measurable from the output instead of inferred from wall-clock.
    val res = Rounds.iterate("hyperBallDiameter",
        packedInitBalls(e, lgK).withColumn("chg", lit(1)), maxRounds,
        Seq(censusOf(laneCols), coalesce(sum(col("chg")), lit(0)).cast("long"))) {
      (balls, h) =>
        // SHUFFLE_HASH on the changed frontier (round 16, guide §3.1): under
        // the 64 MB broadcast threshold AQE picked a broadcast of the
        // loop-invariant edge table and REBUILT its HashedRelation every
        // round (driver-side, off the job timeline — JobProfile showed
        // 0.4-0.5 s gaps per round). Hinting the shrinking frontier as the
        // hash build side takes the shuffled-hash path every round instead:
        // measured min-of-4 same-JVM 12.5 -> 7.3 s wall (and the 17-51 s
        // broadcast-build outlier runs disappear), executor CPU 97 -> 76 s.
        // This is also the plan shape 100 TB forces anyway (the edge side is
        // far over any broadcast threshold), so local and at-scale behavior
        // now match. The fixed-round census keeps the AQE default: at 3
        // rounds with a non-shrinking balls side the broadcast wins locally
        // (4.1 vs 6.9 s) and the threshold demotes it at scale on its own.
        // Round 1 keeps the AQE default too: its frontier is every node (round
        // 0 created every ball), the same non-shrinking side, and a shuffled-
        // hash build side of all of V cannot spill.
        if (gcPerRound && h > 1) System.gc()
        val changed = balls.filter(col("chg") === 1)
          .select(col("id") +: laneCols.map(col): _*)
        e.join(if (h > 1) changed.hint("shuffle_hash") else changed, e("dst") === changed("id"))
          .select(e("src").as("id") +:
            (laneCols.map(col) :+ lit(null).cast("long").as("bs")): _*)
          .union(balls.select(col("id") +:
            (laneCols.map(col) :+ expr(s"graft_lane_bytesum($laneArray)").as("bs")): _*))
          .groupBy(col("id"))
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr((Seq("id") ++ laneCols :+ s"CAST(($chgExpr) AS INT) AS chg"): _*)
    }(Some(_.last.getLong(1) == 0))
    // A no-change round's census equals the previous round's — the
    // fixpoint confirmation is not a new census row.
    val rows = res.stats.zipWithIndex.collect {
      case (r, h) if h == 0 || r.getLong(1) > 0 => (h, r.getLong(0), r.getLong(1))
    }
    val s = edges.sparkSession
    import s.implicits._
    val finalPairs = rows.last._2
    rows.toDF("h", "est_pairs", "n_changed")
      .withColumn("at_eff_horizon",
        (col("est_pairs") * 10 >= lit(finalPairs) * 9).cast("int"))
      .withColumn("converged", lit(1))
  }

  /** Fixed-point PageRank: `iters` rounds of
    * `r'(v) = (15*scale + 85 * Σ_{u→v} (r(u) DIV deg_out(u))) DIV 100`,
    * ranks starting at `scale`. All arithmetic is integer → deterministic.
    * Nodes must all have out-degree ≥ 1 (true for symmetrized graphs).
    */
  def pageRankFixed(iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = degreeEdges
    Rounds.iterate("pageRankFixed", nodeIds.withColumn("rank", lit(scale)), iters) {
      (ranks, _) =>
        // One shuffle per round: neighbor contributions unioned with a zero
        // row per node (ranks holds every node id, so the zero row both
        // guarantees presence and removes the join-back onto the node
        // table — the former left-outer join cost a sort-merge join + two
        // exchanges per round).
        e.join(ranks, e("src") === ranks("id"))
          .select(col("dst").as("nid"), expr("rank DIV out_deg").as("c"))
          .union(ranks.select(col("id").as("nid"), lit(0L).as("c")))
          .groupBy(col("nid").as("id"))
          .agg(expr(s"(15 * ${scale}L + 85 * sum(c)) DIV 100").as("rank"))
    }().state
  }

  /** Loop-invariant `(src, dst, out_deg)` edge list of the PageRank loops,
    * materialized once so no round re-runs the degree aggregation.
    */
  private def degreeEdges: DataFrame =
    edges
      .join(outDegrees.withColumnRenamed("id", "__did"), col("src") === col("__did"))
      .select(col("src"), col("dst"), col("out_deg"))
      .localCheckpoint(false)

  /** PERSONALIZED PageRank, fixed rounds: identical recurrence to
    * [[pageRankFixed]] except the teleport mass lands only on `sources`
    * (the random walk restarts at the seed instead of a uniform jump) —
    * rank becomes proximity-to-seed, the recommendation/related-items
    * score, rather than global importance. Same integer fixed-point
    * arithmetic (order-independent, oracle-exact), same one-shuffle-per-
    * round shape; the per-node teleport indicator rides along in the
    * union rows, so no extra join per round.
    */
  def personalizedPageRankFixed(sources: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    val nodes = nodeIds.localCheckpoint(false)
    val e = degreeEdges
    // Teleport indicator per node (1 on a seed, 0 elsewhere), materialized
    // once: it is both the r0 mass and every round's restart term.
    val tele = nodes
      .join(sources.select(col("id")).distinct().withColumn("__s", lit(1L)),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("__s"), lit(0L)).as("t"))
      .localCheckpoint()
    Rounds.iterate("personalizedPageRankFixed",
        tele.select(col("id"), (col("t") * scale).as("rank")), iters) { (ranks, _) =>
      e.join(ranks, e("src") === ranks("id"))
        .select(col("dst").as("nid"), expr("rank DIV out_deg").as("c"), lit(0L).as("t"))
        .union(tele.select(col("id").as("nid"), lit(0L).as("c"), col("t")))
        .groupBy(col("nid").as("id"))
        .agg(expr(s"(15 * ${scale}L * max(t) + 85 * sum(c)) DIV 100").as("rank"))
    }().state
  }

  /** Connected components: minimum-label propagation iterated to FIXPOINT —
    * rounds run until no node's label changes (or `maxIters`, past which
    * [[Rounds]] throws), so the result is the true per-component minimum
    * id, not a fixed-round partial labeling.
    *
    * The convergence check costs no extra shuffle or job: each round's
    * aggregation carries the node's PREVIOUS label alongside the new
    * minimum (the self-contribution row tags it), and the changed-count
    * is a statistic on the round's checkpoint job. Rounds needed = max
    * eccentricity of a component min, typically O(log n) for real-world
    * graphs.
    *
    * Returns (labels, roundsRun): `labels` is `(id, lbl)` with `lbl` the
    * smallest node id in the component.
    */
  def connectedComponents(maxIters: Int = 100): (DataFrame, Int) = {
    // Loop-invariant edge input materializes ONCE (as in the PageRank
    // methods) — otherwise a derived edge plan re-executes every round.
    // Nodes derive from the CHECKPOINTED edges, not the raw plan, so the
    // edge derivation truly runs once.
    val e = edges.localCheckpoint(false)
    val init = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("lbl"), col("id").as("prev"))
    val lblType = init.schema("id").dataType
    val res = Rounds.iterate("connectedComponents", init, maxIters,
        Seq(count(when(col("lbl") =!= col("prev"), 1)))) { (labels, _) =>
      e.join(labels, e("src") === labels("id"))
        .select(col("dst").as("nid"), col("lbl"), lit(null).cast(lblType).as("self_lbl"))
        .union(labels.select(col("id").as("nid"), col("lbl"), col("lbl").as("self_lbl")))
        .groupBy(col("nid").as("id"))
        .agg(min(col("lbl")).as("lbl"), max(col("self_lbl")).as("prev"))
    }(Some(_.last.getLong(0) == 0))
    (res.state.select(col("id"), col("lbl")), res.rounds)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round rewires every node toward its neighborhood
    * minimum, which SQUARES the effective pointer-jump distance — O(log n)
    * rounds on any topology, where [[connectedComponents]]' min-label
    * propagation needs O(diameter) rounds and a 100×-scaled path-shaped
    * component would mean 100× the shuffles. Per round: two window-min
    * passes (one shuffle each) + dedup; no joins at all.
    *
    *   - large-star: for each node u, every LARGER neighbor v re-attaches
    *     to m = min(Γ(u) ∪ {u});
    *   - small-star: edges oriented (larger → smaller); each node u and
    *     its smaller neighbors re-attach to their minimum.
    *
    * Converges when the edge set is a fixed collection of stars centered
    * at component minima; every node then points directly at its
    * component's smallest id. Equivalence with the fixpoint labels is
    * spec-pinned (LinkGraphSpec) on both the fixture and a long path.
    *
    * Returns (labels, roundsRun) with the same `(id, lbl)` shape as
    * [[connectedComponents]]; `roundsRun` and `maxIters` count the
    * initial small-star pass as round 1.
    */
  def connectedComponentsStar(maxIters: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val w = Window.partitionBy(col("u"))
      // No interior distinct: duplicates don't affect small-star's window
      // MIN, the round's trailing dedup canonicalizes, and total duplicate
      // volume is bounded by Σdeg = |E| — dropping it saves one shuffle of
      // the full edge set per round.
      sym.withColumn("m", least(col("u"), min(col("v")).over(w)))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
      val w = Window.partitionBy(col("u"))
      val withM = oriented.withColumn("m", min(col("v")).over(w))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(withM.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }

    // Loop-invariant edge input materializes ONCE; both the node table and
    // the first small-star pass read the checkpointed plan, not the raw
    // derivation (which would otherwise re-execute scan+distinct+symmetrize).
    val e0 = edges.localCheckpoint(false)
    val nodes = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct().localCheckpoint(false)
    // Fingerprint = (edge count, order-independent hash-sum): unchanged
    // across a full round ⇒ the star set is the fixpoint. The sum runs in
    // DECIMAL(38,0) — a long sum of 64-bit hashes overflows under ANSI. A
    // sum collision masking a real change is vanishingly unlikely and
    // would be caught by the spec's equivalence checks.
    val fingerprint = Seq(count(lit(1)),
      sum(xxhash64(col("src"), col("dst")).cast(DecimalType(38, 0))))
    // An unconverged edge set is not a star forest: a node could appear
    // under two labels and the join below would emit duplicate rows, so
    // the cap must throw, which [[Rounds]] does.
    val res = Rounds.iterate("connectedComponentsStar", smallStar(e0), maxIters - 1,
        fingerprint) { (cur, _) => smallStar(largeStar(cur)) }(
      Some(fps => fps.last == fps(fps.size - 2)))
    // Component minima never appear as src in the final star set; they
    // (and any isolated node) label themselves.
    val labels = nodes
      .join(res.state.withColumnRenamed("src", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("dst"), col("id")).as("lbl"))
    (labels, res.rounds + 1)
  }

  /** PageRank iterated to a rank-delta tolerance: rounds run until
    * `max |rank_i − rank_{i−1}| <= tol × scale` (or `maxIters`, past which
    * [[Rounds]] throws). Same fixed-point integer arithmetic as
    * [[pageRankFixed]] — deterministic and engine-portable — with the
    * per-round max delta a statistic on the round's checkpoint job,
    * mirroring [[connectedComponents]]' convergence machinery.
    *
    * Returns (ranks, roundsRun). Unlike component labels, ranks are NOT
    * idempotent past the stopping round, so an oracle mirroring this must
    * unroll EXACTLY roundsRun rounds — callers gate that with a hard
    * `require` (see g6_pagerank_converged).
    */
  def pageRankConverged(tol: Double, maxIters: Int = 50,
      scale: Long = 1000000000000L): (DataFrame, Int) = {
    require(tol > 0 && maxIters > 0)
    val e = degreeEdges
    val tolFixed = math.max((tol * scale).toLong, 1L)
    val init = nodeIds.select(col("id"), lit(scale).as("rank"), lit(null).cast("long").as("prev"))
    val res = Rounds.iterate("pageRankConverged", init, maxIters,
        Seq(max(abs(col("rank") - col("prev"))))) { (ranks, _) =>
      // Same single-shuffle round as [[pageRankFixed]]; the per-node zero
      // row doubles as the previous-rank carrier for the delta check.
      e.join(ranks, e("src") === ranks("id"))
        .select(col("dst").as("nid"), expr("rank DIV out_deg").as("c"),
          lit(null).cast("long").as("prev_in"))
        .union(ranks.select(col("id").as("nid"), lit(0L).as("c"), col("rank").as("prev_in")))
        .groupBy(col("nid").as("id"))
        .agg(expr(s"(15 * ${scale}L + 85 * sum(c)) DIV 100").as("rank"),
          max(col("prev_in")).as("prev"))
    }(Some { deltas =>
      // max over an empty frame is NULL (empty graph) — converged trivially.
      deltas.last.isNullAt(0) || deltas.last.getLong(0) <= tolFixed
    })
    (res.state.select(col("id"), col("rank")), res.rounds)
  }

  /** `iters` rounds of minimum-label propagation (connected-components
    * building block): every node adopts the smallest label among itself and
    * its in-neighbors. With a symmetrized graph and enough rounds this
    * converges to per-component minima; a fixed `iters` gives a
    * deterministic partial labeling (oracle-comparable).
    */
  def labelPropagation(iters: Int): DataFrame =
    Rounds.iterate("labelPropagation", nodeIds.withColumn("lbl", col("id")), iters) {
      (labels, _) =>
        // One shuffle per round: neighbor labels (edge join, broadcastable
        // labels side) unioned with self labels, then a single min-agg —
        // no separate join-back onto the node table.
        edges.join(labels, edges("src") === labels("id"))
          .select(col("dst").as("nid"), col("lbl"))
          .union(labels.select(col("id").as("nid"), col("lbl")))
          .groupBy(col("nid").as("id")).agg(min(col("lbl")).as("lbl"))
    }().state

  /** k-core: the maximal subgraph where every node keeps degree >= k,
    * computed by iterative peeling — drop all nodes below degree k,
    * recompute degrees on the induced subgraph, repeat to FIXPOINT (each
    * removal can push a neighbor below the bar). The standard corpus/graph
    * curation primitive for "dense interaction region" extraction.
    *
    * Assumes a SYMMETRIZED edge table (degree = out-degree per src, as in
    * the other iterative methods). Per round: ONE degree aggregation
    * (map-side combinable count, materialized once so both endpoint
    * filters read it) and two semi-joins against the shrinking survivor
    * set — the edge table is filtered in place, never rebuilt from
    * scratch, so round cost tracks the SURVIVING edge count and falls
    * monotonically. Converged when a round keeps the edge count. Peel-round
    * count is a data property (2 on the fixture graphs; pathological chains
    * peel longer), checked against the oracle's unrolled margin by the
    * caller.
    *
    * Returns (coreEdges, roundsRun) — `roundsRun` includes the final
    * confirming no-op round, matching the components convention.
    */
  def kCore(k: Int, maxIters: Int = 50): (DataFrame, Int) = {
    val res = Rounds.iterate("kCore", edges, maxIters, Seq(count(lit(1)))) { (e, _) =>
      // Survivor set, materialized inside the round because BOTH semi-joins
      // read it; it is tiny (one row per surviving node).
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
        .localCheckpoint()
      e.join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }(Some(counts => counts.last == counts(counts.size - 2)))
    (res.state, res.rounds)
  }
}

object LinkGraph {

  /** `(a, b, n_common)` pairs (a < b) from a `(dst, ss)` adjacency table —
    * the pair-emission half of [[LinkGraph.coSourcePairs]], split out so a
    * single materialized adjacency can feed both this and
    * [[edgesFromAdjacency]] without rebuilding the arrays per consumer.
    * Pairs are emitted locally from each array (nested transform, i+2
    * offset keeps a<b within the sorted array) — the only shuffle is the
    * final (a, b) count, which the cap bounds at C(cap,2) rows per dst.
    */
  def pairsFromAdjacency(adj: DataFrame): DataFrame =
    adj.select(explode(flatten(
      transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))),
          y => struct(x.as("a"), y.as("b")))))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))

  /** Flat `(src, dst)` capped edges from a `(dst, ss)` adjacency table. */
  def edgesFromAdjacency(adj: DataFrame): DataFrame =
    adj.select(explode(col("ss")).as("src"), col("dst"))
}
