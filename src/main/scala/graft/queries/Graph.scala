package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.LinkGraph

/** Graph operators G1–G6 (SURVEY.md §3.9) — the reference's signature
  * capability (neighborhood expansion, degree maintenance, common
  * neighbors: `src/tropology/db.clj` / `api.clj`, public repo), re-expressed
  * over a bipartite order↔part graph derived from `lineitem`
  * (`from = l_orderkey, to = l_partkey`).
  *
  * Scale notes:
  *   - degree tables are single hash aggregations (map-side partials);
  *   - neighborhood / induced-subgraph are semi-joins against a small,
  *     broadcastable node set — the fact side never shuffles;
  *   - common-neighbor pairing joins the edge list to itself on the shared
  *     endpoint: Σ deg² intermediate rows. The celebrity-node guard is
  *     LIVE: `LinkGraph.coSourcePairs(HubCap)` truncates every shared
  *     endpoint's adjacency to its `HubCap` smallest sources BEFORE pair
  *     emission (cap mirrored in the oracle SQL), bounding any hub at
  *     C(cap, 2) pairs; AQE handles residual skew below the cap;
  *   - iterative ops (BFS, PageRank, label propagation) live in
  *     [[graft.operators.LinkGraph]] with lineage checkpointing; the
  *     PageRank uses fixed-point integer arithmetic so results are exact,
  *     order-independent, and oracle-comparable.
  */
object Graph extends QueryPack {

  /** MAINTAINED raw link table — one row per lineitem occurrence,
    * `(o, p)` = order→part — bucketed AND sorted by `p`
    * ([[graft.sources.ArtifactStore.bucketedTable]], built once per JVM
    * per sf dir): per-part degree aggregation and part-keyed grouping read
    * it with NO Exchange and NO Sort, the physical property the reference
    * got from its B-tree link indexes. At 100 TB this is the warehouse's
    * standing edge table that every graph workload reads.
    */
  private[graft] def rawLinks(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.bucketedTable(s, d, "links", linkBuckets(s, d), "p") {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    }

  /** Bucket count for the maintained edge tables, SCALED WITH THE DATA
    * (power of two, floor 16, ~2 MB of source parquet per bucket, cap
    * 4096): a fixed count silently halves effective parallelism every
    * time the table doubles — measured on the 5× scale curve, g4's warm
    * ratio fell from ~7.5 to ~5 when the bucket count was allowed to
    * grow. At 100 TB this is the policy knob a deployment sets from its
    * executor count; deriving it from source bytes keeps the same code
    * honest across every sf dir without an extra counting job. Power of
    * two so a future co-bucketed join partner can pick a compatible
    * count (Spark matches equal counts; unions of pow2 tables re-bucket
    * cheaply).
    */
  private[graft] def linkBuckets(s: SparkSession, d: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$d/lineitem.parquet")
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val want = math.ceil(bytes / (2.0 * (1 << 20))).toInt
    math.min(4096, math.max(16, Integer.highestOneBit(math.max(1, want - 1)) * 2))
  }

  /** Distinct order→part edges, derived from the maintained bucketed table.
    * The distinct groups by `(o, p)`; the p-bucketed scan's partitioning is
    * on a subset of those keys, so the dedup itself is Exchange-free.
    */
  private[graft] def edges(s: SparkSession, d: String): DataFrame =
    rawLinks(s, d).distinct()

  /** MAINTAINED symmetrized edge table with PACKED LONG node ids
    * (order → 2k, part → 2k+1; numeric keys shuffle/compare far cheaper
    * than strings, ids translate back to o<key>/p<key> only at output),
    * bucketed+sorted by `src` so the iterative algorithms' per-src degree
    * aggs and src-keyed edge joins start from a pre-partitioned, pre-sorted
    * scan. Replaces the former per-session localCheckpoint cache: the
    * artifact is the table a 1000-executor deployment would maintain, and
    * every g6 query here reads it.
    */
  private def symGraph(s: SparkSession, d: String): LinkGraph =
    new LinkGraph(symEdgesTable(s, d))

  /** The maintained symmetrized edge table itself (spec access: the
    * Exchange-free plan shapes it buys are pinned in PersistedLayoutSpec).
    */
  private[graft] def symEdgesTable(s: SparkSession, d: String): DataFrame = {
    val t = graft.sources.ArtifactStore.bucketedTable(s, d, "links_sym", linkBuckets(s, d), "src") {
      val fwd = edges(s, d)
        .select((col("o") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
      // Reverse edges land in the disjoint odd-src id space and the forward
      // set is already distinct, so the union needs no dedup pass.
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }
    t
  }

  /** Display form of a packed node id. */
  private val nodeName =
    expr("CASE WHEN id % 2 = 0 THEN concat('o', CAST(id DIV 2 AS STRING)) " +
      "ELSE concat('p', CAST(id DIV 2 AS STRING)) END")

  private val edgesSql =
    "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem"

  private val symEdgesSql =
    """SELECT o * 2 AS src, p * 2 + 1 AS dst FROM e
      |  UNION
      |  SELECT p * 2 + 1, o * 2 FROM e""".stripMargin

  private val nodeNameSql =
    "CASE WHEN id % 2 = 0 THEN 'o' || CAST(id // 2 AS VARCHAR) ELSE 'p' || CAST(id // 2 AS VARCHAR) END"

  /** Shared edge derivation for the two component queries (sparse
    * high-quantity subgraph, packed ids) — one definition so the two
    * queries can never diverge from their SHARED oracle's `e` CTE.
    */
  private def componentsEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 50)
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()

  /** Shared component census (top-20 by size) over `(id, lbl)` labels. */
  private def componentCensus(labels: DataFrame): DataFrame =
    labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("id"), col("n_members"))
      .select(nodeName.as("component"), col("n_members"))
      .orderBy(col("n_members").desc, col("component").asc)
      .limit(20)

  /** Component-census oracle shared by g6_components_converged and
    * g6_components_star: both algorithms produce the canonical
    * smallest-id-per-component labeling, so one unrolled min-propagation
    * SQL gates both. Every round CTE is MATERIALIZED: each references its
    * predecessor twice, and DuckDB inlines plain CTEs — a 10-round chain
    * would re-evaluate the whole prefix 2^10 times without it. 16 unrolled
    * rounds: measured fixpoint is 5 rounds at sf0.01 and 8 at sf0.1
    * (growing slowly with SF); rounds past the fixpoint don't change the
    * labeling, and the Spark side now ASSERTS roundsRun <= 16 so the
    * margin is checked, not assumed.
    */
  private lazy val componentsOracleSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, COALESCE(m.nl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN (
         |    SELECT e.dst AS id, MIN($prev.lbl) AS nl
         |    FROM edges e JOIN $prev ON $prev.id = e.src GROUP BY e.dst
         |  ) m ON m.id = l.id
         |)""".stripMargin
    val rounds = (0 until 16).map(i => round(s"l$i", s"l${i + 1}")).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_quantity >= 50),
       |edges AS MATERIALIZED (
       |  $symEdgesSql
       |),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
       |$rounds
       |SELECT $nodeNameSql AS component, n_members FROM (
       |  SELECT lbl AS id, COUNT(*) AS n_members FROM l16 GROUP BY lbl
       |) ORDER BY n_members DESC, component ASC LIMIT 20""".stripMargin
  }

  /** Shared by g1_neighborhood and e2_network_nodes: the hub order (most
    * distinct parts, deterministic tiebreak) and its neighbors resolved to
    * part rows with in-degrees. One definition so the serving payload and
    * the neighborhood query can never disagree about hub selection.
    */
  private def hubNeighborhood(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // Eager (r16): hub, indeg, and the neighbor join all read e with no
    // action in between (policy: exactly-once before the fan-out).
    val e = edges(s, d).localCheckpoint()
    val hub = e.groupBy(col("o")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o").asc)
      .limit(1)
      .select(col("o").as("hub_o"), col("n").as("hub_deg"))
    val indeg = e.groupBy(col("p")).agg(count(lit(1)).as("part_indeg"))
    val nbrs = e.join(broadcast(hub), col("o") === col("hub_o"))
      .join(indeg, Seq("p"))
      .join(Tables.part(s, d), col("p") === col("p_partkey"))
    (hub, nbrs)
  }

  /** Max adjacency-list length per shared endpoint in g4 pair generation
    * (see [[graft.operators.LinkGraph.coSourcePairs]]); above the hottest
    * fixture part (~30 orders at sf0.1), so fixture results are unchanged.
    */
  private val HubCap = 64

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1+O1: 1-hop neighborhood of the hub order (most distinct parts),
    // neighbors resolved to part rows and ranked by their in-degree —
    // the reference's network-view shape (top-k neighbors by `incoming`).
    "g1_neighborhood" -> { (s, d) =>
      // Top-1 hub via orderBy+limit → TakeOrderedAndProject, not a global
      // single-partition window (which would serialize the whole agg).
      val (_, nbrs) = hubNeighborhood(s, d)
      nbrs
        .select(col("hub_o"), col("p_partkey"), col("p_name"), col("part_indeg"))
        .orderBy(col("part_indeg").desc, col("p_partkey").asc)
        .limit(10)
    },

    // G2/J2: induced subgraph — edges with BOTH endpoints in chosen node
    // sets (double semi-join; both set sides broadcastable).
    "g2_induced_subgraph" -> { (s, d) =>
      val oSet = Tables.orders(s, d).filter(col("o_custkey") <= 5).select(col("o_orderkey"))
      val pSet = Tables.part(s, d).filter(col("p_size") >= 40).select(col("p_partkey"))
      edges(s, d)
        .join(oSet, col("o") === col("o_orderkey"), "left_semi")
        .join(pSet, col("p") === col("p_partkey"), "left_semi")
        .orderBy("o", "p")
    },

    // G3/A1: degree computation — the reference's incoming/outgoing
    // maintenance as one hash agg over raw edge occurrences, reading the
    // MAINTAINED p-bucketed link table: both aggregation phases (the
    // count-distinct expands to a (p, o) pre-aggregate) are satisfied by
    // the scan's bucket partitioning, so the whole query plans with zero
    // Exchange (pinned in PersistedLayoutSpec).
    "g3_degrees" -> { (s, d) =>
      rawLinks(s, d)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("indeg"), countDistinct(col("o")).as("n_orders"))
        .withColumnRenamed("p", "l_partkey")
        .orderBy(col("indeg").desc, col("l_partkey").asc)
        .limit(100)
    },

    // G4/J3: common-neighbor pairs — order pairs sharing ≥2 parts, top 20,
    // via [[LinkGraph.coSourcePairs]]: per-part adjacency arrays (one
    // shuffle, pairs emitted locally) with the hub-degree cap LIVE — each
    // part's adjacency is truncated to its HubCap smallest orders before
    // pair emission, so a celebrity part can't explode the Σ deg² pair
    // count. The cap is mirrored in the oracle SQL (row_number ≤ HubCap),
    // so results are engine-identical even when it binds.
    "g4_common_neighbors" -> { (s, d) =>
      new LinkGraph(edges(s, d).select(col("o").as("src"), col("p").as("dst")))
        .coSourcePairs(HubCap)
        .select(col("a").as("o1"), col("b").as("o2"), col("n_common"))
        .filter(col("n_common") >= 2)
        .orderBy(col("n_common").desc, col("o1").asc, col("o2").asc)
        .limit(20)
    },

    // G7 (beyond survey): triangle enumeration over the co-occurrence
    // PROJECTION — orders sharing ≥2 parts form an edge (a<b), and a
    // triangle is three mutually-linked orders. The a<b orientation makes
    // the node-iterator join emit each triangle exactly once (the standard
    // degree-ordered trick), and the projection inherits g4's LIVE hub cap,
    // so both the projection size and the wedge count are structurally
    // bounded at any scale. One localCheckpoint: the projection feeds all
    // three join legs without re-deriving the pair pipeline.
    "g7_triangles" -> { (s, d) =>
      val proj = new LinkGraph(edges(s, d).select(col("o").as("src"), col("p").as("dst")))
        .coSourcePairs(HubCap)
        .filter(col("n_common") >= 2)
        .select(col("a"), col("b"))
        .localCheckpoint() // eager (r16): 3 join legs, no action between (policy)
      proj.as("e1")
        .join(proj.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        .join(proj.as("e3"),
          col("x") === col("e3.a") && col("z") === col("e3.b"), "left_semi")
        .orderBy("x", "y", "z")
        .limit(100)
    },

    // G8 (beyond survey): Jaccard link prediction over the co-occurrence
    // graph — for each candidate order pair, |common parts| over
    // |union of their capped part sets|. Numerator (pair counts) and
    // denominator (degrees) both derive from ONE per-dst capped adjacency,
    // materialized once (localCheckpoint, the g7 pattern) so the
    // three consumers don't each rebuild it — and the build itself is
    // Exchange-free because the maintained links table is bucketed by p
    // (dst), the groupBy key. The Jaccard is one IEEE division of two
    // integers, rounded to 6dp on both engines before the ORDER BY/LIMIT
    // so the cut line is deterministic.
    "g8_link_predict" -> { (s, d) =>
      val lg = new LinkGraph(edges(s, d).select(col("o").as("src"), col("p").as("dst")))
      val adj = lg.cappedAdjacency(HubCap).localCheckpoint() // eager: dual-consumed (policy)
      val pairs = LinkGraph.pairsFromAdjacency(adj).filter(col("n_common") >= 2)
      val deg = LinkGraph.edgesFromAdjacency(adj)
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      pairs
        .join(deg.select(col("id").as("ida"), col("deg").as("deg_a")), col("a") === col("ida"))
        .join(deg.select(col("id").as("idb"), col("deg").as("deg_b")), col("b") === col("idb"))
        .select(col("a").as("o1"), col("b").as("o2"), col("n_common"),
          col("deg_a"), col("deg_b"),
          round(col("n_common").cast("double") /
            (col("deg_a") + col("deg_b") - col("n_common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("o1").asc, col("o2").asc)
        .limit(20)
    },

    // G5: deterministic "random" node pick — md5-ordered instead of an
    // unseeded rand() (portable; same shape as ORDER BY random() LIMIT 1).
    "g5_random_pick" -> { (s, d) =>
      Tables.part(s, d)
        .orderBy(md5(col("p_partkey").cast("string")))
        .limit(1)
        .select("p_partkey", "p_name")
    },

    // E2: the serving-layer payload PRECURSOR — the reference's network
    // API rows (hub node + top-k neighbors with label, size=in-degree, and
    // deterministic md5-derived layout coords) as a table. The JSON
    // assembly itself ([[graft.api.NetworkApi.neighborhoodPayload]],
    // collect_list(struct)+to_json over exactly these rows) is asserted in
    // NetworkApiSpec; this query makes the row content oracle-visible.
    "e2_network_nodes" -> { (s, d) =>
      def coord(id: Column, salt: String) =
        round(conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 4), 16, 10)
          .cast("double") / 65536.0, 6)
      val (hub, nbrsAll) = hubNeighborhood(s, d)
      val nbrs = nbrsAll
        .orderBy(col("part_indeg").desc, col("p").asc).limit(10)
        .select(concat(lit("p"), col("p").cast("string")).as("id"),
          col("p_name").as("label"), col("part_indeg").as("size"),
          coord(col("p"), "x").as("x"), coord(col("p"), "y").as("y"))
      val hubRow = hub.select(concat(lit("o"), col("hub_o").cast("string")).as("id"),
        lit("hub").as("label"), col("hub_deg").as("size"),
        coord(col("hub_o"), "x").as("x"), coord(col("hub_o"), "y").as("y"))
      hubRow.union(nbrs).orderBy(col("size").desc, col("id").asc)
    },

    // G6a: BFS — node counts at distance 1..3 from the smallest order node.
    "g6_khop" -> { (s, d) =>
      val g = symGraph(s, d)
      val src = Tables.lineitem(s, d)
        .agg(min(col("l_orderkey")).as("k"))
        .select((col("k") * 2).as("id"))
      g.kHop(src, 3)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },

    // G9: WEIGHTED shortest paths from the smallest order node — 4
    // fixed Bellman-Ford rounds ([[graft.operators.ShortestPaths]]) over
    // the symmetric graph with w = min(l_quantity) per edge: "cheapest
    // path" where BFS hop count (g6_khop) is the unweighted special case.
    // Integer dist sums folded with min are order-independent, so the
    // fixed round count is oracle-exact (unrolled CTEs mirror the rounds).
    // 50 nearest nodes by (dist, node).
    "g9_sssp" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      // floor() on BOTH engines: a bare long cast truncates in Spark but
      // ROUNDS in DuckDB's CAST AS BIGINT, so fractional quantities would
      // silently diverge; floor pins one semantics.
      // Eager checkpoint (r16): the symmetrizing union below references w
      // TWICE, and Spark does not share common subplans across union legs —
      // without the cut the scan + (a,b) min-aggregate ran twice inside
      // ShortestPaths' loop-invariant edge materialization (guide §1.2:
      // don't compute things twice). Output unchanged: same edge set.
      val w = li.groupBy((col("l_orderkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
        .agg(floor(min(col("l_quantity"))).cast("long").as("w"))
        .localCheckpoint()
      val wedges = w.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(w.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val src = li.agg(min(col("l_orderkey")).as("k")).select((col("k") * 2).as("id"))
      graft.operators.ShortestPaths.fixedRounds(wedges, src, rounds = 4)
        .select(nodeName.as("node"), col("dist"))
        .orderBy(col("dist").asc, col("node").asc)
        .limit(50)
    },

    // G10: PERSONALIZED PageRank — random walk restarting at the smallest
    // order node ([[graft.operators.LinkGraph.personalizedPageRankFixed]]):
    // rank = proximity to the seed, the "related works" score the
    // reference's common-links endpoint approximates with one hop. 3
    // fixed integer rounds, top 20 nonzero nodes (zero rank = not within
    // 3 hops; excluding them keeps the output the reachable ranking).
    "g10_personalized_pagerank" -> { (s, d) =>
      val src = Tables.lineitem(s, d)
        .agg(min(col("l_orderkey")).as("k")).select((col("k") * 2).as("id"))
      symGraph(s, d).personalizedPageRankFixed(src, 3)
        .filter(col("rank") > 0)
        .select(nodeName.as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },

    // G6b: fixed-point PageRank, 3 iterations, top 20 nodes.
    "g6_pagerank" -> { (s, d) =>
      symGraph(s, d).pageRankFixed(3)
        .select(nodeName.as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },

    // G6g: tolerance-terminated PageRank over the DIRECTED order→part
    // graph (the faithful analogue of the reference's directed pages→links
    // adjacency, where rank flows from linkers to linked). The tolerance is
    // ONE FIXED-POINT ULP (tol·scale = 1): the loop runs until ranks are
    // exactly stable round over round — a true convergence check, not a
    // fixed iteration count (that's g6_pagerank). On this bipartite DAG the
    // integer iteration settles structurally in 3 rounds at ANY data scale:
    // orders (no in-edges) pin to 0.15·scale after round 1, parts stabilize
    // once their sources have pinned (round 2), and round 3 measures
    // delta = 0. The oracle unrolls exactly 3 rounds and gates rounds_run
    // as an output column; the require documents the structural invariant
    // (ranks are NOT idempotent past the stopping round, so an unrolled
    // oracle needs the exact count — see pageRankConverged's scaladoc).
    "g6_pagerank_converged" -> { (s, d) =>
      val directed = edges(s, d)
        .select((col("o") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
      val (ranks, roundsRun) = new LinkGraph(directed).pageRankConverged(tol = 1e-12)
      require(roundsRun == 3,
        s"pageRankConverged ran $roundsRun rounds; a bipartite DAG settles in exactly 3 " +
          "(oracle unrolls 3) — investigate the edge derivation if this fires")
      ranks
        .select(nodeName.as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
        .withColumn("rounds_run", lit(roundsRun))
    },

    // G6c: 3 rounds of min-label propagation (connected-components step),
    // top 20 labels by membership.
    "g6_labelprop" -> { (s, d) =>
      symGraph(s, d).labelPropagation(3)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("lbl").as("id"), col("n_members"))
        .select(nodeName.as("component"), col("n_members"))
        .orderBy(col("n_members").desc, col("component").asc)
        .limit(20)
    },

    // G6d: TRUE connected components — label propagation iterated to
    // fixpoint ([[LinkGraph.connectedComponents]]), not a fixed round
    // count, over the sparse high-quantity subgraph (fragmented: ~850
    // components at sf0.01). The converged labeling is canonical (smallest
    // node id per component), so the oracle just unrolls enough rounds to
    // be safely past ITS fixpoint — extra rounds are no-ops.
    "g6_components_converged" -> { (s, d) =>
      // No edge checkpoint here: connectedComponents checkpoints its edge
      // input itself — doing both would materialize the edge table twice.
      val (labels, roundsRun) =
        new LinkGraph(componentsEdges(s, d)).symmetrized.connectedComponents()
      // The oracle unrolls exactly 16 rounds; the margin must be CHECKED,
      // not assumed — a bigger SF with a longer-chained component would
      // otherwise silently diverge from the (correct) converged labels.
      require(roundsRun <= 16,
        s"components took $roundsRun rounds; oracle unrolls only 16 — widen it")
      componentCensus(labels)
    },

    // G6f: same component census via large-star/small-star contraction
    // ([[LinkGraph.connectedComponentsStar]]) — the O(log n)-round
    // formulation that replaces min-label propagation's O(diameter)
    // shuffles at scale. Labels are canonical component minima for BOTH
    // algorithms, so this shares g6_components_converged's oracle and the
    // green row proves algorithm equivalence under the hash gate. No
    // .symmetrized: star contraction is orientation-agnostic (large-star
    // symmetrizes in-expression, small-star canonicalizes via
    // greatest/least), so pre-doubling the edges would only add a
    // redundant full-edge union+distinct shuffle.
    "g6_components_star" -> { (s, d) =>
      val (labels, _) =
        new LinkGraph(componentsEdges(s, d)).connectedComponentsStar()
      componentCensus(labels)
    },

    // G6e: k-hop neighborhood joined back to node attributes — BFS output
    // resolved to part rows (the reference's "expand then show the pages"
    // network view). Part nodes live at ODD distances in the bipartite
    // order↔part graph, so 3 hops yields parts at dist 1 and 3.
    "g6_khop_attrs" -> { (s, d) =>
      val g = symGraph(s, d)
      val src = Tables.lineitem(s, d)
        .agg(min(col("l_orderkey")).as("k"))
        .select((col("k") * 2).as("id"))
      g.kHop(src, 3)
        .filter(col("id") % 2 === 1)
        .withColumn("p_partkey", expr("id DIV 2"))
        .join(Tables.part(s, d), Seq("p_partkey"))
        .select(col("dist"), col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("dist").asc, col("p_partkey").asc)
        .limit(200)
    },

    // G11: k-CORE — the maximal subgraph where every node keeps >= k
    // neighbors, by iterative peel to fixpoint ([[LinkGraph.kCore]]): the
    // standard dense-region extraction (spam/boilerplate rings in a link
    // graph peel away; the core is what community analysis runs on). The
    // census is per-node core degree over the FULL symmetrized graph. The
    // oracle unrolls KCoreOracleRounds peel rounds (fixpoint is 2 rounds at
    // sf0.01 AND sf0.1 — dense bipartite graphs peel fast); the margin is
    // CHECKED against the loop's actual round count, same contract as
    // g6_components_converged. The loop itself is eager (it must run to
    // know convergence), matching the other converged builders.
    "g11_kcore" -> { (s, d) =>
      val (core, rounds) = symGraph(s, d).kCore(KCoreK)
      require(rounds <= KCoreOracleRounds,
        s"k-core took $rounds peel rounds; oracle unrolls only $KCoreOracleRounds — widen it")
      core.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("core_deg"))
        .select(nodeName.as("node"), col("core_deg"))
        .orderBy(col("core_deg").desc, col("node").asc)
    },

    // G12: LANDMARK (harmonic) closeness centrality — the tractable
    // centrality at scale: exact closeness is all-pairs BFS (O(V·E),
    // impossible at 100 TB), so estimate it from a FIXED handful of
    // landmark sources (Potamias et al.'s landmark framework): one tagged
    // multi-source BFS ([[LinkGraph.kHopTagged]], rounds shared across
    // landmarks), then per node the harmonic sum Σ 1/dist over the
    // landmarks that reached it. Harmonic (not classic 1/Σd) so
    // unreachable landmarks contribute 0 instead of poisoning the score.
    // Arithmetic is integer fixed-point (10^12 DIV dist, summed exactly as
    // longs) — no cross-engine float summation anywhere; the one double
    // division at the end is by a constant, deterministic on both engines.
    "g12_landmark_closeness" -> { (s, d) =>
      val lm = Tables.lineitem(s, d)
        .select((col("l_orderkey") * 2).as("id")).distinct()
        .orderBy("id").limit(4)
        .select(col("id").as("tag"), col("id"))
      symGraph(s, d).kHopTagged(lm, 3)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(expr("1000000000000 DIV dist")).as("hsum"))
        .select(nodeName.as("node"), col("n_landmarks"),
          round(col("hsum") / lit(1e12), 6).as("closeness"))
        .orderBy(col("closeness").desc, col("node").asc)
        .limit(100)
    },

    // G13: NEIGHBORHOOD FUNCTION N(h) — reachable (source, node) pairs per
    // hop distance from a fixed sample of sources, the census behind
    // effective-diameter estimation (ANF/HyperBall's target quantity).
    // Exact N(h) is all-pairs BFS (O(V·E) — impossible at 100 TB); the two
    // tractable estimators are (a) a source SAMPLE with exact per-source
    // BFS — this query, one tagged multi-source loop so rounds (the scarce
    // resource, each a shuffle) are shared across all sources — and
    // (b) HyperBall's per-node HLL frontier sketches, which like
    // a3_approx_distinct are engine-specific and can't cross the oracle
    // gate. `at_eff_horizon` marks the first hop where the cumulative
    // count reaches 90% of the WITHIN-HORIZON total (integer 10·cum ≥
    // 9·total — no float division): the effective-diameter estimate
    // RELATIVE to the explored horizon, which is what a bounded-round
    // deployment actually measures.
    "g13_neighborhood" -> { (s, d) =>
      val srcs = Tables.lineitem(s, d)
        .select((col("l_orderkey") * 2).as("id")).distinct()
        .orderBy("id").limit(NbrSources)
        .select(col("id").as("tag"), col("id"))
      val census = symGraph(s, d).kHopTagged(srcs, NbrDepth)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
      val wCum = Window.partitionBy().orderBy(col("dist"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census
        .withColumn("n_cum", sum(col("n_pairs")).over(wCum))
        .withColumn("n_total", sum(col("n_pairs")).over(Window.partitionBy()))
        .select(col("dist"), col("n_pairs"), col("n_cum"),
          (col("n_cum") * lit(10) >= col("n_total") * lit(9)).cast("int")
            .as("at_eff_horizon"))
        .orderBy("dist")
    },

    // G13b (rows-only): the OTHER tractable neighborhood-function
    // estimator — HyperBall per-node HLL ball sketches over the whole
    // graph ([[graft.operators.LinkGraph.hyperBallCensus]]), completing
    // the pair g13's comment promises: (a) source sample + exact BFS
    // (g13, oracle-gated), (b) HLL sketches (this query — engine-specific
    // sketch bytes, so like a3_approx_distinct it ships rows-only; its
    // accuracy contract is spec-pinned against the exact census in
    // LinkGraphSpec). Output: cumulative reachable-pair estimate per hop
    // h = 0..3 over ALL nodes — the global N(h) an effective-diameter
    // estimate reads, which the sampled-exact form can only approximate.
    // lgK = 8 (256 registers packed into 32 BIGINT lanes — see
    // PackedHll.scala): per-NODE error is ~6.5%. The census sums over
    // all nodes; independent-error cancellation to ≈ 1/√(2·256·|V|)
    // holds only while balls are small and mostly DISJOINT (h=0..1
    // here) — all sketches share one xxhash64 register derivation, so
    // overlapping balls estimate with CORRELATED errors and the
    // saturated-census error is the full per-node ~6.5% bound (the
    // regime LinkGraph.hyperBallCensus's scaladoc spells out). At the
    // fixed h ≤ 3 of this query the balls are still growing and mostly
    // distinct, which is why the spec pin holds at 2%; HyperBall itself
    // ships b=4..8 registers on billion-node graphs at exactly this
    // accuracy class. The packed-lane form unions as a true HashAggregate with
    // map-side combine (the round-12 ObjectHashAggregate sort-fallback,
    // which re-sorted |E| sketch rows per round, is gone), and the round
    // shuffle is a fixed 2^lgK bytes/node — this is the cost knob.
    "g13_neighborhood_hll" -> { (s, d) =>
      symGraph(s, d).hyperBallCensus(3, lgK = 8).orderBy("h")
    },

    // G16 (rows-only): EFFECTIVE DIAMETER via HyperBall run to
    // CONVERGENCE with the paper's systolic delta propagation — each
    // round only nodes whose sketch changed contribute, and the loop
    // stops when nothing does (the fixpoint = the graph's horizon), so
    // unlike g13b's fixed 3 rounds this reads the WHOLE neighborhood
    // function and marks the 90% effective-diameter hop. Delta
    // propagation is semantically invisible (sketches bit-identical to
    // full propagation — spec-pinned vs hyperBallCensus in
    // LinkGraphSpec); what it changes is the COST SHAPE: tail rounds
    // join only the |changed| frontier instead of |E|, the property
    // that makes horizon runs affordable at scale. Rows-only for the
    // same reason as g13b (sketch estimates can't cross the DuckDB
    // gate); the exact sibling g13_neighborhood carries the oracle and
    // the spec pins accuracy + termination on known graphs. maxRounds
    // is a safety valve with a loud contract: the run THROWS if the
    // horizon exceeds it (Rounds' cap), and the emitted `converged`
    // column is re-asserted by the dump guard below — a truncated
    // census can never masquerade as a measurement.
    "g16_effective_diameter" -> { (s, d) =>
      symGraph(s, d).hyperBallDiameter(lgK = 8, maxRounds = 32).orderBy("h")
    },

    // G14: LOCAL CLUSTERING COEFFICIENT over the co-occurrence projection —
    // cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the per-node density measure
    // behind community/spam detection (a node whose neighbors all know each
    // other is in a clique; a pure hub has cc≈0). Triangles come from the
    // SAME oriented node-iterator join as g7 (each triangle emitted once,
    // then exploded to credit all three corners), and the projection
    // inherits g4's LIVE hub cap, so the wedge count is structurally
    // bounded at any scale. One localCheckpoint feeds all four consumers
    // (three join legs + degree) without re-deriving the pair pipeline.
    // The cc itself is ONE IEEE division of two exact integers (2·T and
    // deg·(deg−1)), rounded to 6dp on both engines before the ORDER
    // BY/LIMIT so the cut line is deterministic.
    "g14_clustering_coeff" -> { (s, d) =>
      val proj = new LinkGraph(edges(s, d).select(col("o").as("src"), col("p").as("dst")))
        .coSourcePairs(HubCap)
        .filter(col("n_common") >= 2)
        .select(col("a"), col("b"))
        .localCheckpoint() // eager (r16): 4 consumers, no action between (policy)
      val tri = proj.as("e1")
        .join(proj.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        .join(proj.as("e3"),
          col("x") === col("e3.a") && col("z") === col("e3.b"), "left_semi")
      val triPerNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n_tri"))
      val deg = proj.select(col("a").as("id"))
        .union(proj.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .join(triPerNode, Seq("id"), "left")
        .na.fill(0, Seq("n_tri"))
        .select(col("id").as("o"), col("deg"), col("n_tri"),
          round((col("n_tri") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)), 6).as("cc"))
        .orderBy(col("cc").desc, col("o").asc)
        .limit(50)
    },

    // G15: DETERMINISTIC random walks — the DeepWalk/node2vec corpus
    // sampling step (walks feed a skip-gram trainer), with the engine's
    // seeded-randomness contract: step t from a node of degree g moves to
    // sorted-neighbor index H(seed, t) mod g, H = md5 — replayable,
    // repartition-stable, oracle-mirrorable (the determinism guard bans
    // rand(); this is the sanctioned pattern, same as g5/t9). Adjacency =
    // sorted neighbor arrays aggregated once from the maintained bucketed
    // edge table (per-src agg, Exchange-free on the bucketed scan); each
    // step is one join of the walker frontier (small, broadcast) against
    // it. At 100 TB: frontier ∝ seeds, adjacency scan is partition-pruned
    // by the join — walk cost is steps × |seeds|, never corpus-shaped.
    "g15_random_walks" -> { (s, d) =>
      val adj = symEdgesTable(s, d).groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val seeds = edges(s, d).select((col("o") * 2).as("node")).distinct()
        .filter(col("node") % 100 === 0)
        .select(col("node").as("seed"), col("node"),
          array(col("node")).as("path"))
      def step(cur: DataFrame, t: Int): DataFrame = {
        val h = conv(substring(
          md5(concat(col("seed").cast("string"), lit("#" + t))), 1, 8), 16, 10)
          .cast("long")
        cur.join(adj, cur("node") === adj("src"))
          .withColumn("nxt",
            element_at(col("nbrs"), ((h % size(col("nbrs"))) + 1).cast("int")))
          .select(col("seed"), col("nxt").as("node"),
            concat(col("path"), array(col("nxt"))).as("path"))
      }
      (1 to 3).foldLeft(seeds)(step)
        .select(col("seed"), expr(
          "array_join(transform(path, x -> CASE WHEN x % 2 = 0 " +
            "THEN concat('o', CAST(x DIV 2 AS STRING)) " +
            "ELSE concat('p', CAST(x DIV 2 AS STRING)) END), '->')").as("walk"))
        .orderBy("seed")
    }
  )

  private val NbrSources = 16
  private val NbrDepth = 4

  private val KCoreK = 4
  private val KCoreOracleRounds = 6

  /** Dump-time guards for the rows-only sketch queries (applied by
    * Verify): the DuckDB gate can't see sketch internals, so the
    * structural invariants a broken census would violate are REQUIRED
    * here — a silent rows-only dump of garbage must fail loudly.
    */
  override val resultChecks: Map[String, DataFrame => Unit] = Map(
    "g16_effective_diameter" -> { dia =>
      val rows = dia.select(col("h"), col("est_pairs"), col("at_eff_horizon"),
          col("converged"))
        .orderBy("h").collect()
      require(rows.nonEmpty, "g16: empty census")
      // Convergence contract: hyperBallDiameter already throws on
      // truncation, but the dump guard asserts the emitted column too so
      // no future caller can dump a truncated census (whose marker is
      // wrong) as if it converged.
      require(rows.forall(_.getInt(3) == 1),
        "g16: census truncated at maxRounds (converged = 0) — the " +
          "effective-diameter marker is not trustworthy")
      // Every emitted round h >= 1 changed at least one sketch (no-change
      // rounds are the fixpoint confirmation and emit no row), and round
      // 0 "changed" every node it initialized.
      val chg = dia.select(col("h"), col("n_changed")).orderBy("h").collect()
      require(chg.forall(_.getLong(1) > 0) || chg.length == 1,
        "g16: a census row claims an empty frontier")
      val hs = rows.map(_.getInt(0)).toSeq
      require(hs == (0 until rows.length), s"g16: non-contiguous rounds $hs")
      val est = rows.map(_.getLong(1)).toSeq
      require(est.zip(est.tail).forall { case (a, b) => a <= b },
        s"g16: census not monotone: $est")
      val fin = est.last
      rows.foreach { r =>
        val want = if (r.getLong(1) * 10 >= fin * 9) 1 else 0
        require(r.getInt(2) == want,
          s"g16: horizon flag drifted from est*10 >= final*9 at h=${r.getInt(0)}")
      }
    }
  )

  val oracle: Map[String, String] = Map(
    "g1_neighborhood" ->
      s"""WITH e AS ($edgesSql),
         |hub AS (
         |  SELECT o AS hub_o FROM (
         |    SELECT o, COUNT(*) AS n, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o ASC) AS rn
         |    FROM e GROUP BY o
         |  ) WHERE rn = 1
         |),
         |indeg AS (SELECT p, COUNT(*) AS part_indeg FROM e GROUP BY p)
         |SELECT hub.hub_o, p_partkey, p_name, part_indeg
         |FROM e JOIN hub ON e.o = hub.hub_o
         |JOIN indeg ON indeg.p = e.p
         |JOIN part ON p_partkey = e.p
         |ORDER BY part_indeg DESC, p_partkey ASC LIMIT 10""".stripMargin,

    "g2_induced_subgraph" ->
      s"""WITH e AS ($edgesSql)
         |SELECT o, p FROM e
         |WHERE o IN (SELECT o_orderkey FROM orders WHERE o_custkey <= 5)
         |  AND p IN (SELECT p_partkey FROM part WHERE p_size >= 40)
         |ORDER BY o, p""".stripMargin,

    "e2_network_nodes" -> {
      def coordSql(idExpr: String, salt: String) =
        s"round(CAST(('0x' || substr(md5('$salt' || CAST($idExpr AS VARCHAR)), 1, 4)) AS BIGINT) / 65536.0, 6)"
      s"""WITH e AS ($edgesSql),
         |hub AS (
         |  SELECT o AS hub_o, n AS hub_deg FROM (
         |    SELECT o, COUNT(*) AS n, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o ASC) AS rn
         |    FROM e GROUP BY o
         |  ) WHERE rn = 1
         |),
         |indeg AS (SELECT p, COUNT(*) AS part_indeg FROM e GROUP BY p),
         |nbrs AS (
         |  SELECT 'p' || CAST(e.p AS VARCHAR) AS id, p_name AS label, part_indeg AS size,
         |    ${coordSql("e.p", "x")} AS x, ${coordSql("e.p", "y")} AS y
         |  FROM e JOIN hub ON e.o = hub.hub_o
         |  JOIN indeg ON indeg.p = e.p
         |  JOIN part ON p_partkey = e.p
         |  ORDER BY part_indeg DESC, e.p ASC LIMIT 10
         |)
         |SELECT * FROM (
         |  SELECT 'o' || CAST(hub_o AS VARCHAR) AS id, 'hub' AS label, hub_deg AS size,
         |    ${coordSql("hub_o", "x")} AS x, ${coordSql("hub_o", "y")} AS y
         |  FROM hub
         |  UNION ALL SELECT * FROM nbrs
         |) ORDER BY size DESC, id ASC""".stripMargin
    },

    "g3_degrees" ->
      """SELECT l_partkey, COUNT(*) AS indeg, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY indeg DESC, l_partkey ASC LIMIT 100""".stripMargin,

    "g4_common_neighbors" ->
      s"""WITH e AS ($edgesSql),
         |capped AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, row_number() OVER (PARTITION BY p ORDER BY o) AS rn FROM e
         |  ) WHERE rn <= $HubCap
         |)
         |SELECT a.o AS o1, b.o AS o2, COUNT(*) AS n_common
         |FROM capped a JOIN capped b ON a.p = b.p AND a.o < b.o
         |GROUP BY a.o, b.o HAVING COUNT(*) >= 2
         |ORDER BY n_common DESC, o1 ASC, o2 ASC LIMIT 20""".stripMargin,

    "g5_random_pick" ->
      "SELECT p_partkey, p_name FROM part ORDER BY md5(CAST(p_partkey AS VARCHAR)) LIMIT 1",

    // Same capped projection as g4's oracle, then the oriented wedge join
    // with an EXISTS closing edge.
    "g7_triangles" ->
      s"""WITH e AS ($edgesSql),
         |capped AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, row_number() OVER (PARTITION BY p ORDER BY o) AS rn FROM e
         |  ) WHERE rn <= $HubCap
         |),
         |proj AS MATERIALIZED (
         |  SELECT a.o AS a, b.o AS b
         |  FROM capped a JOIN capped b ON a.p = b.p AND a.o < b.o
         |  GROUP BY a.o, b.o HAVING COUNT(*) >= 2
         |)
         |SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |FROM proj e1 JOIN proj e2 ON e1.b = e2.a
         |WHERE EXISTS (SELECT 1 FROM proj e3 WHERE e3.a = e1.a AND e3.b = e2.b)
         |ORDER BY x, y, z LIMIT 100""".stripMargin,

    // Same capped projection and degree base as g4/g7; Jaccard is one
    // int/int division rounded to 6dp on both engines.
    "g8_link_predict" ->
      s"""WITH e AS ($edgesSql),
         |capped AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, row_number() OVER (PARTITION BY p ORDER BY o) AS rn FROM e
         |  ) WHERE rn <= $HubCap
         |),
         |deg AS (SELECT o, COUNT(*) AS deg FROM capped GROUP BY o),
         |pairs AS (
         |  SELECT a.o AS o1, b.o AS o2, COUNT(*) AS n_common
         |  FROM capped a JOIN capped b ON a.p = b.p AND a.o < b.o
         |  GROUP BY a.o, b.o HAVING COUNT(*) >= 2
         |)
         |SELECT p.o1, p.o2, p.n_common, da.deg AS deg_a, db.deg AS deg_b,
         |  round(CAST(p.n_common AS DOUBLE) / (da.deg + db.deg - p.n_common), 6) AS jaccard
         |FROM pairs p JOIN deg da ON p.o1 = da.o JOIN deg db ON p.o2 = db.o
         |ORDER BY jaccard DESC, o1 ASC, o2 ASC LIMIT 20""".stripMargin,

    // Same capped projection and oriented triangle join as g7's oracle;
    // triangles exploded to all three corners, degrees over the undirected
    // projection, one int/int division rounded to 6dp.
    "g14_clustering_coeff" ->
      s"""WITH e AS ($edgesSql),
         |capped AS MATERIALIZED (
         |  SELECT o, p FROM (
         |    SELECT o, p, row_number() OVER (PARTITION BY p ORDER BY o) AS rn FROM e
         |  ) WHERE rn <= $HubCap
         |),
         |proj AS MATERIALIZED (
         |  SELECT a.o AS a, b.o AS b
         |  FROM capped a JOIN capped b ON a.p = b.p AND a.o < b.o
         |  GROUP BY a.o, b.o HAVING COUNT(*) >= 2
         |),
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM proj e1 JOIN proj e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM proj e3 WHERE e3.a = e1.a AND e3.b = e2.b)
         |),
         |tpn AS (
         |  SELECT id, COUNT(*) AS n_tri FROM (
         |    SELECT x AS id FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri
         |  ) GROUP BY id
         |),
         |deg AS (
         |  SELECT id, COUNT(*) AS deg FROM (
         |    SELECT a AS id FROM proj UNION ALL SELECT b FROM proj
         |  ) GROUP BY id
         |)
         |SELECT deg.id AS o, deg.deg, COALESCE(tpn.n_tri, 0) AS n_tri,
         |  round(CAST(2 * COALESCE(tpn.n_tri, 0) AS DOUBLE) /
         |        (deg.deg * (deg.deg - 1)), 6) AS cc
         |FROM deg LEFT JOIN tpn ON deg.id = tpn.id
         |WHERE deg.deg >= 2
         |ORDER BY cc DESC, o ASC LIMIT 50""".stripMargin,

    "g6_khop" ->
      s"""WITH e AS ($edgesSql),
         |edges AS (
         |  $symEdgesSql
         |),
         |n0 AS (SELECT MIN(l_orderkey) * 2 AS id FROM lineitem),
         |d1 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN n0 ON edges.src = n0.id
         |),
         |d2 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN d1 ON edges.src = d1.id
         |  WHERE dst NOT IN (SELECT id FROM n0) AND dst NOT IN (SELECT id FROM d1)
         |),
         |d3 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN d2 ON edges.src = d2.id
         |  WHERE dst NOT IN (SELECT id FROM n0) AND dst NOT IN (SELECT id FROM d1)
         |    AND dst NOT IN (SELECT id FROM d2)
         |)
         |SELECT * FROM (
         |  SELECT 1 AS dist, COUNT(*) AS n_nodes FROM d1
         |  UNION ALL SELECT 2, COUNT(*) FROM d2
         |  UNION ALL SELECT 3, COUNT(*) FROM d3
         |) ORDER BY dist""".stripMargin,

    // Unrolled Bellman-Ford: each round CTE is MATERIALIZED (referenced
    // twice — carry + relax — so a plain CTE chain would re-evaluate the
    // prefix 2^rounds times).
    "g9_sssp" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT id, MIN(dist) AS dist FROM (
           |    SELECT id, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS id, $prev.dist + e.w AS dist
           |    FROM edges e JOIN $prev ON $prev.id = e.src
           |  ) GROUP BY id
           |)""".stripMargin
      val rounds = (0 until 4).map(i => round(s"d$i", s"d${i + 1}")).mkString(",\n")
      s"""WITH w AS MATERIALIZED (
         |  SELECT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b,
         |    CAST(floor(MIN(l_quantity)) AS BIGINT) AS w
         |  FROM lineitem GROUP BY 1, 2
         |),
         |edges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM w
         |  UNION ALL SELECT b, a, w FROM w
         |),
         |d0 AS (SELECT MIN(l_orderkey) * 2 AS id, CAST(0 AS BIGINT) AS dist FROM lineitem),
         |$rounds
         |SELECT $nodeNameSql AS node, dist FROM d4
         |ORDER BY dist ASC, node ASC LIMIT 50""".stripMargin
    },

    // Same unrolled shape as g6_pagerank with the teleport term gated on
    // the seed node instead of uniform.
    "g10_personalized_pagerank" -> {
      val scale = "1000000000000"
      def iter(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT n.id,
           |    CAST((15 * $scale * (CASE WHEN n.id = (SELECT id FROM s0) THEN 1 ELSE 0 END)
           |      + 85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, SUM($prev.rank // deg.d) AS c
           |    FROM edges e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.id = e.src
           |    GROUP BY e.dst
           |  ) c ON c.id = n.id
           |)""".stripMargin
      s"""WITH e AS ($edgesSql),
         |edges AS MATERIALIZED (
         |  $symEdgesSql
         |),
         |s0 AS (SELECT MIN(l_orderkey) * 2 AS id FROM lineitem),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT id, CAST(CASE WHEN id = (SELECT id FROM s0) THEN $scale ELSE 0 END AS BIGINT) AS rank
         |  FROM nodes
         |),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT $nodeNameSql AS node, rank FROM r3 WHERE rank > 0
         |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
    },

    "g6_pagerank" -> {
      val scale = "1000000000000"
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.id, CAST((15 * $scale + 85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, SUM($prev.rank // deg.d) AS c
           |    FROM edges e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.id = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = n.id
           |)""".stripMargin
      s"""WITH e AS ($edgesSql),
         |edges AS (
         |  $symEdgesSql
         |),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST($scale AS BIGINT) AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT $nodeNameSql AS node, rank FROM r3 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
    },

    // Directed-graph variant: deg counts only true out-edges (parts are
    // sinks), nodes span BOTH endpoints, and exactly 3 unrolled rounds —
    // the round count the Spark side asserts structurally.
    "g6_pagerank_converged" -> {
      val scale = "1000000000000"
      def iter(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT n.id, CAST((15 * $scale + 85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, SUM($prev.rank // deg.d) AS c
           |    FROM edges e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.id = e.src
           |    GROUP BY e.dst
           |  ) s ON s.id = n.id
           |)""".stripMargin
      s"""WITH e AS ($edgesSql),
         |edges AS MATERIALIZED (SELECT o * 2 AS src, p * 2 + 1 AS dst FROM e),
         |nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT id, CAST($scale AS BIGINT) AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT $nodeNameSql AS node, rank, 3 AS rounds_run FROM r3
         |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
    },

    "g6_components_converged" -> componentsOracleSql,

    // Star contraction yields the SAME canonical labels (component
    // minima), so the star query shares the unrolled-propagation oracle —
    // the green row is the cross-engine proof of algorithm equivalence.
    "g6_components_star" -> componentsOracleSql,

    "g6_khop_attrs" ->
      s"""WITH e AS ($edgesSql),
         |edges AS (
         |  $symEdgesSql
         |),
         |n0 AS (SELECT MIN(l_orderkey) * 2 AS id FROM lineitem),
         |d1 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN n0 ON edges.src = n0.id
         |),
         |d2 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN d1 ON edges.src = d1.id
         |  WHERE dst NOT IN (SELECT id FROM n0) AND dst NOT IN (SELECT id FROM d1)
         |),
         |d3 AS (
         |  SELECT DISTINCT dst AS id FROM edges JOIN d2 ON edges.src = d2.id
         |  WHERE dst NOT IN (SELECT id FROM n0) AND dst NOT IN (SELECT id FROM d1)
         |    AND dst NOT IN (SELECT id FROM d2)
         |),
         |hops AS (SELECT 1 AS dist, id FROM d1 UNION ALL SELECT 3 AS dist, id FROM d3)
         |SELECT dist, p_partkey, p_name, p_retailprice
         |FROM hops JOIN part ON p_partkey = hops.id // 2
         |WHERE hops.id % 2 = 1
         |ORDER BY dist ASC, p_partkey ASC LIMIT 200""".stripMargin,

    "g6_labelprop" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT l.id, least(l.lbl, COALESCE(m.nl, l.lbl)) AS lbl
           |  FROM $prev l LEFT JOIN (
           |    SELECT e.dst AS id, MIN($prev.lbl) AS nl
           |    FROM edges e JOIN $prev ON $prev.id = e.src GROUP BY e.dst
           |  ) m ON m.id = l.id
           |)""".stripMargin
      s"""WITH e AS ($edgesSql),
         |edges AS (
         |  $symEdgesSql
         |),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |l0 AS (SELECT id, id AS lbl FROM nodes),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")}
         |SELECT $nodeNameSql AS component, n_members FROM (
         |  SELECT lbl AS id, COUNT(*) AS n_members FROM l3 GROUP BY lbl
         |) ORDER BY n_members DESC, component ASC LIMIT 20""".stripMargin
    },

    // Unrolled peel rounds; every round references its predecessor three
    // times (degree filter on both endpoints + the edge scan), so each
    // round CTE is MATERIALIZED. Rounds past the fixpoint are no-ops, so
    // the margin (checked by the Spark side's require) is safe, not
    // assumed.
    "g11_kcore" -> {
      def peel(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM $prev e
           |  JOIN (SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= 4) a ON e.src = a.src
           |  JOIN (SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= 4) b ON e.dst = b.src
           |)""".stripMargin
      val rounds = (0 until 6).map(i => peel(s"r$i", s"r${i + 1}")).mkString(",\n")
      s"""WITH e AS MATERIALIZED ($edgesSql),
         |r0 AS MATERIALIZED (
         |  $symEdgesSql
         |),
         |$rounds
         |SELECT $nodeNameSql AS node, core_deg FROM (
         |  SELECT src AS id, COUNT(*) AS core_deg FROM r6 GROUP BY src
         |) ORDER BY core_deg DESC, node ASC""".stripMargin
    },

    // Tagged BFS unrolled 3 rounds (the query's fixed depth, not a
    // convergence margin); integer harmonic sum, so no float summation
    // crosses engines.
    "g12_landmark_closeness" -> {
      def hop(prev: String, cur: String, i: Int) =
        s"""$cur AS MATERIALIZED (
           |  SELECT tag, id, dist FROM $prev
           |  UNION ALL
           |  SELECT f.tag, f.id, $i AS dist FROM (
           |    SELECT DISTINCT v.tag, e2.dst AS id
           |    FROM edges e2 JOIN $prev v ON e2.src = v.id AND v.dist = ${i - 1}
           |  ) f
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev p WHERE p.tag = f.tag AND p.id = f.id)
           |)""".stripMargin
      s"""WITH e AS MATERIALIZED ($edgesSql),
         |edges AS MATERIALIZED (
         |  $symEdgesSql
         |),
         |lm AS (SELECT id AS tag, id FROM (
         |  SELECT DISTINCT l_orderkey * 2 AS id FROM lineitem ORDER BY id LIMIT 4)),
         |v0 AS (SELECT tag, id, 0 AS dist FROM lm),
         |${hop("v0", "v1", 1)},
         |${hop("v1", "v2", 2)},
         |${hop("v2", "v3", 3)}
         |SELECT node, n_landmarks, closeness FROM (
         |  SELECT $nodeNameSql AS node, COUNT(*) AS n_landmarks,
         |    round(CAST(SUM(1000000000000 // dist) AS DOUBLE) / 1000000000000.0, 6) AS closeness
         |  FROM v3 WHERE dist > 0 GROUP BY id
         |) ORDER BY closeness DESC, node ASC LIMIT 100""".stripMargin
    },

    // Same tagged-BFS unroll as g12 (fixed depth, not a convergence
    // margin), wider source set; the census window sums are integer.
    "g13_neighborhood" -> {
      def hop(prev: String, cur: String, i: Int) =
        s"""$cur AS MATERIALIZED (
           |  SELECT tag, id, dist FROM $prev
           |  UNION ALL
           |  SELECT f.tag, f.id, $i AS dist FROM (
           |    SELECT DISTINCT v.tag, e2.dst AS id
           |    FROM edges e2 JOIN $prev v ON e2.src = v.id AND v.dist = ${i - 1}
           |  ) f
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev p WHERE p.tag = f.tag AND p.id = f.id)
           |)""".stripMargin
      s"""WITH e AS MATERIALIZED ($edgesSql),
         |edges AS MATERIALIZED (
         |  $symEdgesSql
         |),
         |lm AS (SELECT id AS tag, id FROM (
         |  SELECT DISTINCT l_orderkey * 2 AS id FROM lineitem ORDER BY id LIMIT 16)),
         |v0 AS (SELECT tag, id, 0 AS dist FROM lm),
         |${hop("v0", "v1", 1)},
         |${hop("v1", "v2", 2)},
         |${hop("v2", "v3", 3)},
         |${hop("v3", "v4", 4)},
         |census AS (SELECT dist, COUNT(*) AS n_pairs FROM v4 WHERE dist > 0 GROUP BY dist)
         |SELECT dist, n_pairs, n_cum,
         |  CAST(n_cum * 10 >= n_total * 9 AS INTEGER) AS at_eff_horizon
         |FROM (
         |  SELECT dist, n_pairs,
         |    CAST(SUM(n_pairs) OVER (ORDER BY dist ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
         |    CAST(SUM(n_pairs) OVER () AS BIGINT) AS n_total
         |  FROM census)
         |ORDER BY dist""".stripMargin
    },

    // Walk replay: 3 unrolled step CTEs, each picking
    // nbrs[1 + H(seed, t) % degree] from the sorted adjacency — the
    // engine's md5 arithmetic byte-for-byte.
    "g15_random_walks" -> {
      def idx(t: Int): String =
        s"CAST(1 + CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || '#$t'), 1, 8)) AS BIGINT) % len(nbrs) AS INT)"
      def stepSql(prev: String, out: String, t: Int): String =
        s"""$out AS (
           |  SELECT w.seed, nbrs[${idx(t)}] AS node,
           |    list_append(w.path, nbrs[${idx(t)}]) AS path
           |  FROM $prev w JOIN adj ON adj.src = w.node
           |)""".stripMargin
      s"""WITH e AS ($edgesSql),
         |edges AS (
         |  $symEdgesSql
         |),
         |adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs FROM edges GROUP BY src),
         |w0 AS (
         |  SELECT DISTINCT o * 2 AS seed, o * 2 AS node, [o * 2] AS path
         |  FROM e WHERE (o * 2) % 100 = 0
         |),
         |${stepSql("w0", "w1", 1)},
         |${stepSql("w1", "w2", 2)},
         |${stepSql("w2", "w3", 3)}
         |SELECT seed, array_to_string(list_transform(path, x ->
         |    CASE WHEN x % 2 = 0 THEN 'o' || CAST(x // 2 AS VARCHAR)
         |         ELSE 'p' || CAST(x // 2 AS VARCHAR) END), '->') AS walk
         |FROM w3 ORDER BY seed""".stripMargin
    }
  )
}
