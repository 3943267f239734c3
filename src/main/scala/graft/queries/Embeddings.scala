package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.VectorCentroid
import graft.sources.ParquetSource

/** Similarity search over the `embeddings` table (SURVEY.md §3.11 T5/T6 +
  * north-star ANN): brute-force cosine top-k as the correctness baseline,
  * sign-LSH bucketing and IVF-style coarse partitioning as the scale paths,
  * and per-label centroids both decimal-exact (oracle-gated) and via the
  * typed [[graft.operators.VectorCentroid]] Aggregator (A7).
  *
  * Scale design:
  *   - the probe set is always a small filtered side and is broadcast —
  *     the corpus never shuffles for search queries;
  *   - brute force is O(probes × corpus) and exists as the quality baseline;
  *     v2 (LSH) and v5 (IVF) restrict candidates to one bucket/partition, the
  *     100 TB shape (bucket/partition pruning on the corpus side);
  *   - dot products run inside whole-stage codegen via higher-order
  *     functions ([[graft.functions.VectorFunctions]]) — no UDF boundary;
  *   - cosines are rounded to 6 decimals BEFORE ranking, with vec_id
  *     tiebreaks, so top-k is deterministic and engine-portable.
  */
object Embeddings extends QueryPack {

  private val dims = 64

  /** vec_id, emb (double[]) view of the corpus, with the L2 norm
    * precomputed ONCE per row — a pairwise cosine then costs one dot
    * product instead of three (the norms would otherwise be re-derived for
    * every (probe, candidate) pair).
    */
  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"), col("label"))
      .withColumn("nrm", sqrt(dotNative(col("emb"), col("emb"))))

  private def roundedCos(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** Pairwise cosine from precomputed norms (bitwise equal to the
    * recompute-norms form — same inputs, same fold — so oracle parity holds).
    */
  private def pairCos: Column =
    round(dotNative(col("qe"), col("emb")) / (col("qnrm") * col("nrm")), 6)

  /** Deterministic probe subset: every 100th vector. */
  private def probes(c: DataFrame): DataFrame =
    c.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qe"), col("nrm").as("qnrm"))

  /** DuckDB cosine over CAST(embedding AS DOUBLE[]) columns. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"

  private val nLists = 8

  /** Lloyd's rounds in the computed quantizer (assign → decimal means,
    * iterated; see [[graft.operators.IvfIndex.build]]). Every round is
    * mirrored as a MATERIALIZED CTE pair in [[ivfSql]], and IvfIndexSpec
    * asserts recall@5 does not degrade versus the one-round model.
    */
  private val ivfIters = 2

  /** IVF coarse quantizer COMPUTED from the data — [[ivfIters]]
    * deterministic Lloyd's iterations via [[graft.operators.IvfIndex]]
    * (see its scaladoc for the seed/assign/update/re-assign steps and
    * their scale shapes).
    * Returns (lists: vec_id/lid/emb/nrm, centers: csid/cemb).
    *
    * The model is a MAINTAINED PERSISTED INDEX, not a session cache: the
    * inverted file is SnapshotSink-published PARTITIONED BY `lid` and the
    * K-row center table alongside it ([[graft.sources.ArtifactStore]],
    * built once per JVM per (sf dir, shuffle conf) — the conf in the key
    * keeps DeterminismSpec's 3-vs-16 partition runs building their own).
    * Every v5/v7/v8/v9 query plan therefore reads a FileSourceScanExec
    * over the published index — the exact production shape, where a probe
    * assigned to list L reads partition L and search cost is
    * nprobe/nlists of the corpus regardless of corpus size (static-prune
    * plan pinned in IvfIndexSpec; artifact read-path pinned in
    * PersistedLayoutSpec). Content is deterministic, so persistence cannot
    * change results — only skip recomputing the Lloyd's iterations.
    */
  private def ivfModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    // Lazy: if both artifacts are already published, Lloyd's never runs;
    // on first publish the two writes share one model build.
    lazy val m = graft.operators.IvfIndex.build(corpus(s, d), nLists, ivfIters)
    val lists = ArtifactStore.snapshot(s, d, "ivf_lists", Seq("lid"))(m.lists)
    val cents = ArtifactStore.snapshot(s, d, "ivf_centers")(m.centers)
    (lists, cents)
  }

  /** One assign round: v rows labeled with their nearest `$cent` center. */
  private def ivfAssignSql(cent: String, out: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT vec_id, emb, csid AS sid FROM (
       |    SELECT v.vec_id, v.emb, c.csid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("v.emb", "c.cemb")}, 6) DESC, c.csid ASC) AS arn
       |    FROM v, $cent c
       |  ) WHERE arn = 1
       |)""".stripMargin

  /** One update round: per-list decimal-exact means of `$asg`. */
  private def ivfMeansSql(asg: String, out: String): String =
    s"""${out}d AS (
       |  SELECT sid, dim, CAST(SUM(CAST(vv AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM (SELECT sid, generate_subscripts(emb, 1) AS dim, unnest(emb) AS vv FROM $asg)
       |  GROUP BY sid, dim
       |),
       |$out AS MATERIALIZED (SELECT sid AS csid, list(cv ORDER BY dim) AS cemb FROM ${out}d GROUP BY sid)""".stripMargin

  /** DuckDB mirror of [[ivfModel]]: distinct-embedding seeds → [[ivfIters]]
    * unrolled (assign → decimal means) rounds → final re-assign, as CTE
    * bodies (MATERIALIZED where referenced downstream so each round runs
    * once, not per reference — a plain CTE chain would re-evaluate the
    * whole prefix per reference). The final means CTE is named `cent` and
    * the final assignment `lists`, so downstream query SQL is independent
    * of the round count.
    */
  private def ivfSqlFor(vWhere: String, nListsSql: String = nLists.toString): String = {
    val skeySql = "md5(CAST(vec_id AS VARCHAR))"
    val rounds = (1 to ivfIters).map { i =>
      val prevCent = if (i == 1) "seeds" else s"cent${i - 1}"
      val out = if (i == ivfIters) "cent" else s"cent$i"
      ivfAssignSql(prevCent, s"asg$i") + ",\n" + ivfMeansSql(s"asg$i", out)
    }.mkString(",\n")
    s"""v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings $vWhere),
       |sdd AS (SELECT emb, arg_min(vec_id, $skeySql) AS vec_id FROM v GROUP BY emb),
       |seeds AS MATERIALIZED (
       |  SELECT emb AS cemb,
       |    ROW_NUMBER() OVER (ORDER BY $skeySql ASC, vec_id ASC) AS csid
       |  FROM sdd ORDER BY $skeySql ASC, vec_id ASC LIMIT $nListsSql
       |),
       |$rounds,
       |lists AS MATERIALIZED (
       |  SELECT vec_id, emb, sid AS lid FROM (
       |    SELECT v.vec_id, v.emb, c.csid AS sid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("v.emb", "c.cemb")}, 6) DESC, c.csid ASC) AS arn
       |    FROM v, cent c
       |  ) WHERE arn = 1
       |)""".stripMargin
  }

  private val ivfSql: String = ivfSqlFor("")

  /** Production IVF sizing: nLists grows with the corpus so the MEAN list
    * size stays ~[[denseListTarget]] — the standard IVF deployment rule
    * (fixed nLists would leave per-list work quadratic in N). Integer
    * form `(n+63)/64` == ceil(n/64) == the oracle's
    * `ceil(count(*)/64.0)`, so both engines train the same K.
    */
  private val denseListTarget = 64
  private def denseNLists(n: Long): Int =
    math.max(8L, (n + denseListTarget - 1) / denseListTarget).toInt

  /** The corpus-proportioned sibling of [[ivfModel]] (same Lloyd's
    * build, K = [[denseNLists]](N)), persisted as its own artifact pair.
    * Backs the dense-probe operators (v14) where the serving model's
    * fixed nLists=8 would cap parallelism at 8 shuffle partitions and
    * leave candidate work at N²/8. The K-derivation count is a one-time
    * control-plane read (artifact-cached thereafter).
    */
  private def denseIvfModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val c = corpus(s, d)
    lazy val m = graft.operators.IvfIndex.build(c, denseNLists(c.count()), ivfIters)
    // UNPARTITIONED, unlike the serving model's nLists=8 layout: here
    // K ∝ N, so partitionBy(lid) would write K directories of tiny files
    // (measured at the 125× probe: 3,907 partitions turned the snapshot
    // write + every subsequent file-listing into the dominant cost and
    // evicted the partition-metadata cache). The dense model's consumers
    // (v14, v10) JOIN the whole inverted file on lid rather than pruning
    // to single lists, so the layout bought nothing — a plain snapshot
    // with normal-sized files is the scale-correct shape.
    val lists = ArtifactStore.snapshot(s, d, "ivf_dense_lists")(m.lists)
    val cents = ArtifactStore.snapshot(s, d, "ivf_dense_centers")(m.centers)
    (lists, cents)
  }

  /** The dense-model SQL mirror: same CTE chain, K from the corpus count
    * (DuckDB subquery LIMIT), so the oracle trains the identical
    * quantizer at any SF.
    */
  private val denseIvfSql: String = ivfSqlFor("",
    s"(SELECT greatest(8, CAST(ceil(count(*) / $denseListTarget.0) AS BIGINT)) FROM v)")

  /** SemDeDup removal set shared by v10 and e4: within each IVF list,
    * members of a ≥0.4-cosine pair that are NOT the pair's smallest id.
    * Returns distinct `(lid, vec_id)` rows.
    */
  private def semanticRemoved(lists: DataFrame): DataFrame = {
    val a = lists.select(col("lid").as("qlid"), col("vec_id").as("qid"),
      col("emb").as("qe"), col("nrm").as("qnrm"))
    a.join(lists, col("qlid") === col("lid") && col("qid") < col("vec_id"))
      .filter(pairCos >= 0.4)
      .select(col("lid"), col("vec_id")).distinct()
  }

  /** Scored IVF candidates shared by v5/v7/v8 — delegates to the single
    * pipeline in [[graft.operators.IvfIndex.scoredCandidates]] (also
    * behind the public `search` API), over the session-cached model.
    * Corpus never shuffles; at scale the lists side is partition-pruned
    * to `nprobe` partitions per probe.
    */
  private def ivfCandidates(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val (lists, cents) = ivfModel(s, d)
    graft.operators.IvfIndex.scoredCandidates(lists, cents, probes(corpus(s, d)), nprobe)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V1: brute-force top-10 cosine neighbors for each probe (baseline).
    "v1_knn_brute" -> { (s, d) =>
      val c = corpus(s, d)
      val scored = broadcast(probes(c))
        .join(c, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .orderBy("qid", "rn")
    },

    // V2: LSH-bucketed ANN — candidates share the probe's 4-bit sign bucket
    // (axis-aligned random-hyperplane LSH), so the corpus side is pruned to
    // ~1/16 before any dot product. Approximate by construction.
    "v2_ann_lsh" -> { (s, d) =>
      val c = corpus(s, d).withColumn("bucket", signBucket(col("emb"), 4))
      val q = broadcast(
        probes(c.drop("bucket"))
          .withColumn("qbucket", signBucket(col("qe"), 4)))
      val scored = q
        .join(c, col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    },

    // V3: nearest-neighbor edge per sampled probe (every 4th vector) — the
    // NN-graph building block for embedding near-dup clustering. EXACT
    // BASELINE, O(probes × corpus) like v1 — the 25× scale curve measures
    // that quadratic directly (r25 = 33.75 on 25× data, rows 25×). The
    // production path at scale is v14 below: identical edge semantics,
    // candidates restricted to the probe's IVF list.
    "v3_nn_graph" -> { (s, d) =>
      val c = corpus(s, d)
      val q = broadcast(
        c.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id").as("qid"), col("emb").as("qe"), col("nrm").as("qnrm")))
      val scored = q.join(c, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("nn_id"), col("cos_sim"))
        .orderBy("qid")
    },

    // V14: PRODUCTION NN-graph (the 25×-curve named fix for v3's UP bend):
    // the same every-4th-vector NN edge, computed inside the
    // corpus-proportioned IVF index ([[denseIvfModel]]: K = N/64, so mean
    // list size stays ~64 at ANY corpus size). Two scale properties make
    // this linear where v3 is quadratic: (1) a probe IS a corpus vector,
    // so its list assignment is already a column of the inverted file —
    // the home-list join replaces any O(probes × K) center argmax; (2)
    // candidates are the probe's home list only, so total candidate work
    // is Σ_L (|L|/4)·|L| ≈ N·listTarget/4 — linear in N, parallel across
    // K lids (the SemDeDup within-cluster-NN shape, v10's regime). A
    // first FAILED cut of this query kept the serving model's fixed
    // nLists=8 and shuffled probe-vs-corpus on 8 distinct keys — measured
    // SLOWER than brute v3 at 25× (66.7 s vs 46.1 s: N²/8 work on ≤8
    // effective partitions); the dense model is the fix the measurement
    // named. Probes in a singleton list emit no edge (inner join),
    // mirrored by the oracle. Approximate by construction (the true NN
    // can sit across the cell boundary); IvfIndexSpec pins the
    // cosine-regret ceiling vs the exact v3.
    "v14_nn_graph_ivf" -> { (s, d) =>
      val (lists, _) = denseIvfModel(s, d)
      val probes = lists.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id").as("qid"), col("emb").as("qe"),
          col("nrm").as("qnrm"), col("lid").as("qlid"))
      val scored = probes
        .join(lists, col("lid") === col("qlid") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("nn_id"), col("cos_sim"))
        .orderBy("qid")
    },

    // V6: embedding-cosine near-dup pairs — the vector-space member of the
    // dedup family (T3/T4/T5/T6 are its text-space siblings). Candidates
    // come ONLY from shared 6-bit sign-LSH buckets (corpus ~1/64 per
    // bucket, never all-pairs), buckets are capped at 64 members before the
    // self-join (same guard as the MinHash band caps — a degenerate bucket
    // stays C(64,2)), and the exact cosine then verifies candidates at the
    // threshold. The synthetic corpus has no true duplicates, so the
    // threshold is set where the fixture's near-neighbors live (≥ 0.4).
    "v6_cosine_neardup" -> { (s, d) =>
      val c = corpus(s, d).withColumn("bucket", signBucket(col("emb"), 6))
      // Materialized once: the capped corpus feeds both self-join sides.
      val capped = graft.plans.TopKPerKey(
        c.select("vec_id", "emb", "nrm", "bucket"),
        Seq("bucket"), Seq("vec_id" -> true), k = 64).localCheckpoint() // eager: self-join (policy)
      val a = capped.select(col("vec_id").as("qid"), col("emb").as("qe"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
      a.join(capped, col("bucket") === col("qbucket") && col("qid") < col("vec_id"))
        .select(col("qid").as("vec_a"), col("vec_id").as("vec_b"),
          pairCos.as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        .orderBy("vec_a", "vec_b")
    },

    // V4: per-label centroid, decimal-exact (order-independent sums → hash
    // parity with the oracle). One row per (label, dim).
    "v4_label_centroid" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg(round(
          sum(col("v").cast("double").cast(DecimalType(28, 10))).cast("double") /
            count(lit(1)), 6).as("centroid"))
        .orderBy("label", "dim")
    },

    // V4b: same centroids via the typed Aggregator (fast path; rows-only
    // check — double partial-sum order is run-dependent in the last bits).
    "v4_centroid_agg" -> { (s, d) =>
      val agg = udaf(new VectorCentroid(dims))
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(agg(col("embedding")).as("c"))
        .select(col("label"),
          array_join(transform(col("c"), v => format_number(v, 4)), ",").as("centroid_sig"))
        .orderBy("label")
    },

    // V7: multi-probe IVF — same computed quantizer as v5 but each probe
    // searches its TWO nearest lists (nprobe=2), the standard recall fix
    // for probes that land near a Voronoi boundary. Cost is nprobe/nlists
    // of the corpus per probe instead of 1/nlists; at scale this is
    // scanning two partitions instead of one.
    "v7_ivf_multiprobe" -> { (s, d) =>
      // The Lloyd's assignment partitions the corpus (each vector in
      // exactly one list), so the two probed lists are disjoint — rank
      // over their union, no dedup needed.
      val scored = ivfCandidates(s, d, nprobe = 2)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    },

    // V5: IVF search against the COMPUTED quantizer ([[ivfModel]]): assign
    // each probe to its nearest updated center, then search ONLY that
    // list's vectors. At scale the lists table is partitioned by lid, so
    // the probe touches one partition instead of the full corpus.
    "v5_ivf_topk" -> { (s, d) =>
      val scored = ivfCandidates(s, d, nprobe = 1)
        .select(col("qid"), col("csid").as("probe_list"), col("vec_id"), col("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    },

    // V9: BULK rescore — the probes-≈-corpus shape (every 10th vector, a
    // 10× denser probe set than the serving queries' 1-in-100): re-score
    // each probe against its assigned IVF list and keep the top 3. The
    // point is the JOIN STRATEGY: `broadcastProbes = false` shuffles BOTH
    // sides on the list id instead of broadcasting the probe set — the
    // only plan that survives when the probe side is a corpus-scale table
    // (a broadcast would OOM). Same scoring expression tree as v5/v7, so
    // this row oracle-gates the shuffled path end to end.
    "v9_ivf_bulk_rescore" -> { (s, d) =>
      val c = corpus(s, d)
      val bulkProbes = c.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("emb").as("qe"), col("nrm").as("qnrm"))
      val (lists, cents) = ivfModel(s, d)
      val scored = graft.operators.IvfIndex
        .scoredCandidates(lists, cents, bulkProbes, nprobe = 1, broadcastProbes = false)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.select(col("qid"), col("vec_id"), col("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy("qid", "rn")
    },

    // V10: SemDeDup-style semantic dedup — pairwise cosine ONLY within
    // each IVF cluster of the persisted coarse quantizer (the SemDeDup
    // recipe: k-means first, dedup inside clusters), pairs at ≥ 0.4 mark
    // their higher-id member removed, keeping the lowest id as the
    // representative. Per-cluster census (size, removed, kept) per list.
    // Scale: the all-pairs step is quadratic only WITHIN a cluster — in a
    // real deployment nLists grows with the corpus so cluster size stays
    // bounded (the paper's regime), the lists table is lid-partitioned so
    // each cluster's self-join reads one partition, and the pair join
    // keys on lid (never a global cross product).
    "v10_semantic_dedup" -> { (s, d) =>
      val (lists, _) = ivfModel(s, d)
      val removed = semanticRemoved(lists)
      lists.groupBy(col("lid")).agg(count(lit(1)).as("n_vectors"))
        .join(removed.groupBy(col("lid")).agg(count(lit(1)).as("n_removed")),
          Seq("lid"), "left_outer")
        .select(col("lid"), col("n_vectors"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          (col("n_vectors") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
        .orderBy("lid")
    },

    // E4: the embedding-side curation pipeline end to end, one
    // declarative plan (the vector sibling of e3's text pipeline):
    // persisted IVF cluster assignment → SemDeDup removal within each
    // cluster ([[semanticRemoved]], shared with v10) → census of the KEPT
    // representatives per cluster with a decimal-exact mean L2 norm (the
    // post-dedup distribution check a pipeline alerts on). The anti-join
    // against the removal set is lid-local; the stats agg reuses the
    // persisted `nrm` column — no norm recompute, and the oracle's
    // sqrt(dot) recompute matching it bit-for-bit re-proves the persisted
    // value faithful.
    "e4_embedding_pipeline" -> { (s, d) =>
      val (lists, _) = ivfModel(s, d)
      val kept = lists.join(
        semanticRemoved(lists).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      kept.groupBy(col("lid"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("nrm").cast(DecimalType(28, 10))).cast("double") /
            count(lit(1)), 6).as("mean_norm"))
        .orderBy("lid")
    },

    // V8: ANN index quality made measurable — recall@5 of the IVF search
    // (nprobe=1) against the brute-force ground truth, per probe. THE
    // metric a pipeline watches when tuning nlists/nprobe: both top-5 sets
    // are deterministic (rounded cosines, id tiebreaks), so recall itself
    // is oracle-exact. Ground truth costs one brute pass over the probe
    // set — the same O(probes × corpus) as v1, only run when measuring.
    "v8_ann_recall" -> { (s, d) =>
      val c = corpus(s, d)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      val brute5 = broadcast(probes(c))
        .join(c, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val ivf5 = ivfCandidates(s, d, nprobe = 1)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val hits = brute5.join(ivf5, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n"))
      brute5.select(col("qid")).distinct()
        .join(hits, Seq("qid"), "left_outer")
        .select(col("qid"), coalesce(col("n"), lit(0L)).as("n_hits"),
          (coalesce(col("n"), lit(0L)) / 5.0).as("recall"))
        .orderBy("qid")
    },

    // V11: SCALAR-QUANTIZED (SQ8) search with exact rescore — the
    // MEMORY-scale ANN path (FAISS's SQ8 recipe): per-dimension min/max
    // train a linear 8-bit quantizer, the corpus is stored as
    // array<tinyint> CODES (1 byte/dim — 8× smaller than the float64
    // working form, 4× smaller than the raw float32 column), search
    // scans decoded codes (asymmetric: query stays full-precision), and
    // only the top-32 candidates per probe touch the full-precision
    // vectors for the exact-cosine rescore that produces the final
    // top-10.
    //
    // Scale shape: the trainer is ONE explode + 64-group agg (map-side
    // combinable min/max) collected into a 2×64-value broadcast — the
    // "codebook" is O(dims), never O(corpus). Encode is a map-only pass.
    // At 100 TB the codes table is what a deployment persists and scans
    // (8× less I/O and cache footprint per candidate), and the
    // full-precision table is only random-accessed for rescore
    // candidates — probes × 32 rows. Everything below is codegen'd HOFs;
    // the int8 round-trip (shift by −128 into signed tinyint, shift back
    // at decode) is mirrored in the oracle, so the quantized candidate
    // CUT — not just the rescored scores — is engine-identical.
    "v11_sq8_rescore" -> { (s, d) =>
      val c = corpus(s, d)
      // Train: per-dim (min, max) over the corpus, packed into one
      // broadcastable row of two 64-element arrays (pos-sorted).
      val dimStats = c.select(posexplode(col("emb")))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("dmn"), max(col("col")).as("dmx"))
      val stats = dimStats.agg(
        transform(sort_array(collect_list(struct(col("pos"), col("dmn")))),
          x => x.getField("dmn")).as("mn"),
        transform(sort_array(collect_list(struct(col("pos"), col("dmx")))),
          x => x.getField("dmx")).as("mx"))
      def mnI(i: Column) = element_at(col("mn"), i + 1)
      def mxI(i: Column) = element_at(col("mx"), i + 1)
      // Encode∘decode FUSED into one per-element lambda: e → code byte
      // (floor(scaled + 0.5) ∈ [0,255], shifted −128 into a signed
      // tinyint — the stored form) → straight back to the reconstruction
      // mn + (code+128)·(mx−mn)/255. Every value genuinely round-trips
      // the tinyint domain, and the oracle mirrors the same two steps as
      // separate CTEs (identical arithmetic either way). Fused ON PURPOSE:
      // higher-order-function lambdas are interpreted (no codegen) and get
      // no common-subexpression elimination, and CollapseProject inlines a
      // named HOF column into each element access of a downstream HOF —
      // deriving `dq` from a separate `code` column re-evaluated the whole
      // 64-element encode PER ELEMENT, an O(dims²) interpreted blowup
      // (measured 5.6× end-to-end, ~40× on the encode stage alone, at
      // sf0.1). A deployment persisting the codes
      // table would split exactly here — encode writes, decode reads a
      // materialized column — which is a physical barrier, not a projection.
      // A degenerate dim (mx == mn) encodes as −128 and decodes to mn via
      // the ×(mx−mn)=0 term — no CASE needed on the decode side.
      val coded = c.crossJoin(broadcast(stats))
        .withColumn("dq", transform(sequence(lit(0), lit(dims - 1)), i => {
          val mn = mnI(i); val mx = mxI(i)
          val e = element_at(col("emb"), i + 1)
          val codeByte = when(mx > mn,
            (least(floor((e - mn) / (mx - mn) * lit(255.0) + lit(0.5)).cast("double"),
              lit(255.0)) - lit(128.0)).cast("tinyint"))
            .otherwise(lit(-128).cast("tinyint"))
          mn + (codeByte.cast("double") + lit(128.0)) * (mx - mn) / lit(255.0)
        }))
        // Decoded norm precomputed ONCE per corpus row (same tree as the
        // per-pair form, so bitwise-equal — the `corpus().nrm` precedent):
        // the ADC pass then pays one dot product per pair, not two.
        .select(col("vec_id"), col("dq"),
          sqrt(dotNative(col("dq"), col("dq"))).as("dqn"))
      val q = broadcast(probes(c))
      val adc = q.join(coded, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(dotNative(col("dq"), col("qe")) /
            (col("dqn") * col("qnrm")), 6).as("q_sim"))
      val wq = Window.partitionBy(col("qid")).orderBy(col("q_sim").desc, col("vec_id").asc)
      val cand = adc.withColumn("crn", row_number().over(wq)).filter(col("crn") <= 32)
        .select(col("qid"), col("vec_id"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      cand.join(c, "vec_id")
        .join(q.select(col("qid"), col("qe"), col("qnrm")), "qid")
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .orderBy("qid", "rn")
    },

    // V12: INCREMENTAL index maintenance — the operation a standing ANN
    // index needs when the corpus grows: assign the NEW batch (every 7th
    // vector, held out of training) to the persisted base index's centers
    // and search the merged inverted file. The append is
    // [[graft.operators.IvfIndex.assignTo]] — one broadcast argmax over
    // the batch, cost ∝ |batch| × K: no Lloyd's re-run, no standing-corpus
    // re-read (the base lists come back from the published artifact).
    // Assignment ties break exactly like a full rebuild's, so the merged
    // file IS the file a rebuild with the same centers would produce —
    // which is what the oracle computes from scratch.
    "v12_ivf_append" -> { (s, d) =>
      val c = corpus(s, d)
      val batch = c.filter(col("vec_id") % 7 === 0)
      val (lists, cents) = baseIndexArtifacts(s, d)
      val appended = graft.operators.IvfIndex.assignTo(batch, cents)
      val merged = lists.select("vec_id", "lid", "emb", "nrm")
        .unionByName(appended.select("vec_id", "lid", "emb", "nrm"))
      graft.operators.IvfIndex.search(merged, cents, probes(c), k = 5, nprobe = 1)
        .orderBy("qid", "rn")
    },

    // ST15: STREAMING index maintenance — v12's append as a REAL stream:
    // embedding micro-batches arrive through a file stream, each
    // foreachBatch assigns the batch to the BASE centers (broadcast
    // argmax, cost ∝ |batch| × K — no Lloyd's re-run, no standing-corpus
    // re-read) and atomically republishes the standing inverted file
    // (SnapshotSink swap — searches see the old file until the new one is
    // live). Because per-row assignment is independent of batching, the
    // final file is IDENTICAL to the one-shot batch append — the oracle
    // is v12's SQL VERBATIM (stream-must-equal-batch, the st12 pattern).
    // This is the production shape for embedding ingest at 100 TB: the
    // index absorbs arrivals at O(batch) cost and rebuilds only when
    // drift warrants new centers.
    "st15_stream_ivf_append" -> { (s, d) =>
      val base = scratchDir(s, d, "st15_sink")
      val standing = s"$base/lists"
      // Dual-layout file stream (single-file driver layout vs Spark-written
      // directory) — the shared dispatch in StreamOps.tableFileStream.
      val stream = graft.streaming.StreamOps.tableFileStream(s, d, "embeddings")
        .filter(col("vec_id") % 7 === 0)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          appendBatchToStanding(batch, d, standing)
        }
        .start()
      q.awaitTermination()
      searchStanding(s, d, standing)
    },

    // V13: PRODUCT QUANTIZATION (PQ) with exact rescore — the
    // highest-compression ANN memory path (FAISS PQ recipe): the 64-dim
    // space splits into m=4 orthogonal 16-dim SUBSPACES, each with its own
    // K=16-entry codebook; a vector stores 4 code ids (4 bytes — 16×
    // smaller than v11's SQ8 codes, 128× smaller than the float64 working
    // form) and reconstructs as the concatenation of its chosen codewords.
    // Codebooks are trained per subspace: K distinct subvectors with
    // smallest owner vec_id seed one Lloyd's round (assign → decimal-exact
    // means, the same arithmetic the v5 IVF quantizer gates multi-round),
    // and the corpus is coded against the refined centroids.
    // Assignment is argmin L2 in the algebraic dot form
    // |s|² − 2·s·c + |c|² (three dot products, no per-element subtract
    // HOF), rounded to 6 with cid tiebreak so the CODES — not just the
    // final scores — are engine-identical. Approximate scoring then runs
    // against reconstructions (dot(q, recon) ≡ Σₘ dot(qₘ, codewordₘ) —
    // the ADC lookup-table identity), cuts the top-32 per probe, and only
    // those touch full-precision vectors for the exact-cosine top-10.
    // Scale shape: codebook is 64 rows (broadcast); assignment is a
    // map-side broadcast join + 16-way argmin per (vec, subspace); the
    // codes table is what a deployment persists — at 100 TB the scan I/O
    // for ADC is 4 bytes/vector plus the shared codebook.
    "v13_pq_rescore" -> { (s, d) =>
      val mSub = 4; val subD = 16; val kCodes = 16
      val c = corpus(s, d)
      def subSlices(v: Column) =
        array((0 until mSub).map(j => slice(v, j * subD + 1, subD)): _*)
      // Materialized once (round 15): four consumers (seed derivation, both
      // pqAssign passes, the Lloyd's update join) otherwise each re-run the
      // corpus scan + per-vector subspace slicing.
      val subs = c.select(col("vec_id"),
        posexplode(subSlices(col("emb")))).toDF("vec_id", "m", "sub")
        .localCheckpoint() // eager (r16): 4 consumers, no action between (policy)
      // Per-subspace codebook: distinct subvectors seeded by min owner id.
      // A vec_id owns exactly one subvector per subspace, so the min-owner
      // is unique within a subspace and the ROW_NUMBER order is total.
      val seeds = subs.groupBy(col("m"), col("sub"))
        .agg(min(col("vec_id")).as("sv"))
        .withColumn("cid", row_number().over(
          Window.partitionBy(col("m")).orderBy(col("sv"))) - 1)
        .filter(col("cid") < kCodes)
        .select(col("m"), col("cid"), col("sub").as("csub"),
          dotNative(col("sub"), col("sub")).as("cn"))
      // Nearest-codeword assignment against codebook `cb` (m, cid, csub,
      // cn): argmin as min() over ONE packed long — a struct agg buffer
      // (variable-length) would fall back to SortAggregate and sort the
      // (N·m)×64 expansion; a LongType buffer gets a true hash agg with
      // map-side combine (the IvfIndex.assign lesson). High bits: the
      // 6-dp-rounded l2 as an integer (round(l2·10⁶) recovers it
      // exactly); low bits: cid — so ordering is (l2 asc, cid asc), the
      // same deterministic tiebreak. The codebook is 64 rows, always
      // broadcast.
      def pqAssign(cb: DataFrame): DataFrame = subs.join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"),
          (round(round(dotNative(col("sub"), col("sub"))
            - lit(2.0) * dotNative(col("sub"), col("csub")) + col("cn"), 6)
            * lit(1000000), 0).cast("long") * lit(4294967296L) + col("cid"))
            .as("pk"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(col("pk")).as("best"))
        .select(col("vec_id"), col("m"),
          pmod(col("best"), lit(4294967296L)).cast("int").as("cid"))
      // One Lloyd's update: per-(subspace, code) decimal-exact means of
      // the assigned subvectors (DECIMAL(28,10) partial sums are
      // order-independent → bit parity with the oracle replay), packed
      // back into csub arrays in dimension order.
      val refined = pqAssign(seeds)
        .join(subs, Seq("vec_id", "m"))
        .select(col("m"), col("cid"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(28, 10))).cast("double") /
          count(lit(1))).as("cv"))
        .groupBy(col("m"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("csub"))
        .select(col("m"), col("cid"), col("csub"),
          dotNative(col("csub"), col("csub")).as("cn"))
        .localCheckpoint() // eager (r16): codes + reconstruction both read it (policy)
      val codes = pqAssign(refined)
      // Reconstruction: codewords concatenated in subspace order (the
      // v11 stats-pack idiom keeps the fold order engine-identical).
      val coded = codes.join(broadcast(refined.select(col("m"), col("cid"), col("csub"))),
          Seq("m", "cid"))
        .groupBy(col("vec_id"))
        .agg(flatten(transform(
          sort_array(collect_list(struct(col("m"), col("csub")))),
          x => x.getField("csub"))).as("dq"))
        .select(col("vec_id"), col("dq"),
          sqrt(dotNative(col("dq"), col("dq"))).as("dqn"))
      val q = broadcast(probes(c))
      val adc = q.join(coded, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(dotNative(col("dq"), col("qe")) /
            (col("dqn") * col("qnrm")), 6).as("q_sim"))
      val wq = Window.partitionBy(col("qid")).orderBy(col("q_sim").desc, col("vec_id").asc)
      val cand = adc.withColumn("crn", row_number().over(wq)).filter(col("crn") <= 64)
        .select(col("qid"), col("vec_id"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      cand.join(c, "vec_id")
        .join(q.select(col("qid"), col("qe"), col("qnrm")), "qid")
        .select(col("qid"), col("vec_id"), pairCos.as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .orderBy("qid", "rn")
    }
  )

  /** st15 machinery, factored so StreamingSpec can replay it under forced
    * multi-batch pacing: bootstrap the standing inverted file from the
    * base index if absent, then fold ONE micro-batch in — assignment to
    * the base centers (broadcast argmax, O(|batch| × K)) and an atomic
    * republish of the standing file (SnapshotSink swap: searches see the
    * old file until the new one is live). The base index artifacts are
    * keyed snapshots shared with v12, so stream and batch provably read
    * the same centers.
    */
  /** THE single definition of the base IVF index artifacts (lists +
    * centers, trained on the vec_id % 7 ≠ 0 subset): v12's batch append,
    * st15's streaming append, and the standing-file search all read the
    * SAME keyed snapshots through this one helper — ArtifactStore keys
    * are first-writer-wins, so a second inlined copy of the derivation
    * could silently drift its parameters while still reading the first
    * writer's artifact. One definition, no drift.
    */
  private[graft] def baseIndexArtifacts(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val baseCorpus = corpus(s, d).filter(col("vec_id") % 7 =!= 0)
    lazy val m = graft.operators.IvfIndex.build(baseCorpus, nLists, ivfIters)
    (ArtifactStore.snapshot(s, d, "ivf_lists_base", Seq("lid"))(m.lists),
      ArtifactStore.snapshot(s, d, "ivf_centers_base")(m.centers))
  }

  private[graft] def appendBatchToStanding(batch: DataFrame, d: String,
      standing: String): Unit = {
    import graft.sources.SnapshotSink
    val s = batch.sparkSession
    val (lists, cents) = baseIndexArtifacts(s, d)
    if (!java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(standing)))
      SnapshotSink.overwrite(lists.select("vec_id", "lid", "emb", "nrm"), standing)
    val vecs = batch
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dotNative(col("emb"), col("emb"))))
    val appended = graft.operators.IvfIndex.assignTo(vecs, cents)
    // dropDuplicates on the PRIMARY KEY makes re-delivery a no-op:
    // foreachBatch is at-least-once (a crash between the publish and the
    // checkpoint's offset commit replays the batch), and assignment is
    // deterministic, so a re-delivered row is byte-identical to the one
    // already standing and collapses here instead of occupying a second
    // top-k slot at search time.
    SnapshotSink.overwrite(
      ParquetSource.read(s, standing)
        .unionByName(appended.select("vec_id", "lid", "emb", "nrm"))
        .dropDuplicates("vec_id"),
      standing)
  }

  /** Search the standing inverted file with the shared base centers. */
  private[graft] def searchStanding(s: SparkSession, d: String,
      standing: String): DataFrame = {
    val cents = baseIndexArtifacts(s, d)._2
    graft.operators.IvfIndex.search(
        ParquetSource.read(s, standing), cents, probes(corpus(s, d)), k = 5, nprobe = 1)
      .orderBy("qid", "rn")
  }

  /** Shared by v12 (batch append) and st15 (streaming append): the
    * from-scratch recompute of the appended index — train on the base
    * subset only, assign the held-out batch to the final centers with the
    * same argmax tiebreak, search the union. One SQL string because the
    * two engines' results must be identical BY CONSTRUCTION (per-row
    * assignment is batch-boundary invariant).
    */
  private lazy val v12AppendOracle: String =
    s"""WITH ${ivfSqlFor("WHERE vec_id % 7 <> 0")},
       |vb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |       FROM embeddings WHERE vec_id % 7 = 0),
       |appended AS (
       |  SELECT vec_id, emb, csid AS lid FROM (
       |    SELECT vb.vec_id, vb.emb, c.csid,
       |      ROW_NUMBER() OVER (PARTITION BY vb.vec_id
       |        ORDER BY round(${cosSql("vb.emb", "c.cemb")}, 6) DESC, c.csid ASC) AS arn
       |    FROM vb, cent c
       |  ) WHERE arn = 1
       |),
       |merged AS MATERIALIZED (
       |  SELECT vec_id, emb, lid FROM lists
       |  UNION ALL SELECT vec_id, emb, lid FROM appended
       |),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |      FROM embeddings WHERE vec_id % 100 = 0),
       |assigned AS (
       |  SELECT qid, qe, csid FROM (
       |    SELECT qid, qe, csid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "cemb")}, 6) DESC, csid ASC) AS arn
       |    FROM q, cent
       |  ) WHERE arn = 1
       |),
       |sc AS (
       |  SELECT qid, l.vec_id, round(${cosSql("qe", "l.emb")}, 6) AS cos_sim
       |  FROM assigned a JOIN merged l ON l.lid = a.csid AND l.vec_id != a.qid
       |)
       |SELECT qid, vec_id, cos_sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
       |) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** Dump-time guard for the rows-only Aggregator centroid (the g16
    * pattern): v4_centroid_agg is rows-only because double partial-sum
    * order is run-dependent in the LAST BITS — but that licenses ulp-level
    * drift, not wrong centroids. Verify recomputes the decimal-exact
    * per-(label, dim) mean (the oracle-gated v4_label_centroid path),
    * parses the dumped 4-dp signature back, and requires every component
    * within 1e-3 — a transposed dim, dropped row, or divisor bug moves
    * components by far more; reordering noise is ~1e-12.
    */
  override val resultChecksSf: Map[String, (SparkSession, String, DataFrame) => Unit] = Map(
    "v4_centroid_agg" -> { (s, d, res) =>
      val exact = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(28, 10))).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(_.get(0).toString)
        .view.mapValues(_.map(r => r.getInt(1) -> r.getDouble(2)).toMap).toMap
      val rows = res.select(col("label"), col("centroid_sig")).collect()
      require(rows.nonEmpty, "v4_centroid_agg: empty dump")
      rows.foreach { r =>
        val label = r.get(0).toString
        // format_number inserts grouping commas for |v| >= 1000
        // ("1,234.5678"), so a bare split(",") would mis-split such a
        // component and falsely retract a correct dump (ADVICE r14).
        // Exact reassembly: every component ends in ".dddd" (4 forced
        // decimals), so split tokens WITHOUT a dot are grouping fragments
        // belonging to the component that follows — concatenate until a
        // dot-bearing token closes the component.
        val toks = r.getString(1).split(",")
        val comps = scala.collection.mutable.ArrayBuffer[String]()
        val cur = new StringBuilder
        toks.foreach { t =>
          cur.append(t)
          if (t.contains('.')) { comps += cur.toString; cur.clear() }
        }
        require(cur.isEmpty,
          s"v4_centroid_agg: $label has malformed centroid_sig trailing '${cur.toString}'")
        val got = comps.map(_.toDouble).toArray
        val want = exact.getOrElse(label,
          throw new IllegalStateException(s"v4_centroid_agg: unknown label $label"))
        require(got.length == want.size,
          s"v4_centroid_agg: $label has ${got.length} dims, exact has ${want.size}")
        got.zipWithIndex.foreach { case (g, i) =>
          require(math.abs(g - want(i)) <= 1e-3,
            s"v4_centroid_agg: $label dim $i: aggregator $g vs exact ${want(i)}")
        }
      }
    }
  )

  val oracle: Map[String, String] = Map(
    "v1_knn_brute" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |sc AS (
         |  SELECT qid, vec_id, round(${cosSql("qe", "emb")}, 6) AS cos_sim
         |  FROM q, v WHERE vec_id != qid
         |)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "v2_ann_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, emb AS qe, bucket AS qbucket FROM v WHERE vec_id % 100 = 0),
         |sc AS (
         |  SELECT qid, vec_id, round(${cosSql("qe", "emb")}, 6) AS cos_sim
         |  FROM q JOIN v ON bucket = qbucket AND vec_id != qid
         |)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "v3_nn_graph" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 4 = 0),
         |sc AS (
         |  SELECT qid, vec_id, round(${cosSql("qe", "emb")}, 6) AS cos_sim
         |  FROM q, v WHERE vec_id != qid
         |)
         |SELECT qid, vec_id AS nn_id, cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn = 1 ORDER BY qid""".stripMargin,

    // v3's production sibling: the corpus-proportioned Lloyd's chain
    // (K = ceil(N/64) via subquery LIMIT — same integer K the engine
    // trains), every-4th probes read their HOME list id from the final
    // assignment, NN ranked within the home list only.
    "v14_nn_graph_ivf" ->
      s"""WITH $denseIvfSql,
         |q AS (SELECT vec_id AS qid, emb AS qe, lid AS qlid FROM lists WHERE vec_id % 4 = 0),
         |sc AS (
         |  SELECT qid, l.vec_id, round(${cosSql("qe", "l.emb")}, 6) AS cos_sim
         |  FROM q JOIN lists l ON l.lid = q.qlid AND l.vec_id != q.qid
         |)
         |SELECT qid, vec_id AS nn_id, cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn = 1 ORDER BY qid""".stripMargin,

    "v6_cosine_neardup" -> {
      val bucket6 = (1 to 6).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, $bucket6 AS bucket
         |  FROM embeddings),
         |capped AS (
         |  SELECT vec_id, emb, bucket FROM (
         |    SELECT vec_id, emb, bucket,
         |      ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn FROM v
         |  ) WHERE rn <= 64
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${cosSql("a.emb", "b.emb")}, 6) AS cos_sim
         |FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.emb", "b.emb")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    "v4_label_centroid" ->
      """SELECT label, dim,
        |  round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS centroid
        |FROM (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
        |  FROM embeddings
        |) GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "v7_ivf_multiprobe" ->
      s"""WITH $ivfSql,
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT qid, qe, csid FROM (
         |    SELECT qid, qe, csid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "cemb")}, 6) DESC, csid ASC) AS arn
         |    FROM q, cent
         |  ) WHERE arn <= 2
         |),
         |sc AS (
         |  SELECT qid, l.vec_id, round(${cosSql("qe", "l.emb")}, 6) AS cos_sim
         |  FROM assigned a JOIN lists l ON l.lid = a.csid AND l.vec_id != a.qid
         |)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "v10_semantic_dedup" ->
      s"""WITH $ivfSql,
         |pairs AS (
         |  SELECT a.lid, b.vec_id
         |  FROM lists a JOIN lists b ON a.lid = b.lid AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.emb", "b.emb")}, 6) >= 0.4
         |),
         |rem AS (SELECT lid, COUNT(DISTINCT vec_id) AS n_removed FROM pairs GROUP BY lid),
         |sz AS (SELECT lid, COUNT(*) AS n_vectors FROM lists GROUP BY lid)
         |SELECT sz.lid, n_vectors,
         |  COALESCE(n_removed, CAST(0 AS BIGINT)) AS n_removed,
         |  n_vectors - COALESCE(n_removed, CAST(0 AS BIGINT)) AS n_kept
         |FROM sz LEFT JOIN rem ON rem.lid = sz.lid
         |ORDER BY sz.lid""".stripMargin,

    "e4_embedding_pipeline" ->
      s"""WITH $ivfSql,
         |pairs AS (
         |  SELECT a.lid, b.vec_id
         |  FROM lists a JOIN lists b ON a.lid = b.lid AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.emb", "b.emb")}, 6) >= 0.4
         |),
         |rem AS (SELECT DISTINCT vec_id FROM pairs),
         |kept AS (
         |  SELECT l.* FROM lists l WHERE l.vec_id NOT IN (SELECT vec_id FROM rem)
         |)
         |SELECT lid, COUNT(*) AS n_kept,
         |  round(CAST(SUM(CAST(sqrt(list_dot_product(emb,emb)) AS DECIMAL(28,10))) AS DOUBLE)
         |    / COUNT(*), 6) AS mean_norm
         |FROM kept GROUP BY lid ORDER BY lid""".stripMargin,

    "v8_ann_recall" ->
      s"""WITH $ivfSql,
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |brute5 AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, v.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "emb")}, 6) DESC, vec_id ASC) AS rn
         |    FROM q, v WHERE v.vec_id != q.qid
         |  ) WHERE rn <= 5
         |),
         |assigned AS (
         |  SELECT qid, qe, csid FROM (
         |    SELECT qid, qe, csid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "cemb")}, 6) DESC, csid ASC) AS arn
         |    FROM q, cent
         |  ) WHERE arn = 1
         |),
         |ivf5 AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT a.qid, l.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY a.qid ORDER BY round(${cosSql("qe", "l.emb")}, 6) DESC, l.vec_id ASC) AS rn
         |    FROM assigned a JOIN lists l ON l.lid = a.csid AND l.vec_id != a.qid
         |  ) WHERE rn <= 5
         |)
         |SELECT p.qid, COALESCE(h.n, 0) AS n_hits, COALESCE(h.n, 0) / 5.0 AS recall
         |FROM (SELECT DISTINCT qid FROM brute5) p LEFT JOIN (
         |  SELECT b.qid, COUNT(*) AS n FROM brute5 b
         |  JOIN ivf5 i ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY b.qid
         |) h ON h.qid = p.qid ORDER BY p.qid""".stripMargin,

    "v9_ivf_bulk_rescore" ->
      s"""WITH $ivfSql,
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 10 = 0),
         |assigned AS (
         |  SELECT qid, qe, csid FROM (
         |    SELECT qid, qe, csid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "cemb")}, 6) DESC, csid ASC) AS arn
         |    FROM q, cent
         |  ) WHERE arn = 1
         |),
         |sc AS (
         |  SELECT qid, l.vec_id, round(${cosSql("qe", "l.emb")}, 6) AS cos_sim
         |  FROM assigned a JOIN lists l ON l.lid = a.csid AND l.vec_id != a.qid
         |)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    "v5_ivf_topk" ->
      s"""WITH $ivfSql,
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |assigned AS (
         |  SELECT qid, qe, csid FROM (
         |    SELECT qid, qe, csid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(${cosSql("qe", "cemb")}, 6) DESC, csid ASC) AS arn
         |    FROM q, cent
         |  ) WHERE arn = 1
         |),
         |sc AS (
         |  SELECT qid, a.csid AS probe_list, l.vec_id, round(${cosSql("qe", "l.emb")}, 6) AS cos_sim
         |  FROM assigned a JOIN lists l ON l.lid = a.csid AND l.vec_id != a.qid
         |)
         |SELECT qid, probe_list, vec_id, cos_sim, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM sc
         |) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Mirrors the SQ8 path stage-for-stage — per-dim min/max codebook,
    // the −128-shifted signed-tinyint code round-trip (both engines
    // truncate the already-integral double exactly), the decode tree, the
    // rounded quantized-cosine candidate cut at 32, then the v1-style
    // exact rescore. Every CTE that is referenced twice is MATERIALIZED.
    "v11_sq8_rescore" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |ex AS (SELECT vec_id, unnest(emb) AS e, unnest(range(1, 65)) AS i FROM v),
         |st AS (SELECT i, min(e) AS mn, max(e) AS mx FROM ex GROUP BY i),
         |arrs AS MATERIALIZED (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM st),
         |coded AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(1, 65), i ->
         |      CASE WHEN mx[i] > mn[i]
         |           THEN CAST(least(floor((emb[i] - mn[i]) / (mx[i] - mn[i]) * 255.0 + 0.5), 255.0) - 128.0 AS TINYINT)
         |           ELSE CAST(-128 AS TINYINT) END) AS code
         |  FROM v, arrs),
         |dec AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(1, 65), i ->
         |      mn[i] + (CAST(code[i] AS DOUBLE) + 128.0) * (mx[i] - mn[i]) / 255.0) AS dq
         |  FROM coded, arrs),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |adc AS (
         |  SELECT qid, vec_id,
         |    round(list_dot_product(dq, qe)/(sqrt(list_dot_product(dq, dq))*sqrt(list_dot_product(qe, qe))), 6) AS q_sim
         |  FROM q, dec WHERE vec_id != qid),
         |cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY q_sim DESC, vec_id ASC) AS crn
         |    FROM adc) WHERE crn <= 32),
         |sc AS (
         |  SELECT c.qid, c.vec_id, round(${cosSql("qe", "v.emb")}, 6) AS cos_sim
         |  FROM cand c JOIN v ON v.vec_id = c.vec_id JOIN q ON q.qid = c.qid)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT qid, vec_id, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM sc) WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin,

    // Full from-scratch recompute of what the engine produces by append:
    // the IVF chain (seeds → Lloyd's rounds → lists) is trained ONLY on
    // the base subset (vec_id % 7 <> 0), the held-out batch is assigned to
    // the final centers with the same argmax tiebreak, and the search runs
    // over the union. Probes come from the FULL corpus (`embeddings`, not
    // the training view `v`), matching the engine.
    "v12_ivf_append" -> v12AppendOracle,

    // Stream-must-equal-batch: the streaming append's final standing file
    // is batch-boundary invariant (per-row assignment), so st15's oracle
    // is v12's from-scratch recompute VERBATIM.
    "st15_stream_ivf_append" -> v12AppendOracle,

    // Mirrors the PQ chain stage-for-stage: 4×16-dim subspace slices,
    // min-owner-seeded 16-entry codebooks, ONE Lloyd's refinement round
    // (assign → DECIMAL(28,10) means, the ivfMeansSql arithmetic keyed by
    // (m, cid)), the algebraic-L2 rounded assignment with cid tiebreak
    // (codes engine-identical, not just scores), codeword-concatenation
    // reconstruction in subspace order, then v11's ADC cut at 32 and
    // exact rescore top-10. CTEs referenced more than once are
    // MATERIALIZED.
    "v13_pq_rescore" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |subs AS MATERIALIZED (
         |  SELECT vec_id, m, emb[m*16+1 : m*16+16] AS sub
         |  FROM v CROSS JOIN (VALUES (0),(1),(2),(3)) AS ms(m)),
         |sv AS (SELECT m, sub, MIN(vec_id) AS sv FROM subs GROUP BY m, sub),
         |cb0 AS MATERIALIZED (
         |  SELECT m, cid, sub AS csub, list_dot_product(sub, sub) AS cn FROM (
         |    SELECT m, sub, sv,
         |      ROW_NUMBER() OVER (PARTITION BY m ORDER BY sv) - 1 AS cid
         |    FROM sv
         |  ) WHERE cid < 16),
         |asg0 AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY round(list_dot_product(s.sub, s.sub)
         |          - 2.0 * list_dot_product(s.sub, c.csub) + c.cn, 6) ASC,
         |          c.cid ASC) AS arn
         |    FROM subs s JOIN cb0 c USING (m)
         |  ) WHERE arn = 1),
         |md AS (
         |  SELECT m, cid, dim,
         |    CAST(SUM(CAST(vv AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS cv
         |  FROM (SELECT a.m, a.cid, generate_subscripts(s.sub, 1) AS dim, unnest(s.sub) AS vv
         |        FROM asg0 a JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m)
         |  GROUP BY m, cid, dim),
         |cb AS MATERIALIZED (
         |  SELECT m, cid, list(cv ORDER BY dim) AS csub,
         |    list_dot_product(list(cv ORDER BY dim), list(cv ORDER BY dim)) AS cn
         |  FROM md GROUP BY m, cid),
         |asg AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY round(list_dot_product(s.sub, s.sub)
         |          - 2.0 * list_dot_product(s.sub, c.csub) + c.cn, 6) ASC,
         |          c.cid ASC) AS arn
         |    FROM subs s JOIN cb c USING (m)
         |  ) WHERE arn = 1),
         |dec AS MATERIALIZED (
         |  SELECT vec_id, flatten(list(csub ORDER BY m)) AS dq
         |  FROM asg JOIN cb USING (m, cid) GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, emb AS qe FROM v WHERE vec_id % 100 = 0),
         |adc AS (
         |  SELECT qid, vec_id,
         |    round(list_dot_product(dq, qe)/(sqrt(list_dot_product(dq, dq))*sqrt(list_dot_product(qe, qe))), 6) AS q_sim
         |  FROM q, dec WHERE vec_id != qid),
         |cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY q_sim DESC, vec_id ASC) AS crn
         |    FROM adc) WHERE crn <= 64),
         |sc AS (
         |  SELECT c.qid, c.vec_id, round(${cosSql("qe", "v.emb")}, 6) AS cos_sim
         |  FROM cand c JOIN v ON v.vec_id = c.vec_id JOIN q ON q.qid = c.qid)
         |SELECT qid, vec_id, cos_sim, rn FROM (
         |  SELECT qid, vec_id, cos_sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |  FROM sc) WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin
  )
}
