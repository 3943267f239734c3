package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, FormattedMode,
  MapPartitionsExec, SerializeFromObjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 persisted-artifact story: the hot graph/dedup queries
  * read MAINTAINED physical layouts (ArtifactStore bucketed tables /
  * snapshot parquet), and those layouts actually deliver the plan shapes
  * they exist for — no Exchange before the key aggregations, file scans
  * instead of per-session rederivation.
  */
class PersistedLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  /** Count Exchange NODES in a formatted plan (tree lines only — each node
    * also appears once as a "(n) Exchange" detail header).
    */
  private def exchanges(p: String): Int =
    "[+:]- Exchange".r.findAllIn(p).size

  test("g3_degrees reads the maintained p-bucketed link table with ZERO Exchange") {
    val p = plan("g3_degrees")
    assert(p.contains("Bucketed: true"), p.take(2000))
    assert(p.contains("graft_links_"), "must scan the maintained catalog table")
    assert(exchanges(p) == 0, p.take(3000))
  }

  test("g4 pipeline: bucketed scan, dedup and adjacency groupBy Exchange-free; only the pair agg shuffles") {
    val p = plan("g4_common_neighbors")
    assert(p.contains("Bucketed: true"), p.take(2000))
    assert(exchanges(p) == 1, p.take(3000))
  }

  test("symmetrized edge table: per-src degree agg and src-equi self-join are Exchange-free") {
    val e = graft.queries.Graph.symEdgesTable(spark, dir)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    assert(exchanges(deg.queryExecution.explainString(FormattedMode)) == 0)
    // The pageRank edge preparation: edges ⋈ out-degrees on src — both
    // sides derive from the same bucketed scan, so neither exchanges.
    val wasBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = e.join(deg.withColumnRenamed("src", "__did"),
        e("src") === col("__did"))
      assert(exchanges(joined.queryExecution.explainString(FormattedMode)) == 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", wasBroadcast)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
  private def buckets(f: FileSourceScanExec): Option[Int] = f.optionalBucketSet.map(_.cardinality())

  test("node-info and links-for-article read one bucket per key: no edge aggregation, checkpoint or Exchange") {
    import graft.api.TropologyApi
    val row = TropologyApi.orderStats(spark, dir).filter(col("outgoing") >= 2)
      .orderBy("o_orderkey").select("o_orderkey", "outgoing").head()
    val (key, parts) = (row.getLong(0), row.getLong(1).toInt)

    val info = TropologyApi.nodeInfo(spark, dir, key)
    val links = TropologyApi.linksForArticle(spark, dir, key)
    for (df <- Seq(info, links)) {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("HashAggregate") && !p.contains("ExistingRDD") &&
        exchanges(p) == 0, p.take(3000))
    }
    val Seq(infoScan) = scans(info)
    assert(infoScan.tableIdentifier.exists(_.table.startsWith("graft_serve_order_stats_")))
    assert(buckets(infoScan) === Some(1))
    // links-for-article reads the order's parts, names and in-degrees from
    // its one bucket of the o-bucketed edge table, and nothing else.
    val Seq(linkScan) = scans(links)
    assert(linkScan.tableIdentifier.exists(_.table.startsWith("graft_serve_order_links_")))
    assert(buckets(linkScan) === Some(1))
    assert(links.count() === parts)
  }

  test("every serving route runs one SQL action; links and common scan only the order-bucketed link table") {
    import graft.api.{ApiServer, TropologyApi}
    val spark0 = spark
    import spark0.implicits._
    val e = TropologyApi.orderLinks(spark, dir)
    val (a, b) = e.as("x").join(e.as("y"),
        col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).orderBy(col("x.o"), col("y.o")).as[(Long, Long)].head()
    val routes: Seq[(String, () => String)] = Seq(
      "node" -> (() => ApiServer.rows(TropologyApi.nodeInfo(spark, dir, a))),
      "links" -> (() => ApiServer.rows(TropologyApi.linksForArticle(spark, dir, a))),
      "common" -> (() => ApiServer.rows(TropologyApi.commonLinksBetween(spark, dir, a, b))),
      "network" -> (() => TropologyApi.networkForNode(spark, dir).collect()(0).getString(0)))
    // The first request of a session builds the serving tables.
    routes.foreach { case (_, serve) => serve() }
    for ((route, serve) <- routes) {
      val (reply, actions) = SparkTestSession.withQueries(serve())
      assert(reply !== "[]", route)
      assert(actions.size === 1, s"$route ran ${actions.map(_._1)}")
      // Only common, which aggregates, runs under adaptive execution, and
      // no reply is rendered through JVM objects (`toJSON`).
      val p = actions.head._2.executedPlan
      assert(p.isInstanceOf[AdaptiveSparkPlanExec] === (route == "common"), s"$route: $p")
      assert(collect(p) {
        case n @ (_: DeserializeToObjectExec | _: MapPartitionsExec | _: SerializeFromObjectExec) => n
      }.isEmpty, s"$route: $p")
    }
    for ((df, most) <- Seq(TropologyApi.linksForArticle(spark, dir, a) -> 1,
        TropologyApi.commonLinksBetween(spark, dir, a, b) -> 2)) {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(exchanges(p) === 0, p.take(3000))
      val Seq(scan) = scans(df)
      assert(scan.tableIdentifier.exists(_.table.startsWith("graft_serve_order_links_")), p.take(3000))
      assert(buckets(scan).exists(n => n >= 1 && n <= most), scan.optionalBucketSet)
    }
  }

  test("links ranks by in-degree descending, then part key, where in-degrees tie") {
    import graft.api.TropologyApi
    val spark0 = spark
    import spark0.implicits._
    val edges = TropologyApi.orderLinks(spark, dir).filter(col("in_degree").isNotNull)
    // The first order with two parts of equal in-degree, and more than one
    // distinct in-degree, so both sort keys decide something.
    val key = edges.groupBy("o")
      .agg(count(lit(1)).as("n"), countDistinct("in_degree").as("degrees"))
      .filter(col("degrees") > 1 && col("degrees") < col("n"))
      .orderBy("o").select("o").as[Long].head()
    val got = TropologyApi.linksForArticle(spark, dir, key)
      .as[(Long, String, Long)].collect().toSeq
    val expected = edges.filter(col("o") === key).select("p", "p_name", "in_degree")
      .as[(Long, String, Long)].collect().toSeq.sortBy { case (p, _, d) => (-d, p) }
    assert(got === expected)
    assert(got.map(_._3).distinct.size < got.size, got)
  }

  test("the serve_order_links derivation scans the p-bucketed link table once") {
    val df = graft.api.TropologyApi.orderLinkRows(spark, dir)
    val links = scans(df).filter(_.tableIdentifier.exists(_.table.startsWith("graft_links_")))
    assert(links.size === 1, df.queryExecution.explainString(FormattedMode).take(3000))
  }

  test("serving routes compile once: a second never-served key adds no code compilation") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.api.{ApiServer, TropologyApi}
    val spark0 = spark
    import spark0.implicits._
    // Pairs of orders that share a part, from the top of the key range
    // (the other suites serve keys from the bottom), so every route below
    // has a non-empty answer for both pairs and so the same plan shape.
    val e = TropologyApi.orderLinks(spark, dir)
    val pairs = e.as("x").join(e.as("y"),
        col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).distinct()
      .orderBy(col("x.o").desc, col("y.o").desc).as[(Long, Long)].collect().toSeq
    val (a1, b1) = pairs.head
    val (a2, b2) = pairs.find { case (a, b) => a != a1 && a != b1 && b != a1 && b != b1 }.get
    def serve(a: Long, b: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq(TropologyApi.nodeInfo(spark, dir, a), TropologyApi.linksForArticle(spark, dir, a),
        TropologyApi.commonLinksBetween(spark, dir, a, b))
        .foreach(df => assert(ApiServer.rows(df) !== "[]", (a, b)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    serve(a1, b1)
    assert(serve(a2, b2) === 0L, s"keys $a2, $b2 compiled new code after $a1, $b1")
  }

  test("t15 reads the persisted standing-corpus artifacts as file scans") {
    val p = plan("t15_incremental_dedup")
    assert(p.contains("t15_corpus_fp"), "fingerprints must come from the snapshot")
    assert(p.contains("t15_corpus_bands"), "band keys must come from the snapshot")
    assert(p.contains("t15_corpus_shingles"), "shingles must come from the snapshot")
    // The corpus side must NOT be re-derived: exactly one scan of the raw
    // documents table (the incoming batch) may remain.
    assert("documents\\.parquet".r.findAllIn(p).size <= 2,
      "corpus side must read snapshots, not rescan documents: " + p.take(3000))
  }

  test("v5 reads the persisted lid-partitioned inverted file, not the Lloyd's derivation") {
    val p = plan("v5_ivf_topk")
    assert(p.contains("ivf_lists"), "lists must come from the published index")
    assert(p.contains("ivf_centers"), "centers must come from the published index")
    // The quantizer must NOT re-run inside the query: in the MAIN plan the
    // raw embeddings table appears only as the probe side. (The formatted
    // output may repeat the probe subtree under "Subqueries" — that's the
    // DPP subquery, asserted below, not a rederivation.)
    val main = p.split("===== Subqueries =====")(0)
    assert("embeddings\\.parquet".r.findAllIn(main).size <= 1,
      "corpus side must read the index, not rescan embeddings: " + main.take(3000))
    // The payoff of partitioning the inverted file by lid: Spark DYNAMIC
    // PARTITION PRUNING drives the index scan from the probe assignment —
    // only the probed lists' directories are read, which is exactly the
    // "probe reads nprobe/nlists of the corpus" contract at scale.
    assert(p.contains("dynamicpruning"),
      "lid-partitioned index scan must be dynamically pruned by the probe assignment")
  }

  test("mm2 reads the persisted media lake with the binary column PRUNED from the scan") {
    val p = plan("mm2_type_summary")
    assert(p.contains("media_lake"), "must scan the published media lake")
    // Column pruning must drop the fat payload column at the parquet scan:
    // no plan node (ReadSchema, Output, aggregate) may reference it.
    assert(!p.contains("content"), p.take(3000))
  }

  test("incoming-vs-capped-corpus banding equals full-union banding where the cap binds") {
    import spark.implicits._
    // One hot bucket; cap = 3. Corpus docs 5,7,9 and 11,13; batch 1,2,3,4.
    // In bucket A the batch evicts every corpus doc from the union cap; in
    // bucket B corpus docs survive. Ground truth caps the FULL union.
    val all = Seq(
      (1L, 0L, "A"), (2L, 0L, "A"), (3L, 0L, "A"), (4L, 0L, "A"),
      (5L, 0L, "A"), (7L, 0L, "A"), (9L, 0L, "A"),
      (2L, 1L, "B"), (11L, 1L, "B"), (13L, 1L, "B"), (15L, 1L, "B")
    ).toDF("doc_id", "band", "band_key")
    val incoming = col("doc_id") <= 4 || col("doc_id") === 2L
    def cap3(df: org.apache.spark.sql.DataFrame) =
      graft.plans.TopKPerKey(df, Seq("band", "band_key"), Seq("doc_id" -> true), 3)
    val truth = cap3(all).filter(incoming)
      .orderBy("band", "doc_id").collect().toSeq
    val corpusCapped = cap3(all).filter(!incoming)
    val viaHelper = graft.queries.TextDedup.capIncomingAgainst(
      all.filter(incoming), corpusCapped, 3, incoming)
      .orderBy("band", "doc_id").collect().toSeq
    assert(viaHelper == truth)
    // Sanity: the cap binds in bucket A (7 docs > cap).
    assert(cap3(all).filter(col("band") === 0L).count() == 3)
  }
}
