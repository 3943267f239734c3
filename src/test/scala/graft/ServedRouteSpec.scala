package graft

import java.util.{Collections, IdentityHashMap}
import java.util.concurrent.LinkedBlockingQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiServer, TropologyApi}
import graft.plans.PreparedPlan

/** The served path: [[ApiServer.Routes]], each route a plan prepared once
  * and run per request with its keys rebound. A served reply must be what
  * the route's own [[TropologyApi]] call gives for the request's keys, and
  * each request must stay one SQL action, and one job, over exactly its
  * keys' buckets.
  */
class ServedRouteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val routes = new ApiServer.Routes(spark, dir)

  /** Every (order key, bucket id) of `serve_order_links`, the bucket read
    * from the name of the file that stores the key's edges.
    */
  private lazy val buckets: Map[Long, Int] = {
    val spark0 = spark
    import spark0.implicits._
    TropologyApi.orderLinks(spark, dir).select(col("o"), input_file_name())
      .distinct().as[(Long, String)].collect()
      .map { case (o, f) => o -> BucketingUtils.getBucketId(f.split("/").last).get }.toMap
  }
  private lazy val numBuckets = graft.queries.Graph.linkBuckets(spark, dir)

  /** The bucket Spark's bucketing assigns to `k`: for keys with no rows. */
  private def bucketOf(k: Long): Int = BucketingUtils.getBucketIdFromValue(
    org.apache.spark.sql.catalyst.expressions.AttributeReference("o",
      org.apache.spark.sql.types.LongType)(), numBuckets, k)

  /** The lowest order key of every bucket. */
  private lazy val keyPerBucket: Seq[Long] =
    buckets.groupBy(_._2).values.map(_.keys.min).toSeq.sorted

  /** Order pairs that share a part, lowest first. */
  private lazy val sharing: Seq[(Long, Long)] = {
    val spark0 = spark
    import spark0.implicits._
    val e = TropologyApi.orderLinks(spark, dir)
    e.as("x").join(e.as("y"), col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).distinct().orderBy(col("x.o"), col("y.o"))
      .as[(Long, Long)].take(4).toSeq
  }

  /** A key with no order and no edges. */
  private lazy val absent: Long = {
    val spark0 = spark
    import spark0.implicits._
    val keys = Tables.orders(spark, dir).select("o_orderkey").as[Long].collect().toSet
    Iterator.from(1).map(_.toLong).find(k => !keys(k) && !buckets.contains(k)).get
  }

  private def network(): String = TropologyApi.networkForNode(spark, dir).collect()(0).getString(0)

  test("every served route replies what ApiServer.rows gives for its TropologyApi call") {
    assert(keyPerBucket.size === numBuckets, "the fixture must have a key in every bucket")
    for (k <- keyPerBucket ++ Seq(-1L, absent)) {
      assert(routes.node(k) === ApiServer.rows(TropologyApi.nodeInfo(spark, dir, k)), k)
      assert(routes.links(k) === ApiServer.rows(TropologyApi.linksForArticle(spark, dir, k)), k)
    }
    assert(routes.node(absent) === "[]" && routes.links(absent) === "[]")
    assert(routes.links(keyPerBucket.head) !== "[]")
    // a == b and a != b interleaved on one server: the count filter is
    // rebound per request in both directions.
    val commons = sharing.flatMap { case (a, b) => Seq((a, b), (a, a), (b, a), (b, b)) } ++
      Seq((sharing.head._1, absent), (absent, absent), (-1L, sharing.head._2))
    for ((a, b) <- commons)
      assert(routes.common(a, b) ===
        ApiServer.rows(TropologyApi.commonLinksBetween(spark, dir, a, b)), (a, b))
    assert(commons.count { case (a, b) => routes.common(a, b) !== "[]" } >= 4 * sharing.size)
    assert(routes.network() === network())
  }

  test("each served request is one SQL action over the prepared leaf that scans only its keys' buckets") {
    val Seq(a, b) = keyPerBucket.take(2)
    val requests: Seq[(String, () => String, Option[Set[Int]])] = Seq(
      ("node", () => routes.node(a), Some(Set(buckets(a)))),
      ("links", () => routes.links(b), Some(Set(buckets(b)))),
      ("common", () => routes.common(a, b), Some(Set(buckets(a), buckets(b)))),
      ("common", () => routes.common(b, b), Some(Set(buckets(b)))),
      ("links", () => routes.links(absent), Some(Set(bucketOf(absent)))),
      ("network", () => routes.network(), None))
    requests.foreach(_._2())
    for ((route, serve, keyBuckets) <- requests) {
      val (_, actions) = SparkTestSession.withQueries(serve())
      assert(actions.size === 1, s"$route ran ${actions.map(_._1)}")
      val qe = actions.head._2
      assert(qe.logical.isInstanceOf[PreparedPlan], s"$route: ${qe.logical}")
      assert(qe.optimizedPlan.isInstanceOf[PreparedPlan], s"$route: ${qe.optimizedPlan}")
      // Only common, which aggregates, runs under adaptive execution.
      assert(qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec] === (route == "common"), route)
      val Seq(scan) = collect(qe.executedPlan) { case f: FileSourceScanExec => f }
      assert(scan.optionalBucketSet.map(_.iterator.toSet) === keyBuckets, s"$route: $scan")
    }
  }

  /** Runs `body` with its jobs tagged by a fresh job group; returns its
    * result, the SQL actions it ran and the start events of its jobs.
    * The capture returns after the event of its own last action, which the
    * shared listener queue delivers after those of the body's jobs.
    */
  private def withJobs[T](body: => T): (T, Seq[String], Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = s"served-${java.util.UUID.randomUUID()}"
    val jobs = new LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        if (job.properties.getProperty("spark.jobGroup.id") == group) jobs.put(job)
    }
    sc.addSparkListener(listener)
    try {
      val (out, actions) = SparkTestSession.withQueries {
        sc.setJobGroup(group, "served request")
        try body finally sc.clearJobGroup()
      }
      (out, actions.map(_._1), jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The name of `job`'s result stage: its call site. */
  private def callSite(job: SparkListenerJobStart): String = job.stageInfos.maxBy(_.stageId).name

  test("each served request is one job, submitted by PreparedRoute's runJob in its one collect action") {
    val (a, b) = sharing.head
    val requests = Seq("node" -> (() => routes.node(a)), "links" -> (() => routes.links(a)),
      "common" -> (() => routes.common(a, b)), "network" -> (() => routes.network()))
    requests.foreach(_._2())
    for ((route, serve) <- requests) {
      val (_, actions, jobs) = withJobs(serve())
      assert(actions === Seq("collect"), route)
      assert(jobs.size === 1, s"$route ran ${jobs.map(callSite)}")
      assert(jobs.head.properties.getProperty("spark.sql.execution.id") != null, route)
      // Not `executeCollect at …`, whose RDD.collect cleans closures
      // declared in RDD and SparkContext for every job.
      assert(callSite(jobs.head).startsWith("runJob at PreparedRoute.scala:"), route)
    }
  }

  test("a prepared reply of several partitions comes back in partition order") {
    val spark0 = spark
    import spark0.implicits._
    // The first partition finishes last.
    val template = spark.range(0, 64, 1, 4).map { i =>
      if (i == 0) Thread.sleep(300)
      i.toString
    }.toDF()
    val route = new graft.api.PreparedRoute(template, Nil)
    val (reply, _, jobs) = withJobs(route.run())
    assert(jobs.map(_.stageInfos.maxBy(_.stageId).numTasks) === Seq(4))
    assert(reply.toSeq === (0 until 64).map(_.toString))
  }

  /** Every node of `p`, into the adaptive plan and its query stages, by identity. */
  private def nodes(p: SparkPlan): java.util.Set[SparkPlan] = {
    val all = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean])
    foreach(p) { n => all.add(n); () }
    all
  }
  private def shared(p: SparkPlan, q: SparkPlan): java.util.Set[SparkPlan] = {
    val common = nodes(p)
    common.retainAll(nodes(q))
    common
  }

  test("two served requests' executed plans share no node instance") {
    val (a, b) = sharing.head
    def executed(serve: => String): SparkPlan = {
      val (_, Seq((_, qe))) = SparkTestSession.withQueries(serve)
      qe.executedPlan
    }
    for (serve <- Seq(() => routes.node(a), () => routes.links(a), () => routes.common(a, b),
        () => routes.network())) {
      serve()
      val (first, second) = (executed(serve()), executed(serve()))
      assert(nodes(first).size > 1)
      assert(shared(first, second).isEmpty, first)
    }
    // The copy is fresh before any preparation, too, where a route has
    // nothing to rebind.
    val network = new graft.api.PreparedRoute(TropologyApi.networkForNode(spark, dir), Nil)
    val (x, y) = (network.bind(Nil), network.bind(Nil))
    assert(shared(x, y).isEmpty, x)
  }

  test("serving routes compile once through the served path: a second never-served key adds no code compilation") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // Pairs of orders that share a part, from the top of the key range
    // (the other tests serve keys from the bottom).
    val spark0 = spark
    import spark0.implicits._
    val e = TropologyApi.orderLinks(spark, dir)
    val pairs = e.as("x").join(e.as("y"),
        col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).distinct()
      .orderBy(col("x.o").desc, col("y.o").desc).as[(Long, Long)].collect().toSeq
    val (a1, b1) = pairs.head
    val (a2, b2) = pairs.find { case (a, b) => a != a1 && a != b1 && b != a1 && b != b1 }.get
    def serve(a: Long, b: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq(routes.node(a), routes.links(a), routes.common(a, b))
        .foreach(reply => assert(reply !== "[]", (a, b)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    serve(a1, b1)
    assert(serve(a2, b2) === 0L, s"keys $a2, $b2 compiled new code after $a1, $b1")
  }
}
