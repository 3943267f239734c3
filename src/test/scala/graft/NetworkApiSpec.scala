package graft

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.api.NetworkApi

/** E2 network payload: golden-file check (SURVEY.md §6.3 — graph/API
  * shaped results with no DuckDB equivalent are golden-tested with
  * deterministic seeds) plus in-session determinism.
  */
class NetworkApiSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val golden = "src/test/resources/golden/network_payload_sf0001.json"
  private val dir = "/root/testdata/sf0.001"

  test("neighborhood payload matches the golden fixture byte-for-byte") {
    val got = NetworkApi.neighborhoodPayload(spark, "/root/testdata/sf0.001")
      .collect()(0).getString(0)
    val expected = Files.readString(Paths.get(golden))
    assert(got === expected)
  }

  test("payload is deterministic across evaluations") {
    // The served payload is a maintained artifact, so comparing two reads
    // of it would compare the table with itself: evaluate the derivation.
    def derived = NetworkApi.derivePayload(spark, dir, 10).collect()(0).getString(0)
    val (a, b) = (derived, derived)
    assert(a === b)
    assert(NetworkApi.neighborhoodPayload(spark, dir).collect()(0).getString(0) === a)
  }

  test("/api/network reads one row of the maintained payload: one file scan, no top-1, no order-stats scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = graft.api.TropologyApi.networkForNode(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(plan) { case f: FileSourceScanExec => f }
    assert(scans.size === 1, plan)
    assert(scans.head.tableIdentifier.exists(_.table.startsWith("graft_serve_network_")), plan)
    assert(helper.collect(plan) { case t: TakeOrderedAndProjectExec => t }.isEmpty, plan)
    assert(!plan.toString.contains("serve_order_stats"), plan)
  }

  test("payload parses as JSON with k neighbor nodes and matching edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = NetworkApi.neighborhoodPayload(spark, "/root/testdata/sf0.001")
      .select(
        json_tuple(col("payload"), "node", "nodes", "edges")
          .as(Seq("node", "nodes", "edges")))
      .select(
        get_json_object(col("node"), "$.id").as("hub"),
        size(from_json(col("nodes"),
          org.apache.spark.sql.types.DataType.fromDDL("array<struct<id:string>>"))).as("n_nodes"),
        size(from_json(col("edges"),
          org.apache.spark.sql.types.DataType.fromDDL("array<struct<source:string,target:string>>"))).as("n_edges"))
    val (hub, nNodes, nEdges) = df.as[(String, Int, Int)].head()
    assert(hub.startsWith("o") && nNodes === 10 && nEdges === 10)
  }

  test("serving boundary: real HTTP round-trip returns the golden network payload byte-for-byte") {
    val server = graft.api.ApiServer.start(spark, "/root/testdata/sf0.001")
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): java.net.http.HttpResponse[String] =
        client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())

      // GET /api/network/:code — the handler.clj route shape — must return
      // the exact bytes NetworkApiSpec's golden fixture pins.
      val net = get("/api/network/o1")
      assert(net.statusCode() === 200)
      assert(net.headers().firstValue("Content-Type").orElse("") === "application/json")
      assert(net.body() === Files.readString(Paths.get(golden)))

      // A row endpoint serves a JSON array with the queried key inside.
      val node = get("/api/node/1")
      assert(node.statusCode() === 200)
      assert(node.body().startsWith("[") &&
        node.body().contains("\"o_orderkey\":1"))

      // Unknown routes and non-numeric keys are 404, not a server error.
      assert(get("/api/nope").statusCode() === 404)
      assert(get("/api/node/abc").statusCode() === 404)

      // Only GET is served.
      val post = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/api/node/1"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() === 405)
      assert(post.headers().firstValue("Allow").orElse("") === "GET")
    } finally server.stop(0)
  }

  test("serving boundary: a reply's body follows its headers without a Nagle stall") {
    import java.nio.charset.StandardCharsets.US_ASCII
    val server = graft.api.ApiServer.start(spark, dir)
    val socket = new java.net.Socket("127.0.0.1", server.getAddress.getPort)
    try {
      socket.setSoTimeout(30000)
      val (in, out) = (socket.getInputStream, socket.getOutputStream)
      val request = "GET /api/node/1 HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(US_ASCII)
      // One GET on the keep-alive connection: the time from the end of the
      // header block to the last body byte. With Nagle on, the body
      // segment waits for this client's delayed ACK of the headers.
      def gapMs(): Double = {
        out.write(request)
        out.flush()
        val head = new java.lang.StringBuilder
        while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n") {
          val c = in.read()
          assert(c >= 0, s"connection closed after: $head")
          head.append(c.toChar)
        }
        val headEnd = System.nanoTime()
        val length = "(?i)content-length: *(\\d+)".r.findFirstMatchIn(head).get.group(1).toInt
        assert(head.toString.startsWith("HTTP/1.1 200") && length > 0, head)
        assert(in.readNBytes(length).length === length)
        (System.nanoTime() - headEnd) / 1e6
      }
      Seq.fill(5)(gapMs())
      val gaps = Seq.fill(20)(gapMs())
      assert(gaps.min < 20.0, gaps)
    } finally {
      socket.close()
      server.stop(0)
    }
  }

  test("ApiServer.rows renders the same bytes as df.toJSON") {
    import org.apache.spark.sql.functions.col
    import graft.api.{ApiServer, TropologyApi}
    val spark0 = spark
    import spark0.implicits._
    val e = TropologyApi.orderLinks(spark, dir)
    val (a, b) = e.as("x").join(e.as("y"), col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).orderBy(col("x.o"), col("y.o")).as[(Long, Long)].head()
    // A null field, a date, a decimal and a string that JSON escapes.
    val typed = spark.sql("""SELECT * FROM VALUES
      (1L, CAST(NULL AS STRING), DATE'1995-03-15', CAST(12.30 AS DECIMAL(12,2))),
      (2L, 'say "hi"\\n', DATE'2000-02-29', CAST(-0.05 AS DECIMAL(12,2)))
      AS t(id, s, d, m)""")
    val frames = Seq(
      TropologyApi.nodeInfo(spark, dir, a), TropologyApi.nodeInfo(spark, dir, -1L),
      TropologyApi.linksForArticle(spark, dir, a), TropologyApi.linksForArticle(spark, dir, -1L),
      TropologyApi.commonLinksBetween(spark, dir, a, b),
      TropologyApi.commonLinksBetween(spark, dir, a, -1L), typed)
    for (df <- frames)
      assert(ApiServer.rows(df) === df.toJSON.collect().mkString("[", ",", "]"))
    assert(ApiServer.rows(TropologyApi.linksForArticle(spark, dir, -1L)) === "[]")
    assert(ApiServer.rows(typed).contains("\"d\":\"1995-03-15\",\"m\":12.30}"))
  }

  test("serving boundary: a lookup that throws answers 500, not a dropped connection") {
    // No tables under an empty dir: every lookup fails inside the handler.
    val empty = Files.createTempDirectory("graft_empty_sf")
    val server = graft.api.ApiServer.start(spark, empty.toString)
    try {
      val get = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}/api/node/1")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() === 500)
    } finally {
      server.stop(0)
      Files.delete(empty)
    }
  }

  test("serving boundary: 4 concurrent clients over all four routes get the in-process results") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    import graft.api.{ApiServer, TropologyApi}
    val spark0 = spark
    import spark0.implicits._
    val e = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val orders = e.select("o").distinct().orderBy("o").as[Long].take(6).toSeq
    val pairs = e.as("x").join(e.as("y"), col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).orderBy(col("x.o"), col("y.o")).as[(Long, Long)]
      .take(3).toSeq
    // Every body as ApiServer renders the in-process TropologyApi result,
    // including a key with no order (empty array).
    val expected: Map[String, String] = (
      (orders :+ -1L).flatMap(k => Seq(
        s"/api/node/$k" -> ApiServer.rows(TropologyApi.nodeInfo(spark, dir, k)),
        s"/api/links/$k" -> ApiServer.rows(TropologyApi.linksForArticle(spark, dir, k)))) ++
      pairs.map { case (a, b) =>
        s"/api/common/$a/$b" -> ApiServer.rows(TropologyApi.commonLinksBetween(spark, dir, a, b)) } :+
      ("/api/network" -> TropologyApi.networkForNode(spark, dir).collect()(0).getString(0))
    ).toMap
    assert(expected.keys.map(_.split("/")(2)).toSet === Set("node", "links", "common", "network"))

    val server = ApiServer.start(spark, dir)
    val port = server.getAddress.getPort
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(s"graft-api-$port-"))
    val clients = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val paths = expected.keys.toSeq.sorted
      val replies = (0 until 4).map { c =>
        clients.submit(() => {
          val client = java.net.http.HttpClient.newHttpClient()
          // Each client walks the whole pool from its own offset, so the
          // four keep different routes in flight at once.
          (paths.drop(c * paths.size / 4) ++ paths.take(c * paths.size / 4)).map { path =>
            val r = client.send(java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
              java.net.http.HttpResponse.BodyHandlers.ofString())
            (path, r.statusCode(), r.body())
          }
        })
      }.flatMap(_.get())
      assert(replies.size === 4 * paths.size)
      replies.foreach { case (path, status, body) =>
        assert(status === 200, path)
        assert(body === expected(path), path)
      }
      assert(poolThreads.size > 1, "requests must run on the server's pool")
    } finally {
      clients.shutdownNow()
      server.stop(0)
    }
    // A terminated pool's workers finish exiting just after stop returns.
    eventually(timeout(Span(5, Seconds))) {
      assert(poolThreads.isEmpty, "no pool thread may outlive stop")
    }
  }

  test("TropologyApi facade: links-for-article, common-links, node-info agree with first principles") {
    import org.apache.spark.sql.functions._
    import graft.api.TropologyApi
    val spark0 = spark
    import spark0.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()

    // Pick two orders that provably share at least one part.
    val (a, b) = e.as("x").join(e.as("y"),
        col("x.p") === col("y.p") && col("x.o") < col("y.o"))
      .select(col("x.o"), col("y.o")).as[(Long, Long)].head()

    val linksA = TropologyApi.linksForArticle(spark, dir, a)
    val expectParts = e.filter(col("o") === a).select("p").as[Long].collect().toSet
    assert(linksA.select("p_partkey").as[Long].collect().toSet === expectParts)
    // Ranked by global in-degree, descending.
    val degs = linksA.select("in_degree").as[Long].collect().toSeq
    assert(degs === degs.sortBy(-_))

    val common = TropologyApi.commonLinksBetween(spark, dir, a, b)
      .select("p_partkey").as[Long].collect().toSet
    val expectCommon = e.filter(col("o") === a).select("p").as[Long].collect().toSet
      .intersect(e.filter(col("o") === b).select("p").as[Long].collect().toSet)
    assert(common === expectCommon && common.nonEmpty)
    // An order shares every one of its parts with itself.
    assert(TropologyApi.commonLinksBetween(spark, dir, a, a).collect().toSeq ===
      linksA.select("p_partkey", "p_name").orderBy("p_partkey").collect().toSeq)
    // A key with no edges links to nothing and shares nothing.
    val none = -1L
    assert(e.filter(col("o") === none).isEmpty)
    for (df <- Seq(TropologyApi.linksForArticle(spark, dir, none),
        TropologyApi.commonLinksBetween(spark, dir, a, none),
        TropologyApi.commonLinksBetween(spark, dir, none, none)))
      assert(graft.api.ApiServer.rows(df) === "[]")

    val info = TropologyApi.nodeInfo(spark, dir, a)
    val row = info.select("o_orderkey", "outgoing").as[(Long, Long)].head()
    assert(row === ((a, expectParts.size.toLong)))

    // The payload derivation, which reads the hub's parts the same way,
    // still gives the golden bytes.
    assert(NetworkApi.derivePayload(spark, dir, 10).collect()(0).getString(0) ===
      Files.readString(Paths.get(golden)))
  }
}
