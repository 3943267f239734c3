package graft.api

import java.net.InetSocketAddress
import java.util.concurrent.{Executor, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpContext, HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.slf4j.LoggerFactory

/** The serving BOUNDARY for the reference's four HTTP entry points
  * (`src/tropology/handler.clj` Ring routes, public repo) on the JDK's
  * built-in HttpServer — zero new dependencies, in-JVM, so a reference
  * user's HTTP consumer can run against the Spark engine unchanged:
  *
  *   GET /api/network            → `network-for-node` Sigma.js payload (JSON object)
  *   GET /api/links/{orderKey}   → `links-for-article` rows (JSON array)
  *   GET /api/common/{a}/{b}     → `common-links-between` rows (JSON array)
  *   GET /api/node/{orderKey}    → `node-info` row (JSON array)
  *
  * Every route is one [[TropologyApi]] call that runs ONE Spark query, a
  * point lookup over one maintained serving table: node reads
  * `serve_order_stats`, links and common read the order's buckets of
  * `serve_order_links` (whose rows carry the part names and in-degrees),
  * and `/api/network` reads the one-row maintained payload. The keyed
  * routes filter with `graft_key_in`, so each route's plan compiles once
  * per JVM, not once per key. A server plans each route once ([[Routes]],
  * a [[PreparedRoute]] per route): per request it copies that plan, binds
  * the request's keys and runs it, so no request analyzes, optimizes or
  * physically plans the route's DataFrames again. The `collect()`
  * here is the definition of serving (an HTTP response IS a driver-side
  * materialization of a small, top-k-bounded payload). Requests run concurrently on a pool of
  * daemon threads sized to the session's `defaultParallelism`, so each
  * in-flight request can keep one core busy with its small jobs; the pool
  * is shut down by the returned server's `stop`. Unknown routes and
  * non-numeric keys answer 404, methods other than GET 405, and a failing
  * lookup 500 (logged). Caching and auth belong to the deployment.
  * NetworkApiSpec round-trips every route against the in-process results,
  * and ServedRouteSpec holds each prepared route to its [[TropologyApi]]
  * call.
  *
  * Replies go out with TCP_NODELAY. The JDK server flushes the response
  * headers as one segment before the body; with Nagle on, the small body
  * segment then waits for the client's delayed ACK of the headers, about
  * 40 ms on Linux, which dwarfs a point lookup. The JDK reads its switch,
  * `sun.net.httpserver.nodelay`, once per JVM (in `ServerConfig`'s static
  * initializer, at the first `HttpServer.create`), so this object sets it
  * before its first server unless the JVM was started with it. If a JDK
  * `HttpServer` was created earlier in the same JVM, the JDK has already
  * read it, and every server of that JVM, these included, keeps Nagle on.
  */
object ApiServer {

  private val log = LoggerFactory.getLogger(getClass)

  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  /** Start on 127.0.0.1:`port` (0 = ephemeral; read the bound port from
    * `getAddress.getPort`). Caller owns the lifecycle: `stop(0)` when done.
    */
  def start(s: SparkSession, dir: String, port: Int = 0): HttpServer = {
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val threadName = s"graft-api-${http.getAddress.getPort}-"
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(s.sparkContext.defaultParallelism, (r: Runnable) => {
      val t = new Thread(r, threadName + threads.incrementAndGet())
      t.setDaemon(true)
      t
    })
    http.setExecutor(pool)
    val routes = new Routes(s, dir)
    def route(path: List[String]): Option[String] = path match {
      // The payload builder picks its deterministic hub; a trailing code
      // segment is accepted (the reference route shape) and echoed back by
      // the payload's own `node.id` field.
      case "api" :: "network" :: _ => Some(routes.network())
      case List("api", "links", k) => Some(routes.links(k.toLong))
      case List("api", "common", a, b) => Some(routes.common(a.toLong, b.toLong))
      case List("api", "node", k) => Some(routes.node(k.toLong))
      case _ => None
    }
    http.createContext("/api", (ex: HttpExchange) => {
      val reply =
        if (ex.getRequestMethod != "GET") {
          ex.getResponseHeaders.add("Allow", "GET")
          Left(405)
        } else
          try route(ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList).toRight(404)
          catch {
            case _: NumberFormatException => Left(404)
            case NonFatal(e) =>
              log.error(s"${ex.getRequestMethod} ${ex.getRequestURI} failed", e)
              Left(500)
          }
      try reply match {
        case Right(json) =>
          val bytes = json.getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        case Left(status) =>
          ex.sendResponseHeaders(status, -1L)
      } finally ex.close()
    })
    http.start()
    new PooledServer(http, pool)
  }

  /** A JSON array of `df`'s rows: the body of every row-returning route.
    * Each row is rendered inside the plan by `to_json(struct(*))`, which
    * writes the same bytes as `df.toJSON` (the same generator and options)
    * without its round trip from rows to objects and back.
    */
  private[graft] def rows(df: DataFrame): String =
    array(objects(df).collect().map(_.getString(0)))

  private def objects(df: DataFrame): DataFrame = df.select(to_json(struct(col("*"))))
  private def array(objects: Array[String]): String = objects.mkString("[", ",", "]")

  /** The four routes of one server, each a [[PreparedRoute]]: its reply
    * plan is its [[TropologyApi]] call for fixed template keys, with
    * [[rows]]' projection (the network payload is one string already),
    * planned on the route's first request and kept for the server's life;
    * each request runs a copy with its own keys bound. It replies exactly
    * what [[rows]] gives for the same call with the request's keys. A
    * preparation that fails (no tables under `dir`, say) fails its request
    * and is tried again by the route's next one.
    */
  private[graft] final class Routes(s: SparkSession, dir: String) {
    // Any keys serve as template keys; common's two must differ, so that
    // its plan holds both a two-key set and the count filter for 2.
    private val (a0, b0) = (1L, 2L)
    private lazy val nodePlan =
      new PreparedRoute(objects(TropologyApi.nodeInfo(s, dir, a0)), Seq(a0))
    private lazy val linksPlan =
      new PreparedRoute(objects(TropologyApi.linksForArticle(s, dir, a0)), Seq(a0))
    private lazy val commonPlan =
      new PreparedRoute(objects(TropologyApi.commonLinksBetween(s, dir, a0, b0)), Seq(a0, b0),
        count = Some(TropologyApi.SharedBy))
    private lazy val networkPlan = new PreparedRoute(TropologyApi.networkForNode(s, dir), Nil)

    def node(k: Long): String = array(nodePlan.run(k))
    def links(k: Long): String = array(linksPlan.run(k))
    def common(a: Long, b: Long): String = array(commonPlan.run(a, b))
    def network(): String = networkPlan.run()(0)
  }

  /** `http` with its request pool: `stop` also stops the pool's threads,
    * interrupting any request still running, so none outlives the server.
    */
  private final class PooledServer(http: HttpServer, pool: ExecutorService)
      extends HttpServer {
    def bind(addr: InetSocketAddress, backlog: Int): Unit = http.bind(addr, backlog)
    def start(): Unit = http.start()
    def setExecutor(e: Executor): Unit = http.setExecutor(e)
    def getExecutor: Executor = http.getExecutor
    def stop(delay: Int): Unit = {
      http.stop(delay)
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS): Unit
    }
    def createContext(path: String, handler: HttpHandler): HttpContext =
      http.createContext(path, handler)
    def createContext(path: String): HttpContext = http.createContext(path)
    def removeContext(path: String): Unit = http.removeContext(path)
    def removeContext(context: HttpContext): Unit = http.removeContext(context)
    def getAddress: InetSocketAddress = http.getAddress
  }
}
