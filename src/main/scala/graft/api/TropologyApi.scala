package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Graph
import graft.sources.ArtifactStore

/** The reference's full serving surface (`src/tropology/api.clj`, public
  * repo; SURVEY.md §4): a user of the reference called four entry points —
  * network-for-node, links-for-article, common-links-between, node-info.
  * [[NetworkApi.neighborhoodPayload]] carries the first; this facade adds
  * the remaining three over the same order↔part link graph, so the whole
  * reference API maps 1:1 onto library calls.
  *
  * Every route is ONE POINT-LOOKUP QUERY over two MAINTAINED serving
  * tables, built once per session through [[ArtifactStore.bucketedTable]]
  * with the edge tables' bucket count ([[Graph.linkBuckets]]), plus the
  * payload they derive:
  *
  *   - [[orderLinks]]: distinct `(o, p)` edges carrying the part's name and
  *     in-degree (`p_name`, `in_degree`), bucketed by `o`;
  *   - [[orderStats]]: the served order attributes plus `outgoing`,
  *     bucketed by `o_orderkey`;
  *   - the one-row network payload ([[NetworkApi.neighborhoodPayload]]),
  *     derived from the two above.
  *
  * Lookups filter on the bucket key with [[keyIn]] (`graft_key_in`), so
  * Spark prunes each scan to the buckets holding those keys, and the
  * `sortBy` within a bucket lets parquet row-group statistics skip the
  * rest: a request costs in proportion to its answer, not to the edge
  * table. An order's edge rows already hold what the routes serve about
  * its parts, so no route looks up a second table, and [[linkedParts]]
  * reads them into one partition, where sorting and grouping need no
  * Exchange; links sorts within that partition, so only common, which
  * aggregates, runs under adaptive execution. No route dedups or
  * checkpoints the edges per request.
  * Because `graft_key_in` holds its keys by reference, a route's
  * generated code is the same for every key: it is compiled once per
  * JVM, not once per key. [[ApiServer]] renders a route's rows as JSON
  * inside the same plan and sends the reply with TCP_NODELAY, so a reply
  * adds no object round trip and no Nagle wait to the lookup.
  *
  * These functions are each route's one definition. [[ApiServer]] plans a
  * route once from its function for template keys and rebinds only what
  * depends on the keys per request ([[PreparedRoute]]): the
  * `graft_key_in` sets, the scan's bucket set, and common's count of
  * distinct keys ([[SharedBy]]). A key-dependent part that a new route
  * or a change here adds must be one of those, or the served plan would
  * keep the template's; ServedRouteSpec compares every served route with
  * its function.
  */
object TropologyApi {

  /** Serving table: [[orderLinkRows]], bucketed by `o`. */
  private[graft] def orderLinks(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.bucketedTable(s, dir, "serve_order_links", Graph.linkBuckets(s, dir), "o") {
      orderLinkRows(s, dir)
    }

  /** The distinct order→part edges, each with its part's name and
    * in-degree over the distinct edges: the derivation [[orderLinks]] is
    * built from. Both are null for a part with no `part` row; its edge
    * still counts in `outgoing`. One scan and one dedup of the p-bucketed
    * link table: the in-degree is a count over a window partitioned by
    * `p`, which the bucketed edges already are.
    */
  private[graft] def orderLinkRows(s: SparkSession, dir: String): DataFrame =
    Graph.edges(s, dir)
      .withColumn("in_degree", count(lit(1)).over(Window.partitionBy(col("p"))))
      .join(Tables.part(s, dir), col("p") === col("p_partkey"), "left")
      .select(col("o"), col("p"), col("p_name"),
        when(col("p_partkey").isNotNull, col("in_degree")).as("in_degree"))

  /** Serving table: the order attributes node-info serves plus the
    * order's out-degree (`outgoing`, 0 for an order with no edges),
    * bucketed by `o_orderkey`.
    */
  private[graft] def orderStats(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.bucketedTable(s, dir, "serve_order_stats", Graph.linkBuckets(s, dir), "o_orderkey") {
      val outdeg = orderLinks(s, dir).groupBy(col("o")).agg(count(lit(1)).as("outgoing"))
      Tables.orders(s, dir).join(outdeg, col("o_orderkey") === col("o"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          coalesce(col("outgoing"), lit(0L)).as("outgoing"))
    }

  /** `c IN keys` through `graft_key_in`: the keys are not inlined into the
    * generated code, so one compiled plan serves every key. `keys` must not
    * be empty.
    */
  private[graft] def keyIn(c: Column, keys: Seq[Long]): Column =
    call_function("graft_key_in", c +: keys.map(lit): _*)

  /** The `(o, p, p_name, in_degree)` rows of the parts `orders` link to
    * that have a `part` row: one [[orderLinks]] bucket per order, read
    * into exactly one partition, so sorts, top-k and aggregates over the
    * result need no Exchange, and a sort within partitions is a total
    * order. No `orders` reads no rows.
    */
  private[graft] def linkedParts(s: SparkSession, dir: String, orders: Long*): DataFrame =
    orderLinks(s, dir)
      .filter((if (orders.isEmpty) lit(false) else keyIn(col("o"), orders)) &&
        col("in_degree").isNotNull)
      .coalesce(1)

  /** `network-for-node`: the Sigma.js neighborhood payload (E2). */
  def networkForNode(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    NetworkApi.neighborhoodPayload(s, dir, k)

  /** `links-for-article`: everything the given order references, resolved
    * to part attributes and ranked by global in-degree — the reference's
    * "tropes used by this work" listing.
    *
    * [[linkedParts]] reads the rows into one partition, so sorting within
    * it is the global order. A global `orderBy` would give the same rows
    * but require an ordered distribution, and any required distribution
    * puts the query under adaptive execution: a re-optimization, a thread
    * hand-off and a plan-update event per request, with no Exchange to
    * adapt. A sort within partitions requires none.
    */
  def linksForArticle(s: SparkSession, dir: String, orderKey: Long): DataFrame =
    linkedParts(s, dir, orderKey)
      .select(col("p").as("p_partkey"), col("p_name"), col("in_degree"))
      .sortWithinPartitions(col("in_degree").desc, col("p_partkey").asc)

  /** The column of [[commonLinksBetween]] that counts a part's linking
    * orders; a part is common when it equals the number of distinct keys.
    */
  private[graft] val SharedBy = "orders"

  /** `common-links-between`: the references two orders share — the
    * reference's "tropes common to two works" intersection of the two
    * orders' part sets: the parts linked from every distinct key (all of
    * `a`'s parts when `a == b`).
    */
  def commonLinksBetween(s: SparkSession, dir: String,
      a: Long, b: Long): DataFrame = {
    val orders = Seq(a, b).distinct
    linkedParts(s, dir, orders: _*)
      .groupBy(col("p"), col("p_name"))
      .agg(count(lit(1)).as(SharedBy))
      .filter(col(SharedBy) === orders.size)
      .select(col("p").as("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey").asc)
  }

  /** `node-info`: one row of node attributes plus the maintained
    * out-degree (the reference's pages-row lookup with its link count).
    */
  def nodeInfo(s: SparkSession, dir: String, orderKey: Long): DataFrame =
    orderStats(s, dir).filter(keyIn(col("o_orderkey"), Seq(orderKey)))
}
