package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Every route is a POINT LOOKUP over three MAINTAINED serving tables,
  * built once per session through [[ArtifactStore.bucketedTable]] with the
  * edge tables' bucket count ([[Graph.linkBuckets]]):
  *
  *   - [[orderLinks]]: distinct `(o, p)` edges, bucketed by `o`;
  *   - [[partDegrees]]: `(p, p_name, in_degree)`, bucketed by `p`;
  *   - [[orderStats]]: the served order attributes plus `outgoing`,
  *     bucketed by `o_orderkey`;
  *   - the one-row network payload ([[NetworkApi.neighborhoodPayload]]),
  *     derived from the three above.
  *
  * Lookups filter on the bucket key with [[keyIn]] (`graft_key_in`), so
  * Spark prunes each scan to the buckets holding those keys, and the
  * `sortBy` within a bucket lets parquet row-group statistics skip the
  * rest: a request costs in proportion to its answer, not to the edge
  * table. No route aggregates, dedups or checkpoints the edges per
  * request. Routes that start from an order read its edges when called
  * (one bucket) and return a plan over only the buckets of the parts they
  * found. Because `graft_key_in` holds its keys by reference, a route's
  * generated code is the same for every key: it is compiled once per JVM,
  * not once per key.
  */
object TropologyApi {

  /** Serving table: distinct order→part edges, bucketed by `o`. */
  private[graft] def orderLinks(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.bucketedTable(s, dir, "serve_order_links", Graph.linkBuckets(s, dir), "o") {
      Graph.edges(s, dir)
    }

  /** Serving table: each linked part's name and in-degree over the
    * distinct edges, bucketed by `p`. Parts with no `part` row are left
    * out, as the routes' join to `part` always did.
    */
  private[graft] def partDegrees(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.bucketedTable(s, dir, "serve_part_degrees", Graph.linkBuckets(s, dir), "p") {
      Graph.edges(s, dir).groupBy(col("p")).agg(count(lit(1)).as("in_degree"))
        .join(Tables.part(s, dir), col("p") === col("p_partkey"))
        .select(col("p"), col("p_name"), col("in_degree"))
    }

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

  /** The `(o, p)` edges of `orders`: a read of one [[orderLinks]] bucket
    * per order.
    */
  private[graft] def edgesOf(s: SparkSession, dir: String, orders: Long*): DataFrame =
    orderLinks(s, dir).filter(keyIn(col("o"), orders))

  /** The parts each of `orders` links to ([[edgesOf]], collected); an
    * order with no edges maps to no parts.
    */
  private[graft] def partsOf(s: SparkSession, dir: String,
      orders: Long*): Map[Long, Seq[Long]] =
    edgesOf(s, dir, orders: _*).collect().toSeq
      .groupMap(_.getLong(0))(_.getLong(1)).withDefaultValue(Nil)

  /** The [[partDegrees]] rows of `parts` in one partition: the scan reads
    * only the buckets holding them, and sorts or top-k over the result need
    * no Exchange.
    */
  private[graft] def partRows(s: SparkSession, dir: String, parts: Seq[Long]): DataFrame =
    partDegrees(s, dir)
      .filter(if (parts.isEmpty) lit(false) else keyIn(col("p"), parts))
      .coalesce(1)

  /** `network-for-node`: the Sigma.js neighborhood payload (E2). */
  def networkForNode(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    NetworkApi.neighborhoodPayload(s, dir, k)

  /** `links-for-article`: everything the given order references, resolved
    * to part attributes and ranked by global in-degree — the reference's
    * "tropes used by this work" listing.
    */
  def linksForArticle(s: SparkSession, dir: String, orderKey: Long): DataFrame =
    partRows(s, dir, partsOf(s, dir, orderKey)(orderKey))
      .select(col("p").as("p_partkey"), col("p_name"), col("in_degree"))
      .orderBy(col("in_degree").desc, col("p_partkey").asc)

  /** `common-links-between`: the references two orders share — the
    * reference's "tropes common to two works" intersection of the two
    * orders' part sets.
    */
  def commonLinksBetween(s: SparkSession, dir: String,
      a: Long, b: Long): DataFrame = {
    val parts = partsOf(s, dir, a, b)
    partRows(s, dir, parts(a).intersect(parts(b)))
      .select(col("p").as("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey").asc)
  }

  /** `node-info`: one row of node attributes plus the maintained
    * out-degree (the reference's pages-row lookup with its link count).
    */
  def nodeInfo(s: SparkSession, dir: String, orderKey: Long): DataFrame =
    orderStats(s, dir).filter(keyIn(col("o_orderkey"), Seq(orderKey)))
}
