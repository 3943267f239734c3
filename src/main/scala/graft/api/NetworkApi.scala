package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ArtifactStore

/** The reference's E2 entry point (SURVEY.md §4): the network/neighborhood
  * API payload — `{node, nodes:[{id,label,size,x,y}…], edges:[…]}` —
  * that `src/tropology/api.clj` (public repo) assembled in Clojure for the
  * Sigma.js canvas, re-expressed as one lookup and one declarative plan:
  * hub → its parts, with their in-degrees → top-k neighbors by in-degree →
  * `collect_list(struct(…))` → `to_json`.
  *
  * Served as a MAINTAINED one-row artifact: the payload takes no request
  * parameter, so it is a pure function of [[TropologyApi]]'s maintained
  * tables, and [[neighborhoodPayload]] reads it from the table
  * `serve_network_k<k>` (one bucket) that [[ArtifactStore.bucketedTable]]
  * builds once per session, as it does the other serving tables. A request
  * reads one row. It is a catalog table rather than an
  * [[ArtifactStore.snapshot]] so that it is planned as the other serving
  * tables are: the catalog holds its schema and location, where a snapshot
  * read ([[graft.sources.ParquetSource]]) lists the snapshot directory and
  * reads a footer on the driver. Neither runs a Spark job, and the served
  * route plans it once per server ([[PreparedRoute]]), so the choice is one
  * of uniformity, not of per-request cost. The derivation ([[derivePayload]]) takes the hub as the
  * top-1 of `orderStats` by `outgoing` (ties to the smaller order key),
  * and its parts with their names and in-degrees from the hub's one
  * bucket of `orderLinks` ([[TropologyApi.linkedParts]]).
  *
  * Layout coordinates: the reference used random x/y per render; an
  * unseeded rand would break golden-file testing (SURVEY.md §6.3), so
  * coords derive from md5(id) — deterministic, uniform-ish in [0,1).
  */
object NetworkApi {

  /** Deterministic pseudo-coordinate in [0, 1): 4 md5 hex nibbles / 65536. */
  private def coord(id: org.apache.spark.sql.Column, salt: String) =
    round(conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 4), 16, 10)
      .cast("double") / 65536.0, 6)

  /** Single-row DataFrame with column `payload` holding the network JSON
    * for the hub order (most distinct parts) over the order↔part graph:
    * a read of the maintained `serve_network_k<k>` table, built from
    * [[derivePayload]] the first time this session asks for it.
    */
  def neighborhoodPayload(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    ArtifactStore.bucketedTable(s, dir, s"serve_network_k$k", 1, "payload") {
      derivePayload(s, dir, k)
    }

  /** The payload derivation [[neighborhoodPayload]] maintains: looks up the
    * hub when called, and returns the one-row plan over the hub's top-`k`
    * parts.
    */
  private[graft] def derivePayload(s: SparkSession, dir: String, k: Int): DataFrame = {
    val hub = TropologyApi.orderStats(s, dir)
      .orderBy(col("outgoing").desc, col("o_orderkey").asc).limit(1)
      .select(col("o_orderkey"), col("outgoing")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).headOption
    val (hubO, hubDeg) = hub.getOrElse((0L, 0L))
    val neighbors = TropologyApi.linkedParts(s, dir, hub.map(_._1).toSeq: _*)
      .orderBy(col("in_degree").desc, col("p").asc)
      .limit(k)
      .select(lit(hubO).as("hub_o"), lit(hubDeg).as("hub_deg"), col("p"),
        col("p_name"), col("in_degree").as("part_indeg"))

    neighbors
      .groupBy(col("hub_o"), col("hub_deg"))
      .agg(
        collect_list(struct(
          concat(lit("p"), col("p").cast("string")).as("id"),
          col("p_name").as("label"),
          col("part_indeg").as("size"),
          coord(col("p"), "x").as("x"),
          coord(col("p"), "y").as("y"))).as("nbrs"),
        collect_list(struct(
          concat(lit("o"), col("hub_o").cast("string")).as("source"),
          concat(lit("p"), col("p").cast("string")).as("target"))).as("edgs"))
      .select(to_json(struct(
        struct(
          concat(lit("o"), col("hub_o").cast("string")).as("id"),
          col("hub_deg").as("size"),
          coord(col("hub_o"), "x").as("x"),
          coord(col("hub_o"), "y").as("y")).as("node"),
        array_sort(col("nbrs")).as("nodes"),
        array_sort(col("edgs")).as("edges"))).as("payload"))
  }
}
