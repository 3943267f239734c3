package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorFunctions._
import graft.sources.ParquetSource

/** IVF (inverted-file) coarse quantizer over an embedding corpus — the
  * operator behind the v5/v7/v8 search queries, exposed for reuse and for
  * the persisted-index path.
  *
  * `build` runs one deterministic Lloyd's iteration (see the step comments
  * below); every arithmetic choice is engine-portable so the DuckDB oracle
  * can mirror the whole model ([[graft.queries.Embeddings]] `ivfSql`).
  *
  * `persist` writes the lists table PARTITIONED BY list id — the physical
  * layout the search queries assume at scale: a probe assigned to list L
  * reads only partition L (partition pruning, pinned in IvfIndexSpec), so
  * search cost is nprobe/nlists of the corpus regardless of corpus size.
  */
object IvfIndex {

  /** `lists`: (vec_id, lid, emb, nrm) — corpus rows with their assigned
    * list; `centers`: (csid, cemb) — the updated center vectors.
    */
  final case class Model(lists: DataFrame, centers: DataFrame)

  private def roundedCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(cosine(a, b), 6)

  /** The nearest-center argmax packed into ONE LongType value so the
    * per-vector aggregation is `max(long)` — the only buffer shape that
    * gets HashAggregate with map-side combine (structs, flat or not, are
    * variable-length buffers → SortAggregate over the full N×K
    * expansion). High bits: the 6-dp cosine as an integer —
    * round(roundedCos·10⁶) recovers exactly the integer the 6-dp rounding
    * produced (representation error ≪ 0.5), so the ordering is
    * IDENTICAL to the oracle's round(cos, 6) comparisons. Low bits:
    * 2³¹ − csid, so equal-cosine ties go to the SMALLEST center id —
    * the same tiebreak as the previous max(struct(cs, −csid, …)).
    */
  private def packedArgmax(emb: org.apache.spark.sql.Column,
      cemb: org.apache.spark.sql.Column,
      csid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (round(roundedCos(emb, cemb) * lit(1000000), 0).cast("long") + lit(2000000L)) *
      lit(4294967296L) + (lit(2147483648L) - csid)

  /** Inverse of [[packedArgmax]]'s low bits: the winning center id. */
  private def unpackSid(packed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (lit(2147483648L) - pmod(packed, lit(4294967296L))).cast("int")

  /** `iters` deterministic Lloyd's iterations over `corpus` (columns:
    * vec_id, emb: array<double>, nrm: double):
    *
    *   1. seeds: the `nLists` DISTINCT-embedding vectors with the smallest
    *      `md5(vec_id)` — deterministic, engine-portable sampling. The
    *      dedup (one hash agg keyed by the embedding, min-(skey, vec_id)
    *      representative per distinct vector) guarantees `nLists` distinct
    *      starting centers whenever the corpus has that many distinct
    *      embeddings — duplicate seed embeddings would start two lists at
    *      the same point and one would end empty;
    *   2. per iteration — assign: every vector to its nearest center
    *      (`round(cos,6)` desc, center-id tiebreak). The argmax is
    *      `max(struct(...))` under `groupBy(vec_id)`: the K candidate rows
    *      per vector sit in one partition (broadcast cross join), so the
    *      partial aggregate collapses N×K → N BEFORE the shuffle;
    *      then update: per-list decimal-exact means (DECIMAL(28,10) sums
    *      are order-independent → bit parity with the oracle). Iteration 1
    *      assigns to the seeds; iteration i to iteration i−1's means. Each
    *      round's centers are K rows, checkpointed so round i+1's plan
    *      does not re-execute rounds 1..i;
    *   3. re-assign the corpus to the FINAL centers — the inverted file.
    */
  def build(corpus: DataFrame, nLists: Int, iters: Int = 1): Model = {
    require(iters >= 1, s"IvfIndex.build: iters must be >= 1, got $iters")
    val c = corpus
    val skey = md5(col("vec_id").cast("string"))
    // The global window runs AFTER limit(nLists) — K rows, not the corpus —
    // so Spark's "no partition defined" warning is expected and harmless
    // here (a literal partitionBy would be constant-folded away anyway).
    val wSeed = Window.orderBy(col("skey").asc, col("vec_id").asc)
    val seedCand = c.select(col("vec_id"), col("emb"), skey.as("skey"))
      .groupBy(col("emb"))
      .agg(min(struct(col("skey"), col("vec_id"))).as("m"))
      .select(col("m.skey").as("skey"), col("m.vec_id").as("vec_id"), col("emb"))
    val seeds = seedCand
      .orderBy(col("skey").asc, col("vec_id").asc).limit(nLists)
      .withColumn("sid", row_number().over(wSeed))
      .select(col("sid").as("csid"), col("emb").as("cemb"))

    /** Nearest-center assignment: (vec_id, sid, emb). The argmax is a
      * max() over ONE packed LONG — any struct in an agg buffer (even a
      * flat one, and a fortiori the original one carrying `emb`) is a
      * variable-length buffer, ineligible for hash aggregation: the
      * planner fell back to SortAggregate and SORTED the N×K
      * vector-by-center expansion, which with K ∝ N (the dense model)
      * spilled ~50 GB and ran the 125× scale probe out of disk. A LongType
      * buffer gets HashAggregate with map-side combine: the expansion
      * pipelines into per-partition partial maxes and only N rows shuffle.
      * `emb` is re-attached by an id join.
      */
    def assign(centers: DataFrame): DataFrame = {
      val best = c.crossJoin(broadcast(centers))
        .groupBy(col("vec_id"))
        .agg(max(packedArgmax(col("emb"), col("cemb"), col("csid"))).as("pk"))
        .select(col("vec_id").as("avid"), unpackSid(col("pk")).as("sid"))
      c.join(best, col("vec_id") === col("avid"))
        .select(col("vec_id"), col("sid"), col("emb"))
    }

    /** Per-list decimal-exact means: (csid, cemb). */
    def means(asg: DataFrame): DataFrame = asg
      .select(col("sid"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("sid"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(28, 10))).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("sid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cemb"))
      .select(col("sid").as("csid"), col("cemb"))

    var cents = seeds
    for (_ <- 1 to iters)
      cents = means(assign(cents)).localCheckpoint(false)
    Model(assignTo(c, cents), cents)
  }

  /** Assign `vecs` (vec_id, emb, nrm) to their nearest center in the
    * K-row `centers` table — the inverted-file membership step, exposed
    * for INCREMENTAL MAINTENANCE: appending a batch to a persisted index
    * is one broadcast argmax over the batch (cost ∝ |batch| × K, map-only
    * on the batch side — the standing corpus is never re-read, never
    * re-clustered). Same rounded-cosine + center-id tiebreak as search
    * assignment, so an appended row lands in exactly the list a full
    * rebuild with the same centers would give it.
    */
  def assignTo(vecs: DataFrame, centers: DataFrame): DataFrame = {
    // Packed-long argmax + id join-back, same reasoning as the build-side
    // assign(): max(long) is hash-aggregable with map-side combine, so
    // the |vecs|×K expansion never reaches a sort.
    val best = vecs.crossJoin(broadcast(centers))
      .groupBy(col("vec_id"))
      .agg(max(packedArgmax(col("emb"), col("cemb"), col("csid"))).as("pk"))
      .select(col("vec_id").as("avid"), unpackSid(col("pk")).as("lid"))
    vecs.join(best, col("vec_id") === col("avid"))
      .select(col("vec_id"), col("lid"), col("emb"), col("nrm"))
  }

  /** Write the inverted file partitioned by list id — the layout that
    * turns "search list L" into "read partition L".
    */
  def persist(model: Model, path: String): Unit =
    model.lists.write.mode("overwrite").partitionBy("lid").parquet(path)

  /** Read a persisted inverted file; `filter(col("lid") === n)` on the
    * result prunes to that partition (IvfIndexSpec pins the plan).
    */
  def loadLists(spark: SparkSession, path: String): DataFrame =
    ParquetSource.read(spark, path)

  /** Scored candidates for `probes` (qid, qe: array<double>, qnrm):
    * probes assigned to their `nprobe` nearest centers (window over the
    * broadcast K-row center table), each probed list's vectors scored
    * with precomputed-norm rounded cosine. THE single implementation the
    * oracle-gated v5/v7/v9 queries and [[search]] both run — any change
    * to tiebreaks, rounding, or self-exclusion lands everywhere at once.
    * Returns (qid, csid, vec_id, cos_sim).
    *
    * Probe-side contract (`broadcastProbes`):
    *   - `true` (serving shape): the assigned probe set is BROADCAST and
    *     the corpus-side lists never shuffle — correct only while the
    *     probe set fits an executor broadcast (serving traffic does;
    *     probes ≈ corpus would OOM the broadcast);
    *   - `false` (bulk shape): both sides SHUFFLE on the list id — the
    *     bulk-rescore plan for probe sets comparable to the corpus. The
    *     join key has only `nLists` distinct values, so partition count is
    *     bounded by nLists and hot lists are exactly the skew AQE's
    *     runtime skew-split handles (proven in SkewJoinSpec).
    * Both paths are the same expression tree — only the join strategy
    * differs — and IvfIndexSpec pins row-for-row equality between them.
    */
  def scoredCandidates(lists: DataFrame, centers: DataFrame, probes: DataFrame,
      nprobe: Int, broadcastProbes: Boolean = true): DataFrame = {
    val wAssign = Window.partitionBy(col("qid"))
      .orderBy(roundedCos(col("qe"), col("cemb")).desc, col("csid").asc)
    val assigned = probes.crossJoin(broadcast(centers))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") <= nprobe)
      .select(col("qid"), col("qe"), col("qnrm"), col("csid"))
    val probeSide = if (broadcastProbes) broadcast(assigned) else assigned
    probeSide
      .join(lists, col("lid") === col("csid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("csid"),
        col("vec_id"),
        round(dotNative(col("qe"), col("emb")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
  }

  /** Top-k cosine search against an inverted file. `lists` is either
    * `Model.lists` or a [[loadLists]] read of a persisted index — in the
    * latter case the lid-equality join prunes to the probed partitions
    * before any dot product. Ranks [[scoredCandidates]] with the
    * deterministic rounded-cosine, id-tiebreak ordering. Returns
    * (qid, vec_id, cos_sim, rn), rn <= k.
    */
  def search(lists: DataFrame, centers: DataFrame, probes: DataFrame,
      k: Int, nprobe: Int = 1, broadcastProbes: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    scoredCandidates(lists, centers, probes, nprobe, broadcastProbes)
      .select(col("qid"), col("vec_id"), col("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
