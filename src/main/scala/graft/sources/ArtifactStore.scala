package graft.sources

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Maintained physical layouts for the hot query pipelines.
  *
  * At 100 TB the graph/dedup queries do not re-derive their edge lists,
  * fingerprints, or LSH band keys from the raw fact tables on every run —
  * they read MAINTAINED tables with a layout chosen for the access pattern:
  *
  *   - [[bucketedTable]]: a catalog table written once per (sf dir,
  *     shuffle-conf) with `bucketBy(n, key) + sortBy(key)`. Scans of it are
  *     hash-partitioned AND sorted on `key`, so per-key aggregation and
  *     key-equi joins need NO Exchange and NO Sort — the physical property
  *     the reference got from its B-tree link indexes
  *     (`src/tropology/db.clj`, public repo). On a cluster this is the
  *     warehouse's bucketed edge table; locally it lands in a per-JVM
  *     temp warehouse.
  *   - [[snapshot]]: a plain parquet snapshot published atomically via
  *     [[SnapshotSink]] (write versioned dir, swap symlink) — the standing
  *     corpus artifacts (dedup fingerprints, capped LSH bands, shingle
  *     sets) that incremental pipelines join their batch against. Readers
  *     see a `FileSourceScanExec` over the published files; cost of the
  *     consuming query scales with the batch, not the corpus.
  *
  * Build-once guard is per-JVM (the catalog / published-path set), keyed by
  * the sf dir AND the shuffle-partition conf: the builds themselves shuffle,
  * so DeterminismSpec's 3-vs-16-partition runs must produce (and then read)
  * their own artifacts rather than trivially sharing one build.
  */
object ArtifactStore {

  private def keyHash(s: SparkSession, d: String): String = {
    // applicationId in the key: the warehouse dir is per-JVM while the
    // catalog is per-SESSION, so a second session in the same JVM would
    // otherwise see tableExists=false and crash into the first session's
    // still-on-disk table location. A fresh session gets fresh table
    // names instead (the per-JVM warehouse is temp-dir scoped and cleaned
    // on exit, so the extra copies don't outlive the process).
    // KNOWN LIMIT: siblings from SparkSession.newSession() share the
    // applicationId but have their own in-memory catalog, so that pattern
    // (unused in this repo) would re-hit the crash; if it is ever needed,
    // mix a per-session token (System.identityHashCode(s)) into the key.
    val key = d + "|" + s.conf.get("spark.sql.shuffle.partitions") + "|" +
      s.sparkContext.applicationId
    MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
  }

  /** Read the bucketed table `name` for sf dir `d`, building it first if
    * this JVM hasn't yet. `repartition(buckets, key)` before the write —
    * bucket assignment uses the same murmur3 family, so each task holds
    * exactly one bucket's rows and the table lands as one file per bucket
    * (an unrepartitioned bucketed write fans out to tasks × buckets files).
    * The table is written with [[ParquetFormat]], so the catalog records
    * that format as its provider and every scan of the table, the served
    * routes' included, broadcasts its light Hadoop conf.
    * The JVM-wide lock is taken only while a table is not yet known to be
    * built, so concurrent readers of a built table (the API server's
    * request threads) never serialize here; `buckets` is evaluated only
    * for a build.
    */
  def bucketedTable(s: SparkSession, d: String, name: String,
      buckets: => Int, bucketCol: String)(build: => DataFrame): DataFrame = {
    val tbl = s"graft_${name}_${keyHash(s, d)}"
    if (!built.contains(tbl)) synchronized {
      if (!built.contains(tbl) && !s.catalog.tableExists(tbl)) {
        build.repartition(buckets, col(bucketCol))
          .write.format(ParquetFormat.Name).bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .saveAsTable(tbl)
      }
      built.add(tbl)
    }
    s.table(tbl)
  }

  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val published =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Read the parquet snapshot `name` for sf dir `d`, publishing it first
    * (atomic [[SnapshotSink]] swap) if this JVM hasn't yet. Returns a plain
    * file-source DataFrame — consuming plans show a FileSourceScanExec over
    * the published snapshot, not the derivation that built it.
    * `partitionBy` lays the snapshot out as a partitioned table (e.g. the
    * IVF inverted file by list id) so readers prune to the keys they probe.
    */
  def snapshot(s: SparkSession, d: String, name: String,
      partitionBy: Seq[String] = Nil)
      (build: => DataFrame): DataFrame = synchronized {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_artifacts_" +
      s"${s.sparkContext.applicationId}_${keyHash(s, d)}"
    val path = s"$dir/$name"
    if (!published.contains(path)) {
      Files.createDirectories(Paths.get(dir))
      SnapshotSink.overwrite(build, path, partitionBy)
      registerExitCleanup(dir)
      published.add(path)
    }
    ParquetSource.read(s, path)
  }

  /** Register `dir` for recursive delete on JVM exit (idempotent per
    * path). THE one cleanup helper — the bucketed-table warehouse
    * (GraftSession) and the query scratch dirs (QueryPack) register
    * through here too, so deletion-order/symlink hardening has a single
    * home.
    */
  def registerExitCleanup(dir: String): Unit =
    if (cleanupRegistered.add(dir)) {
      sys.addShutdownHook { deleteRecursively(dir) }
      ()
    }

  /** Immediate recursive delete (no symlink chase — listFiles does not
    * follow links). Used by Verify to retract a dump whose result-check
    * failed: for rows-only queries the driver's gate is existence +
    * rows > 0, so a dump surviving its failed guard would read as a pass.
    */
  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
