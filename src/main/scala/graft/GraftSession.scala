package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings this engine assumes.
  *
  * Designed for a real cluster (1000 executors, 100 TB inputs) but tested on
  * `local[32]`. Key choices:
  *   - AQE on (runtime re-plan: skew-join splitting, shuffle coalescing,
  *     broadcast demotion/promotion) — essential at scale where static stats lie.
  *   - shuffle.partitions small locally; on a cluster this is overridden by
  *     AQE's coalescing from `spark.sql.adaptive.coalescePartitions.*`.
  *   - session timezone pinned to UTC so timestamp semantics are deterministic
  *     and match the DuckDB oracle.
  *   - no per-session artifact isolation: graft adds no session artifacts,
  *     and with isolation on every SQL task runs under a per-session class
  *     loader that fetches executor-side codegen's class lookups from the
  *     driver (SessionSettingsSpec).
  *   - broadcast blocks of [[BroadcastBlockSize]], not humongous G1
  *     objects (SessionSettingsSpec).
  *   - `file:` through [[graft.sources.LocalFiles]], which sets
  *     permissions and reads link status without forking `chmod` or
  *     `readlink` per written file (LocalFilesSpec).
  */
object GraftSession {

  /** `spark.broadcast.blockSize`. Every broadcast (each parquet scan's
    * Hadoop conf, each job's task binary) starts its serialized value in
    * one buffer of the block size, Spark's 4 MB by default. G1 allocates
    * an object of half a heap region or more as humongous, in regions of
    * its own: with the default and the 4 MB regions of a 7 or 8 GB heap,
    * every served request allocates two such buffers. G1's smallest region
    * is 1 MB (a heap of up to 2 GB), so 256 KB stays under half of any
    * region.
    */
  val BroadcastBlockSize = "256k"

  def local(cores: String, appName: String): SparkSession =
    local(cores.toInt, appName)

  /** Per-JVM warehouse for ArtifactStore's bucketed tables: a temp dir, so
    * repeated Verify/Bench runs never read a stale `spark-warehouse` from a
    * previous process's cwd. Static conf — must be set at session build.
    */
  private lazy val warehouseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_warehouse_").toString
    // Same exit-time cleanup as ArtifactStore's snapshot dirs: without it
    // every Bench/Verify JVM would leave its bucketed edge tables behind
    // and repeated runs would accumulate until tmp fills.
    graft.sources.ArtifactStore.registerExitCleanup(dir)
    dir
  }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffles START wide and AQE coalesces SMALL ones back down — the
      // standard shape for data whose scale the static conf can't know.
      // Measured (audits/g13_partition_probe.md): at 25× sf0.1 the
      // HyperBall sketch aggregate packs 25× more ~1KB HLL sketches per
      // reducer; 256 initial partitions cut its warm time 83.7 → 58.6 s
      // (cold 198.7 → 85.1 s) while sf0.1 is unchanged (3.83 → 3.62 s,
      // AQE coalesces the small shuffle right back). On a 1000-executor
      // cluster this would be set ≫ cores; 8× local cores mirrors that.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Scan-parallelism FLOOR (guide §6.1), derived from the session's
      // core count — never a constant: the fixture parquet files are
      // hundreds of KB, so without a floor a text/media query's scan is 1-2
      // splits and its CPU-dense per-row work (tokenize/shingle/md5/decode)
      // runs on 1-2 of local[32]'s cores (JobProfile on t21: the three
      // dominant jobs had 2 tasks each). At 100 TB a scan has thousands of
      // splits and the floor never binds; this only stops a SMALL input
      // from idling a large cluster.
      .config("spark.sql.files.minPartitionNum", (cores * 2).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // graft adds no session artifacts (jars, classes, files). With
      // isolation on, Spark 4 still runs every SQL task under a
      // per-session `ExecutorClassLoader`, and each class name that
      // Janino cannot resolve while compiling on an executor becomes a
      // lookup through the application jars and then an RPC to the
      // driver's class server.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.broadcast.blockSize", BroadcastBlockSize)
      .config(graft.sources.LocalFiles.sessionConf.toMap)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
