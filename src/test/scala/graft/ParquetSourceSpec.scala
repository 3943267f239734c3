package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ParquetSource, SnapshotSink}

/** [[ParquetSource]], the one parquet read path: the schema it reads from
  * one footer on the driver must be the schema Spark's inference job gives,
  * column order and nullability included, for every layout graft reads,
  * and building its DataFrame must run no Spark job.
  */
class ParquetSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The three layouts graft writes and reads back: a plain snapshot and
    * a partitioned one (both symlinks published by [[SnapshotSink]]), and
    * the staging directory that an AvailableNow stream appends to batch by
    * batch (part files with `.crc` siblings and `_SUCCESS` markers).
    */
  private lazy val written: Seq[(String, String)] = {
    val base = Files.createTempDirectory("graft_parquet_source_").toString
    val rows = spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).as("lid"), col("id").cast("string").as("name"),
        array(col("id").cast("double"), lit(0.5)).as("vec"))
    SnapshotSink.overwrite(rows, s"$base/snapshot")
    SnapshotSink.overwrite(rows, s"$base/ivf", partitionBy = Seq("lid"))
    rows.write.parquet(s"$base/landing")
    val q = spark.readStream.schema(ParquetSource.schema(spark, s"$base/landing"))
      .option("maxFilesPerTrigger", 1).parquet(s"$base/landing")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$base/staging")
      }
      .start()
    q.awaitTermination()
    Seq("snapshot" -> s"$base/snapshot", "partitioned snapshot" -> s"$base/ivf",
      "staging" -> s"$base/staging")
  }

  private def tables: Seq[(String, String)] =
    Tables.names.map(n => n -> s"$dir/$n.parquet")

  /** The number of Spark jobs `body` runs. A marker job in its own group
    * runs after `body`: listener events arrive in order, so once its start
    * has arrived, so have those of every job of `body`.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"parquet-source-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        job.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "parquet reads")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.emptyRDD[Int].count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener events did not arrive")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("the footer schema is the inferred schema for every sf0.001 table, under both nanosAsLong settings") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try for (nanosAsLong <- Seq("false", "true")) {
      spark.conf.set(key, nanosAsLong)
      for ((name, path) <- tables) {
        val inferred = spark.read.parquet(path).schema
        assert(ParquetSource.schema(spark, path) === inferred, s"$name, nanosAsLong=$nanosAsLong")
        assert(ParquetSource.read(spark, path).schema === inferred, s"$name, nanosAsLong=$nanosAsLong")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("snapshots and stream staging read back with the inferred schema, partition columns last") {
    for ((layout, path) <- written) {
      val inferred = spark.read.parquet(path)
      val read = ParquetSource.read(spark, path)
      assert(read.schema === inferred.schema, layout)
      assert(read.collect().map(_.toString).sorted === inferred.collect().map(_.toString).sorted, layout)
    }
    val ivf = ParquetSource.read(spark, written(1)._2)
    assert(ivf.columns.toSeq === Seq("id", "name", "vec", "lid"))
    assert(Files.list(java.nio.file.Paths.get(written(2)._2)).count() > 4,
      "staging should hold several batches' part files and their markers")
  }

  test("a ParquetSource read runs no Spark job; an inferred read runs one") {
    val paths = tables.map(_._2) ++ written.map(_._2)
    paths.foreach(ParquetSource.read(spark, _))
    assert(jobsDuring(paths.foreach(p => ParquetSource.read(spark, p).queryExecution.analyzed)) === 0)
    assert(jobsDuring(Tables.registerAll(spark, dir)) === 0)
    // The counter sees inference's footer job, so the zeros above are real.
    assert(jobsDuring(spark.read.parquet(paths.head)) >= 1)
  }

  test("a directory without a data file fails the read with its path") {
    val empty = Files.createTempDirectory("graft_parquet_empty_")
    Files.createFile(empty.resolve("_SUCCESS"))
    val e = intercept[java.io.FileNotFoundException](ParquetSource.read(spark, empty.toString))
    assert(e.getMessage.contains(empty.toString))
  }
}
