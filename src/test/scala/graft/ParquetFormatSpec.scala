package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ApiServer
import graft.sources.{ArtifactStore, ParquetFormat, SourcelessConf}
import graft.streaming.StreamOps

/** [[ParquetFormat]]: the conf a scan broadcasts reads back to the same
  * keys and values in fewer bytes, and every graft parquet relation, served,
  * loaded, read back, bucketed or streamed, scans through the format.
  */
class ParquetFormatSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def state = spark.asInstanceOf[classic.SparkSession].sessionState

  private def javaBytes(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.toByteArray
  }

  private def readBack(bytes: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[SerializableConfiguration].value

  test("the session conf reads back through SerializableConfiguration with every raw value, in fewer bytes") {
    val conf = state.newHadoopConfWithOptions(Map("path" -> "/data/x"))
    conf.set("graft.format.spec", "a ${graft.format.other} b")
    // The conf carries the source lists the light copy drops.
    assert(conf.getPropertySources("fs.defaultFS") != null)
    val keys = conf.iterator.asScala.map(_.getKey).toVector
    assert(keys.size > 100, keys.size)
    val (plain, light) = (javaBytes(conf), javaBytes(new SourcelessConf(conf)))
    val back = readBack(light)
    assert(back.size === conf.size)
    for (k <- keys) assert(back.getRaw(k) === conf.getRaw(k), k)
    assert(readBack(plain).size === conf.size)
    assert(light.length < plain.length, s"${light.length} vs ${plain.length} bytes")
  }

  private def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collect(qe.executedPlan) { case f: FileSourceScanExec => f }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    scans(df.queryExecution)
  }

  private def assertFormat(what: String, found: Seq[FileSourceScanExec]): Unit = {
    assert(found.nonEmpty, what)
    found.foreach(f => assert(f.relation.fileFormat.isInstanceOf[ParquetFormat], s"$what: $f"))
  }

  test("every served route's executed scan reads through ParquetFormat, over catalog tables it provides") {
    val routes = new ApiServer.Routes(spark, dir)
    for ((route, serve) <- Seq("node" -> (() => routes.node(1L)),
        "links" -> (() => routes.links(1L)), "common" -> (() => routes.common(1L, 2L)),
        "network" -> (() => routes.network()))) {
      serve()
      val (_, actions) = SparkTestSession.withQueries(serve())
      val found = actions.flatMap(a => scans(a._2))
      assertFormat(route, found)
      for (f <- found) {
        val table = f.tableIdentifier.getOrElse(fail(s"$route scans no catalog table: $f"))
        assert(state.catalog.getTableMetadata(TableIdentifier(table.table, table.database))
          .provider === Some(ParquetFormat.Name), route)
      }
    }
  }

  test("a Tables.load scan and a snapshot read-back read through ParquetFormat") {
    assertFormat("orders", scans(Tables.orders(spark, dir).where(col("o_orderkey") < 10)))
    val d = Files.createTempDirectory("graft_parquet_format_").toString
    val snap = ArtifactStore.snapshot(spark, d, "ids")(spark.range(0, 50, 1, 2).toDF("id"))
    assertFormat("snapshot", scans(snap))
  }

  test("a micro-batch of a table file stream scans through ParquetFormat") {
    val base = Files.createTempDirectory("graft_parquet_format_stream_").toString
    val q = StreamOps.documentsStream(spark, dir).writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batch = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assertFormat("documents stream", scans(batch))
  }
}
