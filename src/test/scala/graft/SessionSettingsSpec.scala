package graft

import java.lang.management.ManagementFactory

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.network.util.JavaUtils
import org.scalatest.funsuite.AnyFunSuite

/** Session settings whose effect a query result does not show. */
class SessionSettingsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("typed Dataset tasks run without a per-session artifact class loader") {
    val spark0 = spark
    import spark0.implicits._
    // With artifact isolation on, every SQL task's context class loader is
    // the session's ExecutorClassLoader, which resolves each class name
    // that executor-side codegen looks up through the application jars
    // and then the driver's class server.
    val loaders = spark.range(0, 8, 1, 4)
      .map(_ => Thread.currentThread.getContextClassLoader.getClass.getName)
      .distinct().collect()
    assert(loaders.nonEmpty)
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"), loaders.toSeq)
  }

  test("a broadcast block is under half of a G1 heap region, so its buffer is not humongous") {
    // TorrentBroadcast starts every serialized value in one buffer of the
    // block size; G1 allocates an object of half a region or more in
    // regions of its own. 1 MB is G1's smallest region.
    val region = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong
    val sizes = Map(
      "GraftSession.local" -> JavaUtils.byteStringAsBytes(GraftSession.BroadcastBlockSize),
      "SparkTestSession" -> spark.sparkContext.getConf.getSizeAsBytes("spark.broadcast.blockSize"))
    for ((session, size) <- sizes; limit <- Seq(region, 1L << 20))
      assert(size < limit / 2, s"$session's broadcast block of $size bytes, region of $limit bytes")
  }
}
