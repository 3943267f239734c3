package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point; `run.py` builds the classpath and launches it.
  *
  *   --workload batch|serve  --seed N  --seconds S
  *   --trace 0|1  --data DIR  --expected FILE  --record FILE
  *   [--cores N] [--rev REV]
  *
  * Prints one `name value unit` line per metric, then the result as one
  * JSON object on the last line.
  */
object Main {

  /** The batch workload's pass: the query ids it runs, each pass in a
    * fresh SparkSession. See NOTES.md for why each query is here.
    */
  val Batch: Seq[String] = Seq(
    "g6_components_converged", "t4_minhash_neardup", "mm8_jpeg_pixel_stats",
    "st7_sink_roundtrip")

  val Workloads: Seq[String] = Seq("batch", "serve")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, record: String, cores: Int, rev: String)

  /** What a workload run hands back: end-to-end and per-layer metrics,
    * the raw samples for the run record, and the operations that failed.
    */
  final case class Outcome(endToEnd: Seq[Metric], perLayer: Seq[Metric],
      attempted: Int, failures: Seq[String], samples: Map[String, Any],
      spans: Seq[Span])

  final case class Metric(name: String, value: Double, unit: String)

  /** End-to-end metrics printed and recorded but left out of the result
    * line: a run holds 12 (batch) to 40 (serve) operations, too few for a
    * 90th percentile to repeat between runs (see NOTES.md).
    */
  val Ungated: Set[String] = Set("p90_ms")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("expected"), need("record"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.getOrElse("rev", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val expected = Digest.load(Paths.get(a.expected))
    val out =
      if (a.workload == "serve") Serve.run(a, jvmStartMs, expected)
      else BatchRun.run(a, jvmStartMs, expected)

    val rss = peakRssMb()
    val e2e = out.endToEnd :+ Metric("peak_rss_mb", rss, "MB")
    val failedFrac = out.failures.size.toDouble / math.max(1, out.attempted)
    val shown = if (a.trace) out.perLayer else e2e
    shown.foreach(m => println(f"${m.name}%-34s ${m.value.toString}%16s ${m.unit}"))
    if (!a.trace) out.samples.get("p90_samples").foreach(n =>
      println(f"${"p90_samples"}%-34s ${n.toString}%16s count"))
    println(f"${"failed_frac"}%-34s ${failedFrac.toString}%16s ratio")
    out.failures.take(20).foreach(f => println(s"FAILED $f"))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "git_rev" -> a.rev,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jvm" -> System.getProperty("java.version"),
      "attempted" -> out.attempted, "failed" -> out.failures.size,
      "failed_frac" -> failedFrac, "failures" -> out.failures,
      "metrics" -> byName(e2e), "per_layer" -> byName(out.perLayer),
      "samples" -> out.samples, "spans" -> out.spans)
    val recPath = Paths.get(a.record)
    Files.createDirectories(recPath.getParent)
    Files.write(recPath, json.writeValueAsBytes(record))

    val result = VectorMap(
      "correct" -> out.failures.isEmpty, "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "metrics" -> byName(shown.filterNot(m => Ungated(m.name))))
    println(json.writeValueAsString(result))
    System.out.flush()
    sys.exit(0)
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def byName(ms: Seq[Metric]) =
    ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).to(VectorMap)

  /** `VmHWM` of this JVM, in MB. */
  def peakRssMb(): Double = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally it.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `f`, turning a non-fatal throw into a failure message. */
  def attempt[T](what: String)(f: => T): Either[String, T] =
    try Right(f)
    catch { case NonFatal(e) => Left(s"$what: ${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}") }
}
