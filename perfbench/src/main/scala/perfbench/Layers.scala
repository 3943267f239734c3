package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.multimodal.{GifCodec, JpegCodec, MediaCodec, Multimodal, TiffCodec}

import Main.{Metric, median}

/** The per-layer metric set. Every traced run prints all of it, in this
  * order; a layer a workload does not reach reads 0. Counters and summed
  * times are per traced pass (batch) or per traced request (serve).
  */
object Layers {
  val Formats: Seq[String] = Seq("png", "jpeg", "gif", "tiff", "avi", "wav")
  val Routes: Seq[String] = Seq("node", "links", "common", "network")

  private val Counted = Seq(
    "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.physical_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_s" -> "s", "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "spill_mb" -> "MB", "ckpt.jobs" -> "count", "ckpt.s" -> "s")

  /** What the harness measured itself, beside the listener counters. */
  final case class Harness(ops: Int, wallS: Double, gapS: Double, cores: Int,
      buildS: Double, actionS: Double, queryS: Map[String, Double],
      decodeUs: Map[String, Double], routeP50Ms: Map[String, Double],
      overheadPassS: Double, overheadP50Ms: Double)

  def metrics(t: Tracer, h: Harness): Seq[Metric] = {
    val n = math.max(1, h.ops).toDouble
    def c(k: String) = t.counters.getOrElse(k, 0.0)
    val counted = Counted.map { case (k, u) => Metric(k, c(k) / n, u) }
    val (sched, rest) = counted.splitAt(6)
    sched ++ Seq(Metric("sched.gap_s", h.gapS / n, "s")) ++ rest ++ Seq(
      Metric("exec.busy_frac", c("exec.run_s") / math.max(1e-9, h.wallS * h.cores), "ratio"),
      Metric("storage.peak_mb", t.storagePeakBytes / (1024.0 * 1024.0), "MB"),
      Metric("queries.build_s", h.buildS / n, "s"),
      Metric("queries.action_s", h.actionS / n, "s")) ++
      Tracer.Modules.map(m => Metric(s"jobs.$m", c(s"jobs.$m") / n, "count")) ++
      Tracer.Modules.map(m => Metric(s"job_s.$m", c(s"job_s.$m") / n, "s")) ++ Seq(
      Metric("streaming.batches", c("streaming.batches") / n, "count"),
      Metric("streaming.batch_p50_ms", median(t.batchMs.toSeq), "ms")) ++
      Formats.map(f => Metric(s"multimodal.decode_us.$f", h.decodeUs.getOrElse(f, 0.0), "us")) ++
      Routes.map(r => Metric(s"api.$r.p50_ms", h.routeP50Ms.getOrElse(r, 0.0), "ms")) ++
      Seq(Metric("api.jobs_per_req", if (h.routeP50Ms.isEmpty) 0.0 else c("sched.jobs") / n, "count")) ++
      Main.Batch.sorted.map(id =>
        Metric(s"query_s.$id", h.queryS.getOrElse(id, 0.0), "s")) ++ Seq(
      Metric("trace.overhead_pass_s", h.overheadPassS, "s"),
      Metric("trace.overhead_p50_ms", h.overheadP50Ms, "ms"))
  }

  /** The media rows each decoder is timed on: the sf's documents rendered
    * by the same public `Multimodal` table builders the mm queries use.
    */
  def mediaRows(spark: SparkSession, dir: String): Map[String, Array[Array[Byte]]] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def bytes(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
      ds.collect().map(_.content)
    Map(
      "png" -> bytes(Multimodal.realPngTable(spark, docs)),
      "jpeg" -> bytes(Multimodal.realJpegTable(spark, docs)),
      "gif" -> bytes(Multimodal.realGifTable(spark, docs)),
      "tiff" -> bytes(Multimodal.realTiffTable(spark, docs)),
      "avi" -> bytes(Multimodal.realMjpegAviTable(spark, docs)),
      "wav" -> bytes(Multimodal.mediaTable(spark, docs).filter(col("media_type") === "audio")))
  }

  private val decoders: Map[String, Array[Byte] => Boolean] = Map(
    "png" -> (b => MediaCodec.pngDecodePixels(b).isDefined),
    "jpeg" -> (b => JpegCodec.jpegDecodePixels(b).isDefined),
    "gif" -> (b => GifCodec.gifDecodeFrames(b).isDefined),
    "tiff" -> (b => TiffCodec.tiffDecodePixels(b).isDefined),
    "avi" -> (b => MediaCodec.aviDecodeMjpegFrames(b).isDefined),
    "wav" -> (b => MediaCodec.parseWav(b).flatMap(h => MediaCodec.pcmStats(b, h)).isDefined))

  /** Median per-row decode time in microseconds over repeated sweeps of
    * each format's rows, plus the formats whose rows failed to decode.
    */
  def timeDecoders(rows: Map[String, Array[Array[Byte]]],
      budgetMs: Double = 150): (Map[String, Double], Seq[String]) = {
    val timed = Formats.map { f =>
      val rs = rows(f)
      val dec = decoders(f)
      val ok = rs.nonEmpty && rs.forall(dec)
      val sweeps = scala.collection.mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      while (rs.nonEmpty && (sweeps.size < 5 || (System.nanoTime() - t0) / 1e6 < budgetMs)) {
        val s0 = System.nanoTime()
        rs.foreach(dec)
        sweeps += (System.nanoTime() - s0) / 1e3 / rs.length
      }
      (f, median(sweeps.toSeq), ok)
    }
    (timed.map { case (f, us, _) => f -> us }.toMap,
      timed.collect { case (f, _, false) => s"decode $f: a row did not decode" })
  }
}
