package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for a root); `group` is the job group that ties a pass's or a
  * request's spans together.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    group: String, startMs: Double, endMs: Double)

/** Layer counters and spans observed through listeners the benchmark
  * registers itself: a [[SparkListener]] for jobs, stages, tasks and
  * blocks, a [[QueryExecutionListener]] for Catalyst phase times, and a
  * [[StreamingQueryListener]] for micro-batches. Only events stamped inside
  * a window opened by [[begin]] and closed by [[end]] are recorded (the
  * listener bus delivers events late, so their own timestamps decide), so
  * one process can interleave traced and untraced work and report the
  * difference as the tracing overhead.
  */
final class Tracer {
  import Tracer._

  private val windows = mutable.ArrayBuffer[(Double, Double)]()
  @volatile private var openSince = Double.NaN

  def begin(): Unit = openSince = System.currentTimeMillis().toDouble
  def end(): Unit = synchronized {
    windows += ((openSince, System.currentTimeMillis() + 1.0))
    openSince = Double.NaN
  }
  def traced(t: Double): Boolean =
    (!openSince.isNaN && t >= openSince) ||
      synchronized(windows.exists { case (a, b) => t >= a && t <= b })

  /** The span a job is charged to when its job group names none (serve
    * requests run on the server's thread, which sets no group).
    */
  @volatile var current: Span = Span(0, 0, "none", "", "", 0, 0)
  private val groups = mutable.HashMap[String, Span]()

  private var nextId = 0L
  private val spansBuf = mutable.ArrayBuffer[Span]()
  private val openJobs = mutable.HashMap[Int, (Span, JobInfo)]()
  private val stageJob = mutable.HashMap[Int, Span]()
  private val sqlDetails = mutable.HashMap[Long, String]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L

  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  val batchMs = mutable.ArrayBuffer[Double]()
  var storagePeakBytes = 0L

  private final class JobInfo(val module: String, val ckpt: Boolean)

  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v

  def spans: Seq[Span] = synchronized(spansBuf.toSeq)

  /** Open a harness-level span (pass, query, build, action, phase); jobs
    * submitted under job group `group` become its children.
    */
  def open(kind: String, name: String, group: String, parent: Long): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, parent, kind, name, group, nowMs, 0)
      groups(group) = s
      s
    }

  def close(s: Span): Span = synchronized {
    val done = s.copy(endMs = nowMs)
    if (traced(done.startMs)) spansBuf += done
    done
  }

  /** Register on a session; every pass builds a fresh one. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    synchronized { blocks.clear(); blockBytes = 0L }
  }

  /** Unregister from `spark` once the listeners have seen every event
    * posted so far: a marker job's end reaches them after those events.
    */
  def detach(spark: SparkSession): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.countDown()
    }
    spark.sparkContext.addSparkListener(marker)
    spark.sparkContext.parallelize(Seq(0), 1).count()
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    Seq(marker, sparkListener).foreach(spark.sparkContext.removeSparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced(e.time.toDouble)) {
      val props = e.properties
      def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val details = Tracer.this.synchronized(prop("spark.sql.execution.id")
        .flatMap(id => sqlDetails.get(id.toLong)))
        .orElse(result.map(_.details)).getOrElse("")
      val module =
        if (prop("sql.streaming.queryId").isDefined) "streaming"
        else moduleOf(details)
      val ckpt = result.exists(r => r.name.startsWith("localCheckpoint") ||
        r.name.startsWith("checkpoint"))
      Tracer.this.synchronized {
        val parent = prop("spark.jobGroup.id").flatMap(groups.get).getOrElse(current)
        nextId += 1
        val span = Span(nextId, parent.id, "job",
          s"job ${e.jobId} ${result.map(_.name).getOrElse("")}", parent.group,
          e.time.toDouble, 0)
        openJobs(e.jobId) = (span, new JobInfo(module, ckpt))
        e.stageIds.foreach(stageJob(_) = span)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (span, info) =>
        val s = span.copy(endMs = e.time.toDouble)
        spansBuf += s
        val dur = (s.endMs - s.startMs) / 1e3
        jobIntervals += ((s.startMs, s.endMs))
        add("sched.jobs", 1)
        add(s"jobs.${info.module}", 1)
        add(s"job_s.${info.module}", dur)
        if (info.ckpt) { add("ckpt.jobs", 1); add("ckpt.s", dur) }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageJob.remove(si.stageId).foreach { job =>
          add("sched.stages", 1)
          nextId += 1
          spansBuf += Span(nextId, job.id, "stage", s"stage ${si.stageId} ${si.name}",
            job.group, si.submissionTime.getOrElse(0L).toDouble,
            si.completionTime.getOrElse(0L).toDouble)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null && traced(ti.finishTime.toDouble)) Tracer.this.synchronized {
        add("sched.tasks", 1)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        val overhead = m.executorDeserializeTime + m.executorRunTime +
          m.resultSerializationTime + ti.gettingResultTime
        add("sched.delay_s", math.max(0L, ti.duration - overhead) / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Tracer.this.synchronized {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        blockBytes += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
        if (traced(System.currentTimeMillis().toDouble))
          storagePeakBytes = math.max(storagePeakBytes, blockBytes)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(sqlDetails(s.executionId) = s.details)
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def sec(k: String) = p.get(k).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
      if (traced(p.values.map(_.endTimeMs).maxOption.getOrElse(0L).toDouble))
        Tracer.this.synchronized {
          add("plan.analysis_s", sec("analysis"))
          add("plan.optimizer_s", sec("optimization"))
          add("plan.physical_s", sec("planning"))
        }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = phases(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (traced(java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble))
        Tracer.this.synchronized {
          add("streaming.batches", 1)
          batchMs += e.progress.batchDuration.toDouble
        }
  }
}

object Tracer {
  val Modules: Seq[String] = Seq("operators", "sources", "queries", "streaming", "etl", "api", "other")
  private val Mb = 1024.0 * 1024.0
  private val GraftFrame = """^graft\.(operators|sources|queries|streaming|etl|api)\.""".r

  /** Epoch milliseconds with sub-millisecond resolution, on the clock
    * Spark stamps its events with.
    */
  def nowMs: Double = System.nanoTime() / 1e6 - originMs + epochMs
  private val originMs = System.nanoTime() / 1e6
  private val epochMs = System.currentTimeMillis().toDouble

  /** The layer of the innermost `graft.<module>` frame of a call site. */
  def moduleOf(callSiteLong: String): String =
    callSiteLong.linesIterator.map(_.trim)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption().getOrElse("other")

  /** Wall time inside [from, to] covered by none of the intervals. */
  def gapMs(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var covered = 0.0
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0.0, (to - from) - covered)
  }
}
