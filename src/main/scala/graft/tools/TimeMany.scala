package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Dev tool: time a regex-selected subset of the declared queries with the
  * Bench methodology (count() action, best of 2 back-to-back runs) in ONE
  * warm JVM — fast same-session A/B for optimization work without paying a
  * full 214-query Bench per iteration.
  *
  * Usage: runMain graft.tools.TimeMany <sfDir> <nameRegex> [reps]
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val re = args(1).r
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-timemany")
    Bench.warmup(spark, sfDir)
    // Aggregate executor CPU time per run via a stage listener: wall time
    // on this host swings 3-10x between back-to-back identical runs, so
    // CPU-seconds (work actually done) is the stable optimization metric.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
          runNs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime * 1000000L)
        }
      })
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => re.findFirstIn(n).isDefined)
    var total = 0.0
    var totalCpu = 0.0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).map { _ =>
        val c0 = cpuNs.get()
        val r0 = runNs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerDrain(spark.sparkContext)
        (wall, (cpuNs.get() - c0) / 1e9, (runNs.get() - r0) / 1e9)
      }
      total += runs.map(_._1).min
      totalCpu += runs.map(_._2).min
      // minRun = executor run-time (CPU + I/O + fetch wait) — reported
      // alongside minCpu so the accumulator isn't dead code (ADVICE r15).
      println(f"[timemany] $name%-35s min=${runs.map(_._1).min}%7.3f  minCpu=${runs.map(_._2).min}%7.3f  " +
        f"minRun=${runs.map(_._3).min}%7.3f  " +
        f"runs=${runs.map(t => f"${t._1}%.3f/${t._2}%.3f").mkString(",")}")
    }
    println(f"[timemany] TOTAL(min-sum) ${total}%.3f s wall, ${totalCpu}%.3f s cpu over ${names.size} queries")
    spark.stop()
  }
}
