package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{Bench, GraftSession, SparkEntry}

/** Dev tool: run one declared query and print every Spark job's wall time
  * and call site, so driver-loop queries (whose final plan hides the loop)
  * can be attributed job-by-job. Runs the query twice (cold + warm, Bench
  * shape) and profiles the WARM run.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <name>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-jobprofile")
    Bench.warmup(spark, sfDir)
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // cold run: JIT + artifact builds

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      // A SQL execution starts before its jobs and carries the call site of
      // the action that ran it; AQE submits its query stages as jobs whose
      // own stage names point into Spark's thread pool.
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlSites.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // properties can be null (ADVICE r15) — an NPE in a listener would
        // silently drop the job row from the profile. Outside SQL, Spark
        // names the result stage (the job's last) after the call site.
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id))))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
        jobs.put(js.jobId, (js.time, site, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, site, tasks) =>
          done.add((je.jobId, (je.time - t0) / 1e3, site, tasks))
          ends.put(je.jobId, je.time)
          starts.put(je.jobId, t0)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(spark.sparkContext)
    val rows = done.toArray(Array.empty[(Int, Double, String, Int)])
      .filter(_._3 != ListenerDrain.Marker).sortBy(_._1)
    var sum = 0.0
    var prevEnd = -1L
    rows.foreach { case (id, secs, site, tasks) =>
      sum += secs
      val gap = if (prevEnd < 0) 0.0 else (starts.get(id) - prevEnd) / 1e3
      prevEnd = ends.get(id)
      println(f"[jobprofile] job=$id%4d  ${secs}%7.3f s  gap=${gap}%6.3f s  tasks=$tasks%4d  $site")
    }
    println(f"[jobprofile] $name warm wall=${wall}%.3f s, sum-of-jobs=${sum}%.3f s, jobs=${rows.length}, rows=$n")
    spark.stop()
  }
}
