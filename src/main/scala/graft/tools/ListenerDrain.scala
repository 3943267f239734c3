package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Waits until the SparkListeners of the dev tools have seen every event
  * posted so far. Listener events arrive asynchronously, so a profile read
  * right after an action can miss its last jobs or stages. [[apply]] runs
  * a marker job with no partitions (its start and end are posted at once,
  * with no stage or task) and waits for its end: the listeners get events
  * in order, so by then they have seen every earlier one.
  */
private[tools] object ListenerDrain {

  /** The job description of the marker job: profiles leave it out. */
  val Marker = "graft-listener-drain"

  private val JobDescription = "spark.job.description"

  /** Run the marker job and wait for its end event, for at most
    * `timeoutS` seconds; throws if it has not arrived by then.
    */
  def apply(sc: SparkContext, timeoutS: Long = 60): Unit = {
    val markers = ConcurrentHashMap.newKeySet[Int]()
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(JobDescription) == Marker))
          markers.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) ended.countDown()
    }
    sc.addSparkListener(listener)
    val description = sc.getLocalProperty(JobDescription)
    try {
      sc.setLocalProperty(JobDescription, Marker)
      sc.emptyRDD[Int].count()
      if (!ended.await(timeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(s"listener events did not arrive within $timeoutS s")
    } finally {
      sc.setLocalProperty(JobDescription, description)
      sc.removeSparkListener(listener)
    }
  }
}
