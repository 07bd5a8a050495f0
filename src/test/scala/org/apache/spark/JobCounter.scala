package org.apache.spark

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Counts the Spark jobs a block schedules on the calling thread (and on
  * threads it starts, which inherit the job group): the block runs under
  * a fresh job group, and the listener bus (private to Spark) is drained
  * before the count is read, so no event is missed and no sleep is
  * needed. */
object JobCounter {
  /** One job of a counted block: its description (Spark's own jobs, such
    * as file listing, set one) and, if it failed, the failure message. */
  final case class JobRecord(description: String, failure: Option[String])

  /** The block's jobs in start order. */
  def jobsRunBy[T](sc: SparkContext)(body: => T): (T, Seq[JobRecord]) = {
    val group = s"job-counter-${UUID.randomUUID()}"
    val started = new ConcurrentHashMap[Int, String]
    val failed = new ConcurrentHashMap[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          started.put(e.jobId, Option(e.properties.getProperty(
            SparkContext.SPARK_JOB_DESCRIPTION)).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case JobFailed(ex) => failed.put(e.jobId, String.valueOf(ex.getMessage))
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, started.asScala.toSeq.sortBy(_._1).map { case (id, d) =>
        JobRecord(d, Option(failed.get(id)))
      })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Returns once every event posted so far has reached its listeners,
    * query-execution listeners included. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (r, jobs) = jobsRunBy(sc)(body)
    (r, jobs.size)
  }
}
