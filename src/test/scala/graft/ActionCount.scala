package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs and SQL executions a block starts. The block runs
  * under its own job group and only actions carrying that group count, so
  * work on other threads cannot leak in. A marker job run after the block
  * drains the listener bus: once the listener sees the marker end, every
  * earlier event has been delivered. */
object ActionCount {

  /** `plans` = the physical plan description of each SQL execution. */
  final case class Counts(jobs: Int, plans: Seq[String]) {
    def executions: Int = plans.size
  }

  def apply(spark: SparkSession)(body: => Any): Counts = {
    val sc = spark.sparkContext
    val group = s"action-count-${java.util.UUID.randomUUID()}"
    val marker = s"$group-drain"
    val jobs = new AtomicInteger
    val plans = mutable.ArrayBuffer.empty[String]
    val markerJobs = mutable.Set.empty[Int]
    val drained = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e) match {
        case `group` => jobs.incrementAndGet()
        case `marker` => markerJobs.synchronized(markerJobs += e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.synchronized(markerJobs.contains(e.jobId))) drained.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.synchronized(plans += s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block", interruptOnCancel = false)
      body
      sc.setJobGroup(marker, "listener drain", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Counts(jobs.get, plans.synchronized(plans.toList))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
