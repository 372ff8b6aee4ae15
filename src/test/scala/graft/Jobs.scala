package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Spark job census for the specs. */
object Jobs {

  /** One started job: its call site (e.g. `localCheckpoint at
    * Components.scala:95`; AQE's shuffle-stage jobs, submitted from a
    * future, name `CompletableFuture.java`) and the id of the SQL
    * execution (the Dataset action) it ran for, if any. */
  final case class Job(callSite: String, sqlExecution: Option[String])

  /** The Spark jobs `body` started on this thread (tagged by a job
    * group, so jobs from other threads are not counted), in start
    * order. */
  def during(s: SparkSession)(body: => Unit): Seq[Job] = {
    val tag = s"graft-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == tag)
          jobs.add(Job(e.stageInfos.maxBy(_.stageId).name,
            Option(e.properties.getProperty("spark.sql.execution.id"))))
    }
    s.sparkContext.addSparkListener(listener)
    s.sparkContext.setJobGroup(tag, tag)
    try body
    finally {
      s.sparkContext.clearJobGroup()
      assert(GraftColumnBridge.waitListenerBusEmpty(s, 10000))
      s.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}
