package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What Spark ran while a block ran: each job as the call sites of its
  * stages, and each SQL execution (one per action) as the call site that
  * started it. A job AQE submits from its own thread carries no call site
  * of the caller; its execution does. `shuffleStages` counts the jobs'
  * shuffle-map stages. */
final case class Jobs(jobs: Seq[String], queries: Seq[String],
                      shuffleStages: Int)

object Jobs {
  def during[T](spark: SparkSession)(body: => T): (T, Jobs) = {
    val sc = spark.sparkContext
    SpecBus.drain(sc)
    val jobs, queries = new ConcurrentLinkedQueue[String]
    val shuffles = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.map(_.details).mkString("\n"))
        shuffles.addAndGet(j.stageInfos.count(SpecBus.shuffleMap))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.add(q.details)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, Jobs(jobs.asScala.toSeq, queries.asScala.toSeq, shuffles.get))
    } finally sc.removeSparkListener(listener)
  }
}
