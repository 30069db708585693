package graft.tools
import org.apache.spark.scheduler.SparkListener
import graft.core.Sessions
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Per-SQL-execution wall-clock profile of one declared query: runs the
  * query with the bench's session shape ([[Sessions]], noop sink) and
  * prints every SQL execution (action) it triggers with its duration
  * and callsite — composed stores/maintains inside a query are
  * invisible to a single `explain`, but each action registers its own
  * execution. Usage:  Prof <sfDir> <queryName> [reps]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <sfDir> <queryName> [reps]")
    val (sfDir, name) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(Sessions.cpus, "WARN")
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    final case class E(id: Long, desc: String, start: Long, var end: Long)
    val execs = mutable.LinkedHashMap.empty[Long, E]
    final case class S(id: Int, name: String, ms: Long, tasks: Int,
                       cpuMs: Long)
    val stages = mutable.ArrayBuffer.empty[S]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (a <- i.submissionTime; b <- i.completionTime)
          yield b - a).getOrElse(0L)
        stages.synchronized {
          stages += S(i.stageId, i.name, wall, i.numTasks,
            i.taskMetrics.executorCpuTime / 1000000)
        }
      }
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        ev match {
          case s: SparkListenerSQLExecutionStart => execs.synchronized {
            execs(s.executionId) = E(s.executionId, s.description, s.time, 0L)
          }
          case e: SparkListenerSQLExecutionEnd => execs.synchronized {
            execs.get(e.executionId).foreach(_.end = e.time)
          }
          case _ =>
        }
    })
    val fn = graft.SparkEntry.queries(name)
    for (r <- 1 to reps) {
      execs.synchronized(execs.clear())
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val snap = execs.synchronized(execs.values.toSeq)
      println(f"===== $name rep $r: wall $wall%.3f s, ${snap.size} executions =====")
      snap.sortBy(e => -(e.end - e.start)).take(30).foreach { e =>
        println(f"  exec ${e.id}%4d ${(e.end - e.start) / 1e3}%8.3f s  ${e.desc.take(100)}")
      }
      println("  --- grouped by callsite ---")
      snap.groupBy(_.desc).map { case (d, es) =>
        (es.map(e => (e.end - e.start) / 1e3).sum, es.size, d)
      }.toSeq.sortBy(-_._1).take(25).foreach { case (s, n, d) =>
        println(f"  $s%8.3f s  n=$n%3d  ${d.take(100)}")
      }
      println("  --- slowest stages ---")
      stages.synchronized(stages.toSeq).sortBy(-_.ms).take(15).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.ms / 1e3}%8.3f s cpu ${s.cpuMs / 1e3}%8.3f s " +
          f"tasks=${s.tasks}%3d  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
