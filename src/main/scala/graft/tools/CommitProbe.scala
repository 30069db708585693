package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{SaveMode, functions => F}
import graft.core.Sessions

/** Where does a bucketed append's wall go? Splits each write call into
  * driver-side time BEFORE the first Spark job, the job span itself,
  * and driver-side time AFTER the last job (commit/catalog tail) — the
  * fixed cost q164 pays ~30×/run — and A/Bs writer task counts / AQE
  * for the small-delta regime. */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus, "WARN")
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    @volatile var firstStart = 0L
    @volatile var lastEnd = 0L
    @volatile var jobs = 0
    @volatile var execs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        if (firstStart == 0L) firstStart = j.time; jobs += 1
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = lastEnd = j.time
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        ev match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs += 1
          case _ =>
        }
    })
    def timed(tag: String)(body: => Unit): Unit = {
      firstStart = 0L; lastEnd = 0L; jobs = 0; execs = 0
      val t0 = System.currentTimeMillis()
      body
      val t1 = System.currentTimeMillis()
      Thread.sleep(50)
      val pre = if (firstStart == 0L) 0L else firstStart - t0
      val job = if (firstStart == 0L) 0L else lastEnd - firstStart
      val post = if (firstStart == 0L) t1 - t0 else t1 - lastEnd
      println(f"[$tag] wall ${t1 - t0}%5d ms = pre $pre%4d + jobs($jobs%d) $job%4d + post $post%4d  sqlExecs=$execs%d")
    }
    val df = spark.range(2000)
      .select(F.col("id"), F.xxhash64(F.col("id")).as("h"))
      .localCheckpoint(true)
    val mode = args.headOption.getOrElse("bucketed")
    mode match {
      case "bucketed" =>
        val root = java.nio.file.Files.createTempDirectory("graft_cp_").toString
        val wh = new graft.sources.Warehouse(spark, root)
        for (i <- 1 to 8) timed(s"append32 $i") {
          wh.appendBucketed("t1", df, Seq("id"), 8)
        }
      case "tasks8" =>
        // raw bucketBy write with 8-task repartition, bypassing Warehouse
        val root = java.nio.file.Files.createTempDirectory("graft_cp8_").toString
        for (i <- 1 to 8) timed(s"tasks8 $i") {
          df.repartition(8, F.pmod(F.hash(F.col("id")), F.lit(8)))
            .write.mode(SaveMode.Append).option("path", s"$root/warehouse/t2")
            .bucketBy(8, "id").sortBy("id").saveAsTable("graft_cp_t2")
        }
      case "parquet" =>
        val dir = java.nio.file.Files.createTempDirectory("graft_cpq_").toString
        for (i <- 1 to 6) timed(s"parquet32 $i") {
          df.write.mode("append").parquet(s"$dir/p32")
        }
        for (i <- 1 to 6) timed(s"parquet1 $i") {
          df.coalesce(1).write.mode("append").parquet(s"$dir/p1")
        }
    }
    spark.stop()
  }
}
