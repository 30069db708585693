package graft.tools
import graft.core.Sessions
/** Dump `.explain("formatted")` for named queries. With -o <dir>, write
  * each plan to <dir>/<query>.txt instead of stdout (the round's
  * plans/rNN/ evidence files). */
object Explain {
  def main(args: Array[String]): Unit = {
    val (outDir, names) = args.toSeq match {
      case "-o" +: dir +: rest => (Some(dir), rest)
      case rest                => (None, rest)
    }
    val spark = Sessions.local(Sessions.cpus, "ERROR")
    val dir = "/root/testdata/sf0.01"
    outDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name.txt"), plan)
          println(s"[explain] wrote $d/$name.txt")
        case None =>
          println(s"########## $name")
          println(plan)
      }
    }
    spark.stop()
  }
}
