package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Small helpers: order statistics, disk accounting, JSON output. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** A timing distribution as reported: the median, plus the highest of
    * p75/p90/p95/p99 that still has at least ten samples beyond it, and
    * the sample count. */
  def dist(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val tail = Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size * (100 - p) / 100 >= 10)
      Map("n" -> xs.size, "p50" -> median(xs)) ++
        tail.map(p => s"p${p.toInt}" -> percentile(xs, p))
    }

  /** Regular files and their total bytes under a directory. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, on all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** graft files whose Spark jobs are always reported, zero when idle. */
  val AttributedFiles: Seq[String] = Seq(
    "plans.Runner", "sources.Storage", "sources.StoreTxn",
    "operators.Pipeline", "operators.SignatureStores", "operators.Dedup",
    "operators.Graph", "operators.Decontamination", Tracer.Unattributed)

  /** Every per-layer metric a workload may leave idle, as zero. */
  val LayerDefaults: Map[String, Double] = Seq(
    "plans.agg.html_parser_s", "plans.agg.robotstxt_s", "plans.op.metatags_s",
    "plans.op.responseheader_s", "plans.op.htmlheadings_s", "plans.op.robotstxt_s",
    "plans.elt_s", "plans.alert_s", "plans.alerts_sent",
    "operators.ingest.bulk_s", "operators.ingest.delta_s",
    "operators.ingest.jobs_per_delta", "queries.build_s", "queries.exec_s",
    "sources.store_files", "sources.store_bytes", "sources.staging_files"
  ).map(_ -> 0.0).toMap

  def writeJson(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), (json(v) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
