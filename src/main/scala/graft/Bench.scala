package graft
import graft.core.Sessions
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // scan splits need no floor: in a local[cpus] session Spark's
    // default minimum split count is already the core count
    val spark = Sessions.local(Sessions.cpus, "WARN")
    // JIT/codegen warmup so the first measured query doesn't absorb JVM
    // startup; deterministic name order for run-to-run comparability
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    // optional args = query-name filter (local profiling; driver passes none)
    val wanted = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .map { case (name, fn) =>
      // min of two reps: the first rep absorbs codegen compilation and
      // page-cache warmup, so drift between rounds is attributable to
      // plan changes rather than JIT/IO noise. The min is taken over
      // SUCCESSFUL reps only — a rep that threw early would otherwise
      // report its near-zero abort time as the query's wall.
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        // noop write forces full evaluation of every projection — count()
        // would let Catalyst skip computing the expressions under test
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      (name, times.minOption.getOrElse(0.0), times.isEmpty)
    }
    // The driver keeps only a bounded tail (2000 chars) of stdout and the
    // sbt epilogue follows the line, so the contract line must stay small:
    // short keys (the qNN prefix is the query identity) and INTEGER
    // MILLISECONDS per query ("unit":"ms") — the 3-decimal-seconds form at
    // 173 queries was ~2.3 KB and overflowed the window two rounds
    // running, which blanked the driver's per-query/scaling comparison.
    // The full names + ns-precision seconds map still goes to
    // BENCH_FULL.json alongside, for cross-round per-query comparison.
    def short(n: String): String = n.indexOf('_') match {
      case -1 => n case i => n.substring(0, i)
    }
    def ms(v: Double): Long = math.round(v * 1000)
    val ok = results.filterNot(_._3)
    val qs = ok.map { case (k, v, _) => s""""${short(k)}":${ms(v)}""" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val failedList = results.filter(_._3).map(r => s""""${short(r._1)}"""")
      .mkString("[", ",", "]")
    val failedField = if (results.exists(_._3)) s""","failed":$failedList""" else ""
    // machine-read output: Locale.ROOT so a comma-decimal default
    // locale cannot render invalid JSON
    val full = results.map { case (k, v, f) =>
      s""""$k":{"sec":${String.format(java.util.Locale.ROOT, "%.9f",
        Double.box(v))},"failed":$f}""" }.mkString("{", ",", "}")
    // FULL boards only: a filtered profiling run must not overwrite the
    // cross-round comparison file with a one-query board (bit us live —
    // an ad-hoc `Bench q155` clobbered the round's reference board)
    if (wanted.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"),
        s"""{"sf":"$sfDir","total":${String.format(java.util.Locale.ROOT,
          "%.3f", Double.box(total))},"queries":$full}""" + "\n")
    val sfShort = new java.io.File(sfDir).getName
    // after spark.stop(): the contract line is the process's last output
    spark.stop()
    println(s"""{"metric":"total","value":${ms(total)},"unit":"ms","queries":$qs$failedField,"sf":"$sfShort"}""")
  }
}
