package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One correctness gate: `ok` is the gate on the real output, `negativeFails`
  * that the same gate rejects a deliberately corrupted copy of it. */
final case class Gate(name: String, ok: Boolean, detail: String, negativeFails: Boolean)

/** Operation accounting: every module call, ingest and query goes through
  * [[Ops.run]], which counts it as attempted, and as failed when it throws.
  * A failure is recorded and the run goes on; a failed op's partial time is
  * returned as None so it never reaches a latency metric. */
final class Ops(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def run(level: Int, name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.span(level, name)(body)
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case NonFatal(e) =>
      failed += 1
      if (failures.size < 20) failures += s"$name: ${e.getClass.getName}: ${e.getMessage}"
      None
    }
  }
}

/** What every workload shares: the session, the tracer, the op counters,
  * the seed and a private work directory inside the checkout. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: String, val dataDir: String, val cores: Int) {
  val ops = new Ops(tracer)
  def dir(name: String): String = {
    val d = new File(work, name)
    Stats.rm(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A closed-loop workload: one client, next operation only after the
  * previous one completed. */
trait Workload {
  /** Generate the inputs from the seed; run once per set-up repetition. */
  def prepare(): Unit
  /** The timed region: run operations back to back until `deadlineNs`
    * (System.nanoTime) has passed, after the minimum the metrics need. */
  def run(deadlineNs: Long): Unit
  /** Correctness gates, run after the timed region. */
  def gates(): Seq[Gate]
  /** The end-to-end metrics besides setup_s, as this workload defines
    * them: first_op_s, op_p50_s, items_per_s. */
  def endToEnd: Map[String, Double]
  /** The metrics the workload is named for, with their distributions. */
  def named: Map[String, Any]
  /** Workload-owned per-layer metrics (the rest are reported as 0). */
  def layers: Map[String, Double]
  /** The realised input profile. */
  def profile: Map[String, Any]
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cores = opts("cores").toInt
    val out = opts("out")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, seed, work, opts("data"), cores)
    val wl: Workload = workload match {
      case "seo_cycle" => new SeoCycle(ctx)
      case "curate_epochs" => new CurateEpochs(ctx)
      case "catalog_read" => new CatalogRead(ctx, opts("verify"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: input generation plus a JIT warm-up, three times; the median
    // repetition is added to the one-off JVM start → session-ready time. No
    // warm-up on the workload's own operations: on this code it doubles the
    // set-up and leaves the operation times where they are.
    val prepS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.prepare()
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(prepS)

    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tracer.span(1, workload)(wl.run(t0 + (seconds * 1e9).toLong))
    val wallS = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    tracer.drain()
    tracer.stop()

    val gates = wl.gates()
    val peakRssMb = Stats.peakRssMb()

    val e2e = wl.endToEnd + ("setup_s" -> setupS)
    val layer = if (traced) layerMetrics(ctx, wl, t0Ms, t1Ms, wallS) else Map.empty[String, Double]
    val header = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sortBy(_._1).toMap)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "header" -> header,
      "attempted" -> ctx.ops.attempted, "failed" -> ctx.ops.failed,
      "failures" -> ctx.ops.failures.toSeq,
      "failed_ops_ratio" -> ctx.ops.failed.toDouble / math.max(1L, ctx.ops.attempted),
      "wall_s" -> wallS,
      "session_s" -> sessionS, "prepare_s" -> prepS,
      "gates" -> gates.map(g => Map("name" -> g.name, "ok" -> g.ok,
        "detail" -> g.detail, "negative_fails" -> g.negativeFails)),
      "profile" -> wl.profile,
      "named" -> (wl.named ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb,
        "wall_s" -> wallS)),
      "end_to_end" -> e2e,
      "per_layer" -> layer)
    Stats.writeJson(out, result)
    if (traced) Stats.writeJson(out.stripSuffix(".json") + ".spans.json", spanDump(ctx))
    spark.stop()
  }

  /** Engine, Catalyst and per-file attribution over the timed window. */
  private def layerMetrics(ctx: Ctx, wl: Workload, t0Ms: Long, t1Ms: Long,
                           wallS: Double): Map[String, Double] = {
    val tr = ctx.tracer
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms)
    val busyS = Tracer.unionMs(jobs.map(j => (j.startMs, math.min(j.endMs, t1Ms)))) / 1000.0
    val runS = jobs.map(_.runMs).sum / 1000.0
    val engine = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> busyS,
      "spark.driver_gap_s" -> (wallS - busyS),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.core_util" -> runS / (ctx.cores * wallS),
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> jobs.map(_.outputBytes).sum.toDouble,
      "catalyst.analysis_s" -> tr.phaseSeconds("analysis"),
      "catalyst.optimization_s" -> tr.phaseSeconds("optimization"),
      "catalyst.planning_s" -> tr.phaseSeconds("planning"),
      "catalyst.sql_execs" -> tr.sqlExecs.toDouble)
    val byFile = jobs.groupBy(_.file)
    val files = (Stats.AttributedFiles ++ byFile.keys).distinct.flatMap { f =>
      val js = byFile.getOrElse(f, Nil)
      Seq(s"$f.jobs" -> js.size.toDouble,
        s"$f.job_s" -> js.map(_.seconds).sum,
        s"$f.cpu_s" -> js.map(_.cpuNs).sum / 1e9)
    }
    val units = tr.spans.toSeq.filter(s => s.level == 2 && s.endMs >= 0)
    val coverage = Tracer.unionMs(units.map(s => (s.startMs, s.endMs))) / 1000.0 / wallS
    val trace = Map(
      "trace.span_coverage" -> coverage,
      "trace.unattributed_job_share" ->
        byFile.getOrElse(Tracer.Unattributed, Nil).size.toDouble / math.max(1, jobs.size))
    Stats.LayerDefaults ++ engine ++ files ++ trace ++ wl.layers
  }

  /** Spans with self time (duration minus the union of the children's
    * intervals); jobs are the leaves. */
  private def spanDump(ctx: Ctx): Map[String, Any] = {
    val tr = ctx.tracer
    val jobs = tr.jobs.values.asScala.toSeq.sortBy(_.id)
    val jobParent = jobs.map(j => j.id -> tr.parentOf(j).map(_.id).getOrElse(-1)).toMap
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    tr.spans.filter(_.parent >= 0).foreach(s =>
      children.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += ((s.startMs, s.endMs)))
    jobs.foreach(j => if (jobParent(j.id) >= 0)
      children.getOrElseUpdate(jobParent(j.id), mutable.ArrayBuffer.empty) += ((j.startMs, j.endMs)))
    val spanRows = tr.spans.toSeq.map { s =>
      val dur = s.endMs - s.startMs
      val covered = Tracer.unionMs(children.getOrElse(s.id, mutable.ArrayBuffer.empty).toSeq
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) })
      Map("id" -> s.id, "parent" -> s.parent, "level" -> s.level, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok,
        "self_ms" -> (dur - covered))
    }
    val jobRows = jobs.map(j => Map("id" -> j.id, "parent" -> jobParent(j.id),
      "level" -> 4, "name" -> s"job:${j.file}", "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "ok" -> j.ok, "self_ms" -> (j.endMs - j.startMs),
      "stages" -> j.stages, "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
      "site" -> j.site))
    Map("spans" -> spanRows, "jobs" -> jobRows)
  }
}
