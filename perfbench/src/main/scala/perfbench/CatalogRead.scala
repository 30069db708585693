package perfbench

import java.io.File
import scala.collection.mutable

import graft.queries.Catalog

/** The read-only query tiers: relational, checks and LLM-data queries of
  * the catalog over the fixed seed-42 test tables. They open no store
  * roots. The seed permutes the query order; the data never changes.
  *
  * Timed region: a cold first pass that writes every query's output as
  * parquet (the outputs the DuckDB oracle gate then checks), then warm
  * passes, each query forced with a `noop` write as the repo's Bench does,
  * until the deadline. */
final class CatalogRead(ctx: Ctx, verifyDir: String) extends Workload {
  import CatalogRead._

  private val spark = ctx.spark
  private val defs = Queries.map { case (n, _) => n -> Catalog.defs.find(_.name == n)
    .getOrElse(sys.error(s"catalog has no query $n")) }.toMap
  private val order = new scala.util.Random(ctx.seed).shuffle(Queries)

  private final case class Exec(pass: Int, query: String, build: Double, wall: Double,
                                cpu: Double)
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private var passes = 0
  private var firstPassS = Double.NaN
  private var firstPassCpuS = Double.NaN

  def prepare(): Unit =
    Tables.foreach(t => spark.read.parquet(s"${ctx.dataDir}/$t.parquet").count())

  def run(deadlineNs: Long): Unit =
    while (passes < 2 || System.nanoTime() < deadlineNs) {
      passes += 1
      val t0 = System.nanoTime()
      val c0 = Stats.cpuS()
      var allOk = true
      order.foreach { case (q, tier) =>
        var build = 0.0
        val q0 = Stats.cpuS()
        val wall = ctx.ops.run(2, q) {
          val b0 = System.nanoTime()
          val df = ctx.tracer.span(3, "build")(defs(q).fn(spark, ctx.dataDir))
          build = (System.nanoTime() - b0) / 1e9
          ctx.tracer.span(3, "exec", owner = s"queries.$tier") {
            if (passes == 1) df.write.mode("overwrite").parquet(s"$verifyDir/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
        }
        wall match {
          case Some(w) => execs += Exec(passes, q, build, w, Stats.cpuS() - q0)
          case None => allOk = false
        }
      }
      if (passes == 1 && allOk) {
        firstPassS = (System.nanoTime() - t0) / 1e9
        firstPassCpuS = Stats.cpuS() - c0
      }
    }

  private def warm = execs.filter(_.pass > 1).toSeq
  private def perQuery(f: Exec => Double): Seq[Double] =
    warm.groupBy(_.query).values.map(es => Stats.median(es.map(f))).toSeq

  def endToEnd: Map[String, Double] = Map(
    "first_op_s" -> firstPassS,
    "op_p50_s" -> Stats.median(perQuery(_.wall)),
    "items_per_s" -> warm.size / warm.map(_.wall).sum)

  def named: Map[String, Any] = Map(
    "first_op_cpu_s" -> firstPassCpuS,
    "op_cpu_p50_s" -> Stats.median(perQuery(_.cpu)),
    "query_p50_s" -> Stats.median(perQuery(_.wall)),
    "query_s" -> Stats.dist(perQuery(_.wall)),
    "first_pass_s" -> firstPassS,
    "passes" -> passes,
    "per_query_p50_s" -> warm.groupBy(_.query).map { case (q, es) =>
      q -> Stats.median(es.map(_.wall)) })

  def layers: Map[String, Double] = Map(
    "queries.build_s" -> perQuery(_.build).sum,
    "queries.exec_s" -> perQuery(e => e.wall - e.build).sum)

  def profile: Map[String, Any] = Map(
    "queries" -> Queries.size,
    "per_tier" -> Queries.groupBy(_._2).map { case (t, qs) => t -> qs.size },
    "first_in_order" -> order.take(5).map(_._1),
    "tables" -> Tables.map(t => t -> new File(s"${ctx.dataDir}/$t.parquet").length()).toMap)

  /** The DuckDB comparison runs in the caller, over the first pass's
    * outputs and the oracle SQL written here. */
  def gates(): Seq[Gate] = {
    val written = Queries.count { case (q, _) => new File(s"$verifyDir/$q/_SUCCESS").exists() }
    Stats.writeJson(s"$verifyDir/oracle_sql.json",
      Queries.map { case (q, _) => q -> defs(q).oracle.getOrElse("") }.toMap)
    Seq(Gate("catalog.outputs_written", written == Queries.size,
      s"$written of ${Queries.size} outputs written", written - 1 != Queries.size))
  }
}

object CatalogRead {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fixed slice of the relational, checks and LLM-data tiers (query,
    * tier file): the LLM slice is the batch dedup and quality family that
    * curate_epochs drives through stores. */
  val Queries: Seq[(String, String)] =
    Seq("q01_pricing_summary", "q03_prev_day_revenue", "q05_duplicate_brands",
      "q06_topk_orders", "q09_sql_named_params", "q41_region_volume", "q45_rollup",
      "q50_moving_avg").map(_ -> "RelationalQueries") ++
    Seq("q10_metatag_checks", "q11_robots_sitemaps", "q25_count_alert",
      "q32_check_dsl_alerts", "q39_enrichment", "q53_responseheader_checks")
      .map(_ -> "ChecksQueries") ++
    Seq("q17_quality_score", "q61_repetition", "q63_decontaminate", "q19_dedup_exact",
      "q20_dup_groups", "q21_jaccard_pairs", "q34_minhash_pairs", "q35_simhash_pairs",
      "q64_dup_components", "q89_dup_spans").map(_ -> "LlmQueries")
}
