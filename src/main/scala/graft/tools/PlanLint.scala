package graft.tools

import graft.core.Sessions

/** Automated scale-anti-pattern sweep over EVERY declared query's
  * physical plan: cartesian products, single-partition exchanges, and
  * unbounded nested-loop joins are the three shapes that silently stop
  * scaling at 100×; plus the INVERSE check — queries whose operator
  * contract requires a broadcast small side ([[requiredBroadcast]])
  * must actually show a `BroadcastExchange`, or the plan has silently
  * flipped to shuffling the corpus side. The manual per-round plan
  * audit, as a tool.
  *
  * A finding is only a defect when the stage is UNBOUNDED — some plans
  * funnel ≤ k rows through one partition by design (a top-k rank window
  * after a LIMIT, a broadcast loop join against a one-row or
  * buckets-count frame). Those sites are listed in [[allowed]] with
  * their bound, so the lint stays a zero-tolerance gate: any NEW
  * single-partition stage fails the sweep until justified here.
  *
  * Usage: sbt "runMain graft.tools.PlanLint [sfDir]" — exits nonzero on
  * unallowed findings.
  */
object PlanLint {

  /** (query, flag) pairs with a justified BOUNDED stage — per flag, so
    * a justification for one pattern can't silently cover a different
    * future one. Every entry documents WHY the stage cannot grow with
    * the data. */
  private val allowed: Map[(String, String), String] = Map(
    // brute-force/ANN tiers: non-equi or conditionless join against a
    // BROADCAST side that is bounded by contract (maxQueries require /
    // one row per IVF cell)
    ("q22_brute_topk", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped",
    ("q37_media_ann", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped",
    ("q160_audio_ann", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped",
    ("q131_int8_topk", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped (int8 candidate pass)",
    ("q133_pq_topk", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped (ADC candidate pass)",
    ("q136_semantic_decon", "NestedLoopJoin") ->
      "broadcast eval set, maxEval-capped",
    ("q137_ivfpq_topk", "NestedLoopJoin") ->
      "broadcast centroid table, one row per coarse cell (probe step)",
    ("q138_ivfadc_topk", "NestedLoopJoin") ->
      "broadcast centroid table, one row per coarse cell (probe step)",
    ("q139_ivfadc_incremental", "NestedLoopJoin") ->
      "broadcast centroid table, one row per coarse cell (probe step)",
    ("q146_ivfpq_sweep", "NestedLoopJoin") ->
      ("broadcast centroid table, one row per coarse cell (probe step); " +
        "the query side itself is never broadcast in the sweep form"),
    ("q147_ivfadc_sweep", "NestedLoopJoin") ->
      ("broadcast centroid table, one row per coarse cell (probe step); " +
        "the query side itself is never broadcast in the sweep form"),
    ("q141_binary_topk", "NestedLoopJoin") ->
      "broadcast query set, maxQueries-capped (1-bit candidate pass)",
    ("q23_ivf_topk", "NestedLoopJoin") ->
      "broadcast centroid table, one row per cell",
    ("q73_ivf_incremental", "NestedLoopJoin") ->
      "broadcast centroid table, one row per cell",
    ("q109_ivf_trained", "NestedLoopJoin") ->
      "broadcast centroid table, one row per trained cell (k-capped)",
    // two-phase prefix sum: the bucket-offset side is a per-bucket
    // aggregate (≤ `buckets` rows) joined via a broadcast loop
    ("q51_cumulative", "NestedLoopJoin") ->
      "offset join over ≤ buckets aggregate rows",
    ("q71_token_budget", "NestedLoopJoin") ->
      "offset join over ≤ buckets aggregate rows",
    ("q75_pack_sequences", "NestedLoopJoin") ->
      "offset join over ≤ buckets aggregate rows",
    ("q80_curate_pack", "NestedLoopJoin") ->
      "offset join over ≤ buckets aggregate rows",
    ("q111_pack_bpe", "NestedLoopJoin") ->
      "offset join over ≤ buckets aggregate rows",
    // RRF fuses two ≤ k-row top-k lists — both join sides bounded
    ("q84_hybrid_rrf", "NestedLoopJoin") ->
      "full-outer of two ≤ k-row top-k lists",
    // watermark scan: the high-water mark is a one-row scalar aggregate
    // joined back (the documented driver-side control read shape)
    ("q31_watermark_read", "SinglePartition") ->
      "one-row watermark scalar aggregate",
    ("q31_watermark_read", "NestedLoopJoin") ->
      "one-row watermark scalar join",
    // single-row whole-result aggregates by contract
    ("q25_count_alert", "SinglePartition") ->
      "whole-result aggregate is one row by contract",
    ("q56_revenue_forecast", "SinglePartition") ->
      "single-row regression aggregate",
    ("q57_promo_revenue", "SinglePartition") ->
      "single-row ratio aggregate",
    // corpus totals as one-row broadcast scalars (the q31 shape)
    ("q97_token_drift", "SinglePartition") ->
      "two one-row corpus-total scalar aggregates",
    ("q97_token_drift", "NestedLoopJoin") ->
      "broadcast join of one-row corpus totals",
    ("q112_corpus_report", "SinglePartition") ->
      "one-row corpus-total scalar aggregate (map-side partials)"
  )

  /** Queries whose OPERATOR CONTRACT requires a broadcast small side —
    * the inverse assertion to the anti-pattern flags. The genus this
    * guards against: a "small" side creeping past
    * `autoBroadcastJoinThreshold` silently flips the join to
    * sort-merge, shuffling the corpus side (measured live: the 10M-doc
    * e2e probe's decontamination flip shuffled 785M positioned gram
    * rows and filled the disk with sort spill). Each listed plan must
    * contain a `BroadcastExchange`; a plan that lost it is an
    * UNALLOWED `MissingBroadcast` finding, same severity as a
    * cartesian. */
  private[tools] val requiredBroadcast: Map[String, String] = Map(
    // decontamination: the eval-gram side is pinned by
    // boundedEvalBroadcast; the corpus gram explode must stay map-side
    "q63_decontaminate" -> "eval gram set (boundedEvalBroadcast)",
    "q76_contamination_rate" -> "eval gram set (boundedEvalBroadcast)",
    "q92_contamination_spans" -> "eval gram set (boundedEvalBroadcast)",
    "q136_semantic_decon" -> "eval embedding set (maxEval-capped)",
    // NOT listed: q26/q39 lookup classification — their contract is a
    // compiled `when`-chain (zero exchange, whole-stage codegen), which
    // BEATS a broadcast join for CSV-sized rule tables; requiring a
    // BroadcastExchange there would punish the better plan. Only the
    // classifyJoin variant (large rule sets) pins a broadcast, and it
    // pins it in code via broadcast().
    // ANN/quantization serving: the query set (maxQueries-capped) and
    // the centroid/codebook tables are broadcast by construction
    "q22_brute_topk" -> "query set (maxQueries-capped)",
    "q37_media_ann" -> "query set (maxQueries-capped)",
    "q160_audio_ann" -> "query set (maxQueries-capped)",
    "q42_lsh_topk" -> "query set (maxQueries-capped, LSH-bucketed)",
    "q23_ivf_topk" -> "centroid table (one row per cell)",
    "q73_ivf_incremental" -> "centroid table (one row per cell)",
    "q109_ivf_trained" -> "trained centroid table (k-capped)",
    "q131_int8_topk" -> "query set (maxQueries-capped)",
    "q133_pq_topk" -> "query set + codebook (m·ksub rows)",
    "q137_ivfpq_topk" -> "centroid table + codebook",
    "q138_ivfadc_topk" -> "centroid table + codebook",
    "q139_ivfadc_incremental" -> "centroid table + codebook",
    "q141_binary_topk" -> "query set (maxQueries-capped)",
    "q146_ivfpq_sweep" -> "centroid table (query side stays partitioned)",
    "q147_ivfadc_sweep" -> "centroid table (query side stays partitioned)",
    // corpus-total scalars: one-row aggregates joined back broadcast
    "q97_token_drift" -> "one-row corpus totals",
    "q31_watermark_read" -> "one-row watermark scalar"
  )

  /** The lint core, testable without a session: given a query name and
    * its physical plan string, return (allowed findings with their
    * justification, unallowed findings). */
  private[tools] def planFindings(name: String, plan: String)
      : (Seq[(String, String)], Seq[String]) = {
    val antiFlags = Seq(
      "CartesianProduct" -> plan.contains("CartesianProduct"),
      "SinglePartition" -> plan.contains("Exchange SinglePartition"),
      "NestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin")
    ).collect { case (f, true) => f }
    val missingBroadcast =
      if (requiredBroadcast.contains(name) &&
          !plan.contains("BroadcastExchange") &&
          !plan.contains("BroadcastQueryStage"))
        Seq("MissingBroadcast")
      else Nil
    val (allowedHits, unallowedHits) = antiFlags.partition(f =>
      allowed.contains((name, f)))
    (allowedHits.map(f => f -> allowed((name, f))),
      unallowedHits ++ missingBroadcast.map(f =>
        s"$f (contract: ${requiredBroadcast(name)})"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus, "ERROR")

    var unallowed = 0
    var errs = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val (allowedHits, unallowedHits) = planFindings(name, plan)
        allowedHits.foreach { case (f, why) =>
          println(s"[lint] $name: $f — ALLOWED ($why)")
        }
        unallowedHits.foreach { f =>
          unallowed += 1
          println(s"[lint] $name: $f — UNALLOWED")
        }
      } catch {
        case e: Throwable =>
          errs += 1
          println(s"[lint] $name FAILED to plan: ${e.getMessage}")
      }
    }
    println(s"[lint] queries=${graft.SparkEntry.queries.size} " +
      s"unallowed=$unallowed errors=$errs")
    spark.stop()
    if (unallowed + errs > 0) sys.exit(1)
  }
}
