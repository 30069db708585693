package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.core.DriverRoute
import graft.functions.TextFunctions

/** The composed end-to-end curation pipeline for training text — the
  * artifact the LLM-data tier exists for. Every stage is an operator that
  * is individually oracle-verified (q17/q61/q62/q63/q19/q34/q64); this
  * operator pins their COMPOSITION: stage order, column contracts, and
  * the survivor accounting, which is where pipelines actually break
  * (a redaction after fingerprinting, a dedup before decontamination —
  * both silently change the corpus).
  *
  * Stage order and why:
  *  1. quality + repetition filters — row-local, cheapest, run first so
  *     every later stage touches fewer rows; one scan computes both
  *     scores from a single tokenization.
  *  2. PII redaction — BEFORE any content hashing, so two docs equal up
  *     to their PII dedup as the same document (and no raw PII survives
  *     into the kept corpus or the signature stores).
  *  3. benchmark decontamination — n-gram overlap with an eval set, on
  *     the redacted text (same text later stages see).
  *  4. exact dedup — min-id keep per identical text; removes the free
  *     wins before the (costlier) near-dup sketch runs.
  *  5. near-dup dedup — MinHash-LSH pairs → connected components →
  *     keep the min-id doc per component.
  *
  * Scale shape: stages 1–4 are one linear scan plus the decontamination
  * semi-join (eval side distinct + broadcastable); the exact-dedup
  * output is materialized ONCE (localCheckpoint) because three
  * consumers read it — the signature branch, the verification branch,
  * and the final keep join. At warehouse scale, pass `stage` to swap the
  * checkpoint for a staging-table write (same contract: a materialized,
  * re-readable frame).
  */
object Pipeline {

  /** The (id, comp) labels [[CurationStore]] keeps as versioned state. */
  private val LabelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("comp", LongType)))

  /** Shared guard: curation ids must be integral (connected components
    * needs integral labels, and a string id would make min-casts read
    * null and silently no-op). One definition for the store AND the
    * streaming wrapper so they can never disagree on accepted schemas. */
  private[graft] def requireIntegralId(schema: org.apache.spark.sql.types.StructType,
                                       idCol: String, context: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$context id column '$idCol' must be integral, got $dt")
  }

  /** The quality / repetition pass predicates over a scored frame —
    * ONE definition, used both to filter (preFilter) and to account
    * (curate's stage counts); a second copy could silently drift.
    * Null-safe: a doc whose score is null (null text scores null) FAILS
    * the gate rather than evaluating to SQL null — without the
    * coalesce, both `filter(qPass)` and the audit's `filter(!qPass)`
    * exclude the row and it vanishes from kept AND ledger, breaking the
    * audit's partition invariant. */
  private def qPass(cfg: CurateConfig) =
    coalesce(col("__q") >= cfg.minQuality, lit(false))
  private def rPass(cfg: CurateConfig) =
    coalesce(col("__rep") <= cfg.maxRepetition, lit(false))

  /** `stage` for a frame that is not local; a local one is settled
    * instead ([[DriverRoute.settle]] — its rows, no job). */
  private def stageOrSettle(stage: DataFrame => DataFrame)(df: DataFrame)
      : DataFrame =
    if (DriverRoute.isLocal(df)) DriverRoute.settle(df) else stage(df)

  /** Thresholds and sketch parameters for [[curate]]. Defaults match the
    * oracle-verified per-stage queries; tune per corpus. */
  final case class CurateConfig(
      minQuality: Double = 0.42,
      maxRepetition: Double = 0.06,
      repN: Int = 2,
      deconN: Int = 5,
      // surgical decontamination: instead of DROPPING every doc that
      // shares an eval n-gram (the default, strictest policy), EXCISE
      // the overlapping token spans and keep the remainder — at corpus
      // scale, a doc quoting one benchmark question is volume worth
      // keeping. Docs whose text empties are dropped; untouched docs
      // keep their exact bytes (no whitespace renormalization). Still a
      // pure per-doc function of the static eval set, so the batch and
      // incremental forms stay observationally equal.
      surgicalDecon: Boolean = false,
      minhash: MinhashConfig =
        MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
          threshold = 0.5),
      // pluggable quality stage: (text, tokens) → score, gated by
      // minQuality exactly like the default heuristic — the hook a
      // TRAINED scorer plugs into
      // ([[QualityModels.perceptronQuality]] adapts a trained dense
      // perceptron; any row-local Column program qualifies). Must be a
      // pure per-row function so the batch and incremental forms stay
      // observationally equal; null scores fail the gate and land in
      // the audit ledger as quality drops, like every other score.
      qualityExpr: Option[(Column, Column) => Column] = None)

  /** `kept` is the curated corpus (id, text — text REDACTED);
    * `stageCounts` is the per-stage survivor accounting (empty unless
    * requested — each count is an extra action); `audit` (present iff
    * `withAudit`) is the drop ledger: one row per REMOVED document,
    * (id, stage, kept_id) where `stage` names the first pipeline stage
    * that dropped it (quality | repetition | decontaminate | exact_dup
    * | near_dup) and `kept_id` is the surviving document that superseded
    * it (dedup stages only; null for the filters). `kept.ids ∪ audit.ids`
    * partitions the input ids — every document is either in the corpus
    * or in the ledger with a reason, which is the provenance question
    * ("where did my document go") a 100 TB curation run gets asked. */
  final case class CurateResult(kept: DataFrame,
                                stageCounts: Seq[(String, Long)],
                                audit: Option[DataFrame] = None)

  /** [[preFilter]]'s product: the decontaminated (id, text) frame, the
    * scored frame (pass-flag accounting), and the ids the
    * decontamination stage removed outright (lazy plans — they cost
    * nothing unless acted on). */
  private[graft] final case class PreFiltered(decon: DataFrame,
                                                  scored: DataFrame,
                                                  deconDropped: DataFrame)

  /** Stages 1–3 (quality + repetition filter, PII redaction,
    * decontamination) as a (id, redacted text) frame — row-local against
    * a static eval set, so shared verbatim by the batch [[curate]] and
    * the incremental [[CurationStore]]. `scored` (with the pass flags)
    * is returned alongside for the survivor accounting.
    *
    * `stageForAudit` materializes the two frames the AUDIT arms re-read
    * (the scored frame and the decontamination drop ids): without it,
    * each audit arm re-runs the tokenize→score scan (quality and
    * repetition arms) and the eval-gram join (decontaminate arm) —
    * measured as the dominant re-execution in an audited ingest. The
    * staged scored frame also serves the redaction input and the
    * survivor accounting, so the expensive per-row scoring runs exactly
    * once per audited run. Unaudited runs skip both stagings (the arms
    * are never acted on — staging would be pure cost).
    *
    * A LOCAL input of at most `maxDriverDocs` rows (a small curation
    * delta's collected batch; 0 forces the Spark plans) is already
    * on the driver: the same Column program folds into local relations
    * (Catalyst's ConvertToLocalRelation evaluates Project/Filter over a
    * LocalRelation on the driver), so there is no widening and no
    * staging — each frame the Spark route would stage is settled
    * ([[DriverRoute.settle]]) and nothing starts a job. With
    * `evalGrams` (the eval n-grams on the driver, [[Decontamination.evalGramSet]])
    * the drop-policy decontamination of a local input is a driver set
    * test over the same `ngrams(tokens(text))` projection; surgical
    * decontamination keeps its plans. */
  private[graft] def preFilter(docs: DataFrame, idCol: String,
      textCol: String, evalTexts: Option[DataFrame], evalTextCol: String,
      cfg: CurateConfig, stage: DataFrame => DataFrame,
      stageForAudit: Boolean = false,
      evalGrams: Option[() => Set[String]] = None,
      maxDriverDocs: Long = MinhashStore.MaxDriverPreFilterDocs)
      : PreFiltered = {
    // the pipeline's per-row work (tokenize → score → redact → excise)
    // is the expensive part, and a SMALL corpus often arrives as one
    // parquet file = one scan partition, serializing all of it on one
    // core while 31 idle (measured: 4s single-threaded for 5k docs at
    // sf0.1). Widen tight layouts up to the session's parallelism — a
    // driver-side branch on the plan's partition count, so a
    // warehouse-scale input (partitions >> cores) keeps its layout and
    // pays no exchange. The widened frame is materialized EAGERLY:
    // a bare repartition is porous (Catalyst pushes the deterministic
    // score filter below the exchange, right back onto the one-task
    // scan — measured, the whole win disappears); the checkpoint is a
    // real barrier, and at ≤ a few MB it costs nothing.
    // TWO gates, both driver-side metadata reads: partition count (the
    // serialization symptom) AND the optimizer's size estimate (the
    // same stats read BigQueryWarehouse.load sizes its route by). A
    // few-partition input is NOT always small — non-splittable
    // compressed files, or a frame coalesced upstream, can carry many
    // GB in two partitions, and eagerly checkpointing those would
    // materialize the lot to executor memory/disk where the stage
    // pipeline streams. Above the cap, keep the layout: the per-row
    // work is slower on few cores but never explodes storage.
    val local = DriverRoute.isLocal(docs, maxDriverDocs)
    val widened = if (local) docs else {
      val par = docs.sparkSession.sparkContext.defaultParallelism
      val srcParts = docs.rdd.getNumPartitions
      val estBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      if (srcParts < math.min(par, 32) && estBytes <= BigInt(256L << 20))
        docs.repartition(par).localCheckpoint(true)
      else docs
    }
    val staged = if (local) stageOrSettle(stage) _ else stage
    val base = widened.select(col(idCol).as("id"), col(textCol).as("text"))
    // one tokenization feeds both scores (lambda-capture rule: tokens
    // bound to a column first, scores staged off it)
    val scoredRaw = base
      .select(col("id"), col("text"),
        TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("id"), col("text"),
        cfg.qualityExpr
          .map(f => f(col("text"), col("__toks")))
          .getOrElse(TextFunctions.qualityScoreFromTokens(col("text"),
            col("__toks")))
          .as("__q"),
        TextFunctions.duplicateNgramFraction(col("__toks"), cfg.repN)
          .as("__rep"))
    val scored = if (stageForAudit) staged(scoredRaw) else scoredRaw
    val redactedRaw = scored
      .filter(qPass(cfg) && rPass(cfg))
      .select(col("id"), TextFunctions.redactPii(col("text")).as("text"))
    // decontamination reads the redacted corpus TWICE (the n-gram side
    // of the contamination join and the anti-join left side) — stage it
    // first or the tokenize→score→redact chain runs twice per action
    val redacted =
      if (evalTexts.isDefined || local) staged(redactedRaw) else redactedRaw
    val (decon, deconDropped) = evalTexts match {
      case Some(ev) if cfg.surgicalDecon =>
        // minSpan = n: every shared gram is excised, so the REMOVED text
        // is exactly what the drop policy would have flagged. Untouched
        // docs bypass the excision (anti-join) so their bytes are
        // identical to the non-surgical path's survivors.
        // the span plan (positioned gram hashes + eval semi-join +
        // island-merge window) is read three times below — spanIds'
        // semi-join, the excision span side, spanIds' anti-join — so
        // stage it like `redacted`, or it re-executes per reference
        val spans = staged(Decontamination.contaminationSpans(redacted, "id",
          "text", ev, evalTextCol, cfg.deconN, minSpan = cfg.deconN))
        val spanIds = spans.select("id").distinct()
        val excised = Dedup.exciseSpans(
            redacted.join(spanIds, Seq("id"), "left_semi"), "id", "text",
            spans)
          .filter(length(col("text")) > 0)
          .select("id", "text")
        // dropped = docs whose every token sat inside an excised span
        // (the excision emptied them) — flagged docs minus the excised
        // survivors
        val dropped = spanIds.join(excised.select("id"), Seq("id"), "left_anti")
        (redacted.join(spanIds, Seq("id"), "left_anti")
          .unionByName(excised), dropped)
      case Some(_) if local && evalGrams.isDefined && DriverRoute.isLocal(redacted) =>
        val grams = evalGrams.get()
        val hit = Decontamination.docGrams(redacted, "id", "text", cfg.deconN)
          .collect().collect {
            case r if !r.isNullAt(1) && r.getSeq[String](1).exists(grams) => r.get(0)
          }
        val flagged = coalesce(col("id").isInCollection(hit), lit(false))
        (redacted.filter(!flagged), redacted.filter(flagged).select("id"))
      case Some(ev) =>
        // audited runs read the flagged ids TWICE (the anti-join here
        // and the ledger's decontaminate arm) — stage the ids-only
        // frame so the eval-gram join runs once
        val contaminatedRaw = Decontamination.contaminatedIds(redacted,
          "id", "text", ev, evalTextCol, cfg.deconN)
        val contaminated =
          if (stageForAudit) staged(contaminatedRaw) else contaminatedRaw
        (redacted.join(contaminated, Seq("id"), "left_anti"), contaminated)
      case None => (redacted, redactedRaw.select("id").limit(0))
    }
    PreFiltered(decon, scored, deconDropped)
  }

  /** Host-reputation gate for [[curate]] / [[CurationStore]]: keep only
    * documents whose `keyCol` value is a node the link graph promotes —
    * rank_fp strictly above `minRankFp` in `ranks`, a PRECOMPUTED
    * [[Graph.pageRank]] output (compute the ranks once per crawl epoch,
    * amortized across every curation run, the [[Graph.authorityGate]]
    * contract). Dropped docs land in the audit ledger under stage
    * "authority" with no winner — the provenance answer for "where did
    * my host go". Like `evalTexts`, the ranks table is STATIC input, so
    * gating stays a pure per-doc predicate and the batch ≡ incremental
    * curation contract is preserved; the comparison runs on the exact
    * fixed-point rank, so the kept set is deterministic. The gate runs
    * FIRST — a reputation drop is the cheapest filter in the chain (an
    * ids-only semi-join, no tokenization), so at crawl scale it should
    * shed whole hosts before any per-row text work. */
  final case class AuthorityGate(ranks: DataFrame, keyCol: String,
                                 minRankFp: Long) {
    private[operators] def promoted: DataFrame =
      ranks.filter(col("rank_fp") > minRankFp)
        .select(col("node").as(keyCol))
    private[operators] def keep(docs: DataFrame): DataFrame =
      docs.join(promoted, Seq(keyCol), "left_semi")
    private[operators] def droppedIds(docs: DataFrame,
                                      idCol: String): DataFrame =
      docs.join(promoted, Seq(keyCol), "left_anti")
        .select(col(idCol).as("id"))
  }

  /** Run the full curation pipeline over `docs`. Ids must be integral
    * and unique (connected components requires integral labels).
    * `evalTexts` enables the decontamination stage; `withCounts` adds
    * the survivor accounting (three extra jobs: one aggregate over the
    * scored scan, one count of the decontaminated set, one of the kept
    * set — the exact-dedup count is free off the checkpoint);
    * `authority` prepends the host-reputation stage (see
    * [[AuthorityGate]] — `docs` must then carry its key column). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             evalTexts: Option[DataFrame] = None,
             evalTextCol: String = "text",
             cfg: CurateConfig = CurateConfig(),
             withCounts: Boolean = false,
             withAudit: Boolean = false,
             stage: DataFrame => DataFrame = _.localCheckpoint(true),
             authority: Option[AuthorityGate] = None)
      : CurateResult =
    // the pipeline's transforms are string-heavy over ~KB texts; size
    // the scan batches to heap-per-slot FOR THIS CALL (the staged
    // checkpoints execute every wide scan inside it) and restore after
    graft.core.WideScan.withScanSizing(docs.sparkSession) {
    val gated = authority.map(_.keep(docs)).getOrElse(docs)
    val pf = preFilter(gated, idCol, textCol, evalTexts, evalTextCol, cfg,
      stage, stageForAudit = withAudit)
    val scored = pf.scored
    // the audit's exact-dup loser scan is a second read of the
    // decontaminated frame — materialize it once rather than re-running
    // the redaction/anti-join chain per consumer
    val decon = if (withAudit) stage(pf.decon) else pf.decon
    // audited: one staged ids-only hash window serves BOTH the exact
    // keep set and the loser arm (see Dedup.exactIdWindow — the text
    // column stays out of the window shuffle and the hashing runs once)
    val exactHashed =
      if (withAudit) Some(stage(Dedup.exactIdWindow(decon, "id", "text")))
      else None
    val exact = stage(exactHashed match {
      case Some(h) => decon.join(
        h.filter(col("__rn") === 1).select("id"), Seq("id"), "left_semi")
      case None => Dedup.exact(decon, "id", "text")
    })
    val mh = cfg.minhash
    // the near-dup plan reads its tokenize→shingle→hash staging three
    // times (banding + both verification joins) — materialize the
    // combined (id, mins, hset) pass once and let the pair plan read it
    val mhStaged = stage(Dedup.minhashCombined(exact, "id", "text",
      mh.shingleN, mh.bands, mh.rowsPerBand, mh.seed))
    val pairs = Dedup.minhashPortablePairsFrom(mhStaged, mh.bands,
      mh.rowsPerBand, mh.threshold, mh.maxBucket)
    // pairs → clusters → keep the min-id doc per near-dup component
    // (comp IS the component's min id, so "drop" = label rows where
    // comp < id; docs in no pair never appear in labels and are kept)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val kept = exact.join(
      labels.filter(col("comp") < col("id")).select("id"),
      Seq("id"), "left_anti")
    val counts =
      if (!withCounts) Nil
      else {
        // one aggregate scan covers gate survivors + both filter
        // stages; the decon count re-runs only the staged-redacted
        // anti-join; the exact and kept counts read checkpointed frames
        val qr = scored.agg(
          count(lit(1)).as("nin"),
          count(when(qPass(cfg), lit(1))).as("nq"),
          count(when(qPass(cfg) && rPass(cfg), lit(1))).as("nr")).head()
        val nDec = decon.count()
        val nEx = exact.count()
        val nKept = kept.count()
        // with an authority gate, "input" is the PRE-gate count (one
        // extra job) and the scored scan's row count becomes the gate's
        // survivor line — every stage still reads "rows surviving it"
        val head = authority match {
          case Some(_) => Seq("input" -> docs.count(),
            "authority" -> qr.getLong(0))
          case None => Seq("input" -> qr.getLong(0))
        }
        head ++ Seq("quality" -> qr.getLong(1),
          "repetition" -> qr.getLong(2), "decontaminate" -> nDec,
          "exact_dedup" -> nEx, "near_dedup" -> nKept)
      }
    val audit =
      if (!withAudit) None
      else {
        val idType = decon.schema("id").dataType
        val noWinner = lit(null).cast(idType).as("kept_id")
        def row(ids: DataFrame, stageName: String) = ids
          .select(col("id"), lit(stageName).as("stage"), noWinner)
        // each doc appears at most once: every arm filters on "survived
        // all earlier stages" by construction (the pipeline is a chain)
        val authorityDropped = authority match {
          case Some(a) => row(a.droppedIds(docs, idCol), "authority")
          case None => row(scored.select("id").limit(0), "authority")
        }
        val qualityDropped = row(scored.filter(!qPass(cfg)), "quality")
        val repDropped =
          row(scored.filter(qPass(cfg) && !rPass(cfg)), "repetition")
        val deconDropped = row(pf.deconDropped, "decontaminate")
        val exactDropped = exactHashed.get.filter(col("__rn") > 1)
          .select(col("id"), lit("exact_dup").as("stage"),
            col("__win").cast(idType).as("kept_id"))
        val nearDropped = labels.filter(col("comp") < col("id"))
          .select(col("id"), lit("near_dup").as("stage"),
            col("comp").cast(idType).as("kept_id"))
        Some(authorityDropped.unionByName(qualityDropped)
          .unionByName(repDropped)
          .unionByName(deconDropped).unionByName(exactDropped)
          .unionByName(nearDropped))
      }
    CurateResult(kept, counts, audit)
    }

  /** One ingest's delta: `kept` = batch docs entering the curated corpus
    * (id, redacted text); `retracted` = ids of PREVIOUSLY kept docs that
    * lost their component-minimum status because the batch's pairs
    * merged their component with a lower-id one. The curated corpus
    * after n ingests is ∪ keptᵢ − ∪ retractedᵢ (retraction is monotone:
    * component minima only decrease).
    *
    * `audit` (present iff the ingest requested it): the batch's drop
    * ledger — one row (id, stage, kept_id) per batch document the ingest
    * did NOT keep, same stage vocabulary as [[CurateResult.audit]].
    * `kept_id` is the PROXIMATE winner at drop time: for an in-batch
    * exact dup the batch's min-id copy, for a store-known text the id
    * that first ingested it, for a near-dup the component minimum as of
    * this ingest. Following kept_id chains across ingests reaches the
    * ultimate survivor; retractions of PREVIOUS batches' winners are the
    * `retracted` half, not audit rows. batch ids = kept ∪ audit ids
    * (disjoint), per ingest. */
  final case class CurateDelta(kept: DataFrame, retracted: DataFrame,
                               audit: Option[DataFrame] = None)

  /** [[CurationStore]]'s exact step on the driver — see its `exactOnDriver`. */
  private final case class DriverExact(window: Option[DataFrame],
                                       store: Option[DataFrame], fresh: DataFrame)

  /** Incremental curation — the production form of [[curate]]: per-batch
    * ingest against persisted state instead of a full-corpus recompute.
    * State under `root` (all ids + hashes + labels, never raw text
    * beyond the redacted survivors' shingle hashes):
    *
    *  - an exact-dedup hash store (128-bit text hash pairs, bucketed) —
    *    membership = "an identical doc was already kept";
    *  - a [[MinhashStore]] over the exact survivors — near-dup pairs of
    *    each batch against everything curated so far;
    *  - the current (id, comp) component labels, updated by
    *    [[Dedup.connectedComponentsIncremental]].
    *
    * Every id in the labels is an earlier exact-dedup survivor: a label
    * id is an earlier label or an endpoint of a MinHash pair, and a pair
    * endpoint is a batch survivor or an id of the MinHash store, which
    * holds exactly the earlier survivors. So the ingest's retractions
    * follow from the two labelings alone — the previously kept ids that
    * the new labels drop and the previous ones did not.
    *
    * CONTRACT: batch ids strictly increase across ingests (enforced) —
    * that makes "first ingested" and "min id" agree, so the kept set
    * after any prefix of ingests equals [[curate]] on the union of those
    * batches (oracle-verified, q70). Retractions are REAL under this
    * contract: a new doc can bridge two earlier components, dethroning
    * the higher-id component's winner — consumers must apply both halves
    * of the delta.
    *
    * CRASH SEMANTICS: one ingest performs several state writes (hash
    * store, signature store, labels, max-id marker) — all of
    * them inside ONE [[graft.sources.StoreTxn]] transaction, including
    * the embedded [[MinhashStore.ingest]] (which joins the enclosing
    * transaction rather than committing its own). The component labels
    * are written as a versioned state directory and the max-id marker
    * rides in the commit record itself, so "marker advanced" IS "ingest
    * committed". A crash anywhere mid-ingest rolls back on the next
    * open and a blind retry converges — no external snapshot-restore
    * discipline, no duplicated signatures.
    *
    * SMALL DELTAS: a local checkpoint materializes the ingest's re-read
    * intermediates, but a batch within the pre-filter's driver gate
    * ([[MinhashStore.MaxDriverPreFilterDocs]]) is one driver program. One bounded
    * collect brings the batch's (id, text) rows to the driver; the id
    * bounds come from those rows; the pre-filter's Column program folds
    * over them with no job; decontamination tests each document's
    * n-grams against the eval n-grams this store collects once; the
    * in-batch exact winner is a driver group-by on the hash pair, and
    * store membership one bounded read of the exact table's rows whose
    * `__h1` is in the batch. The survivors are then local, so the
    * MinHash staging folds too. With the component labels local as
    * well, kept and retracted are driver set algebra and every state
    * write is one task. Nothing local is checkpointed. Over that
    * gate the collect cancels itself, at gate 0 it is not made, and
    * either way the Spark plans run as before up to the exact-dedup
    * survivors, which a batch within [[MinhashStore.MaxDriverDocs]]
    * collects.
    *
    * RESIDENCY: an instance that fills a store keeps the rows of its
    * four key tables — the exact-hash table, the MinHash signature and
    * set tables and the component labels — on the driver as of one
    * commit epoch, so a warm small delta answers its exact-membership,
    * bucket, set and labels lookups from memory and reads no store table.
    * The state starts empty at a driver-route ingest into a root with no
    * committed ingest of this store (checked inside the transaction),
    * and each committed ingest whose writes were all local relations
    * grows it by those rows; [[compact]] rewrites the rows unchanged and
    * carries it to the epoch it commits. An ingest uses the state only
    * while its epoch is the transaction's epoch − 1, so another
    * instance's or process's commit drops it. It is also dropped by an
    * ingest with a Spark-route write, by a nested ingest or compaction
    * (it joins its caller's open transaction, which may hold other
    * writes to these tables) and once it holds more than
    * [[CurationStore.MaxResident]] rows plus set elements. A dropped
    * state is not rebuilt: the instance, like one opened on a store it
    * did not fill, reads the rows a delta touches per key. A failed or
    * rolled-back ingest or compaction puts back the state it found: its
    * epoch is still the committed one. The state serves the same rows
    * those reads return, so routing, pairing, the exact winner and the
    * audit are the same code on either source; the instance's lock
    * guards it (a streaming sink reuses one instance across
    * micro-batches). */
  final class CurationStore(spark: org.apache.spark.sql.SparkSession,
                            root: String, name: String,
                            cfg: CurateConfig = CurateConfig(),
                            evalTexts: Option[DataFrame] = None,
                            evalTextCol: String = "text",
                            authority: Option[AuthorityGate] = None) {
    private val wh = new graft.sources.Warehouse(spark, root)
    private[graft] def storeRoot: String = root
    private val mh = new MinhashStore(wh, s"${name}_cur", cfg.minhash)
    private val exactSpec = StoreCompaction.TableSpec(s"${name}_cur_exact")
    private def exactTable = wh.live(exactSpec.base)
    /** The store's bucketed tables: the embedded MinHash store's two and
      * the exact-hash membership table. */
    private[graft] def tables = mh.tables :+ exactSpec
    private val labelsState = s"${name}_labels"
    private val maxIdKey = s"${name}_maxid"
    // the eval n-grams on the driver for a local delta's decontamination,
    // collected once per store: eval texts are static input
    private lazy val evalGramSet: Set[String] =
      Decontamination.evalGramSet(evalTexts.get, evalTextCol, cfg.deconN)

    /** Highest id any COMMITTED ingest has seen (None before the first).
      * The marker lives in the transaction's commit record, so it is
      * readable iff the WHOLE ingest published — the "did that ingest
      * finish?" signal the streaming wrapper
      * ([[graft.streaming.Streaming.curateBatch]]) keys its redelivery
      * skip on. */
    def maxIngestedId: Option[Long] =
      graft.sources.StoreTxn.getKv(root, maxIdKey).map(_.toLong)

    /** `beforeCommit` runs with the materialized delta AFTER all delta
      * computation but BEFORE the ingest's transaction commits. A sink
      * that persists the delta there is durable before the max-id
      * marker publishes (the marker IS part of the commit record), so
      * "marker advanced" implies "delta landed" — the property the
      * streaming wrapper's redelivery skip relies on. Failures inside
      * `beforeCommit` roll the whole ingest back like any other
      * mid-ingest failure. */
    def ingest(batch: DataFrame, idCol: String, textCol: String,
               beforeCommit: CurateDelta => Unit = _ => (),
               withAudit: Boolean = false)
        : CurateDelta =
      ingestGated(batch, idCol, textCol, beforeCommit, withAudit,
        MinhashStore.MaxDriverDocs, Dedup.DefaultMaxDriverEdges)

    /** [[ingest]] with the driver-route gates of its near-dup algebra
      * ([[MinhashStore.ingestParts]], [[Dedup.connectedComponentsIncremental]]);
      * 0 forces the Spark routes. */
    private[graft] def ingestGated(batch: DataFrame, idCol: String,
                                   textCol: String,
                                   beforeCommit: CurateDelta => Unit,
                                   withAudit: Boolean, maxDriverDocs: Long,
                                   maxDriverEdges: Long,
                                   maxResident: Long = CurationStore.MaxResident)
        : CurateDelta = {
      import spark.implicits._
      Pipeline.requireIntegralId(batch.schema, idCol, "CurationStore")
      // roll back any crashed prior ingest BEFORE the orphan scan below:
      // its partial artifacts are legitimate rollback targets, not
      // orphans, and must not trip the no-commit-record check on a
      // blind retry
      graft.sources.StoreTxn.recoverIfIdle(spark, root)
      // a batch within the pre-filter's driver gate is collected once —
      // the columns the ingest reads — and every step up to the MinHash
      // store reads works on that local relation; over the gate the
      // collect cancels itself and the Spark plans below run unchanged
      val needed = batch.select(
        (Seq(idCol, textCol) ++ authority.map(_.keyCol)).distinct.map(col): _*)
      val batchRows = DriverRoute.collect(needed,
        math.min(maxDriverDocs, MinhashStore.MaxDriverPreFilterDocs),
        "curation.ingest/batch")
      val onDriver = batchRows.isDefined
      val input = batchRows.map(DriverRoute.local(spark, _, needed.schema))
        .getOrElse(batch)
      // id-monotonicity guard — a violation would silently flip exact-
      // dedup winners (store membership means "first ingested", the
      // full-corpus semantics mean "min id"; the contract makes them agree)
      val (minId, maxId, nullIds) = batchRows match {
        case Some(rows) =>
          val ids = rows.iterator.filterNot(_.isNullAt(0))
            .map(_.getAs[Number](0).longValue).toSeq
          (ids.minOption, ids.maxOption, rows.count(_.isNullAt(0)).toLong)
        case None =>
          val b = batch.agg(min(col(idCol)).cast("long"),
            max(col(idCol)).cast("long"), count(lit(1)) - count(col(idCol))).head()
          (Option.when(!b.isNullAt(0))(b.getLong(0)),
            Option.when(!b.isNullAt(1))(b.getLong(1)), b.getLong(2))
      }
      // a null id has no place in the id order the contract rests on
      require(nullIds == 0,
        s"CurationStore '$name': $nullIds batch rows have a " +
          s"null id ('$idCol') — every ingested document needs an id")
      if (minId.isEmpty) // empty batch: nothing to do, state untouched
        return CurateDelta(spark.emptyDataset[(Long, String)]
          .toDF("id", "text"), spark.emptyDataset[Long].toDF("id"),
          if (withAudit) Some(spark.emptyDataset[(Long, String, Option[Long])]
            .toDF("id", "stage", "kept_id"))
          else None)
      val prevMax = maxIngestedId.getOrElse {
        // no committed ingest on record — any existing store artifact
        // is then an orphan: a pre-transactional (legacy) layout or a
        // corrupted root. Trusting "never ingested" would re-append
        // its exact hashes and signatures (the double-posting the
        // marker exists to prevent) and reset every component label,
        // so refuse instead of silently starting over on top of it.
        val orphans = (Seq(s"state/${name}_maxid", s"state/$labelsState") ++
            tables.map(t => s"warehouse/${t.base}"))
          .flatMap(graft.sources.StoreTxn.copies(root, _))
        require(orphans.isEmpty,
          s"CurationStore '$name' at $root has store artifacts but no " +
            s"committed ingest record (${orphans.mkString(", ")}) — a " +
            "pre-transactional store cannot be ingested over; rebuild " +
            "under a fresh root (or restore this one from snapshot)")
        Long.MinValue
      }
      require(minId.get > prevMax,
        s"batch ids must exceed all previously ingested ids " +
          s"(batch min ${minId.get} <= store max $prevMax)")

      // a nested ingest joins its caller's transaction, which may hold
      // other writes to these tables and commits later: it neither uses
      // nor keeps the state
      val nested = graft.sources.StoreTxn.isOpen(root)
      // the state this ingest claimed, put back if it fails: nothing
      // extends it before the commit, and a rollback restores its epoch
      var claimed = false
      var state: Option[Resident] = None
      // wide-string scans all execute inside the transaction's staged
      // materializations — tighten scan sizing for the call, restore after
      val (delta, growth, epoch) = try graft.core.WideScan.withScanSizing(spark) {
      graft.sources.StoreTxn.transact(spark, root) {
      val txn = graft.sources.StoreTxn.current(root)
      val held = claimResident()
      claimed = true
      // a state starts only where there is nothing to hold: the commit
      // record this transaction builds on has no ingest of this store
      state = if (maxResident <= 0 || nested) None
        else held.filter(_.epoch == txn.epoch - 1).orElse(Option.when(
          onDriver && maxIngestedId.isEmpty)(new Resident(txn.epoch - 1)))
      val stage: DataFrame => DataFrame = _.localCheckpoint(true)
      // a local frame is settled where the Spark route stages (no job)
      val staged = if (onDriver) stageOrSettle(stage) _ else stage
      // host-reputation gate first (the curate ordering): the ranks are
      // static input like evalTexts, so the batch ≡ full-corpus
      // equivalence survives — every batch is gated by the same
      // predicate the one-shot run applies. On the driver route the
      // gated rows are collected (one job) so the chain stays local.
      val gatedBatch = authority.fold(input) { a =>
        val kept = a.keep(input)
        if (!onDriver) kept
        else DriverRoute.collect(kept, maxDriverDocs, "curation.ingest/authority")
          .map(DriverRoute.local(spark, _, kept.schema)).getOrElse(kept)
      }
      val pf =
        preFilter(gatedBatch, idCol, textCol, evalTexts, evalTextCol, cfg,
          stage, stageForAudit = withAudit,
          evalGrams = evalTexts.map(_ => () => evalGramSet),
          maxDriverDocs = if (onDriver) maxDriverDocs else 0L)
      // the audit's exact-loser pass re-reads the decontaminated frame —
      // materialize it once rather than re-running the redaction chain
      val decon = if (withAudit) staged(pf.decon) else pf.decon
      // exact dedup vs the hash store: in-batch winner per 128-bit text
      // hash, then membership anti-join (bucketed on the hash pair, so
      // the store side never shuffles). Hash-only membership carries the
      // same negligible collision odds as Dedup.exact(verify = false).
      // AUDITED runs stage ONE ids-only hash window
      // ([[Dedup.exactIdWindow]]) that serves the batch winners, the
      // in-batch loser arm AND the store-dup arm — the old shape re-ran
      // the hash+window (with the text column in the window shuffle)
      // once per consumer. A local batch takes [[exactOnDriver]].
      val hashed = Dedup.hashPair(decon, "text")
      // read resident or not: its owner-column check refuses a table of
      // an earlier format
      val tableExact = Option.when(wh.exists(exactTable)) {
        val st = wh.readBucketed(exactTable)
        // the owner id attributes a store-dup drop to its kept document
        require(st.columns.contains("id"),
          s"CurationStore '$name': $exactTable has no owner id column — it " +
            "was written by an earlier format; rebuild under a fresh root")
        st
      }
      // the store rows of a set of __h1 values, from the state or read
      val exactRows: Option[(StructType, Seq[Long] => Option[Seq[Row]])] =
        state match {
          case Some(r) => r.exactSchema.map(schema =>
            schema -> ((h1s: Seq[Long]) => r.exactRows(h1s, maxDriverDocs)))
          case None => tableExact.map(st => st.schema -> (h1s => DriverRoute.collect(
            st.filter(col("__h1").isInCollection(h1s)), maxDriverDocs,
            "curation.ingest/exact").map(_.toSeq)))
        }
      val driverExact =
        if (onDriver && DriverRoute.isLocal(hashed))
          exactOnDriver(hashed, exactRows, withAudit)
        else None
      val exactHashed = driverExact match {
        case Some(d) => d.window
        case None if withAudit =>
          Some(staged(Dedup.exactIdWindow(decon, "id", "text")))
        case None => None
      }
      val storeExact = driverExact.fold(tableExact)(_.store)
      val fresh = driverExact.map(_.fresh).getOrElse {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__h1", "__h2").orderBy(col("id"))
        val batchWinners = exactHashed match {
          case Some(h) => decon.join(
            h.filter(col("__rn") === 1).select("id", "__h1", "__h2"),
            Seq("id"))
          case None => hashed
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
        val freshPlan = storeExact match {
          case Some(st) =>
            batchWinners.join(st, Seq("__h1", "__h2"), "left_anti")
          case None => batchWinners
        }
        // a delta within the MinHash driver gate is collected — the
        // documents that route collects anyway, in one job like the
        // checkpoint it replaces — and every later step reads it locally
        DriverRoute.collect(freshPlan, maxDriverDocs, "curation.ingest/exact")
          .map(DriverRoute.local(spark, _, freshPlan.schema))
          .getOrElse(stage(freshPlan))
      }
      val survivors = fresh.select("id", "text")
      // near-dup pairs of the batch survivors vs everything curated —
      // the embedded store's ingest JOINS this transaction (same root).
      // Its two signature-table appends depend only on the staged batch
      // frames and nothing below reads those tables, so they run on
      // Par.both's worker under the label/delta/state work of this
      // thread; both legs join before the commit marker, and before a
      // rollback when either leg throws
      val (pairs, mhAppend, mhRows) = mh.ingestRows(survivors, "id", "text",
        maxDriverDocs, state.map(_.minhash))
      val ((delta, labels), _) = graft.core.Par.both({
      // the labels collect of the components' driver fold, made here so
      // the delta algebra below reads the same local rows
      val prevLabels = state.map(_.labels)
        .filter(l => maxDriverEdges > 0 && l.length <= maxDriverEdges) match {
          case Some(l) => DriverRoute.local(spark, l.toSeq, LabelsSchema)
          case None =>
            val prevRead = readLabels
            DriverRoute.collect(prevRead, maxDriverEdges, "curation.ingest/labels")
              .map(DriverRoute.local(spark, _, LabelsSchema)).getOrElse(prevRead)
        }
      // a local relation or internally checkpointed — safe to version below
      val labels = Dedup.connectedComponentsIncremental(prevLabels, pairs,
        "id_a", "id_b", maxDriverEdges = maxDriverEdges)
      // the retractions in the batch's id type (labels are long pairs)
      val idType = survivors.schema("id").dataType
      def retractions(ids: DataFrame) = ids.select(col("id").cast(idType).as("id"))
      // deltas materialized BEFORE the state writes below — their plans
      // read the labels this ingest is about to replace. The newly
      // dropped ids (now − previously dropped) that are in the batch
      // leave `kept`; the older ones are the retractions (every label id
      // is an earlier survivor — see the class doc). With survivors and
      // both labelings local that is set algebra on the driver (no job);
      // otherwise the two plans run and checkpoint side by side.
      def deltas: (DataFrame, DataFrame) =
        if (Seq(survivors, labels, prevLabels).forall(DriverRoute.isLocal)) {
          def dropped(l: DataFrame) =
            l.filter(col("comp") < col("id")).select("id").as[Long].collect().toSet
          val (old, inBatch) = (dropped(labels) -- dropped(prevLabels))
            .partition(_ < minId.get)
          (survivors.filter(!coalesce(col("id").cast("long")
              .isInCollection(inBatch), lit(false))),
            retractions(old.toSeq.sorted.toDF("id")))
        } else {
          val nowDropped = labels.filter(col("comp") < col("id")).select("id")
          val prevDropped = prevLabels.filter(col("comp") < col("id")).select("id")
          graft.core.Par.both(
            survivors.join(nowDropped, Seq("id"), "left_anti").localCheckpoint(true),
            retractions(nowDropped.filter(col("id") < minId.get)
              .join(prevDropped, Seq("id"), "left_anti")).localCheckpoint(true))
        }
      // the ledger must materialize BEFORE the state writes too: the
      // store-dup arm reads the pre-append exact table, the near-dup arm
      // this ingest's labels — both replaced by the writes below
      val auditPlan =
        if (!withAudit) None
        else {
          def ledger(ids: DataFrame, stageName: String) = ids
            .select(col("id").cast("long").as("id"),
              lit(stageName).as("stage"),
              lit(null).cast("long").as("kept_id"))
          val inBatchDup = exactHashed.get.filter(col("__rn") > 1)
            .select(col("id").cast("long").as("id"),
              lit("exact_dup").as("stage"),
              col("__win").cast("long").as("kept_id"))
          val storeDup = storeExact match {
            case Some(st) =>
              exactHashed.get.filter(col("__rn") === 1)
                .select(col("id"), col("__h1"), col("__h2"))
                .join(st.select(col("__h1"), col("__h2"),
                  col("id").as("__owner")), Seq("__h1", "__h2"))
                .select(col("id").cast("long").as("id"),
                  lit("exact_dup").as("stage"),
                  col("__owner").cast("long").as("kept_id"))
            case None => spark.emptyDataset[(Long, String, Option[Long])]
              .toDF("id", "stage", "kept_id")
          }
          val nearDup = labels.filter(col("comp") < col("id"))
            .join(survivors.select("id"), Seq("id"), "left_semi")
            .select(col("id").cast("long").as("id"),
              lit("near_dup").as("stage"),
              col("comp").cast("long").as("kept_id"))
          val authorityRows = authority match {
            case Some(a) => ledger(a.droppedIds(input, idCol), "authority")
            case None => ledger(pf.scored.select("id").limit(0), "authority")
          }
          Some(authorityRows
            .unionByName(ledger(pf.scored.filter(!qPass(cfg)), "quality"))
            .unionByName(
              ledger(pf.scored.filter(qPass(cfg) && !rPass(cfg)),
                "repetition"))
            .unionByName(ledger(pf.deconDropped, "decontaminate"))
            .unionByName(inBatchDup).unionByName(storeDup)
            .unionByName(nearDup))
        }
      // the delta materializations read only pre-write state and staged
      // frames — independent of each other (and of the signature appends
      // on the other leg), so they overlap (guide: fill idle capacity
      // with concurrent independent jobs)
      val ((kept, retracted), audit) = graft.core.Par.both(deltas,
        auditPlan.map(_.localCheckpoint(true)))
      beforeCommit(CurateDelta(kept, retracted, audit))
      // labels are overwrite-shaped → a fresh versioned directory the
      // commit record publishes (an in-place overwrite could not be
      // rolled back). The owner id rides with each hash pair so later
      // ingests can attribute a store-dup drop to the document that holds
      // the text. The two state writes target disjoint directories and read
      // staged frames — overlap them (Par rationale: each is a
      // sub-second fixed-cost write; txn registration happens on THIS
      // thread before the writes start). Local labels are written by one
      // task, as one file.
      val labelsDir = txn.newVersion(s"state/$labelsState")
      graft.core.Par.both(
        (if (DriverRoute.isLocal(labels)) labels.coalesce(1) else labels)
          .write.options(graft.sources.LocalFs.writeOptions).parquet(labelsDir),
        wh.appendBucketed(exactTable, fresh.select("__h1", "__h2", "id"),
          Seq("__h1", "__h2"), cfg.minhash.nStoreBuckets))
      (CurateDelta(kept, retracted, audit), labels)
      }, mhAppend())
      // the signature appends are durably done here, before the marker
      // publishes (commit is all-or-nothing per table set)
      txn.putKv(maxIdKey, math.max(maxId.get, prevMax).toString)
      // what this ingest wrote, when every write was a local relation —
      // the state grows by it once the commit returns
      val growth = for {
        _ <- state
        rows <- mhRows
        if DriverRoute.isLocal(fresh) && DriverRoute.isLocal(labels)
      } yield {
        val exactRows = fresh.select("__h1", "__h2", "id")
        Growth(exactRows.collect(), exactRows.schema, rows, labels.collect())
      }
      (delta, growth, txn.epoch)
      }
      } catch { case e: Throwable =>
        if (claimed) installResident(state)
        throw e
      }
      installResident(growth.flatMap(g => state.flatMap(_.grown(epoch, g, maxResident))))
      delta
    }

    /** [[ingestGated]]'s exact step for a local `hashed` batch
      * (id, text, __h1, __h2) on the driver: the in-batch winner of each
      * hash pair is its minimum id, and store membership reads the rows
      * of the exact table (`table`: its schema and its rows of a set of
      * __h1 values, None when they are over the read's bound) whose __h1
      * is a winner's. `window` (with `withWindow`) is the batch in
      * [[Dedup.exactIdWindow]]'s shape and `store` the rows read, local
      * relations of the Spark route's schemas for its audit arms; `fresh`
      * is the winners the store does not hold. */
    private def exactOnDriver(hashed: DataFrame,
                              table: Option[(StructType, Seq[Long] => Option[Seq[Row]])],
                              withWindow: Boolean): Option[DriverExact] = {
      def id(r: Row): Long = r.getAs[Number](0).longValue
      val groups = hashed.collect().toSeq
        .groupBy(r => (r.getLong(2), r.getLong(3))).values.map(_.sortBy(id)).toSeq
      val winners = groups.map(_.head)
      val h1s = winners.map(_.getLong(2)).distinct
      val stored = table match {
        case Some((_, read)) if h1s.nonEmpty => read(h1s).getOrElse(return None)
        case _ => Nil
      }
      val held = stored.map(r => (r.getAs[Long]("__h1"), r.getAs[Long]("__h2"))).toSet
      val idField = hashed.schema("id")
      val window = Option.when(withWindow)(DriverRoute.local(spark,
        groups.flatMap(g => g.zipWithIndex.map { case (r, i) =>
          Row(r.get(0), r.getLong(2), r.getLong(3), i + 1, g.head.get(0)) }),
        StructType(Seq(idField, hashed.schema("__h1"), hashed.schema("__h2"),
          StructField("__rn", IntegerType, nullable = false),
          StructField("__win", idField.dataType)))))
      val fresh = winners.filterNot(r => held((r.getLong(2), r.getLong(3))))
      Some(DriverExact(window,
        table.map { case (schema, _) => DriverRoute.local(spark, stored, schema) },
        DriverRoute.local(spark, fresh, hashed.schema)))
    }

    // RESIDENCY (see the class doc): the state, guarded by this
    // instance's lock; an ingest claims it for its duration
    private var resident: Option[Resident] = None
    private def claimResident(): Option[Resident] = synchronized {
      val r = resident
      resident = None
      r
    }
    private def installResident(r: Option[Resident]): Unit = synchronized {
      resident = r
    }
    /** The resident state's footprint (rows plus set elements) and its
      * estimated heap bytes, if held. */
    private[graft] def residentSize: Option[(Long, Long)] =
      synchronized(resident.map(r => (r.footprint, r.bytes)))

    /** The committed (id, comp) labels, read with their known schema —
      * no schema-inference job per read. */
    private[graft] def readLabels: DataFrame = {
      val p = graft.sources.StoreTxn.live(root, s"state/$labelsState")
      if (new java.io.File(p).isDirectory) spark.read.schema(LabelsSchema).parquet(p)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), LabelsSchema)
    }

    /** Rewrite [[tables]] into new compact versions in one transaction
      * (every ingest appends one file set to each; a long-lived
      * maintenance sink otherwise pays per-file read overhead that grows
      * with stream age; the labels are one version per ingest already).
      * Rows identical everywhere — see [[StoreCompaction]]. */
    def compact(): Unit = {
      val nested = graft.sources.StoreTxn.isOpen(root)
      val held = claimResident()
      val epoch = try StoreCompaction.compact(wh, s"CurationStore '$name'", tables)
        catch { case e: Throwable => installResident(held); throw e }
      // the rows are unchanged: the state of the epoch the compaction
      // built on holds at the epoch it committed
      installResident(held.filter(r => !nested && r.epoch == epoch - 1)
        .map { r => r.epoch = epoch; r })
    }

    /** [[CurationStore]]'s resident state as of commit `epoch`. */
    private final class Resident(var epoch: Long) {
      var exactSchema: Option[StructType] = None
      val minhash = new MinhashStore.Resident
      private val exact =
        scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Row]]
      private var exactCount = 0L
      var labels: Array[Row] = Array.empty
      def footprint: Long = exactCount + labels.length + minhash.footprint
      def bytes: Long = org.apache.spark.util.SizeEstimator.estimate(
        Array[AnyRef](exact, labels, minhash))

      def addExact(r: Row): Unit = {
        exactCount += 1
        val h1 = r.fieldIndex("__h1")
        if (!r.isNullAt(h1))
          exact.getOrElseUpdate(r.getLong(h1), scala.collection.mutable.ArrayBuffer.empty) += r
      }

      /** The exact rows whose __h1 is in `h1s`; None over `maxRows`. */
      def exactRows(h1s: Seq[Long], maxRows: Long): Option[Seq[Row]] = {
        val rows = h1s.distinct.flatMap(exact.getOrElse(_, Nil))
        Option.when(maxRows > 0 && rows.size <= maxRows)(rows)
      }

      /** This state grown by one committed ingest's writes, as of
        * `committed`; None over `maxUnits`. */
      def grown(committed: Long, g: Growth, maxUnits: Long): Option[Resident] = {
        // as a read reports the table: the recorded schema, every field
        // nullable
        val schema = exactSchema.getOrElse(StructType(
          g.exactSchema.fields.map(_.copy(nullable = true))))
        g.exact.foreach(r => addExact(
          new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            Array(r.get(0), r.get(1), r.get(2)), schema)))
        exactSchema = Some(schema)
        mh.extendResident(minhash, g.mhRows)
        labels = g.labels
        epoch = committed
        Option.when(footprint <= maxUnits)(this)
      }
    }
  }

  object CurationStore {
    /** [[CurationStore]]'s residency bound in rows held plus set
      * elements — see its RESIDENCY paragraph. A driver-memory bound: the
      * state won at every store size ScaleProbe `resident` measured (4
      * vCPU, 120-token documents, warm 100-document deltas, 5 vs 8–9
      * jobs: 1.65 vs 2.57 s over 10³ documents, 1.40 vs 1.92 s over 10⁴,
      * 1.20 vs 2.25 s over 10⁵) and cost ~26 heap bytes per unit (34 MB
      * at 1.3M units, 334 MB at 12.7M). 2²² units is ~110 MB, about
      * 3·10⁴ such documents. */
    private[graft] val MaxResident: Long = 1L << 22
  }

  /** One committed driver-route ingest's writes: the exact rows
    * (__h1, __h2, id) and their schema, the MinHash batch's
    * (id, mins, hset) rows and the new labels. */
  private final case class Growth(exact: Array[Row], exactSchema: StructType,
                                  mhRows: Array[Row], labels: Array[Row])
}
