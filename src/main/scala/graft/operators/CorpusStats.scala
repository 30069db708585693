package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level token statistics feeding quality filters — signals that
  * need a full-corpus aggregation, unlike the row-local scores in
  * [[graft.functions.TextFunctions]].
  */
object CorpusStats {

  /** Per-document RARE-TOKEN ratio: the fraction of a doc's distinct
    * tokens whose corpus-wide document frequency is below `minDf`. A
    * high ratio flags gibberish, OCR noise, and boilerplate-free spam —
    * the model-free stand-in for a perplexity filter (a true LM score
    * needs `log`, which is not correctly-rounded-portable across
    * engines; counts and one final division are exact).
    *
    * Output: (id, n_distinct, n_rare, rare_ratio); zero-token docs
    * report (0, 0, 0.0). Two shuffles: the (token → df) aggregation
    * (partial-agg'd, vocabulary-sized output) and the per-doc
    * re-aggregation of the token explode after the df join — tokens and
    * ids only, never full text. */
  def rareTokenRatio(docs: DataFrame, idCol: String, textCol: String,
                     minDf: Long): DataFrame = {
    val docToks = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"), explode(array_distinct(col("__t"))).as("__tok"))
    // df via an unordered count window over the token partition, NOT a
    // separate aggregate joined back: the join form evaluates the
    // tokenize+explode subtree once per side — on a 120M-token corpus
    // the heaviest stage would run twice. One explode, one exchange on
    // token (the window), one on id (the rollup).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__tok")
    val perDoc = docToks
      .withColumn("__df", count(lit(1)).over(w)) // one row/doc/distinct tok
      .groupBy("id")
      .agg(count(lit(1)).as("n_distinct"),
        count(when(col("__df") < minDf, lit(1))).as("n_rare"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_distinct").isNull || col("n_distinct") === 0, lit(0.0))
          .otherwise(col("n_rare").cast("double")
            / col("n_distinct").cast("double"))
          .as("rare_ratio"))
  }

  /** Top-`topV` corpus vocabulary by total token count, with document
    * frequency — the seed for tokenizer training and the reference set
    * for [[oovRate]]. Ties at the cut break by token (ascending), so
    * the selected set is deterministic and engine-portable. Output:
    * (tok, cnt, df), descending by cnt. One input ROW is one document
    * (the documents-table contract everywhere in this library): df
    * counts rows containing the token — there is deliberately no id
    * column and no cross-row dedup.
    *
    * The df aggregate does NOT use `count_distinct` (Spark's distinct
    * rewrite goes through Expand — every exploded token row duplicated
    * into the exchange) and does NOT shuffle (tok, id) pairs at all:
    * per-document dedup is ROW-LOCAL via the native
    * [[graft.functions.expressions.TokenCounts]] kernel (one compiled
    * pass per row, no aggregation state), so what explodes is
    * one (tok, per-doc count) entry per DISTINCT token per doc. The
    * whole operator is then a single exchange — the tok rollup
    * (sum → cnt, count → df) — plus a TakeOrderedAndProject
    * (per-partition top-V heaps merged, never a global sort).
    *
    * Probed at 10M docs / 1.2B occurrences / 90M-token vocabulary
    * (BENCH_NOTES "Round 6: corpus-stats at 10M docs"). The earlier
    * (tok, id) pre-aggregate form ran a 1.2B-distinct-key hash aggregate whose map-side
    * partial combine recovers nothing on a near-unique key: two full
    * exchanges of the exploded stream and 37M-key per-task hash
    * states, which exhausted GC headroom under local[32]'s 0.25 GB/
    * thread (first presenting as a SPURIOUS GCLocker OutOfMemoryError
    * — see the GCLockerRetryAllocationCount note in build.sbt — then
    * as genuine churn). The row-local form removes that aggregate
    * entirely; at warehouse scale it halves shuffle IO and drops the
    * heaviest per-task state. */
  def vocabulary(docs: DataFrame, textCol: String,
                 topV: Int): DataFrame = {
    require(topV > 0, s"topV must be positive, got $topV")
    docs
      .select(docTokenCounts(col(textCol)).as("__e"))
      .select(explode(col("__e")).as("e"))
      .groupBy(col("e.tok").as("tok"))
      .agg(sum(col("e.c")).as("cnt"), count(lit(1)).as("df"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(topV)
  }

  /** Row-local (tok → within-row count) entries for one document via
    * the native [[graft.functions.expressions.TokenCounts]] kernel —
    * no aggregation state, nothing shuffled, one compiled pass per
    * row. (A composed higher-order form — array_sort + filter +
    * transform — computes the same thing, but Spark lambda functions
    * are interpreted; its ArraySort comparator dominated the 10M-doc
    * probe's stacks.) */
  private[operators] def docTokenCounts(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.expressions.ColumnBridge.tokenCounts(
      TextFunctions.tokens(text))

  /** Token-share DRIFT between two corpora — the distribution-shift
    * monitor for a continuously ingested corpus (is this week's crawl
    * drifting from the reference mix?): for the `topV` tokens by
    * combined count, each token's share of either corpus and the ratio
    * share_a/share_b. Deliberately PER-TOKEN: a scalar divergence (KL,
    * chi²) needs `log` or a cross-row float sum, neither of which is
    * bit-portable across engines — the per-token table is exact (counts
    * + single IEEE divisions per row), and the aggregate is the
    * caller's policy anyway. `drift_ratio` is null when either count is
    * zero (a token absent from one corpus has no finite ratio).
    *
    * Scale shape: one [[docTokenCounts]] explode+aggregate per corpus
    * (row-local dedup feeding the tok rollup — the [[vocabulary]]
    * plan, which is what survives the 10M probe), a full-outer join of
    * the two count tables, totals as one-row broadcast scalars (the
    * q31 watermark shape — bounded by contract). The totals
    * deliberately do NOT re-run the count aggregates: `sum(size(
    * tokens))` is a stateless streaming pass (no explode, no hash
    * state) over each corpus producing the identical integer. */
  def tokenShareDrift(corpusA: DataFrame, corpusB: DataFrame,
                      textCol: String, topV: Int): DataFrame = {
    require(topV > 0, s"topV must be positive, got $topV")
    def counts(df: DataFrame, cntCol: String) = df
      .select(explode(docTokenCounts(col(textCol))).as("e"))
      .groupBy(col("e.tok").as("tok")).agg(sum(col("e.c")).as(cntCol))
    def total(df: DataFrame, totCol: String) = df
      .agg(sum(size(TextFunctions.tokens(col(textCol))).cast("long"))
        .as(totCol))
    val ca = counts(corpusA, "cnt_a")
    val cb = counts(corpusB, "cnt_b")
    ca.join(cb, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .crossJoin(broadcast(total(corpusA, "__ta")))
      .crossJoin(broadcast(total(corpusB, "__tb")))
      .withColumn("share_a",
        col("cnt_a").cast("double") / col("__ta").cast("double"))
      .withColumn("share_b",
        col("cnt_b").cast("double") / col("__tb").cast("double"))
      .withColumn("drift_ratio",
        when(col("cnt_a") === 0 || col("cnt_b") === 0,
          lit(null).cast("double"))
          .otherwise(col("share_a") / col("share_b")))
      .orderBy((col("cnt_a") + col("cnt_b")).desc, col("tok").asc)
      .limit(topV)
      .select("tok", "cnt_a", "cnt_b", "share_a", "share_b", "drift_ratio")
  }

  /** Per-document out-of-vocabulary rate against a vocabulary table
    * (normally [[vocabulary]] output, or an external tokenizer's vocab):
    * the fraction of the doc's tokens not in the vocab — the standard
    * "will the tokenizer shred this document" signal. Output:
    * (id, n_tokens, n_oov, oov_rate); zero-token docs report (0, 0, 0.0).
    *
    * The vocab side is `topV` rows — broadcast; the token explode
    * aggregates straight back to ids, so the only full exchange is the
    * per-doc rollup. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocab: DataFrame, vocabTokCol: String = "tok"): DataFrame = {
    val v = vocab.select(col(vocabTokCol).as("__vtok")).distinct()
      .withColumn("__inv", lit(1))
    val perDoc = docs
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .join(broadcast(v), col("__tok") === col("__vtok"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__inv").isNull, lit(1))).as("n_oov"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens").isNull || col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double")
            / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Per-source reputation stats — the domain-level signal web-corpus
    * curation acts on (C4/RefinedWeb-style recipes drop whole hosts, not
    * single pages): a source whose pages are largely syndicated copies
    * or low-quality boilerplate is spam regardless of any one page's
    * score.
    *
    * Output per source:
    *  - `n_docs`;
    *  - `n_dup`: docs whose exact text appears ≥ 2 times ANYWHERE in
    *    the corpus — syndication, not just intra-source dups — keyed on
    *    the exact-dedup stage's 128-bit xxhash pair, so full text never
    *    enters a shuffle;
    *  - `mean_quality`: the floor(q·2^20) exact-integer mean of the
    *    row-local [[TextFunctions.qualityScoreFromTokens]] score
    *    (order-independent under any partitioning, hence
    *    engine-portable — the same grid trick as
    *    [[Clustering]]'s centroid update);
    *  - `dup_share` = n_dup / n_docs.
    *
    * Two exchanges: the corpus-wide dup count (window on the hash pair —
    * at warehouse scale this is the exact-dedup shuffle the pipeline
    * already pays; run this off that stage's staged frame to share it)
    * and the source rollup, which map-side-combines to one row per
    * (task, source). */
  def sourceStats(docs: DataFrame, idCol: String, textCol: String,
                  srcCol: String, keyCol: Option[String] = None): DataFrame = {
    val quant = Clustering.Quant
    // the dup key defaults to the full text; pass a canonicalized key
    // (normalized text, a content prefix, a stripped-boilerplate form)
    // to count what the downstream dedup stage would actually collapse.
    // Null text reads as the empty document: without the coalesce every
    // null would share one xxhash64 seed value (dup_share inflated
    // toward 1) while its null quality score silently left the mean.
    val key = coalesce(col(keyCol.getOrElse(textCol)), lit(""))
    val base = docs
      .select(col(srcCol).as("source"), key.as("__key"),
        coalesce(col(textCol), lit("")).as("__text"))
      .withColumn("__toks", TextFunctions.tokens(col("__text")))
      .select(col("source"),
        xxhash64(col("__key")).as("__h1"),
        xxhash64(lit(0x9e3779b9L), col("__key")).as("__h2"),
        floor(TextFunctions.qualityScoreFromTokens(col("__text"),
          col("__toks")) * lit(quant)).cast("long").as("__ql"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h1", "__h2")
    base.withColumn("__cnt", count(lit(1)).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("__cnt") > 1, lit(1))).as("n_dup"),
        (sum("__ql").cast("double") / lit(quant)
          / count(lit(1)).cast("double")).as("mean_quality"))
      .withColumn("dup_share",
        col("n_dup").cast("double") / col("n_docs").cast("double"))
  }

  /** One-call corpus accounting — the numbers a dataset card leads
    * with, as a single aggregation pass (one row out): doc count,
    * empty-doc count, exact-distinct text count (the 128-bit hash pair
    * — text never shuffles), total token count, mean tokens per doc
    * (one double division of exact integers) and the quantized-exact
    * mean quality score. Every figure is order-independent, so the
    * whole report reproduces bit-identically in any engine. */
  def corpusReport(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val quant = Clustering.Quant
    docs
      // null text = the empty document (see sourceStats)
      .select(coalesce(col(textCol), lit("")).as("__text"))
      .withColumn("__toks", TextFunctions.tokens(col("__text")))
      .select(
        xxhash64(col("__text")).as("__h1"),
        xxhash64(lit(0x9e3779b9L), col("__text")).as("__h2"),
        size(col("__toks")).cast("long").as("__nt"),
        floor(TextFunctions.qualityScoreFromTokens(col("__text"),
          col("__toks")) * lit(quant)).cast("long").as("__ql"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("__nt") === 0, lit(1))).as("n_empty"),
        countDistinct(col("__h1"), col("__h2")).as("n_distinct"),
        sum(col("__nt")).as("total_tokens"),
        (sum("__ql").cast("double") / lit(quant)
          / count(lit(1)).cast("double")).as("mean_quality"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
  }

  /** Keep only documents from sources that pass the reputation gate:
    * mean quality ≥ `minQuality` AND corpus-wide dup share ≤
    * `maxDupShare`. The gate list is one row per source and is
    * BROADCAST explicitly: left to AQE, the stats subtree's size
    * estimate (a window over the whole corpus) blocks the broadcast and
    * the docs — full text — shuffle on the source key instead (measured
    * at 1M docs / 10k hosts: 40 s shuffled vs 3 s broadcast). A source
    * universe is hosts, not pages — even a hundred million hosts of
    * (source) ids is a few GB, and far past that the right move is
    * writing the gate list once and bucket-joining, not shuffling the
    * corpus. */
  def sourceFilter(docs: DataFrame, idCol: String, textCol: String,
                   srcCol: String, minQuality: Double,
                   maxDupShare: Double,
                   keyCol: Option[String] = None): DataFrame = {
    val good = sourceStats(docs, idCol, textCol, srcCol, keyCol)
      .filter(col("mean_quality") >= minQuality &&
        col("dup_share") <= maxDupShare)
      .select(col("source").as(srcCol))
    docs.join(broadcast(good), Seq(srcCol), "left_semi")
  }
}
