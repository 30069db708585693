package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.expressions.ColumnBridge

/** Model-based quality scoring for corpus curation — the tier between
  * the row-local heuristics ([[graft.functions.TextFunctions]] quality
  * score, repetition filter) and a trained neural scorer: signals
  * derived from a LANGUAGE MODEL of the corpus itself, in this
  * library's exact-arithmetic idiom (integer counts, a handful of
  * IEEE-deterministic divisions at the end — no `log`, whose rounding
  * is not bit-portable across engines; the same trade
  * [[Retrieval.bm25TopK]] makes with its rational idf).
  *
  *  - [[bigramFluency]] is the perplexity-shaped signal: a bigram LM's
  *    per-transition probability test, reported as the fraction of a
  *    document's transitions that the corpus model finds plausible.
  *    Gibberish, shuffled text, and OCR noise score low; natural prose
  *    scores high — the decision a CCNet-style perplexity bucket makes,
  *    with an integer cross-multiplication in place of the log.
  *  - [[importanceScore]] / [[importanceSelect]] are the DSIR idiom
  *    (data selection with importance resampling): score each pool
  *    document by how much better it fits a TARGET corpus's hashed
  *    n-gram distribution than the pool's own, then keep the best. The
  *    published form ranks by Σ c_f·(log p_f − log q_f); this variant
  *    ranks by the difference of expected feature masses — the same
  *    "pull the pool toward the target distribution" selection
  *    pressure, exactly computable from counts.
  */
object QualityModels {

  /** Per-document bigram-LM fluency: the fraction of a doc's adjacent
    * token transitions (t1 → t2) that are PLAUSIBLE under the corpus
    * bigram model — seen at least `minCount` times AND carrying
    * conditional probability ≥ 1/`ratioDen` (tested as the integer
    * cross-multiplication `cnt(t1,t2) * ratioDen ≥ cnt(t1,·)`, exact).
    * Output: (id, n_bigrams, n_fluent, fluency); docs with < 2 tokens
    * report (0, 0, 0.0).
    *
    * Scale shape, mirroring [[CorpusStats.rareTokenRatio]]'s measured
    * trade: the bigram stream is exploded ONCE (the native
    * [[graft.functions.expressions.TokenBigrams]] kernel — row-local,
    * compiled), and both model counts come from unordered count windows
    * over it — partition by (t1,t2) for the transition count, by t1 for
    * the context count — rather than aggregate-plus-join forms that
    * would re-run the tokenize+explode subtree per side. The bigram
    * count table is NOT broadcastable (distinct bigrams grow with the
    * corpus, unlike [[importanceScore]]'s capped feature space), so the
    * join alternative would shuffle the stream anyway. Cost: two
    * exchanges of the (id, t1, t2) stream + the partially-aggregated id
    * rollup; ids and tokens only, never document text. */
  def bigramFluency(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long = 2L, ratioDen: Long = 100L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(ratioDen >= 1, s"ratioDen must be >= 1, got $ratioDen")
    val bg = docs
      .select(col(idCol).as("id"),
        explode(ColumnBridge.tokenBigrams(
          TextFunctions.tokens(col(textCol)))).as("__b"))
      .select(col("id"), col("__b.t1").as("__t1"), col("__b.t2").as("__t2"))
    val wBg = Window.partitionBy("__t1", "__t2")
    val wPre = Window.partitionBy("__t1")
    val perDoc = bg
      .withColumn("__cbg", count(lit(1)).over(wBg))
      .withColumn("__cpre", count(lit(1)).over(wPre))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("__cbg") >= minCount &&
          col("__cbg") * ratioDen >= col("__cpre"), lit(1))).as("n_fluent"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_fluent"), lit(0L)).as("n_fluent"),
        when(col("n_bigrams").isNull || col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("n_fluent").cast("double")
            / col("n_bigrams").cast("double"))
          .as("fluency"))
  }

  /** The hashed n-gram feature stream (id, __f): one row per unigram
    * and one per adjacent bigram, hashed into `numFeatures` buckets via
    * the portable rolling hash. Row-local — explode-then-hash keeps
    * every operator in whole-stage codegen (hashing inside a
    * higher-order `transform` would interpret per element). */
  private def featStream(docs: DataFrame, idCol: String, textCol: String,
                         numFeatures: Int): DataFrame = {
    def bucket(c: Column): Column =
      pmod(ColumnBridge.polyHash(c), lit(numFeatures.toLong))
    val toks = TextFunctions.tokens(col(textCol))
    val uni = docs
      .select(col(idCol).as("id"), explode(toks).as("__w"))
      .select(col("id"), bucket(col("__w")).as("__f"))
    val bi = docs
      .select(col(idCol).as("id"),
        explode(ColumnBridge.tokenBigrams(toks)).as("__b"))
      .select(col("id"),
        bucket(concat(col("__b.t1"), lit(" "), col("__b.t2"))).as("__f"))
    uni.union(bi)
  }

  /** Exact total feature count (unigrams + bigrams) — one stateless
    * streaming pass, no explode, no hash state (the
    * [[CorpusStats.tokenShareDrift]] totals idiom). */
  private def totalFeatures(docs: DataFrame, textCol: String): Long = {
    val n = size(TextFunctions.tokens(col(textCol)))
    docs.select((n.cast("long") + greatest(n - 1, lit(0)).cast("long"))
        .as("__nf"))
      .agg(coalesce(sum(col("__nf")), lit(0L)))
      .head().getLong(0)
  }

  /** DSIR-style importance score of each pool document against a
    * TARGET corpus, over hashed word uni+bigram features (the feature
    * map of Xie et al.'s data-selection recipe). For a doc with
    * feature occurrences f_1..f_n:
    *
    *   score = (Σ cnt_target(f_i) / T  −  Σ cnt_pool(f_i) / P) / n
    *
    * with T, P the corpora's total feature counts — the difference
    * between the doc's mean target-model and mean pool-model feature
    * probability. Positive = looks more like the target than like the
    * pool average; the ranking this induces is the selection pressure
    * of DSIR's log-ratio weight, computed exactly (integer masses, two
    * divisions and a subtraction in fixed IEEE order — a log-ratio
    * would hash-diverge between engines in the last ulp). Output:
    * (id, n_features, target_mass, raw_mass, score); zero-token docs
    * score 0.0.
    *
    * Scale shape — and why this INVERTS [[CorpusStats.rareTokenRatio]]'s
    * window choice: the feature space is CAPPED at `numFeatures`, so
    * both count tables partial-aggregate down to ≤ numFeatures rows per
    * task before their exchanges and broadcast back onto the stream.
    * The pool stream therefore never shuffles on feature — its only
    * exchange is the partially-aggregated id rollup. That costs one
    * extra row-local tokenize pass (the pool stream is built for the
    * count table and again for scoring) — compiled CPU, deliberately
    * spent to avoid exchanging the occurrence stream (2×tokens rows at
    * 100 TB) the way an uncapped-vocabulary window must. Totals are
    * driver literals via one-row bounded reads. */
  def importanceScore(pool: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, numFeatures: Int = 4096): DataFrame = {
    require(numFeatures >= 2 && numFeatures <= (1 << 20),
      s"numFeatures must be in [2, 2^20] (count tables must stay " +
        s"broadcastable), got $numFeatures")
    val tTot = totalFeatures(target, textCol)
    val pTot = totalFeatures(pool, textCol)
    require(tTot > 0, "target corpus has no tokens — nothing to match")
    require(pTot > 0, "pool corpus has no tokens — nothing to score")
    val tCounts = featStream(target, idCol, textCol, numFeatures)
      .groupBy("__f").agg(count(lit(1)).as("__cnt_t"))
    val pCounts = featStream(pool, idCol, textCol, numFeatures)
      .groupBy("__f").agg(count(lit(1)).as("__cnt_p"))
    val perDoc = featStream(pool, idCol, textCol, numFeatures)
      .join(broadcast(tCounts), Seq("__f"), "left")
      .join(broadcast(pCounts), Seq("__f"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("__cnt_t"), lit(0L))).as("target_mass"),
        sum(coalesce(col("__cnt_p"), lit(0L))).as("raw_mass"))
    pool.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("target_mass"), lit(0L)).as("target_mass"),
        coalesce(col("raw_mass"), lit(0L)).as("raw_mass"),
        when(col("n_features").isNull || col("n_features") === 0, lit(0.0))
          .otherwise((col("target_mass").cast("double") / lit(tTot.toDouble)
            - col("raw_mass").cast("double") / lit(pTot.toDouble))
            / col("n_features").cast("double"))
          .as("score"))
  }

  /** Importance SELECTION: the top `n` pool documents by
    * [[importanceScore]] (ties broken by id ascending — deterministic
    * and engine-portable). This is the "keep the best-aligned slice"
    * form of DSIR; for a sampled (rather than ranked) slice, compose
    * the score with [[Sampling.fractionSample]] over score buckets.
    * Output: (id, score, rank), rank 1-based.
    *
    * orderBy+limit → TakeOrderedAndProject (per-partition top-n heaps,
    * n-row driver merge); the rank window runs on ≤ n rows — never an
    * unpartitioned sort of the pool (the [[Retrieval]] rankTopK
    * shape). */
  def importanceSelect(pool: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, numFeatures: Int = 4096,
                       n: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val top = importanceScore(pool, target, idCol, textCol, numFeatures)
      .select(col("id"), col("score"))
      .orderBy(desc("score"), col("id").asc)
      .limit(n)
    val w = Window.orderBy(desc("score"), col("id").asc)
    top.withColumn("rank", row_number().over(w))
  }

  // ------------------------------------------- trained linear classifier

  /** Feature columns [[classifierFeatures]] emits, in weight order. */
  val ClassifierFeatureCols: Seq[String] =
    Seq("f_bias", "f_tokens", "f_stop", "f_digit", "f_distinct", "f_maxlen")

  /** Per-feature cap — bounds every |feature| so the training sums have
    * a provable overflow budget (see [[trainPerceptron]]). */
  val ClassifierFeatureCap: Long = 1024L

  /** Row-local INTEGER feature vector for the trained quality
    * classifier: (id, f_bias=1, f_tokens, f_stop, f_digit, f_distinct,
    * f_maxlen), every feature a capped count — token count, English
    * stopword hits, digit characters, distinct tokens, longest token
    * (capped 64). Integer features are the load-bearing choice: they
    * make training an exact, ORDER-INDEPENDENT integer computation
    * (the k-means integer-centroid trade), so the trained weights are
    * bit-reproducible across partitionings, replays, and engines —
    * a float pipeline would train different weights per shuffle order.
    * Null text features as empty (all-zero but the bias). */
  def classifierFeatures(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        coalesce(col(textCol), lit("")).as("__text"))
      // stage tokens as their own projection (lambda-capture rule: a
      // captured non-attribute subtree re-evaluates per consumer)
      .select(col("id"), col("__text"),
        TextFunctions.tokens(col("__text")).as("__toks"))
      .select(col("id") +:
        featureExprs(col("__text"), col("__toks"))
          .zip(ClassifierFeatureCols)
          .map { case (e, name) => e.as(name) }: _*)

  /** The six feature expressions over BOUND (text, toks) columns, in
    * [[ClassifierFeatureCols]] order — one definition shared by
    * [[classifierFeatures]] and [[perceptronQuality]] so the training
    * features and a deployed gate can never drift. Callers must pass
    * null-coalesced text and its tokens as projected columns. */
  private def featureExprs(text: Column, toks: Column): Seq[Column] = {
    val cap = lit(ClassifierFeatureCap)
    Seq(
      lit(1L),
      least(size(toks).cast("long"), cap),
      least(TextFunctions.stopwordHitsFromTokens(toks,
        TextFunctions.stopwords("en")).cast("long"), cap),
      least((length(text) - length(regexp_replace(text, "[0-9]", "")))
        .cast("long"), cap),
      least(size(array_distinct(toks)).cast("long"), cap),
      least(coalesce(array_max(transform(toks, t => length(t))),
        lit(0)).cast("long"), lit(64L)))
  }

  /** Adapt trained dense-perceptron weights into
    * [[Pipeline.CurateConfig]]'s pluggable quality stage: (text, toks)
    * → the integer decision margin as a double score. Gate with
    * `minQuality = 1.0` for the classifier's own decision boundary
    * (integer margins: margin ≥ 1 ⇔ margin > 0); raise it to demand a
    * confidence band. Null text scores as the empty doc (all-zero
    * features but the bias), matching [[classifierFeatures]] exactly —
    * the features here ARE the training features, one shared
    * definition. Row-local, so the curation pipeline's batch ≡
    * incremental contract is preserved. */
  def perceptronQuality(weights: Seq[Long]): (Column, Column) => Column = {
    require(weights.size == ClassifierFeatureCols.size,
      s"${weights.size} weights for ${ClassifierFeatureCols.size} features")
    (text, toks) => {
      val t = coalesce(text, lit(""))
      val tk = coalesce(toks, array().cast("array<string>"))
      featureExprs(t, tk).zip(weights)
        .map { case (f, wi) => f * lit(wi) }
        .reduce(_ + _)
        .cast("double")
    }
  }

  /** Train a linear quality classifier by the batch perceptron rule:
    *
    *   w⁰ = 0;  wᵗ⁺¹ = wᵗ + Σ_{i : yᵢ·(wᵗ·xᵢ) ≤ 0} yᵢ·xᵢ
    *
    * over integer features and labels yᵢ ∈ {+1, −1} — the fastText-
    * classifier decision shape (a linear text scorer gating a corpus),
    * trained distributed and EXACTLY: every update is an integer sum,
    * so the weights are independent of partition order and reproduce
    * bit-for-bit in any engine (a log-loss/SGD trainer is both
    * order-dependent and float-divergent; the library's no-`log` rule).
    *
    * Scale shape: one job per iteration — a single scan of `train` with
    * the current weights folded in as LITERALS (whole-stage codegen,
    * map-side partial sums, one ≤`featCols.size`-column row to the
    * driver). No shuffle of the feature stream, ever. Train on a
    * bounded labeled sample (the published practice: quality labels are
    * scarce) — the overflow `require` below enforces the budget the
    * integer exactness is proved under; score the full corpus with the
    * row-local [[perceptronMargin]].
    *
    * Converged weights stop early (a zero update can never un-zero:
    * identical wᵗ ⇒ identical misclassified set) — result-identical to
    * running all `iters`, minus the scans. */
  def trainPerceptron(train: DataFrame, labelCol: String, iters: Int,
                      featCols: Seq[String] = ClassifierFeatureCols)
      : Array[Long] = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")
    require(featCols.nonEmpty, "featCols must be non-empty")
    // materialize the (label, features) projection ONCE — the loop
    // below scans it `iters` times, and an unmaterialized plan would
    // re-run tokenize+features per iteration; blocks released below
    // (the connectedComponents checkpoint-tracking idiom)
    val (feats, ckptIds) = Graph.checkpointPinned(
      train.select((labelCol +: featCols).map(col): _*))
    try {
      var w = Array.fill(featCols.size)(0L)
      var n = -1L
      var it = 0
      while (it < iters) {
        val mis = col(labelCol).cast("long") *
          perceptronMargin(w.toSeq, featCols) <= 0L
        // the overflow-guard row count rides the FIRST iteration's
        // aggregate (no separate count scan); update 1's own bound —
        // |u_j| ≤ n·cap — cannot wrap for any physical row count
        val aggs = featCols.map(c =>
          sum(when(mis, col(labelCol).cast("long") * col(c))).as(c)) ++
          (if (it == 0) Seq(count(lit(1)).as("__n")) else Nil)
        val row = feats.agg(aggs.head, aggs.tail: _*).head()
        if (it == 0) {
          n = row.getLong(featCols.size)
          require(n > 0, "training set is empty")
          // |w_j| ≤ iters·n·cap and |margin| ≤ Σ_j |w_j|·cap — demand
          // 4× headroom under Long.MaxValue so no intermediate can wrap
          require(BigInt(n) * ClassifierFeatureCap * iters *
              ClassifierFeatureCap * featCols.size <
              BigInt(Long.MaxValue / 4),
            s"training set too large for exact integer training ($n " +
              s"rows × $iters iters): train on a sample — labels this " +
              "plentiful belong in a heuristic, not a classifier")
        }
        val upd = Array.tabulate(featCols.size)(j =>
          if (row.isNullAt(j)) 0L else row.getLong(j))
        if (upd.forall(_ == 0L)) it = iters // converged: fixpoint reached
        else {
          w = Array.tabulate(featCols.size)(j => w(j) + upd(j))
          it += 1
        }
      }
      w
    } finally Graph.release(train.sparkSession.sparkContext, ckptIds)
  }

  /** [[trainPerceptron]] with per-feature POWER-OF-TWO up-scaling — the
    * conditioning fix for signals that live on small-magnitude features
    * (BENCH_NOTES "Classifier quality story", arm A: a ±10-token
    * suffix delta on features whose shared per-doc base runs to ~10³;
    * the batch update then swings along the large uninformative
    * directions and the iterates oscillate). Each feature is shifted UP so its training-set max
    * fills the feature cap — never down (a down-shift would quantize
    * away exactly the small deltas that carry the signal) — training
    * runs on the scaled integers, and the shifts fold back into the
    * returned weights (`margin = Σ wⱼ·(xⱼ·2^sⱼ) = Σ (wⱼ·2^sⱼ)·xⱼ`), so
    * the result scores RAW [[classifierFeatures]] rows through the same
    * [[perceptronMargin]]/[[perceptronQuality]]/[[saveWeights]] surface
    * as the plain trainer. Everything stays exact integer arithmetic:
    * bit-reproducible, no seed, partition-order independent.
    *
    * Measured (spec-pinned, ScaledPerceptronSpec): on a uniform-base
    * suffix-delta arm the unscaled trainer is fully INVERTED (AUC 0.0 —
    * the probe's arm-A 0.009) while the scaled one separates exactly
    * (AUC 1.0); with 3× per-doc base-length variance the scaled form
    * still ranks at AUC ≈ 0.99. Boundary that remains: scaling
    * equalizes feature MAGNITUDES, not content — a signal carried by
    * WHICH tokens appear (not how many of what shape) needs
    * [[trainHashedPerceptron]], which learns the tokens themselves.
    * Costs one extra aggregate over the training sample. */
  def trainPerceptronScaled(train: DataFrame, labelCol: String,
                            iters: Int,
                            featCols: Seq[String] = ClassifierFeatureCols)
      : Array[Long] = {
    // per-feature training max (+ the row count for the scoring-margin
    // guard below) — one aggregate job, d+1 values back
    val maxRow = train
      .agg(max(col(featCols.head).cast("long")).as(featCols.head),
        featCols.tail.map(c => max(col(c).cast("long")).as(c)) :+
          count(lit(1)).as("__n"): _*)
      .head()
    val n = maxRow.getLong(featCols.size)
    val shifts = featCols.indices.map { j =>
      val m = if (maxRow.isNullAt(j)) 1L
        else math.max(1L, maxRow.getLong(j))
      require(m <= ClassifierFeatureCap,
        s"feature ${featCols(j)} max $m exceeds the cap " +
          s"$ClassifierFeatureCap — not a classifierFeatures frame?")
      var s = 0
      while ((m << (s + 1)) <= ClassifierFeatureCap) s += 1
      s
    }
    // scaled features stay ≤ the cap by construction, so the plain
    // trainer's overflow guard covers the TRAINING run unchanged — but
    // the folded weights below grow by 2^s, and a SCORED row's feature
    // may exceed the training-set max (up to the cap), so the scoring
    // margin can reach d·iters·n·cap²·2^maxShift: the training-size
    // guard must tighten by the max shift or scoring a legitimate
    // frame could silently wrap Long
    val maxShift = if (shifts.isEmpty) 0 else shifts.max
    require(BigInt(math.max(n, 1L)) * ClassifierFeatureCap * iters *
        ClassifierFeatureCap * featCols.size * (BigInt(1) << maxShift) <
        BigInt(Long.MaxValue / 4),
      s"training set too large for exact scaled training ($n rows × " +
        s"$iters iters × 2^$maxShift max up-shift): train on a sample")
    val scaled = train.select(col(labelCol) +:
      featCols.zip(shifts).map { case (c, s) =>
        (col(c).cast("long") * lit(1L << s)).as(c) }: _*)
    val w = trainPerceptron(scaled, labelCol, iters, featCols)
    w.zip(shifts).map { case (wj, s) => wj << s }.toArray
  }

  /** The trained decision value w·x as a row-local integer Column over
    * a [[classifierFeatures]] frame — weights folded in as literals, so
    * full-corpus scoring is one codegen'd projection with NO exchange
    * and nothing broadcast. Decision: margin > 0 ⇒ quality-positive
    * (ties negative, deterministically). */
  def perceptronMargin(weights: Seq[Long], featCols: Seq[String] =
      ClassifierFeatureCols): Column = {
    require(weights.size == featCols.size,
      s"${weights.size} weights for ${featCols.size} features")
    featCols.zip(weights).map { case (c, wi) => col(c) * lit(wi) }
      .reduce(_ + _)
  }

  /** Batch perceptron over HASHED word uni+bigram features — the
    * fastText bag-of-ngrams classifier proper ([[trainPerceptron]]'s
    * six hand features trade capacity for a zero-exchange scorer; this
    * form learns which WORDS mark quality). Feature map =
    * [[importanceScore]]'s: portable rolling hash into `numFeatures`
    * buckets, one occurrence per unigram and adjacent bigram. Same
    * exactness contract: yᵢ ∈ {+1,−1}, integer occurrence counts,
    * every update an order-independent integer sum — the learned
    * weight table is bit-reproducible anywhere.
    *
    * Update rule per iteration (x = the doc's feature-occurrence
    * count vector):  margin_d = Σ_f occ(d,f)·w_f;  then
    * w_f += Σ_{d : y_d·margin_d ≤ 0} y_d·occ(d,f).
    *
    * Scale shape per iteration: margins = one broadcast join of the
    * (id, f) stream against the ≤`numFeatures`-row weight table + the
    * partially-aggregated id rollup (one exchange); updates = a
    * feature rollup capped at `numFeatures` rows, collected. Nothing
    * ever shuffles on the raw text, and the weight table stays
    * broadcast-sized by construction. Train on a bounded labeled
    * sample (quality labels are scarce; the iteration cost is
    * `iters` passes over the SAMPLE only) — then score any corpus
    * with [[hashedMargin]], a single identical pass. Returns the
    * dense weight array indexed by feature bucket. */
  /** [[trainHashedPerceptron]]'s small-trainset gate: max feature-
    * occurrence rows replayed on the driver (a driver-memory bound, the
    * [[Dedup.connectedComponents]] discipline). */
  private[graft] val MaxDriverOcc: Long = 1L << 20

  def trainHashedPerceptron(train: DataFrame, idCol: String,
                            textCol: String, labelCol: String,
                            numFeatures: Int = 4096, iters: Int = 4,
                            maxDriverOcc: Long = MaxDriverOcc)
      : Array[Long] = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")
    require(numFeatures >= 2 && numFeatures <= (1 << 20),
      s"numFeatures must be in [2, 2^20] (the weight table must stay " +
        s"broadcastable), got $numFeatures")
    val labels = train.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("__y"))
    // the labeled occurrence stream is read 2× per iteration (margins +
    // update) — materialize once rather than re-running tokenize+explode
    // 2·iters times (the preFilter staging rule); blocks released in the
    // finally below (one leaked stream per training call otherwise)
    val (fs, ckptIds) = Graph.checkpointPinned(
      featStream(train, idCol, textCol, numFeatures).join(labels, Seq("id")))
    try {
    // SMALL-TRAINSET ROUTE (r12): each distributed iteration costs a
    // broadcast-join margin pass plus an update collect over the staged
    // occurrence stream. When the stream is at most `MaxDriverOcc` rows
    // (~24 MB collected at the default), collect (id, f, y) once and
    // replay the identical iterations in memory — same margin sums, same
    // y·m ≤ 0 update filter, same all-zero-update early stop. Exact
    // integer arithmetic is order-independent, so the weights are
    // bit-identical (spec-pinned in QualityModelsSpec).
    val small = graft.core.DriverRoute.collect(
      fs.select(col("id"), col("__f"), col("__y")), maxDriverOcc)
    // occurrence total bounds every intermediate: |w_f| ≤ iters·occ and
    // |margin| ≤ occ·max|w| — demand the same 4× headroom as the dense
    // trainer (a count over the materialized blocks, not a re-scan)
    val occ = small.fold(fs.count())(_.length.toLong)
    require(occ > 0, "training set has no token features")
    require(BigInt(occ) * occ * iters < BigInt(Long.MaxValue / 4),
      s"training set too large for exact integer training ($occ feature " +
        "occurrences): train on a sample")
    val w = Array.fill(numFeatures)(0L)
    small.foreach { collected =>
      val rows = collected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var it = 0
      while (it < iters) {
        val m = new scala.collection.mutable.LongMap[Long]()
        rows.foreach { case (id, f, _) =>
          m.update(id, m.getOrElse(id, 0L) + w(f.toInt))
        }
        val u = new scala.collection.mutable.LongMap[Long]()
        rows.foreach { case (id, f, y) =>
          if (y * m.getOrElse(id, 0L) <= 0L)
            u.update(f, u.getOrElse(f, 0L) + y)
        }
        if (u.isEmpty || u.values.forall(_ == 0L)) it = iters
        else {
          u.foreach { case (f, uf) => w(f.toInt) += uf }
          it += 1
        }
      }
      return w
    }
    var it = 0
    while (it < iters) {
      val weights = w.toSeq.zipWithIndex.collect {
        case (wf, f) if wf != 0L => (f.toLong, wf)
      }
      val margins =
        if (weights.isEmpty)
          labels.select(col("id"), lit(0L).as("__m"))
        else {
          val wDf = train.sparkSession
            .createDataFrame(weights).toDF("__f", "__w")
          fs.join(broadcast(wDf), Seq("__f"), "left")
            .groupBy("id")
            .agg(sum(coalesce(col("__w"), lit(0L))).as("__m"))
        }
      val upd = fs
        .join(margins.select(col("id"), col("__m")), Seq("id"))
        .filter(col("__y") * col("__m") <= 0L)
        .groupBy("__f").agg(sum(col("__y")).as("__u"))
        .collect()
      if (upd.isEmpty || upd.forall(_.getLong(1) == 0L)) it = iters
      else {
        upd.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
        it += 1
      }
    }
    w
    } finally Graph.release(train.sparkSession.sparkContext, ckptIds)
  }

  /** Calibrate a decision threshold for ANY scorer (trained margins,
    * the heuristic qualityScore) on a labeled training split: returns
    * (τ, trainAcc) where τ maximizes training accuracy of the gate
    * `score ≥ τ`, scanned over a `bins`-bucket histogram of the scores
    * — one aggregate job, ≤ bins rows to the driver (a bounded control
    * read; τ is a bin lower edge, so the accuracy is within one bin's
    * mass of the exact optimum). Ties resolve to the HIGHEST τ, the
    * more conservative gate.
    *
    * Exists because a perceptron's raw 0-boundary is well-calibrated
    * only when the batch updates can balance the feature magnitudes;
    * on profile-shaped quality signals it can rank perfectly (AUC 1.0,
    * BENCH_NOTES "Classifier quality story", arm B) while every margin
    * sits on ONE side of zero — the cure is the same as for any scorer: calibrate the gate
    * on labels, then pass τ as [[Pipeline.CurateConfig]]'s minQuality
    * over the [[perceptronQuality]] score. */
  def calibrateThreshold(scored: DataFrame, scoreCol: String,
                         labelCol: String, bins: Int = 4096)
      : (Double, Double) = {
    require(bins >= 2 && bins <= (1 << 20), s"bins out of range: $bins")
    // a null LABEL must fail fast, not be silently counted: the
    // histogram's otherwise(1) branch would read every null-label row
    // as a negative and skew totNeg into τ. The guard is a row-local
    // assert fused into the same scan the histogram already pays —
    // no extra job, unlike a driver-side pre-count
    def nullFreeLabels(df: DataFrame, lc: String): DataFrame =
      df.filter(assert_true(col(lc).isNotNull,
        lit(s"calibrateThreshold: null label in column '$lc' — labels " +
          "must be 0/1 (filter or impute before calibrating)")).isNull)
    val s = col(scoreCol).cast("double")
    // null scores carry no calibration information and would otherwise
    // form a null histogram bin silently counted as "below every τ"
    // (min/max skip nulls, so the emptiness require alone misses them)
    val nonNull = nullFreeLabels(scored, labelCol).filter(s.isNotNull && !isnan(s))
    val mm = nonNull.agg(min(s), max(s), count(lit(1))).head()
    require(mm.getLong(2) > 0,
      "calibrateThreshold: empty or all-null calibration set")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    val hist = nonNull
      .groupBy(floor((s - lit(lo)) / lit(width)).as("b"))
      .agg(sum(when(col(labelCol).cast("long") === 1L, 1L).otherwise(0L))
          .as("np"),
        sum(when(col(labelCol).cast("long") === 1L, 0L).otherwise(1L))
          .as("nn"))
      .orderBy(col("b").desc).collect() // high bin → low
    val totNeg = hist.map(_.getLong(2)).sum.toDouble
    val tot = hist.map(r => r.getLong(1) + r.getLong(2)).sum.toDouble
    // τ above every score: the gate rejects all — accuracy = neg share
    var best = (lo + (hi - lo) + width, totNeg / tot)
    var posAbove = 0.0
    var negAbove = 0.0
    hist.foreach { r =>
      posAbove += r.getLong(1); negAbove += r.getLong(2)
      val acc = (posAbove + (totNeg - negAbove)) / tot
      if (acc > best._2)
        best = (lo + r.getLong(0) * width, acc)
    }
    best
  }

  /** Persist trained weights (either trainer's) as a (f, w) parquet —
    * train once, gate every later batch/streaming job. Dense-index
    * layout: row f holds w_f, zeros included so the file IS the model
    * (no out-of-band size). */
  def saveWeights(spark: org.apache.spark.sql.SparkSession, path: String,
                  weights: Array[Long]): Unit = {
    require(weights.nonEmpty, "empty weight vector")
    spark.createDataFrame(
        weights.toSeq.zipWithIndex.map { case (w, f) => (f.toLong, w) })
      .toDF("f", "w")
      .repartition(1) // ≤ 2^20 rows by the trainers' own bound
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveWeights]] model, validating the dense-index contract
    * (exactly the indices 0..n−1, no gaps/dups — a truncated or
    * double-written file must fail here, not skew margins silently). */
  def loadWeights(spark: org.apache.spark.sql.SparkSession,
                  path: String): Array[Long] = {
    val rows = spark.read.parquet(path)
      .select(col("f").cast("long"), col("w").cast("long"))
      .collect()
    require(rows.nonEmpty, s"no weights at $path")
    val w = new Array[Long](rows.length)
    val seen = new Array[Boolean](rows.length)
    rows.foreach { r =>
      val f = r.getLong(0)
      require(f >= 0 && f < rows.length && !seen(f.toInt),
        s"corrupt weight file at $path: index $f out of the dense " +
          s"0..${rows.length - 1} contract")
      seen(f.toInt) = true
      w(f.toInt) = r.getLong(1)
    }
    w
  }

  /** Decision margins of a trained hashed-ngram classifier over any
    * corpus: (id, margin) with margin = Σ_f occ(d,f)·w_f — ONE pass of
    * the identical feature stream against the broadcast weight table
    * plus the id rollup; docs with no tokens score 0. */
  def hashedMargin(docs: DataFrame, idCol: String, textCol: String,
                   weights: Array[Long]): DataFrame = {
    val spark = docs.sparkSession
    val wDf = spark.createDataFrame(
      weights.toSeq.zipWithIndex.collect {
        case (wf, f) if wf != 0L => (f.toLong, wf)
      }).toDF("__f", "__w")
    val perDoc = featStream(docs, idCol, textCol, weights.length)
      .join(broadcast(wDf), Seq("__f"), "left")
      .groupBy("id")
      .agg(sum(coalesce(col("__w"), lit(0L))).as("__m"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("__m"), lit(0L)).as("margin"))
  }
}
