package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for the training-data pipeline tier.
  *
  * Design rule shared by all near-dup variants: NEVER materialize the
  * full O(n²) pair space. Candidate generation goes through an equi-join
  * key (shingle, band hash, bucket) so Spark executes it as a shuffled
  * hash join over a skew-bounded key; verification then runs only on
  * candidate pairs. That is what survives a 100× scale-up — a cross join
  * does not.
  */
object Dedup {

  /** [[connectedComponents]]' small-graph gate: max edge rows collected
    * for the driver fold (≈ 16 MB at the default — a broadcast build
    * side's size class). */
  private[graft] val DefaultMaxDriverEdges: Long = 1L << 20

  /** Exact dedup: keep the first row (min id) per identical value.
    * Grouping key is a 128-bit hash pair — two independently seeded
    * xxhash64s — so distinct values can't silently merge the way a single
    * 64-bit hash can at ~10⁹ rows (birthday bound), while the shuffle
    * still carries 16 bytes per row instead of the document. Collision
    * probability at 10¹² rows is ~10⁻¹⁴; for absolute certainty
    * `verify = true` adds the value itself to the grouping key (map-side
    * partial aggregation still reduces the shuffle to one row per
    * distinct value). */
  def exact(df: DataFrame, idCol: String, valueCol: String,
            verify: Boolean = false): DataFrame = {
    val hashed = hashPair(df, valueCol)
    // single pass: row_number over the hash pair keeps the min-id row —
    // one shuffle, one scan (the groupBy + join-back formulation reads
    // the corpus twice and shuffles it twice)
    val partKeys =
      if (verify) Seq(col("__h1"), col("__h2"), col(valueCol))
      else Seq(col("__h1"), col("__h2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partKeys: _*).orderBy(col(idCol))
    hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__h1", "__h2", "__rn")
  }

  /** The 128-bit grouping key [[exact]] dedups on — one definition so
    * [[exact]], [[exactLosers]] and the curation store's exact step (on
    * either route) can never disagree on what "the same value" means. */
  private[operators] def hashPair(df: DataFrame, valueCol: String): DataFrame = df
    .withColumn("__h1", xxhash64(col(valueCol)))
    .withColumn("__h2", xxhash64(lit(0x9e3779b9L), col(valueCol)))

  /** [[exact]] and [[exactLosers]] FUSED into one ids-only pass —
    * (id, __h1, __h2, __rn, __win) where `__rn` is the min-id-first row
    * number within the 128-bit hash group and `__win` the group's min
    * id: `__rn = 1` rows are exactly [[exact]]'s keeps, `__rn > 1` rows
    * with `__win` are exactly [[exactLosers]]' (id, kept_id) pairs. For
    * an AUDITED dedup this replaces two hash+window passes (each
    * shuffling the VALUE column for the window sort) with one whose
    * shuffle carries 3 long columns — the value never leaves its scan;
    * callers re-attach values by an id join against the staged output.
    * Both window functions share the partition keys, so Spark computes
    * them over one exchange/sort. */
  private[operators] def exactIdWindow(df: DataFrame, idCol: String,
                                       valueCol: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h1"), col("__h2")).orderBy(col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h1"), col("__h2"))
    hashPair(df, valueCol)
      .select(col(idCol), col("__h1"), col("__h2"))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__win", min(col(idCol)).over(wAll))
  }

  /** The complement of [[exact]]: the rows it DROPS, each with the id of
    * the row that superseded it — (idCol, kept_id). Same 128-bit key,
    * same min-id winner rule, one exchange (a min window over the hash
    * pair); `exact(df) ∪ exactLosers(df).ids` partitions df's ids. The
    * audit half of dedup: at corpus scale "where did my document go" is
    * answered from this frame, not by diffing corpora. */
  def exactLosers(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h1"), col("__h2"))
    hashPair(df, valueCol)
      .withColumn("__win", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("__win"))
      .select(col(idCol), col("__win").as("kept_id"))
  }

  /** Exact-dup groups: value → sorted member ids + TRUE count (>1 only).
    * The member list is capped (row_number before the collect) so an
    * adversarial corpus where most rows share one value cannot blow an
    * aggregation buffer; `dup_count` still reports the full group size.
    *
    * One exchange total: row_number and the whole-partition count share
    * the same (partitionBy, orderBy) Window — a single sort — and the
    * groupBy that follows needs the same hash partitioning on the value,
    * so it aggregates in place (the groupBy + groupBy + join-back
    * formulation scans and shuffles the input twice). */
  def exactGroups(df: DataFrame, idCol: String, valueCol: String,
                  maxMembers: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(valueCol)).orderBy(col(idCol))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col(valueCol), col(idCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(full))
      .filter(col("__n") > 1 && col("__rn") <= maxMembers)
      .groupBy(col(valueCol))
      .agg(max(col("__n")).as("dup_count"),
        array_sort(collect_list(col(idCol))).as("members"))
      .select(col(valueCol), col("dup_count"), col("members"))
  }

  /** N-gram Jaccard near-dup pairs: explode word shingles → self-equi-join
    * on shingle → per-pair intersection count → Jaccard over the SHARED
    * vocabulary: shingles with document frequency in [2, maxDocFreq].
    * Dropping df=1 shingles is free (they can't intersect) and dropping
    * ubiquitous ones is the standard stop-shingle trick — but both MUST
    * also be dropped from the size denominators, or Jaccard is
    * systematically underestimated; sizes are therefore computed from the
    * same filtered shingle set as the intersections.
    *
    * Scale: the join key is a shingle, so cost is Σ(docs per shingle)²
    * — bounded by `maxDocFreq` (a df-10000 shingle alone yields 50M
    * pairs, hence the conservative default; raise it deliberately, with
    * the quadratic cost in mind). No cross join anywhere.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Long = 1000L): DataFrame = {
    val (pairs, sizes) = cappedPairCounts(df, idCol, textCol, n, maxDocFreq)
    joinSizes(pairs, sizes)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric CONTAINMENT pairs over the same capped shingle
    * machinery: containment of A in B = |sh(A) ∩ sh(B)| / |sh(A)| —
    * the "swallowed document" signal symmetric Jaccard structurally
    * misses. A short doc quoted whole inside a long one (a tweet in an
    * article, a licence block in a source file, boilerplate in every
    * page of a site) has Jaccard ≈ |small|/|big| ≈ 0 but containment
    * ≈ 1; a containment-dedup pass keeps the superset doc and drops
    * the swallowed one (compose with [[connectedComponents]] keyed on
    * the contained side, or a keep-max-size policy). Output:
    * (id_a, id_b, cont_a, cont_b) for pairs with
    * max(cont_a, cont_b) ≥ threshold, ids ordered id_a < id_b, where
    * cont_a = fraction of A's shingles shared.
    *
    * Denominators are each doc's TRUE distinct shingle count (a
    * row-local `size()`, no second explode) — NOT the Jaccard family's
    * shared-vocab sizes: under the df cap a pair whose surviving
    * shingles are exactly their common ones would read as mutually
    * contained (1.0 both ways), which is precisely the false positive
    * an asymmetric measure exists to avoid. The cap still bounds
    * CANDIDATE generation, so `common` (and therefore both ratios) is
    * a LOWER bound when a pair's overlap includes shingles more common
    * than `maxDocFreq` — a threshold filter stays conservative, never
    * inflated. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double,
                            maxDocFreq: Long = 1000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1], got $threshold")
    val (pairs, _) = cappedPairCounts(df, idCol, textCol, n, maxDocFreq)
    // True distinct-shingle counts via the EXPLODE path: shingles are
    // already per-doc-distinct, so count-per-id over the exploded
    // stream IS the true size. Measured 5× cheaper than the "obvious"
    // row-local size(when/transform/array_distinct) chain (0.8 s vs
    // 4.2 s on 5k sf0.1 docs): the composed higher-order chain runs
    // interpreted, and the collapsed filter re-evaluates it — the
    // codegen-pitfall genus. Empty docs explode to no rows and so
    // never reach the join, exactly the rows that can have no pairs.
    val trueSizes = shingleStage(df, idCol, textCol, n)
      .groupBy("id").agg(count(lit(1)).as("sz"))
    joinSizes(pairs, trueSizes)
      .withColumn("cont_a",
        col("common").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b",
        col("common").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /** Shared candidate plumbing of the capped n-gram pair family:
    * (pairs(id_a,id_b,common), sizes(id,sz)) over df-capped distinct
    * word shingles. Tokens bound to a column FIRST: shingling reads a
    * row slot per lambda reference instead of re-tokenizing per element
    * (the inline form is O(tokens²) per row — measured 10× on the r2
    * bench). ONE exchange on shingle feeds everything: the window
    * bounds group membership (df cap) BEFORE any collect — a degenerate
    * shingle shared by 10⁹ docs is dropped, never buffered — and the
    * subsequent groupBy(shingle) needs the same partitioning, so the
    * shingle explosion + shuffle is computed once and reused
    * (ReusedExchange) across the pair and size branches. Candidate
    * pairs come from in-group combinations of the (≤ maxDocFreq)
    * sorted id list — an expression, not a self-join, so no second
    * pass over the corpus. */
  private def cappedPairCounts(df: DataFrame, idCol: String,
                               textCol: String, n: Int, maxDocFreq: Long)
      : (DataFrame, DataFrame) = {
    val sh = shingleStage(df, idCol, textCol, n)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val bounded = sh
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
      .select("id", "shingle")
    val sizes = bounded.groupBy("id").agg(count(lit(1)).as("sz"))
    val groups = bounded.groupBy("shingle")
      .agg(sort_array(collect_list(col("id").cast("long"))).as("ids"))
    // all (i < j) pairs within the sorted id list — native kernel
    // (the composed slice form copies O(n) per element; see IdPairs)
    val pairExpr = idPairs(col("ids"))
    val pairs = groups
      .select(explode(pairExpr).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common"))
    (pairs, sizes)
  }

  /** The (id, shingle) exploded stream of per-doc-DISTINCT word n-gram
    * shingles — the staging the capped pair family, its true-size
    * branch, and [[ContainmentStore]] all share. Tokens bound to a
    * column FIRST (the inline form re-tokenizes per shingle element —
    * see [[cappedPairCounts]]). Empty docs explode to no rows. */
  private[operators] def shingleStage(df: DataFrame, idCol: String,
                                      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(TextFunctions.wordShinglesFromTokens(col("__toks"), n))
          .as("shingle"))

  /** SMJ hint: `pairs` descends from an explode, so its size estimate is
    * garbage — left alone the planner may pick IT as the broadcast side
    * of the sizes join and OOM the driver (observed at 50k docs with a
    * hot-shingle pair explosion). Sort-merge is correct at every scale:
    * sizes is per-doc (too big to broadcast at 10⁹ docs) and both sides
    * shuffle on the same id key. */
  private def joinSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs.hint("merge")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")

  /** EXACT Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin
    * candidate rule) — the lossless complement to [[ngramJaccardPairs]]:
    * no df caps changing the denominator, no LSH recall loss, yet never
    * an all-pairs join. Every pair with shingle-set Jaccard ≥ threshold
    * is returned with its exact score.
    *
    * The rule: order the shingle universe rare-first (by document
    * frequency, shingle as tie-break); a doc with set size s keeps only
    * its first s − ⌈t·s⌉ + 1 shingles as its PREFIX. J(A,B) ≥ t implies
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets meeting that must collide
    * inside both prefixes under any shared total order — so the
    * candidate join runs on prefix shingles only, where the rare-first
    * order makes groups small (a ubiquitous shingle almost never
    * survives into a prefix). The ⌈⌉ is computed with a 1e-9 downward
    * nudge so float noise in t·s can only LENGTHEN a prefix, never
    * silently drop a true candidate.
    *
    * Scale: one exchange on shingle (df counts + prefix groups reuse
    * it), candidate pairs from the in-group [[idPairs]] kernel, then an
    * exact-verify join computing |A∩B| over candidates only. Candidate
    * volume is data-dependent — for a corpus where everything matches
    * everything the exact RESULT is quadratic and so is any exact
    * algorithm; on realistic near-dup profiles the prefixes bound the
    * blow-up (measured: BENCH_NOTES "Round 7: exact prefix-filter
    * Jaccard vs capped vs LSH"). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        // wordShinglesFromTokens is already per-doc distinct
        explode(TextFunctions.wordShinglesFromTokens(col("__toks"), n))
          .as("shingle"))
    prefixJaccardExploded(sh, threshold)
  }

  /** Exact set-similarity join over PRECOMPUTED element sets — the
    * [[prefixJaccardPairs]] prefix-filter machinery without the text
    * shingling stage: `setCol` is any array column (frame fingerprints
    * of a video, hashed features, category sets), de-duplicated per
    * row, and pairs with Jaccard ≥ threshold come back exact up to the
    * engine-wide 128-bit hashPair collision bound (the verify stage
    * matches elements by hash pair — the [[exact]] birthday-bound
    * convention, ~10⁻¹⁴ at 10¹² elements). Output
    * (id_a, id_b, jaccard). */
  def setJaccardPairs(df: DataFrame, idCol: String, setCol: String,
                      threshold: Double): DataFrame =
    prefixJaccardExploded(
      df.select(col(idCol).as("id"),
        explode(array_distinct(col(setCol))).as("shingle")),
      threshold)

  /** The AllPairs/PPJoin core over an exploded (id, shingle) frame —
    * rare-first prefix ordering, prefix-bucket candidates, exact
    * verify. Shared by the text and precomputed-set entry points. */
  private def prefixJaccardExploded(sh: DataFrame,
                                    threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // deliberately NOT materialized: the exploded frame's consumers
    // re-scan a cheap codegen chain, and an A/B measured the staged
    // form SLOWER (4.0 → 4.7 s on q128 at sf0.1) — the explode output
    // is far larger than its input, so storing it costs more than the
    // re-scans it saves (the opposite tradeoff from minhashCombined,
    // whose staging is SMALLER than its input).
    //
    // Shingles are REPLACED by a 128-bit hash pair up front (r12): the
    // prefix-filter theorem holds under ANY shared total order of the
    // element universe, so ordering/bucketing/verifying on (h1, h2)
    // longs instead of shingle strings changes candidate sets but not
    // the verified result — while every sort (the rare-first per-doc
    // order, the SMJ verify join keyed on the shingle) runs on
    // fixed-width longs instead of variable-length strings. Measured:
    // the verify stage's CPU dominated q128 (14 s over 6 tasks at
    // sf0.1). Collision odds are the exact-dedup hashPair birthday
    // bound (two 64-bit seeds), already accepted engine-wide.
    val shh = sh.select(col("id"), xxhash64(col("shingle")).as("h1"),
      xxhash64(lit(0x9e3779b9L), col("shingle")).as("h2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    // df per shingle from the same exchange the prefix grouping reuses
    val withDf = shh.withColumn("df", count(lit(1)).over(w))
    val perDoc = withDf.groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("h1"), col("h2"))))
        .as("__ord"))
      .withColumn("sz", size(col("__ord")))
      .withColumn("__p",
        (col("sz") - ceil(col("sz") * threshold - 1e-9) + 1).cast("int"))
    val pref = perDoc
      .select(col("id"), col("sz"),
        explode(slice(col("__ord"), lit(1), col("__p"))).as("pe"))
      .select(col("id"), col("pe.h1").as("h1"), col("pe.h2").as("h2"))
    val cands = pref.groupBy("h1", "h2")
      .agg(sort_array(collect_list(col("id").cast("long"))).as("ids"))
      .select(explode(idPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // exact verify: |A∩B| over candidates only. merge hint for the same
    // reason as ngramJaccardPairs: explode-descended size estimates lie.
    val toks = shh
    val inter = cands.hint("merge")
      .join(toks.select(col("id").as("id_a"), col("h1"), col("h2")),
        Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("h1"), col("h2")),
        Seq("id_b", "h1", "h2"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    val sizes = shh.groupBy("id").agg(count(lit(1)).as("sz"))
    inter.hint("merge")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact duplicated-substring SPANS (the token-granular primitive of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr policy): a token position is COVERED when
    * the k-gram starting there occurs more than once in the corpus
    * (across documents or repeated within one); maximal runs of covered
    * positions are merged and reported as spans of ≥ `minSpan` tokens,
    * as (id, span_start, span_end, span_tokens) with 0-based inclusive
    * token indices. Callers drop or excise the spans — whole-doc dedup
    * misses the memorization-relevant case of long shared passages
    * inside otherwise distinct documents.
    *
    * Approximation contract (documented, deterministic): the suffix
    * array finds substrings shared with ONE other occurrence; the k-gram
    * chain merges ADJACENT covered positions, so consecutive grams
    * matching *different* partners chain into one span. That over-merge
    * is the standard distributed relaxation — every reported span is
    * genuinely non-unique text at k-gram granularity, which is the
    * removal-policy question. Two spans of one document can overlap by
    * up to k−1 tokens (each span extends k−1 past its last gram start,
    * into the gap before the next island), so Σ span_tokens slightly
    * over-counts the distinct duplicated-token mass — [[exciseSpans]]
    * removes each token once regardless (measured at 1M docs: 8.109M
    * summed vs 8.100M removed).
    *
    * Scale shape: grams shuffle as (id, pos, 128-bit gram hash) — two
    * independently seeded xxhash64s, same birthday-bound argument as
    * [[exact]] — never the text. Duplication is decided by a partial
    * (map-side combining) aggregate + left-semi join back on the SAME
    * key, so the gram exchange is computed once and reused
    * (ReusedExchange), and no boilerplate mega-gram is ever buffered
    * raw the way a whole-group count window would. The island merge is
    * one per-doc sort; its groupBy reuses the id partitioning. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minSpan: Int): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    require(minSpan >= k,
      s"minSpan ($minSpan) below the gram size ($k) is unsatisfiable")
    val grams = positionedGramHashes(df, idCol, textCol, k)
    val dupGrams = grams
      .groupBy("__h1", "__h2").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("__h1", "__h2")
    val covered = grams
      .join(dupGrams, Seq("__h1", "__h2"), "left_semi")
      .select("id", "__p")
    coveredToSpans(covered, k, minSpan)
  }

  /** Shared island-merge tail of the span operators: covered gram-start
    * positions (id, __p) → maximal-run spans ≥ minSpan tokens. One
    * exchange on id; the gaps-and-islands groupBy reuses the window's
    * partitioning. Also the gram/position projection head, so every
    * span-family operator covers positions identically. */
  private[operators] def coveredToSpans(covered: DataFrame, k: Int,
                                        minSpan: Int): DataFrame = {
    val wid = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("__p")
    covered
      .withColumn("__island", col("__p") - row_number().over(wid))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("__p")).cast("long").as("span_start"),
        (max(col("__p")) + lit(k - 1)).cast("long").as("span_end"),
        (count(lit(1)) + lit(k - 1)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select("id", "span_start", "span_end", "span_tokens")
  }

  /** (id, gram-start position, 128-bit gram hash) projection shared by
    * the span family. */
  private[operators] def positionedGramHashes(df: DataFrame, idCol: String,
                                              textCol: String,
                                              k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"),
        posexplode(TextFunctions.ngrams(col("__t"), k)).as(Seq("__p", "__g")))
      .select(col("id"), col("__p"),
        xxhash64(col("__g")).as("__h1"),
        xxhash64(lit(0x9e3779b9L), col("__g")).as("__h2"))

  /** Apply a span table (normally [[duplicateSpans]] output) to the
    * corpus: drop the tokens inside each document's spans and reassemble
    * the survivors in order — the EXCISE policy, which keeps a document's
    * unique remainder instead of dropping the whole document. Output
    * (id, text, n_removed); documents without spans pass through with
    * n_removed = 0 and their text BYTES UNCHANGED (excised documents are
    * reassembled from tokens, i.e. single-space joined — but whitespace
    * renormalization must never leak into the untouched bulk of the
    * corpus), and a fully-covered document keeps an empty-text row
    * (silent row loss would corrupt id-keyed joins downstream — length
    * filtering is the caller's explicit next step).
    *
    * Scale shape: spans collapse to ≤ ntok/minSpan structs per doc
    * before the join, the join is an id equi-join (broadcast when the
    * span side is small — the common case — else one co-partitioned
    * exchange), and the excision itself is a row-local two-arg `filter`
    * + `exists` column program inside whole-stage codegen:
    * O(tokens × spans-per-doc) per row, no text through any shuffle. */
  def exciseSpans(docs: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame, spanIdCol: String = "id",
                  startCol: String = "span_start",
                  endCol: String = "span_end"): DataFrame = {
    val sp = spans
      .groupBy(col(spanIdCol).as("id"))
      .agg(collect_list(struct(col(startCol).as("s"), col(endCol).as("e")))
        .as("__sp"))
    // span positions index into TextFunctions.tokens (lowercased — that
    // is what duplicateSpans/contaminationSpans hashed), but the rebuild
    // filters the position-aligned CASE-PRESERVING array: excised docs
    // keep their surviving text's original case, not tokens()'s folding
    docs
      .select(col(idCol).as("id"), col(textCol).as("__orig"),
        TextFunctions.rawTokens(col(textCol)).as("__t"))
      .join(sp, Seq("id"), "left")
      .withColumn("__kept",
        when(col("__sp").isNull, col("__t"))
          .otherwise(filter(col("__t"), (_, i) =>
            !exists(col("__sp"), s => i >= s("s") && i <= s("e")))))
      .select(col("id"),
        when(col("__sp").isNull, col("__orig"))
          .otherwise(array_join(col("__kept"), " ")).as("text"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Jaccard of two PRE-COMPUTED shingle-set columns: pairwise verifiers
    * join per-doc sets by id so each document's shingling runs once, not
    * once per candidate pair it appears in. */
  def exactJaccardFromSets(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  // ------------------------------------------------------ portable sketches
  //
  // Same algorithms as the xxhash64 variants, but built ONLY from
  // poly-hash + universal-hash modular arithmetic ((a·x + b) mod p over a
  // 31-char rolling hash, p = 1e9+7, every intermediate < 2^62) so an
  // external SQL engine can reproduce them bit-for-bit — these are the
  // variants the DuckDB oracle verifies end-to-end.

  val PortableMod = 1000000007L

  /** Rolling poly-hash of a string expression (acc*31 + code, mod 1e9+7)
    * — usable inside higher-order lambdas; evaluated by the native
    * codegen expression (bit-equal to the composed fold, parity-tested). */
  def polyHash(s: Column): Column =
    graft.functions.expressions.ColumnBridge.polyHash(s)

  /** Seeded (a, b) pairs for the universal hash family
    * h_i(x) = (a_i·x + b_i) mod p. */
  def universalCoeffs(n: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)((1L + r.nextInt((PortableMod - 1).toInt).toLong,
      r.nextInt(PortableMod.toInt).toLong))
  }

  /** Plan (bands, rowsPerBand) for a target Jaccard threshold under a
    * signature-size budget — the S-curve solver (Leskovec/Rajaraman/
    * Ullman, "Mining of Massive Datasets" ch. 3, public): a pair at
    * similarity s collides in some band with probability
    * P(s) = 1 − (1 − s^r)^b, and the right (b, r) puts the curve's
    * rise at `threshold` while keeping it steep. Scoring: total error
    * mass against the ideal step — ∫₀ᵗ P(s) ds (false-candidate area,
    * weighted by `fpWeight`) + ∫ₜ¹ (1 − P(s)) ds (missed-pair area) —
    * on a fixed 1000-point grid, deterministic doubles. Enumerates
    * every (b, r) with b·r ≤ maxHashes and returns the minimizer
    * (smallest signature, then smallest r, on ties). At threshold 0.5
    * a 16-hash budget plans (5, 3) and a 128-hash budget the steeper
    * (25, 5); a 0.8 threshold pushes rows up to (9, 13) — longer
    * bands collide only at high similarity. `fpWeight` > 1 when
    * verification is expensive (false candidates each cost an
    * exact-Jaccard check — it trades toward longer bands); < 1 when
    * recall is the product (missed near-dups poison training data
    * silently).
    *
    * Driver-side config arithmetic — no data, no jobs; feed the result
    * straight into [[minhashPortablePairs]] / MinhashConfig. */
  def lshPlan(threshold: Double, maxHashes: Int,
              fpWeight: Double = 1.0): (Int, Int) = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2, got $maxHashes")
    require(fpWeight > 0, s"fpWeight must be positive, got $fpWeight")
    val grid = 1000
    def err(b: Int, r: Int): Double = {
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < grid) {
        val s = (i + 0.5) / grid
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fp * fpWeight + fn) / grid
    }
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
    } yield (b, r)
    candidates.minBy { case (b, r) => (err(b, r), b * r, r) }
  }

  /** Portable MinHash + LSH banding pairs, verified with exact Jaccard.
    * Candidate generation: per band, bucket = "_"-joined minhashes of the
    * band's rows; docs sharing a (band, bucket) pair up via in-group
    * combinations of the sorted id list (bounded by `maxBucket`), exactly
    * like [[ngramJaccardPairs]] — ids only through the shuffle. */
  def minhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, bands: Int, rowsPerBand: Int,
                           threshold: Double, seed: Long = 42L,
                           maxBucket: Int = 1000): DataFrame =
    minhashPortablePairsFrom(
      minhashCombined(df, idCol, textCol, shingleN, bands, rowsPerBand,
        seed),
      bands, rowsPerBand, threshold, maxBucket)

  /** [[minhashPortablePairs]] over a PRE-STAGED [[minhashCombined]]
    * frame — the fusion entry point for composed pipelines: the plan
    * below reads `combined` THREE times (candidate generation plus the
    * two verification joins), and Spark re-executes an uncached subtree
    * per reference, so a caller that materializes the combined frame
    * first (localCheckpoint / staging table) pays the expensive
    * tokenize→shingle→hash pass once instead of three times
    * ([[graft.operators.Pipeline.curate]] does exactly this). Values
    * are identical either way. */
  private[operators] def minhashPortablePairsFrom(combined: DataFrame,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val banded = bandedFromCombined(combined, bands, rowsPerBand)
    val candidates = bucketCandidates(banded, Seq("band", "bucket"), maxBucket)
    // Verify over the HASHED shingle sets (arrays of longs), not the
    // string shingles: set intersection/union on fixed-width longs is far
    // cheaper than string equality, the join payload shrinks ~4×, and the
    // hash computation is shared with the signature branch. Jaccard over
    // distinct hashes equals Jaccard over shingles except on poly-hash
    // collisions (p = 1e9+7; ~1e-6 per pair at 10² shingles/doc) — and
    // the oracle mirrors the hashed form, so both engines always agree.
    val tagged = combined.select(col("id").as("__tid"), col("hset").as("__sh"))
    candidates
      .join(tagged, col("id_a") === col("__tid"))
      .withColumnRenamed("__sh", "sh_a").drop("__tid")
      .join(tagged, col("id_b") === col("__tid"))
      .withColumnRenamed("__sh", "sh_b").drop("__tid")
      .withColumn("jaccard", exactJaccardFromSets(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The ONE expensive pass of the portable MinHash pipeline —
    * tokenize → shingle → hash → per-function minima AND the distinct
    * hash set, emitted together as (id, mins, hset). Both MinHash
    * products derive from the same `hv` array, so computing them in one
    * projection lets a caller MATERIALIZE the pass once and serve the
    * banding ([[bandedFromCombined]] — a cheap struct explode) and the
    * Jaccard verification sets from the staged frame: the split
    * (banded, sets) form re-runs this chain once per materialized
    * product (measured as the dominant cost of an audited
    * CurationStore ingest). */
  private[operators] def minhashCombined(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, bands: Int, rowsPerBand: Int,
      seed: Long): DataFrame = {
    val coeffs = universalCoeffs(bands * rowsPerBand, seed)
    val withHv = df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0) // empty docs never pair
      .select(col("id"),
        TextFunctions.wordShinglesFromTokens(col("__toks"), shingleN)
          .as("__sh"))
      .select(col("id"), transform(col("__sh"), s => polyHash(s)).as("hv"))
    // all minima in ONE native pass over the hash array (vs one
    // array_min(transform(...)) traversal per hash function), bound to a
    // column so band buckets read elements, not re-evaluations
    val minsArr = graft.functions.expressions.ColumnBridge.column(
      graft.functions.expressions.PortableMinHash(
        graft.functions.expressions.ColumnBridge.expression(col("hv")),
        coeffs.map(_._1).toArray, coeffs.map(_._2).toArray))
    withHv.select(col("id"), minsArr.as("mins"),
      array_distinct(col("hv")).as("hset"))
  }

  /** The LSH index slice (id, band, bucket) off a [[minhashCombined]]
    * frame — a struct explode over the staged minima, cheap to
    * re-evaluate per consumer. */
  private[operators] def bandedFromCombined(combined: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bucketStructs = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_",
          (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
            .map(i => col("mins").getItem(i).cast("string")): _*).as("bucket"))
    }
    combined
      .select(col("id"), explode(array(bucketStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Portable SimHash from a PRE-BOUND token-hash array column: bit_i =
    * sign of Σ_tokens (±1 by ((a_i·h+b_i) mod p) mod 2), packed into
    * `coeffs.size` bits. Token multiset (not set) — repeated words weigh
    * more, like the xxhash variant. Evaluated by the native one-pass
    * expression (bit-equal to [[simhashFromHashesComposed]], the
    * executable spec it is parity-tested against). */
  def simhashFromHashes(hv: Column, coeffs: Seq[(Long, Long)]): Column =
    graft.functions.expressions.ColumnBridge.column(
      graft.functions.expressions.PortableSimHash(
        graft.functions.expressions.ColumnBridge.expression(hv),
        coeffs.map(_._1).toArray, coeffs.map(_._2).toArray))

  /** Composed higher-order-function form — one aggregate traversal per
    * bit; kept as the specification of the native expression. */
  def simhashFromHashesComposed(hv: Column, coeffs: Seq[(Long, Long)]): Column =
    coeffs.zipWithIndex.map { case ((a, b), bit) =>
      val s = aggregate(hv, lit(0L), (acc, h) =>
        acc + when(pmod(lit(a) * h + lit(b), lit(PortableMod)) % 2 === 1,
          lit(1L)).otherwise(lit(-1L)))
      when(s > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Portable SimHash near-dup pairs within Hamming distance `maxDist`
    * over a `chunks`×`chunkBits`-bit signature: pigeonhole on the chunks
    * (dist < chunks ⇒ at least one exact chunk), in-group combinations
    * carry (id, sig) so the verify step needs no re-join.
    *
    * SIZE `chunkBits` TO THE CORPUS: bucket keys live in the chunk-value
    * space (2^chunkBits buckets per chunk), bucket population grows
    * linearly with the corpus and the in-bucket comparison count
    * quadratically. Measured: 8-bit chunks → 2.6M candidate pairs from
    * 5k docs; the 12-bit default → ~244 docs/bucket and ~488M hamming
    * comparisons at 1M docs (6.7 s at local[32], but quadratic from
    * there); 15-bit chunks cut it ~64×. The native expression takes up
    * to 63 total bits — widen chunkBits before raising `maxBucket`. */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
                           maxDist: Int = 3, seed: Long = 42L,
                           maxBucket: Int = 10000,
                           chunks: Int = 4, chunkBits: Int = 12): DataFrame = {
    require(maxDist < chunks,
      s"pigeonhole needs maxDist < chunks: $maxDist >= $chunks misses pairs")
    val chunked = simhashStage(df, idCol, textCol, seed, chunks, chunkBits)
    // native one-pass pair kernel inside hammingCandidates: the composed
    // transform/slice/filter form copies an O(n) struct array per element
    // — O(n²) allocations per bucket, which melts down on
    // near-identical-signature buckets; the kernel allocates only for
    // matches (hammingPairsComposed is the executable spec it is
    // parity-tested against)
    hammingCandidates(chunked, Seq("chunk", "cval"), maxBucket, maxDist)
  }

  /** Hamming near-dup pairs over an ARBITRARY precomputed 64-bit
    * signature column (a perceptual image hash, an externally computed
    * fingerprint): the [[simhashPortablePairs]] candidate machinery —
    * pigeonhole chunks, bucket cap, native pair kernel — without the
    * text-signature stage. Exact at `maxDist < chunks` when
    * `chunks × chunkBits` covers all 64 bits (any pair within maxDist
    * must agree on at least one whole chunk). Unsigned shifts, so
    * signatures using bit 63 chunk correctly. */
  def signatureNearDupPairs(df: DataFrame, idCol: String, sigCol: String,
                            maxDist: Int = 3, chunks: Int = 4,
                            chunkBits: Int = 16,
                            maxBucket: Int = 10000): DataFrame = {
    require(maxDist < chunks,
      s"pigeonhole needs maxDist < chunks: $maxDist >= $chunks misses pairs")
    hammingCandidates(hammingStage(df, idCol, sigCol, chunks, chunkBits),
      Seq("chunk", "cval"), maxBucket, maxDist)
  }

  /** Shared pigeonhole staging of a PRECOMPUTED 64-bit signature
    * column: (id, sig, chunk, cval) rows, null signatures dropped —
    * ONE definition for the one-shot operator and the
    * [[HammingStore]], whose equivalence contract depends on both
    * sides chunking identically (the [[simhashStage]] pattern). */
  private[operators] def hammingStage(df: DataFrame, idCol: String,
                                      sigCol: String, chunks: Int,
                                      chunkBits: Int): DataFrame = {
    require(chunks * chunkBits <= 64,
      s"chunk layout ${chunks}x$chunkBits exceeds 64 bits")
    val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    df.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("id"), col(sigCol).as("sig"))
      .select(col("id"), col("sig"),
        explode(array((0 until chunks).map { c =>
          struct(lit(c).as("chunk"),
            shiftrightunsigned(col("sig"), c * chunkBits)
              .bitwiseAND(lit(chunkMask)).as("cval"))
        }: _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.cval"))
  }

  /** Shared staging of the portable SimHash pipeline for one batch:
    * (id, sig, chunk, cval) — one row per pigeonhole chunk, which is both
    * the in-memory candidate index and the layout a signature STORE
    * persists (bucketed by (chunk, cval), the candidate-join key). */
  private[operators] def simhashStage(df: DataFrame, idCol: String,
      textCol: String, seed: Long, chunks: Int, chunkBits: Int): DataFrame = {
    require(chunks * chunkBits <= 63,
      s"signature ${chunks}x$chunkBits exceeds 63 bits")
    val coeffs = universalCoeffs(chunks * chunkBits, seed)
    // token hashes bound to a column → the per-bit aggregates share it
    val withSig = df
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        transform(TextFunctions.tokens(col(textCol)), t => polyHash(t)).as("__hv"))
      .select(col("id"), simhashFromHashes(col("__hv"), coeffs).as("sig"))
    val chunkMask = (1L << chunkBits) - 1
    withSig.select(col("id"), col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * chunkBits).bitwiseAND(chunkMask).as("cval"))
      }: _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.cval"))
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS (minhash/simhash/jaccard output) into dedup
    * CLUSTERS (keep one doc per component). Min-label propagation with
    * POINTER JUMPING: each round every node adopts the minimum label
    * among itself and its neighbors, then follows its label's label one
    * hop — path lengths halve per round, so convergence is
    * O(log diameter) rounds, not O(diameter) (a 25-doc chain of
    * templated near-dups converges in ~5 rounds, and maxIter=50 covers
    * any graph that fits in storage).
    *
    * Scale shape: every round is two ids-only equi-joins + one
    * partial-agg'd groupBy over the edge list. Labels are
    * localCheckpointed each round to truncate lineage, and the PREVIOUS
    * round's checkpoint blocks are unpersisted as soon as the new round
    * materializes — storage holds at most edges + two label tables. The
    * per-round `count` is a bounded control read driving the fixpoint
    * test.
    *
    * Returns (id, component) for every id appearing in `pairs`;
    * `component` = min id of the component. Ids must be integral
    * columns — a silent cast of string/UUID ids to long would collapse
    * every edge to (null, null), so non-integral ids are rejected.
    *
    * `maxDriverEdges` (0 forces the distributed fold) is deliberately a
    * driver-MEMORY bound, not a data-scale bound — it needs no retuning per corpus size.
    *
    * SMALL-GRAPH ROUTE (r12): once the symmetric-deduped edge list is
    * materialized, one direction of it is collected through
    * [[graft.core.DriverRoute]] when it has at most `maxDriverEdges` rows
    * (default 2^20 edges ≈ 16 MB collected, the same size class as a
    * broadcast build side), and the component fold runs as a driver
    * union-find instead of the distributed rounds. Near-dup pair graphs
    * are tiny relative to their corpus (pairs ≈ dup rate × corpus, and
    * every generator caps degenerate buckets), so at ANY corpus scale
    * most CC calls take this route; a pair explosion past the gate
    * routes to the distributed fold unchanged. Measured motivation: the
    * distributed fold spent 16 rounds × 3 driver-side plan/actions ≈
    * 6.5 s on a 1,983-pair graph (q96 at sf0.1) that union-find folds in
    * milliseconds. The labels come back as a local relation (accurate
    * stats), so downstream keep-joins auto-broadcast instead of
    * shuffling the corpus side. Result is BIT-IDENTICAL: comp = min id of
    * the component, schedule-independent (union-by-min root;
    * property-pinned in DedupSpec). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None,
                          maxDriverEdges: Long = DefaultMaxDriverEdges)
      : DataFrame = {
    requireIntegralIds(pairs, aCol, bCol)
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // per-round lineage cut + track the pinned RDD ids so superseded
    // rounds can be unpersisted deterministically instead of waiting on
    // the ContextCleaner's GC-driven cleanup. checkpointDir switches
    // localCheckpoint → reliable checkpoint files (executor-loss
    // resilience for long folds) — see [[Graph.RoundCheckpoint]].
    val checkpoint = new Graph.RoundCheckpoint(sc, checkpointDir)
    val edges = checkpoint.pin(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct())
    // one direction suffices for connectivity — halve the collect.
    // <= keeps SELF-edges: a star contraction encodes singletons as
    // (id, id), and dropping them would erase those ids from the labeling
    graft.core.DriverRoute.collect(
        edges.filter(col("src") <= col("dst")), maxDriverEdges)
      .foreach { half =>
        checkpoint.releasePinned()
        return componentLabels(spark, half)
      }
    var (labels, prevIds) = checkpoint(
      edges.select(col("src").as("id")).distinct().withColumn("comp", col("id")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("__nc")), "dst")
        .groupBy(col("src")).agg(min(col("__nc")).as("__nmin"))
      // persist BEFORE the pointer-jump self-join: `stepped` feeds both
      // sides of it, and an unmaterialized plan would evaluate the
      // edges⋈labels subtree once per side — doubling the dominant
      // per-round cost on large edge sets. A lazy mark suffices: the
      // self-join's round computes each partition once and caches it
      // (block-level locking serves the second side from cache), so no
      // separate materialization job is paid.
      val (stepped, stepIds) = checkpoint.lazyMark(labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("__nmin"), col("comp"))).as("__c1")))
      // pointer jump: labels are node ids, so follow __c1 through the
      // same round's mapping — comp = min(__c1, label(__c1))
      val next = stepped
        .join(stepped.select(col("id").as("__c1"), col("__c1").as("__jump")),
          Seq("__c1"), "left")
        .select(col("id"),
          least(col("__c1"), coalesce(col("__jump"), col("__c1"))).as("comp"),
          col("__old"))
      // the fixpoint control read IS the round's materializing action
      // (the Graph dangling-fold discipline): one job per round instead
      // of three — the count computes `next`, persists its blocks, and
      // truncates lineage in the same pass
      val (mat, ids) = checkpoint.lazyMark(next)
      changed = mat.filter(col("comp") < col("__old")).count()
      labels = mat.select("id", "comp")
      Graph.release(sc, prevIds ++ stepIds)
      prevIds = ids
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds")
    // labels are checkpointed (lineage-free) — free the run-scoped edge
    // pin so looped callers don't accumulate cached edge lists
    checkpoint.releasePinned()
    labels
  }

  /** Incremental connected components: fold a NEW batch of pairs into an
    * existing (id, comp) labeling without revisiting historical pairs.
    * A previous labeling is a connectivity-preserving CONTRACTION of the
    * old edge set — every old component is a star centred on its min id
    * — so running CC over (labels-as-edges ∪ new pairs) yields exactly
    * the components of (all historical pairs ∪ new pairs), at edge cost
    * |V_old| + |E_new| instead of |E_old| + |E_new|. Star edges include
    * each centre's self-edge, so ids whose component is untouched by the
    * new batch keep appearing in the output with their old label.
    * Convergence: old components have diameter ≤ 2, so rounds scale with
    * how many old components the NEW pairs chain together, not with the
    * historical graph (property-tested equal to the full recompute).
    *
    * SMALL-DELTA ROUTE: when the new pairs and the labels together
    * have at most `maxDriverEdges` rows, both are collected (the pairs
    * first: a local relation costs no job) and folded by the same
    * driver union-find as [[connectedComponents]]' small-graph route —
    * no pin, no distinct shuffle, no count. Larger inputs take the
    * contraction through [[connectedComponents]] unchanged.
    *
    * An EMPTY pair set short-circuits to the labels untouched — the
    * common case for a near-dup-free micro-batch in a long-lived
    * maintenance stream, which otherwise pays the full fold's rounds for
    * nothing. (A finer delta scope — anti-joining out untouched
    * components — was measured 3× WORSE on the dense-fold board query:
    * the extra full-label joins cost more than the contraction rounds
    * they save.) */
  def connectedComponentsIncremental(prevLabels: DataFrame, pairs: DataFrame,
                                     aCol: String, bCol: String,
                                     maxIter: Int = 50,
                                     checkpointDir: Option[String] = None,
                                     maxDriverEdges: Long = DefaultMaxDriverEdges)
      : DataFrame = {
    val star = prevLabels.select(col("id").as("__src"), col("comp").as("__dst"))
      .unionByName(pairs.select(col(aCol).as("__src"), col(bCol).as("__dst")))
    requireIntegralIds(star, "__src", "__dst")
    val newEdges = graft.core.DriverRoute.collect(
      pairs.select(col(aCol).cast("long"), col(bCol).cast("long")),
      maxDriverEdges)
    if (newEdges.exists(_.isEmpty) || (newEdges.isEmpty && pairs.isEmpty))
      return prevLabels.select(col("id"), col("comp"))
    newEdges.flatMap(p => graft.core.DriverRoute.collect(
        prevLabels.select(col("id").cast("long"), col("comp").cast("long")),
        maxDriverEdges - p.length).map(_ ++ p)) match {
      case Some(all) => componentLabels(pairs.sparkSession, all)
      case None => connectedComponents(star, "__src", "__dst", maxIter,
        checkpointDir, maxDriverEdges)
    }
  }

  private def requireIntegralIds(pairs: DataFrame, cols: String*): Unit =
    cols.foreach(Pipeline.requireIntegralId(pairs.schema, _, "connectedComponents"))

  /** The driver fold of both CC routes: (id, comp) for every endpoint of
    * `edges` (long pairs; a null endpoint adds nothing), comp = the
    * component's min id. Union-by-min-root: the component's min id can
    * never acquire a parent (only a smaller root could become one), so
    * every final root IS the component minimum — the distributed fold's
    * fixpoint. */
  private def componentLabels(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row])
      : DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    val nodes = new scala.collection.mutable.LongMap[Unit]()
    edges.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val (a, b) = (row.getLong(0), row.getLong(1))
        nodes.update(a, ()); nodes.update(b, ())
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    graft.core.DriverRoute.local(spark,
      nodes.keys.toSeq.map(id => org.apache.spark.sql.Row(id, find(id))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("comp", LongType, nullable = false))))
  }

  /** In-bucket candidate pairs from an (id, bucket-key…) index frame:
    * group on the bucket key, cap, native pair kernel, cross-bucket
    * dedup. ONE definition shared by the batch pair generators and
    * [[MinhashStore]] — the store's "ingest equals full recompute"
    * contract depends on this staying bit-identical on both paths. */
  private[operators] def bucketCandidates(index: DataFrame,
      keyCols: Seq[String], maxBucket: Int): DataFrame =
    index.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("id").cast("long"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
      .select(explode(idPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** The [[bucketCandidates]] twin for signature-carrying indexes
    * (id, sig, bucket-key…): in-group Hamming kernel, verified pairs
    * out. Shared by both simhash pair generators and [[SimhashStore]]. */
  private[operators] def hammingCandidates(index: DataFrame,
      keyCols: Seq[String], maxBucket: Int, maxDist: Int): DataFrame = {
    val groups = index.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col("id").cast("long").as("id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
    val pairExpr = graft.functions.expressions.ColumnBridge.column(
      graft.functions.expressions.HammingPairs(
        graft.functions.expressions.ColumnBridge.expression(col("ms")),
        maxDist))
    groups.select(explode(pairExpr).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Native (i < j) id-combination kernel as a Column. */
  def idPairs(ids: Column): Column =
    graft.functions.expressions.ColumnBridge.column(
      graft.functions.expressions.IdPairs(
        graft.functions.expressions.ColumnBridge.expression(ids)))

  /** Composed form — the executable specification of
    * [[graft.functions.expressions.IdPairs]]. */
  def idPairsComposed(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Composed higher-order-function form of the in-bucket pair kernel —
    * kept as the executable specification of
    * [[graft.functions.expressions.HammingPairs]]. */
  def hammingPairsComposed(ms: Column, maxDist: Int): Column =
    filter(
      flatten(transform(ms, (x, i) =>
        transform(slice(ms, i + lit(2), size(ms)),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            bit_count(x.getField("sig").bitwiseXOR(y.getField("sig")))
              .as("hamming"))))),
      p => p.getField("hamming") <= maxDist)
}
