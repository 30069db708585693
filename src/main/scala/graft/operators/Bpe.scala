package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer TRAINING and ENCODING as corpus
  * operators — the step after [[CorpusStats.vocabulary]] in the
  * tokenizer-training story: learn the merge table from the corpus,
  * then tokenize with it (public algorithm: Sennrich, Haddow & Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units").
  *
  * One DOCUMENTED divergence from the subword-nmt reference: a chain
  * of 3+ repeats of the same pair inside one word ("a a a a" under
  * merge (a,a)) merges alternately per rank here (→ "aa a aa a"),
  * where subword-nmt's lookaround regex merges exhaustively
  * (→ "aa aa"). This is inherent to engine-portable non-overlapping
  * `replace` (RE2 — the DuckDB oracle's engine — has no lookbehind);
  * learner, encoder, and oracle all share the exact same rule, so the
  * system is self-consistent and hash-verified.
  *
  * Scale shape. Learning runs on the WORD-TYPE table — one corpus-wide
  * aggregation builds (word, freq), and every merge round after that
  * costs O(|word types|), independent of corpus size (the classic BPE
  * training optimization). A round is: explode adjacent symbol pairs →
  * aggregate — the pair key space is the (growing) symbol alphabet
  * squared, a few thousand keys, so map-side combine collapses the
  * explode almost completely and the argmax is a 1-row bounded control
  * read (the q31-watermark idiom). The merge application is a single
  * codegen'd string `replace` over the spaced symbol string — Spark
  * and DuckDB share greedy left-to-right non-overlapping replace
  * semantics, which is exactly BPE's merge rule, so the whole learner
  * is oracle-expressible with zero UDFs.
  *
  * Symbol representation: a word is the single-space-joined string of
  * its codepoints plus a final [[EndOfWord]] symbol, wrapped in
  * sentinel spaces (" l o w </w> "). Pair patterns " l r " can then
  * never match inside a symbol, and replacement keeps the invariant.
  * Tokens come from [[TextFunctions.tokens]] (lowercased,
  * whitespace/script-aware), so no symbol can contain whitespace.
  */
object Bpe {

  /** End-of-word marker symbol (the subword-nmt convention). Appended
    * as its OWN symbol; merges may absorb it ("t </w>" → "t</w>"). */
  val EndOfWord = "</w>"

  /** [[learnMerges]]' small-vocabulary gate: max word-TYPE rows replayed
    * on the driver (the [[Dedup.connectedComponents]] small-graph
    * discipline — a driver-memory bound, not a data-scale bound; ~25 MB
    * collected at the default). */
  private[graft] val DefaultMaxDriverTypes: Long = 1L << 19

  /** Hard cap on merge-table size — bounds [[learnMerges]]' driver
    * rounds and [[encode]]'s collected table (the native ApplyMerges
    * kernel is one expression node regardless of table size, so the
    * cap is a sanity bound on the bounded control read, not a plan
    * depth limit; a full-depth spec exercises it). Sized for a real
    * subword vocabulary. */
  val MaxMerges = 65536

  /** Codepoints of one word/symbol string. (?s) so Java's '.' keeps
    * U+2028/U+2029/U+0085 — they survive ASCII-\s tokenization, and
    * RE2's '.' (the oracle engine) already keeps them; without the
    * flag the two engines would extract different symbol sequences. */
  private def codepoints(w: Column): Column =
    regexp_extract_all(w, lit("(?s)."), lit(0))

  /** " c1 c2 … cn </w> " for one word column. */
  private def spacedWord(w: Column): Column =
    concat(lit(" "), array_join(codepoints(w), " "),
      lit(" " + EndOfWord + " "))

  /** Adjacent symbol pairs of a spaced word string, as structs
    * (lhs, rhs) — zip of the symbol array with its own tail. */
  private def adjacentPairs(wstr: Column): Column = {
    val a = split(trim(wstr), " ")
    zip_with(slice(a, lit(1), size(a) - 1), slice(a, lit(2), size(a) - 1),
      (l, r) => struct(l.as("lhs"), r.as("rhs")))
  }

  /** Learn `numMerges` BPE merges from the corpus. Output
    * (rank, lhs, rhs, pair_cnt) ordered by rank 1..k — stops early
    * (fewer rows) once no pair reaches `minPairCount`. Ties at the
    * argmax break by (count desc, lhs asc, rhs asc), binary string
    * order in both engines, so the learned table is deterministic and
    * engine-portable.
    *
    * Each round's word table is localCheckpointed (the
    * [[Dedup.connectedComponents]] iteration discipline): the plan
    * truncates to the materialized blocks — without this, round k's
    * logical plan NESTS round k−1's, and AQE's per-job plan-string
    * rendering alone OOMs the driver by round ~25 (measured at 1M
    * docs) — and the previous round's blocks are unpersisted as soon
    * as the next round materializes, so at most two vocabulary-sized
    * tables are ever live. */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  minPairCount: Long = 2L,
                  maxDriverTypes: Long = DefaultMaxDriverTypes): DataFrame = {
    require(numMerges > 0 && numMerges <= MaxMerges,
      s"numMerges must be in 1..$MaxMerges, got $numMerges")
    require(minPairCount >= 1L,
      s"minPairCount must be >= 1, got $minPairCount")
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    // the word-type aggregate goes through the row-local TokenCounts
    // kernel for the same reason CorpusStats.vocabulary does: a raw
    // explode feeds a billion-row stream into a partial aggregate on a
    // near-unique key (measured heap-fatal at 10M docs); per-doc
    // counts explode one entry per distinct word per doc instead
    val base = docs
      .select(explode(CorpusStats.docTokenCounts(col(textCol))).as("e"))
      .groupBy(col("e.tok").as("w")).agg(sum(col("e.c")).as("freq"))
      .select(spacedWord(col("w")).as("wstr"), col("freq"))

    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var (cur, prevIds) = Graph.checkpointPinned(base)
    // SMALL-VOCAB ROUTE (r12): the merge loop iterates over the WORD-TYPE
    // table, whose size follows Heaps' law — a fraction of the corpus at
    // any scale — and each distributed round costs an argmax job plus a
    // checkpoint job. When the materialized type table is at most
    // `DefaultMaxDriverTypes` rows (one bounded collect of the
    // just-checkpointed blocks), replay
    // the identical rounds in memory: same pair counting (each adjacent
    // occurrence, freq-weighted), same argmax tie-break (count desc,
    // then lhs/rhs in UTF-8 BYTE order — java.lang.String order would
    // diverge on supplementary characters), same greedy left-to-right
    // literal replace (String.replace ≡ UTF8String.replace). Real
    // tokenizer trainers are single-node for exactly this reason; a
    // web-garbage vocabulary past the gate takes the distributed rounds
    // unchanged. Equivalence spec-pinned in BpeSpec.
    graft.core.DriverRoute.collect(cur.select(col("wstr"), col("freq")),
        maxDriverTypes).foreach { rows =>
      var words = rows.map(r => (r.getString(0), r.getLong(1)))
      Graph.release(sc, prevIds)
      def ltUtf8(a: String, b: String): Boolean = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          if ((x(i) & 0xff) != (y(i) & 0xff)) return (x(i) & 0xff) < (y(i) & 0xff)
          i += 1
        }
        x.length < y.length
      }
      var k = 1
      var done = false
      while (k <= numMerges && !done) {
        val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
        words.foreach { case (w, f) =>
          val t = w.trim.split(" ")
          var i = 0
          while (i < t.length - 1) {
            val key = (t(i), t(i + 1))
            cnt.update(key, cnt.getOrElse(key, 0L) + f)
            i += 1
          }
        }
        var best: ((String, String), Long) = null
        cnt.foreach { kv =>
          if (best == null ||
              kv._2 > best._2 ||
              (kv._2 == best._2 && (ltUtf8(kv._1._1, best._1._1) ||
                (kv._1._1 == best._1._1 && ltUtf8(kv._1._2, best._1._2)))))
            best = kv
        }
        if (best == null || best._2 < minPairCount) done = true
        else {
          val ((l, r), c) = best
          merges += ((k, l, r, c))
          words = words.map { case (w, f) =>
            (w.replace(s" $l $r ", s" $l$r "), f)
          }
          k += 1
        }
      }
      import spark.implicits._
      return merges.toSeq.toDF("rank", "lhs", "rhs", "pair_cnt")
    }
    var k = 1
    var done = false
    while (k <= numMerges && !done) {
      // 1-row bounded control read: the round's argmax pair
      val best = cur
        .select(explode(adjacentPairs(col("wstr"))).as("p"), col("freq"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((k, l, r, c))
        val (next, ids) = Graph.checkpointPinned(cur.select(
          replace(col("wstr"), lit(s" $l $r "), lit(s" $l$r "))
            .as("wstr"), col("freq")))
        Graph.release(sc, prevIds)
        cur = next
        prevIds = ids
        k += 1
      }
    }
    Graph.release(sc, prevIds)

    import spark.implicits._
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_cnt")
  }

  /** Encode documents with a learned merge table: apply the merges in
    * rank order (the standard BPE encoder — identical to learning's
    * replay because replace is greedy left-to-right). Output
    * (id, n_tokens, enc) where `enc` is the space-joined BPE symbol
    * sequence of the whole document and `n_tokens` counts its symbols
    * (an unmerged [[EndOfWord]] counts as a symbol — document-level
    * token budgeting wants the real sequence length).
    *
    * The document is encoded as ONE flat spaced string with words
    * separated by TWO spaces: merge patterns carry single interior
    * spaces, so no pattern can span the double boundary, and a
    * word-final match that consumes its trailing space still leaves
    * the second boundary space as the next word's leading one — each
    * word therefore encodes exactly as learning's per-word replay,
    * independent of its neighbors. (A single-space boundary is NOT
    * safe: consecutive occurrences of the same word-final pattern
    * share the boundary space and the second occurrence is skipped.)
    * Defense in depth, a require rejects merge tables whose lhs
    * contains [[EndOfWord]] — learning cannot produce one (the marker
    * is always word-final, so a marker-bearing symbol never has a
    * right neighbor), and such a merge could fuse across words.
    *
    * The merge table is collected (bounded by [[MaxMerges]]) and
    * applied by the native
    * [[graft.functions.expressions.ApplyMerges]] kernel — one
    * expression node holding the whole ordered table and looping in
    * compiled code. (Folding into nested `replace(...)` calls is
    * semantically identical but burns stack frames per merge in
    * Column/Catalyst tree recursion — StackOverflowError below 512
    * merges, measured — a non-starter for real tokenizer tables.)
    * Corpus-scale work stays row-local with zero shuffles; a
    * full-depth spec pins the cap. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: DataFrame): DataFrame = {
    // encode explodes each ~KB text into per-codepoint workspace many
    // times its size — when `docs` is a raw wide-string parquet scan,
    // action it under [[graft.core.WideScan.withScanSizing]] (the
    // curation entry points do this for theirs; encode returns a LAZY
    // frame, so a clamp here would not be in effect at execution time)
    val m = merges.select(col("rank").cast("int"), col("lhs"), col("rhs"))
      .orderBy(col("rank").asc).limit(MaxMerges + 1).collect()
    require(m.length <= MaxMerges,
      s"merge table exceeds $MaxMerges rows")
    require(m.forall(r => !r.getString(1).contains(EndOfWord)),
      s"merge whose lhs contains $EndOfWord cannot come from " +
        "learnMerges and could merge across word boundaries")
    // a token containing the literal marker would round-trip wrong:
    // spacedWord splits "</w>" into its codepoints, decode's space
    // removal re-concatenates them INTO the marker, and the boundary
    // replace then eats real text. The marker has no whitespace and
    // tokens() only lowercases, so "lower(text) contains marker" is
    // exactly "some token contains marker" — fail fast row-locally
    // (the merge-table guard's genus), riding the encode projection.
    val guarded = coalesce(col(textCol), lit(""))
    val safeText = when(assert_true(
      !contains(lower(guarded), lit(EndOfWord)),
      lit(s"Bpe.encode: text contains the literal $EndOfWord marker — " +
        "decode could not invert it; strip or escape the marker " +
        "upstream")).isNull, guarded)
    val e0 = concat(lit(" "),
      array_join(transform(TextFunctions.tokens(safeText),
        w => concat(array_join(codepoints(w), " "),
          lit(" " + EndOfWord))), "  "),
      lit(" "))
    val folded = graft.functions.expressions.ColumnBridge.applyMerges(e0,
      m.map(row => s" ${row.getString(1)} ${row.getString(2)} ").toSeq,
      m.map(row => s" ${row.getString(1)}${row.getString(2)} ").toSeq)
    val enc = regexp_replace(trim(folded), " +", " ")
    docs.select(col(idCol).as("id"),
      when(enc === "", lit(0L))
        .otherwise(size(split(enc, " ")).cast("long")).as("n_tokens"),
      enc.as("enc"))
  }

  /** Inverse of [[encode]] — the detokenizer a data loader or a
    * debugging pass runs over stored token streams. BPE decode is
    * exact by CONSTRUCTION, independent of which merges were learned:
    * merges only ever concatenate codepoints within one word, so
    * dropping the inter-symbol spaces and turning each [[EndOfWord]]
    * marker into a word boundary recovers the tokenized text. The
    * round-trip contract (BpeSpec + the q169 oracle, which needs no
    * BPE at all — the equality IS the proof):
    * `decode(encode(docs, ANY merges))` ==
    * `tokens(text)` joined by single spaces (i.e. the
    * whitespace-normalized lowercased text [[encode]] consumed).
    * The one input that could break the inversion — a token containing
    * the literal [[EndOfWord]] marker, whose codepoints decode's space
    * removal would re-concatenate into a phantom word boundary — is
    * rejected row-locally at ENCODE time (fail fast, like the
    * merge-table guard), so every stream decode sees is invertible.
    * Row-local codegen'd Columns, zero shuffles. */
  def decode(encoded: DataFrame, idCol: String = "id",
             encCol: String = "enc"): DataFrame = {
    val joined = regexp_replace(
      coalesce(col(encCol), lit("")), " ", "")
    encoded.select(col(idCol).as("id"),
      trim(regexp_replace(joined, EndOfWord, " ")).as("text"))
  }
}
