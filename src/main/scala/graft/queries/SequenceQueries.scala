package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.functions.TextFunctions
import graft.operators.Sequences
import Catalog.QueryDef
import Catalog.{duckHashBucket, duckToks}

/** Sequence-shaping tier: retrieval chunking and training-sequence
  * packing over the curated corpus — the step between curation and a
  * training/indexing run. Oracle-parity rules live in [[Catalog]]'s
  * scaladoc. */
private[queries] object SequenceQueries {

  /** The BM25 scoring CTE chain `tk → st → sc` over the (table, spark,
    * window) query — ONE definition of the parity-critical score SQL,
    * shared by q82, q85 (verbatim — incremental serve must equal
    * one-shot) and q84's lexical leg. Mirrors the Scala expression tree
    * precisely (left-assoc +,*,/; k1+1 and 1−b written as the same
    * driver-side arithmetic). */
  private val bm25Ctes: String = {
    val terms = Seq("table", "spark", "window")
    val dl = "CAST(len(tk) AS DOUBLE)"
    def tf(t: String) =
      s"CAST(len(list_filter(tk, t -> t = '$t')) AS DOUBLE)"
    val score = terms.zipWithIndex.map { case (t, i) =>
      s"""((${tf(t)} * (1.2 + 1.0) / (${tf(t)} + 1.2 * ((1.0 - 0.75)
         |            + 0.75 * $dl / (sumdl / n))))
         |            * (((n - df$i) + 0.5) / (df$i + 0.5)))""".stripMargin
    }.mkString("(", "\n           + ", ")")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(count(*) FILTER (list_contains(tk, '$t')) AS DOUBLE) AS df$i"
    }.mkString(",\n               ")
    s"""tk AS (SELECT doc_id, $duckToks AS tk FROM documents),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(len(tk)) AS DOUBLE) AS sumdl,
               $dfCols
          FROM tk),
        sc AS (SELECT doc_id, $score AS score FROM tk, st)"""
  }

  /** q82's oracle — shared VERBATIM by q85. */
  private val bm25Oracle: String =
    s"""
        WITH $bm25Ctes
        SELECT doc_id, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank
        FROM sc WHERE score > 0.0
        QUALIFY rank <= 10"""

  val defs: Seq[QueryDef] = Seq(

    // ===== retrieval chunking: fixed-size token windows w/ overlap =====
    QueryDef("q74_chunk_docs",
      (s, dir) => Sequences.chunkDocuments(T.documents(s, dir),
          "doc_id", "text", size = 64, overlap = 16)
        .withColumn("chunk_ix", col("chunk_ix").cast("long"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumnRenamed("id", "doc_id"),
      // step = size - overlap = 48; chunk k covers tokens [48k+1, 48k+64];
      // emitted while it covers ≥1 new token: k ≤ (ntok - 16 - 1) // 48
      Some(s"""
        WITH tk AS (SELECT doc_id, $duckToks AS tk FROM documents),
        nz AS (SELECT * FROM tk WHERE len(tk) > 0),
        ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_ix,
                      tk[k*48 + 1 : k*48 + 64] AS c
               FROM nz, unnest(range(0, greatest(len(tk) - 17, 0) // 48 + 1)) AS t(k))
        SELECT doc_id, chunk_ix, array_to_string(c, ' ') AS chunk_text,
               CAST(len(c) AS BIGINT) AS n_tokens
        FROM ch""")),

    // ===== training-sequence packing: concat-then-chunk in salted-hash
    // order via the two-phase global prefix sum =====
    QueryDef("q75_pack_sequences",
      (s, dir) => Sequences.packSequences(
        T.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 256L, salt = "v1"),
      Some(s"""
        WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
            ${duckHashBucket("doc_id", 1000000007L, "v1")} AS h
          FROM documents),
        c AS (SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM t)
        SELECT doc_id, n_tokens,
               (cum - n_tokens) // 256 AS seq_id,
               (cum - n_tokens) % 256 AS seq_offset
        FROM c""")),

    // ===== block-level boilerplate removal: drop 16-token blocks whose
    // exact text recurs in >= 2 docs, reassemble the rest in order =====
    QueryDef("q81_drop_boilerplate",
      (s, dir) => Sequences.dropRepeatedBlocks(T.documents(s, dir),
          "doc_id", "text", blockSize = 16, minDf = 2)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""
        WITH tk AS (SELECT doc_id, $duckToks AS tk FROM documents),
        nz AS (SELECT * FROM tk WHERE len(tk) > 0),
        blocks AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_ix,
                          array_to_string(tk[k*16 + 1 : k*16 + 16], ' ') AS chunk_text
                   FROM nz, unnest(range(0, (len(tk) - 1) // 16 + 1)) AS t(k)),
        hot AS (SELECT chunk_text FROM blocks
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        keep AS (SELECT * FROM blocks
                 WHERE chunk_text NOT IN (SELECT chunk_text FROM hot))
        SELECT doc_id,
               string_agg(chunk_text, ' ' ORDER BY chunk_ix) AS text
        FROM keep GROUP BY doc_id""")),

    // ===== lexical retrieval: rational-idf BM25 top-k (the query-time
    // complement of chunking; idf kept rational so both engines compute
    // bit-identical scores — see Retrieval.bm25TopK) =====
    QueryDef("q82_bm25_search",
      (s, dir) => graft.operators.Retrieval.bm25TopK(T.documents(s, dir),
          "doc_id", "text", queryTerms = Seq("table", "spark", "window"),
          k = 10)
        .withColumnRenamed("id", "doc_id")
        .withColumn("rank", col("rank").cast("long")),
      Some(bm25Oracle)),

    // ===== incremental retrieval index: two id-parity appends into a
    // persisted Bm25Index; search must equal the one-shot bm25TopK over
    // the union — SAME oracle as q82 (dfs/N/Σdl accumulate exactly) =====
    QueryDef("q85_bm25_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q85_").toString
        val idx = new graft.operators.Retrieval.Bm25Index(s, root, "inc",
          nStoreBuckets = 8)
        idx.ingest(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        idx.ingest(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        idx.search(Seq("table", "spark", "window"), k = 10)
          .withColumnRenamed("id", "doc_id")
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(bm25Oracle)),

    // ===== hybrid retrieval: reciprocal-rank fusion of the q82 lexical
    // ranking with a brute-force semantic ranking (doc_id ≡ vec_id) =====
    QueryDef("q84_hybrid_rrf",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val lex = graft.operators.Retrieval.bm25TopK(T.documents(s, dir),
          "doc_id", "text", Seq("table", "spark", "window"), k = 10)
        val sem = graft.operators.Similarity.bruteForceTopK(
            e, e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 10)
          .select(col("nbr_id").as("id"), col("rank"))
        graft.operators.Retrieval.rrfFuse(
            lex.select("id", "rank"), sem, k = 10)
          .withColumnRenamed("id", "doc_id")
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = Catalog.duckDot("qv", "cv")
        val na = s"sqrt(${Catalog.duckDot("qv", "qv")})"
        val nb = s"sqrt(${Catalog.duckDot("cv", "cv")})"
        s"""
        WITH $bm25Ctes,
        blex AS (SELECT doc_id AS id, rank FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM sc WHERE score > 0.0) WHERE rank <= 10),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        sem AS (SELECT nbr_id,
              CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                   ELSE $d / ($na * $nb) END AS sim
            FROM (SELECT vec_id AS nbr_id, embedding AS cv
                  FROM embeddings WHERE vec_id != 0) c, q),
        bsem AS (SELECT nbr_id AS id, rank FROM (
            SELECT nbr_id,
                   row_number() OVER (ORDER BY sim DESC, nbr_id) AS rank
            FROM sem) WHERE rank <= 10),
        f AS (SELECT id,
                (coalesce(1.0 / (60.0 + CAST(blex.rank AS DOUBLE)), 0.0)
                  + coalesce(1.0 / (60.0 + CAST(bsem.rank AS DOUBLE)), 0.0))
                  AS fused
              FROM blex FULL JOIN bsem USING (id))
        SELECT id AS doc_id, fused,
               CAST(row_number() OVER (ORDER BY fused DESC, id) AS BIGINT)
                 AS rank
        FROM f
        QUALIFY rank <= 10"""
      }),

    // ===== corpus-stats quality signal: rare-token ratio (model-free
    // perplexity stand-in — exact counts, no log) =====
    QueryDef("q83_rare_tokens",
      (s, dir) => graft.operators.CorpusStats.rareTokenRatio(
          T.documents(s, dir), "doc_id", "text", minDf = 3L)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""
        WITH dt AS (SELECT doc_id, unnest(list_distinct($duckToks)) AS tok
                    FROM documents),
        dfs AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        rare AS (SELECT tok FROM dfs WHERE df < 3),
        pd AS (SELECT dt.doc_id, count(*) AS n_distinct,
                      count(rare.tok) AS n_rare
               FROM dt LEFT JOIN rare ON dt.tok = rare.tok
               GROUP BY 1)
        SELECT d.doc_id,
               coalesce(pd.n_distinct, 0) AS n_distinct,
               coalesce(pd.n_rare, 0) AS n_rare,
               CASE WHEN pd.n_distinct IS NULL OR pd.n_distinct = 0 THEN 0.0
                    ELSE pd.n_rare::DOUBLE / pd.n_distinct::DOUBLE
               END AS rare_ratio
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN pd USING (doc_id)""")),

    // ===== corpus-stats: top-V vocabulary (tokenizer-training seed;
    // deterministic tie-break at the cut by token asc) =====
    QueryDef("q93_vocabulary",
      (s, dir) => graft.operators.CorpusStats.vocabulary(
        T.documents(s, dir), "text", topV = 200),
      Some(s"""
        -- df counts ROWS containing the token (one row = one document,
        -- the operator's contract): per-row-distinct unnest + count(*),
        -- not count(DISTINCT doc_id)
        WITH c AS (SELECT tok, count(*) AS cnt
                   FROM (SELECT unnest($duckToks) AS tok FROM documents)
                   GROUP BY tok),
        f AS (SELECT tok, count(*) AS df
              FROM (SELECT unnest(list_distinct($duckToks)) AS tok
                    FROM documents)
              GROUP BY tok)
        SELECT c.tok, c.cnt, f.df FROM c JOIN f USING (tok)
        ORDER BY cnt DESC, tok ASC LIMIT 200""")),

    // ===== corpus-stats quality signal: out-of-vocabulary rate against
    // the q93 vocabulary ("will the tokenizer shred this doc") =====
    QueryDef("q94_oov_rate",
      (s, dir) => {
        val d = T.documents(s, dir)
        graft.operators.CorpusStats.oovRate(d, "doc_id", "text",
            graft.operators.CorpusStats.vocabulary(d, "text", 200))
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
        v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok
              ORDER BY cnt DESC, tok ASC LIMIT 200),
        pd AS (SELECT t.doc_id, count(*) AS n_tokens,
                      count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov
               FROM t LEFT JOIN v ON t.tok = v.tok
               GROUP BY 1)
        SELECT d.doc_id,
               coalesce(pd.n_tokens, 0) AS n_tokens,
               coalesce(pd.n_oov, 0) AS n_oov,
               CASE WHEN pd.n_tokens IS NULL OR pd.n_tokens = 0 THEN 0.0
                    ELSE pd.n_oov::DOUBLE / pd.n_tokens::DOUBLE
               END AS oov_rate
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN pd USING (doc_id)""")),

    // ===== corpus-stats: token-share drift between two corpora (the
    // even/odd doc-id split stands in for reference vs new-crawl) =====
    QueryDef("q97_token_drift",
      (s, dir) => {
        val d = T.documents(s, dir)
        graft.operators.CorpusStats.tokenShareDrift(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), "text", topV = 200)
      },
      Some(s"""
        WITH ta AS (SELECT unnest($duckToks) AS tok FROM documents
                    WHERE doc_id % 2 = 0),
        tb AS (SELECT unnest($duckToks) AS tok FROM documents
               WHERE doc_id % 2 = 1),
        ca AS (SELECT tok, count(*) AS cnt_a FROM ta GROUP BY tok),
        cb AS (SELECT tok, count(*) AS cnt_b FROM tb GROUP BY tok),
        j AS (SELECT coalesce(ca.tok, cb.tok) AS tok,
                coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
              FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        sh AS (SELECT tok, cnt_a, cnt_b,
                cnt_a::DOUBLE / (SELECT count(*) FROM ta)::DOUBLE AS share_a,
                cnt_b::DOUBLE / (SELECT count(*) FROM tb)::DOUBLE AS share_b
              FROM j)
        SELECT tok, cnt_a, cnt_b, share_a, share_b,
          CASE WHEN cnt_a = 0 OR cnt_b = 0 THEN NULL
               ELSE share_a / share_b END AS drift_ratio
        FROM sh ORDER BY cnt_a + cnt_b DESC, tok ASC LIMIT 200""")),

    // ===== BPE tokenizer training: the merge table learned from the
    // corpus (greedy pair argmax, the subword-nmt algorithm). The
    // oracle UNROLLS the merge rounds — one (pairs, argmax, replace)
    // CTE triple per round, MATERIALIZED so DuckDB's CTE inlining
    // doesn't re-expand each round's word table exponentially. Both
    // engines share greedy left-to-right non-overlapping `replace`,
    // which IS BPE's merge rule =====
    QueryDef("q98_bpe_merges",
      (s, dir) => graft.operators.Bpe.learnMerges(
        T.documents(s, dir), "text", numMerges = bpeK),
      Some(s"""
        WITH ${bpeMergeCtes(bpeK)}
        SELECT rank, lhs, rhs, cnt AS pair_cnt
        FROM (${(1 to bpeK).map(i =>
          s"SELECT $i AS rank, lhs, rhs, cnt FROM b$i")
            .mkString(" UNION ALL ")})
        ORDER BY rank""")),

    // ===== BPE encoding: tokenize documents with the learned table —
    // chained literal replaces in rank order, row-local, zero
    // shuffles. n_tokens is the real sequence length (an unmerged
    // </w> is a symbol) =====
    QueryDef("q99_bpe_encode",
      (s, dir) => {
        val d = T.documents(s, dir)
        graft.operators.Bpe.encode(d, "doc_id", "text",
            graft.operators.Bpe.learnMerges(d, "text", bpeK))
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""
        WITH ${bpeEncodeCtes(bpeK)}
        SELECT doc_id, n_tokens, enc FROM encoded""")),

    // ===== BPE round trip: decode(encode(docs, learned merges)) must
    // recover the tokenized text EXACTLY — decode is the inverse by
    // construction for ANY merge table, so the oracle needs no BPE at
    // all: the equality against the plainly-tokenized corpus IS the
    // round-trip proof =====
    QueryDef("q169_bpe_roundtrip",
      (s, dir) => {
        val d = T.documents(s, dir)
        graft.operators.Bpe.decode(
            graft.operators.Bpe.encode(d, "doc_id", "text",
              graft.operators.Bpe.learnMerges(d, "text", bpeK)))
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""
        SELECT doc_id,
               coalesce(array_to_string($duckToks, ' '), '') AS text
        FROM documents""")),

    // ===== tokenizer-aware packing: documents laid end-to-end into
    // 256-token training sequences where a token is a REAL BPE token
    // from the corpus-learned table, not a whitespace word — the
    // composition an actual pretraining data loader runs =====
    QueryDef("q111_pack_bpe",
      (s, dir) => {
        val d = T.documents(s, dir)
        val enc = graft.operators.Bpe.encode(d, "doc_id", "text",
          graft.operators.Bpe.learnMerges(d, "text", bpeK))
        Sequences.packSequences(
          enc.select(col("id").as("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256L, salt = "v1")
      },
      Some(s"""
        WITH ${bpeEncodeCtes(bpeK)},
        t AS (SELECT doc_id, n_tokens,
            ${duckHashBucket("doc_id", 1000000007L, "v1")} AS h
          FROM encoded),
        c AS (SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM t)
        SELECT doc_id, n_tokens,
               (cum - n_tokens) // 256 AS seq_id,
               (cum - n_tokens) % 256 AS seq_offset
        FROM c""")),
  )

  /** [[bpeMergeCtes]] extended with the q99 encode chain, ending in
    * `encoded(doc_id, n_tokens, enc)` — shared by q99 and q111 (the
    * encode SQL is parity-critical and must not fork). Words separated
    * by TWO spaces: no merge pattern (single interior spaces) can span
    * a boundary, and a word-final match consuming its trailing space
    * leaves the second one for the next word — mirrors Bpe.encode's
    * isolation scheme. */
  private def bpeEncodeCtes(k: Int): String =
    s"""${bpeMergeCtes(k)},
        d0 AS (SELECT doc_id,
          ' ' || coalesce(array_to_string(list_transform($duckToks, w ->
              array_to_string(regexp_extract_all(w, '.'), ' ') || ' </w>'),
            '  '), '') || ' ' AS e
          FROM documents),
        ${(1 to k).map(i =>
          s"""d$i AS (SELECT doc_id, replace(e,
             coalesce(' ' || (SELECT lhs FROM b$i) || ' ' ||
                      (SELECT rhs FROM b$i) || ' ', chr(1)),
             coalesce(' ' || (SELECT lhs FROM b$i) ||
                      (SELECT rhs FROM b$i) || ' ', chr(1))) AS e
             FROM d${i - 1})""").mkString(",\n        ")},
        dz AS (SELECT doc_id,
                 regexp_replace(trim(e), ' +', ' ', 'g') AS enc
               FROM d$k),
        encoded AS (SELECT doc_id,
          CASE WHEN enc = '' THEN CAST(0 AS BIGINT)
               ELSE CAST(len(string_split(enc, ' ')) AS BIGINT)
          END AS n_tokens,
          enc
          FROM dz)"""

  /** Merge-round count for q98/q99 — small enough that the unrolled
    * oracle stays readable, large enough to exercise multi-character
    * merged symbols (rank 4+ merges merge MERGED symbols). `final` so
    * it is a compile-time constant — `defs` above initializes before
    * non-final vals declared below it would. */
  private final val bpeK = 12

  /** The unrolled BPE learner CTE chain w0, (p_i, b_i, w_i)*: w0 is
    * the word-type table as spaced symbol strings; p_i the
    * freq-weighted adjacent-pair counts; b_i the round's argmax (empty
    * once every pair is below the min count — rounds after that pass
    * through unchanged and emit no merge row); w_i the merge applied
    * via sentinel-guarded replace. chr(1) coalesce makes the empty-b_i
    * replace a no-op instead of NULLing the corpus. */
  private def bpeMergeCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""w0 AS MATERIALIZED (
          SELECT ' ' || array_to_string(regexp_extract_all(tok, '.'), ' ')
                 || ' </w> ' AS wstr,
                 count(*) AS freq
          FROM (SELECT unnest($duckToks) AS tok FROM documents)
          GROUP BY 1)""")
    for (i <- 1 to k) {
      sb.append(s""",
        p$i AS (SELECT a[i] AS lhs, a[i+1] AS rhs,
                  CAST(sum(freq) AS BIGINT) AS cnt
                FROM (SELECT string_split(trim(wstr), ' ') AS a, freq
                      FROM w${i - 1}) t,
                     unnest(range(1, len(a))) AS u(i)
                GROUP BY 1, 2),
        b$i AS MATERIALIZED (
          SELECT lhs, rhs, cnt FROM p$i WHERE cnt >= 2
          ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
        w$i AS MATERIALIZED (
          SELECT replace(wstr,
            coalesce(' ' || (SELECT lhs FROM b$i) || ' ' ||
                     (SELECT rhs FROM b$i) || ' ', chr(1)),
            coalesce(' ' || (SELECT lhs FROM b$i) ||
                     (SELECT rhs FROM b$i) || ' ', chr(1))) AS wstr, freq
          FROM w${i - 1})""")
    }
    sb.toString
  }
}
