package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.operators.{ContainmentConfig, ContainmentStore, Decontamination, Dedup, MinhashConfig, MinhashStore, Pipeline, SimhashConfig, SimhashStore}
import graft.sources.Warehouse
import Catalog.QueryDef
import Catalog.{duckToks, duckRawToks, sqlList}

/** Incremental-curation tier: the persisted-signature-store dedup paths
  * and the incremental connected-components fold. Each query exercises an
  * INCREMENTAL ingest (corpus split into two batches by doc-id parity, or
  * a second key family folded into an existing labeling) and is verified
  * against the FULL-CORPUS oracle — the store must make batch-wise
  * ingestion observationally equal to recomputing from scratch.
  * Oracle-parity rules live in [[Catalog]]'s scaladoc. */
private[queries] object CurationQueries {

  /** Fresh scratch root for a per-run signature store. The store is an
    * equivalence HARNESS here (build from batch 1, ingest batch 2); real
    * pipelines point the Warehouse at a persistent root instead. */
  private def scratchRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One curate run per (session, sfDir), shared by q68 (the kept corpus)
    * and q69 (the survivor accounting) — the two queries are two reads of
    * the SAME production artifact, and `curate` materializes its spine
    * (localCheckpoint), so recomputing the five-stage pipeline per read
    * would double real work, not just bench time. Safe to cache: the
    * result frames sit on checkpointed RDDs owned by the session, and the
    * driver's testdata is immutable for a session's lifetime (same
    * caveat as the [[graft.core.Tables]] DataFrame cache). */
  private val curateCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Pipeline.CurateResult]
  private def curateShared(s: org.apache.spark.sql.SparkSession,
                           dir: String): Pipeline.CurateResult =
    curateCache.getOrElseUpdate((s, dir), {
      val d = T.documents(s, dir)
      Pipeline.curate(d.filter(col("doc_id") >= 25), "doc_id", "text",
        Some(d.filter(col("doc_id") < 25)), "text", CurateCfg,
        withCounts = true, withAudit = true)
    })

  /** q68/q69's pipeline parameters — thresholds calibrated so every
    * stage drops rows at sf0.01 (quality/repetition ~38%, decon 2 docs,
    * near-dup the 3-shingle template families); minhash matches q34's
    * seed so the oracle reuses its coefficient tables. */
  private val CurateCfg = Pipeline.CurateConfig(
    minQuality = 0.42, maxRepetition = 0.06, repN = 2, deconN = 5,
    minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, seed = 7L, nStoreBuckets = 8))

  /** DuckDB mirror of the FULL curate pipeline as a CTE chain `base` →
    * `kept`, assembled from the per-stage oracle fragments already
    * verified one-by-one (q17 quality, q61 repetition, q62 redaction,
    * q63 decontamination, q19 exact dedup, q34 minhash, q64 components).
    * Emitted once; q68 selects the kept corpus off it, q69 the per-stage
    * survivor counts. */
  private val curateCtes: String = curateCtesFor(surgical = false)

  /** The CTE chain with the decontamination stage in either policy:
    * drop-the-doc (`dec` = anti-join on flagged ids) or surgical
    * (`dec` = untouched docs plus excised survivors — the q92 island
    * chain + the q90 index-aware token filter over the REDACTED text,
    * emptied docs dropped). Everything downstream of `dec` is shared
    * verbatim, which is the equivalence claim q95 pins. */
  /** The quality / repetition expressions over the `sc` CTE's columns —
    * object-level so the pipeline chain AND the q148 audit oracle quote
    * the same strings (a drifted copy would pass one and fail the
    * other). LAZY: `curateCtes` above initializes before these in
    * declaration order, and a plain val would interpolate as "null"
    * into its SQL (the init-order trap). */
  private lazy val qualityExpr =
    """((CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END
      |             + CASE WHEN ntok > 0 THEN hits / ntok ELSE 0.0 END)
      |             + least(len / 500.0, 1.0)) / 3.0""".stripMargin
  private lazy val repExpr =
    """(CASE WHEN t2 > 0
      |             THEN CAST(t2 - len(list_distinct(g2)) AS DOUBLE) / CAST(t2 AS DOUBLE)
      |             ELSE 0.0 END)""".stripMargin

  /** Gopher-battery replay over the `stg` CTE's (id, text, tk) — the
    * q167 oracle's statistics CTE + pass conjunction, re-rooted on the
    * curate chain's staged tokens so [[curateCtesFor]] can swap the
    * default quality heuristic for the published rule battery (the
    * `CurateConfig.qualityExpr` hookup, oracle side). Emits CTEs
    * `gst`/`gq`; `gq` holds the ids that PASS. LAZY (the init-order
    * trap — see [[qualityExpr]]). */
  private lazy val gopherQualityCtes: String = s"""
        gst AS (SELECT id,
            CAST(len(tk) AS BIGINT) AS n_words,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(tk, w -> CAST(len(w) AS BIGINT))),
              (a, x) -> a + x) AS sum_len,
            CAST(len(text) - len(regexp_replace(text, '#', '', 'g'))
              AS BIGINT) AS n_hash,
            CAST((len(text) -
              len(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3
              AS BIGINT) AS n_ell,
            list_filter(string_split(text, chr(10)),
              l -> len(trim(l)) > 0) AS lines,
            CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha,
            CAST(len(list_intersect(list_distinct(tk),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stop
          FROM stg),
        gq AS (SELECT id FROM gst WHERE
            n_words >= 50 AND n_words <= 100000
            AND (CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE)
                 / CAST(n_words AS DOUBLE) ELSE 0.0 END)
              BETWEEN 3.0 AND 10.0
            AND (CASE WHEN n_words > 0 THEN CAST(n_hash AS DOUBLE)
                 / CAST(n_words AS DOUBLE) ELSE 0.0 END) <= 0.1
            AND (CASE WHEN n_words > 0 THEN CAST(n_ell AS DOUBLE)
                 / CAST(n_words AS DOUBLE) ELSE 0.0 END) <= 0.1
            AND (CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, l ->
                   regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE)
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END) <= 0.9
            AND (CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, l ->
                   regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END) <= 0.3
            AND (CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE)
                 / CAST(n_words AS DOUBLE) ELSE 0.0 END) >= 0.8
            AND n_stop >= 2)"""

  private def curateCtesFor(surgical: Boolean,
      baseWhere: String = "",
      gopherQuality: Boolean = false): String = {
    val mh = CurateCfg.minhash
    require(mh.shingleN == 3 && CurateCfg.repN == 2,
      "the SQL mirror hardwires 3-token shingles and bigram repetition")
    val enList = sqlList(graft.functions.TextFunctions.stopwords("en"))
    val fiveGram = "list_transform(range(1, greatest(len(tk) - 4, 0) + 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])"
    val polyHash = Catalog.duckPolyHash("s")
    val coeffs = Dedup.universalCoeffs(mh.bands * mh.rowsPerBand, mh.seed)
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hv, x -> ($a * x + $b) % 1000000007)) AS m$i"
    }.mkString(",\n               ")
    val bandArms = (0 until mh.bands).map { bnd =>
      val cols = (bnd * mh.rowsPerBand until (bnd + 1) * mh.rowsPerBand)
        .map(i => s"m$i::VARCHAR")
      s"SELECT id, $bnd AS band, ${cols.mkString(" || '_' || ")} AS bucket FROM cm"
    }.mkString("\n          UNION ALL ")
    val jacc = "CASE WHEN CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) = 0.0 THEN 0.0 " +
      "ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) " +
      "/ CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) END"
    s"""base AS (SELECT doc_id AS id, text FROM documents
                 WHERE doc_id >= 25 $baseWhere),
        stg AS (SELECT id, text, $duckToks AS tk FROM base),
        sc AS (SELECT id, text,
            CAST(length(text) AS DOUBLE) AS len,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
            CAST(len(tk) AS DOUBLE) AS ntok,
            CAST(len(list_filter(tk, t -> list_contains($enList, t))) AS DOUBLE) AS hits,
            len(tk) - 1 AS t2,
            list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
              i -> tk[i] || ' ' || tk[i+1]) AS g2
          FROM stg),
        ${if (gopherQuality) s"""$gopherQualityCtes,
        qonly AS (SELECT id FROM gq),
        flt AS (SELECT id, text FROM sc
          WHERE id IN (SELECT id FROM gq)
            AND $repExpr <= ${CurateCfg.maxRepetition}),"""
    else s"""
        qonly AS (SELECT id FROM sc WHERE $qualityExpr >= ${CurateCfg.minQuality}),
        flt AS (SELECT id, text FROM sc
          WHERE $qualityExpr >= ${CurateCfg.minQuality}
            AND $repExpr <= ${CurateCfg.maxRepetition}),"""}
        red AS (SELECT id, regexp_replace(regexp_replace(regexp_replace(text,
            '${graft.functions.TextFunctions.EmailRe}', '<EMAIL>', 'g'),
            '${graft.functions.TextFunctions.Ipv4Re}', '<IP>', 'g'),
            '${graft.functions.TextFunctions.PhoneRe}', '<PHONE>', 'g') AS text
          FROM flt),
        rg AS (SELECT id, $duckToks AS tk, $duckRawToks AS rk FROM red),
        ev AS (SELECT $duckToks AS tk FROM documents WHERE doc_id < 25),
        eg AS (SELECT DISTINCT unnest($fiveGram) AS g FROM ev),
        ${if (!surgical) s"""
        gr AS (SELECT id, unnest($fiveGram) AS g FROM rg),
        cont AS (SELECT DISTINCT gr.id FROM gr JOIN eg USING (g)),
        dec AS (SELECT * FROM red WHERE id NOT IN (SELECT id FROM cont)),"""
    else s"""
        pgx AS (SELECT id, e.p AS p, e.g AS g FROM (
            SELECT id, unnest(list_transform(
                range(1, greatest(len(tk) - 4, 0) + 1),
                i -> {'p': i - 1,
                      'g': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                           || ' ' || tk[i+3] || ' ' || tk[i+4]})) AS e
            FROM rg)),
        cov AS (SELECT id, p FROM pgx WHERE g IN (SELECT g FROM eg)),
        rns AS (SELECT id, p,
            p - row_number() OVER (PARTITION BY id ORDER BY p) AS island
          FROM cov),
        spn AS (SELECT id, min(p) AS s, max(p) + 4 AS e
                FROM rns GROUP BY id, island),
        spl AS (SELECT id, list({'s': s, 'e': e}) AS sps
                FROM spn GROUP BY id),
        -- spans index the lowercased token stream; the rebuild filters
        -- the position-aligned case-preserving array (rk)
        exc AS (SELECT rg.id,
                  coalesce(array_to_string(list_filter(rg.rk, (x, i) ->
                    len(list_filter(spl.sps, sp ->
                      i - 1 >= sp.s AND i - 1 <= sp.e)) = 0), ' '), '')
                    AS text
                FROM rg JOIN spl USING (id)),
        dec AS (SELECT red.id, red.text FROM red
                WHERE red.id NOT IN (SELECT id FROM spl)
                UNION ALL SELECT id, text FROM exc WHERE length(text) > 0),"""}
        ex AS (SELECT dec.id, dec.text FROM dec
          JOIN (SELECT text AS kk, min(id) AS mid FROM dec GROUP BY 1) gx
            ON dec.text = gx.kk AND dec.id = gx.mid),
        ctks AS (SELECT id, $duckToks AS tk FROM ex),
        csh AS (SELECT id, list_distinct(
                 CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                      WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(tk[i:i+2], ' '))
                      ELSE [array_to_string(tk, ' ')] END) AS shingles
               FROM ctks),
        cnz AS (SELECT * FROM csh WHERE len(shingles) > 0),
        chs AS (SELECT id, list_transform(shingles, s -> $polyHash) AS hv FROM cnz),
        cm AS (SELECT id,
               $mins
              FROM chs),
        cbanded AS ($bandArms),
        cgroups AS (SELECT band, bucket, list_sort(list(id)) AS ids
                   FROM cbanded GROUP BY 1, 2
                   HAVING count(*) >= 2 AND count(*) <= ${mh.maxBucket}),
        ccand AS (SELECT DISTINCT p.id_a AS id_a, p.id_b AS id_b FROM cgroups,
          unnest(flatten(list_transform(range(1, len(ids) + 1), i ->
            list_transform(ids[i+1:], y -> {'id_a': ids[i], 'id_b': y})))) AS t(p)),
        csv AS (SELECT id, list_distinct(hv) AS s FROM chs),
        mpairs AS (SELECT c.id_a, c.id_b FROM ccand c
              JOIN csv a ON a.id = c.id_a
              JOIN csv b ON b.id = c.id_b
              WHERE ($jacc) >= ${mh.threshold}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM mpairs
                  UNION SELECT id_b, id_a FROM mpairs),
        ccr AS (SELECT src AS id, src AS comp FROM edges
                UNION SELECT e.dst, ccr.comp FROM ccr JOIN edges e ON ccr.id = e.src),
        lab AS (SELECT id, min(comp) AS comp FROM ccr GROUP BY id),
        kept AS (SELECT ex.id, ex.text FROM ex
                 WHERE ex.id NOT IN (SELECT id FROM lab WHERE comp < id))"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ===== Incremental MinHash: batch-2 ingest against a batch-1 store
    // equals the full-corpus pairs restricted to pairs touching batch 2
    // (even/odd doc-id split; even–even pairs were emitted at ingest 1) =====
    QueryDef("q65_minhash_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val store = new MinhashStore(
          new Warehouse(s, scratchRoot("graft_q65_")), "inc",
          MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
            threshold = 0.5, seed = 7L, nStoreBuckets = 8))
        store.ingest(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        store.ingest(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      },
      Some(LlmQueries.minhashOracle(
        "\n          AND (id_a % 2 = 1 OR id_b % 2 = 1)"))),

    // ===== Incremental SimHash: same contract, signature-only store =====
    QueryDef("q66_simhash_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val store = new SimhashStore(
          new Warehouse(s, scratchRoot("graft_q66_")), "inc",
          SimhashConfig(maxDist = 3, seed = 7L, nStoreBuckets = 8))
        store.ingest(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        store.ingest(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
          .withColumn("hamming", col("hamming").cast("long"))
      },
      Some(LlmQueries.simhashOracle(
        " AND (id_a % 2 = 1 OR id_b % 2 = 1)"))),

    // ===== Incremental containment: the swallowed-document signal as a
    // batch-cost ingest — same pairs the q152 batch form finds on the
    // union, each emitted at its later endpoint's ingest. maxDocFreq
    // 1000 > the sf0.01 corpus, so no shingle can cross the cap between
    // ingests and the equivalence contract is EXACT here (the cap
    // caveat is probed separately at 1M, BENCH_NOTES "Containment at
    // 1M") =====
    QueryDef("q155_containment_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val store = new ContainmentStore(
          new Warehouse(s, scratchRoot("graft_q155_")), "inc",
          ContainmentConfig(shingleN = 3, threshold = 0.8,
            maxDocFreq = 1000L, nStoreBuckets = 8))
        store.ingest(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        store.ingest(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      },
      Some(LlmQueries.containmentOracle(maxDf = 1000L,
        extraWhere = "AND (id_a % 2 = 1 OR id_b % 2 = 1)"))),

    // ===== Authority-gated curation: the crawl-scale composition
    // (link-graph PageRank → host-reputation gate → full curate chain)
    // as one call. Hosts = doc_id%100+1, keyed into the q154 supplier
    // graph's node space; the gate drops below-prior hosts FIRST and
    // the ledger accounts for every gated id. Oracle = the unrolled
    // 3-iteration PageRank replay (ScaleQueries' CTEs) feeding a
    // host-filtered curate chain =====
    QueryDef("q161_curate_authority",
      (s, dir) => {
        val d = T.documents(s, dir)
        // ranks come from the COMMITTED store table (pageRankMaintain,
        // shared per session — ScaleQueries.storedSupplierRanks), not
        // an in-query iteration: the production pattern, where the
        // rank epoch is amortized across every curation run. The
        // maintain contract makes the committed table bit-identical to
        // the in-query pageRank(…, 3), so the oracle is unchanged.
        val (ranks, n) = ScaleQueries.storedSupplierRanks(s, dir)
        val hosted = d.filter(col("doc_id") >= 25)
          .withColumn("host", pmod(col("doc_id"), lit(100L)) + 1L)
        val r = Pipeline.curate(hosted, "doc_id", "text",
          Some(d.filter(col("doc_id") < 25)), "text", CurateCfg,
          withAudit = true,
          authority = Some(Pipeline.AuthorityGate(ranks, "host",
            minRankFp = (1L << 30) / n)))
        r.kept.select(col("id"), lit("kept").as("stage"))
          .unionByName(r.audit.get
            .filter(col("stage") === "authority").select("id", "stage"))
      },
      Some(s"""
        WITH RECURSIVE ${ScaleQueries.pageRankCtes},
        -- MATERIALIZED: the curate chain below references `promoted`
        -- from several self-joining arms; inlined, the whole unrolled
        -- PageRank would be re-planned once per reference (measured:
        -- DuckDB ran out of file handles on the multiplied scans)
        promoted AS MATERIALIZED (SELECT node FROM r3
                     WHERE rank_fp > (SELECT 1073741824 // n FROM k)),
        ${curateCtesFor(surgical = false,
          baseWhere =
            "AND (doc_id % 100) + 1 IN (SELECT node FROM promoted)")}
        SELECT id, 'kept' AS stage FROM kept
        UNION ALL
        SELECT doc_id AS id, 'authority' AS stage FROM documents
        WHERE doc_id >= 25
          AND (doc_id % 100) + 1 NOT IN (SELECT node FROM promoted)""")),

    // ===== Trust-gated curation: the spam-immune sibling of q161 —
    // TrustRank (seed-personalized PageRank, q162's exact unroll)
    // gates hosts on SEED-REACHABILITY (rank_fp > 0): a host farm with
    // any amount of internal link mass holds exactly ZERO trust
    // (integer arithmetic, no epsilon floor) and is sheared before any
    // tokenization — the composition TrustRank exists for (Gyöngyi et
    // al., VLDB 2004). Hosts key into the shared supplier/part id
    // space, where trust reaches most part-nodes in 3 rounds — the
    // gate drops exactly the hosts the seeded flow never reaches
    // (~19 docs at sf0.01), the complement of q161's above-prior
    // popularity cut =====
    QueryDef("q166_curate_trust",
      (s, dir) => {
        val d = T.documents(s, dir)
        // trust ranks come from the COMMITTED trustRankMaintain table
        // (shared per session — ScaleQueries.storedSupplierTrustRanks),
        // not an in-query iteration: the q161 amortization verbatim,
        // now for the trust signal. The maintain contract keeps the
        // committed table bit-identical to the in-query
        // trustRank(…, 3), so the oracle is unchanged.
        val ranks = ScaleQueries.storedSupplierTrustRanks(s, dir)
        val hosted = d.filter(col("doc_id") >= 25)
          .withColumn("host", pmod(col("doc_id"), lit(100L)) + 1L)
        val r = Pipeline.curate(hosted, "doc_id", "text",
          Some(d.filter(col("doc_id") < 25)), "text", CurateCfg,
          withAudit = true,
          authority = Some(Pipeline.AuthorityGate(ranks, "host",
            minRankFp = 0L)))
        r.kept.select(col("id"), lit("kept").as("stage"))
          .unionByName(r.audit.get
            .filter(col("stage") === "authority").select("id", "stage"))
      },
      Some(s"""
        WITH RECURSIVE ${ScaleQueries.trustRankCtes},
        trusted AS MATERIALIZED (SELECT node FROM t3 WHERE rank_fp > 0),
        ${curateCtesFor(surgical = false,
          baseWhere =
            "AND (doc_id % 100) + 1 IN (SELECT node FROM trusted)")}
        SELECT id, 'kept' AS stage FROM kept
        UNION ALL
        SELECT doc_id AS id, 'authority' AS stage FROM documents
        WHERE doc_id >= 25
          AND (doc_id % 100) + 1 NOT IN (SELECT node FROM trusted)""")),

    // ===== The incremental crawl-epoch composition END-TO-END — the
    // engine's headline story oracle-pinned across two epochs: pages →
    // hostEdges → EdgeStore.append → pageRankMaintain (2 cold iters
    // epoch 1, 1 WARM iter over the grown graph epoch 2) →
    // authorityGate on the final committed ranks → CurationStore
    // ingests (one per epoch). Hosts are doc_id-arithmetic
    // ("h<id%300>.example", so the oracle re-derives every edge and the
    // host key without hashing; 6 hosts appear only in epoch 2 —
    // the warm start's new-node path runs for real). The oracle
    // replays the maintained ranks exactly (2-iteration unroll over
    // the epoch-1 graph, then 1 warm iteration over the full graph
    // from those ranks — the engine's documented prior contract) and
    // feeds them into the q161-shaped gated curate chain; the output
    // is the final kept set ∪ the authority ledger rows of BOTH
    // ingests, which must equal the one-shot batch composition =====
    QueryDef("q164_crawl_epochs",
      (s, dir) => {
        import graft.operators.{EdgeStore, EdgeStoreConfig, Graph}
        val d = T.documents(s, dir)
        def pages(df: org.apache.spark.sql.DataFrame) = df.select(
          concat(lit("http://h"), pmod(col("doc_id"), lit(300)),
            lit(".example/p/"), col("doc_id")).as("url"),
          concat(
            lit("<html><body><a class=\"x\" href=\"http://h"),
            pmod(col("doc_id") * 7, lit(300)),
            lit(".example/a\">l1</a><p>filler</p><a href='HTTPS://u@H"),
            pmod(col("doc_id") * 13, lit(300)),
            lit(".EXAMPLE:8443/b?q=1'>l2</a>" +
              "<a href=\"/relative\">r</a></body></html>")).as("html"))
        def hostNum(c: org.apache.spark.sql.Column) =
          regexp_extract(c, "^h(\\d+)\\.example$", 1).cast("long")
        // STAGED (localCheckpoint of the bounded collapsed edge list):
        // append's cost contract scans its source twice, and an
        // unmaterialized hostEdges pipeline would pay the HTML regex
        // parse per scan — exactly the anti-pattern the EdgeStore
        // scaladoc (and BENCH_NOTES "Round 11: crawl-epoch composition
        // probe") says to stage away
        def epochEdges(df: org.apache.spark.sql.DataFrame) =
          Graph.hostEdges(pages(df), "url", "html")
            .select(hostNum(col("src")).as("src"),
              hostNum(col("dst")).as("dst"), col("w"))
            .localCheckpoint(true)
        val b1 = d.filter(col("doc_id") >= 25 && col("doc_id") < 250)
        val b2 = d.filter(col("doc_id") >= 250)
        val estore = new EdgeStore(
          new Warehouse(s, scratchRoot("graft_q164e_")), "crawl",
          EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 8))
        // epoch 1: crawl → edges → cold rank maintenance
        estore.ingest(epochEdges(b1), "src", "dst")
        estore.pageRankMaintain(s, iters = 2)
        // epoch 2: new pages grow the graph; ONE warm iteration from
        // the committed epoch-1 ranks
        estore.ingest(epochEdges(b2), "src", "dst")
        val ranks = estore.pageRankMaintain(s, iters = 1)
        val n = ranks.count() // bounded control read, = the oracle's gfk.n
        val gate = Pipeline.AuthorityGate(ranks, "host",
          minRankFp = (1L << 30) / n)
        def hosted(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("host", pmod(col("doc_id"), lit(300L)))
        val cstore = new Pipeline.CurationStore(s,
          scratchRoot("graft_q164c_"), "cur", CurateCfg,
          Some(d.filter(col("doc_id") < 25)), "text",
          authority = Some(gate))
        val r1 = cstore.ingest(hosted(b1), "doc_id", "text",
          withAudit = true)
        val r2 = cstore.ingest(hosted(b2), "doc_id", "text",
          withAudit = true)
        val kept = r1.kept.select("id").unionByName(r2.kept.select("id"))
          .join(r1.retracted.unionByName(r2.retracted), Seq("id"),
            "left_anti")
        kept.select(col("id"), lit("kept").as("stage"))
          .unionByName(r1.audit.get.unionByName(r2.audit.get)
            .filter(col("stage") === "authority").select("id", "stage"))
      },
      Some(s"""
        WITH RECURSIVE
        -- epoch-1 host edges (q163's arithmetic derivation, numeric keys)
        xp1 AS (SELECT doc_id % 300 AS s, (doc_id * 7) % 300 AS d1,
                       (doc_id * 13) % 300 AS d2 FROM documents
                WHERE doc_id >= 25 AND doc_id < 250),
        xl1 AS (SELECT s AS src, d1 AS dst FROM xp1
                UNION ALL SELECT s, d2 FROM xp1),
        xe1 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
                FROM xl1 WHERE src <> dst GROUP BY 1, 2),
        -- full-corpus host edges (both epochs accumulated in the store)
        xpa AS (SELECT doc_id % 300 AS s, (doc_id * 7) % 300 AS d1,
                       (doc_id * 13) % 300 AS d2 FROM documents
                WHERE doc_id >= 25),
        xla AS (SELECT s AS src, d1 AS dst FROM xpa
                UNION ALL SELECT s, d2 FROM xpa),
        xea AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
                FROM xla WHERE src <> dst GROUP BY 1, 2),
        -- 2 cold iterations over the epoch-1 graph …
        ${ScaleQueries.pageRankUnrolled("xe1", "g1", 2)},
        -- … then 1 WARM iteration over the grown graph from those
        -- ranks (new hosts start at the FULL graph's uniform initr)
        ${ScaleQueries.pageRankUnrolled("xea", "gf", 1,
          prior = Some("g1r2"))},
        -- MATERIALIZED: referenced from several curate arms (the q161
        -- file-handle lesson)
        promoted AS MATERIALIZED (SELECT node FROM gfr1
                     WHERE rank_fp > (SELECT 1073741824 // n FROM gfk)),
        ${curateCtesFor(surgical = false,
          baseWhere =
            "AND (doc_id % 300) IN (SELECT node FROM promoted)")}
        SELECT id, 'kept' AS stage FROM kept
        UNION ALL
        SELECT doc_id AS id, 'authority' AS stage FROM documents
        WHERE doc_id >= 25
          AND (doc_id % 300) NOT IN (SELECT node FROM promoted)""")),

    // ===== The SITE-level curation recipe end-to-end — the
    // C4/RefinedWeb production pattern every operator's scaladoc names:
    // pages → hostEdges keyed by registrableDomain (siteKey-inside, so
    // www./m./cdn. subdomains pool their outlinks into ONE node) →
    // domain-graph PageRank → authority gate on the doc's SITE → full
    // curate chain → per-site quota cap (quotaSample keyed on the
    // domain — C4's "cap per site" applied to the kept corpus). Page
    // hosts rotate subdomains (doc_id%3 → www/m/cdn) over domains
    // s<id%40>.example; links exercise subdomain collapse, uppercase/
    // userinfo/port normalization, and the cc-SLD branch
    // (a.s<k>.co.uk → s<k>.co.uk) IN-GRAPH. Output is full
    // provenance: kept | capped (survived curate, cut by the site
    // quota) | authority (site gated out). The oracle re-derives the
    // domain edges arithmetically, unrolls the 3-iteration rank,
    // replays the curate chain, and re-cuts the quota with the same
    // spread-hash window =====
    QueryDef("q171_curate_sitelevel",
      (s, dir) => {
        import graft.functions.HtmlFunctions
        import graft.operators.Graph
        val d = T.documents(s, dir)
        val docs = d.filter(col("doc_id") >= 25)
        val sub = element_at(
          array(lit("www"), lit("m"), lit("cdn")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        val pages = docs.select(
          concat(lit("http://"), sub, lit(".s"),
            pmod(col("doc_id"), lit(40)), lit(".example/p/"),
            col("doc_id")).as("url"),
          concat(
            lit("<html><body><a class=\"x\" href=\"http://www.s"),
            pmod(col("doc_id") * 7, lit(40)),
            lit(".example/a\">l1</a><a href='HTTPS://u@M.S"),
            pmod(col("doc_id") * 13, lit(40)),
            lit(".EXAMPLE:8443/b?q=1'>l2</a><a href=\"http://a.s"),
            pmod(col("doc_id") * 11, lit(40)),
            lit(".co.uk/c\">l3</a>" +
              "<a href=\"/relative\">r</a></body></html>")).as("html"))
        // siteKey-inside: the domain graph comes straight off the crawl
        val siteEdges = Graph.hostEdges(pages, "url", "html",
          HtmlFunctions.registrableDomain(_))
        val ranks = Graph.pageRank(siteEdges, "src", "dst", iters = 3,
          Some("w")) // final ranks are checkpointed by the operator
        val n = ranks.count() // bounded control read, = the oracle's spk.n
        def domainOf(c: org.apache.spark.sql.Column) =
          concat(lit("s"), pmod(c, lit(40)), lit(".example"))
        val hosted = docs.withColumn("domain", domainOf(col("doc_id")))
        val r = Pipeline.curate(hosted, "doc_id", "text",
          Some(d.filter(col("doc_id") < 25)), "text", CurateCfg,
          withAudit = true,
          authority = Some(Pipeline.AuthorityGate(ranks, "domain",
            minRankFp = (1L << 30) / n)))
        val keptDom = r.kept
          .withColumn("domain", domainOf(col("id")))
          .localCheckpoint(true) // read twice: quota keep + capped diff
        val capped = graft.operators.Sampling.quotaSample(keptDom,
          "domain", "id", Nil, defaultK = 3, salt = "v1")
        capped.select(col("id"), lit("kept").as("stage"))
          .unionByName(keptDom.select("id")
            .join(capped.select("id"), Seq("id"), "left_anti")
            .select(col("id"), lit("capped").as("stage")))
          .unionByName(r.audit.get
            .filter(col("stage") === "authority").select("id", "stage"))
      },
      Some(s"""
        WITH RECURSIVE
        sd AS (SELECT doc_id,
                 's' || (doc_id % 40) || '.example' AS src,
                 's' || ((doc_id * 7) % 40) || '.example' AS d1,
                 's' || ((doc_id * 13) % 40) || '.example' AS d2,
                 's' || ((doc_id * 11) % 40) || '.co.uk' AS d3
               FROM documents WHERE doc_id >= 25),
        sl AS (SELECT src, d1 AS dst FROM sd
               UNION ALL SELECT src, d2 FROM sd
               UNION ALL SELECT src, d3 FROM sd),
        se AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
               FROM sl WHERE src <> dst GROUP BY 1, 2),
        ${ScaleQueries.pageRankUnrolled("se", "sp", 3)},
        promoted AS MATERIALIZED (SELECT node FROM spr3
                     WHERE rank_fp > (SELECT 1073741824 // n FROM spk)),
        ${curateCtesFor(surgical = false,
          baseWhere = "AND 's' || (doc_id % 40) || '.example' IN " +
            "(SELECT node FROM promoted)")},
        qd AS (SELECT id, 's' || (id % 40) || '.example' AS domain,
                 ${Catalog.duckHashBucket("id", 1000000007L, "v1")} AS hv
               FROM kept),
        qr AS (SELECT id, row_number() OVER (PARTITION BY domain
                 ORDER BY hv, id) AS rn FROM qd)
        SELECT id, CASE WHEN rn <= 3 THEN 'kept' ELSE 'capped' END AS stage
        FROM qr
        UNION ALL
        SELECT doc_id AS id, 'authority' AS stage FROM documents
        WHERE doc_id >= 25
          AND 's' || (doc_id % 40) || '.example' NOT IN
            (SELECT node FROM promoted)""")),

    // ===== The Gopher rule battery AS the curate quality gate — the
    // documented CurateConfig.qualityExpr hookup exercised end-to-end
    // through the ledger: gopherRules' `pass` plugs in as a {0,1}
    // score against minQuality 0.5, so the published filter recipe
    // (Rae et al. 2021, appendix A) runs as the pipeline's quality
    // stage, quality drops attributed in the audit. Output is full
    // provenance (kept + every ledger row); the oracle swaps the
    // default quality CTEs for the q167 battery replay and re-derives
    // each stage's arm =====
    QueryDef("q172_curate_gopher",
      (s, dir) => {
        import graft.functions.TextFunctions
        val d = T.documents(s, dir)
        val cfg = CurateCfg.copy(minQuality = 0.5,
          qualityExpr = Some((t, tk) =>
            when(TextFunctions.gopherRules(t, tk).getField("pass"),
              lit(1.0)).otherwise(lit(0.0))))
        val r = Pipeline.curate(d.filter(col("doc_id") >= 25),
          "doc_id", "text", Some(d.filter(col("doc_id") < 25)), "text",
          cfg, withAudit = true)
        r.kept.select(col("id"), lit("kept").as("stage"),
            lit(null).cast("long").as("kept_id"))
          .unionByName(r.audit.get.select(col("id"), col("stage"),
            col("kept_id").cast("long").as("kept_id")))
      },
      Some(s"""
        WITH RECURSIVE ${curateCtesFor(surgical = false,
          gopherQuality = true)}
        SELECT id, 'kept' AS stage, NULL::BIGINT AS kept_id FROM kept
        UNION ALL
        SELECT id, 'quality', NULL::BIGINT FROM sc
          WHERE id NOT IN (SELECT id FROM gq)
        UNION ALL
        SELECT id, 'repetition', NULL::BIGINT FROM sc
          WHERE id IN (SELECT id FROM gq)
            AND NOT ($repExpr <= ${CurateCfg.maxRepetition})
        UNION ALL
        SELECT id, 'decontaminate', NULL::BIGINT FROM cont
        UNION ALL
        SELECT dec.id, 'exact_dup', gx.mid FROM dec
          JOIN (SELECT text AS kk, min(id) AS mid FROM dec GROUP BY 1) gx
            ON dec.text = gx.kk AND dec.id <> gx.mid
        UNION ALL
        SELECT id, 'near_dup', comp FROM lab WHERE comp < id""")),

    // ===== Incremental connected components: fold the k2 pair family
    // into the k1-only labeling; must equal q64's full recompute =====
    QueryDef("q67_incremental_components",
      (s, dir) => {
        val d = T.documents(s, dir).select(col("doc_id"),
          length(col("text")).as("__len"),
          substring(col("text"), 1, 40).as("k1"),
          substring(col("text"), 41, 40).as("k2"))
        def pairsBy(k: String, minLen: Int) = {
          val side = d.filter(col("__len") > minLen)
          side.select(col("doc_id").as("id_a"), col(k).as("__k"))
            .join(side.select(col("doc_id").as("id_b"), col(k).as("__k")), "__k")
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b")
        }
        val prev = Dedup.connectedComponents(pairsBy("k1", 0), "id_a", "id_b")
        Dedup.connectedComponentsIncremental(prev, pairsBy("k2", 40),
          "id_a", "id_b")
      },
      Some(LlmQueries.prefixKeyCcOracle)),

    // ===== Composed curation pipeline: quality → repetition → PII →
    // decontamination → exact dedup → minhash+CC near-dedup, one kept
    // corpus. Docs < 25 stand in for the benchmark suite (as in q63) =====
    QueryDef("q68_curate",
      (s, dir) => curateShared(s, dir)
        .kept.select(col("id").as("doc_id"), col("text")),
      Some(s"""
        WITH RECURSIVE $curateCtes
        SELECT id AS doc_id, text FROM kept""")),

    // ===== The same pipeline under the SURGICAL decontamination policy:
    // eval-overlap spans excised (emptied docs dropped), everything
    // downstream identical — contaminated docs' unique remainders now
    // survive into the kept corpus instead of vanishing =====
    QueryDef("q95_curate_surgical",
      (s, dir) => {
        val d = T.documents(s, dir)
        Pipeline.curate(d.filter(col("doc_id") >= 25), "doc_id", "text",
            Some(d.filter(col("doc_id") < 25)), "text",
            CurateCfg.copy(surgicalDecon = true))
          .kept.select(col("id").as("doc_id"), col("text"))
      },
      Some(s"""
        WITH RECURSIVE ${curateCtesFor(surgical = true)}
        SELECT id AS doc_id, text FROM kept""")),

    // ===== The drop ledger of the same run: one row per REMOVED doc —
    // the first stage that dropped it, and for the dedup stages the id
    // of the surviving document that superseded it. kept ∪ audit
    // partitions the input ids (pinned in PipelineSpec); this is the
    // "where did my document go" provenance answer a production corpus
    // owes its users =====
    QueryDef("q148_curate_audit",
      (s, dir) => curateShared(s, dir).audit.get
        .select(col("id").as("doc_id"), col("stage"), col("kept_id")),
      Some(s"""
        WITH RECURSIVE $curateCtes
        SELECT id AS doc_id, 'quality' AS stage, NULL::BIGINT AS kept_id
          FROM sc WHERE NOT ($qualityExpr >= ${CurateCfg.minQuality})
        UNION ALL
        SELECT id, 'repetition', NULL::BIGINT FROM sc
          WHERE ($qualityExpr >= ${CurateCfg.minQuality})
            AND NOT ($repExpr <= ${CurateCfg.maxRepetition})
        UNION ALL
        SELECT id, 'decontaminate', NULL::BIGINT FROM cont
        UNION ALL
        SELECT dec.id, 'exact_dup', gx.mid FROM dec
          JOIN (SELECT text AS kk, min(id) AS mid FROM dec GROUP BY 1) gx
            ON dec.text = gx.kk AND dec.id <> gx.mid
        UNION ALL
        SELECT id, 'near_dup', comp FROM lab WHERE comp < id""")),

    // ===== Per-stage survivor accounting of the same pipeline run =====
    QueryDef("q69_curate_stages",
      (s, dir) => {
        val m = curateShared(s, dir).stageCounts.toMap
        import s.implicits._
        Seq((m("input"), m("quality"), m("repetition"), m("decontaminate"),
          m("exact_dedup"), m("near_dedup")))
          .toDF("n_input", "n_quality", "n_repetition", "n_decontaminate",
            "n_exact", "n_kept")
      },
      Some(s"""
        WITH RECURSIVE $curateCtes
        SELECT (SELECT count(*) FROM base) AS n_input,
               (SELECT count(*) FROM qonly) AS n_quality,
               (SELECT count(*) FROM flt) AS n_repetition,
               (SELECT count(*) FROM dec) AS n_decontaminate,
               (SELECT count(*) FROM ex) AS n_exact,
               (SELECT count(*) FROM kept) AS n_kept""")),

    // ===== Incremental curation: two id-ordered ingests against a
    // persisted CurationStore; ∪ kept − ∪ retracted must equal the
    // full-corpus curate (same oracle as q68, ids only) =====
    QueryDef("q70_curate_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val store = new Pipeline.CurationStore(s, scratchRoot("graft_q70_"),
          "cur", CurateCfg, Some(d.filter(col("doc_id") < 25)), "text")
        val r1 = store.ingest(
          d.filter(col("doc_id") >= 25 && col("doc_id") < 250),
          "doc_id", "text")
        val r2 = store.ingest(d.filter(col("doc_id") >= 250), "doc_id", "text")
        r1.kept.select("id").unionByName(r2.kept.select("id"))
          .join(r1.retracted.unionByName(r2.retracted), Seq("id"), "left_anti")
          .select(col("id").as("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $curateCtes
        SELECT id AS doc_id FROM kept""")),

    // ===== continuous decontamination: a new benchmark checked against
    // a persisted gram index (built in two id-parity appends) must flag
    // exactly the docs the one-shot corpus scan flags (q63's oracle) =====
    QueryDef("q86_decon_incremental",
      (s, dir) => {
        val d = T.documents(s, dir)
        val corpus = d.filter(col("doc_id") >= 25)
        val idx = new Decontamination.GramIndex(s,
          scratchRoot("graft_q86_"), "inc", n = 5, nStoreBuckets = 8)
        idx.ingest(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        idx.ingest(corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        idx.check(d.filter(col("doc_id") < 25), "text")
          .withColumnRenamed("id", "doc_id")
      },
      Some(LlmQueries.deconOracle)),

    // ===== threshold-grade decontamination: per-doc fraction of distinct
    // 5-grams shared with the eval set (q63's boolean flag, graded) =====
    QueryDef("q76_contamination_rate",
      (s, dir) => {
        val d = T.documents(s, dir)
        Decontamination.overlapStats(d.filter(col("doc_id") >= 25),
            "doc_id", "text", d.filter(col("doc_id") < 25), "text", n = 5)
          .withColumnRenamed("id", "doc_id")
      },
      Some {
        val fiveGram = "list_transform(range(1, greatest(len(tk) - 4, 0) + 1), " +
          "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])"
        s"""
        WITH dg AS (SELECT doc_id, unnest(list_distinct($fiveGram)) AS g
                    FROM (SELECT doc_id, $duckToks AS tk FROM documents
                          WHERE doc_id >= 25)),
        eg AS (SELECT DISTINCT unnest($fiveGram) AS g
               FROM (SELECT $duckToks AS tk FROM documents WHERE doc_id < 25)),
        pd AS (SELECT dg.doc_id, count(*) AS n_grams, count(eg.g) AS n_hit
               FROM dg LEFT JOIN eg ON dg.g = eg.g GROUP BY 1)
        SELECT d.doc_id,
               coalesce(pd.n_grams, 0) AS n_grams,
               coalesce(pd.n_hit, 0) AS n_hit,
               CASE WHEN pd.n_grams IS NULL OR pd.n_grams = 0 THEN 0.0
                    ELSE pd.n_hit::DOUBLE / pd.n_grams::DOUBLE
               END AS overlap_rate
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
        LEFT JOIN pd USING (doc_id)"""
      }),

    // ===== curation → packing composition: the full story from raw docs
    // to training sequences — the curated corpus (q68's shared run) laid
    // end-to-end in salted-hash order and cut into 256-token sequences =====
    QueryDef("q80_curate_pack",
      (s, dir) => {
        import graft.functions.TextFunctions
        graft.operators.Sequences.packSequences(
          curateShared(s, dir).kept.select(col("id").as("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 256L, salt = "v1")
      },
      Some(s"""
        WITH RECURSIVE $curateCtes,
        t AS (SELECT id AS doc_id,
            CAST(len($duckToks) AS BIGINT) AS n_tokens,
            ${Catalog.duckHashBucket("id", 1000000007L, "v1")} AS h
          FROM kept),
        c AS (SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM t)
        SELECT doc_id, n_tokens,
               (cum - n_tokens) // 256 AS seq_id,
               (cum - n_tokens) % 256 AS seq_offset
        FROM c""")),
  )
}
