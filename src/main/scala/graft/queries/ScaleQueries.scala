package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.functions.TextFunctions
import graft.operators.{RangeJoin, Sequences, Sharding, Sketches}
import Catalog.QueryDef
import Catalog.{duckHashBucket, duckPolyHash, duckToks, sqlList}

/** Scale-pattern tier: binned range joins (the equi-join rewrite of the
  * inequality-join trap), keep-first block dedup, the deterministic
  * shuffle/shard export a training loader consumes, and sketch-
  * accelerated corpus statistics. Oracle-parity rules live in
  * [[Catalog]]'s scaladoc. */
private[queries] object ScaleQueries {

  /** Epoch-day of a timestamp column — the integer range dimension both
    * engines agree on exactly. */
  private def epochDay(c: org.apache.spark.sql.Column) =
    datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")

  private def duckDay(expr: String) =
    s"date_diff('day', DATE '1970-01-01', CAST($expr AS DATE))"

  /** Urgent Q1-1995 orders as 7-day fulfilment windows [day, day+6]. */
  private def orderWindows(s: org.apache.spark.sql.SparkSession, dir: String,
                           keyAs: String, startAs: String, endAs: String) =
    T.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey").as(keyAs),
        epochDay(col("o_orderdate")).as(startAs))
      .withColumn(endAs, col(startAs) + 6)

  private val duckWindows =
    s"""SELECT o_orderkey, ${duckDay("o_orderdate")} AS sd
       FROM orders
       WHERE o_orderpriority = '1-URGENT'
         AND o_orderdate >= TIMESTAMP '1995-01-01'
         AND o_orderdate < TIMESTAMP '1995-04-01'"""

  val defs: Seq[QueryDef] = Seq(

    // ===== binned range join, point-in-interval: lineitems shipped
    // inside each urgent order's 7-day fulfilment window. The DuckDB
    // oracle states the SAME join as a bare inequality join — the form
    // Spark would execute as a nested loop and RangeJoin rewrites into
    // a bin equi-join =====
    QueryDef("q114_range_count",
      (s, dir) => {
        val points = T.lineitem(s, dir)
          .select(col("l_orderkey"), epochDay(col("l_shipdate")).as("ship_day"))
        RangeJoin.pointInInterval(points, "ship_day",
            orderWindows(s, dir, "o_orderkey", "start_day", "end_day"),
            "start_day", "end_day", binWidth = 7L)
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_shipped"))
      },
      Some(s"""
        WITH o AS ($duckWindows),
        l AS (SELECT ${duckDay("l_shipdate")} AS pd FROM lineitem)
        SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_shipped
        FROM o JOIN l ON l.pd BETWEEN o.sd AND o.sd + 6
        GROUP BY 1""")),

    // ===== binned range join, interval overlap: pairs of urgent orders
    // whose fulfilment weeks overlap (a < b), with the shared day count =====
    QueryDef("q115_overlap_pairs",
      (s, dir) => {
        val a = orderWindows(s, dir, "a_key", "a_start", "a_end")
        val b = orderWindows(s, dir, "b_key", "b_start", "b_end")
        RangeJoin.intervalOverlap(a, "a_start", "a_end",
            b, "b_start", "b_end", binWidth = 7L)
          .filter(col("a_key") < col("b_key"))
          .select(col("a_key"), col("b_key"),
            (least(col("a_end"), col("b_end"))
              - greatest(col("a_start"), col("b_start")) + 1L)
              .as("overlap_days"))
      },
      Some(s"""
        WITH o AS ($duckWindows)
        SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
               least(a.sd + 6, b.sd + 6) - greatest(a.sd, b.sd) + 1
                 AS overlap_days
        FROM o a JOIN o b
          ON a.sd <= b.sd + 6 AND b.sd <= a.sd + 6
         AND a.o_orderkey < b.o_orderkey""")),

    // ===== keep-first block dedup: later exact repeats of a 16-token
    // block drop, the first (doc_id, block_ix) occurrence survives =====
    QueryDef("q116_dedup_blocks_first",
      (s, dir) => Sequences.dedupBlocksKeepFirst(T.documents(s, dir),
          "doc_id", "text", blockSize = 16)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""
        WITH tk AS (SELECT doc_id, $duckToks AS tk FROM documents),
        nz AS (SELECT * FROM tk WHERE len(tk) > 0),
        blocks AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_ix,
                          array_to_string(tk[k*16 + 1 : k*16 + 16], ' ') AS chunk_text
                   FROM nz, unnest(range(0, (len(tk) - 1) // 16 + 1)) AS t(k)),
        keep AS (SELECT * FROM blocks
                 QUALIFY row_number() OVER (PARTITION BY chunk_text
                   ORDER BY doc_id, chunk_ix) = 1)
        SELECT doc_id,
               string_agg(chunk_text, ' ' ORDER BY chunk_ix) AS text
        FROM keep GROUP BY doc_id""")),

    // ===== deterministic shuffle + shard assignment: the reproducible
    // global permutation a training loader replays =====
    QueryDef("q117_shuffle_shards",
      (s, dir) => Sharding.shuffleShards(
        T.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", numShards = 8, salt = "ep0"),
      Some(s"""
        WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
            ${duckPolyHash("doc_id::VARCHAR || 'ep0'")} AS h
          FROM documents)
        SELECT doc_id, n_tokens, h % 8 AS shard,
               CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                 AS BIGINT) - 1 AS shard_pos
        FROM t""")),

    // ===== shard manifest: per-shard row and token totals (epoch
    // accounting for the loader) =====
    QueryDef("q118_shard_manifest",
      (s, dir) => Sharding.shardManifest(
        Sharding.shuffleShards(
          T.documents(s, dir).select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", numShards = 8, salt = "ep0"),
        "n_tokens"),
      Some(s"""
        WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
            ${duckPolyHash("doc_id::VARCHAR || 'ep0'")} AS h
          FROM documents)
        SELECT h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_tokens) AS BIGINT) AS total_weight
        FROM t GROUP BY 1""")),

    // ===== sketch-accelerated EXACT heavy hitters: tokens with ≥ 100
    // occurrences — the count-min prefilter prunes the exchange, the
    // exact recount makes the result oracle-identical to the naive
    // groupBy the SQL states =====
    QueryDef("q119_heavy_hitters",
      (s, dir) => Sketches.heavyHitters(
        T.documents(s, dir)
          .select(explode(TextFunctions.tokens(col("text"))).as("tok")),
        "tok", threshold = 100L, eps = 1e-3),
      Some(s"""
        SELECT tok AS value, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest($duckToks) AS tok FROM documents)
        GROUP BY 1 HAVING count(*) >= 100""")),

    // ===== exact per-group quantiles (linear interpolation — the
    // quantile_cont definition both engines share); the approximate
    // mergeable path is approxQuantiles, error-bound-pinned in
    // SketchesSpec =====
    QueryDef("q121_quantiles",
      (s, dir) => Sketches.quantiles(T.lineitem(s, dir),
        Seq("l_returnflag"), "l_quantity",
        Seq(("p25", 0.25), ("median", 0.5), ("p75", 0.75))),
      Some("""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25,
               quantile_cont(l_quantity, 0.5) AS median,
               quantile_cont(l_quantity, 0.75) AS p75
        FROM lineitem GROUP BY 1""")),

    // ===== mergeable approximate distinct: per-language HLL token
    // cardinality. Approximate BY CONTRACT (±1.6% at lgK 12) — no SQL
    // oracle; the driver records the rows-only check and SketchesSpec
    // asserts the error bound and sketch-merge associativity =====
    QueryDef("q120_approx_distinct",
      (s, dir) => Sketches.approxDistinct(
        T.documents(s, dir)
          .select(col("lang"),
            explode(TextFunctions.tokens(col("text"))).as("tok")),
        Seq("lang"), "tok"),
      None),

    // ===== as-of join (merge_asof / temporal join): each click event
    // picks up the same user's most recent purchase at-or-before its
    // timestamp — union-window form, ONE exchange; the oracle states
    // the quadratic latest-match definition directly =====
    QueryDef("q123_asof_join",
      (s, dir) => {
        val ev = T.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("value").as("purchase_value"))
        graft.operators.Relational.asofJoin(clicks, purchases,
            Seq("user_id"), "ts", "purchase_ts")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            unix_micros(col("purchase_ts")).as("purchase_ts_us"),
            col("purchase_value"))
      },
      Some("""
        WITH l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
        r AS (SELECT user_id, ts AS rts, value FROM events
              WHERE event_type = 'purchase'),
        j AS (SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                     epoch_us(r.rts) AS purchase_ts_us,
                     r.value AS purchase_value,
                     row_number() OVER (PARTITION BY l.event_id
                       ORDER BY r.rts DESC) AS rn
              FROM l LEFT JOIN r
                ON l.user_id = r.user_id AND r.rts <= l.ts)
        SELECT event_id, user_id, ts_us, purchase_ts_us, purchase_value
        FROM j WHERE rn = 1""")),

    // ===== percentile-gated quality selection: top 25% of orders by
    // total price within each priority class (threshold = the stratum's
    // 0.75 quantile; at-threshold ties kept on both sides) =====
    QueryDef("q124_top_fraction",
      (s, dir) => graft.operators.Sampling.topFractionByScore(
        T.orders(s, dir)
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderpriority", "o_totalprice", frac = 0.25),
      Some("""
        WITH t AS (SELECT o_orderpriority,
                          quantile_cont(o_totalprice, 0.75) AS thr
                   FROM orders GROUP BY 1)
        SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice
        FROM orders o JOIN t USING (o_orderpriority)
        WHERE o.o_totalprice >= t.thr""")),

    // ===== time-series resampling: each user's purchase value forward-
    // filled onto a daily grid (epoch-day units) spanning their own
    // activity range — the gap-filling composition of the grid explode
    // and the as-of join =====
    QueryDef("q125_resample",
      (s, dir) => {
        // several purchases can share a day — resample's forward fill
        // needs a UNIQUE series per (key, ts), so keep each day's
        // latest (by full-resolution micros, which are tie-free)
        val obs = graft.operators.Relational.latestSnapshot(
          T.events(s, dir)
            .filter(col("event_type") === "purchase")
            .select(col("user_id"),
              expr("CAST(unix_micros(ts) DIV 86400000000 AS LONG)").as("day"),
              unix_micros(col("ts")).as("__us"), col("value")),
          keys = Seq("user_id", "day"), dateCol = "__us")
          .drop("__us")
        graft.operators.Relational.resample(obs, Seq("user_id"), "day",
          step = 1L)
          .select(col("user_id"), col("grid_ts").as("grid_day"),
            col("obs_ts").as("obs_day"), col("value"))
      },
      Some("""
        WITH o AS (SELECT user_id, day, value FROM (
                     SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                            epoch_us(ts) AS us, value
                     FROM events WHERE event_type = 'purchase')
                   QUALIFY row_number() OVER (PARTITION BY user_id, day
                     ORDER BY us DESC) = 1),
        b AS (SELECT user_id, min(day) AS mn, max(day) AS mx
              FROM o GROUP BY 1),
        g AS (SELECT user_id, unnest(range(mn, mx + 1)) AS grid_day FROM b),
        j AS (SELECT g.user_id, g.grid_day, o.day AS obs_day, o.value,
                     row_number() OVER (PARTITION BY g.user_id, g.grid_day
                       ORDER BY o.day DESC) AS rn
              FROM g LEFT JOIN o
                ON o.user_id = g.user_id AND o.day <= g.grid_day)
        SELECT user_id, grid_day, obs_day, value FROM j WHERE rn = 1""")),

    // ===== bloom-prefiltered exact semi join: lineitems of urgent
    // orders (the oracle states the plain IN-subquery semi join) =====
    QueryDef("q126_bloom_semi",
      (s, dir) => Sketches.bloomSemiJoin(
          T.lineitem(s, dir).select("l_orderkey", "l_returnflag"),
          "l_orderkey",
          T.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          "o_orderkey", expectedItems = 1000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")),
      Some("""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY 1""")),

    // ===== bloom-accelerated exact anti join: definite misses bypass
    // the join, possible members pay the exact anti join — union equals
    // the naive NOT IN =====
    QueryDef("q127_bloom_anti",
      (s, dir) => Sketches.bloomAntiJoin(
          T.lineitem(s, dir).select("l_orderkey", "l_returnflag"),
          "l_orderkey",
          T.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          "o_orderkey", expectedItems = 1000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")),
      Some("""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
        GROUP BY 1""")),

    // ===== exact set-similarity join via prefix filtering: every
    // 3-gram-shingle Jaccard ≥ 0.5 pair with its exact score — the
    // oracle states the full uncapped all-pairs definition; the
    // operator reaches the same rows through rare-first prefixes =====
    QueryDef("q128_prefix_jaccard",
      (s, dir) => graft.operators.Dedup.prefixJaccardPairs(
        T.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5),
      Some(s"""
        WITH tks AS (SELECT doc_id, $duckToks AS tk FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(
                 CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                      WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(tk[i:i+2], ' '))
                      ELSE [array_to_string(tk, ' ')] END)) AS shingle
               FROM tks),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                  FROM sh a JOIN sh b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5""")),

    // ===== z-order values: the Morton key a multi-dimensional layout
    // sorts by (events quantized over (user_id, day), 8 bits each) —
    // bounds, quantization and bit interleave mirrored exactly in SQL =====
    QueryDef("q129_zorder",
      (s, dir) => {
        val e = T.events(s, dir).select(col("event_id"), col("user_id"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS LONG)").as("day"))
        val bounds = graft.operators.Sharding.zorderBounds(e,
          Seq("user_id", "day"))
        e.select(col("event_id"),
          graft.operators.Sharding.zorderValue(
            Seq(col("user_id"), col("day")), bounds, bits = 8).as("zval"))
      },
      Some {
        // ((q_i >> b) & 1) << (b*2 + i), OR-folded — the exact Spark tree
        val interleave = (0 until 8).flatMap(b => Seq(
          s"((((q0 >> $b) & 1)) << ${b * 2})",
          s"((((q1 >> $b) & 1)) << ${b * 2 + 1})")).mkString(" | ")
        s"""
        WITH e AS (SELECT event_id, user_id,
                     epoch_us(ts) // 86400000000 AS day
                   FROM events),
        b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
                     min(day) AS mnd, max(day) AS mxd FROM e),
        q AS (SELECT event_id,
                least(CAST(floor(CAST(user_id - mnu AS DOUBLE)
                  * (256.0 / CAST(mxu - mnu + 1 AS DOUBLE))) AS BIGINT),
                  255) AS q0,
                least(CAST(floor(CAST(day - mnd AS DOUBLE)
                  * (256.0 / CAST(mxd - mnd + 1 AS DOUBLE))) AS BIGINT),
                  255) AS q1
              FROM e, b)
        SELECT event_id, CAST($interleave AS BIGINT) AS zval FROM q"""
      }),

    // ===== incremental distinct: two parity-split appends into a
    // persisted DistinctStore, served from the accumulated per-batch
    // sketches — approximate by contract (rows-only check; the
    // exact-truth error bound and crash/replay semantics are pinned in
    // DistinctStoreSpec) =====
    QueryDef("q122_distinct_incremental",
      (s, dir) => {
        val toks = T.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(TextFunctions.tokens(col("text"))).as("tok"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_q122_").toString
        val store = new Sketches.DistinctStore(s, root, "inc")
        store.ingest(toks.filter(col("doc_id") % 2 === 0), "lang", "tok")
        store.ingest(toks.filter(col("doc_id") % 2 === 1), "lang", "tok")
        store.estimate()
      },
      None),

    // ===== link-graph degrees: weighted in/out degrees over the
    // supplier→part shipment graph (one edge per order line 1) — the
    // per-node fan-out/fan-in profile a domain-authority pass starts
    // from =====
    QueryDef("q153_graph_degrees",
      (s, dir) => graft.operators.Graph.degrees(
        graphEdges(s, dir), "src", "dst", Some("w")),
      Some(s"""
        WITH $graphEdgeCtes,
        -- degrees counts PARALLEL edges individually (e0, uncollapsed)
        o AS (SELECT src AS node, count(*) AS out_deg,
                     CAST(sum(w) AS BIGINT) AS out_weight
              FROM e0 GROUP BY 1),
        i AS (SELECT dst AS node, count(*) AS in_deg,
                     CAST(sum(w) AS BIGINT) AS in_weight
              FROM e0 GROUP BY 1)
        SELECT coalesce(o.node, i.node) AS node,
               coalesce(out_deg, 0) AS out_deg,
               coalesce(in_deg, 0) AS in_deg,
               coalesce(out_weight, 0) AS out_weight,
               coalesce(in_weight, 0) AS in_weight
        FROM o FULL OUTER JOIN i ON o.node = i.node""")),

    // ===== deterministic fixed-point PageRank, 3 iterations, over the
    // same graph — every update is integer multiply / floor-divide /
    // sum, so the oracle replays the iterations EXACTLY (unrolled CTE
    // chain, HUGEINT-safe casts); the float `rank` is rank_fp / 2^30,
    // a power-of-two division both engines compute exactly =====
    QueryDef("q154_graph_pagerank",
      (s, dir) => graft.operators.Graph.pageRank(
        graphEdges(s, dir), "src", "dst", iters = 3, Some("w")),
      Some(s"""
        WITH $pageRankCtes
        SELECT node, rank_fp,
               CAST(rank_fp AS DOUBLE) / 1073741824.0 AS rank
        FROM r3""")),

    // ===== authority gate: keep shipment rows whose supplier the link
    // graph promotes above the uniform prior (scale div N) — the
    // host-reputation filter a crawl-curation pipeline composes with
    // pageRank; the comparison runs on the exact fixed-point rank, so
    // the kept set replays exactly =====
    QueryDef("q156_authority_gate",
      (s, dir) => {
        val ranks = graft.operators.Graph.pageRank(
          graphEdges(s, dir), "src", "dst", iters = 3, Some("w"))
          .localCheckpoint(true) // reused: the count below + the gate
        val n = ranks.count() // bounded control read, = the oracle's k.n
        graft.operators.Graph.authorityGate(
          T.lineitem(s, dir).filter(col("l_linenumber") === 1)
            .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")),
          "l_suppkey", ranks, minRankFp = (1L << 30) / n)
      },
      Some(s"""
        WITH $pageRankCtes
        SELECT l_orderkey, l_suppkey, l_partkey
        FROM lineitem
        WHERE l_linenumber = 1
          AND l_suppkey IN (SELECT node FROM r3
                            WHERE rank_fp > (SELECT 1073741824 // n
                                             FROM k))""")),

    // ===== incremental edge store: degrees over two appends ≡ the
    // one-shot degrees on the union (q153's oracle verbatim) — the
    // cross-batch equivalence the rest of the store family pins
    // (q65/q143/q155 pattern); one (src,dst) group straddles the split,
    // so the cross-append collapse is exercised for real =====
    QueryDef("q157_edge_store_degrees",
      (s, dir) => {
        val e = graphEdges(s, dir)
        val store = new graft.operators.EdgeStore(
          new graft.sources.Warehouse(s, java.nio.file.Files
            .createTempDirectory("graft_q157_").toString),
          "inc", graft.operators.EdgeStoreConfig(
            weightCol = Some("w"), nStoreBuckets = 8))
        store.ingest(e.filter(col("dst") % 2 === 0), "src", "dst")
        store.ingest(e.filter(col("dst") % 2 === 1), "src", "dst")
        store.degrees(s)
      },
      Some(s"""
        WITH $graphEdgeCtes,
        o AS (SELECT src AS node, count(*) AS out_deg,
                     CAST(sum(w) AS BIGINT) AS out_weight
              FROM e0 GROUP BY 1),
        i AS (SELECT dst AS node, count(*) AS in_deg,
                     CAST(sum(w) AS BIGINT) AS in_weight
              FROM e0 GROUP BY 1)
        SELECT coalesce(o.node, i.node) AS node,
               coalesce(out_deg, 0) AS out_deg,
               coalesce(in_deg, 0) AS in_deg,
               coalesce(out_weight, 0) AS out_weight,
               coalesce(in_weight, 0) AS in_weight
        FROM o FULL OUTER JOIN i ON o.node = i.node""")),

    // ===== warm-start rank maintenance through the store: 2 cold
    // iterations checkpointed as the prior, 1 warm continuation — the
    // exact update is deterministic from any start, so the result IS
    // the 3-iteration fixed point the q154 oracle replays (r3) =====
    QueryDef("q158_pagerank_warmstart",
      (s, dir) => {
        val store = new graft.operators.EdgeStore(
          new graft.sources.Warehouse(s, java.nio.file.Files
            .createTempDirectory("graft_q158_").toString),
          "inc", graft.operators.EdgeStoreConfig(
            weightCol = Some("w"), nStoreBuckets = 8))
        store.ingest(graphEdges(s, dir), "src", "dst")
        val prior = store.pageRank(s, iters = 2)
          .select("node", "rank_fp").localCheckpoint(true)
        store.pageRank(s, iters = 1, prior = Some(prior))
      },
      Some(s"""
        WITH $pageRankCtes
        SELECT node, rank_fp,
               CAST(rank_fp AS DOUBLE) / 1073741824.0 AS rank
        FROM r3""")),

    // ===== TrustRank: seed-personalized PageRank (teleport mass flows
    // only to a trusted seed set — Gyöngyi et al., VLDB 2004), 3 exact
    // fixed-point iterations over the same shipment graph, seeds =
    // every 10th node id. Same bit-replay contract as q154: the oracle
    // unrolls the seeded update rule in integer SQL =====
    QueryDef("q162_trustrank",
      (s, dir) => {
        val e = graphEdges(s, dir)
        val seeds = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .filter(pmod(col("node"), lit(10)) === 0)
        graft.operators.Graph.trustRank(e, "src", "dst", iters = 3,
          seeds, "node", Some("w"))
      },
      Some(s"""
        WITH $trustRankCtes
        SELECT node, rank_fp,
               CAST(rank_fp AS DOUBLE) / 1073741824.0 AS rank
        FROM t3""")),

    // ===== trust-rank maintenance through the store: 2 maintained + 1
    // maintained iterations over stored seeded-rank state ≡ the
    // 3-iteration cold run the q162 oracle replays — the per-epoch
    // maintenance loop a trust-gating crawl runs (warm-start from the
    // COMMITTED ranks, seed-set fingerprint as the state identity) =====
    QueryDef("q165_trustrank_maintain",
      (s, dir) => {
        val e = graphEdges(s, dir)
        val seeds = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .filter(pmod(col("node"), lit(10)) === 0)
        val store = new graft.operators.EdgeStore(
          new graft.sources.Warehouse(s, java.nio.file.Files
            .createTempDirectory("graft_q165_").toString),
          "inc", graft.operators.EdgeStoreConfig(
            weightCol = Some("w"), nStoreBuckets = 8))
        store.ingest(e, "src", "dst")
        store.trustRankMaintain(s, iters = 2, seeds, "node")
        store.trustRankMaintain(s, iters = 1, seeds, "node")
      },
      Some(s"""
        WITH $trustRankCtes
        SELECT node, rank_fp,
               CAST(rank_fp AS DOUBLE) / 1073741824.0 AS rank
        FROM t3""")),

    // ===== host-level link-graph construction from crawled pages —
    // the first step of the crawl composition (WARC → hostEdges →
    // EdgeStore → rank → gate → curate). Fixture pages carry two
    // absolute links (one with UPPERCASE scheme/host + userinfo +
    // port, exercising the RFC-lite normalization) and one relative
    // link (dropped); the oracle re-derives every edge ARITHMETICALLY
    // from the id stream, so it matches only if the regex extraction
    // and host normalization are right (the q59 fixture pattern) =====
    QueryDef("q163_host_edges",
      (s, dir) => {
        val d = T.documents(s, dir)
        val pages = d.select(
          concat(lit("http://h"), pmod(col("doc_id"), lit(50)),
            lit(".example/p/"), col("doc_id")).as("url"),
          concat(
            lit("<html><body><a class=\"x\" href=\"http://h"),
            pmod(col("doc_id") * 7, lit(50)),
            lit(".example/a\">l1</a><p>filler</p>" +
              "<a href='HTTPS://user@H"),
            pmod(col("doc_id") * 13, lit(50)),
            lit(".EXAMPLE:8443/b?q=1'>l2</a>" +
              "<a href=\"/relative\">r</a></body></html>")).as("html"))
        graft.operators.Graph.hostEdges(pages, "url", "html")
      },
      Some("""
        WITH d AS (SELECT doc_id % 50 AS s, (doc_id * 7) % 50 AS d1,
                          (doc_id * 13) % 50 AS d2 FROM documents),
        l AS (SELECT 'h' || s || '.example' AS src,
                     'h' || d1 || '.example' AS dst FROM d
              UNION ALL
              SELECT 'h' || s || '.example', 'h' || d2 || '.example'
              FROM d)
        SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        FROM l WHERE src <> dst GROUP BY 1, 2""")),

    // ===== anchor-text index construction: per-target-host term
    // profile from crawled pages — the retrieval complement of q163's
    // link graph (anchor text describes the TARGET; the classic
    // cross-site ranking signal). Fixture anchors carry arithmetic
    // terms plus inner markup (<b>…</b>, stripped) and a trailing
    // space (collapsed); the uppercase/userinfo/port link and the
    // relative link exercise the same normalization as q163. The
    // oracle re-derives every (host, term, w) row from the id
    // stream =====
    QueryDef("q168_anchor_terms",
      (s, dir) => {
        val d = T.documents(s, dir)
        val pages = d.select(
          concat(lit("http://h"), pmod(col("doc_id"), lit(50)),
            lit(".example/p/"), col("doc_id")).as("url"),
          concat(
            lit("<html><body><a class=\"x\" href=\"http://h"),
            pmod(col("doc_id") * 7, lit(50)),
            lit(".example/a\">Alpha <b>t"),
            pmod(col("doc_id"), lit(7)),
            lit("</b></a><p>filler</p><a href='HTTPS://u@H"),
            pmod(col("doc_id") * 13, lit(50)),
            lit(".EXAMPLE:8443/b?q=1'>beta t"),
            pmod(col("doc_id") * 3, lit(11)),
            lit(" </a><a href=\"/relative\">skip</a></body></html>"))
            .as("html"))
        graft.operators.Graph.anchorTerms(pages, "url", "html")
      },
      Some("""
        WITH d AS (SELECT doc_id % 50 AS s,
                          (doc_id * 7) % 50 AS d1,
                          (doc_id * 13) % 50 AS d2,
                          doc_id % 7 AS k1,
                          (doc_id * 3) % 11 AS k2 FROM documents),
        t AS (SELECT s, d1 AS dd, 'alpha' AS term FROM d
              UNION ALL SELECT s, d1, 't' || k1 FROM d
              UNION ALL SELECT s, d2, 'beta' FROM d
              UNION ALL SELECT s, d2, 't' || k2 FROM d)
        SELECT 'h' || dd || '.example' AS host, term,
               CAST(count(*) AS BIGINT) AS w
        FROM t WHERE s <> dd GROUP BY 1, 2""")),

    // ===== anchor-text RETRIEVAL composition — what the anchor index
    // exists for (Graph.anchorTerms' own scaladoc): per-host anchor
    // profiles (q168's fixture and arithmetic) ingested into an
    // incremental Bm25Index with the HOST as the document key (two
    // host-parity appends — the continuous-crawl shape), BM25-searched,
    // then fused by reciprocal-rank with the COMMITTED PageRank
    // authority ranking of the same crawl's link graph (EdgeStore +
    // pageRankMaintain — q161's stored-ranks amortization). The anchor
    // "document" is each host's terms repeated by cross-site occurrence
    // count, so tf ≡ w and dl ≡ Σw — BM25's stats come straight off
    // the profile. The oracle re-derives the profile arithmetically,
    // replays the shared BM25 score tree, unrolls the 3-iteration
    // rank, and re-fuses =====
    QueryDef("q173_anchor_retrieval",
      (s, dir) => {
        import graft.operators.{EdgeStore, EdgeStoreConfig, Graph, Retrieval}
        val d = T.documents(s, dir)
        val pages = d.select(
          concat(lit("http://h"), pmod(col("doc_id"), lit(50)),
            lit(".example/p/"), col("doc_id")).as("url"),
          concat(
            lit("<html><body><a class=\"x\" href=\"http://h"),
            pmod(col("doc_id") * 7, lit(50)),
            lit(".example/a\">Alpha <b>t"),
            pmod(col("doc_id"), lit(7)),
            lit("</b></a><p>filler</p><a href='HTTPS://u@H"),
            pmod(col("doc_id") * 13, lit(50)),
            lit(".EXAMPLE:8443/b?q=1'>beta t"),
            pmod(col("doc_id") * 3, lit(11)),
            lit(" </a><a href=\"/relative\">skip</a></body></html>"))
            .as("html"))
        def hostNum(c: org.apache.spark.sql.Column) =
          regexp_extract(c, "^h(\\d+)\\.example$", 1).cast("long")
        // per-host anchor documents: each term repeated w times, so the
        // index's tf/dl are exactly the profile's w/Σw (order of the
        // collect_list is irrelevant — BM25 stats are multiset facts)
        val anchorDocs = Graph.anchorTerms(pages, "url", "html")
          .select(hostNum(col("host")).as("host"), col("term"), col("w"))
          .select(col("host"),
            array_join(transform(sequence(lit(1L), col("w")),
              _ => col("term")), " ").as("__rep"))
          .groupBy("host")
          .agg(concat_ws(" ", collect_list(col("__rep"))).as("text"))
          .localCheckpoint(true) // bounded (≤50 hosts); read by 2 appends
        val idx = new Retrieval.Bm25Index(s,
          java.nio.file.Files.createTempDirectory("graft_q173b_").toString,
          "anchor", nStoreBuckets = 8)
        val estore = new EdgeStore(new graft.sources.Warehouse(s,
          java.nio.file.Files.createTempDirectory("graft_q173e_").toString),
          "anchorg", EdgeStoreConfig(weightCol = Some("w"),
            nStoreBuckets = 8))
        // the lexical leg (two BM25 appends) and the authority leg
        // (edge append + maintained rank) are independent until the
        // final fuse and write DISJOINT store roots — overlap them
        // (guide: fill the tail with the other leg's jobs)
        val (_, ranks) = graft.core.Par.both(
          {
            idx.ingest(anchorDocs.filter(col("host") % 2 === 0),
              "host", "text")
            idx.ingest(anchorDocs.filter(col("host") % 2 === 1),
              "host", "text")
          },
          {
            estore.ingest(Graph.hostEdges(pages, "url", "html")
              .select(hostNum(col("src")).as("src"),
                hostNum(col("dst")).as("dst"), col("w"))
              .localCheckpoint(true), "src", "dst") // staged: append scans 2x
            estore.pageRankMaintain(s, iters = 3)
          })
        val lex = idx.search(Seq("alpha", "t3", "t9"), k = 10)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("rank_fp").desc, col("node").asc)
        val auth = ranks.orderBy(col("rank_fp").desc, col("node").asc)
          .limit(10)
          .withColumn("rank", row_number().over(w))
          .select(col("node").as("id"), col("rank"))
        Retrieval.rrfFuse(lex.select("id", "rank"), auth, k = 10)
          .select(col("id").as("host_id"), col("fused"),
            col("rank").cast("long").as("rank"))
      },
      Some {
        val terms = Seq("alpha", "t3", "t9")
        val score = terms.zipWithIndex.map { case (_, i) =>
          s"""((tf$i * (1.2 + 1.0) / (tf$i + 1.2 * ((1.0 - 0.75)
             |            + 0.75 * dl / (sumdl / n))))
             |            * (((n - df$i) + 0.5) / (df$i + 0.5)))""".stripMargin
        }.mkString("(", "\n           + ", ")")
        val dfCols = terms.zipWithIndex.map { case (t, i) =>
          s"(SELECT CAST(count(*) AS DOUBLE) FROM a WHERE term = '$t') AS df$i"
        }.mkString(",\n               ")
        val tfCols = terms.zipWithIndex.map { case (t, i) =>
          s"CAST(coalesce(sum(w) FILTER (term = '$t'), 0) AS DOUBLE) AS tf$i"
        }.mkString(",\n               ")
        s"""
        WITH d AS (SELECT doc_id % 50 AS s,
                          (doc_id * 7) % 50 AS d1,
                          (doc_id * 13) % 50 AS d2,
                          doc_id % 7 AS k1,
                          (doc_id * 3) % 11 AS k2 FROM documents),
        t AS (SELECT s, d1 AS dd, 'alpha' AS term FROM d
              UNION ALL SELECT s, d1, 't' || k1 FROM d
              UNION ALL SELECT s, d2, 'beta' FROM d
              UNION ALL SELECT s, d2, 't' || k2 FROM d),
        a AS (SELECT dd AS host, term, CAST(count(*) AS BIGINT) AS w
              FROM t WHERE s <> dd GROUP BY 1, 2),
        hl AS (SELECT host, CAST(sum(w) AS DOUBLE) AS dl FROM a GROUP BY 1),
        bst AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM hl) AS n,
               (SELECT CAST(sum(w) AS DOUBLE) FROM a) AS sumdl,
               $dfCols),
        tfm AS (SELECT host, $tfCols FROM a GROUP BY host),
        bsc AS (SELECT hl.host, $score AS score
               FROM hl JOIN tfm USING (host), bst),
        lex AS (SELECT host AS id,
                 row_number() OVER (ORDER BY score DESC, host) AS rank
               FROM bsc WHERE score > 0.0 QUALIFY rank <= 10),
        al AS (SELECT s AS src, d1 AS dst FROM d
               UNION ALL SELECT s, d2 FROM d),
        ae AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
               FROM al WHERE src <> dst GROUP BY 1, 2),
        ${pageRankUnrolled("ae", "ap", 3)},
        auth AS (SELECT node AS id,
                  row_number() OVER (ORDER BY rank_fp DESC, node) AS rank
                FROM apr3 QUALIFY rank <= 10),
        f AS (SELECT id,
                (coalesce(1.0 / (60.0 + CAST(lex.rank AS DOUBLE)), 0.0)
                  + coalesce(1.0 / (60.0 + CAST(auth.rank AS DOUBLE)), 0.0))
                  AS fused
              FROM lex FULL JOIN auth USING (id))
        SELECT id AS host_id, fused,
               CAST(row_number() OVER (ORDER BY fused DESC, id) AS BIGINT)
                 AS rank
        FROM f
        QUALIFY rank <= 10"""
      }),

    // ===== registrable-domain grouping (eTLD+1-lite): the per-SITE
    // key a C4/RefinedWeb-style pipeline caps and gates on —
    // subdomains collapse to one domain, cc-SLD suffixes (co.uk, …)
    // take three labels, IPv4 literals and single-label intranet
    // hosts pass through. Fixture hosts exercise every branch; the
    // oracle replays the label arithmetic =====
    QueryDef("q170_registrable_domain",
      (s, dir) => {
        val d = T.documents(s, dir)
        val host = when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("www.h"), pmod(col("doc_id"), lit(40)),
              lit(".example")))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("a.b.h"), pmod(col("doc_id"), lit(40)),
              lit(".co.uk")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit("h"), pmod(col("doc_id"), lit(40)),
              lit(".example")))
          .when(pmod(col("doc_id"), lit(5)) === 3,
            concat(lit("10.0.0."), pmod(col("doc_id"), lit(250))))
          .otherwise(concat(lit("intranet"), pmod(col("doc_id"),
            lit(40))))
        d.select(graft.functions.HtmlFunctions
            .registrableDomain(host).as("domain"))
          .groupBy("domain").agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""
        WITH h AS (SELECT CASE doc_id % 5
            WHEN 0 THEN 'www.h' || (doc_id % 40) || '.example'
            WHEN 1 THEN 'a.b.h' || (doc_id % 40) || '.co.uk'
            WHEN 2 THEN 'h' || (doc_id % 40) || '.example'
            WHEN 3 THEN '10.0.0.' || (doc_id % 250)
            ELSE 'intranet' || (doc_id % 40) END AS host
          FROM documents),
        p AS (SELECT host, string_split(host, '.') AS parts FROM h),
        r AS (SELECT host,
            len(parts) AS np,
            array_to_string(parts[len(parts)-1:], '.') AS last2,
            array_to_string(parts[len(parts)-2:], '.') AS last3
          FROM p)
        SELECT CASE
            WHEN regexp_matches(host, '^[0-9.]+$$') OR np <= 2 THEN host
            WHEN list_contains(${sqlList(
              graft.functions.HtmlFunctions.SecondLevelSuffixes)},
              last2) THEN last3
            ELSE last2 END AS domain,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM r GROUP BY 1""")),
  )

  /** One committed rank table per (session, sfDir) — the PRODUCTION
    * pattern for authority gating: a crawl epoch computes and COMMITS
    * ranks once ([[graft.operators.EdgeStore.pageRankMaintain]], 3
    * iterations over [[graphEdges]], bit-identical to the in-query
    * `Graph.pageRank(…, 3)` by the maintain contract), and every
    * curation run READS the committed table instead of re-iterating —
    * the amortization [[graft.operators.Pipeline.AuthorityGate]]'s own
    * scaladoc claims. q161 gates off this holder; the oracle (the
    * unrolled r3 replay) is unchanged. Cached like CurationQueries'
    * curateShared: the store lives in session-scoped scratch, and the
    * returned frame is parquet-backed (nothing pinned in executor
    * storage). */
  private val rankStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (org.apache.spark.sql.DataFrame, Long)]

  /** The TRUST twin of [[storedSupplierRanks]]: one committed
    * [[graft.operators.EdgeStore.trustRankMaintain]] table per
    * (session, sfDir) — 3 maintained iterations over [[graphEdges]]
    * with the q162 seed set (node % 10 = 0), bit-identical to the
    * in-query `Graph.trustRank(…, 3)` by the maintain contract, so
    * q166 gates off the committed state (the amortized production
    * pattern for the trust signal) under the UNCHANGED q166 oracle. */
  private val trustStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]
  private[queries] def storedSupplierTrustRanks(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    trustStoreCache.getOrElseUpdate((s, dir), {
      val e = graphEdges(s, dir)
      val seeds = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .filter(pmod(col("node"), lit(10)) === 0)
      val store = new graft.operators.EdgeStore(
        new graft.sources.Warehouse(s, java.nio.file.Files
          .createTempDirectory("graft_trankstore_").toString),
        "trank", graft.operators.EdgeStoreConfig(
          weightCol = Some("w"), nStoreBuckets = 8))
      store.ingest(e, "src", "dst")
      store.trustRankMaintain(s, iters = 3, seeds, "node")
    })
  private[queries] def storedSupplierRanks(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long) =
    rankStoreCache.getOrElseUpdate((s, dir), {
      val store = new graft.operators.EdgeStore(
        new graft.sources.Warehouse(s, java.nio.file.Files
          .createTempDirectory("graft_rankstore_").toString),
        "rank", graft.operators.EdgeStoreConfig(
          weightCol = Some("w"), nStoreBuckets = 8))
      store.ingest(graphEdges(s, dir), "src", "dst")
      val ranks = store.pageRankMaintain(s, iters = 3)
      (ranks, ranks.count()) // node count, = the oracle's k.n
    })

  /** The link graph both Graph queries share: supplier → part, one edge
    * per order's first line, weighted by quantity (integer-valued
    * doubles, exact as BIGINT). Parallel edges are REAL here (a
    * supplier ships the same part on many orders) — exactly what
    * degrees counts individually and pageRank collapses by weight. */
  private[queries] def graphEdges(s: org.apache.spark.sql.SparkSession,
                         dir: String) =
    T.lineitem(s, dir).filter(col("l_linenumber") === 1)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"),
        col("l_quantity").cast("long").as("w"))

  // LAZY: `defs` above initializes first in declaration order, and a
  // plain val would interpolate as "null" into the SQL (the catalog's
  // documented init-order trap)
  private lazy val graphEdgeCtes =
    """e0 AS (SELECT l_suppkey AS src, l_partkey AS dst,
                     CAST(l_quantity AS BIGINT) AS w
              FROM lineitem WHERE l_linenumber = 1),
        e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
              FROM e0 GROUP BY 1, 2 HAVING sum(w) > 0)"""

  /** Generalized unrolled fixed-point PageRank replay over an arbitrary
    * COLLAPSED edge CTE `edges` (src, dst, w with w > 0): emits CTEs
    * `${p}ow`/`${p}nd`/`${p}nf`/`${p}k` and `${p}r0`…`${p}r$iters`,
    * mirroring Graph.pageRank's integer update exactly. `prior` names a
    * (node, rank_fp) CTE to warm-start from — nodes it misses start at
    * the uniform initr of THIS graph, exactly the engine's prior
    * contract — which is how the q164 epoch composition replays
    * pageRankMaintain across a grown graph. */
  private[queries] def pageRankUnrolled(edges: String, p: String,
      iters: Int, prior: Option[String] = None): String = {
    def iter(prev: String, cur: String) = s"""
        $cur AS (
          SELECT nf.node, nf.has_out,
            CAST((SELECT base FROM ${p}k)
              + (85 * (coalesce(i.insum, 0) + d.dsh)) // 100 AS BIGINT)
              AS rank_fp
          FROM ${p}nf nf
          LEFT JOIN (SELECT e.dst AS node,
                            sum((r.rank_fp * e.w) // ow.wtot) AS insum
                     FROM $prev r
                     JOIN $edges e ON r.node = e.src
                     JOIN ${p}ow ow ON e.src = ow.src
                     GROUP BY 1) i ON nf.node = i.node
          CROSS JOIN (SELECT coalesce(sum(rank_fp), 0)
                        // (SELECT n FROM ${p}k) AS dsh
                      FROM $prev WHERE NOT has_out) d)"""
    val init = prior match {
      case None => s"CAST((SELECT initr FROM ${p}k) AS BIGINT)"
      case Some(pr) =>
        s"CAST(coalesce((SELECT rank_fp FROM $pr WHERE $pr.node = nf.node)," +
          s" (SELECT initr FROM ${p}k)) AS BIGINT)"
    }
    s"""${p}ow AS (SELECT src, sum(w) AS wtot FROM $edges GROUP BY 1),
        ${p}nd AS (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM $edges
                  UNION ALL SELECT dst FROM $edges)),
        ${p}nf AS (SELECT nd.node, ow.src IS NOT NULL AS has_out
               FROM ${p}nd nd LEFT JOIN ${p}ow ow ON nd.node = ow.src),
        ${p}k AS (SELECT count(*) AS n,
                     1073741824 // count(*) AS initr,
                     ((100 - 85) * (1073741824 // count(*))) // 100 AS base
              FROM ${p}nf),
        ${p}r0 AS (SELECT node, has_out, $init AS rank_fp
               FROM ${p}nf nf),
        ${(1 to iters).map(i => iter(s"${p}r${i - 1}", s"${p}r$i"))
          .mkString(",\n")}"""
  }

  /** The unrolled 3-iteration fixed-point PageRank replay (through CTE
    * `r3`, with `k` carrying n/initr/base) — shared by q154 and the
    * q156 authority gate. Every update is integer multiply /
    * floor-divide / sum, mirroring Graph.pageRank exactly. */
  private[queries] lazy val pageRankCtes: String =
    s"""$graphEdgeCtes,
        ${pageRankUnrolled("e", "", 3)}"""

  /** The unrolled 3-iteration TrustRank replay (through CTE `t3`):
    * the [[pageRankCtes]] chain with the SEEDED teleport — base and the
    * dangling return flow only to seed nodes (node % 10 = 0 here), in
    * shares of scale div |seeds|. Every update is integer multiply /
    * floor-divide / sum, mirroring Graph.trustRank exactly (dtel =
    * (dangling · seedShare) // scale stays inside BIGINT at this
    * scale; the Scala side computes it in BigInt for safety at larger
    * scales). */
  private[queries] lazy val trustRankCtes: String = {
    def iter(prev: String, cur: String) = s"""
        $cur AS (
          SELECT nf.node, nf.has_out, nf.is_seed,
            CAST(CASE WHEN nf.is_seed THEN (SELECT sbase FROM sk)
                      ELSE 0 END
              + (85 * (coalesce(i.insum, 0)
                 + CASE WHEN nf.is_seed THEN d.dtel ELSE 0 END)) // 100
              AS BIGINT) AS rank_fp
          FROM nfs nf
          LEFT JOIN (SELECT e.dst AS node,
                            sum((r.rank_fp * e.w) // ow.wtot) AS insum
                     FROM $prev r
                     JOIN e ON r.node = e.src
                     JOIN ow ON e.src = ow.src
                     GROUP BY 1) i ON nf.node = i.node
          CROSS JOIN (SELECT (coalesce(sum(rank_fp), 0)
                              * (SELECT sshare FROM sk)) // 1073741824
                        AS dtel
                      FROM $prev WHERE NOT has_out) d)"""
    s"""$graphEdgeCtes,
        ow AS (SELECT src, sum(w) AS wtot FROM e GROUP BY 1),
        nd AS (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        nfs AS (SELECT nd.node, ow.src IS NOT NULL AS has_out,
                       nd.node % 10 = 0 AS is_seed
                FROM nd LEFT JOIN ow ON nd.node = ow.src),
        sk AS (SELECT 1073741824 // sum(CASE WHEN is_seed THEN 1 ELSE 0
                        END) AS sshare,
                      ((100 - 85) * (1073741824 // sum(CASE WHEN is_seed
                        THEN 1 ELSE 0 END))) // 100 AS sbase
               FROM nfs),
        t0 AS (SELECT node, has_out, is_seed,
                      CAST(CASE WHEN is_seed THEN (SELECT sshare FROM sk)
                                ELSE 0 END AS BIGINT) AS rank_fp
               FROM nfs),
        ${iter("t0", "t1")},
        ${iter("t1", "t2")},
        ${iter("t2", "t3")}"""
  }
}
