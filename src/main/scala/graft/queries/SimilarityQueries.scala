package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.operators.Similarity
import Catalog.QueryDef

/** Embedding similarity-search tier: brute-force / IVF / hyperplane-LSH
  * top-k and label-blocked near-dup — split out of [[LlmQueries]] to keep
  * the per-tier catalog files under the repo's 600-line bar.
  * Oracle-parity rules live in [[Catalog]]'s scaladoc. */
private[queries] object SimilarityQueries {
  import Catalog._

  /** q77/q78's hyperplane tables: 4 tables × 4 bits — sized so ~46% of
    * the 0.35-cosine pairs in the 500-vector table share a bucket
    * (8-bit tables catch almost none at this corpus size). Integer
    * lattice planes, so the oracle reproduces the sign bits exactly. */
  private val nearDupPlanes: Seq[Seq[Seq[Double]]] =
    (0 until 4).map(t =>
      graft.functions.VectorFunctions.latticePlanes(4, 64, 770L + t))

  /** DuckDB mirror of one integer-lattice hyperplane table's sign-bit
    * signature — ONE definition for both the q42 and q77/q78 oracles
    * (the arithmetic must match the Spark kernel bit-for-bit; two
    * copies of it could drift apart silently). */
  private def sigExpr(tbl: Seq[Seq[Double]]): String = {
    def planeList(p: Seq[Double]): String =
      p.map(v => s"${v.toLong}.0").mkString("([", ", ", "]::DOUBLE[])")
    tbl.zipWithIndex.map { case (p, i) =>
      val d = duckDot("embedding", planeList(p))
      s"(CASE WHEN $d >= 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n             + ", ")")
  }
  private def sigCtes(planes: Seq[Seq[Seq[Double]]]): (String, String) = {
    val sigCols = planes.zipWithIndex.map { case (tbl, t) =>
      s"${sigExpr(tbl)} AS sig$t" }.mkString(",\n            ")
    val arms = planes.indices.map(t =>
      s"SELECT vec_id, $t AS tbl, sig$t AS sig FROM sigs")
      .mkString("\n          UNION ALL ")
    (sigCols, arms)
  }

  /** DuckDB mirror of [[graft.operators.Similarity.lshNearDupPairs]]
    * over `nearDupPlanes` at threshold 0.35 — q78 restricts it to pairs
    * with a second-batch (odd-id) endpoint, mirroring q65/q66. */
  /** The q77 CTE chain `sigs → … → scored`, shared by [[embPairsOracle]]
    * and q96's cluster-keep tail. */
  private def embPairsCtes: String = {
    val (sigCols, arms) = sigCtes(nearDupPlanes)
    val d = duckDot("va", "vb")
    val na = s"sqrt(${duckDot("va", "va")})"
    val nb = s"sqrt(${duckDot("vb", "vb")})"
    s"""sigs AS (SELECT vec_id,
            $sigCols
          FROM embeddings),
        b AS ($arms),
        grp AS (SELECT tbl, sig, list_sort(list(vec_id)) AS ids FROM b
                GROUP BY 1, 2 HAVING count(*) >= 2),
        cand AS (SELECT DISTINCT p.id_a, p.id_b FROM grp,
          unnest(flatten(list_transform(range(1, len(ids) + 1), i ->
            list_transform(ids[i+1:], y -> {'id_a': ids[i], 'id_b': y})))) AS t(p)),
        scored AS (SELECT id_a, id_b,
            CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                 ELSE $d / ($na * $nb) END AS sim
          FROM cand
          JOIN (SELECT vec_id AS aid, embedding AS va FROM embeddings)
            ON aid = id_a
          JOIN (SELECT vec_id AS bid, embedding AS vb FROM embeddings)
            ON bid = id_b)"""
  }

  private def embPairsOracle(extraWhere: String): String =
    s"""
        WITH $embPairsCtes
        SELECT id_a, id_b, sim FROM scored
        WHERE sim >= 0.35$extraWhere"""

  /** q23's oracle — also verifies q73, where the SAME corpus is built
    * into the serve table by two incremental appends instead of one
    * shot (assignment is per-vector, so the results must be identical). */
  private val ivfOracle: String = {
    val l2 = duckL2("e.embedding", "c.cvec")
    val d = duckDot("qv", "cv")
    val na = s"sqrt(${duckDot("qv", "qv")})"
    val nb = s"sqrt(${duckDot("cv", "cv")})"
    s"""
        WITH cents AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                              embedding::DOUBLE[] AS cvec
                       FROM embeddings WHERE vec_id < 16),
        assigned AS (SELECT nbr_id, cv, cell FROM (
            SELECT e.vec_id AS nbr_id, e.embedding AS cv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY $l2, c.cell) AS rn
            FROM embeddings e CROSS JOIN cents c)
          WHERE rn = 1),
        probed AS (SELECT query_id, qv, cell FROM (
            SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY $l2, c.cell) AS rn
            FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 8)
          WHERE rn <= 2),
        scored AS (SELECT query_id, nbr_id,
            CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                 ELSE $d / ($na * $nb) END AS sim
          FROM assigned JOIN probed USING (cell)
          WHERE nbr_id != query_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
        WHERE "rank" <= 5"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ===== Similarity: exact brute-force top-k =====
    QueryDef("q22_brute_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("qv", "cv")
        val na = s"sqrt(${duckDot("qv", "qv")})"
        val nb = s"sqrt(${duckDot("cv", "cv")})"
        s"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS nbr_id, embedding AS cv FROM embeddings),
        scored AS (SELECT query_id, nbr_id,
            CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                 ELSE $d / ($na * $nb) END AS sim
          FROM c CROSS JOIN q WHERE nbr_id != query_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
        WHERE "rank" <= 5"""
      }),

    // ===== Similarity: IVF-partitioned ANN =====
    QueryDef("q23_ivf_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("int").as("cell"),
            col("embedding").cast("array<double>").as("cvec"))
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5, cents, nProbes = 2)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(ivfOracle)),

    // ===== Similarity: incrementally-built IVF serve table — two
    // appends, identical serve results to the one-shot build (q23) =====
    QueryDef("q73_ivf_incremental",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("int").as("cell"),
            col("embedding").cast("array<double>").as("cvec"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_q73_").toString
        val store = new graft.operators.IvfStore(
          new graft.sources.Warehouse(s, root), "inc", cents,
          nStoreBuckets = 8)
        store.ingest(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        store.ingest(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        store.serve(e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, nProbes = 2)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(ivfOracle)),

    // ===== Similarity: label-blocked embedding near-dup pairs =====
    QueryDef("q24_embedding_neardup",
      (s, dir) => Similarity.labelBlockedNearDup(T.embeddings(s, dir),
        "label", "vec_id", "embedding", threshold = 0.35, maxBlock = 1000),
      Some {
        val d = duckDot("va", "vb")
        val na = s"sqrt(${duckDot("va", "va")})"
        val nb = s"sqrt(${duckDot("vb", "vb")})"
        s"""
        WITH e AS (SELECT label, vec_id, embedding FROM embeddings
                   QUALIFY row_number() OVER (PARTITION BY label
                                              ORDER BY vec_id) <= 1000)
        SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
               CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                    ELSE $d / ($na * $nb) END AS sim
        FROM (SELECT label, vec_id, embedding AS va FROM e) a
        JOIN (SELECT label, vec_id, embedding AS vb FROM e) b USING (label)
        WHERE a.vec_id < b.vec_id
          AND (CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                    ELSE $d / ($na * $nb) END) >= 0.35"""
      }),

    // ===== Similarity: hyperplane-LSH ANN, portable integer-lattice
    // planes so the oracle reproduces the signatures bit-for-bit =====
    QueryDef("q42_lsh_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        Similarity.lshTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, dim = 64, tables = 4,
          bitsPerTable = 8, planes = Some(q42Planes))
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val (sigCols, arms) = sigCtes(q42Planes)
        val d = duckDot("qv", "cv")
        val na = s"sqrt(${duckDot("qv", "qv")})"
        val nb = s"sqrt(${duckDot("cv", "cv")})"
        s"""
        WITH sigs AS (SELECT vec_id,
            $sigCols
          FROM embeddings),
        b AS ($arms),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
                 FROM b c JOIN b q USING (tbl, sig)
                 WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
        scored AS (SELECT query_id, nbr_id,
            CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                 ELSE $d / ($na * $nb) END AS sim
          FROM cand
          JOIN (SELECT vec_id AS qid, embedding AS qv FROM embeddings)
            ON qid = query_id
          JOIN (SELECT vec_id AS nid, embedding AS cv FROM embeddings)
            ON nid = nbr_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
        WHERE "rank" <= 5"""
      }),

    // ===== Similarity: semantic near-dup PAIRS via hyperplane LSH —
    // bucket-blocked candidates, exact-cosine verify =====
    QueryDef("q77_embedding_pairs",
      (s, dir) => Similarity.lshNearDupPairs(T.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.35, dim = 64,
        tables = 4, bitsPerTable = 4, planes = Some(nearDupPlanes)),
      Some(embPairsOracle(""))),

    // ===== Similarity: SemDedup — q77's pair graph chained into
    // clusters, min-id representative kept per cluster (the embedding
    // tier's analogue of the pipeline's lexical near-dedup stage) =====
    QueryDef("q96_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(T.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.35, dim = 64,
          tables = 4, bitsPerTable = 4, planes = Some(nearDupPlanes))
        .select("vec_id"),
      Some(s"""
        WITH RECURSIVE $embPairsCtes,
        pr AS (SELECT id_a, id_b FROM scored WHERE sim >= 0.35),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        ccr AS (SELECT src AS id, src AS comp FROM edges
                UNION SELECT e.dst, ccr.comp FROM ccr
                JOIN edges e ON ccr.id = e.src),
        lab AS (SELECT id, min(comp) AS comp FROM ccr GROUP BY id)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM lab WHERE comp < id)""")),

    // ===== Similarity: incremental semantic near-dup — batch-2 ingest
    // against a batch-1 EmbeddingLshStore equals the full-corpus pairs
    // restricted to pairs touching batch 2 (the q65 contract) =====
    QueryDef("q78_embedding_incremental",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q78_").toString
        val store = new graft.operators.EmbeddingLshStore(
          new graft.sources.Warehouse(s, root), "inc",
          graft.operators.EmbeddingLshConfig(threshold = 0.35, dim = 64,
            tables = 4, bitsPerTable = 4, nStoreBuckets = 8,
            planes = Some(nearDupPlanes)))
        store.ingest(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        store.ingest(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      },
      Some(embPairsOracle("\n          AND (id_a % 2 = 1 OR id_b % 2 = 1)"))),

    // ===== Similarity: classifier-free quality — cosine to the exact
    // (fixed-fold-order) mean of a trusted reference set =====
    QueryDef("q87_reference_quality",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cent = Similarity.referenceCentroid(
          e.filter(col("vec_id") < 25), "vec_id", "embedding")
        Similarity.referenceSimilarity(e, "vec_id", "embedding", cent)
          .withColumnRenamed("id", "vec_id")
      },
      Some {
        val d = duckDot("embedding", "c")
        val na = s"sqrt(${duckDot("embedding", "embedding")})"
        val cn = s"sqrt(${duckDot("c", "c")})"
        s"""
        WITH refs AS (SELECT list(embedding ORDER BY vec_id) AS vs,
                             count(*) AS n
                      FROM embeddings WHERE vec_id < 25),
        cent AS (SELECT list_transform(range(1, 65), j ->
            list_reduce(list_prepend(0.0, list_transform(vs, v -> v[j]::DOUBLE)),
              (a, b) -> a + b) / CAST(n AS DOUBLE)) AS c
          FROM refs)
        SELECT vec_id,
               CASE WHEN $na = 0.0 OR $cn = 0.0 THEN 0.0
                    ELSE $d / ($na * $cn) END AS ref_sim
        FROM embeddings, cent"""
      }),

    // ===== Clustering: deterministic Lloyd's k-means — the centroid
    // TRAINER the IVF serving family consumes. Init = k smallest-id
    // vectors; assign = NearestCell kernel; update = floor(x·2^20)
    // exact-integer mean, so every centroid bit reproduces in DuckDB =====
    QueryDef("q103_kmeans_assign",
      (s, dir) => graft.operators.Clustering.kmeansAssign(
        T.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2),
      Some(s"""
        WITH ${kmeansCtes(8, 2, 64)}
        SELECT id AS vec_id, CAST(cell AS INTEGER) AS cell FROM afin""")),

    // ===== Clustering: the trained centroids themselves, unnested to
    // (cell, dim, component) so the oracle checks every trained bit =====
    QueryDef("q104_kmeans_centroids",
      (s, dir) => graft.operators.Clustering.kmeans(
          T.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2)
        .select(col("cell"), posexplode(col("cvec")).as(Seq("j", "x"))),
      Some(s"""
        WITH ${kmeansCtes(8, 2, 64)}
        SELECT CAST(cell AS INTEGER) AS cell, CAST(j - 1 AS INTEGER) AS j,
               cvec[j] AS x
        FROM c2, range(1, 65) r(j)""")),

    // ===== Clustering: cluster-balanced (diversity) sample — up to m
    // per trained cluster in salted-hash order, so a dominant mode
    // contributes no more than a rare one =====
    QueryDef("q105_cluster_sample",
      (s, dir) => graft.operators.Clustering.clusterSample(
        T.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2,
        perCluster = 5, salt = "v1"),
      Some(s"""
        WITH ${kmeansCtes(8, 2, 64)},
        h AS (SELECT id, cell,
                ${duckHashBucket("id", 1000000007L, "v1")} AS hv
              FROM afin)
        SELECT id AS vec_id, CAST(cell AS INTEGER) AS cell FROM (
          SELECT id, cell,
                 row_number() OVER (PARTITION BY cell ORDER BY hv, id) AS rn
          FROM h)
        WHERE rn <= 5""")),

    // ===== Clustering: SemDedup in its published form — trained k-means
    // blocks, exact within-block cosine, one representative kept per
    // near-dup component (q96 is the LSH-blocked sibling) =====
    QueryDef("q108_kmeans_dedup",
      (s, dir) => graft.operators.Clustering.semanticDedupByCluster(
          T.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2,
          threshold = 0.35, maxBlock = 1000)
        .select("vec_id"),
      Some {
        val d = duckDot("va", "vb")
        val na = s"sqrt(${duckDot("va", "va")})"
        val nb = s"sqrt(${duckDot("vb", "vb")})"
        s"""
        WITH RECURSIVE ${kmeansCtes(8, 2, 64)},
        e AS (SELECT a.id AS vec_id, a.cell, v.embedding
              FROM afin a JOIN embeddings v ON a.id = v.vec_id
              QUALIFY row_number() OVER (PARTITION BY a.cell
                                         ORDER BY a.id) <= 1000),
        pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM (SELECT cell, vec_id, embedding AS va FROM e) a
               JOIN (SELECT cell, vec_id, embedding AS vb FROM e) b
                 USING (cell)
               WHERE a.vec_id < b.vec_id
                 AND (CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                           ELSE $d / ($na * $nb) END) >= 0.35),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                  UNION SELECT id_b, id_a FROM pr),
        ccr AS (SELECT src AS id, src AS comp FROM edges
                UNION SELECT e2.dst, ccr.comp FROM ccr
                JOIN edges e2 ON ccr.id = e2.src),
        lab AS (SELECT id, min(comp) AS comp FROM ccr GROUP BY id)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM lab WHERE comp < id)"""
      }),

    // ===== Clustering: IVF ANN over TRAINED centroids — the end-to-end
    // "train → partition → serve" path (q23 serves over externally
    // supplied centroids; this one trains them) =====
    QueryDef("q109_ivf_trained",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = graft.operators.Clustering.kmeans(
          e, "vec_id", "embedding", k = 8, iters = 2)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
            "vec_id", "embedding", 5, cents, nProbes = 2)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("qv", "cv")
        val na = s"sqrt(${duckDot("qv", "qv")})"
        val nb = s"sqrt(${duckDot("cv", "cv")})"
        s"""
        WITH ${kmeansCtes(8, 2, 64)},
        probed AS (SELECT query_id, qv, cell FROM (
            SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${duckL2("e.embedding", "c.cvec")}, c.cell)
                     AS rn
            FROM embeddings e CROSS JOIN c2 c WHERE e.vec_id < 8)
          WHERE rn <= 2),
        scored AS (SELECT query_id, a.id AS nbr_id,
            CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                 ELSE $d / ($na * $nb) END AS sim
          FROM (SELECT id, cell, v AS cv FROM afin) a
          JOIN probed USING (cell)
          WHERE a.id != probed.query_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
        WHERE "rank" <= 5"""
      }),

    // ===== Clustering: within-cluster sum-of-squares (the elbow /
    // k-selection signal), quantized-exact so every bit reproduces =====
    QueryDef("q110_kmeans_inertia",
      (s, dir) => graft.operators.Clustering.clusterInertia(
        T.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2),
      Some(s"""
        WITH ${kmeansCtes(8, 2, 64)},
        d AS (SELECT a.cell,
                CAST(floor(${duckL2("a.v", "c.cvec")} * 1048576.0)
                  AS BIGINT) AS dq
              FROM afin a JOIN c2 c ON a.cell = c.cell)
        SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n,
               CAST(sum(dq) AS DOUBLE) / 1048576.0 AS wss
        FROM d GROUP BY cell""")),

    // ===== Clustering: train on a deterministic SAMPLE, assign the
    // full corpus — THE 100 TB discipline (training cost ∝ sample,
    // assignment one narrow map over everything) =====
    QueryDef("q113_kmeans_sampled",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = graft.operators.Clustering.kmeans(
          e.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", k = 8, iters = 2)
        Similarity.assignCells(e, "vec_id", "embedding", cents)
          .select(col("nbr_id").as("vec_id"), col("cell"))
      },
      Some(s"""
        WITH ${kmeansCtes(8, 2, 64, trainWhere = "id % 2 = 0")}
        SELECT id AS vec_id, CAST(cell AS INTEGER) AS cell FROM afin""")),

    // ===== Quantization: per-vector symmetric int8 codes — the 4×
    // at-rest/scan-size cut for the 100 TB embedding tier; every code
    // byte and scale oracle-checked =====
    QueryDef("q130_quantize_int8",
      (s, dir) => graft.operators.Quantization.quantizeInt8(
          T.embeddings(s, dir), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("scale"),
          posexplode(col("qvec")).as(Seq("j", "q"))),
      Some(s"""
        WITH qz AS (SELECT vec_id, amax / 127.0 AS scale, embedding
                    FROM (SELECT vec_id, embedding, $duckAmax AS amax
                          FROM embeddings))
        SELECT vec_id, scale, CAST(j - 1 AS INTEGER) AS j,
               CASE WHEN scale = 0.0 THEN CAST(0 AS TINYINT)
                    ELSE CAST(least(greatest(
                           floor(embedding[j]::DOUBLE / scale + 0.5),
                           -127.0), 127.0) AS TINYINT) END AS q
        FROM qz, range(1, 65) r(j)""")),

    // ===== Quantization: int8 candidate scan + exact rescore top-k —
    // the serving shape where the hot pass reads ¼ the bytes and the
    // reported similarity is still the exact cosine =====
    QueryDef("q131_int8_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        graft.operators.Quantization.int8TopK(
            e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, rescoreFactor = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("c.embedding", "q.embedding")
        val na = s"sqrt(${duckDot("c.embedding", "c.embedding")})"
        val nb = s"sqrt(${duckDot("q.embedding", "q.embedding")})"
        s"""
        WITH qz AS (SELECT vec_id,
               CASE WHEN amax = 0.0
                    THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                    ELSE list_transform(embedding, x -> CAST(least(greatest(
                           floor(x::DOUBLE / (amax / 127.0) + 0.5),
                           -127.0), 127.0) AS TINYINT)) END AS qvec
             FROM (SELECT vec_id, embedding, $duckAmax AS amax
                   FROM embeddings)),
        ap AS (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                 ${duckIntDot("c.qvec", "q.qvec")} AS dp,
                 ${duckIntDot("c.qvec", "c.qvec")} AS n2c,
                 ${duckIntDot("q.qvec", "q.qvec")} AS n2q
               FROM qz c CROSS JOIN qz q
               WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
        surv AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id, row_number() OVER (
                PARTITION BY query_id ORDER BY
                  CASE WHEN sqrt(CAST(n2c AS DOUBLE)) = 0.0
                         OR sqrt(CAST(n2q AS DOUBLE)) = 0.0 THEN 0.0
                       ELSE CAST(dp AS DOUBLE) / (sqrt(CAST(n2c AS DOUBLE))
                         * sqrt(CAST(n2q AS DOUBLE))) END DESC,
                  nbr_id) AS rn
            FROM ap) WHERE rn <= 15),
        ex AS (SELECT s.query_id, s.nbr_id,
                 CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                      ELSE $d / ($na * $nb) END AS sim
               FROM surv s
               JOIN embeddings c ON s.nbr_id = c.vec_id
               JOIN embeddings q ON s.query_id = q.vec_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nbr_id) AS "rank" FROM ex)
        WHERE "rank" <= 5"""
      }),

    // ===== Product quantization: 4-byte codes from per-subspace
    // deterministic k-means codebooks (64× smaller than float32) —
    // every code byte oracle-checked against the unrolled per-slice
    // trainer =====
    QueryDef("q132_pq_encode",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val books = graft.operators.Quantization.pqTrain(
          e, "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1)
        graft.operators.Quantization.pqEncode(e, "vec_id", "embedding", books)
          .select(col("id").as("vec_id"),
            posexplode(col("code")).as(Seq("sub", "code")))
      },
      Some(s"""
        WITH ${pqBookCtes(1)}
        ${(0 until 4).map(s =>
          s"SELECT id AS vec_id, $s AS sub, CAST(cell AS TINYINT) AS code " +
            s"FROM s${s}_afin").mkString("\n        UNION ALL ")}""")),

    // ===== Product quantization: ADC top-k — O(m) table lookups per
    // candidate instead of O(dim) multiplies, exact rescore on the
    // survivors =====
    QueryDef("q133_pq_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val books = graft.operators.Quantization.pqTrain(
          e, "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1)
        graft.operators.Quantization.pqTopK(
            e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, books, rescoreFactor = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("c.embedding", "q.embedding")
        val na = s"sqrt(${duckDot("c.embedding", "c.embedding")})"
        val nb = s"sqrt(${duckDot("q.embedding", "q.embedding")})"
        val dts = (0 until 4).map(s =>
          duckDot(s"(q.embedding[${s * 16 + 1}:${s * 16 + 16}])", s"r.v$s"))
        val n2s = (0 until 4).map(s => duckDot(s"r.v$s", s"r.v$s"))
        s"""
        WITH ${pqBookCtes(1)},
        r AS (SELECT e0.id,
                cb0.cvec AS v0, cb1.cvec AS v1, cb2.cvec AS v2, cb3.cvec AS v3
              FROM s0_afin e0
              JOIN s1_afin e1 ON e0.id = e1.id
              JOIN s2_afin e2 ON e0.id = e2.id
              JOIN s3_afin e3 ON e0.id = e3.id
              JOIN s0_c1 cb0 ON e0.cell = cb0.cell
              JOIN s1_c1 cb1 ON e1.cell = cb1.cell
              JOIN s2_c1 cb2 ON e2.cell = cb2.cell
              JOIN s3_c1 cb3 ON e3.cell = cb3.cell),
        ap AS (SELECT q.vec_id AS query_id, r.id AS nbr_id,
                 (((${dts(0)}
                   + ${dts(1)})
                   + ${dts(2)})
                   + ${dts(3)}) AS dp,
                 (((${n2s(0)}
                   + ${n2s(1)})
                   + ${n2s(2)})
                   + ${n2s(3)}) AS cn2,
                 sqrt(${duckDot("q.embedding", "q.embedding")}) AS qn
               FROM r CROSS JOIN embeddings q
               WHERE q.vec_id < 8 AND r.id != q.vec_id),
        surv AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id, row_number() OVER (
                PARTITION BY query_id ORDER BY
                  CASE WHEN sqrt(cn2) = 0.0 OR qn = 0.0 THEN 0.0
                       ELSE dp / (sqrt(cn2) * qn) END DESC,
                  nbr_id) AS rn
            FROM ap) WHERE rn <= 15),
        ex AS (SELECT s.query_id, s.nbr_id,
                 CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                      ELSE $d / ($na * $nb) END AS sim
               FROM surv s
               JOIN embeddings c ON s.nbr_id = c.vec_id
               JOIN embeddings q ON s.query_id = q.vec_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nbr_id) AS "rank" FROM ex)
        WHERE "rank" <= 5"""
      }),
  ) :+ ivfPqDef :+ ivfAdcDef :+ ivfAdcStoreDef :+ signBitsDef :+
    binaryTopKDef :+ ivfPqPartitionedDef :+ ivfAdcPartitionedDef

  /** q146/q147: the PARTITIONED-query serving forms (offline eval
    * sweeps — no query-side broadcast, salted cell join) must equal the
    * broadcast forms bit-for-bit, so they share q137/q138's oracles
    * verbatim. cellSalt deliberately exceeds some cells' code counts
    * (empty salt slots must not drop candidates). */
  private[queries] def ivfPqPartitionedDef: QueryDef =
    QueryDef("q146_ivfpq_sweep",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = graft.operators.Clustering.kmeans(
          e, "vec_id", "embedding", k = 8, iters = 1)
        val books = graft.operators.Quantization.pqTrain(
          e, "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1)
        val codes = graft.operators.Quantization.pqEncodeAssigned(
          e, "vec_id", "embedding", cents, books)
        graft.operators.Quantization.ivfPqTopKEncodedPartitioned(
            codes, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, cents, books, nProbes = 2, rescoreFactor = 3,
            cellSalt = 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      ivfPqDef.oracle)

  private[queries] def ivfAdcPartitionedDef: QueryDef =
    QueryDef("q147_ivfadc_sweep",
      (s, dir) => {
        val (e, cents, books) = ivfAdcSetup(s, dir)
        val codes = graft.operators.Quantization.pqEncodeResidual(
          e, "vec_id", "embedding", cents, books)
        graft.operators.Quantization.ivfAdcTopKEncodedPartitioned(
            codes, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, cents, books, nProbes = 2, rescoreFactor = 3,
            cellSalt = 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      ivfAdcDef.oracle)

  /** The defs entry for q137 lives here (appended to [[defs]] below)
    * so the oracle helpers above stay adjacent. */
  private[queries] def ivfPqDef: QueryDef =
    // ===== IVF-PQ: the warehouse-scale vector-serving layout — coarse
    // inverted cells bound the candidates (equi-join, no cross
    // product), m-byte PQ codes score them by ADC, exact rescore =====
    QueryDef("q137_ivfpq_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cents = graft.operators.Clustering.kmeans(
          e, "vec_id", "embedding", k = 8, iters = 1)
        val books = graft.operators.Quantization.pqTrain(
          e, "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1)
        val codes = graft.operators.Quantization.pqEncodeAssigned(
          e, "vec_id", "embedding", cents, books)
        graft.operators.Quantization.ivfPqTopKEncoded(
            codes, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, cents, books, nProbes = 2, rescoreFactor = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("c.embedding", "q.embedding")
        val na = s"sqrt(${duckDot("c.embedding", "c.embedding")})"
        val nb = s"sqrt(${duckDot("q.embedding", "q.embedding")})"
        val dts = (0 until 4).map(s =>
          duckDot(s"(q.embedding[${s * 16 + 1}:${s * 16 + 16}])", s"r.v$s"))
        val n2s = (0 until 4).map(s => duckDot(s"r.v$s", s"r.v$s"))
        s"""
        WITH ${kmeansCtes(8, 1, 64, pfx = "cc_")},
        ${pqBookCtes(1)},
        probed AS (SELECT query_id, qv, cell FROM (
            SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${duckL2("e.embedding", "c.cvec")}, c.cell)
                     AS rn
            FROM embeddings e CROSS JOIN cc_c1 c WHERE e.vec_id < 8)
          WHERE rn <= 2),
        r AS (SELECT e0.id, cc.cell,
                cb0.cvec AS v0, cb1.cvec AS v1, cb2.cvec AS v2, cb3.cvec AS v3
              FROM s0_afin e0
              JOIN cc_afin cc ON e0.id = cc.id
              JOIN s1_afin e1 ON e0.id = e1.id
              JOIN s2_afin e2 ON e0.id = e2.id
              JOIN s3_afin e3 ON e0.id = e3.id
              JOIN s0_c1 cb0 ON e0.cell = cb0.cell
              JOIN s1_c1 cb1 ON e1.cell = cb1.cell
              JOIN s2_c1 cb2 ON e2.cell = cb2.cell
              JOIN s3_c1 cb3 ON e3.cell = cb3.cell),
        ap AS (SELECT p.query_id, r.id AS nbr_id,
                 (((${dts(0).replace("q.embedding", "p.qv")}
                   + ${dts(1).replace("q.embedding", "p.qv")})
                   + ${dts(2).replace("q.embedding", "p.qv")})
                   + ${dts(3).replace("q.embedding", "p.qv")}) AS dp,
                 (((${n2s(0)}
                   + ${n2s(1)})
                   + ${n2s(2)})
                   + ${n2s(3)}) AS cn2,
                 sqrt(${duckDot("p.qv", "p.qv")}) AS qn
               FROM r JOIN probed p ON r.cell = p.cell
               WHERE r.id != p.query_id),
        surv AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id, row_number() OVER (
                PARTITION BY query_id ORDER BY
                  CASE WHEN sqrt(cn2) = 0.0 OR qn = 0.0 THEN 0.0
                       ELSE dp / (sqrt(cn2) * qn) END DESC,
                  nbr_id) AS rn
            FROM ap) WHERE rn <= 15),
        ex AS (SELECT s.query_id, s.nbr_id,
                 CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                      ELSE $d / ($na * $nb) END AS sim
               FROM surv s
               JOIN embeddings c ON s.nbr_id = c.vec_id
               JOIN embeddings q ON s.query_id = q.vec_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nbr_id) AS "rank" FROM ex)
        WHERE "rank" <= 5"""
      })

  /** The q132/q133 PQ codebook CTE chains: one prefixed deterministic
    * k-means instance per 16-component subspace slice (m=4, ksub=8). */
  private def pqBookCtes(iters: Int): String =
    (0 until 4).map { s =>
      kmeansCtes(8, iters, 16, pfx = s"s${s}_",
        vecExpr = s"embedding[${s * 16 + 1}:${s * 16 + 16}]")
    }.mkString(",\n        ")

  /** The defs entry for q138 (appended to [[defs]] below). */
  /** DuckDB mirror of [[graft.operators.Quantization.signBits]]: the
    * 64 sign bits summed as HUGEINT powers of two, then folded onto
    * signed BIGINT (the dHash-oracle trick — bit 63 wraps negative). */
  private def duckSignBits = s"""
        CAST(CASE WHEN hu >= 9223372036854775808
                  THEN hu - 18446744073709551616 ELSE hu END AS BIGINT)"""
  private def duckSignHu =
    "list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      "list_transform(range(1, 65), j -> " +
      "CASE WHEN embedding[j]::DOUBLE >= 0.0 " +
      "THEN CAST(power(2, CAST(j - 1 AS INTEGER)) AS HUGEINT) " +
      "ELSE CAST(0 AS HUGEINT) END)), (a, b) -> a + b)"

  /** The defs entries for q140/q141 (appended to [[defs]] below). */
  private[queries] def signBitsDef: QueryDef =
    // ===== 1-bit quantization: packed sign signature — 256× smaller
    // than float32; every bit oracle-checked =====
    QueryDef("q140_sign_bits",
      (s, dir) => graft.operators.Quantization.signBits(
          T.embeddings(s, dir), "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id"),
      Some(s"""
        WITH s AS (SELECT vec_id, $duckSignHu AS hu FROM embeddings)
        SELECT vec_id, $duckSignBits AS sig FROM s"""))

  private[queries] def binaryTopKDef: QueryDef =
    // ===== 1-bit candidate scan + exact rescore top-k: hamming is the
    // sign-LSH angle estimate, one xor+popcount per pair =====
    QueryDef("q141_binary_topk",
      (s, dir) => {
        val e = T.embeddings(s, dir)
        graft.operators.Quantization.binaryTopK(
            e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, rescoreFactor = 8)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val d = duckDot("c.embedding", "q.embedding")
        val na = s"sqrt(${duckDot("c.embedding", "c.embedding")})"
        val nb = s"sqrt(${duckDot("q.embedding", "q.embedding")})"
        s"""
        WITH sgn AS (SELECT vec_id, $duckSignBits AS sig FROM
                       (SELECT vec_id, $duckSignHu AS hu FROM embeddings)),
        ap AS (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                 bit_count(xor(c.sig, q.sig)) AS h
               FROM sgn c CROSS JOIN sgn q
               WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
        surv AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id, row_number() OVER (
                PARTITION BY query_id ORDER BY h ASC, nbr_id) AS rn
            FROM ap) WHERE rn <= 40),
        ex AS (SELECT s.query_id, s.nbr_id,
                 CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                      ELSE $d / ($na * $nb) END AS sim
               FROM surv s
               JOIN embeddings c ON s.nbr_id = c.vec_id
               JOIN embeddings q ON s.query_id = q.vec_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nbr_id) AS "rank" FROM ex)
        WHERE "rank" <= 5"""
      })

  /** Shared trainer for q138/q139: coarse k=8 centroids + m=4/ksub=8
    * residual codebooks at iters=1 — ONE definition so the two Spark
    * queries and the shared oracle stay in lockstep. */
  private def ivfAdcSetup(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Seq[Seq[(Int, Array[Double])]]) = {
    val e = T.embeddings(s, dir)
    val cents = graft.operators.Clustering.kmeans(
      e, "vec_id", "embedding", k = 8, iters = 1)
    val books = graft.operators.Quantization.pqTrain(
      graft.operators.Quantization.residuals(
        e, "vec_id", "embedding", cents),
      "id", "rvec", dim = 64, m = 4, ksub = 8, iters = 1)
    (e, cents, books)
  }

  private[queries] def ivfAdcDef: QueryDef =
    // ===== IVFADC: residual-encoded IVF-PQ — codes quantize
    // vec − coarse_centroid, so the code error is the within-cell
    // spread and ADC ranks finely; candidates ASCEND by approximate
    // squared-L2, exact cosine rescores =====
    QueryDef("q138_ivfadc_topk",
      (s, dir) => {
        val (e, cents, books) = ivfAdcSetup(s, dir)
        val codes = graft.operators.Quantization.pqEncodeResidual(
          e, "vec_id", "embedding", cents, books)
        graft.operators.Quantization.ivfAdcTopKEncoded(
            codes, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, cents, books, nProbes = 2, rescoreFactor = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(ivfAdcOracle))

  /** q139: the SAME serve over an [[graft.operators.IvfAdcStore]]
    * built by two incremental appends — assignment and encoding are
    * per-vector, so the oracle is q138's verbatim. */
  private[queries] def ivfAdcStoreDef: QueryDef =
    QueryDef("q139_ivfadc_incremental",
      (s, dir) => {
        val (e, cents, books) = ivfAdcSetup(s, dir)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q139_").toString
        val store = new graft.operators.IvfAdcStore(
          new graft.sources.Warehouse(s, root), "inc", cents, books,
          nStoreBuckets = 8)
        store.ingest(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        store.ingest(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        store.serve(e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, nProbes = 2, rescoreFactor = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(ivfAdcOracle))

  private def ivfAdcOracle: String = {
        val d = duckDot("c.embedding", "q.embedding")
        val na = s"sqrt(${duckDot("c.embedding", "c.embedding")})"
        val nb = s"sqrt(${duckDot("q.embedding", "q.embedding")})"
        val dts = (0 until 4).map(s =>
          duckL2(s"(p.qres[${s * 16 + 1}:${s * 16 + 16}])", s"r.v$s"))
        val residBooks = (0 until 4).map { s =>
          kmeansCtes(8, 1, 16, pfx = s"r${s}_",
            vecExpr = s"rv[${s * 16 + 1}:${s * 16 + 16}]", from = "resid")
        }.mkString(",\n        ")
        s"""
        WITH ${kmeansCtes(8, 1, 64, pfx = "cc_")},
        resid AS (SELECT a.id AS vec_id,
                    list_transform(range(1, 65), j -> a.v[j] - c.cvec[j])
                      AS rv,
                    a.cell
                  FROM cc_afin a JOIN cc_c1 c ON a.cell = c.cell),
        $residBooks,
        probed AS (SELECT query_id, cell, qres FROM (
            SELECT e.vec_id AS query_id, c.cell,
                   list_transform(range(1, 65),
                     j -> e.embedding[j]::DOUBLE - c.cvec[j]) AS qres,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${duckL2("e.embedding", "c.cvec")}, c.cell)
                     AS rn
            FROM embeddings e CROSS JOIN cc_c1 c WHERE e.vec_id < 8)
          WHERE rn <= 2),
        r AS (SELECT e0.id, rc.cell,
                cb0.cvec AS v0, cb1.cvec AS v1, cb2.cvec AS v2, cb3.cvec AS v3
              FROM r0_afin e0
              JOIN resid rc ON e0.id = rc.vec_id
              JOIN r1_afin e1 ON e0.id = e1.id
              JOIN r2_afin e2 ON e0.id = e2.id
              JOIN r3_afin e3 ON e0.id = e3.id
              JOIN r0_c1 cb0 ON e0.cell = cb0.cell
              JOIN r1_c1 cb1 ON e1.cell = cb1.cell
              JOIN r2_c1 cb2 ON e2.cell = cb2.cell
              JOIN r3_c1 cb3 ON e3.cell = cb3.cell),
        ap AS (SELECT p.query_id, r.id AS nbr_id,
                 (((${dts(0)}
                   + ${dts(1)})
                   + ${dts(2)})
                   + ${dts(3)}) AS dist
               FROM r JOIN probed p ON r.cell = p.cell
               WHERE r.id != p.query_id),
        surv AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id, row_number() OVER (
                PARTITION BY query_id ORDER BY dist ASC, nbr_id) AS rn
            FROM ap) WHERE rn <= 15),
        ex AS (SELECT s.query_id, s.nbr_id,
                 CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0
                      ELSE $d / ($na * $nb) END AS sim
               FROM surv s
               JOIN embeddings c ON s.nbr_id = c.vec_id
               JOIN embeddings q ON s.query_id = q.vec_id)
        SELECT query_id, nbr_id, sim, "rank" FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nbr_id) AS "rank" FROM ex)
        WHERE "rank" <= 5"""
  }

  /** DuckDB mirror of [[graft.operators.Quantization.quantizeInt8]]'s
    * absmax fold (left fold, 0.0 init — the exact Spark `aggregate`). */
  private def duckAmax =
    "list_reduce(list_prepend(0.0, list_transform(embedding, " +
      "x -> abs(x::DOUBLE))), (a, b) -> greatest(a, b))"

  /** DuckDB mirror of [[graft.operators.Quantization.intDot]]: widen to
    * INTEGER before the product, accumulate BIGINT. */
  private def duckIntDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS INTEGER) * CAST($b[i] AS INTEGER))), " +
      s"(acc, x) -> acc + CAST(x AS BIGINT))"

  /** DuckDB mirror of [[graft.operators.Clustering]]'s deterministic
    * Lloyd's loop, unrolled: assignment = cross join + (l2, cell)
    * row_number (the same left-to-right IEEE fold and smallest-cell tie
    * rule as the NearestCell kernel); update = the same floor(x·2^20)
    * exact-integer mean; empty cells inherit the previous centroid.
    * `afin` is the final assignment of the FULL corpus over the trained
    * `c$iters`; `trainWhere` restricts the TRAINING set only (the
    * 100 TB path trains on a sample and assigns everything — q113). */
  private def kmeansCtes(k: Int, iters: Int, dim: Int,
                         trainWhere: String = "TRUE",
                         pfx: String = "",
                         vecExpr: String = "embedding",
                         from: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb ++= s"""${pfx}vecs AS (SELECT vec_id AS id, ($vecExpr)::DOUBLE[] AS v
               FROM $from),
        ${pfx}tvecs AS (SELECT id, v FROM ${pfx}vecs WHERE $trainWhere),
        ${pfx}c0 AS (SELECT (row_number() OVER (ORDER BY id)) - 1 AS cell,
                      v AS cvec
               FROM (SELECT id, v FROM ${pfx}tvecs ORDER BY id LIMIT $k))"""
    for (i <- 1 to iters) {
      val p = s"${pfx}c${i - 1}"
      sb ++= s""",
        ${pfx}a$i AS (SELECT id, v, cell FROM (
            SELECT x.id, x.v, c.cell,
                   row_number() OVER (PARTITION BY x.id
                     ORDER BY ${duckL2("x.v", "c.cvec")}, c.cell) AS rn
            FROM ${pfx}tvecs x CROSS JOIN $p c) WHERE rn = 1),
        ${pfx}u$i AS (SELECT cell, j,
                CAST(sum(CAST(floor(v[j] * 1048576.0) AS BIGINT)) AS DOUBLE)
                  / 1048576.0 / CAST(count(*) AS DOUBLE) AS x
              FROM ${pfx}a$i, range(1, ${dim + 1}) r(j) GROUP BY cell, j),
        ${pfx}c$i AS (SELECT p.cell, coalesce(n.cvec, p.cvec) AS cvec
                FROM $p p LEFT JOIN (SELECT cell, list(x ORDER BY j) AS cvec
                                     FROM ${pfx}u$i GROUP BY cell) n
                  ON p.cell = n.cell)"""
    }
    sb ++= s""",
        ${pfx}afin AS (SELECT id, v, cell FROM (
            SELECT x.id, x.v, c.cell,
                   row_number() OVER (PARTITION BY x.id
                     ORDER BY ${duckL2("x.v", "c.cvec")}, c.cell) AS rn
            FROM ${pfx}vecs x CROSS JOIN ${pfx}c$iters c) WHERE rn = 1)"""
    sb.toString
  }
}
