package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), training-data-pipeline tier.
  *
  * Three tiers, increasing scale:
  *  1. [[bruteForceTopK]] — exact; broadcast the (small) query set against
  *     the corpus; O(|corpus|·|queries|) but embarrassingly parallel and
  *     shuffle-free except the final per-query top-k.
  *  2. [[lshTopK]] — random-hyperplane bucketing; candidates share a
  *     bucket in at least one of `tables` signatures; equi-join instead
  *     of cross product.
  *  3. [[ivfTopK]] — IVF-style: partition corpus by nearest centroid
  *     (computed once, broadcast), probe only `nProbes` closest cells.
  */
object Similarity {

  /** Exact top-k cosine neighbors of each query vector.
    * `queries` must be broadcast-sized (it is hint-broadcast); the corpus
    * never shuffles until the final window over (query, sim) — and that
    * shuffle carries only (ids, sim), not the vectors. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     queryIdCol: String = "query_id",
                     maxQueries: Int = 10000): DataFrame = {
    // exact tier is O(|corpus|·|queries|): refuse query sets that should
    // be going through lshTopK/ivfTopK instead — a silent 10⁶-query
    // broadcast product is a cluster-killer, not a slow query
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"bruteForceTopK query side exceeds $maxQueries vectors; " +
        "use lshTopK or ivfTopK for large query sets")
    // norms computed once per vector BEFORE the pair join (not per pair)
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val scored = c.join(broadcast(q), col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        cosineFromParts(dot(col("__cv"), col("__qv")),
          col("__cn"), col("__qn")).as("sim"))
    val w = Window.partitionBy(queryIdCol).orderBy(desc("sim"), asc("nbr_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col(queryIdCol), col("nbr_id"), col("sim"), col("rn").as("rank"))
  }

  /** LSH-bucketed ANN: both sides signed with the same hyperplane tables;
    * candidates = equal signature in any table; exact cosine re-rank.
    * Recall is tuned by (tables, bitsPerTable).
    *
    * Candidate generation carries ONLY (id, tbl, sig) through the
    * ×tables signature explode, the bucket equi-join, and the pair
    * dedup — never the embedding vectors. At a 100 TB embedding corpus
    * the banding shuffle is then tables × ~20 bytes per vector instead
    * of tables × vector bytes. Vectors are re-joined by id only after
    * dedup, for exact scoring over the (small) candidate set — the same
    * shape as [[Dedup.minhashPortablePairs]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              tables: Int = 8, bitsPerTable: Int = 12,
              seed: Long = 42L,
              planes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val planeTables = planes.getOrElse(
      (0 until tables).map(t => randomPlanes(bitsPerTable, dim, seed + t)))
    require(planeTables.size == tables, s"need $tables plane tables")
    def signed(df: DataFrame, id: String): DataFrame =
      hyperplaneBanded(df, idCol, vecCol, planeTables)
        .withColumnRenamed("id", id)
    val c = signed(corpus, "nbr_id")
    val q = signed(queries, "query_id")
    val cands = c.join(q, Seq("tbl", "sig"))
      .filter(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"))
      .dropDuplicates("query_id", "nbr_id")
    // payload re-join: norms once per id row (not per candidate pair).
    // `cands` descends from an explode, so its size estimate is garbage —
    // the merge hint keeps the planner from broadcast-building it; the
    // base-relation sides (qv/cv) have real stats and may still be
    // broadcast by Catalyst when genuinely small.
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("__qn"))
    val cv = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("__cn"))
    val scored = cands.hint("merge").join(cv, Seq("nbr_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineFromParts(dot(col("cv"), col("qv")),
          col("__cn"), col("__qn")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("nbr_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("nbr_id"), col("sim"), col("rn").as("rank"))
  }

  /** (id, tbl, sig) hyperplane-LSH banding of a vector frame — the
    * ids-only index slice shared by [[lshTopK]], [[lshNearDupPairs]] and
    * the incremental [[EmbeddingLshStore]]: ~20 bytes per (vector,
    * table), never the vectors themselves. */
  private[operators] def hyperplaneBanded(df: DataFrame, idCol: String,
      vecCol: String, planeTables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sigs = array(planeTables.zipWithIndex.map { case (p, t) =>
      struct(lit(t).as("tbl"), hyperplaneSignature(col(vecCol), p).as("sig"))
    }: _*)
    df.select(col(idCol).as("id"), explode(sigs).as("s"))
      .select(col("id"), col("s.tbl"), col("s.sig"))
  }

  /** Semantic near-dup PAIRS over an embedding column — the
    * [[Dedup.minhashPortablePairs]] analogue for vectors: candidates
    * share a hyperplane-LSH bucket in at least one table, then exact
    * cosine verifies at `threshold`. Output (id_a, id_b, sim),
    * id_a < id_b, each pair once. Compose with
    * [[Dedup.connectedComponents]] for semantic dedup clusters.
    *
    * Scale shape: banding carries (id, tbl, sig) only; the in-bucket
    * pair kernel + `maxBucket` cap bound degenerate buckets (the
    * all-zeros vector bucket, a template-embedding pile-up) exactly as
    * the minhash/simhash generators do; vectors re-enter by id for the
    * candidate-only verification join. */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, dim: Int,
                      tables: Int = 8, bitsPerTable: Int = 12,
                      seed: Long = 42L,
                      planes: Option[Seq[Seq[Seq[Double]]]] = None,
                      maxBucket: Int = 10000): DataFrame = {
    val planeTables = planes.getOrElse(
      (0 until tables).map(t => randomPlanes(bitsPerTable, dim, seed + t)))
    require(planeTables.size == tables, s"need $tables plane tables")
    val banded = hyperplaneBanded(corpus, idCol, vecCol, planeTables)
    val cands = Dedup.bucketCandidates(banded, Seq("tbl", "sig"), maxBucket)
    // norms once per id row; merge hint — cands descends from an explode,
    // so its stats are garbage (same rationale as lshTopK)
    val v = corpus.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"))
    cands.hint("merge")
      .join(v, col("id_a") === col("__vid"))
      .select(col("id_a"), col("id_b"), col("__v").as("__va"), col("__n").as("__na"))
      .join(v, col("id_b") === col("__vid"))
      .select(col("id_a"), col("id_b"),
        cosineFromParts(dot(col("__va"), col("__v")),
          col("__na"), col("__n")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540): drop all but one
    * member of every SEMANTIC near-duplicate cluster — pairs above the
    * cosine threshold ([[lshNearDupPairs]]) chained into connected
    * components, keeping the min-id member of each (the same
    * representative rule the curation pipeline's lexical near-dedup
    * uses, so the two tiers compose without a second convention).
    * Returns the surviving `corpus` rows unchanged; rows in no pair are
    * kept by construction.
    *
    * Scale shape is the constituents': ids-only LSH banding with a
    * maxBucket cap, candidate-only exact-cosine verify, O(log diameter)
    * pointer-jumping rounds on ids — no stage touches vectors except
    * the capped verify join. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int,
                    tables: Int = 8, bitsPerTable: Int = 12,
                    seed: Long = 42L,
                    planes: Option[Seq[Seq[Seq[Double]]]] = None,
                    maxBucket: Int = 10000): DataFrame = {
    keepRepresentatives(corpus, idCol,
      lshNearDupPairs(corpus, idCol, vecCol, threshold, dim,
        tables, bitsPerTable, seed, planes, maxBucket))
  }

  /** One representative — the min-id member — per near-dup component of
    * `pairs`; everything unpaired survives. The shared tail of both
    * SemDedup variants ([[semanticDedup]],
    * [[Clustering.semanticDedupByCluster]]): the representative rule is
    * parity-critical against the recursive-CTE oracles (q96, q108) and
    * must not fork. */
  def keepRepresentatives(corpus: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    val labels = Dedup.connectedComponents(
      pairs.select("id_a", "id_b"), "id_a", "id_b")
    corpus.join(
      labels.filter(col("comp") < col("id")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** IVF-style ANN: assign every corpus vector to its nearest centroid,
    * then for each query probe the `nProbes` nearest cells only.
    *
    * `centroids` is a (cell: int, cvec: array<double>) DataFrame —
    * broadcast-joined against both sides, with the argmin computed by
    * map-side-combining `min_by` instead of a per-row O(cells·dim)
    * literal expression: the broadcast join streams corpus×cells rows
    * through codegen, and partial aggregation collapses them to one row
    * per vector BEFORE the shuffle, so the exchange carries exactly one
    * (id, cell) row per corpus vector no matter how many cells exist.
    *
    * Scale: the corpus can then be written bucketed-by-cell once;
    * queries touch nProbes/nCells of the data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, centroids: DataFrame,
              nProbes: Int): DataFrame =
    ivfTopKAssigned(assignCells(corpus, idCol, vecCol, centroids),
      queries, idCol, vecCol, k, centroids, nProbes)

  /** Nearest-centroid cell per corpus vector — the IVF build step, as a
    * standalone stage: at scale run this ONCE, write the result bucketed
    * by `cell` (`Warehouse.appendBucketed(..., Seq("cell"), n)`), and
    * serve queries against the bucketed table via [[ivfTopKAssigned]] —
    * re-assigning the corpus per query batch would re-scan 100 TB.
    *
    * The argmin is the native [[graft.functions.expressions.NearestCell]]
    * kernel over the collected centroid matrix (bounded: one row per
    * cell): a single narrow map, no corpus×cells row explosion, no
    * shuffle, vectors never leave their partitions. The earlier
    * broadcast-join + min_by/first(cv) form was NOT scale-safe despite
    * its map-side-combine reasoning: array-typed aggregation buffers
    * force ObjectHashAggregate, whose sort-based fallback sorts the
    * exploded product with full vector payloads (measured at 1M×256:
    * ~200 GB spill, disk-full abort — BENCH_NOTES "1M-doc / 1M-vector
    * scale probes").
    * Same distances (identical IEEE fold), same smallest-cell tie rule. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame = {
    // driver-side bounded control read: one row per cell, sorted so the
    // kernel's first-wins scan reproduces min_by's smallest-cell ties
    val rows = centroids.select(col("cell").cast("int"), col("cvec"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, "assignCells needs at least one centroid")
    assignCellsMatrix(corpus, idCol, vecCol,
      rows.map(r => (r.getInt(0),
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)))
  }

  /** [[assignCells]] from DRIVER-SIDE centroids (ascending cell order
    * enforced here) — the path [[Clustering]] uses per training round,
    * where the centroids never were a DataFrame and a parallelize +
    * re-collect round trip per iteration would be a wasted job. */
  def assignCellsMatrix(corpus: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[(Int, Array[Double])]): DataFrame =
    corpus.select(col(idCol).as("nbr_id"),
      nearestCellColumn(col(vecCol), cents).as("cell"),
      col(vecCol).as("cv"))

  /** The bare argmin kernel as a Column — nearest centroid id of a
    * vector expression ([[assignCellsMatrix]] without the frame shape;
    * [[Quantization]] applies it per PQ sub-slice). */
  private[operators] def nearestCellColumn(
      vec: Column, cents: Seq[(Int, Array[Double])]): Column = {
    require(cents.nonEmpty, "nearestCell needs at least one centroid")
    val sorted = cents.sortBy(_._1)
    val cellIds = sorted.map(_._1).toArray
    val dim = sorted.head._2.length
    val flat = new Array[Double](sorted.size * dim)
    var i = 0
    sorted.foreach { case (_, v) =>
      require(v.length == dim, s"centroid dim ${v.length} != $dim")
      System.arraycopy(v, 0, flat, i, dim); i += dim
    }
    import graft.functions.expressions.{ColumnBridge, NearestCell}
    ColumnBridge.column(NearestCell(
      ColumnBridge.expression(vec), flat, cellIds, dim))
  }

  /** ANN over a PRE-ASSIGNED corpus — the (nbr_id, cell, cv) shape
    * [[assignCells]] produces, typically read back from a cell-bucketed
    * warehouse table. Queries probe only their `nProbes` nearest cells. */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, centroids: DataFrame,
                      nProbes: Int): DataFrame = {
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    // nProbes nearest cells per query (query side is the small side)
    val qw = Window.partitionBy("query_id").orderBy(asc("__d"), asc("cell"))
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(cents)
      .withColumn("__d", l2Sq(col("qv"), col("cvec")))
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nProbes)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.withColumn("__cn", norm(col("cv")))
      .join(probed.withColumn("__qn", norm(col("qv"))), Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineFromParts(dot(col("cv"), col("qv")),
          col("__cn"), col("__qn")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("nbr_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("nbr_id"), col("sim"), col("rn").as("rank"))
  }

  /** All-pairs exact cosine within label blocks — near-dup detection when
    * a trustworthy blocking key (language, domain, source shard) exists.
    *
    * Cost is Σ n_label² pairs, so every block is CAPPED at `maxBlock`
    * members — first `maxBlock` by ascending id, deterministic, mirroring
    * `maxBucket` in the LSH/SimHash pair generators. Without the cap one
    * hot label (half the corpus speaking English) silently turns this
    * into a cross join at 100×. Labels that overflow the cap should go
    * through [[lshTopK]] within the label instead. */
  def labelBlockedNearDup(df: DataFrame, labelCol: String, idCol: String,
                          vecCol: String, threshold: Double,
                          maxBlock: Int = 1000): DataFrame = {
    val w = Window.partitionBy("label").orderBy(col("id"))
    val capped = df.select(col(labelCol).as("label"), col(idCol).as("id"),
        col(vecCol).as("v"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBlock)
      .drop("__rn")
    // norms once per vector, not once per pair — bit-equal results
    val a = capped.select(col("label"), col("id").as("id_a"),
      col("v").as("va"), norm(col("v")).as("na"))
    val b = capped.select(col("label"), col("id").as("id_b"),
      col("v").as("vb"), norm(col("v")).as("nb"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        cosineFromParts(dot(col("va"), col("vb")),
          col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact mean of a REFERENCE embedding set, folded in ascending-id
    * order on the driver — the deterministic centroid for
    * [[referenceSimilarity]]. Reference/seed corpora are eval-set-sized
    * (bounded control read); the FIXED fold order is what makes the
    * centroid reproducible across engines and partitionings — a
    * distributed float sum would drift in the last ulp with shuffle
    * order. */
  def referenceCentroid(ref: DataFrame, idCol: String, vecCol: String,
                        maxRef: Int = 100000): Seq[Double] = {
    // enforce the "bounded control read" the contract asserts — same
    // discipline as bruteForceTopK's maxQueries: a caller pointing this
    // at a million-doc seed corpus should sample it first, not OOM the
    // driver
    val refCount = ref.limit(maxRef + 1).count()
    require(refCount <= maxRef,
      s"reference set exceeds $maxRef vectors; sample it first " +
        "(the centroid of a sample converges at tiny sizes)")
    val rows = ref.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .collect()
    require(rows.nonEmpty, "empty reference set")
    val dim = rows.head.getSeq[Any](1).size
    val sums = new Array[Double](dim)
    rows.foreach { r =>
      val v = r.getSeq[Any](1)
      var j = 0
      while (j < dim) {
        sums(j) += v(j).asInstanceOf[Number].doubleValue(); j += 1 }
    }
    sums.map(_ / rows.length.toDouble).toSeq
  }

  /** Classifier-free QUALITY signal: each document's cosine similarity
    * to the [[referenceCentroid]] of a trusted seed corpus — the
    * "looks like the reference distribution" filter (the CCNet /
    * quality-classifier idiom, without training a model). One narrow
    * scan: the centroid and its norm enter as literals, so the score
    * is a per-row column program with no join and no shuffle. */
  def referenceSimilarity(docs: DataFrame, idCol: String, vecCol: String,
                          centroid: Seq[Double]): DataFrame = {
    val c = array(centroid.map(lit): _*)
    // centroid norm folded driver-side in index order (mirrors dot)
    val cn = math.sqrt(centroid.foldLeft(0.0)((a, v) => a + v * v))
    docs.select(col(idCol).as("id"),
      cosineFromParts(dot(col(vecCol), c), norm(col(vecCol)),
        lit(cn)).as("ref_sim"))
  }

  /** K-means-lite centroid training: sample to driver, run a few Lloyd
    * iterations. Centroid count and sample are tiny relative to corpus;
    * this is the standard IVF build step (train on sample, assign at
    * scale). */
  def trainCentroids(corpus: DataFrame, vecCol: String, kCells: Int,
                     sampleN: Int = 10000, iters: Int = 5,
                     seed: Long = 42L): Seq[(Int, Seq[Double])] = {
    // a real (uniform-ish) sample, not limit() — limit takes whatever
    // partitions answer first, which biases centroids at scale
    val total = corpus.count().max(1L)
    val frac = math.min(1.0, sampleN.toDouble / total.toDouble)
    val sample = corpus.select(col(vecCol)).sample(frac, seed)
      .limit(sampleN).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    val rng = new scala.util.Random(seed)
    var cents = rng.shuffle(sample.toSeq).take(kCells).map(_.clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](sample.head.length))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        val c = cents.indices.minBy { i =>
          var d = 0.0; var j = 0
          while (j < v.length) { val t = v(j) - cents(i)(j); d += t * t; j += 1 }
          d
        }
        counts(c) += 1
        var j = 0
        while (j < v.length) { sums(c)(j) += v(j); j += 1 }
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
  }

  /** Trained centroids as the (cell, cvec) DataFrame [[ivfTopK]] takes. */
  def centroidsDF(spark: org.apache.spark.sql.SparkSession,
                  cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cell", "cvec")
  }
}
