package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{cosineFromParts, dot, norm}

/** Compressed-vector representations for embedding search at corpus
  * scales where full-precision vectors dominate storage and scan IO.
  *
  * A 100 TB corpus of 1024-dim float32 embeddings is ~4 KB/vector; the
  * candidate-generation pass of every ANN serve reads ALL of it. The
  * operators here trade a small, bounded ranking error in the CANDIDATE
  * pass for a 4× (int8) to 32× (PQ) cut in the bytes that pass actually
  * scans, then repair the error with an exact rescore over the
  * surviving few rows per query — the standard serving layout
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; int8 rescoring as in every production vector store).
  *
  * Everything is deterministic integer/binary64 arithmetic, so results
  * reproduce bit-for-bit in the DuckDB oracle.
  */
object Quantization {

  // ------------------------------------------------------------- int8

  /** Per-vector symmetric int8 quantization: `scale = absmax/127`,
    * `q_j = clamp(floor(x_j/scale + 0.5), -127, 127)` (all-zero vectors
    * get scale 0 and an all-zero code). Output (id, scale, qvec) with
    * `qvec: array<tinyint>` — 1 byte per component at rest, 4× smaller
    * than float32 before parquet encoding even starts.
    *
    * Row-local, shuffle-free, codegen'd column program. `floor(x+0.5)`
    * (round-half-up) rather than an engine `round` because engines
    * disagree on half-even vs half-away — this exact form mirrors in
    * SQL. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val amax = aggregate(col(vecCol), lit(0.0d),
      (a, x) => greatest(a, abs(x.cast("double"))))
    df.select(col(idCol).as("id"), col(vecCol).as("__v"),
        (amax / lit(127.0d)).as("scale"))
      .select(col("id"), col("scale"),
        when(col("scale") === 0.0d,
            transform(col("__v"), _ => lit(0).cast("byte")))
          .otherwise(transform(col("__v"), x =>
            least(greatest(
                floor(x.cast("double") / col("scale") + lit(0.5d)),
                lit(-127L)), lit(127L))
              .cast("byte")))
          .as("qvec"))
  }

  /** Exact integer dot product of two int8 codes (components widened to
    * int BEFORE multiplying — byte×byte would wrap). */
  private[operators] def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("int") * y.cast("int")),
      lit(0L), (acc, x) => acc + x.cast("long"))

  /** Cosine of two int8 codes: per-vector scales CANCEL in cosine, so
    * the score needs only the integer dot and the integer norms — exact
    * integers into one binary64 division, bit-portable. This is the
    * executable SPECIFICATION of the serving path's arithmetic:
    * [[int8TopK]] computes the same values through the native double
    * dot kernel (codes ≤ 127 are exact doubles; integer-valued sums
    * stay exact below 2^53), parity-tested in QuantizationSpec. */
  private[operators] def intCosine(a: Column, b: Column): Column = {
    val na = sqrt(intDot(a, a).cast("double"))
    val nb = sqrt(intDot(b, b).cast("double"))
    cosineFromParts(intDot(a, b).cast("double"), na, nb)
  }

  /** Top-k cosine served from PERSISTED int8 codes (a [[quantizeInt8]]
    * output read back from storage) with exact rescoring: the
    * candidate pass scans only the code table — ¼ the at-rest bytes of
    * the float32 corpus — and keeps `k × rescoreFactor` candidates per
    * query by quantized cosine; the full-precision vectors re-enter
    * for THOSE rows only and exact cosine picks the final k.
    *
    * Same contract as bruteForceTopK (query side broadcast, guarded by
    * `maxQueries`; only (ids, score) through the top-k shuffle). The
    * returned `sim` is the EXACT cosine — quantization error can only
    * cost recall (a true neighbor ranked below the rescore window),
    * never precision of the reported score; `rescoreFactor` is the
    * recall knob. */
  def int8TopKEncoded(codes: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, rescoreFactor: Int = 4,
                      queryIdCol: String = "query_id",
                      maxQueries: Int = 10000): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"int8TopK query side exceeds $maxQueries vectors; " +
        "use lshTopK or ivfTopK for large query sets")
    // codes widen to double AT THE SCAN (every value ≤ 127 is exact, and
    // integer-valued double sums stay exact below 2^53, so the scores
    // are bit-identical to pure integer arithmetic) — the pair loop
    // then runs the same native dot kernel as the float32 path with
    // norms hoisted to once per row, not once per pair. The per-pair
    // zip_with fold + per-pair norms measured 12× the brute wall; this
    // form matches it (BENCH_NOTES "Round 8: compressed-vector serving
    // probe").
    val qc = codes
      .select(col("id").as("nbr_id"),
        col("qvec").cast("array<double>").as("__cq"))
      .withColumn("__cn", norm(col("__cq")))
    val qq = quantizeInt8(queries, idCol, vecCol)
      .select(col("id").as(queryIdCol),
        col("qvec").cast("array<double>").as("__qq"))
      .withColumn("__qn", norm(col("__qq")))
    val approx = qc.join(broadcast(qq), col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        cosineFromParts(dot(col("__cq"), col("__qq")),
          col("__cn"), col("__qn")).as("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(desc("__approx"), asc("nbr_id"))
    val survivors = approx.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k, queryIdCol)
  }

  /** [[int8TopKEncoded]] with the codes computed on the fly — the
    * convenience form for corpora not yet quantized. NOTE: this form
    * reads the full-precision corpus to quantize it, so it has NO IO
    * advantage over brute force (measured at parity: BENCH_NOTES
    * "Round 8: compressed-vector serving probe");
    * the 4× scan cut needs persisted codes and the encoded form. */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               rescoreFactor: Int = 4,
               queryIdCol: String = "query_id",
               maxQueries: Int = 10000): DataFrame =
    int8TopKEncoded(quantizeInt8(corpus, idCol, vecCol), corpus, queries,
      idCol, vecCol, k, rescoreFactor, queryIdCol, maxQueries)

  /** Shared exact-rescore tail of the compressed-candidate servers:
    * full-precision vectors re-enter by id for the surviving
    * (queries × k×factor) rows only — norms once per side, exact cosine
    * picks the final k. */
  private def exactRescoreTopK(survivors: DataFrame, corpus: DataFrame,
                               queries: DataFrame, idCol: String,
                               vecCol: String, k: Int,
                               queryIdCol: String,
                               broadcastQueries: Boolean = true): DataFrame = {
    val cv = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val qv0 = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    val exact = survivors.join(cv, Seq("nbr_id"))
      .join(qv, Seq(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        cosineFromParts(dot(col("__cv"), col("__qv")),
          col("__cn"), col("__qn")).as("sim"))
    val w = Window.partitionBy(queryIdCol).orderBy(desc("sim"), asc("nbr_id"))
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col(queryIdCol), col("nbr_id"), col("sim"), col("rn").as("rank"))
  }

  // ----------------------------------------------------- 1-bit (binary)

  /** 1-bit sign quantization: bit j of the signature is the sign of
    * component j (`x_j >= 0`), packed into ONE long (dim ≤ 64) —
    * 256× smaller than float32 at dim 64. Hamming distance between
    * signatures estimates the angle (the sign-LSH identity
    * `E[h] = dim·θ/π`), which makes this the cheapest candidate filter
    * in the family: one xor+popcount per pair.
    *
    * Compose with [[Dedup.signatureNearDupPairs]] for near-dup pairs
    * over the signature, or [[binaryTopK]] for serve. */
  def signBits(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val sig = (0 until 64).map(j =>
      when(coalesce(element_at(v, j + 1).cast("double") >= 0.0,
        lit(false)), lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    // null/empty vectors signature to NULL (they cannot match anything
    // — the dHash convention; a 0L signature would pair every null row
    // at hamming 0); dim > 64 fails fast instead of silently
    // truncating to a false-match-prone 64-component prefix
    df.select(col(idCol).as("id"),
      when(v.isNull || size(v) === 0, lit(null).cast("long"))
        .when(size(v) > 64, raise_error(concat(
          lit("signBits needs dim <= 64, got "),
          size(v).cast("string"))).cast("long"))
        .otherwise(sig).as("sig"))
  }

  /** Top-k cosine served from 1-bit signatures with exact rescoring:
    * candidates rank by hamming distance (ascending, then id), the
    * k×rescoreFactor survivors get exact full-precision cosine — the
    * [[int8TopKEncoded]] contract at 256× at-rest compression when
    * `sigs` is a persisted [[signBits]] output. Hamming is a coarse
    * rank (65 distinct values at dim 64), so size `rescoreFactor`
    * generously — ties beyond the window are cut by id order. */
  def binaryTopKEncoded(sigs: DataFrame, corpus: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, rescoreFactor: Int = 16,
                        queryIdCol: String = "query_id",
                        maxQueries: Int = 10000): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"binaryTopK query side exceeds $maxQueries vectors; " +
        "use lshTopK or ivfTopK for large query sets")
    val sc = sigs.filter(col("sig").isNotNull)
      .select(col("id").as("nbr_id"), col("sig").as("__cs"))
    // null-signature QUERIES are excluded too (a null/empty query
    // vector cannot rank anything — with NULL hamming it would sort
    // first and return k arbitrary rows)
    val sq = signBits(queries, idCol, vecCol)
      .filter(col("sig").isNotNull)
      .select(col("id").as(queryIdCol), col("sig").as("__qs"))
    val approx = sc.join(broadcast(sq), col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        bit_count(col("__cs").bitwiseXOR(col("__qs"))).as("__h"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(asc("__h"), asc("nbr_id"))
    val survivors = approx.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k, queryIdCol)
  }

  /** [[binaryTopKEncoded]] with the signatures computed on the fly —
    * convenience form; like [[int8TopK]], it reads the full-precision
    * corpus to sign it, so the IO cut needs persisted signatures. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 rescoreFactor: Int = 16,
                 queryIdCol: String = "query_id",
                 maxQueries: Int = 10000): DataFrame =
    binaryTopKEncoded(signBits(corpus, idCol, vecCol), corpus, queries,
      idCol, vecCol, k, rescoreFactor, queryIdCol, maxQueries)

  // ------------------------------------------------- product quantization

  /** Train PQ codebooks: the vector space is split into `m` contiguous
    * sub-slices of `dim/m` components and each subspace gets its own
    * `ksub`-centroid codebook from the deterministic
    * [[Clustering.kmeansCentroids]] trainer (init = ksub smallest-id
    * sub-vectors, exact-integer mean updates), so every codebook
    * component reproduces bit-for-bit in the oracle. Returns one
    * ascending-cell codebook per subspace (driver-side — m×ksub×subDim
    * doubles, a bounded control read by the trainer's own contract).
    *
    * Train on a representative SAMPLE at corpus scale (the q113
    * discipline): training cost ∝ sample, encoding is one narrow map
    * over everything.
    *
    * FUSED across subspaces: one Spark job per Lloyd iteration computes
    * every subspace's assignments and exact-integer partial sums in a
    * single scan (the m slices share every byte of the scan — the
    * original per-subspace loop re-read the sample m times per
    * iteration, measured at ~170–260 s for m=16 on a 1M sample). Bits
    * identical to the sequential per-subspace trainer: same init rows
    * (the ksub smallest-id vectors, sliced), same native argmin kernel,
    * same quantized-integer mean updates whose sums are order-exempt.
    * One contract note: a training vector with a null ELEMENT is
    * excluded from every subspace's training here (the sequential form
    * excluded it only from the subspaces whose slice held the null) —
    * embeddings with null components are not meaningful train input
    * either way. */
  def pqTrain(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, ksub: Int, iters: Int): Seq[Seq[(Int, Array[Double])]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m slices")
    require(ksub >= 1 && ksub <= 127,
      s"ksub=$ksub out of [1, 127] — codes are signed bytes")
    require(iters >= 0 && iters <= 1000, s"iters=$iters out of [0, 1000]")
    val subDim = dim / m
    val v = vecs.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull && !exists(col("__v"), _.isNull))
    // ONE init control read for all m subspaces: the ksub smallest-id
    // vectors, sliced driver-side (same rows and order the sequential
    // per-subspace init read)
    val init = v.orderBy(col("__id").asc).limit(ksub).collect()
    require(init.nonEmpty, "pqTrain needs at least one vector")
    var books: Vector[Seq[(Int, Array[Double])]] = Vector.tabulate(m) { s =>
      init.zipWithIndex.map { case (r, i) =>
        val full = r.getSeq[Double](1).toArray
        (i, java.util.Arrays.copyOfRange(full,
          math.min(s * subDim, full.length),
          math.min((s + 1) * subDim, full.length)))
      }.toSeq
    }
    var it = 0
    while (it < iters) {
      // every subspace's assignment + sub-slice in one projection, then
      // one aggregation keyed (sub, cell, j) — the m independent
      // updates ride a single exchange of ≤ m·ksub·subDim rows
      val sub = explode(array((0 until m).map { s =>
        struct(lit(s).as("s"),
          Similarity.nearestCellColumn(
            slice(col("__v"), s * subDim + 1, subDim), books(s)).as("cell"),
          slice(col("__v"), s * subDim + 1, subDim).as("sv"))
      }: _*))
      val upd = v.select(sub.as("e"))
        .filter(col("e.cell").isNotNull)
        .select(col("e.s").as("sub"), col("e.cell").as("cell"),
          posexplode(col("e.sv")).as(Seq("j", "x")))
        .groupBy("sub", "cell", "j")
        .agg(sum(floor(col("x") * lit(Clustering.Quant)).cast("long"))
          .as("acc"), count(lit(1)).as("n"))
        .collect()
      val byKey = upd.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Vector.tabulate(m) { s =>
        books(s).map { case (c, prev) =>
          byKey.get((s, c)) match {
            case None => (c, prev) // empty cell: keep previous centroid
            case Some(rows) =>
              val nv = new Array[Double](prev.length)
              rows.foreach { r =>
                nv(r.getInt(2)) =
                  r.getLong(3).toDouble / Clustering.Quant /
                    r.getLong(4).toDouble
              }
              (c, nv)
          }
        }
      }
      it += 1
    }
    books
  }

  /** Encode vectors to `m`-byte PQ codes: per subspace, the nearest
    * codebook centroid by the SAME argmin kernel the IVF family assigns
    * with (left-to-right IEEE L2, smallest-cell ties). One narrow map,
    * no shuffle, no join — the codebooks ride along as plan literals.
    * Output (id, code: array<tinyint>): dim×4 bytes → m bytes
    * (e.g. 64-dim float32 → 4 bytes at m=4: 64× smaller). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val m = books.size
    require(m >= 1, "need at least one codebook")
    val subDim = books.head.head._2.length
    val code = array(books.zipWithIndex.map { case (b, s) =>
      Similarity.nearestCellColumn(
        slice(col(vecCol), s * subDim + 1, subDim), b).cast("byte")
    }: _*)
    df.select(col(idCol).as("id"), code.as("code"))
  }

  /** Top-k cosine from PQ codes by asymmetric distance computation
    * (ADC) with exact rescoring. Per query, one `m × ksub` table of
    * sub-slice · centroid dot products is computed ONCE (against
    * codebook literals); each corpus code then scores with `m` table
    * lookups — O(m) per pair instead of O(dim) — and the corpus-side
    * norm comes from a codebook-norm literal table the same way. The
    * top k×rescoreFactor per query get exact full-precision cosine;
    * quantization error can cost recall only, never score precision.
    *
    * `codes` is a persisted [[pqEncode]] output (the 100 TB serving
    * layout: the candidate pass reads m bytes/vector instead of
    * dim×4); `corpus` supplies full vectors for the rescore join
    * only. */
  def pqTopKEncoded(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    books: Seq[Seq[(Int, Array[Double])]],
                    rescoreFactor: Int = 4,
                    queryIdCol: String = "query_id",
                    maxQueries: Int = 10000): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"pqTopK query side exceeds $maxQueries vectors; " +
        "use lshTopK or ivfTopK for large query sets")
    // corpus-side approx norm hoisted to ONCE PER ROW before the pair
    // join (codebook-norm literal table); per-pair work is then one
    // native ADC fold — the composed per-pair element_at chain blew
    // past codegen limits and ran interpreted at ~10× the brute wall
    val corp = codes.withColumnRenamed("id", "nbr_id")
      .withColumn("__cn", sqrt(adcDot(col("code"), normTable(books), books)))
    val q = queries
      .select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
      .select(col(queryIdCol), queryTable(books, col("__qv")).as("__qtab"),
        norm(col("__qv")).as("__qn"))
    val approx = corp
      .join(broadcast(q), col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        cosineFromParts(adcDot(col("code"), col("__qtab"), books),
          col("__cn"), col("__qn")).as("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(desc("__approx"), asc("nbr_id"))
    val survivors = approx.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k, queryIdCol)
  }

  /** [[pqTopKEncoded]] with the codes computed on the fly — the
    * convenience form for corpora not yet PQ-persisted. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int,
             books: Seq[Seq[(Int, Array[Double])]],
             rescoreFactor: Int = 4, queryIdCol: String = "query_id",
             maxQueries: Int = 10000): DataFrame =
    pqTopKEncoded(pqEncode(corpus, idCol, vecCol, books), corpus, queries,
      idCol, vecCol, k, books, rescoreFactor, queryIdCol, maxQueries)

  /** The native ADC fold as a Column: `Σ_s table[s·ksub + code[s]]`. */
  private def adcDot(code: Column, table: Column,
                     books: Seq[Seq[(Int, Array[Double])]]): Column = {
    val ksubs = books.map(_.size).distinct
    require(ksubs.size == 1, s"ragged codebooks: $ksubs cells per subspace")
    import graft.functions.expressions.{AdcDot, ColumnBridge}
    ColumnBridge.column(AdcDot(ColumnBridge.expression(code),
      ColumnBridge.expression(table), ksubs.head))
  }

  /** Flattened `m × ksub` codebook-norm² literal table (exact
    * left-to-right folds, computed driver-side once). */
  private def normTable(books: Seq[Seq[(Int, Array[Double])]]): Column = {
    def n2(v: Array[Double]): Double = v.foldLeft(0.0)((a, x) => a + x * x)
    array(books.flatMap(b => b.sortBy(_._1).map(c => lit(n2(c._2)))): _*)
  }

  /** Flattened per-query ADC dot table: entry `s·ksub + c` =
    * q_slice_s · centroid_{s,c} — computed once per QUERY row against
    * codebook literals, reused across every candidate. */
  private def queryTable(books: Seq[Seq[(Int, Array[Double])]],
                         qv: Column): Column = {
    val subDim = books.head.head._2.length
    array(books.zipWithIndex.flatMap { case (b, s) =>
      b.sortBy(_._1).map { case (_, cv) =>
        dot(slice(qv, s * subDim + 1, subDim), array(cv.map(lit): _*))
      }
    }: _*)
  }

  // ---------------------------------------------------------- IVF-PQ

  /** [[pqEncode]] plus a coarse IVF cell per vector — the (id, cell,
    * code) layout [[ivfPqTopKEncoded]] serves from, cell-bucketable
    * exactly like [[IvfStore]]'s table. One narrow map; centroids and
    * codebooks ride as plan literals. */
  def pqEncodeAssigned(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame,
                       books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val cents = collectCentroids(centroids)
    val subDim = books.head.head._2.length
    val code = array(books.zipWithIndex.map { case (b, s) =>
      Similarity.nearestCellColumn(
        slice(col(vecCol), s * subDim + 1, subDim), b).cast("byte")
    }: _*)
    df.select(col(idCol).as("id"),
      Similarity.nearestCellColumn(col(vecCol), cents).as("cell"),
      code.as("code"))
  }

  /** Coarse residuals: each vector's nearest cell and `vec − centroid`
    * (double components) — the frame residual PQ codebooks train on
    * and [[pqEncodeResidual]] encodes. Cells must be the contiguous
    * 0..k−1 the k-means trainer produces (the centroid lookup indexes
    * a literal table by cell). */
  def residuals(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    require(cents.map(_._1) == cents.indices.toSeq,
      s"residuals needs contiguous cells 0..k-1, got ${cents.map(_._1)}")
    val ctab = array(cents.map { case (_, v) =>
      array(v.map(lit): _*) }: _*)
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("__v"),
        Similarity.nearestCellColumn(col(vecCol), cents).as("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("__v"), element_at(ctab, col("cell") + 1),
          (x, c) => x - c).as("rvec"))
  }

  /** Residual PQ encode — the IVFADC layout (Jégou et al. §IVFADC):
    * (id, cell, code) where `code` quantizes the RESIDUAL `vec −
    * coarse_centroid`, whose energy is the within-cell spread only, so
    * the same codebook budget buys far finer ranking than raw-vector
    * codes. `books` must be trained on [[residuals]] of the same
    * centroid set. */
  def pqEncodeResidual(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame,
                       books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val subDim = books.head.head._2.length
    val code = array(books.zipWithIndex.map { case (b, s) =>
      Similarity.nearestCellColumn(
        slice(col("rvec"), s * subDim + 1, subDim), b).cast("byte")
    }: _*)
    residuals(df, idCol, vecCol, centroids)
      .select(col("id"), col("cell"), code.as("code"))
  }

  private def collectCentroids(
      centroids: DataFrame): Seq[(Int, Array[Double])] = {
    val rows = centroids.select(col("cell").cast("int"), col("cvec"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, "need at least one centroid")
    rows.map(r => (r.getInt(0),
      r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)).toSeq
  }

  /** IVFADC serving — residual-encoded IVF-PQ, the published design:
    * queries probe `nProbes` coarse cells; per probed cell the query's
    * RESIDUAL builds an `m × ksub` table of per-slice squared-L2 terms
    * against the residual codebooks, and each candidate's approximate
    * distance is one native ADC fold over its m-byte code
    * (`‖q − (c + r̂)‖² = Σ_s ‖qres_s − codebook_{s,code_s}‖²`).
    * Candidates rank ASCENDING by approximate distance; the
    * k×rescoreFactor survivors get exact full-precision cosine.
    *
    * vs [[ivfPqTopKEncoded]] (raw-vector codes): the code error is the
    * within-cell spread, not the whole-corpus spread — this is the
    * variant that ranks FINELY from codes. Same serve-identity
    * contract: codes must come from [[pqEncodeResidual]] under exactly
    * these centroids and books. */
  def ivfAdcTopKEncoded(codes: DataFrame, corpus: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, centroids: DataFrame,
                        books: Seq[Seq[(Int, Array[Double])]],
                        nProbes: Int, rescoreFactor: Int = 4,
                        queryIdCol: String = "query_id",
                        maxQueries: Int = 10000): DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"ivfAdcTopK query side exceeds $maxQueries vectors; " +
        "use ivfAdcTopKEncodedPartitioned for offline eval sweeps")
    val subDim = books.head.head._2.length
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    val qw = Window.partitionBy(queryIdCol).orderBy(asc("__d"), asc("cell"))
    val probed = queries
      .select(col(idCol).as(queryIdCol),
        col(vecCol).cast("array<double>").as("__qv"))
      .join(cents)
      .withColumn("__d", l2Sq(col("__qv"), col("cvec")))
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nProbes)
      .withColumn("__qres",
        zip_with(col("__qv"), col("cvec"), (x, c) => x - c))
      .select(col(queryIdCol), col("cell"),
        array(books.zipWithIndex.flatMap { case (b, s) =>
          b.sortBy(_._1).map { case (_, cv) =>
            l2Sq(slice(col("__qres"), s * subDim + 1, subDim),
              array(cv.map(lit): _*))
          }
        }: _*).as("__qtab"))
    val approx = codes.withColumnRenamed("id", "nbr_id")
      .join(probed, Seq("cell"))
      .filter(col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        adcDot(col("code"), col("__qtab"), books).as("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(asc("__approx"), asc("nbr_id"))
    val survivors = approx.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k, queryIdCol)
  }

  /** IVF-PQ serving — the standard warehouse-scale vector layout
    * (coarse inverted cells × product codes): queries probe their
    * `nProbes` nearest coarse cells and the candidate pass is an
    * EQUI-JOIN on cell over the m-byte codes — no broadcast cross
    * product anywhere, candidates bounded by the probed cells' row
    * count, and the scan reads codes, not vectors. ADC scores the
    * cell survivors (O(m) lookups per pair), exact cosine rescores the
    * top k×rescoreFactor.
    *
    * Serve-identity contract: `centroids` must be the set `codes` was
    * assigned under and `books` the set it was encoded under (the
    * [[IvfStore]] frozen-centroid rule; persist all three together). */
  def ivfPqTopKEncoded(codes: DataFrame, corpus: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, centroids: DataFrame,
                       books: Seq[Seq[(Int, Array[Double])]],
                       nProbes: Int, rescoreFactor: Int = 4,
                       queryIdCol: String = "query_id",
                       maxQueries: Int = 10000): DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val qCount = queries.limit(maxQueries + 1).count()
    require(qCount <= maxQueries,
      s"ivfPqTopK query side exceeds $maxQueries vectors; " +
        "use ivfPqTopKEncodedPartitioned for offline eval sweeps")
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    val q0 = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
    // the ADC table does not depend on the probed cell — computed ONCE
    // per query here and joined back below, not once per (query, cell)
    // row after the probe fan-out (that form evaluated the m×ksub
    // sub-slice dots nProbes times per query)
    val qtab = q0.select(col(queryIdCol),
      queryTable(books, col("__qv")).as("__qtab"),
      norm(col("__qv")).as("__qn"))
    // nProbes nearest coarse cells per query (query side is small)
    val qw = Window.partitionBy(queryIdCol).orderBy(asc("__d"), asc("cell"))
    val probed = q0
      .join(cents)
      .withColumn("__d", l2Sq(col("__qv"), col("cvec")))
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nProbes)
      .select(col(queryIdCol), col("cell"))
      .join(broadcast(qtab), Seq(queryIdCol))
    // per-row corpus norm + per-pair native ADC fold — see pqTopKEncoded
    val approx = codes.withColumnRenamed("id", "nbr_id")
      .withColumn("__cn", sqrt(adcDot(col("code"), normTable(books), books)))
      .join(probed, Seq("cell"))
      .filter(col("nbr_id") =!= col(queryIdCol))
      .select(col(queryIdCol), col("nbr_id"),
        cosineFromParts(adcDot(col("code"), col("__qtab"), books),
          col("__cn"), col("__qn")).as("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(desc("__approx"), asc("nbr_id"))
    val survivors = approx.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k, queryIdCol)
  }

  // ------------------------------- partitioned-query serving (eval sweeps)
  //
  // The broadcast forms above ship one m×ksub-double ADC table per
  // query to every executor — right for online batches (the maxQueries
  // guard bounds the broadcast), wrong for an offline eval sweep of
  // millions of queries: the broadcast OOMs the driver and the cell
  // equi-join (one key per coarse cell) skews. The *Partitioned forms
  // below never broadcast the query side: the ADC tables ride a SHUFFLE
  // join on the query id, and the candidate join runs on a SALTED cell
  // key — each cell's codes spread over `cellSalt` partitions by id
  // hash, each probed (query, cell) row replicated across the salts —
  // so a hot cell parallelizes instead of pinning one task. Results are
  // identical to the broadcast forms (same candidates, same
  // deterministic tie-breaks); the trade is one extra shuffle of the
  // query tables and a cellSalt× fan-out of the probed rows, amortized
  // over a query set big enough to refuse the broadcast.

  /** [[ivfPqTopKEncoded]] for UNBOUNDED query sets (offline eval
    * sweeps): no query-side broadcast anywhere, salted cell join.
    * Same serve-identity contract. */
  def ivfPqTopKEncodedPartitioned(
      codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, centroids: DataFrame,
      books: Seq[Seq[(Int, Array[Double])]], nProbes: Int,
      rescoreFactor: Int = 4, queryIdCol: String = "query_id",
      cellSalt: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    require(cellSalt >= 1, s"cellSalt must be >= 1, got $cellSalt")
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    val q0 = queries.select(col(idCol).as(queryIdCol), col(vecCol).as("__qv"))
    val qtab = q0.select(col(queryIdCol),
      queryTable(books, col("__qv")).as("__qtab"),
      norm(col("__qv")).as("__qn"))
    val qw = Window.partitionBy(queryIdCol).orderBy(asc("__d"), asc("cell"))
    val probed = q0
      .join(cents)
      .withColumn("__d", l2Sq(col("__qv"), col("cvec")))
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nProbes)
      .select(col(queryIdCol), col("cell"))
      .join(qtab, Seq(queryIdCol)) // shuffle on query id — NOT broadcast
      .withColumn("__salt",
        explode(array((0 until cellSalt).map(lit): _*)))
    val scored = codes.withColumnRenamed("id", "nbr_id")
      .withColumn("__cn", sqrt(adcDot(col("code"), normTable(books), books)))
      .withColumn("__salt", pmod(hash(col("nbr_id")), lit(cellSalt)))
      .join(probed.hint("merge"), Seq("cell", "__salt"))
      .filter(col("nbr_id") =!= col(queryIdCol))
      .select(col("cell"), col("__salt"), col(queryIdCol), col("nbr_id"),
        cosineFromParts(adcDot(col("code"), col("__qtab"), books),
          col("__cn"), col("__qn")).as("__approx"))
    // PARTIAL top-k per (query, cell, salt) slot FIRST: the global
    // per-query top-R is a subset of the union of per-slot top-Rs, and
    // this window's partition keys are a superset of the join's
    // (cell, salt) hash partitioning — it runs as a LOCAL sort, no
    // exchange. Without it every scored candidate (queries × probed
    // cells' codes — billions in an eval sweep) shuffles into the
    // global window; with it only nProbes × cellSalt × k×rf rows per
    // query do. Measured: the 100k-query probe spilled out of disk on
    // the all-candidates shuffle before this stage existed.
    val w0 = Window.partitionBy(col("cell"), col("__salt"), col(queryIdCol))
      .orderBy(desc("__approx"), asc("nbr_id"))
    val slotTop = scored.withColumn("__srn", row_number().over(w0))
      .filter(col("__srn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"), col("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(desc("__approx"), asc("nbr_id"))
    val survivors = slotTop.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k,
      queryIdCol, broadcastQueries = false)
  }

  /** [[ivfAdcTopKEncoded]] for UNBOUNDED query sets: the per-(query,
    * probed-cell) residual ADC tables stay in a shuffled frame (never
    * broadcast), candidates join on the salted cell key. Same
    * serve-identity contract. */
  def ivfAdcTopKEncodedPartitioned(
      codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, centroids: DataFrame,
      books: Seq[Seq[(Int, Array[Double])]], nProbes: Int,
      rescoreFactor: Int = 4, queryIdCol: String = "query_id",
      cellSalt: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    require(cellSalt >= 1, s"cellSalt must be >= 1, got $cellSalt")
    val subDim = books.head.head._2.length
    val cents = broadcast(centroids.select(col("cell"), col("cvec")))
    val qw = Window.partitionBy(queryIdCol).orderBy(asc("__d"), asc("cell"))
    val probed = queries
      .select(col(idCol).as(queryIdCol),
        col(vecCol).cast("array<double>").as("__qv"))
      .join(cents)
      .withColumn("__d", l2Sq(col("__qv"), col("cvec")))
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nProbes)
      .withColumn("__qres",
        zip_with(col("__qv"), col("cvec"), (x, c) => x - c))
      .select(col(queryIdCol), col("cell"),
        array(books.zipWithIndex.flatMap { case (b, s) =>
          b.sortBy(_._1).map { case (_, cv) =>
            l2Sq(slice(col("__qres"), s * subDim + 1, subDim),
              array(cv.map(lit): _*))
          }
        }: _*).as("__qtab"))
      .withColumn("__salt",
        explode(array((0 until cellSalt).map(lit): _*)))
    val scored = codes.withColumnRenamed("id", "nbr_id")
      .withColumn("__salt", pmod(hash(col("nbr_id")), lit(cellSalt)))
      .join(probed.hint("merge"), Seq("cell", "__salt"))
      .filter(col("nbr_id") =!= col(queryIdCol))
      .select(col("cell"), col("__salt"), col(queryIdCol), col("nbr_id"),
        adcDot(col("code"), col("__qtab"), books).as("__approx"))
    // per-slot partial top-k before the global window — see the
    // ivfPqTopKEncodedPartitioned comment (exchange-free local sort;
    // ascending here: IVFADC ranks by approximate DISTANCE)
    val w0 = Window.partitionBy(col("cell"), col("__salt"), col(queryIdCol))
      .orderBy(asc("__approx"), asc("nbr_id"))
    val slotTop = scored.withColumn("__srn", row_number().over(w0))
      .filter(col("__srn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"), col("__approx"))
    val wa = Window.partitionBy(queryIdCol)
      .orderBy(asc("__approx"), asc("nbr_id"))
    val survivors = slotTop.withColumn("__arn", row_number().over(wa))
      .filter(col("__arn") <= k * rescoreFactor)
      .select(col(queryIdCol), col("nbr_id"))
    exactRescoreTopK(survivors, corpus, queries, idCol, vecCol, k,
      queryIdCol, broadcastQueries = false)
  }
}
