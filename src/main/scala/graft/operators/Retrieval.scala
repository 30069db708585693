package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Lexical retrieval over a (chunked) corpus — the query-time complement
  * of [[Sequences.chunkDocuments]]: BM25 ranking of documents/chunks for
  * a term query. Embedding ANN ([[Similarity]]) covers the semantic
  * side; production retrieval stacks run both and fuse.
  */
object Retrieval {

  /** BM25 top-k with a RATIONAL idf: idf_t = (N − df_t + 0.5)/(df_t + 0.5)
    * instead of its logarithm. Rankings are identical for single-term
    * queries and near-identical in practice (the log only compresses the
    * idf range), and the variant is exactly portable: +,×,÷ are
    * correctly-rounded IEEE ops in every engine, while `ln` carries no
    * such guarantee — a DuckDB/JVM ulp disagreement would make scores
    * engine-dependent. `logIdf = true` selects the standard Robertson/
    * Lucene form idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) — what
    * users of mainstream search engines expect; single-term rankings
    * are identical to the rational form (a positive monotone transform
    * of a per-term constant), multi-term SCORES differ because the log
    * compresses the ratio between rare- and common-term contributions
    * (RetrievalSpec pins both properties). The oracle queries keep the
    * rational default for bit-portability.
    *
    * Scale shape: corpus statistics (N, avg doc length, per-term df) are
    * ONE aggregation collapsed to a single row, read back as literals
    * (bounded control read — one row however large the corpus), so the
    * scoring pass is a single scan with a per-row column program: no
    * join, no shuffle before the final top-k window on (score, id),
    * which carries ids and scores only. Query terms are
    * configuration-sized (a user query), so per-term tf columns compile
    * into the scan projection. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               logIdf: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = TextFunctions.tokens(col(textCol))
    val dl = size(toks).cast("double")
    def tfOf(term: String): Column =
      size(filter(toks, t => t === lit(term))).cast("double")
    // one pass for N, Σdl, and every term's df — over the BOUND token
    // column (__t), tokenized once per row in a pruned scan
    val statCols = Seq(count(lit(1)).cast("double").as("n"),
        coalesce(sum(size(col("__t"))), lit(0L)).cast("double").as("sumdl")) ++
      queryTerms.zipWithIndex.map { case (term, i) =>
        count(when(array_contains(col("__t"), term), lit(1)))
          .cast("double").as(s"df$i") }
    val stats = docs.select(toks.as("__t"))
      .agg(statCols.head, statCols.tail: _*).head()
    val n = stats.getDouble(0)
    if (n == 0.0) // empty corpus: empty result, not an NPE on null Σdl
      return docs.select(col(idCol).as("id"), lit(0.0).as("score"))
        .withColumn("rank", lit(0)).limit(0)
    val avgdl = stats.getDouble(1) / n
    val score = queryTerms.zipWithIndex.map { case (term, i) =>
      val df = stats.getDouble(2 + i)
      scoreTerm(tfOf(term), dl, n, df, avgdl, k1, b, logIdf)
    }.reduce(_ + _)
    rankTopK(docs.select(col(idCol).as("id"), score.as("score")), k)
  }

  /** One term's BM25 contribution — ONE expression tree shared by the
    * scan-time scorer and the [[Bm25Index]] serve path, so the
    * incremental index reproduces one-shot scores bit-for-bit (the
    * operand order of the float ops IS the contract here). */
  private[operators] def scoreTerm(tf: Column, dl: Column, n: Double,
                                   df: Double, avgdl: Double,
                                   k1: Double, b: Double,
                                   logIdf: Boolean = false): Column = {
    val rational = (n - df + 0.5) / (df + 0.5)
    val idf = if (logIdf) math.log1p(rational) else rational
    (tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))) * lit(idf)
  }

  /** Global top-k of a (id, score) frame via orderBy+limit →
    * TakeOrderedAndProject (per-partition top-k, k-row driver merge) —
    * NOT an unpartitioned row_number window, which would sort every
    * matching doc through one task. The rank window after the limit
    * sees ≤ k rows. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = scored
      .filter(col("score") > 0.0) // rank only docs matching ≥1 term
      .orderBy(desc("score"), col("id").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col("id").asc)
    top.withColumn("rank", row_number().over(w))
  }

  /** Persisted, APPENDABLE BM25 index — the retrieval member of the
    * incremental-store family, a [[KeyedStore]]: a corpus is indexed
    * batch by batch, and [[search]] over the accumulated index
    * reproduces [[Retrieval.bm25TopK]] over the union BIT-FOR-BIT
    * (oracle-verified, q85), because document frequencies, N and Σdl
    * accumulate as exact integers and the score expression tree is
    * shared.
    *
    * State under `root`:
    *  - `<name>_bm_post` (tok, id, tf), bucketed by tok — the postings;
    *    a query touches only its terms' buckets;
    *  - `<name>_bm_len` (id, dl), bucketed by id — length normalization;
    *  - N and Σdl, running totals in the root's commit record: each
    *    append adds its batch's document count and token total, and a
    *    search reads them with no job.
    *
    * Ids must be unique across appends (re-indexing a doc would
    * double-count its postings — delete-and-reindex needs a table
    * format with row-level deletes).
    *
    * CRASH SEMANTICS: each append runs as one [[graft.sources.StoreTxn]]
    * transaction — the two table writes and the new totals publish
    * atomically, and a crash anywhere mid-append rolls back on the next
    * open ([[search]] heals a dead writer's partial append before
    * reading), so a blind retry converges with no external snapshot.
    * Keyed appends ([[ingestOnce]]) and compaction are the family's
    * ([[KeyedStore]], [[StoreCompaction]]). */
  final class Bm25Index(spark: org.apache.spark.sql.SparkSession,
                        root: String, name: String,
                        nStoreBuckets: Int = 32) extends KeyedStore[Unit] {
    protected val wh = new graft.sources.Warehouse(spark, root)
    private val postSpec = StoreCompaction.TableSpec(s"${name}_bm_post")
    private val lenSpec = StoreCompaction.TableSpec(s"${name}_bm_len")
    protected def label = s"Bm25Index '$name'"
    private[graft] def tables = Seq(postSpec, lenSpec)
    private def postTable = wh.live(postSpec.base)
    private def lenTable = wh.live(lenSpec.base)
    private val nKey = s"bm25:$name:n"
    private val sumdlKey = s"bm25:$name:sumdl"
    // postings are keyed on tokens — the tokenizer mode is store
    // identity (rows written under one mode are invisible to searches
    // tokenized under the other), so record and validate it
    private def params = Seq("scriptAwareTokens" ->
      TextFunctions.scriptAwareEnabled.toString)

    /** The committed (N, Σdl), None before the first append. A root
      * whose postings predate the totals in the commit record is
      * refused: counting from 0 over its postings would skew every
      * idf. */
    private def totals: Option[(Long, Long)] = {
      val t = graft.sources.StoreTxn.getKv(wh.root, nKey)
        .map(n => (n.toLong, graft.sources.StoreTxn.getKv(wh.root, sumdlKey).get.toLong))
      require(t.isDefined || !wh.exists(postTable),
        s"Bm25Index '$name' at $root has postings but no document count " +
          "in its commit record — it was written by an earlier format; " +
          "rebuild under a fresh root")
      t
    }

    protected def writeBatch(docs: DataFrame, idCol: String,
                             textCol: String): Unit = {
      val (n0, sumdl0) = totals.getOrElse((0L, 0L))
      wh.paramsSpecValidated(postTable, params)
      // one tokenization feeds postings, lengths and the totals
      val toksed = docs.select(col(idCol).as("id"),
          TextFunctions.tokens(col(textCol)).as("__t"))
        .localCheckpoint(true)
      val postings = toksed
        .select(col("id"), explode(col("__t")).as("tok"))
        .groupBy("tok", "id").agg(count(lit(1)).as("tf"))
      graft.core.Par.both(
        wh.appendBucketed(postTable, postings, Seq("tok"), nStoreBuckets),
        wh.appendBucketed(lenTable,
          toksed.select(col("id"), size(col("__t")).cast("long").as("dl")),
          Seq("id"), nStoreBuckets))
      val batch = toksed.agg(count(lit(1)),
        coalesce(sum(size(col("__t")).cast("long")), lit(0L))).head()
      val txn = graft.sources.StoreTxn.current(wh.root)
      txn.putKv(nKey, (n0 + batch.getLong(0)).toString)
      txn.putKv(sumdlKey, (sumdl0 + batch.getLong(1)).toString)
    }

    def search(queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               logIdf: Boolean = false): DataFrame = {
      require(queryTerms.nonEmpty, "empty query")
      graft.sources.StoreTxn.recoverIfIdle(spark, root)
      val (nDocs, sumdl) = totals.getOrElse(throw new IllegalArgumentException(
        s"Bm25Index '$name' at $root has no appends — index before searching"))
      wh.paramsSpecValidated(postTable, params, writeIfAbsent = false)
      val n = nDocs.toDouble
      val avgdl = sumdl.toDouble / n
      // postings restricted to the query's terms: with the tok-bucketed
      // layout this reads the terms' buckets, not the corpus
      val posts = wh.readBucketed(postTable)
        .filter(col("tok").isin(queryTerms: _*))
      // per-term document frequencies — bounded control read (≤ #terms)
      val dfs = posts.groupBy("tok").agg(count(lit(1)).as("df")).collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      // one bounded pivot: per matching doc, each term's tf as a column
      val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("tok") === t, col("tf"))).as(s"__tf$i") }
      val perDoc = posts.groupBy("id").agg(tfCols.head, tfCols.tail: _*)
      val dl = col("dl").cast("double")
      val score = queryTerms.zipWithIndex.map { case (t, i) =>
        scoreTerm(coalesce(col(s"__tf$i"), lit(0L)).cast("double"), dl,
          n, dfs.getOrElse(t, 0.0), avgdl, k1, b, logIdf)
      }.reduce(_ + _)
      rankTopK(
        perDoc.join(wh.readBucketed(lenTable), Seq("id"))
          .select(col("id"), score.as("score")), k)
    }
  }

  /** Reciprocal-rank fusion of a lexical and a semantic ranking — the
    * standard hybrid-retrieval combiner: fused(d) = 1/(c + rank_a(d)) +
    * 1/(c + rank_b(d)), missing side contributing 0. Takes RANK columns,
    * not scores, so the two sides' score scales never need calibrating.
    *
    * Implemented as one full-outer join on id (both sides are top-k
    * lists — bounded), NOT union + groupBy-sum: a grouped float sum
    * accumulates in shuffle order, which would make the fused score
    * nondeterministic in the last ulp across runs; the join form fixes
    * the addition order. Output: (id, fused, rank), top `k`. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              c: Double = 60.0): DataFrame = {
    val la = a.select(col("id"), col("rank").cast("double").as("__ra"))
    val lb = b.select(col("id"), col("rank").cast("double").as("__rb"))
    val fused = la.join(lb, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0) / (lit(c) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("__rb")), lit(0.0))).as("fused"))
      .orderBy(desc("fused"), col("id").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("fused"), col("id").asc)
    fused.withColumn("rank", row_number().over(w))
  }
}
