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
    * incremental-store family (MinhashStore / EmbeddingLshStore /
    * IvfStore): a corpus is indexed batch by batch, and [[search]] over
    * the accumulated index reproduces [[Retrieval.bm25TopK]] over the
    * union BIT-FOR-BIT (oracle-verified, q85), because document
    * frequencies, N and Σdl accumulate as exact integers and the score
    * expression tree is shared.
    *
    * Tables under `root`:
    *  - `<name>_bm_post` (tok, id, tf), bucketed by tok — the postings;
    *    a query touches only its terms' buckets;
    *  - `<name>_bm_len` (id, dl), bucketed by id — length normalization;
    *  - `state/<name>_bm_stats` — one (n, sumdl) row per append, summed
    *    at serve (exact integer accumulation, no stored floats).
    *
    * Ids must be unique across appends (re-indexing a doc would
    * double-count its postings — delete-and-reindex needs a table
    * format with row-level deletes).
    *
    * CRASH SEMANTICS: each append runs as one [[graft.sources.StoreTxn]]
    * transaction — the three writes (postings, lengths, stats) publish
    * atomically, and a crash anywhere mid-append rolls back on the next
    * open ([[search]] heals a dead writer's partial append before
    * reading), so a blind retry converges with no external snapshot.
    * The stats row is still written last inside the transaction, so its
    * count equals the number of committed appends. */
  final class Bm25Index(spark: org.apache.spark.sql.SparkSession,
                        root: String, name: String,
                        nStoreBuckets: Int = 32) {
    private val wh = new graft.sources.Warehouse(spark, root)
    private[graft] def storeRoot: String = root
    // physical generations: appends land in the ACTIVE tables, which
    // start as the base names and move to `__c<epoch>` successors when
    // [[compact]] publishes one. The alias lives in the commit record,
    // so "active" always names a fully-published generation.
    private val postBase = s"${name}_bm_post"
    private val lenBase = s"${name}_bm_len"
    private val statsBase = s"state/${name}_bm_stats"
    private def activeAlias(kind: String, base: String): String =
      graft.sources.StoreTxn.getKv(root, s"active:$name:$kind").getOrElse(base)
    private def postTable = activeAlias("post", postBase)
    private def lenTable = activeAlias("len", lenBase)
    private def statsRel = activeAlias("stats", statsBase)
    private def statsPath = s"$root/$statsRel"

    def append(docs: DataFrame, idCol: String, textCol: String): Unit =
      appendOnce(docs, idCol, textCol, appendKey = None)

    /** Stats rows read with an EXPLICIT schema: rows written before the
      * append_key marker existed (or by plain [[append]]) surface a
      * null key instead of failing column resolution. */
    private val statsSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "n BIGINT, sumdl BIGINT, append_key STRING")
    private def statsDf = spark.read.schema(statsSchema).parquet(statsPath)
    // completed append keys, loaded ONCE per index handle then kept
    // in-memory — an always-on sink appends one tiny stats file per
    // micro-batch, and re-scanning all of them per batch would make the
    // idempotence check grow with stream age. Single-writer assumption
    // (one maintenance stream per index), same as the store family.
    private var seenKeys: scala.collection.mutable.Set[String] = null

    /** Replay-safe append keyed on `appendKey`: the stats row carries
      * the key and is written LAST, so a redelivered append whose
      * previous attempt COMPLETED is detected and skipped. The key must
      * identify the batch GLOBALLY — the streaming sink uses
      * (checkpoint path, batchId), so two streams feeding one index
      * don't collide; resetting a checkpoint without resetting the
      * index reuses old keys and will skip (not re-index) those
      * batches. The stats row commits atomically with the postings
      * (class scaladoc), so "key present" always means "batch fully
      * indexed" — redelivery after a crash anywhere re-appends, after
      * completion skips. */
    def appendOnce(docs: DataFrame, idCol: String, textCol: String,
                   appendKey: Option[String]): Unit = {
      if (appendKey.isDefined) {
        if (seenKeys == null) {
          // heal a dead writer's partial append BEFORE trusting the
          // stats rows as the completed-append record
          graft.sources.StoreTxn.recoverIfIdle(spark, root)
          val persisted: Seq[String] =
            if (new java.io.File(statsPath).exists())
              statsDf.select("append_key").filter(col("append_key").isNotNull)
                .collect().map(_.getString(0)).toSeq
            else Seq.empty
          seenKeys = scala.collection.mutable.Set.empty[String] ++ persisted
        }
        if (seenKeys.contains(appendKey.get))
          return // completed append redelivered
      }
      graft.sources.StoreTxn.transact(spark, root) {
        // postings are keyed on tokens — the tokenizer mode is store
        // identity (rows written under one mode are invisible to
        // searches tokenized under the other), so record and validate
        wh.paramsSpecValidated(postTable, Seq("scriptAwareTokens" ->
          TextFunctions.scriptAwareEnabled.toString))
        // one tokenization feeds postings, lengths and the stats row
        val toksed = docs.select(col(idCol).as("id"),
            TextFunctions.tokens(col(textCol)).as("__t"))
          .localCheckpoint(true)
        val postings = toksed
          .select(col("id"), explode(col("__t")).as("tok"))
          .groupBy("tok", "id").agg(count(lit(1)).as("tf"))
        graft.core.Par.both(
          wh.appendBucketed(postTable, postings, Seq("tok"),
            nStoreBuckets),
          wh.appendBucketed(lenTable,
            toksed.select(col("id"),
              size(col("__t")).cast("long").as("dl")),
            Seq("id"), nStoreBuckets))
        graft.sources.StoreTxn.current(root)
          .touchPath(statsRel)
        toksed.agg(count(lit(1)).as("n"),
            coalesce(sum(size(col("__t")).cast("long")), lit(0L)).as("sumdl"))
          .withColumn("append_key",
            appendKey.map(lit(_)).getOrElse(lit(null)).cast("string"))
          .write.mode("append").parquet(statsPath)
      }
      // only a COMMITTED append marks its key as seen
      appendKey.foreach(k => if (seenKeys != null) seenKeys += k)
    }

    /** Rewrite the accumulated index into one fresh physical generation
      * — the maintenance pass for an always-on [[graft.streaming
      * .Streaming.bm25IndexSink]], where every micro-batch append adds
      * nStoreBuckets postings files + a stats file and a year of
      * 5-minute batches is ~10⁵ append generations of small files.
      * Contents are IDENTICAL (ids are unique across appends, so
      * postings rows never merge; every stats row — including its
      * append_key, the replay-idempotence ledger — is preserved);
      * only the file layout consolidates to one write's worth.
      *
      * Runs as one transaction: the new `__c<epoch>` post/len tables
      * and stats dir are written fresh (a crash sweeps them — the live
      * generation is untouched), then the three active-aliases publish
      * atomically in the commit record. Superseded generations are
      * physically dropped only AFTER commit; a crash between commit
      * and sweep leaves inert directories the next compact removes. */
    def compact(spark: org.apache.spark.sql.SparkSession): Unit =
      compact() // uniform signature for the maintenance-sink trigger
    def compact(): Unit = {
      graft.sources.StoreTxn.recoverIfIdle(spark, root)
      require(new java.io.File(statsPath).exists(),
        s"Bm25Index '$name' at $root has no appends — nothing to compact")
      graft.sources.StoreTxn.transact(spark, root) {
        val txn = graft.sources.StoreTxn.current(root)
        val (curPost, curLen) = (postTable, lenTable)
        val newPost = s"${postBase}__c${txn.epoch}"
        val newLen = s"${lenBase}__c${txn.epoch}"
        val newStatsRel = s"${statsBase}__c${txn.epoch}"
        wh.paramsSpecValidated(newPost, Seq("scriptAwareTokens" ->
          TextFunctions.scriptAwareEnabled.toString))
        // appendBucketed itself aligns the frame on the writer's bucket
        // id (pmod(murmur3, nBuckets)) — a caller-side pre-repartition
        // on the same expression but a DIFFERENT partition count would
        // not collapse with it and each compaction would pay a double
        // shuffle (the r12 caller did; dropped in r13)
        graft.core.Par.both(
          wh.appendBucketed(newPost, wh.readBucketed(curPost),
            Seq("tok"), nStoreBuckets),
          wh.appendBucketed(newLen, wh.readBucketed(curLen),
            Seq("id"), nStoreBuckets))
        txn.touchPath(newStatsRel)
        statsDf.coalesce(1).write.mode("overwrite")
          .parquet(s"$root/$newStatsRel")
        txn.putKv(s"active:$name:post", newPost)
        txn.putKv(s"active:$name:len", newLen)
        txn.putKv(s"active:$name:stats", newStatsRel)
      }
      sweepStale()
    }

    /** Drop every physical generation the committed aliases no longer
      * name — safe post-commit (they are unreachable the instant the
      * alias publishes) and idempotent across crashes. */
    private def sweepStale(): Unit = {
      val (ap, al, as) = (postTable, lenTable, statsRel)
      val whDir = new java.io.File(s"$root/warehouse")
      def gens(base: String) = Option(whDir.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory &&
          (f.getName == base || f.getName.startsWith(base + "__c")))
        .map(_.getName)
      (gens(postBase).filterNot(_ == ap) ++ gens(lenBase).filterNot(_ == al))
        .foreach(wh.dropTable)
      val stateDir = new java.io.File(s"$root/state")
      val asName = as.stripPrefix("state/")
      val statsBaseName = statsBase.stripPrefix("state/")
      Option(stateDir.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory &&
          (f.getName == statsBaseName ||
            f.getName.startsWith(statsBaseName + "__c")) &&
          f.getName != asName)
        .foreach(graft.sources.StoreTxn.rmrf)
      // a fresh handle on this root must reload its completed-key cache
      // from the active stats generation
      seenKeys = null
    }

    def search(queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               logIdf: Boolean = false): DataFrame = {
      require(queryTerms.nonEmpty, "empty query")
      graft.sources.StoreTxn.recoverIfIdle(spark, root)
      wh.paramsSpecValidated(postTable, Seq("scriptAwareTokens" ->
        TextFunctions.scriptAwareEnabled.toString), writeIfAbsent = false)
      require(new java.io.File(statsPath).exists(),
        s"Bm25Index '$name' at $root has no appends — index before searching")
      val st = statsDf.agg(sum("n"), sum("sumdl")).head()
      val n = st.getLong(0).toDouble
      val avgdl = st.getLong(1).toDouble / n
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
