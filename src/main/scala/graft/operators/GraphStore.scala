package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parameters of an [[EdgeStore]]. `weightCol` names the weight column
  * appended batches carry (None → every edge weighs 1). One value is
  * shared by every append — a weighted and an unweighted ingest into
  * the same store would silently disagree on the graph. */
final case class EdgeStoreConfig(weightCol: Option[String] = None,
                                 nStoreBuckets: Int = 32)

/** Persisted link-graph edge store — the incremental arm of the
  * [[Graph]] tier, completing the family contract the rest of the
  * dedup/ANN stores already have (a crawl's edge list grows
  * continuously; re-shuffling and re-aggregating the full history per
  * batch is O(corpus) work for O(batch) new edges). Two tables under
  * `wh`, both src-bucketed (the layout [[Graph.pageRank]]'s
  * per-iteration join wants):
  *
  *  - `<name>_eg_edge` (src, dst, w, cnt) — the batch-collapsed edge
  *    list: one row per distinct (src, dst) PER APPEND, `w` the weight
  *    sum and `cnt` the parallel-edge count within the batch. Rows
  *    from different appends collapse lazily at read ([[edges]] /
  *    [[degrees]] / [[pageRank]]) — a groupBy that is exchange-free on
  *    the bucketed read (src-hash partitioning satisfies the (src, dst)
  *    clustering) — and physically at [[compact]].
  *  - `<name>_eg_wtot` (src, wtot) — per-src batch weight totals, the
  *    out-strength profile a reputation gate reads without touching
  *    the dst/cnt columns (an append-sized sidecar; per-src totals sum
  *    across appends, again exchange-free on the bucketed read).
  *
  * Appends run as [[graft.sources.StoreTxn]] transactions (atomic
  * publish, crash rollback, writer lease) with the family's
  * `ingestOnce` redelivery ledger, so the store composes with the
  * streaming maintenance sink unchanged.
  *
  * Equivalence contract (oracle-verified, q157): after appending
  * batches B1…Bn, [[degrees]] ≡ [[Graph.degrees]] over B1∪…∪Bn and
  * [[pageRank]] ≡ [[Graph.pageRank]] over B1∪…∪Bn, row-for-row —
  * batch-collapsing preserves both because degrees keeps the
  * parallel-edge count in `cnt` and pageRank collapses parallel edges
  * by weight sum anyway. Unlike the pair stores there is no per-ingest
  * result (an edge batch emits nothing); the read-side operators are
  * the store's outputs.
  *
  * Edge weights must be nonnegative at append time ([[Graph.pageRank]]
  * would reject them at read time otherwise — fail at the write, where
  * the offending batch is still identifiable). Zero-weight edges are
  * kept in the edge table (they count in [[degrees]], exactly like the
  * batch operator) and drop out of [[pageRank]]'s w > 0 filter, also
  * like the batch operator.
  *
  * APPEND COST CONTRACT: one append SCANS ITS BATCH SOURCE TWICE — the
  * edge-table collapse and the per-src weight sidecar are two
  * independent map-side-combined aggregation passes (spec-pinned;
  * sharing a materialized collapse was measured to evict under memory
  * pressure exactly when the load is big — a 99M-row cached collapse
  * died mid-eviction at the 100M-edge probe, so re-scanning is the
  * memory-safe shape). For a file-backed batch the second scan is
  * cheap; a batch that is itself an EXPENSIVE unmaterialized pipeline
  * (e.g. [[Graph.hostEdges]] over raw HTML) pays the parse twice —
  * stage such batches first (`batch.write.parquet(tmp)` then append
  * the read, or `localCheckpoint` a bounded batch) and append the
  * staged frame. */
final class EdgeStore(protected val wh: graft.sources.Warehouse, name: String,
                      cfg: EdgeStoreConfig) extends KeyedStore[Unit] {
  private def edgeParams = Seq(
    "weighted" -> cfg.weightCol.isDefined.toString)
  private val edgeSpec = StoreCompaction.TableSpec(s"${name}_eg_edge")
  private val wtotSpec = StoreCompaction.TableSpec(s"${name}_eg_wtot")
  private def edgeTable = wh.live(edgeSpec.base)
  private def wtotTable = wh.live(wtotSpec.base)
  protected def label = s"EdgeStore '$name'"

  /** Compaction collapses cross-append duplicates while it rewrites
    * (the per-row transform contract allows only row-local maps, so the
    * collapse rides the pre-partitioned rewrite as a groupBy that the
    * bucket alignment keeps exchange-free — rows may MERGE here, which
    * is semantics-preserving for this store because every reader
    * re-aggregates by the same keys). */
  private[graft] def tables = Seq(
    edgeSpec.copy(transform = df => df.groupBy("src", "dst")
      .agg(sum(col("w")).as("w"), sum(col("cnt")).as("cnt"))),
    wtotSpec.copy(transform = df => df.groupBy("src")
      .agg(sum(col("wtot")).as("wtot"))))

  protected def writeBatch(batch: DataFrame, srcCol: String,
                           dstCol: String): Unit = {
    // integral node ids only — the cast below would silently collapse a
    // string-keyed batch (e.g. Graph.hostEdges output appended directly,
    // the documented composition) to (null, null) edges; key host
    // strings first (xxhash64, or an arithmetic map the caller owns).
    // Same guard genus as Dedup.connectedComponents' label check.
    Pipeline.requireIntegralId(batch.schema, srcCol, "EdgeStore src")
    Pipeline.requireIntegralId(batch.schema, dstCol, "EdgeStore dst")
    wh.paramsSpecValidated(edgeTable, edgeParams)
    val w = cfg.weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    // reject negative weights and null endpoints at the write —
    // row-local asserts fused into the aggregation scans (a null id
    // would aggregate into a phantom null node the readers then serve)
    def staged = batch
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .filter(assert_true(
        col("src").isNotNull && col("dst").isNotNull && col("w") >= 0,
        lit("EdgeStore: null edge endpoint or negative weight")).isNull)
    // the two appends aggregate the batch INDEPENDENTLY (collapse to
    // (src, dst) for the edge table; straight per-src totals for the
    // sidecar) rather than sharing a materialized collapse: an initial
    // bulk load is corpus-sized, and caching it just to save one
    // re-scan evicts under memory pressure exactly when the load is
    // big (measured: a 99M-row localCheckpoint here died mid-eviction
    // at the 100M-edge probe). Two map-side-combined aggregation
    // passes over the source stream are the memory-safe shape.
    graft.core.Par.both(
      wh.appendBucketed(edgeTable,
        staged.groupBy("src", "dst")
          .agg(sum(col("w")).as("w"), count(lit(1)).as("cnt")),
        Seq("src"), cfg.nStoreBuckets),
      wh.appendBucketed(wtotTable,
        staged.groupBy("src").agg(sum(col("w")).as("wtot")),
        Seq("src"), cfg.nStoreBuckets))
    ()
  }

  private def requireIngested(spark: SparkSession): Unit = {
    graft.sources.StoreTxn.recoverIfIdle(spark, wh.root)
    require(wh.exists(edgeTable),
      s"EdgeStore '$name' at ${wh.root} has no appended edges")
  }

  /** The accumulated edge list, cross-append duplicates collapsed:
    * (src, dst, w, cnt). The groupBy is exchange-free on the bucketed
    * read — src-hash partitioning satisfies the (src, dst) clustering. */
  def edges(spark: SparkSession): DataFrame = {
    requireIngested(spark)
    wh.readBucketed(edgeTable).groupBy("src", "dst")
      .agg(sum(col("w")).as("w"), sum(col("cnt")).as("cnt"))
  }

  /** Per-src out-strength totals (src, wtot) — the cheap profile read:
    * scans only the sidecar table, never the dst/cnt columns. */
  def outWeights(spark: SparkSession): DataFrame = {
    requireIngested(spark)
    wh.readBucketed(wtotTable).groupBy("src")
      .agg(sum(col("wtot")).as("wtot"))
  }

  /** [[Graph.degrees]] over every edge ever appended — the out side
    * aggregates exchange-free (src-bucketed); the in side pays the one
    * dst exchange the batch operator pays too, over the COLLAPSED rows
    * rather than the raw history. */
  def degrees(spark: SparkSession): DataFrame = {
    requireIngested(spark)
    val e = wh.readBucketed(edgeTable)
    val out = e.groupBy(col("src").as("node"))
      .agg(sum(col("cnt")).as("out_deg"), sum(col("w")).as("out_weight"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(sum(col("cnt")).as("in_deg"), sum(col("w")).as("in_weight"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"))
  }

  /** [[Graph.pageRank]] over every edge ever appended. Pass the
    * previous run's output as `prior` to warm-start rank maintenance:
    * exact semantics preserved (see the prior contract on
    * [[Graph.pageRank]]) — on an unchanged store, k cold + j warm
    * iterations ≡ k+j cold ones, and after new appends a near-fixed-
    * point prior needs fewer iterations to a tolerance than the
    * uniform start re-paying every iteration. */
  def pageRank(spark: SparkSession, iters: Int,
               prior: Option[DataFrame] = None,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1L << 30,
               checkpointDir: Option[String] = None,
               tol: Option[Long] = None): DataFrame = {
    requireIngested(spark)
    // the RAW bucketed read, not [[edges]]: pageRank collapses parallel
    // edges itself (by weight sum, its documented contract), and its
    // collapse is exchange-free on the src-bucketed layout — going
    // through the collapsed view would pay a second full hash
    // aggregation over the edge history for nothing (measured: the
    // 100M-edge probe OOM'd its aggregation headroom on exactly that
    // double pass)
    Graph.pageRank(wh.readBucketed(edgeTable), "src", "dst", iters,
      Some("w"), dampNum, dampDen, scale, prior, checkpointDir, tol)
  }

  /** [[Graph.trustRank]] over every edge ever appended — seeds keyed in
    * the store's (long) node space, so a host-string graph passes
    * `xxhash64(host)` seeds like its edges. Same raw-read shape as
    * [[pageRank]]. This is the ONE-SHOT form (caller holds any prior);
    * per-epoch production loops should use [[trustRankMaintain]], which
    * versions the prior in the store (warm start, atomic commit,
    * seed-set fingerprint) instead of leaving prior management to the
    * caller. */
  def trustRank(spark: SparkSession, iters: Int, seeds: DataFrame,
                seedCol: String,
                dampNum: Long = 85L, dampDen: Long = 100L,
                scale: Long = 1L << 30,
                checkpointDir: Option[String] = None,
                tol: Option[Long] = None,
                prior: Option[DataFrame] = None): DataFrame = {
    requireIngested(spark)
    Graph.trustRank(wh.readBucketed(edgeTable), "src", "dst", iters,
      seeds, seedCol, Some("w"), dampNum, dampDen, scale, checkpointDir,
      tol, prior)
  }

  private val ranksState = s"${name}_ranks"
  private val trustState = s"${name}_tranks"
  private def trustSeedKey = s"${name}_tranks_seedfp"

  /** The committed rank state `state`, if any, read with the columns
    * every rank writer emits (nodes are longs): no inference job. */
  private def storedState(spark: SparkSession,
                          state: String): Option[DataFrame] = {
    graft.sources.StoreTxn.recoverIfIdle(spark, wh.root)
    Some(graft.sources.StoreTxn.live(wh.root, s"state/$state"))
      .filter(new java.io.File(_).isDirectory)
      .map(spark.read.schema("node bigint, rank_fp bigint").parquet(_))
  }

  /** The last [[pageRankMaintain]]'s rank table (node, rank_fp), or
    * None before the first — reads the COMMITTED state version, so a
    * crashed maintenance run never serves half-written ranks.
    * VALIDITY: the frame is lazily parquet-backed on the committed
    * version directory, which the NEXT maintenance commit GCs —
    * materialize (collect / localCheckpoint / write) before running
    * another epoch if the ranks must outlive it. */
  def storedRanks(spark: SparkSession): Option[DataFrame] =
    storedState(spark, ranksState)

  /** The last [[trustRankMaintain]]'s rank table (node, rank_fp), or
    * None before the first — same committed-version read (and same
    * next-commit invalidation caveat) as [[storedRanks]]. */
  def storedTrustRanks(spark: SparkSession): Option[DataFrame] =
    storedState(spark, trustState)

  /** Shared maintenance body: compute ranks from the stored prior,
    * publish them as the state's new version (atomic commit; the
    * commit also GCs the superseded version directory, so epochs don't
    * accumulate one parquet dir each forever — which also means a
    * frame RETURNED by an earlier maintain/storedRanks call is lazily
    * backed by the directory that GC deletes: it fails with
    * FileNotFoundException on its next action once a later maintenance
    * commits. Callers holding ranks across epochs must materialize
    * them first — collect / localCheckpoint / write), then serve the result
    * FROM the committed files and unpersist the checkpoint pin the
    * computation left behind — the rank operators return their final
    * round's localCheckpoint pinned, and a per-epoch maintenance loop
    * would otherwise accumulate one cached rank table per call (the
    * looped-pin OOM class `RoundCheckpoint.releasePinned` exists for).
    * The pin is read off the ranks frame ([[Graph.pinnedBy]]), never as
    * a diff of the context's persistent RDDs: under `Par.both` that diff
    * holds the other leg's checkpoints too (q173's block-not-found).
    * The served frame is bit-identical: rank_fp round-trips parquet
    * exactly and `rank` is a pure scalar function of it. */
  private def maintainCommit(spark: SparkSession, state: String,
      scale: Long, kvs: Seq[(String, String)] = Nil)(
      compute: Option[DataFrame] => DataFrame): DataFrame = {
    val ranks = compute(storedState(spark, state))
    graft.sources.StoreTxn.transact(spark, wh.root) {
      graft.sources.StoreWriter.version(wh.root, s"state/$state",
        ranks.select("node", "rank_fp"))
      kvs.foreach { case (k, v) => graft.sources.StoreTxn.current(wh.root).putKv(k, v) }
    }
    Graph.release(spark.sparkContext, Graph.pinnedBy(ranks))
    storedState(spark, state).get.select(col("node"), col("rank_fp"),
      (col("rank_fp").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** One rank-maintenance step: warm-start from the STORED ranks (cold
    * uniform start on the first call), run [[pageRank]], persist the
    * result as the store's new rank table — a versioned state directory
    * published by a StoreTxn commit, so readers switch atomically and a
    * crash rolls back to the previous ranks. The maintenance loop a
    * crawl runs per edge epoch is then literally
    * `store.ingest(batch, "src", "dst"); store.pageRankMaintain(iters)`
    * — on an unchanged store, k
    * maintained + j maintained iterations equal one k+j cold run
    * (spec-pinned); after appends, the stored prior reaches a given
    * `tol` in fewer iterations than the uniform start (0.23× the L1
    * distance at equal iterations at 10M nodes: BENCH_NOTES "Edge store
    * at 10M nodes / 100M edges"). The
    * returned frame reads the COMMITTED parquet (nothing stays pinned
    * in executor storage across epochs). */
  def pageRankMaintain(spark: SparkSession, iters: Int,
                       dampNum: Long = 85L, dampDen: Long = 100L,
                       scale: Long = 1L << 30,
                       checkpointDir: Option[String] = None,
                       tol: Option[Long] = None): DataFrame =
    maintainCommit(spark, ranksState, scale) { prior =>
      pageRank(spark, iters, prior.map(_.select("node", "rank_fp")),
        dampNum, dampDen, scale, checkpointDir, tol)
    }

  /** [[pageRankMaintain]] for the TRUST signal: warm-start
    * [[trustRank]] from the stored seeded ranks and publish the result
    * as versioned state — the maintenance arm a crawl that gates on
    * trust runs per epoch instead of re-paying cold iterations or
    * hand-managing the prior. The stored state is KEYED TO ITS SEED
    * SET (an order-independent fingerprint of the distinct seed ids,
    * committed alongside the first version — the retrained-centroids
    * precedent): a call with a drifted seed set fails fast, because
    * warm-starting one seed set's trust from another's ranks is
    * silently wrong, not approximate. Same contracts as
    * [[pageRankMaintain]] otherwise — k maintained + j maintained
    * iterations ≡ k+j cold (spec-pinned), committed-parquet serving,
    * superseded versions GC'd. */
  def trustRankMaintain(spark: SparkSession, iters: Int,
                        seeds: DataFrame, seedCol: String,
                        dampNum: Long = 85L, dampDen: Long = 100L,
                        scale: Long = 1L << 30,
                        checkpointDir: Option[String] = None,
                        tol: Option[Long] = None): DataFrame = {
    requireIngested(spark)
    // one bounded aggregate: |seeds| + an order-independent XOR-fold of
    // the per-seed hashes — deterministic identity for the seed SET.
    // bit_xor, not sum: a hash-sum relies on silent Long wraparound,
    // which spark.sql.ansi.enabled turns into ArithmeticException on a
    // large seed set; XOR is overflow-free under every SQL mode
    val fpRow = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(node))"), lit(0L)))
      .head()
    val fp = s"${fpRow.getLong(0)}:${fpRow.getLong(1)}"
    graft.sources.StoreTxn.getKv(wh.root, trustSeedKey).foreach(stored =>
      require(stored == fp,
        s"trustRankMaintain: seed set drifted (stored fingerprint " +
          s"$stored, this call $fp) — stored trust state is keyed to " +
          "its seed set; keep seeds fixed, or rebuild under a new " +
          "store name"))
    maintainCommit(spark, trustState, scale, Seq(trustSeedKey -> fp)) {
      prior =>
        trustRank(spark, iters, seeds, seedCol, dampNum, dampDen, scale,
          checkpointDir, tol, prior.map(_.select("node", "rank_fp")))
    }
  }
}
