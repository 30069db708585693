package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

// --------------------------------------------------- incremental dedup
//
// A 100 TB pipeline ingests incrementally: recomputing all-corpus
// signatures per daily batch is O(corpus) work for O(batch) new
// information. The stores below persist the LSH index slice — ids and
// bucket keys only, never document text — bucketed on the candidate-join
// key, so ingesting a batch (a) computes signatures for the BATCH only,
// (b) reads back just the store buckets the batch touches, and
// (c) appends the batch's signatures for future ingests. Delta cost
// tracks the batch, not the corpus.
//
// Every ingest here runs as one [[graft.sources.StoreTxn]] transaction:
// the multi-table appends publish atomically, a crash mid-ingest rolls
// back on the next open, and a blind retry converges — no external
// snapshot-restore discipline. The root's writer lease enforces the
// single-writer contract the stores always documented.

/** The incremental-store family's one keyed write. A store declares its
  * [[graft.sources.Warehouse]], a label for its messages, its bucketed
  * `tables`, and the body that writes one batch and returns `R` — the
  * verified pairs of a pair store ([[MinhashStore]], [[SimhashStore]],
  * [[EmbeddingLshStore]], [[HammingStore]], [[ContainmentStore]]), or
  * `Unit` for a store whose write only appends ([[IvfStore]],
  * [[IvfAdcStore]], [[EdgeStore]], [[Retrieval.Bm25Index]],
  * [[Decontamination.GramIndex]], [[Sketches.DistinctStore]]). The trait
  * supplies the rest once: the transaction, the key ledger, compaction
  * over the declared tables, and with them the streaming maintenance
  * sink ([[graft.streaming.Streaming.storeSink]]).
  *
  * `ingestOnce` is the key-idempotent form a streaming sink needs:
  *
  *  - a COMPLETED ingest key skips on redelivery — the key is buffered
  *    into the store's commit record, so "key visible" IS "ingest
  *    published" (one kv line per ingest in the commit file; at one
  *    micro-batch a minute that is ~0.5M short lines a year —
  *    compaction, if ever needed, is a maintenance rewrite);
  *  - a CRASHED ingest left no key, rolls back on the next open
  *    (StoreTxn), and the redelivered batch re-ingests cleanly;
  *  - `beforeCommit` runs on the write's result INSIDE the transaction,
  *    before it publishes — append a pairs delta to a warehouse table
  *    there (keyed idempotent, curation-sink style) and the delta is
  *    durable before the skip-key exists, so a crash between the two
  *    redelivers into a retry, never a silent loss. */
trait KeyedStore[R] {
  protected def wh: graft.sources.Warehouse
  /** The store as its messages name it, e.g. `MinhashStore 't'`. */
  protected def label: String
  /** The store's bucketed tables: what [[compact]] rewrites, and the
    * write set of one ingest. */
  private[graft] def tables: Seq[StoreCompaction.TableSpec]
  /** One batch's writes, inside the ingest's transaction. A result
    * that reads the store must be materialized before the appends. */
  protected def writeBatch(batch: DataFrame, idCol: String, valueCol: String): R

  /** Canonical store root — the lease/transaction scope. */
  def storeRoot: String = wh.root

  /** Write one batch — one atomic transaction. */
  def ingest(batch: DataFrame, idCol: String, valueCol: String): R =
    graft.sources.StoreTxn.transact(batch.sparkSession, storeRoot) {
      writeBatch(batch, idCol, valueCol)
    }

  /** [[ingest]], skipped if `ingestKey` already committed. Returns None
    * on a skip. Keys must be globally unique per logical batch (a
    * streaming sink uses "<checkpoint>#<batchId>"). */
  def ingestOnce(batch: DataFrame, idCol: String, valueCol: String,
                 ingestKey: Option[String],
                 beforeCommit: R => Unit = (_: R) => ()): Option[R] = {
    val spark = batch.sparkSession
    if (ingestKey.exists(IngestKeys.completed(spark, storeRoot, _)))
      return None
    graft.sources.StoreTxn.transact(spark, storeRoot) {
      // re-check INSIDE the transaction (lease held): two overlapping
      // direct callers with the same key could both pass the unlocked
      // pre-check, and the loser must skip, not double-ingest
      if (ingestKey.exists(k =>
          graft.sources.StoreTxn.getKv(storeRoot, IngestKeys.kvKey(k))
            .isDefined)) None
      else {
        val result = writeBatch(batch, idCol, valueCol)
        beforeCommit(result)
        ingestKey.foreach(IngestKeys.record(storeRoot, _))
        Some(result)
      }
    }
  }

  /** Rewrite the store's live tables into new compact versions (rows
    * identical) — see [[StoreCompaction]]. */
  def compact(): Unit = StoreCompaction.compact(wh, label, tables)
}

/** Generation-rewrite compaction, the one implementation every store
  * in the family uses.
  *
  * An always-on maintenance sink appends one file set per micro-batch,
  * so a long-lived store accretes files and the serve/ingest read pays
  * per-file open/footer/schedule overhead that grows with stream age.
  * Compaction rewrites each table's live directory into the
  * transaction's new version of it ([[graft.sources.StoreTxn]]), laid
  * out exactly like it — the bucket count, bucket columns, partition
  * column and parameters come from the live directory's sidecars
  * ([[graft.sources.Warehouse.rewriteBucketed]]). One commit publishes
  * all of a store's new versions, so readers switch atomically, a crash
  * mid-compact rolls back to the old directories untouched, and the
  * commit's GC deletes the superseded ones. The rewrite is aligned on
  * the writer's own bucket id, so a new version holds one file per
  * non-empty (partition, bucket) cell. Scalar state in the commit
  * record — the replay-key ledger, BM25's document count and length
  * total — needs no rewrite. */
private[graft] object StoreCompaction {
  /** One physical table of a store, named by its base, with its rows
    * passed through `transform` during the rewrite. Usually identity; a store
    * whose EVERY reader re-aggregates by the bucket keys may merge rows
    * here ([[EdgeStore]] collapses cross-append duplicate edges) — any
    * other row-count change silently corrupts the store. */
  final case class TableSpec(base: String,
                             transform: DataFrame => DataFrame = identity)

  /** Rewrite the live `tables` in one transaction; returns its epoch. */
  def compact(wh: graft.sources.Warehouse, storeLabel: String,
              tables: Seq[TableSpec]): Long = {
    graft.sources.StoreTxn.recoverIfIdle(wh.spark, wh.root)
    require(tables.exists(t => wh.exists(wh.live(t.base))),
      s"$storeLabel at ${wh.root} has no ingests — nothing to compact")
    graft.sources.StoreTxn.transact(wh.spark, wh.root) {
      tables.filter(t => wh.exists(wh.live(t.base))).foreach(t =>
        wh.rewriteBucketed(wh.live(t.base), wh.newVersion(t.base), t.transform))
      graft.sources.StoreTxn.current(wh.root).epoch
    }
  }
}

/** The store family's completed-write ledger: keys buffered into the
  * root's StoreTxn commit record, so "key visible" ⇔ "write published"
  * (one short kv line per key in the commit file; compaction, if a
  * years-long stream ever needs it, is a maintenance rewrite). */
private[operators] object IngestKeys {
  def completed(spark: org.apache.spark.sql.SparkSession, root: String,
                k: String): Boolean = {
    // the key rides a tab-separated commit-file line
    require(!k.exists(c => c == '\t' || c == '\n'),
      s"ingest key '$k' contains a commit-record-reserved character")
    // heal a dead writer's partial write BEFORE trusting the commit
    // record as the completed-write ledger
    graft.sources.StoreTxn.recoverIfIdle(spark, root)
    graft.sources.StoreTxn.getKv(root, kvKey(k)).isDefined
  }
  def record(root: String, k: String): Unit =
    graft.sources.StoreTxn.current(root).putKv(kvKey(k), "1")
  def kvKey(k: String) = s"ingest_key:$k"
}

/** Parameters of a MinHash-LSH signature store. One value is shared by
  * every ingest — signatures from different configs never compare. */
final case class MinhashConfig(shingleN: Int, bands: Int, rowsPerBand: Int,
                               threshold: Double, seed: Long = 42L,
                               maxBucket: Int = 1000, nStoreBuckets: Int = 32)

/** Persisted MinHash-LSH signature store for incremental near-dup
  * detection. Two tables under `wh`:
  *
  *  - `<name>_mh_sig` (id, band, bucket), bucketed by (band, bucket) —
  *    the LSH index. Bucketing co-locates the candidate join: the
  *    store side is read bucket-aligned, no store-side shuffle, ever.
  *  - `<name>_mh_set` (id, hset), bucketed by id — the distinct
  *    shingle-hash sets the exact-Jaccard verification joins by id.
  *
  * [[ingest]] returns every verified pair with AT LEAST ONE endpoint in
  * the batch. Equivalence contract (oracle-verified, q65): ingesting
  * batches B1…Bn in order yields, across all ingests, exactly the pairs
  * [[minhashPortablePairs]] finds on B1∪…∪Bn — each pair emitted once,
  * at the ingest of its later endpoint — provided ids are unique across
  * batches. Caveat, deliberate: `maxBucket` is evaluated against the
  * bucket's store+batch size at ingest time, exactly like the
  * full-corpus run — but a bucket that GROWS past the cap across later
  * ingests keeps the pairs it emitted while under it, where a fresh
  * full-corpus run would drop that bucket wholesale. The incremental
  * history is the more useful semantics (pairs are never retracted);
  * the equivalence oracle holds whenever no bucket crosses the cap
  * between ingests. */
final class MinhashStore(protected val wh: graft.sources.Warehouse,
                         name: String, cfg: MinhashConfig)
    extends KeyedStore[DataFrame] {
  private def sigParams = Seq(
    "shingleN" -> cfg.shingleN.toString, "bands" -> cfg.bands.toString,
    "rowsPerBand" -> cfg.rowsPerBand.toString, "seed" -> cfg.seed.toString,
    "scriptAwareTokens" ->
      graft.functions.TextFunctions.scriptAwareEnabled.toString)
  private val sigSpec = StoreCompaction.TableSpec(s"${name}_mh_sig")
  private val setSpec = StoreCompaction.TableSpec(s"${name}_mh_set")
  private def sigTable = wh.live(sigSpec.base)
  private def setTable = wh.live(setSpec.base)
  protected def label = s"MinhashStore '$name'"
  private[graft] def tables = Seq(sigSpec, setSpec)

  /** Near-dup pairs of `batch` against itself AND the store, then the
    * batch's signatures are appended to the store. The returned frame
    * is materialized (a local relation or a localCheckpoint) BEFORE the
    * append — it must be: a lazy plan would re-read the store post-append
    * and pair the batch against its own signatures. */
  protected def writeBatch(batch: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val (pairs, append) = ingestParts(batch, idCol, textCol)
    append()
    pairs
  }

  /** [[writeBatch]] split into (materialized pairs, deferred appends):
    * the pairs are computed against the PRE-append store state, after
    * which the two table appends touch nothing the caller reads — an
    * embedding caller inside the same transaction
    * ([[Pipeline.CurationStore.ingest]]) can run them on a forked
    * thread under its own downstream work and join before commit.
    *
    * A batch of at most `maxDriverDocs` documents takes the driver
    * route ([[driverPairs]]) unless one of its store reads exceeds the
    * bound; everything else takes the Spark route ([[sparkPairs]]).
    * Both return the same rows (property-pinned in SmallDeltaSpec). */
  private[graft] def ingestParts(batch: DataFrame, idCol: String,
                                 textCol: String,
                                 maxDriverDocs: Long = MinhashStore.MaxDriverDocs)
      : (DataFrame, () => Unit) = {
    val (pairs, append, _) = ingestRows(batch, idCol, textCol, maxDriverDocs, None)
    (pairs, append)
  }

  /** [[ingestParts]] whose driver route reads the store's rows from
    * `resident` (the same rows as the two table reads) instead of the
    * tables, and which also returns the batch's collected
    * (id, mins, hset) rows — None on the Spark route — for the caller to
    * [[extendResident]] with once the ingest commits. */
  private[graft] def ingestRows(batch: DataFrame, idCol: String,
                                textCol: String, maxDriverDocs: Long,
                                resident: Option[MinhashStore.Resident])
      : (DataFrame, () => Unit, Option[Array[org.apache.spark.sql.Row]]) = {
    // signature-space identity: stored (band, bucket) rows are only
    // comparable to batches hashed under the same geometry/seed and
    // the same tokenizer mode — drift would silently band new docs
    // into an incompatible space, so fail fast on it
    wh.paramsSpecValidated(sigTable, sigParams)
    // batch staging materialized ONCE as the combined (id, mins, hset)
    // frame — the expensive tokenize→shingle→hash pass runs a single
    // time (the old per-product checkpoints each re-ran it). The mark is
    // lazy: the driver route's bounded collect is the job that fills it,
    // and its rows then ARE the banded and set frames — local relations
    // the appends write from one task each, no exchange. Over the bound
    // that job is cancelled; banding is a cheap struct explode over the
    // staged minima and the sets a column select, so the Spark route's
    // candidate checkpoint fills the partitions it left and both appends
    // read the one checkpoint. Batch-sized, ids+hashes. A local batch
    // within the gate folds (the minima are evaluated on the driver):
    // its staging is its rows, and the collect below starts no job.
    val raw = Dedup.minhashCombined(batch, idCol, textCol,
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.seed)
    val combined =
      if (graft.core.DriverRoute.isLocal(raw, maxDriverDocs))
        graft.core.DriverRoute.settle(raw)
      else raw.localCheckpoint(false)
    val collected = graft.core.DriverRoute.collect(combined, maxDriverDocs)
    val (banded, sets) = collected match {
      case Some(rows) => localProducts(batch.sparkSession, rows, combined.schema)
      case None => (Dedup.bandedFromCombined(combined, cfg.bands,
        cfg.rowsPerBand), combined.select(col("id"), col("hset")))
    }
    val pairs = collected
      .flatMap(driverPairs(batch.sparkSession, _, maxDriverDocs, resident))
      .getOrElse(sparkPairs(banded, sets))
    (pairs, () => {
      graft.core.Par.both(
        wh.appendBucketed(sigTable, banded, Seq("band", "bucket"),
          cfg.nStoreBuckets),
        wh.appendBucketed(setTable, sets, Seq("id"), cfg.nStoreBuckets))
      ()
    }, collected)
  }

  /** Add the (id, mins, hset) rows [[ingestRows]] returned — the rows
    * its appends wrote — to `r`. */
  private[graft] def extendResident(r: MinhashStore.Resident,
                                    rows: Array[org.apache.spark.sql.Row]): Unit =
    rows.foreach { d =>
      val id = d.getAs[Number](0).longValue
      bandKeys(d.getSeq[Long](1)).foreach { case (b, bucket) => r.addSig(id, b, bucket) }
      r.addSet(id, d.getSeq[Long](2))
    }

  /** A document's (band, bucket) keys from its minima, as
    * [[Dedup.bandedFromCombined]] bands them: band b's bucket is minima
    * b·rowsPerBand until (b+1)·rowsPerBand joined by "_". */
  private def bandKeys(mins: Seq[Long]): Iterator[(Int, String)] =
    (0 until cfg.bands).iterator.map(b => (b,
      (b * cfg.rowsPerBand until (b + 1) * cfg.rowsPerBand)
        .map(mins(_).toString).mkString("_")))

  /** The (id, band, bucket) and (id, hset) frames of collected
    * (id, mins, hset) rows, typed like the Spark route's. */
  private def localProducts(spark: org.apache.spark.sql.SparkSession,
                            rows: Array[org.apache.spark.sql.Row],
                            schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val banded = rows.toSeq.flatMap(r => bandKeys(r.getSeq[Long](1))
      .map { case (b, bucket) => Row(r.get(0), b, bucket) })
    (graft.core.DriverRoute.local(spark, banded, StructType(Seq(schema("id"),
        StructField("band", IntegerType, nullable = false),
        StructField("bucket", StringType, nullable = false)))),
      graft.core.DriverRoute.local(spark, rows.toSeq.map(r => Row(r.get(0), r.get(2))),
        StructType(Seq(schema("id"), schema("hset")))))
  }

  /** The pairs of [[sparkPairs]] computed in plain Scala from the
    * collected (id, mins, hset) batch rows and two bounded store reads:
    * the store rows of the batch's (band, bucket) keys (at most
    * `maxDocs` × bands) and the sets of the old candidate ids (at most
    * `maxDocs`), from `resident` when given, else collected
    * (`minhash.ingest/sig`, `minhash.ingest/set`). None — take the Spark
    * route — when either read is over its bound. Banding, the bucket
    * cap, the (i < j) pairs of each sorted
    * bucket list (duplicates kept, like `sort_array(collect_list)`), the
    * newness filter and the Jaccard over distinct hashes all mirror the
    * Spark plan; ids are unique across batches (the store contract), so
    * a batch id's set comes from the batch alone. */
  private def driverPairs(spark: org.apache.spark.sql.SparkSession,
                          batch: Array[org.apache.spark.sql.Row],
                          maxDocs: Long,
                          resident: Option[MinhashStore.Resident])
      : Option[DataFrame] = {
    import scala.collection.mutable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    def id(r: Row): Long = r.getAs[Number](0).longValue
    val docs = batch.filter(!_.isNullAt(0))
    val newIds = docs.iterator.map(id).toSet
    val members = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
    docs.foreach(d => bandKeys(d.getSeq[Long](1)).foreach(k =>
      members.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += id(d)))
    resident match {
      case Some(r) =>
        val held = members.keysIterator.map(k => r.sig.get(k).fold(0L)(_.size.toLong)).sum
        if (held > maxDocs * cfg.bands) return None
        members.foreach { case (k, m) => r.sig.get(k).foreach(m ++= _) }
      case None if members.nonEmpty && wh.exists(sigTable) =>
        // a full scan of the signature table under a key-set filter (the
        // table's (band, bucket) bucketing cannot prune on a key set). A
        // UDF over the set, not `bucket IN (…)`: a literal list of
        // batch × bands strings made the route slower than the Spark
        // route from ~4,000 documents (ScaleProbe `mhgate`: 4.7 vs 3.7 s;
        // 17.8 vs 5.0 s at 16,000); the UDF plans as one expression
        val keys = members.keySet.toSet
        val touched = udf((band: Int, bucket: String) => keys((band, bucket)))
        graft.core.DriverRoute.collect(wh.readBucketed(sigTable)
            .filter(touched(col("band"), col("bucket")))
            .select("id", "band", "bucket"), maxDocs * cfg.bands,
            "minhash.ingest/sig")
          .getOrElse(return None)
          .foreach(t => if (!t.isNullAt(0) && !t.isNullAt(1))
            members.get((t.getInt(1), t.getString(2))).foreach(_ += id(t)))
      case None =>
    }
    val candidates = mutable.LinkedHashSet.empty[(Long, Long)]
    members.valuesIterator
      .filter(m => m.size >= 2 && m.size <= cfg.maxBucket)
      .foreach { m =>
        val ids = m.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size
             if newIds(ids(i)) || newIds(ids(j)))
          candidates += ((ids(i), ids(j)))
      }
    val sets = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Seq[Long]]]
    def addSet(id: Long, hset: Seq[Long]): Unit =
      sets.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += hset
    docs.foreach(d => addSet(id(d), d.getSeq[Long](2)))
    val oldIds = candidates.iterator.flatMap(p => Iterator(p._1, p._2))
      .filterNot(newIds).toSet
    resident match {
      case Some(r) =>
        val held = oldIds.toSeq.flatMap(i => r.sets.getOrElse(i, Nil).map(i -> _))
        if (held.size > maxDocs) return None
        held.foreach { case (i, s) => addSet(i, r.asSeq(s)) }
      case None if oldIds.nonEmpty && wh.exists(setTable) =>
        val store = wh.readBucketed(setTable)
        // literals of the column's own type keep the bucket pruning
        val idType = store.schema("id").dataType
        graft.core.DriverRoute.collect(store
            .filter(col("id").isin(oldIds.toSeq.map(lit(_).cast(idType)): _*))
            .select("id", "hset"), maxDocs, "minhash.ingest/set")
          .getOrElse(return None)
          .foreach(r => if (!r.isNullAt(0)) addSet(id(r), r.getSeq[Long](1)))
      case None =>
    }
    val rows = for {
      (a, b) <- candidates.toSeq
      sa <- sets.getOrElse(a, Nil)
      sb <- sets.getOrElse(b, Nil)
      jac = MinhashStore.jaccard(sa, sb)
      if jac >= cfg.threshold
    } yield Row(a, b, jac)
    Some(graft.core.DriverRoute.local(spark, rows, StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("jaccard", DoubleType)))))
  }

  /** The distributed pair route: store rows of the touched buckets,
    * bucket candidates, newness filter and verification as Spark plans,
    * localCheckpointed against the pre-append store. */
  private def sparkPairs(banded: DataFrame, sets: DataFrame): DataFrame = {
    // store rows for the buckets this batch touches. No broadcast HINT
    // on the batch's key set: a hard hint would OOM on a genuinely large
    // ingest; AQE converts the semi join to broadcast at runtime when
    // the key set is actually small (the common case), and the fallback
    // sort-merge join is still store-shuffle-free — the sig table is
    // bucketed on exactly these keys.
    val touched =
      if (wh.exists(sigTable))
        wh.readBucketed(sigTable).join(
          banded.select("band", "bucket").distinct(),
          Seq("band", "bucket"), "left_semi")
      else banded.limit(0)
    val members = touched.unionByName(banded)
    // old–old pairs in a touched bucket were already emitted when the
    // later of the two docs was ingested (bucket membership is a pure
    // function of the doc) — keep only pairs touching this batch.
    // Newness resolves via two joins against the batch's id set rather
    // than flags inside the bucket lists, so the native IdPairs kernel
    // stays allocation-free on non-matches; AQE broadcasts the id set
    // when it is small (no hard hint — batches can be arbitrarily big).
    val newIds = sets.select(col("id")).withColumn("__new", lit(true))
    // candidates materialized: they feed the verification join AND the
    // candidate-id set that prunes the set store below — and they are
    // small (bucket-cap-bounded, ∝ batch on realistic corpora)
    // cap on the TOTAL (store + batch) bucket size — same rule, same
    // shared helper, as the full-corpus run applies to the whole bucket
    val candidates = Dedup.bucketCandidates(members,
        Seq("band", "bucket"), cfg.maxBucket)
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_a", "__new" -> "__na")), Seq("id_a"), "left")
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_b", "__new" -> "__nb")), Seq("id_b"), "left")
      .filter(coalesce(col("__na"), lit(false)) ||
        coalesce(col("__nb"), lit(false)))
      .select("id_a", "id_b")
      .localCheckpoint(true)
    // verification sets: batch ids resolve from the batch staging, old
    // ids from the id-bucketed store — PRUNED to candidate ids FIRST.
    // Without the semi-filter the sort-merge join shuffles the whole
    // set store every ingest (measured: a 1% batch cost as much as a
    // 10% batch at 1M docs, both dominated by the 990k-set shuffle);
    // with it, only candidate sets — batch-proportional — leave the
    // scan. AQE broadcasts the candidate-id set when small; huge
    // candidate sets degrade to a sort-merge semi, never to an OOM.
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id"))).distinct()
    val allSets =
      if (wh.exists(setTable)) wh.readBucketed(setTable).unionByName(sets)
      else sets
    val tagged = allSets
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id").as("__tid"), col("hset").as("__sh"))
    candidates
      .join(tagged, col("id_a") === col("__tid"))
      .withColumnRenamed("__sh", "sh_a").drop("__tid")
      .join(tagged, col("id_b") === col("__tid"))
      .withColumnRenamed("__sh", "sh_b").drop("__tid")
      .withColumn("jaccard", Dedup.exactJaccardFromSets(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= cfg.threshold)
      .select("id_a", "id_b", "jaccard")
      .localCheckpoint(true) // BEFORE the append — see scaladoc
  }
}

object MinhashStore {
  /** [[MinhashStore.ingestParts]]' driver-route gate in batch documents,
    * set from where the driver route stops winning (ScaleProbe `mhgate`,
    * 4 vCPU, 5%-near-dup corpus, median of 3 per route): it is faster up
    * to 8,000 documents over a 400k-document store (4.4 vs 4.9 s) and
    * slower from 12,000 (5.4 vs 5.0 s); over a 100k-document store the
    * crossover is near 24,000. The collected (id, mins, hset) rows are
    * ~1 KB each, so the route's collects stay near 10 MB. */
  private[graft] val MaxDriverDocs: Long = 1L << 13

  /** [[Pipeline.CurationStore]]'s batch-collect gate in documents: up to
    * here the ingest's pre-filter (tokenize → score → redact →
    * decontaminate), folded on one driver thread, is not slower than its
    * Spark route (ScaleProbe `mhgate`, 4 vCPU, 120-token documents, median
    * of 3 per route: 1.34 vs 1.47 s at 1,500, 1.68 vs 1.67 s at 1,750,
    * 1.99 vs 1.69 s at 2,000, 6.0 vs 3.7 s at 8,000). A larger delta
    * pre-filters on Spark and rejoins the driver route at [[MaxDriverDocs]]. */
  private[graft] val MaxDriverPreFilterDocs: Long = 1750

  /** The rows of a store's two tables held on the driver, as
    * [[MinhashStore.extendResident]] adds them: the signature table as
    * its (band, bucket) → ids index and the set table as id → sets, each
    * the multiset a read of the table returns.
    * [[footprint]] counts the rows held plus their set elements. */
  private[graft] final class Resident {
    import scala.collection.mutable
    private[operators] val sig =
      mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
    private[operators] val sets =
      mutable.HashMap.empty[Long, mutable.ArrayBuffer[Array[Long]]]
    private var units = 0L
    def footprint: Long = units
    private[operators] def addSig(id: Long, band: Int, bucket: String): Unit = {
      sig.getOrElseUpdate((band, bucket), mutable.ArrayBuffer.empty) += id
      units += 1
    }
    // a set is kept unboxed; a null set stays null, as a read returns it
    private[operators] def addSet(id: Long, hset: Seq[Long]): Unit = {
      sets.getOrElseUpdate(id, mutable.ArrayBuffer.empty) +=
        (if (hset == null) null else hset.toArray)
      units += 1 + (if (hset == null) 0 else hset.size)
    }
    private[operators] def asSeq(a: Array[Long]): Seq[Long] =
      if (a == null) null else scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  /** Jaccard of two distinct-hash sets, as [[Dedup.exactJaccardFromSets]]
    * computes it: |A ∩ B| / |A ∪ B|, 0.0 for an empty union. */
  private[operators] def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val (x, y) = (a.toSet, b.toSet)
    val inter = x.count(y)
    val union = x.size + y.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** Incremental IVF ANN corpus: the build/serve split of
  * [[Similarity.ivfTopK]] with an APPENDABLE serve table. Cell
  * assignment is per-vector against a frozen centroid set, so appending
  * a batch is exactly `assignCells(batch) → bucketed append` — serve
  * results over incrementally-built and all-at-once-built tables are
  * identical (oracle-verified, q73). The cell-bucketed layout means the
  * serve join reads the corpus bucket-aligned: no corpus-side shuffle.
  *
  * Centroids are the store's identity — append with a different
  * centroid set and the index is silently wrong. Callers freeze them at
  * store creation (train once on a representative sample; re-train =
  * new store + rebuild), which is the standard IVF contract. */
final class IvfStore(protected val wh: graft.sources.Warehouse, name: String,
                     centroids: DataFrame, nStoreBuckets: Int = 64)
    extends KeyedStore[Unit] {
  // appends land in the live directory; [[compact]] publishes a new
  // version of it
  private val tableSpec = StoreCompaction.TableSpec(s"${name}_ivf")
  private def table: String = wh.live(tableSpec.base)
  protected def label = s"IvfStore '$name'"
  private[graft] def tables = Seq(tableSpec)

  // the frozen-centroid contract, made self-enforcing: a fingerprint of
  // the actual centroid values (bounded collect — one row per cell,
  // the same control read assignCells performs) is recorded at first
  // append and validated on every append and serve, so a handle built
  // on a retrained centroid set fails fast instead of silently
  // assigning cells the stored vectors were not bucketed under
  private lazy val centroidFp: Long = {
    val rows = centroids.select(col("cell").cast("int"),
        col("cvec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).map(
        java.lang.Double.doubleToLongBits)))
      .sortBy(_._1)
    scala.util.hashing.MurmurHash3
      .orderedHash(rows.map(t =>
        scala.util.hashing.MurmurHash3.orderedHash(t._2) ^ t._1))
      .toLong & 0xffffffffL
  }
  private def storeParams = Seq("centroidFp" -> centroidFp.toString)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           vecCol: String): Unit = {
    wh.paramsSpecValidated(table, storeParams)
    wh.appendBucketed(table,
      Similarity.assignCells(batch, idCol, vecCol, centroids),
      Seq("cell"), nStoreBuckets)
  }

  def serve(queries: DataFrame, idCol: String, vecCol: String, k: Int,
            nProbes: Int): DataFrame = {
    graft.sources.StoreTxn.recoverIfIdle(queries.sparkSession, wh.root)
    wh.paramsSpecValidated(table, storeParams, writeIfAbsent = false)
    Similarity.ivfTopKAssigned(wh.readBucketed(table), queries, idCol,
      vecCol, k, centroids, nProbes)
  }
}

/** Parameters of a precomputed-signature hamming store — the chunk
  * layout must cover all 64 bits for exactness at `maxDist < chunks`
  * (see [[Dedup.signatureNearDupPairs]]). */
final case class HammingConfig(maxDist: Int = 3, chunks: Int = 4,
                               chunkBits: Int = 16, maxBucket: Int = 10000,
                               nStoreBuckets: Int = 32)

/** Persisted hamming store over PRECOMPUTED 64-bit signatures — the
  * incremental form of [[Dedup.signatureNearDupPairs]], and the
  * [[SimhashStore]] for signatures the caller supplies (perceptual
  * image hashes from [[Multimodal.dHash]], 1-bit sign codes from
  * [[Quantization.signBits]], any external fingerprint). One table,
  * `<name>_hm_sig` (id, sig, chunk, cval) bucketed by (chunk, cval).
  * Same equivalence contract as the family: batch-wise ingestion emits
  * exactly the pairs the one-shot operator finds on the union, each
  * pair once, at the ingest of its later endpoint. Null signatures
  * never enter the store (they cannot match anything). */
final class HammingStore(protected val wh: graft.sources.Warehouse,
                         name: String, cfg: HammingConfig)
    extends KeyedStore[DataFrame] {
  require(cfg.maxDist < cfg.chunks,
    s"pigeonhole needs maxDist < chunks: ${cfg.maxDist} >= ${cfg.chunks}")
  require(cfg.chunks * cfg.chunkBits <= 64,
    s"chunk layout ${cfg.chunks}x${cfg.chunkBits} exceeds 64 bits")
  private def sigParams = Seq(
    "chunks" -> cfg.chunks.toString, "chunkBits" -> cfg.chunkBits.toString)
  private val sigSpec = StoreCompaction.TableSpec(s"${name}_hm_sig")
  private def sigTable = wh.live(sigSpec.base)
  protected def label = s"HammingStore '$name'"
  private[graft] def tables = Seq(sigSpec)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           sigCol: String): DataFrame = {
    wh.paramsSpecValidated(sigTable, sigParams)
    // SAME staging as the one-shot operator — the equivalence contract
    // depends on both sides chunking identically
    val chunked = Dedup.hammingStage(batch, idCol, sigCol,
      cfg.chunks, cfg.chunkBits).localCheckpoint(true)
    // store rows for the buckets this batch touches; AQE sizes the
    // semi join (no hard hint — see MinhashStore.ingest)
    val touched =
      if (wh.exists(sigTable))
        wh.readBucketed(sigTable).join(
          chunked.select("chunk", "cval").distinct(),
          Seq("chunk", "cval"), "left_semi")
      else chunked.limit(0)
    val members = touched.unionByName(chunked)
    val newIds = chunked.select(col("id")).distinct()
      .withColumn("__new", lit(true))
    val pairs = Dedup.hammingCandidates(members,
        Seq("chunk", "cval"), cfg.maxBucket, cfg.maxDist)
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_a", "__new" -> "__na")), Seq("id_a"), "left")
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_b", "__new" -> "__nb")), Seq("id_b"), "left")
      .filter(coalesce(col("__na"), lit(false)) ||
        coalesce(col("__nb"), lit(false)))
      .select("id_a", "id_b", "hamming")
      .localCheckpoint(true) // BEFORE the append — see MinhashStore
    wh.appendBucketed(sigTable, chunked, Seq("chunk", "cval"),
      cfg.nStoreBuckets)
    pairs
  }
}

/** Persisted IVFADC corpus — the incremental form of
  * [[Quantization.ivfAdcTopKEncoded]]'s serving layout: one
  * cell-bucketed table of (id, cell, code, vec), where `code` is the
  * m-byte residual PQ code and `vec` rides along for the exact
  * rescore. Appending a batch is exactly `pqEncodeResidual(batch) →
  * bucketed append` (assignment and encoding are per-vector against
  * frozen centroids/codebooks), so incrementally-built and
  * one-shot-built stores serve identically. The candidate pass reads
  * only (id, cell, code) — parquet column pruning keeps the heavy
  * vector column out of the hot scan.
  *
  * Centroids AND codebooks are the store's identity (the
  * [[IvfStore]] frozen-centroid rule, extended): fingerprints of both
  * are recorded at first append and validated on every append and
  * serve, so a handle built on retrained parameters fails fast. */
final class IvfAdcStore(protected val wh: graft.sources.Warehouse,
                        name: String, centroids: DataFrame,
                        books: Seq[Seq[(Int, Array[Double])]],
                        nStoreBuckets: Int = 64)
    extends KeyedStore[Unit] {
  private val tableSpec = StoreCompaction.TableSpec(s"${name}_adc")
  private def table: String = wh.live(tableSpec.base)
  protected def label = s"IvfAdcStore '$name'"
  private[graft] def tables = Seq(tableSpec)

  private lazy val centroidFp: Long = {
    val rows = centroids.select(col("cell").cast("int"),
        col("cvec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).map(
        java.lang.Double.doubleToLongBits)))
      .sortBy(_._1)
    scala.util.hashing.MurmurHash3
      .orderedHash(rows.map(t =>
        scala.util.hashing.MurmurHash3.orderedHash(t._2) ^ t._1))
      .toLong & 0xffffffffL
  }
  private lazy val booksFp: Long = {
    val bits = books.flatMap(_.sortBy(_._1).flatMap(_._2))
      .map(java.lang.Double.doubleToLongBits)
    scala.util.hashing.MurmurHash3.orderedHash(bits).toLong & 0xffffffffL
  }
  private def storeParams = Seq("centroidFp" -> centroidFp.toString,
    "booksFp" -> booksFp.toString,
    "m" -> books.size.toString, "ksub" -> books.head.size.toString)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           vecCol: String): Unit = {
    wh.paramsSpecValidated(table, storeParams)
    wh.appendBucketed(table,
      Quantization.pqEncodeResidual(batch, idCol, vecCol, centroids, books)
        .join(batch.select(col(idCol).as("id"), col(vecCol).as("vec")),
          Seq("id")),
      Seq("cell"), nStoreBuckets)
  }

  def serve(queries: DataFrame, idCol: String, vecCol: String, k: Int,
            nProbes: Int, rescoreFactor: Int = 4): DataFrame = {
    graft.sources.StoreTxn.recoverIfIdle(queries.sparkSession, wh.root)
    wh.paramsSpecValidated(table, storeParams, writeIfAbsent = false)
    val t = wh.readBucketed(table)
    Quantization.ivfAdcTopKEncoded(
      t.select("id", "cell", "code"),
      t.select(col("id").as(idCol), col("vec").as(vecCol)),
      queries, idCol, vecCol, k, centroids, books, nProbes, rescoreFactor)
  }
}

/** Parameters of a hyperplane-LSH embedding store. `planes` pins the
  * hyperplane tables explicitly (they are the store's identity, like
  * IVF centroids); otherwise they derive deterministically from
  * (tables, bitsPerTable, dim, seed). */
final case class EmbeddingLshConfig(threshold: Double, dim: Int,
                                    tables: Int = 8, bitsPerTable: Int = 12,
                                    seed: Long = 42L, maxBucket: Int = 10000,
                                    nStoreBuckets: Int = 32,
                                    planes: Option[Seq[Seq[Seq[Double]]]] = None)

/** Persisted hyperplane-LSH store for incremental SEMANTIC near-dup
  * detection — [[MinhashStore]] for embeddings. Two tables under `wh`:
  *
  *  - `<name>_el_sig` (id, tbl, sig) bucketed by (tbl, sig) — the LSH
  *    index, read bucket-aligned at ingest (no store-side shuffle);
  *  - `<name>_el_vec` (id, vec) bucketed by id — the vectors the exact
  *    cosine verification re-joins, pruned to candidate ids first.
  *
  * Same equivalence contract as [[MinhashStore]] (oracle-verified,
  * q78): batch-wise ingestion emits exactly the pairs
  * [[Similarity.lshNearDupPairs]] finds on the union, each pair once,
  * at the ingest of its later endpoint — and the same `maxBucket`
  * growth caveat. The hyperplane tables are frozen at store creation:
  * ingesting with a different config would band new vectors into an
  * incompatible signature space. */
final class EmbeddingLshStore(protected val wh: graft.sources.Warehouse,
                              name: String, cfg: EmbeddingLshConfig)
    extends KeyedStore[DataFrame] {
  private val sigSpec = StoreCompaction.TableSpec(s"${name}_el_sig")
  private val vecSpec = StoreCompaction.TableSpec(s"${name}_el_vec")
  private def sigTable = wh.live(sigSpec.base)
  private def vecTable = wh.live(vecSpec.base)
  protected def label = s"EmbeddingLshStore '$name'"
  private[graft] def tables = Seq(sigSpec, vecSpec)
  private val planeTables = cfg.planes.getOrElse(
    (0 until cfg.tables).map(t =>
      graft.functions.VectorFunctions.randomPlanes(
        cfg.bitsPerTable, cfg.dim, cfg.seed + t)))

  // the planes ARE the signature space (explicitly pinned or derived
  // from dim/tables/bits/seed), so the sidecar records a fingerprint
  // of their actual values — catching both config drift and a caller
  // pinning different planes to the same store
  private val planesFp: Long = {
    val bits = planeTables.flatten.flatten
      .map(java.lang.Double.doubleToLongBits)
    scala.util.hashing.MurmurHash3.orderedHash(bits).toLong & 0xffffffffL
  }
  private def sigParams = Seq(
    "dim" -> cfg.dim.toString, "tables" -> cfg.tables.toString,
    "bitsPerTable" -> cfg.bitsPerTable.toString,
    "planesFp" -> planesFp.toString)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           vecCol: String): DataFrame = {
    wh.paramsSpecValidated(sigTable, sigParams)
    import graft.functions.VectorFunctions.{cosineFromParts, dot, norm}
    val banded = Similarity.hyperplaneBanded(batch, idCol, vecCol,
      planeTables).localCheckpoint(true)
    val vecs = batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint(true)
    // store rows for the buckets this batch touches; AQE sizes the semi
    // join (no hard hint — see MinhashStore.ingest)
    val touched =
      if (wh.exists(sigTable))
        wh.readBucketed(sigTable).join(
          banded.select("tbl", "sig").distinct(),
          Seq("tbl", "sig"), "left_semi")
      else banded.limit(0)
    val members = touched.unionByName(banded)
    val newIds = vecs.select(col("id")).withColumn("__new", lit(true))
    val candidates = Dedup.bucketCandidates(members,
        Seq("tbl", "sig"), cfg.maxBucket)
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_a", "__new" -> "__na")), Seq("id_a"), "left")
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_b", "__new" -> "__nb")), Seq("id_b"), "left")
      .filter(coalesce(col("__na"), lit(false)) ||
        coalesce(col("__nb"), lit(false)))
      .select("id_a", "id_b")
      .localCheckpoint(true)
    // verification vectors: candidate-id-pruned BEFORE the join, norms
    // once per id row (the MinhashStore set-table pattern — without the
    // semi-filter every ingest would shuffle the whole vector store)
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id"))).distinct()
    val allVecs =
      if (wh.exists(vecTable)) wh.readBucketed(vecTable).unionByName(vecs)
      else vecs
    val tagged = allVecs
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id").as("__tid"), col("vec").as("__tv"),
        norm(col("vec")).as("__tn"))
    val pairs = candidates
      .join(tagged, col("id_a") === col("__tid"))
      .select(col("id_a"), col("id_b"),
        col("__tv").as("__va"), col("__tn").as("__na"))
      .join(tagged, col("id_b") === col("__tid"))
      .select(col("id_a"), col("id_b"),
        cosineFromParts(dot(col("__va"), col("__tv")),
          col("__na"), col("__tn")).as("sim"))
      .filter(col("sim") >= cfg.threshold)
      .localCheckpoint(true) // BEFORE the appends — see MinhashStore
    graft.core.Par.both(
      wh.appendBucketed(sigTable, banded, Seq("tbl", "sig"),
        cfg.nStoreBuckets),
      wh.appendBucketed(vecTable, vecs, Seq("id"), cfg.nStoreBuckets))
    pairs
  }
}

/** Parameters of a SimHash signature store — see [[simhashPortablePairs]]
  * for how to size `chunks`×`chunkBits` to the corpus. */
final case class SimhashConfig(maxDist: Int = 3, seed: Long = 42L,
                               maxBucket: Int = 10000, chunks: Int = 4,
                               chunkBits: Int = 12, nStoreBuckets: Int = 32)

/** Persisted SimHash store — the [[MinhashStore]] twin. One table,
  * `<name>_sh_sig` (id, sig, chunk, cval) bucketed by (chunk, cval):
  * the signature doubles as the verifier (Hamming distance), so no
  * separate set table is needed. Same equivalence contract and
  * cap caveat as [[MinhashStore]] (oracle-verified, q66). */
final class SimhashStore(protected val wh: graft.sources.Warehouse,
                         name: String, cfg: SimhashConfig)
    extends KeyedStore[DataFrame] {
  require(cfg.maxDist < cfg.chunks,
    s"pigeonhole needs maxDist < chunks: ${cfg.maxDist} >= ${cfg.chunks}")
  private def sigParams = Seq(
    "seed" -> cfg.seed.toString, "chunks" -> cfg.chunks.toString,
    "chunkBits" -> cfg.chunkBits.toString,
    "scriptAwareTokens" ->
      graft.functions.TextFunctions.scriptAwareEnabled.toString)
  private val sigSpec = StoreCompaction.TableSpec(s"${name}_sh_sig")
  private def sigTable = wh.live(sigSpec.base)
  protected def label = s"SimhashStore '$name'"
  private[graft] def tables = Seq(sigSpec)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    // signature-space identity — see MinhashStore.ingest
    wh.paramsSpecValidated(sigTable, sigParams)
    val chunked = Dedup.simhashStage(batch, idCol, textCol,
      cfg.seed, cfg.chunks, cfg.chunkBits).localCheckpoint(true)
    // no hard broadcast hint — see MinhashStore.ingest on AQE sizing
    val touched =
      if (wh.exists(sigTable))
        wh.readBucketed(sigTable).join(
          chunked.select("chunk", "cval").distinct(),
          Seq("chunk", "cval"), "left_semi")
      else chunked.limit(0)
    val members = touched.unionByName(chunked)
    val newIds = chunked.select(col("id")).distinct()
      .withColumn("__new", lit(true))
    val pairs = Dedup.hammingCandidates(members,
        Seq("chunk", "cval"), cfg.maxBucket, cfg.maxDist)
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_a", "__new" -> "__na")), Seq("id_a"), "left")
      .join(newIds.withColumnsRenamed(
        Map("id" -> "id_b", "__new" -> "__nb")), Seq("id_b"), "left")
      .filter(coalesce(col("__na"), lit(false)) ||
        coalesce(col("__nb"), lit(false)))
      .select("id_a", "id_b", "hamming")
      .localCheckpoint(true) // BEFORE the append — see MinhashStore
    wh.appendBucketed(sigTable, chunked, Seq("chunk", "cval"), cfg.nStoreBuckets)
    pairs
  }
}


final case class ContainmentConfig(shingleN: Int, threshold: Double,
                                   maxDocFreq: Long = 1000L,
                                   nStoreBuckets: Int = 32,
                                   // denominator-join route gate: size
                                   // side under this estimate →
                                   // broadcast + fused single-job
                                   // ingest; over → prune-to-candidates
                                   // + merge (see writeBatch). 0 forces
                                   // the pruned path. 4 MB ≈ a few
                                   // hundred k docs — at 1M both
                                   // routes measure ~16 s (recall
                                   // identical), so the gate is set
                                   // small to BOUND broadcast memory
                                   // pressure, keeping the fused
                                   // single-job win for the
                                   // maintenance micro-batches it
                                   // exists for.
                                   broadcastSizesBytes: Long = 4L << 20)

/** Persisted shingle-postings store for incremental CONTAINMENT dedup —
  * the swallowed-document signal ([[Dedup.ngramContainmentPairs]]) as a
  * batch-cost ingest, completing the incremental arm the rest of the
  * dedup family already has. Two tables under `wh`:
  *
  *  - `<name>_ct_post` (id, shingle), bucketed by shingle — the
  *    candidate index. The ingest's touched-postings semi-join reads it
  *    bucket-aligned: no store-side shuffle, ever.
  *  - `<name>_ct_size` (id, sz), bucketed by id — each doc's TRUE
  *    distinct-shingle count, the asymmetric denominators (the batch
  *    form's explode-count trick, paid once at the doc's own ingest).
  *
  * [[ingest]] returns every containment pair with at least one endpoint
  * in the batch: (id_a, id_b, cont_a, cont_b), id_a < id_b,
  * max(cont) ≥ threshold. Equivalence contract (oracle-verified, q155):
  * ingesting B1…Bn yields, across all ingests, exactly the pairs
  * [[Dedup.ngramContainmentPairs]] finds on B1∪…∪Bn — each pair once,
  * at the ingest of its later endpoint — provided ids are unique across
  * batches AND no shingle's document frequency crosses `maxDocFreq`
  * between ingests. The cap is evaluated against the shingle's
  * store+batch df at ingest time, exactly like the full-corpus window;
  * a shingle that grows past it later keeps the pairs it emitted while
  * under it (the MinhashStore caveat, same deliberate choice: pairs are
  * never retracted). `common` under the cap is a LOWER bound, so the
  * threshold stays conservative — see the batch form's scaladoc. */
final class ContainmentStore(protected val wh: graft.sources.Warehouse,
                             name: String, cfg: ContainmentConfig)
    extends KeyedStore[DataFrame] {
  private def postParams = Seq(
    "shingleN" -> cfg.shingleN.toString,
    "maxDocFreq" -> cfg.maxDocFreq.toString,
    "scriptAwareTokens" ->
      graft.functions.TextFunctions.scriptAwareEnabled.toString)
  private val postSpec = StoreCompaction.TableSpec(s"${name}_ct_post")
  private val sizeSpec = StoreCompaction.TableSpec(s"${name}_ct_size")
  private def postTable = wh.live(postSpec.base)
  private def sizeTable = wh.live(sizeSpec.base)
  protected def label = s"ContainmentStore '$name'"
  private[graft] def tables = Seq(postSpec, sizeSpec)

  protected def writeBatch(batch: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    // shingle-space identity: stored postings are only comparable to
    // batches shingled under the same n / tokenizer mode, and the df
    // cap is part of the pair semantics — fail fast on drift
    wh.paramsSpecValidated(postTable, postParams)
    // batch staging materialized once — feeds candidate generation,
    // the size branch, and both appends. Batch-sized (ids + shingles).
    val sh = Dedup.shingleStage(batch, idCol, textCol, cfg.shingleN)
      .localCheckpoint(true)
    // an empty batch pairs with nothing and appends nothing — return
    // the empty result without paying the candidate pipeline, the
    // transaction's append jobs, or (in a maintenance stream) the
    // store-read semi joins. One cheap emptiness probe on the
    // materialized staging (the connectedComponentsIncremental idiom).
    if (sh.isEmpty)
      return sh.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cont_a"), lit(0.0).as("cont_b")).limit(0)
    // batch sizes: a cheap aggregation over the CHECKPOINTED staging —
    // deliberately not its own checkpoint (a whole extra job); each of
    // its two consumers (denominator union, size append) re-derives it
    // from sh's cached blocks in one map-side-combined pass
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // store postings for the shingles this batch carries — every
    // shared shingle of a (store, batch) pair is by definition in the
    // batch's set, so `touched` covers all cross pairs. No broadcast
    // hint — see MinhashStore.ingest on AQE sizing. SMALL stores (same
    // metadata gate as the denominators) skip the prune entirely:
    // AQE's semi join must first collect-and-broadcast the batch's
    // distinct-shingle set, which costs more than just scanning a
    // young store whole — non-batch shingles' groups only ever form
    // old–old pairs, which the newness filter below drops, so the
    // output is identical on both routes (spec-pinned with the
    // denominator routes).
    val storeExists = wh.exists(postTable)
    val touched =
      if (!storeExists) sh.limit(0)
      else {
        val post = wh.readBucketed(postTable)
        if (post.queryExecution.optimizedPlan.stats.sizeInBytes <=
            BigInt(cfg.broadcastSizesBytes)) post
        else post.join(
          sh.select("shingle").distinct(), Seq("shingle"), "left_semi")
      }
    val members = touched.unionByName(sh)
    // df cap via a WINDOW COUNT over members BEFORE any collect — the
    // cappedPairCounts discipline: a hot shingle (10M stored postings
    // at web scale) is dropped by the filter without ever materializing
    // its id array in an aggregation buffer; the window and the groupBy
    // share the shingle partitioning, so this is still one exchange
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val bounded = members
      .withColumn("__df", count(lit(1)).over(dfw))
      .filter(col("__df") >= 2 && col("__df") <= lit(cfg.maxDocFreq))
      .select("id", "shingle")
    // in-group (i < j) pairs with MULTIPLICITY kept — the per-pair
    // count IS `common`, cap already applied to the TOTAL store+batch
    // group above
    val counted = bounded.groupBy("shingle")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(explode(Dedup.idPairs(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common"))
    // old–old pairs were emitted at the later endpoint's own ingest —
    // keep only pairs touching this batch (left joins + coalesce, the
    // SimhashStore newness idiom). FIRST ingest: no store, every pair
    // touches the batch trivially — skip the joins outright.
    val newIds = sh.select(col("id")).distinct()
      .withColumn("__new", lit(true))
    val candidates =
      if (!storeExists) counted
      else counted
        .join(newIds.withColumnsRenamed(
          Map("id" -> "id_a", "__new" -> "__na")), Seq("id_a"), "left")
        .join(newIds.withColumnsRenamed(
          Map("id" -> "id_b", "__new" -> "__nb")), Seq("id_b"), "left")
        .filter(coalesce(col("__na"), lit(false)) ||
          coalesce(col("__nb"), lit(false)))
        .select("id_a", "id_b", "common")
    // denominators: batch sizes from staging, old sizes from the
    // id-bucketed store. TWO routes on the size side's metadata-only
    // optimizer estimate (the BigQueryWarehouse.load routing idiom):
    //
    //  - SMALL (young store, the maintenance-stream common case):
    //    broadcast the whole size side into two hash joins and leave
    //    the candidate pipeline UNMATERIALIZED — candidates then have
    //    exactly one consumer, so the window → pair-count → newness →
    //    denominator chain fuses into the single job that materializes
    //    `pairs` (measured: this halves the q155 board entry — the
    //    separate candidate checkpoint plus three merge-join exchanges
    //    were pure per-ingest overhead at this scale).
    //  - LARGE: the r9 shape — checkpoint candidates, prune the size
    //    side to candidate ids first (only candidate-proportional rows
    //    leave the scan, the MinhashStore set-store lesson), and merge
    //    join (candidates descend from an explode, their size estimate
    //    is garbage — a hash hint could OOM; see Dedup.joinSizes).
    val allSizes =
      if (wh.exists(sizeTable)) wh.readBucketed(sizeTable).unionByName(sizes)
      else sizes
    // metadata-only estimate: parquet file sizes for the store side +
    // the optimizer's estimate of the batch agg. Under the gate the
    // fused single-job ingest wins (maintenance micro-batches); past it
    // the pruned path's candidate-proportional joins beat the
    // ever-growing broadcast build.
    val sizesSmall = allSizes.queryExecution.optimizedPlan.stats
      .sizeInBytes <= BigInt(cfg.broadcastSizesBytes)
    val pairs0 =
      if (sizesSmall) {
        val szB = broadcast(allSizes)
        candidates
          .join(szB.withColumnsRenamed(
            Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
          .join(szB.withColumnsRenamed(
            Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      } else {
        val candidatesMat = candidates.localCheckpoint(true)
        val candIds = candidatesMat.select(col("id_a").as("id"))
          .union(candidatesMat.select(col("id_b").as("id"))).distinct()
        val szTagged = allSizes.join(candIds, Seq("id"), "left_semi")
        candidatesMat.hint("merge")
          .join(szTagged.withColumnsRenamed(
            Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
          .join(szTagged.withColumnsRenamed(
            Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      }
    val pairs = pairs0
      .withColumn("cont_a",
        col("common").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b",
        col("common").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= cfg.threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
      .localCheckpoint(true) // BEFORE the appends — see MinhashStore
    graft.core.Par.both(
      wh.appendBucketed(postTable, sh, Seq("shingle"), cfg.nStoreBuckets),
      wh.appendBucketed(sizeTable, sizes, Seq("id"), cfg.nStoreBuckets))
    pairs
  }
}
