package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming expression of the reference's incremental
  * semantics (SURVEY §2.9): the cron micro-batch + unprocessed-marker
  * pattern becomes a stream over the staging directory with checkpointed
  * progress; daily-tumbling ingestion becomes a watermarked window
  * aggregation; the per-key change detection of the metatags operation
  * becomes mapGroupsWithState.
  *
  * Batch remains the primary mode (the reference is cron-driven); these
  * give the same operators an always-on deployment without code changes —
  * staging writes are identical, only the reader differs.
  */
object Streaming {

  /** Stream over a staging collection directory: every file the batch
    * `StagingStore.append` writes becomes a micro-batch. The checkpoint
    * (set on the query) replaces the per-operation staging watermark. */
  def readStagingStream(spark: SparkSession, root: String, collection: String,
                        schema: StructType,
                        maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$root/staging/$collection")

  /** Daily tumbling counts/sums with late-data tolerance — the streaming
    * form of the reference's "data settles after N days" lag
    * (google_search_console.py:67: dateDaysAgo=3 ⇒ 3-day watermark). */
  def dailyMetrics(events: DataFrame, tsCol: String, valueCol: String,
                   keyCols: Seq[String],
                   lateness: String = "3 days"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), "1 day") +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select((Seq(col("window.start").as("day_start")) ++
        keyCols.map(col) ++ Seq(col("n"), col("total"))): _*)

  /** Streaming gap-based sessionization — the always-on form of
    * `Relational.sessionize` (batch q43/q44): `session_window` merges
    * events within `gap` of each other per key into one growing window;
    * the watermark bounds session state so abandoned sessions finalize
    * and evict instead of accumulating forever. */
  def sessionMetrics(events: DataFrame, tsCol: String, keyCols: Seq[String],
                     gap: String = "30 minutes",
                     lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((Seq(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end")) ++
        keyCols.map(col) :+ col("n_events")): _*)

  /** Streaming exactly-once-per-key: dropDuplicates with watermark — the
    * always-on version of the idempotent-append anti-join (§2.4). */
  def dedupeStream(df: DataFrame, tsCol: String, keys: Seq[String],
                   lateness: String = "1 day"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicates(keys :+ tsCol)

  /** Streaming threshold alerting — the always-on form of
    * alerting_check's whole-result mode (S10): windowed per-key counts
    * that cross `threshold` become alert rows in the
    * [[graft.plans.Alerting.alertSchema]] shape, ready for the same
    * queue + dispatcher chain the batch path uses. */
  def thresholdAlerts(events: DataFrame, tsCol: String, keyCols: Seq[String],
                      threshold: Long, group: String = "default",
                      windowLen: String = "1 hour",
                      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), windowLen) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .select(
        col("window.end").as("created"),
        lit(group).as("group"),
        concat_ws(" ",
          (lit("threshold") +: keyCols.map(col) :+
            col("n").cast("string")): _*).as("message"),
        to_json(struct((col("window.start") +: keyCols.map(col) :+
          col("n")): _*)).as("payload"))

  /** Exactly-once streaming sink into the warehouse. foreachBatch is
    * at-least-once (a recovered checkpoint RE-DELIVERS the in-flight
    * micro-batch with the SAME batchId), so the replay identity is the
    * batchId itself: each row is stamped with it and
    * [[graft.sources.Warehouse.idempotentAppend]] keys the anti-join on
    * `__batch_id` — a redelivered batch appends nothing, while new rows
    * for an already-seen business key in a LATER batch still land
    * (business-key dedup is a different operator: [[dedupeStream]], or
    * the batch anti-join at read time). */
  def warehouseSink(df: DataFrame, warehouse: graft.sources.Warehouse,
                    table: String, checkpoint: String,
                    partitionCol: String = "date",
                    trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    trigger.fold(writer)(writer.trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendBatch(warehouse, table, partitionCol)(batch.toDF(), batchId)
      }
      .start()
  }

  /** Cron-compatible catch-up: [[warehouseSink]] under
    * Trigger.AvailableNow — process everything currently available,
    * land it through the replay-safe path, then RETURN. Running it
    * again processes only what arrived since the last run; a run that
    * crashes mid-batch redelivers under the same batchId and appends
    * nothing twice. The checkpoint replaces the per-operation
    * staging watermark of the batch path. */
  def runAvailableNow(df: DataFrame, warehouse: graft.sources.Warehouse,
                      table: String, checkpoint: String,
                      partitionCol: String = "date"): Unit =
    warehouseSink(df, warehouse, table, checkpoint, partitionCol,
      Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      .awaitTermination()

  /** The per-micro-batch body of [[warehouseSink]], exposed so the
    * redelivery no-op is directly testable: append under the batchId
    * replay key. */
  def appendBatch(warehouse: graft.sources.Warehouse, table: String,
                  partitionCol: String = "date")
                 (batch: DataFrame, batchId: Long): Unit = {
    warehouse.idempotentAppend(table,
      batch.withColumn("__batch_id", lit(batchId)),
      keys = Seq("__batch_id"), partitionCol)
    ()
  }

  /** Always-on incremental curation: each micro-batch of documents is one
    * [[graft.operators.Pipeline.CurationStore.ingest]], and the resulting
    * kept/retracted deltas land in two warehouse tables partitioned by
    * `__batch_id` (replay anti-join reads only its own partition). The
    * curated corpus at any time is `keptTable` minus `retractedTable`
    * ids — exactly the batch contract, continuously maintained.
    *
    * The store's id-monotonicity contract transfers to the STREAM: docs
    * must arrive in globally increasing id order across micro-batches
    * (an ingest-time sequence number source satisfies this by
    * construction; out-of-order ids fail fast in `ingest`).
    *
    * Replay semantics: foreachBatch is at-least-once; each ingest is one
    * atomic [[graft.sources.StoreTxn]] transaction whose commit record
    * carries the max-id marker, and the delta appends run through
    * `ingest`'s `beforeCommit` hook — durable BEFORE the commit. A
    * redelivered micro-batch whose ingest COMMITTED (marker ≥ batch min
    * id) therefore skips safely; one that crashed mid-ingest rolls back
    * on redelivery and re-ingests cleanly — no external snapshot.
    *
    * The sink holds the store root's maintenance lease from start to
    * termination: a second sink on the same store fails fast instead of
    * silently interleaving ingests. */
  def curationSink(docs: DataFrame,
                   store: graft.operators.Pipeline.CurationStore,
                   warehouse: graft.sources.Warehouse,
                   keptTable: String, retractedTable: String,
                   checkpoint: String, idCol: String, textCol: String,
                   trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                   autoCompact: Option[CompactionPolicy] =
                     Some(CompactionPolicy()),
                   auditTable: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    leasedSink(docs, store.storeRoot, checkpoint, trigger)(
      withAutoCompact(store.storeRoot, autoCompact, store.compact())(
        curateBatch(store, warehouse, keptTable, retractedTable,
          idCol, textCol, auditTable)))

  // ------------------------------------------ shared sink plumbing
  //
  // Two store-maintenance sinks: [[storeSink]] for every keyed store,
  // and [[curationSink]], whose redelivery skip reads the curation
  // store's max-id marker. Both are the same scaffold: writeStream +
  // checkpoint + foreachBatch over a per-batch body, a maintenance
  // lease on the store root held from start to termination (released
  // by listener on the always-on form, synchronously on the catch-up
  // form), auto-compaction, and lease release on a failed start. ONE
  // implementation — a fix to the lease or listener logic is one edit.

  /** Self-triggered compaction policy for the always-on maintenance
    * sinks. Every micro-batch appends one file set per store table, so
    * a long-lived sink fragments the store and serve/ingest reads pay
    * per-file open/footer overhead growing with stream age (measured:
    * 100 micro-appends → 135k files, serve 39–45 s vs 0.7–0.9 s
    * compacted). With a policy set (the default), every `checkEvery`
    * micro-batches the sink counts the store root's data files and,
    * past `maxFiles`, runs the store's generation-rewrite `compact`
    * under the maintenance lease it already holds — serve cost stays
    * bounded with no operator runbook. Compaction rewrites rows
    * identically, so the policy affects layout and wall-time only,
    * never results; `None` restores operator-invoked compaction.
    *
    * Sizing: a compact rewrite costs roughly the store's total size in
    * IO (measured ≈ 9 appends' worth of wall); `maxFiles` well above
    * the per-compact floor (tables × nStoreBuckets) amortizes that to
    * a few percent of stream time. The file count is one recursive
    * listing every `checkEvery` batches — against the listing cost on
    * an object store, raise `checkEvery`, not `maxFiles`. */
  final case class CompactionPolicy(maxFiles: Int = 2048,
                                    checkEvery: Int = 8) {
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
  }

  /** Data files under a store root — what a serve read pays per-file
    * overhead for: parquet part files only. Metadata (`_txn`,
    * `_SUCCESS`, hidden files), anything in dot/underscore directories,
    * AND non-parquet files are excluded — a streaming checkpoint placed
    * under the store root (offsets/commits accrete one small file per
    * micro-batch and compact() never touches them) would otherwise
    * ratchet the count past `maxFiles` permanently and make the policy
    * fire a full store rewrite every `checkEvery` batches, forever. */
  private[graft] def dataFileCount(root: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
      else if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    val top = new java.io.File(root)
    Option(top.listFiles()).toSeq.flatten.map(walk).sum
  }

  /** Wrap a sink body with the auto-compaction check (after the batch,
    * so a triggered compact folds the batch that crossed the line). The
    * batch counter is per-query-instance; a restart re-counts from 0,
    * which only delays the next check — the file threshold itself is
    * stateless. */
  private def withAutoCompact(storeRoot: String,
      policy: Option[CompactionPolicy], doCompact: => Unit)
      (body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    policy match {
      case None => body
      case Some(p) =>
        val batches = new java.util.concurrent.atomic.AtomicLong(0L)
        (batch, batchId) => {
          body(batch, batchId)
          if (batches.incrementAndGet() % p.checkEvery == 0 &&
              dataFileCount(storeRoot) > p.maxFiles)
            doCompact
        }
    }

  private def startForeachBatch(docs: DataFrame, checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger],
      lease: Option[graft.sources.StoreTxn.SinkLease])
      (body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    try {
      val writer = docs.writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
      val query = trigger.fold(writer)(writer.trigger)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          body(batch.toDF(), batchId)
        }
        .start()
      lease.foreach(releaseOnTermination(docs.sparkSession, query, _))
      query
    } catch { case e: Throwable => lease.foreach(_.release()); throw e }

  /** Always-on form: lease acquired here, released by the termination
    * listener. */
  private def leasedSink(docs: DataFrame, storeRoot: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger])
      (body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lease = graft.sources.StoreTxn.acquireSink(storeRoot)
    startForeachBatch(docs, checkpoint, trigger, Some(lease))(body)
  }

  /** Catch-up form: AvailableNow, lease held for the run and released
    * synchronously — back-to-back catch-ups never race a listener. */
  private def leasedAvailableNow(docs: DataFrame, storeRoot: String,
      checkpoint: String)(body: (DataFrame, Long) => Unit): Unit = {
    val lease = graft.sources.StoreTxn.acquireSink(storeRoot)
    try startForeachBatch(docs, checkpoint,
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()), None)(
        body)
      .awaitTermination()
    finally lease.release()
  }

  /** Cron-compatible catch-up form of [[curationSink]]: ingest every
    * staged document batch currently available, then return. The lease
    * is held for the run and released synchronously — back-to-back
    * catch-ups never race a listener. */
  def runCurationAvailableNow(docs: DataFrame,
                              store: graft.operators.Pipeline.CurationStore,
                              warehouse: graft.sources.Warehouse,
                              keptTable: String, retractedTable: String,
                              checkpoint: String, idCol: String,
                              textCol: String,
                              autoCompact: Option[CompactionPolicy] =
                                Some(CompactionPolicy()),
                              auditTable: Option[String] = None): Unit =
    leasedAvailableNow(docs, store.storeRoot, checkpoint)(
      withAutoCompact(store.storeRoot, autoCompact, store.compact())(
        curateBatch(store, warehouse, keptTable, retractedTable,
          idCol, textCol, auditTable)))

  /** Release a sink's maintenance lease when its query terminates (for
    * always-on sinks whose lifetime the caller owns). */
  private def releaseOnTermination(spark: SparkSession,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      lease: graft.sources.StoreTxn.SinkLease): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          lease.release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // the query may have terminated before the listener registered
    if (!query.isActive) lease.release()
  }

  /** The per-micro-batch body of [[curationSink]], exposed so the
    * redelivery skip is directly testable. The delta appends run via
    * `ingest`'s `beforeCommit` hook — durable BEFORE the store's
    * transaction (whose commit record carries the max-id marker)
    * publishes — so the skip below ("marker already past this batch ⇒
    * everything landed") is sound: a crash after the appends but
    * before the commit redelivers into a clean retry (the transaction
    * rolls back on reopen), never into a skip that loses deltas. */
  def curateBatch(store: graft.operators.Pipeline.CurationStore,
                  warehouse: graft.sources.Warehouse,
                  keptTable: String, retractedTable: String,
                  idCol: String, textCol: String,
                  auditTable: Option[String] = None)
                 (batch: DataFrame, batchId: Long): Unit = {
    // fail fast on a non-integral id column: the min-cast below would
    // read null and silently skip EVERY batch (the store's own integral
    // require sits past the empty-batch return and would never trip)
    graft.operators.Pipeline.requireIntegralId(batch.schema, idCol,
      "curateBatch")
    val minId = batch.agg(min(col(idCol)).cast("long")).head()
    if (minId.isNullAt(0)) return // empty micro-batch
    if (store.maxIngestedId.exists(_ >= minId.getLong(0))) return // redelivery
    def append(table: String, rows: DataFrame): Unit =
      appendBatch(warehouse, table, "__batch_id")(rows, batchId)
    store.ingest(batch, idCol, textCol, beforeCommit = delta => {
      append(keptTable, delta.kept)
      append(retractedTable, delta.retracted)
      // drop-ledger table (opt-in): same durability argument as the
      // kept/retracted deltas — appended BEFORE the store transaction
      // publishes its skip key, keyed idempotent on the batch id
      auditTable.foreach(append(_, delta.audit.get))
    }, withAudit = auditTable.isDefined)
    ()
  }

  /** Always-on maintenance of a keyed store — one sink for the whole
    * incremental-store family (anything implementing
    * [[graft.operators.KeyedStore]]): each micro-batch is one
    * `ingestOnce` keyed on (checkpoint path, batchId) in the store's
    * commit-record ledger — completed keys skip on redelivery, crashed
    * ingests roll back and re-run. `beforeCommit` receives the batch's
    * result and id inside the ingest's transaction: a pair store's
    * verified pairs delta lands there, e.g. through
    * `appendBatch(warehouse, pairsTable, "__batch_id")` — durable BEFORE
    * the store transaction publishes its skip key, so a crash between
    * the two redelivers into a clean retry, never a silent pair loss
    * (the curation-sink argument). The union of such delta partitions is
    * exactly the incremental pair history the store's batch contract
    * defines (q65/q66/q78).
    *
    * The sink holds the store root's maintenance lease from start to
    * termination: a second sink on the same store fails fast. */
  def storeSink[R](docs: DataFrame, store: graft.operators.KeyedStore[R],
                   checkpoint: String, idCol: String, valueCol: String,
                   beforeCommit: (R, Long) => Unit = (_: R, _: Long) => (),
                   trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                   autoCompact: Option[CompactionPolicy] =
                     Some(CompactionPolicy()))
      : org.apache.spark.sql.streaming.StreamingQuery =
    leasedSink(docs, store.storeRoot, checkpoint, trigger)(
      withAutoCompact(store.storeRoot, autoCompact, store.compact())(
        storeBatch(store, checkpoint, idCol, valueCol, beforeCommit)))

  /** Cron-compatible catch-up form of [[storeSink]] — lease held for the
    * run, released synchronously. */
  def runStoreAvailableNow[R](docs: DataFrame,
                              store: graft.operators.KeyedStore[R],
                              checkpoint: String, idCol: String,
                              valueCol: String,
                              beforeCommit: (R, Long) => Unit =
                                (_: R, _: Long) => (),
                              autoCompact: Option[CompactionPolicy] =
                                Some(CompactionPolicy())): Unit =
    leasedAvailableNow(docs, store.storeRoot, checkpoint)(
      withAutoCompact(store.storeRoot, autoCompact, store.compact())(
        storeBatch(store, checkpoint, idCol, valueCol, beforeCommit)))

  private def storeBatch[R](store: graft.operators.KeyedStore[R],
      checkpoint: String, idCol: String, valueCol: String,
      beforeCommit: (R, Long) => Unit)(batch: DataFrame, batchId: Long): Unit = {
    store.ingestOnce(batch, idCol, valueCol, Some(s"$checkpoint#$batchId"),
      beforeCommit(_, batchId))
    ()
  }

  /** Stream-static enrichment join — the streaming form of matching a
    * small configured rules/lookup table (alert rules, urlset
    * classifications) against the event stream. The static side is
    * broadcast: the stream never shuffles and no join state accrues.
    * The static side re-EXECUTES each micro-batch, but a plain parquet
    * DataFrame pins its file listing at analysis — appended or
    * rewritten rule files are not picked up (an overwrite crashes the
    * query with missing files). For live-editable rules, pass a source
    * that re-resolves per execution (a JDBC/Delta source, or re-read +
    * restart on change); for config-file rules, restart the query — the
    * reference's cron model treats rule edits as deploys anyway. */
  def ruleMatches(events: DataFrame, rules: DataFrame,
                  keys: Seq[String]): DataFrame =
    events.join(broadcast(rules), keys)

  /** Watermarked stream-stream inner join: pair each left event with
    * right events for the same `key` whose timestamp falls in
    * [leftTs, leftTs + within]. Both sides carry watermarks and the
    * range condition bounds join state, so buffered rows evict once the
    * watermark passes — the always-on form of the previous-period /
    * as-of correlation joins (§2.4). Timestamp columns must be named
    * differently so the range condition is unambiguous. */
  def correlateStreams(left: DataFrame, leftTs: String,
                       right: DataFrame, rightTs: String,
                       key: String, within: String,
                       lateness: String = "1 hour"): DataFrame = {
    require(leftTs != rightTs,
      "left and right timestamp columns must have distinct names")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, l(key) === r(key) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"interval $within"))
      .drop(r(key))
  }

  /** Per-key change detection with custom state — the streaming form of
    * the as-of/lag comparison (metatags-has_title_changed): emits one row
    * per arriving record whose value differs from the key's previous
    * value, carrying the previous value as `diff`. */
  final case class KeyedValue(key: String, ts: java.sql.Timestamp, value: String)
  final case class Change(key: String, ts: java.sql.Timestamp,
                          value: String, previous: String)

  def changeDetection(input: Dataset[KeyedValue]): Dataset[Change] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.key)
      .flatMapGroupsWithState[String, Change](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[KeyedValue], state: GroupState[String]) =>
          // state = last seen value; process in ts order within the batch
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.value))
          val out = scala.collection.mutable.ArrayBuffer.empty[Change]
          var last = state.getOption.orNull
          sorted.foreach { r =>
            if (last == null || last != r.value)
              out += Change(key, r.ts, r.value, if (last == null) "" else last)
            last = r.value
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }
}
