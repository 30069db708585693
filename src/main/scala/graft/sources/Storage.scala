package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Relational

/** The engine's storage layer (SURVEY §7.1 step 4): parquet-backed staging
  * and warehouse stores replacing the reference's MongoDB staging and
  * BigQuery warehouse, with the same observable semantics:
  *
  *  - staging append + "unprocessed-only" incremental read via a
  *    per-operation high-water mark (the reference's `processed_<op>`
  *    markers, metatags.py:35-41,63-67 — a marker per document; here a
  *    watermark on ingest time, which gives the same exactly-once-per-doc
  *    guarantee without a second write per document);
  *  - warehouse partitioned append/truncate
  *    (bigquery_queries.py:18,89-116 write dispositions + day partitioning);
  *  - idempotent append: left-anti on declared keys against the pruned
  *    sink slice before writing (google_search_console.py:516-549).
  *
  * Scale notes: every store is a directory of parquet partitioned by a
  * date-derived column; Catalyst prunes partitions on read. A watermark
  * is one small file per (module, operation) holding an ISO-8601
  * instant, read and replaced with plain file I/O — it starts no Spark
  * job, and the replace is an atomic rename. Nothing here collects to
  * the driver except the watermark scalar.
  */
final class StagingStore(spark: SparkSession, root: String) {

  private def path(collection: String) = s"$root/staging/$collection"
  private def wmFile(collection: String, op: String) =
    new java.io.File(s"$root/watermarks", s"${collection}__$op.instant")

  /** The collection's recorded schema, next to its files; the leading
    * `_` hides it from the parquet reader. */
  private def schemaFile(collection: String) =
    new java.io.File(path(collection), "_graft_schema.json")

  /** Append a batch, stamping the ingest time used by incremental reads. */
  def append(collection: String, df: DataFrame): Unit =
    write(collection, df.withColumn("__ingested_at", current_timestamp()))

  /** Append with a caller-supplied ingest timestamp (deterministic tests). */
  def appendAt(collection: String, df: DataFrame, at: java.sql.Timestamp): Unit =
    write(collection, df.withColumn("__ingested_at", lit(at)))

  /** An append must carry the recorded columns (see [[SchemaSidecar]]);
    * the append that creates the collection records its frame's schema. */
  private def write(collection: String, df: DataFrame): Unit = {
    val what = s"staging collection '$collection'"
    SchemaSidecar.requireRecorded(schemaFile(collection), path(collection), what)
    SchemaSidecar.checkOrRecord(schemaFile(collection), df.schema, what)
    df.write.mode(SaveMode.Append).parquet(path(collection))
  }

  /** Read with the recorded schema: no inference job. */
  def readAll(collection: String): DataFrame = {
    val f = schemaFile(collection)
    SchemaSidecar.requireRecorded(f, path(collection),
      s"staging collection '$collection'")
    require(f.isFile, s"staging collection '$collection' not found at ${path(collection)}")
    spark.read.schema(SchemaSidecar.read(f)).parquet(path(collection))
  }

  /** The staged rows split at `op`'s watermark into (unprocessed,
    * history): ingest time strictly after it, and at or before it. Both
    * halves come from ONE file listing, and each filter lands on the
    * parquet scan (pushdown). With no watermark, everything is
    * unprocessed and the history is empty. */
  def readSplit(collection: String, op: String): (DataFrame, DataFrame) = {
    val all = readAll(collection)
    watermark(collection, op) match {
      case Some(wm) => (all.filter(col("__ingested_at") > lit(wm)),
        all.filter(col("__ingested_at") <= lit(wm)))
      case None => (all, all.limit(0))
    }
  }

  /** Set the op watermark to `ts`: write a temp file, then rename it over
    * the marker, so a crash leaves either the old or the new instant.
    * Call AFTER the downstream write succeeded — a crash before this
    * point re-processes the batch (at-least-once), and the warehouse's
    * idempotent append turns that into exactly-once. */
  def advanceWatermarkTo(collection: String, op: String,
                         ts: java.sql.Timestamp): Unit =
    StoreTxn.writeAtomic(wmFile(collection, op), ts.toInstant.toString)

  /** The op watermark, exact to the nanosecond; None before the first
    * advance. A leftover temp file from a crashed write is never read.
    * The one-row parquet table earlier versions kept instead is refused:
    * ignoring it would reprocess every staged row. */
  def watermark(collection: String, op: String): Option[java.sql.Timestamp] = {
    val f = wmFile(collection, op)
    val marker = new java.io.File(s"$root/watermarks", s"${collection}__$op")
    require(!marker.exists(),
      s"watermark '${collection}__$op' at ${marker.getPath} is a parquet " +
        "marker from an earlier format — rebuild the staging root fresh")
    Option.when(f.isFile)(java.sql.Timestamp.from(
      java.time.Instant.parse(java.nio.file.Files.readString(f.toPath).trim)))
  }

  def exists(collection: String): Boolean =
    new java.io.File(path(collection)).exists()
}

/** The recorded schema of a parquet store, as JSON in a `_`-prefixed
  * file the parquet reader skips. Staging collections and bucketed
  * warehouse tables both keep one: a read names its schema instead of
  * starting an inference job, and an append whose columns differ
  * throws, because a directory whose files disagree is read with one
  * file's footer, whichever Spark picks. */
private[sources] object SchemaSidecar {
  def read(f: java.io.File): StructType =
    DataType.fromJson(java.nio.file.Files.readString(f.toPath)).asInstanceOf[StructType]

  def record(f: java.io.File, schema: StructType): StructType = {
    StoreTxn.writeAtomic(f, schema.json)
    schema
  }

  /** Throws when `dir` holds data files but no recorded schema: a store
    * written before schemas were recorded is not read or appended to. */
  def requireRecorded(f: java.io.File, dir: String, what: String): Unit =
    require(f.isFile || !hasData(new java.io.File(dir)),
      s"$what at $dir has data but no recorded schema (${f.getName}) — " +
        "it was written by an earlier format; rebuild it under a fresh root")

  /** A data file anywhere under `f`; partitioned tables keep theirs one
    * level down. */
  def hasData(f: java.io.File): Boolean =
    if (f.isDirectory) Option(f.listFiles()).exists(_.exists(hasData))
    else f.exists() && !f.getName.startsWith("_") && !f.getName.startsWith(".")

  /** Throws unless `schema` equals the recorded one, if any, with
    * nullability ignored. */
  def check(f: java.io.File, schema: StructType, what: String): Unit =
    if (f.isFile) {
      val recorded = read(f)
      require(nullable(schema) == nullable(recorded),
        s"$what holds ${recorded.simpleString}; the append has ${schema.simpleString}")
    }

  /** [[check]], or record `schema` as the reader will report it. */
  def checkOrRecord(f: java.io.File, schema: StructType, what: String): Unit =
    if (f.isFile) check(f, schema, what)
    else record(f, nullable(schema).asInstanceOf[StructType])

  /** `t` with every field, element and value nullable, as the parquet
    * reader reports them whatever the writing frame declared. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
    case other => other
  }
}

final class Warehouse(private[graft] val spark: SparkSession, root0: String) {

  /** Canonicalized so the StoreTxn registry and the lease files agree
    * however the caller spelled the path. */
  private[graft] val root: String = new java.io.File(root0).getCanonicalPath

  private def path(table: String) = s"$root/warehouse/$table"

  /** Partitioned append (WRITE_APPEND + TimePartitioning in the reference). */
  def append(table: String, df: DataFrame, partitionCol: String = "date"): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path(table))

  /** WRITE_TRUNCATE. */
  def truncate(table: String, df: DataFrame, partitionCol: String = "date"): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path(table))

  /** Exactly-once append: drop rows whose `keys` already exist in the
    * sink, pruned to the incoming batch's partition values first so the
    * anti-join reads only the partitions the batch can touch.
    *
    * `keys` is the REPLAY identity, not a row identity — a batch
    * legitimately carries many rows per key (all of a GSC day's rows
    * share one (property, date)), so the batch is NOT deduped within
    * itself; the invariant is that appending the same batch again is a
    * no-op (property-tested in StorageSpec). */
  def idempotentAppend(table: String, df: DataFrame, keys: Seq[String],
                       partitionCol: String = "date"): Long = {
    val fresh =
      if (!exists(table)) df
      else {
        val parts = df.select(partitionCol).distinct().collect()
          .map(_.get(0)).toSeq
        val sink = read(table).filter(col(partitionCol).isInCollection(parts))
        Relational.idempotentFilter(df, sink, keys)
      }
    val n = fresh.count()
    if (n > 0) append(table, fresh, partitionCol)
    n
  }

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  def exists(table: String): Boolean = new java.io.File(path(table)).exists()

  /** Upsert (MERGE-shaped): rows matching the incoming batch on `keys`
    * are replaced by the incoming version; new keys are appended.
    *
    * Plain parquet has no row-level transaction log (a lakehouse table
    * format would express this as MERGE INTO), so this is a
    * partition-scoped read-modify-write: only partitions present in the
    * batch are read (anti-join out the matched keys, union the batch)
    * and rewritten via DYNAMIC partition overwrite — untouched
    * partitions are never read or written, keeping the cost
    * proportional to the batch's partitions, not the table. The merged
    * rows stage through a scratch path first because Spark (correctly)
    * refuses to overwrite a path it is still reading.
    *
    * CONSTRAINT: a key's partition value must be stable — pruning means
    * an update that MOVES a key to a different partition cannot see (or
    * remove) the old row, leaving both. Date-keyed fact rows satisfy
    * this naturally; a mutable partition column needs a delete first
    * (the same caveat partition-pruned MERGE has in lakehouse formats). */
  def merge(table: String, updates: DataFrame, keys: Seq[String],
            partitionCol: String = "date"): Unit = {
    if (!exists(table)) { append(table, updates, partitionCol); return }
    val parts = updates.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    val affected = read(table).filter(col(partitionCol).isInCollection(parts))
    val cols = affected.columns.map(col).toIndexedSeq
    val merged = affected
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.select(cols: _*))
    val tmp = path(table) + "__merge_tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.read.parquet(tmp).write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(path(table))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    StoreTxn.rmrf(new java.io.File(tmp))
  }

  /** The bucket-spec sidecar: bucket count, bucket columns and, for a
    * partitioned table, the partition column, one per line. */
  private def bucketSpecFile(table: String) = Warehouse.sidecar(root, "bucket_spec", table)
  private def schemaFile(table: String) = Warehouse.sidecar(root, "schema", table)

  /** Bucketed append: co-locates future joins/aggregations on
    * `bucketCols` — two tables bucketed the same way join with NO
    * exchange on either side (SortMergeJoin reads bucket-aligned files).
    * This is the 100 TB answer for fact-to-fact joins that repeat every
    * run (e.g. current-vs-previous-period), where re-shuffling both
    * sides each time would dominate the job. The table is its directory
    * plus two sidecars (`_`-prefixed siblings of the directory): the
    * bucket spec and the schema ([[SchemaSidecar]]; the first append
    * records it, later appends must match it). No catalog holds a copy,
    * so every session and every driver reads the same table.
    *
    * `partitionCol` ALSO hash-partitions the directory layout: a read
    * that filters on it (an IN over collected key prefixes) prunes
    * whole partitions, while the bucket files inside each partition
    * keep the shuffle-free sort-merge property on `bucketCols` (Spark
    * groups same-bucket files ACROSS partition directories into one
    * scan partition). One append then writes up to partitions×buckets
    * files — size `nBuckets` down when adding a partition column (the
    * two multiply). */
  def appendBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
                     nBuckets: Int, partitionCol: Option[String] = None): Unit = {
    // inside a store ingest, register the directory with the open
    // transaction BEFORE anything (spec included) changes — write-ahead
    StoreTxn.touchIfActive(root, s"warehouse/$table")
    // sidecars BEFORE data: data without a spec could never be
    // reopened, while a crash mid-data-write leaves a shell readBucketed
    // reports accurately (see the data-file check there). EXISTING
    // sidecars are validated, never rewritten: a rewrite before a data
    // write that then fails would describe a layout the files don't have.
    val spec = s"$nBuckets\n${bucketCols.mkString(",")}\n" +
      partitionCol.fold("")(p => s"$p\n")
    writeOrValidate(bucketSpecFile(table), spec, write = true)(prev =>
      s"bucket layout mismatch for $table: store has " +
        s"'${prev.trim.replace("\n", " / ")}', append requested " +
        s"'${spec.trim.replace("\n", " / ")}' — a bucketed table's " +
        "layout is fixed at creation (re-bucket = new table)")
    val dir = new java.io.File(path(table))
    SchemaSidecar.requireRecorded(schemaFile(table), dir.getPath, s"bucketed table '$table'")
    SchemaSidecar.checkOrRecord(schemaFile(table), df.schema, s"bucketed table '$table'")
    // ALIGN the frame's partitioning with the bucket function: a
    // bucketed write emits one file per (task, bucket) pair, so an
    // unaligned 32-task append of an 8-bucket table wrote 256 files per
    // ingest (1.4-2.1 s vs 0.33 s, ~2.5× slower read-back) where the
    // aligned write emits exactly nBuckets. The key is the writer's own
    // bucket-id EXPRESSION, not the raw columns: EnsureRequirements
    // elides a raw-column repartition over a bucketed scan of the same
    // key, and the write then ran unaligned (Bm25Index compaction wrote
    // 6 files for a 2-bucket table). The exchange carries only the
    // delta; its task count is the shuffle parallelism (explicit, so
    // AQE cannot coalesce it to one writer), and hashing the bucket-id
    // VALUE keeps each bucket in one task while spreading the buckets
    // over more tasks than repartition(nBuckets), whose id-value hash
    // collisions put several buckets on one writer at small bucket
    // counts. With a partition column the key is (partition dir, bucket id).
    // A local relation (a small delta already on the driver) needs no
    // exchange: ONE task writes it, and the writer's required ordering
    // sorts that task's rows by (partition dir, bucket id), so it too
    // emits at most nBuckets files per partition — one job, no shuffle.
    val session = df.sparkSession
    val aligned =
      if (graft.core.DriverRoute.isLocal(df)) df.coalesce(1)
      else df.repartition(
        math.max(nBuckets, session.sessionState.conf.numShufflePartitions),
        partitionCol.map(col).toSeq :+
          pmod(hash(bucketCols.map(col): _*), lit(nBuckets)): _*)
    // DataFrameWriter takes a bucket spec only for a catalog table, so
    // the file-source write plan is built directly
    session.sessionState.executePlan(
      DataSource(session, "parquet", partitionColumns = partitionCol.toSeq,
        bucketSpec = Some(BucketSpec(nBuckets, bucketCols, bucketCols)),
        options = LocalFs.writeOptions + ("path" -> dir.getPath))
        .planForWriting(SaveMode.Append, aligned.queryExecution.analyzed))
      .assertCommandExecuted()
  }

  /** Read a bucketed table: a parquet relation over its directory with
    * the sidecars' bucket spec and schema, built on every call, so it
    * sees the files on disk now — another session's append included, a
    * rolled-back one not. A partitioned table lists every partition
    * directory and prunes after listing (Spark lists in a job above 32
    * directories). */
  def readBucketed(table: String): DataFrame = {
    val dir = new java.io.File(path(table))
    val (nBuckets, cols, partitionCol) = bucketLayout(table)
    // spec with no data files = a write that crashed before any data
    // landed (the sidecars are written first) — report it as such, not
    // as a schema-inference failure from an empty directory
    require(SchemaSidecar.hasData(dir),
      s"bucketed table $table at ${dir.getPath} has a bucket spec but " +
        "no data files (interrupted first write?) — restore from " +
        "snapshot or delete the directory")
    SchemaSidecar.requireRecorded(schemaFile(table), dir.getPath, s"bucketed table '$table'")
    spark.baseRelationToDataFrame(DataSource(spark, "parquet",
      paths = Seq(dir.getPath),
      userSpecifiedSchema = Some(SchemaSidecar.read(schemaFile(table))),
      partitionColumns = partitionCol.toSeq,
      bucketSpec = Some(BucketSpec(nBuckets, cols, cols)))
      .resolveRelation(checkFilesExist = false))
  }

  /** The bucket count, bucket columns and partition column the table's
    * bucket-spec sidecar records. */
  private def bucketLayout(table: String): (Int, Seq[String], Option[String]) = {
    val spec = bucketSpecFile(table)
    require(spec.exists(),
      s"bucketed table $table not found at ${path(table)} (no bucket spec)")
    val lines = java.nio.file.Files.readString(spec.toPath).trim.split("\n")
    (lines(0).toInt, lines(1).split(",").toSeq, lines.lift(2))
  }

  /** The table name of `table`'s live directory: the version the
    * store's commit record names ([[StoreTxn.live]]), or `table`. */
  private[graft] def live(table: String): String =
    new java.io.File(StoreTxn.live(root, s"warehouse/$table")).getName

  /** The table name of the open transaction's new version of `table`
    * ([[StoreTxn.Txn.newVersion]]). */
  private[graft] def newVersion(table: String): String =
    new java.io.File(StoreTxn.current(root).newVersion(s"warehouse/$table")).getName

  /** Rewrite bucketed `table` into the fresh table `into` with the same
    * layout — bucket count, bucket columns, partition column and
    * parameters, all copied from `table`'s sidecars — its rows passed
    * through `transform`. Store compaction's rewrite step: the
    * version it writes is laid out exactly like the one it replaces. */
  private[graft] def rewriteBucketed(table: String, into: String,
                                     transform: DataFrame => DataFrame): Unit = {
    val params = Warehouse.sidecar(root, "params", table)
    if (params.isFile) StoreTxn.writeAtomic(Warehouse.sidecar(root, "params", into),
      java.nio.file.Files.readString(params.toPath))
    val (nBuckets, cols, partitionCol) = bucketLayout(table)
    appendBucketed(into, transform(readBucketed(table)), cols, nBuckets, partitionCol)
  }

  /** Write-or-validate a store-PARAMETERS sidecar. The bucket spec
    * guards the physical layout; this guards the semantic one — values
    * BAKED INTO the persisted rows (gram size, hash-prefix modulus,
    * band geometry, plane seeds, the tokenizer flag). A handle opened
    * with drifted values would not error: it would silently mis-prune
    * or mis-band against rows written under the old values (e.g. a
    * GramIndex reopened with a different `prefixPartitions` drops most
    * contaminated ids from every check). Same never-rewrite discipline
    * as the bucket spec. Write paths pass `writeIfAbsent = true`; read
    * paths validate only — a store created before this sidecar existed
    * must not get a READER's guess recorded as its truth. */
  def paramsSpecValidated(table: String, params: Seq[(String, String)],
                          writeIfAbsent: Boolean = true): Unit = {
    val content =
      params.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    writeOrValidate(Warehouse.sidecar(root, "params", table), content,
      writeIfAbsent)(prev =>
      s"store parameter mismatch for $table: store was written with " +
        s"'${prev.trim.replace("\n", ", ")}', this handle has " +
        s"'${content.trim.replace("\n", ", ")}' — these parameters are " +
        "fixed at store creation (changing them = new store + rebuild)")
  }

  /** Require an existing sidecar to hold `content`, or write it when
    * `write` — never rewrite it (see [[appendBucketed]]'s ordering
    * comment). */
  private def writeOrValidate(f: java.io.File, content: String, write: Boolean)(
      mismatch: String => String): Unit =
    if (f.exists()) {
      val prev = java.nio.file.Files.readString(f.toPath)
      require(prev == content, mismatch(prev))
    } else if (write) StoreTxn.writeAtomic(f, content)
}

object Warehouse {
  /** A table's `kind` sidecar: a sibling of its directory, where stores
    * already on disk keep their bucket spec and parameters. */
  private def sidecar(root: String, kind: String, table: String) =
    new java.io.File(s"$root/warehouse", s"_graft_${kind}_$table")

  /** Every sidecar a table may have — what an undo of the table's
    * creation or the GC of a superseded version removes with its
    * directory. */
  private[sources] def sidecars(root: String, table: String): Seq[java.io.File] =
    Seq("bucket_spec", "params", "schema").map(sidecar(root, _, table))
}

/** Small state tables with queue semantics: the reference's retry queues
  * (google_pagespeed.py:136-169) and alert queue (service/alerting/
  * queue.py:38-62, delete-on-read + re-enqueue on dispatch failure). */
final class QueueStore(spark: SparkSession, root: String) {

  private def path(queue: String) = s"$root/queues/$queue"

  def enqueue(queue: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(queue))

  /** Read the whole queue with the caller's `schema` (no inference job);
    * an empty DataFrame when absent. */
  def peek(queue: String, schema: StructType): DataFrame =
    if (exists(queue)) spark.read.schema(schema).parquet(path(queue))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Delete-on-read: atomically replace the queue with `remaining`.
    * Returns the drained rows (materialized before the overwrite). */
  def drain(queue: String, schema: StructType): Seq[org.apache.spark.sql.Row] = {
    val rows = peek(queue, schema).collect().toSeq
    clear(queue)
    rows
  }

  def clear(queue: String): Unit = StoreTxn.rmrf(new java.io.File(path(queue)))

  def exists(queue: String): Boolean = new java.io.File(path(queue)).exists()
}
