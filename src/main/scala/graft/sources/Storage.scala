package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  /** Where earlier versions kept the watermark: a one-row parquet table. */
  private def legacyWmDir(collection: String, op: String) =
    new java.io.File(s"$root/watermarks", s"${collection}__$op")

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

  /** An append must carry the recorded columns: a parquet directory
    * whose files disagree is read with one file's footer, whichever
    * Spark picks. The append that creates the collection records the
    * schema Spark infers for it, once. */
  private def write(collection: String, df: DataFrame): Unit = {
    val f = schemaFile(collection)
    if (f.isFile) {
      val recorded = StagingStore.parse(f)
      require(StagingStore.nullable(df.schema) == StagingStore.nullable(recorded),
        s"staging collection '$collection' holds ${recorded.simpleString}; " +
          s"the append has ${df.schema.simpleString}")
    }
    df.write.mode(SaveMode.Append).parquet(path(collection))
    if (!f.isFile) record(collection)
  }

  private def record(collection: String): StructType = {
    val inferred = spark.read.parquet(path(collection)).schema
    StoreTxn.writeAtomic(schemaFile(collection), inferred.json)
    inferred
  }

  /** Read with the recorded schema: no inference job. A collection
    * written before the schema was recorded infers once and records it. */
  def readAll(collection: String): DataFrame = {
    val f = schemaFile(collection)
    val schema = if (f.isFile) StagingStore.parse(f) else record(collection)
    spark.read.schema(schema).parquet(path(collection))
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

  /** Rows not yet processed by `op`. */
  def readUnprocessed(collection: String, op: String): DataFrame =
    readSplit(collection, op)._1

  /** Advance the op watermark to the max ingest time of `processed` (one
    * Spark job; [[advanceWatermarkTo]] takes a known instant instead).
    * Call AFTER the downstream write succeeded — crash before this point
    * re-processes the batch (at-least-once), and the warehouse's
    * idempotent append turns that into exactly-once. */
  def advanceWatermark(collection: String, op: String, processed: DataFrame): Unit =
    Option(processed.agg(max(col("__ingested_at"))).head().getTimestamp(0))
      .foreach(advanceWatermarkTo(collection, op, _))

  /** Set the op watermark to `ts`: write a temp file, then rename it over
    * the marker, so a crash leaves either the old or the new instant. */
  def advanceWatermarkTo(collection: String, op: String,
                         ts: java.sql.Timestamp): Unit =
    StoreTxn.writeAtomic(wmFile(collection, op), ts.toInstant.toString)

  /** The op watermark, exact to the nanosecond; None before the first
    * advance. A leftover temp file from a crashed write is never read. A
    * root written by an earlier version keeps its marker: the parquet
    * table is read until the first advance writes the file. */
  def watermark(collection: String, op: String): Option[java.sql.Timestamp] = {
    val f = wmFile(collection, op)
    val legacy = legacyWmDir(collection, op)
    if (f.isFile) Some(java.sql.Timestamp.from(
      java.time.Instant.parse(java.nio.file.Files.readString(f.toPath).trim)))
    else if (legacy.isDirectory)
      spark.read.parquet(legacy.getPath).collect().headOption.map(_.getTimestamp(0))
    else None
  }

  def exists(collection: String): Boolean =
    new java.io.File(path(collection)).exists()
}

object StagingStore {
  private def parse(f: java.io.File): StructType =
    DataType.fromJson(java.nio.file.Files.readString(f.toPath)).asInstanceOf[StructType]

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

final class Warehouse(spark: SparkSession, root0: String) {

  /** Canonicalized so the catalog-name hash, the StoreTxn registry and
    * the lease files all agree however the caller spelled the path. */
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

  /** Bucket-spec sidecar path — a SIBLING of the table directory, not a
    * file inside it: the table-creation write clears a pre-existing
    * location, so an in-dir spec could not be written before the data. */
  private def bucketSpecFile(table: String) =
    new java.io.File(s"$root/warehouse", s"_graft_bucket_spec_$table")

  /** Bucketed append: co-locates future joins/aggregations on
    * `bucketCols` — two tables bucketed the same way join with NO
    * exchange on either side (SortMergeJoin reads bucket-aligned files).
    * This is the 100 TB answer for fact-to-fact joins that repeat every
    * run (e.g. current-vs-previous-period), where re-shuffling both
    * sides each time would dominate the job. Registered as an external
    * table because bucket metadata lives in the catalog — and since the
    * default catalog is SESSION-scoped (in-memory, no metastore), the
    * bucket spec is ALSO persisted next to the data (an `_`-prefixed
    * file, invisible to parquet readers) so [[readBucketed]] can
    * re-register the table in a fresh driver: a persisted store must
    * survive the JVM that wrote it.
    *
    * `partitionCol` ALSO hash-partitions the directory layout: the
    * catalog prunes whole partitions when a read filters on it (an IN
    * over collected key prefixes), while the bucket files inside each
    * partition keep the shuffle-free sort-merge property on
    * `bucketCols` (Spark groups same-bucket files ACROSS partition
    * directories into one scan partition). One append then writes up to
    * partitions×buckets files — size `nBuckets` down when adding a
    * partition column (the two multiply). */
  def appendBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
                     nBuckets: Int, partitionCol: Option[String] = None): Unit = {
    // inside a store ingest, register the directory with the open
    // transaction BEFORE anything (spec included) changes — write-ahead
    StoreTxn.touchIfActive(root, s"warehouse/$table")
    // spec BEFORE data: it is pure config, and the reverse order left a
    // crash window where a store with data but no spec could never be
    // reopened by a fresh driver. A crash after the spec but mid-data-
    // write instead leaves a shell readBucketed reports accurately (see
    // the data-file check there). An EXISTING spec is validated, never
    // rewritten: overwriting it before a data write that then fails
    // (e.g. a caller drifting to a different bucket count) would leave
    // a sidecar describing a layout the files don't have.
    writeSpecValidated(table, s"$nBuckets\n${bucketCols.mkString(",")}\n" +
      partitionCol.fold("")(p => s"$p\n"))
    // ALIGN the frame's partitioning with the bucket function before
    // writing: a bucketed write emits one file per (task, bucket) pair,
    // so an unaligned 32-task append of an 8-bucket table writes 256
    // files per ingest (measured: 1.4-2.1 s vs 0.33 s, and ~2.5× slower
    // read-back) where the aligned write emits exactly nBuckets.
    // Partitioned on the writer's own bucket-id EXPRESSION —
    // pmod(murmur3, nBuckets) — NOT the raw columns: a raw-column
    // repartition over a bucketed scan of the same key is elided by
    // EnsureRequirements (the scan already reports that partitioning),
    // after which the auto-bucketed-scan rule may downgrade the read to
    // raw file splits and the write runs unaligned (measured: the
    // Bm25Index compaction path wrote 6 files for a 2-bucket table).
    // The exchange this adds carries only the append delta. The task
    // count is the session's shuffle parallelism (explicit, so AQE
    // cannot coalesce it to one writer): partitioning is BY the
    // bucket-id VALUE, so each bucket still lands wholly in one task —
    // exactly nBuckets files — while the murmur of the id values
    // spreads the buckets over more tasks than repartition(nBuckets)
    // would (id-value hash collisions serialized several buckets onto
    // one writer at small bucket counts). With a partition column the
    // key is (partition dir, bucket id): one file per populated combo.
    val writer = df.repartition(
        math.max(nBuckets,
          df.sparkSession.sessionState.conf.numShufflePartitions),
        partitionCol.map(col).toSeq :+
          pmod(hash(bucketCols.map(col): _*), lit(nBuckets)): _*)
      .write.mode(SaveMode.Append)
      .option("path", path(table))
    partitionCol.fold(writer)(writer.partitionBy(_))
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(bucketedName(table))
    ()
  }

  /** Read a bucketed table, re-registering it in the session catalog
    * from the on-disk bucket spec when this session didn't write it
    * (new driver, same warehouse root). */
  def readBucketed(table: String): DataFrame = {
    val name = bucketedName(table)
    if (!spark.catalog.tableExists(name)) {
      val dir = new java.io.File(path(table))
      val spec = bucketSpecFile(table)
      require(spec.exists(),
        s"bucketed table $table not found at ${dir.getPath} (no bucket spec)")
      // spec with no data files = a write that crashed before any data
      // landed (spec is written first) — report it as such, not as a
      // schema-inference failure from an empty directory. Partitioned
      // tables keep their data one level down, so look recursively.
      def hasData(f: java.io.File): Boolean =
        if (f.isDirectory) Option(f.listFiles()).exists(_.exists(hasData))
        else !f.getName.startsWith("_") && !f.getName.startsWith(".")
      require(hasData(dir),
        s"bucketed table $table at ${dir.getPath} has a bucket spec but " +
          "no data files (interrupted first write?) — restore from " +
          "snapshot or delete the directory")
      val lines =
        java.nio.file.Files.readString(spec.toPath).trim.split("\n")
      val (n, cols, partCol) =
        (lines(0), lines(1), if (lines.length > 2) Some(lines(2)) else None)
      val schema = spark.read.parquet(dir.getPath).schema.toDDL
      val bucketCols = cols.split(",").mkString(", ")
      val partClause = partCol.fold("")(p => s"PARTITIONED BY ($p)\n")
      spark.sql(
        s"""CREATE TABLE $name ($schema) USING parquet
           |${partClause}CLUSTERED BY ($bucketCols) SORTED BY ($bucketCols)
           |INTO ${n.toInt} BUCKETS
           |LOCATION '${dir.getAbsolutePath}'""".stripMargin)
      // a freshly registered PARTITIONED table has an empty partition
      // list in the catalog — discover the on-disk partitions
      partCol.foreach(_ => spark.sql(s"MSCK REPAIR TABLE $name"))
    }
    spark.table(bucketedName(table))
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
    val spec = new java.io.File(s"$root/warehouse", s"_graft_params_$table")
    if (spec.exists()) {
      val prev = java.nio.file.Files.readString(spec.toPath)
      require(prev == content,
        s"store parameter mismatch for $table: store was written with " +
          s"'${prev.trim.replace("\n", ", ")}', this handle has " +
          s"'${content.trim.replace("\n", ", ")}' — these parameters are " +
          "fixed at store creation (changing them = new store + rebuild)")
    } else if (writeIfAbsent) {
      spec.getParentFile.mkdirs()
      java.nio.file.Files.writeString(spec.toPath, content)
      ()
    }
  }

  /** Write the bucket-spec sidecar, or validate an existing one —
    * never rewrite it (see [[appendBucketed]]'s ordering comment). */
  private def writeSpecValidated(table: String, content: String): Unit = {
    val spec = bucketSpecFile(table)
    if (spec.exists()) {
      val prev = java.nio.file.Files.readString(spec.toPath)
      require(prev == content,
        s"bucket layout mismatch for $table: store has " +
          s"'${prev.trim.replace("\n", " / ")}', append requested " +
          s"'${content.trim.replace("\n", " / ")}' — a bucketed table's " +
          "layout is fixed at creation (re-bucket = new table)")
    } else {
      spec.getParentFile.mkdirs()
      java.nio.file.Files.writeString(spec.toPath, content)
      ()
    }
  }

  private def bucketedName(table: String): String =
    Warehouse.bucketedName(root, table)

  /** Physically remove a table this warehouse owns: data directory,
    * bucket-spec/params sidecars, and any session-catalog registration.
    * STORE-INTERNAL maintenance (compaction sweeps of superseded
    * physical generations) — not a user data-management API; callers
    * must only target tables a committed alias has already replaced. */
  private[graft] def dropTable(table: String): Unit = {
    StoreTxn.rmrf(new java.io.File(path(table)))
    bucketSpecFile(table).delete()
    new java.io.File(s"$root/warehouse", s"_graft_params_$table").delete()
    Warehouse.dropCatalogEntry(spark, root, table)
  }
}

object Warehouse {
  private[sources] def bucketedName(root: String, table: String): String =
    "graft_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(root).toLong & 0xffffffffL) +
      "_" + table

  /** Drop the session-catalog registration of a bucketed table whose
    * files a [[StoreTxn]] undo removed — a registration pointing at a
    * vanished location must not survive the rollback. */
  private[sources] def dropCatalogEntry(spark: SparkSession, root: String,
                                        table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${bucketedName(root, table)}")
    ()
  }
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
