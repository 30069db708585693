package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DistinctStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Int, hi: Int) =
    (lo until hi).map(i => (s"g${i % 3}", s"v${i % 700}")).toDF("g", "v")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Incremental estimates are judged against the EXACT distinct count
    * (±2%, well inside the lgK-12 bound) — in dense HLL mode the union
    * of batch sketches is NOT bit-identical to a one-shot sketch (both
    * are estimators of the same truth), so truth is the referee. */
  private def assertClose(got: Map[String, Long], df: org.apache.spark.sql.DataFrame): Unit = {
    val exact = df.groupBy("g").agg(count_distinct(col("v")).as("d"))
      .as[(String, Long)].collect().toMap
    assert(got.keySet === exact.keySet)
    for ((g, e) <- exact)
      assert(math.abs(got(g).toDouble - e) / e <= 0.02,
        s"group $g: estimate ${got(g)} vs exact $e")
  }

  test("incremental estimate tracks the exact union cardinality") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    store.ingest(rows(0, 2000), "g", "v")
    store.ingest(rows(2000, 3500), "g", "v")
    store.ingest(rows(3500, 5000), "g", "v")
    assertClose(store.estimate().as[(String, Long)].collect().toMap,
      rows(0, 5000))
    // estimate is a pure fold of the stored rows: replay-stable
    val again = store.estimate().as[(String, Long)].collect().toMap
    assert(again === store.estimate().as[(String, Long)].collect().toMap)
    val total = store.estimateTotal().as[Long].head()
    val exactTotal = rows(0, 5000).agg(count_distinct(col("v"))).as[Long].head()
    assert(math.abs(total.toDouble - exactTotal) / exactTotal <= 0.02)
  }

  test("store identity: a different column pair or lgK is rejected") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    store.ingest(rows(0, 100), "g", "v")
    intercept[IllegalArgumentException] {
      store.ingest(rows(0, 100).withColumnRenamed("v", "w"), "g", "w")
    }
    val other = new Sketches.DistinctStore(spark, store.storeRoot, "d",
      lgK = 14)
    intercept[IllegalArgumentException] { other.ingest(rows(0, 100), "g", "v") }
  }

  test("estimate before any append fails fast") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    intercept[IllegalArgumentException] { store.estimate() }
  }

  test("completed append key redelivered is a no-op; crash mid-append retries clean") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    assert(store.ingestOnce(rows(0, 1000), "g", "v", Some("k1")).isDefined)
    assert(store.ingestOnce(rows(0, 1000), "g", "v", Some("k1")).isEmpty)
    // crash after the sketch-table touch, before commit: no key lands,
    // rollback on the (post-lease-expiry) retry, blind retry converges
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashAfterTouches = 1
    try intercept[graft.sources.StoreTxn.SimulatedCrash] {
      store.ingestOnce(rows(1000, 2000), "g", "v", Some("k2"))
    } finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    try assert(store.ingestOnce(rows(1000, 2000), "g", "v", Some("k2")).isDefined)
    finally graft.sources.StoreTxn.leaseTtlMs = 60000L
    assert(store.ingestOnce(rows(1000, 2000), "g", "v", Some("k2")).isEmpty)
    assertClose(store.estimate().as[(String, Long)].collect().toMap,
      rows(0, 2000))
  }

  test("compact folds deltas into one base: same estimates, fewer dirs") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    (0 until 6).foreach(i =>
      store.ingest(rows(i * 500, (i + 1) * 500), "g", "v"))
    val before = store.estimate().as[(String, Long)].collect().toMap
    // the sketch directories under state/, and the live one's rows
    def sketchDirs = Option(new java.io.File(s"${store.storeRoot}/state")
        .listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("d_hll_sk")).map(_.getName)
    def liveRows = spark.read.parquet(graft.sources.StoreTxn.live(
      store.storeRoot, "state/d_hll_sk")).count()
    assert(sketchDirs === Seq("d_hll_sk") && liveRows === 18L,
      "6 appends x 3 groups")
    store.compact()
    assert(sketchDirs.size === 1 && sketchDirs.head.startsWith("d_hll_sk__v"),
      s"one live directory after compact: $sketchDirs")
    assert(liveRows === 3L, "one sketch row per group")
    assert(store.estimate().as[(String, Long)].collect().toMap === before)
    // appends after compaction fold on top, in the live directory
    val folded = sketchDirs
    store.ingest(rows(3000, 4000), "g", "v")
    assert(sketchDirs === folded)
    assertClose(store.estimate().as[(String, Long)].collect().toMap,
      rows(0, 4000))
    // a second compact folds the new rows too; a third changes nothing
    store.compact()
    val after = store.estimate().as[(String, Long)].collect().toMap
    store.compact()
    assert(store.estimate().as[(String, Long)].collect().toMap === after)
    assert(sketchDirs.size === 1)
  }

  test("compact writes a group-partitioned base (many files, one task " +
      "never funnels a wide store) with estimates unchanged") {
    // a wide store: 50k groups — the regime where a coalesce(1) base
    // write would push the whole store through one writer task
    val store = new Sketches.DistinctStore(spark, tmp("graft_dsw_"), "dw",
      lgK = 4, nBaseBuckets = 8)
    val wide = spark.range(50000).selectExpr("concat('g', id) AS g",
      "concat('v', id % 7) AS v")
    store.ingest(wide, "g", "v")
    store.ingest(spark.range(50000).selectExpr("concat('g', id) AS g",
      "concat('w', id % 3) AS v"), "g", "v")
    val before = store.estimate().as[(String, Long)].collect().toMap
    assert(before.size === 50000)
    store.compact()
    val baseDir = graft.sources.StoreTxn.live(store.storeRoot, "state/dw_hll_sk")
    assert(baseDir.endsWith("/state/dw_hll_sk__v3"), s"the folded version: $baseDir")
    val baseFiles = Option(new java.io.File(baseDir).listFiles()).toSeq
      .flatten.count(f => f.getName.startsWith("part-"))
    assert(baseFiles > 1 && baseFiles <= 8,
      s"base write must spread across tasks, got $baseFiles files")
    assert(store.estimate().as[(String, Long)].collect().toMap === before)
  }

  test("crash mid-compact rolls back; blind retry converges") {
    val store = new Sketches.DistinctStore(spark, tmp("graft_ds_"), "d")
    store.ingest(rows(0, 1000), "g", "v")
    store.ingest(rows(1000, 2000), "g", "v")
    val before = store.estimate().as[(String, Long)].collect().toMap
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try intercept[graft.sources.StoreTxn.SimulatedCrash] { store.compact() }
    finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    // the crashed compact left base+deltas untouched (rollback on open)
    try {
      assert(store.estimate().as[(String, Long)].collect().toMap === before)
      store.compact()
    } finally graft.sources.StoreTxn.leaseTtlMs = 60000L
    assert(store.estimate().as[(String, Long)].collect().toMap === before)
  }

  test("streamed maintenance (storeSink catch-up) equals one-shot") {
    val root = tmp("graft_ds_stream_")
    val inDir = s"$root/in"
    rows(0, 1500).coalesce(1).write.mode("append").parquet(inDir)
    rows(1500, 3000).coalesce(1).write.mode("append").parquet(inDir)
    val store = new Sketches.DistinctStore(spark, s"$root/store", "d")
    graft.streaming.Streaming.runStoreAvailableNow(
      spark.readStream.schema(rows(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      store, s"$root/ckpt", "g", "v")
    val inc = store.estimate().as[(String, Long)].collect().toMap
    assert(inc.nonEmpty)
    assertClose(inc, rows(0, 3000))
  }
}
