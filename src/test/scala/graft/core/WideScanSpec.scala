package graft.core

import graft.SparkSpec

/** Pins the wide-string scan guard's clamp arithmetic and its
  * only-tightens contract — the engine-side replacement for the e2e
  * probe's manual reader-batch / partition-bytes overrides. */
class WideScanSpec extends SparkSpec {

  test("parseBytes handles Spark's executor-memory and byte-conf spellings") {
    assert(WideScan.parseBytes("16g", "m") === 16L << 30)
    assert(WideScan.parseBytes("512m", "m") === 512L << 20)
    assert(WideScan.parseBytes("128MB", "b") === 128L << 20)
    assert(WideScan.parseBytes("134217728", "b") === 134217728L)
    // a bare number in executor.memory means MiB (Spark's own parse)
    assert(WideScan.parseBytes("1024", "m") === 1L << 30)
  }

  test("the clamp only tightens, and engages exactly when heap-per-slot is tight") {
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val partKey = "spark.sql.files.maxPartitionBytes"
    val priorBatch = spark.conf.get(batchKey, "4096")
    val priorPart = spark.conf.get(partKey, "134217728")
    try {
      // a user's explicitly-tighter setting always wins
      spark.conf.set(batchKey, "128")
      WideScan.tuneForRowWidth(spark, rowWidthBytes = 1)
      assert(spark.conf.get(batchKey) === "128",
        "tuneForRowWidth must never loosen an explicit setting")

      // the probe calibration point: 0.5 GB/slot, ~2 KB rows → 1024
      // rows and 32 MB partitions (the values that fixed the live OOMs)
      spark.conf.set(batchKey, "4096")
      val perSlot = 512L << 20
      val rows = math.min(4096L, math.max(256L, perSlot / 256 / 2048))
      assert(rows === 1024L)
      assert(math.max(16L << 20, perSlot / 16) === (32L << 20))

      // a roomy heap leaves defaults untouched: 8 GB/slot → computed
      // rows cap at the 4096 default, partition floor above 128 MB
      val roomy = 8L << 30
      assert(math.min(4096L, math.max(256L, roomy / 256 / 2048)) === 4096L)
      assert(math.max(16L << 20, roomy / 16) >= (128L << 20))
    } finally {
      spark.conf.set(batchKey, priorBatch)
      spark.conf.set(partKey, priorPart)
    }
  }

  test("withScanSizing restores the session's prior values — no residue") {
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val partKey = "spark.sql.files.maxPartitionBytes"
    // defaults → the clamp engages inside the scope, the session reads
    // its defaults again after (a sticky clamp measurably slowed
    // unrelated narrow scans by 1.3–2× at bench scale). getOption on a
    // SQLConf with a default yields that default, so "restored" is
    // value-equality with the pre-scope reading.
    spark.conf.unset(batchKey); spark.conf.unset(partKey)
    val (preBatch, prePart) =
      (spark.conf.get(batchKey), spark.conf.get(partKey))
    val inside = WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
      spark.conf.getOption(batchKey)
    }
    assert(inside === Some("256"), "clamp in effect inside the scope")
    assert(spark.conf.get(batchKey) === preBatch &&
      spark.conf.get(partKey) === prePart, "no residue after")
    // explicit prior values are restored verbatim, even on throw
    spark.conf.set(batchKey, "2222")
    intercept[RuntimeException] {
      WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
        sys.error("boom")
      }
    }
    assert(spark.conf.get(batchKey) === "2222")
    spark.conf.unset(batchKey)
  }

  test("concurrent scopes refcount: no permanent residue, no early restore") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    spark.conf.unset(batchKey)
    val pre = spark.conf.get(batchKey)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // interleave A-enter → B-enter → A-exit → B-exit: the pre-fix
      // unsynchronized save/restore had B capture A's clamp as its
      // "prior" and restore it PERMANENTLY on exit
      val aIn = new CountDownLatch(1); val aGo = new CountDownLatch(1)
      val bIn = new CountDownLatch(1); val bGo = new CountDownLatch(1)
      val fa = pool.submit(new Runnable { def run(): Unit =
        WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
          aIn.countDown(); aGo.await(30, TimeUnit.SECONDS); ()
        } })
      assert(aIn.await(30, TimeUnit.SECONDS))
      val fb = pool.submit(new Runnable { def run(): Unit =
        WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
          bIn.countDown(); bGo.await(30, TimeUnit.SECONDS); ()
        } })
      assert(bIn.await(30, TimeUnit.SECONDS))
      aGo.countDown(); fa.get(30, TimeUnit.SECONDS)
      assert(spark.conf.get(batchKey) === "256",
        "A's exit must NOT restore while B's scope is still open")
      bGo.countDown(); fb.get(30, TimeUnit.SECONDS)
      assert(spark.conf.get(batchKey) === pre,
        "the LAST exiter restores the true pre-scope value")
      // plain nesting composes the same way
      WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
        WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) { () }
        assert(spark.conf.get(batchKey) === "256")
      }
      assert(spark.conf.get(batchKey) === pre)
    } finally pool.shutdownNow()
  }

  test("a throwing tune unwinds the scope registration — no leaked refcount") {
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    spark.conf.unset(batchKey)
    val pre = spark.conf.get(batchKey)
    // a throwing tune fires INSIDE the entry block, after the scope
    // registered but before the body's finally armed — the pre-fix
    // leak left the entry at refcount 1 forever, so no later exiter
    // ever restored (Spark validates conf values on set, so the spec
    // injects the throw through the tune seam; a half-applied tune is
    // simulated by clamping batchKey first, like the real tune order)
    intercept[RuntimeException] {
      WideScan.withScanSizingTuned(spark, 1 << 20,
        (s, _) => { s.conf.set(batchKey, "256"); sys.error("bad conf") }) {
        ()
      }
    }
    assert(spark.conf.get(batchKey) === pre,
      "the half-applied clamp must be rolled back on the throw")
    // the failed entry must have fully unwound: a fresh scope behaves
    // as the FIRST entrant (clamps, then restores the true prior)
    WideScan.withScanSizing(spark, rowWidthBytes = 1 << 20) {
      assert(spark.conf.get(batchKey) === "256")
    }
    assert(spark.conf.get(batchKey) === pre,
      "post-throw scope must restore — a leaked refcount would not")
  }

  test("heapPerSlotBytes divides local heap by local parallelism") {
    val perSlot = WideScan.heapPerSlotBytes(spark)
    val expected = Runtime.getRuntime.maxMemory /
      math.max(1, spark.sparkContext.defaultParallelism)
    assert(perSlot === expected)
  }

  test("the shared spec session has the Sessions shape the oracle needs") {
    assert(Sessions.local(4, "ERROR") eq spark,
      "the factory hands back the one JVM-wide spec session")
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    // DuckDB semantics: an out-of-bounds element_at is null, not an error
    assert(spark.sql("SELECT element_at(array(1), 5) AS x").head().isNullAt(0))
  }
}
