package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.operators.{MinhashConfig, MinhashStore, Pipeline, SimhashConfig, SimhashStore}

/** Scale probe for the curation stores: measures wall time and result
  * counts on synthetic corpora whose size and near-dup profile are
  * CONTROLLED. Each kept mode is the source of a constant or route in
  * today's code; the numbers of earlier modes are recorded in
  * BENCH_NOTES.md.
  *
  * Modes:
  *  - `gen <docsPath> <nDocs> <dupRate>` — synthesize a deterministic
  *    corpus (see [[synthDocs]]) for the other three modes;
  *  - `mhgate <docsPath> <whRoot> <storeDocs> [sizes…]` — MinHash store
  *    and curation pre-filter, driver route vs Spark route per batch
  *    size, the source of [[graft.operators.MinhashStore.MaxDriverDocs]]
  *    and [[graft.operators.MinhashStore.MaxDriverPreFilterDocs]];
  *  - `incr <docsPath> <whRoot>` — MinHash and SimHash store ingests
  *    (Spark route, above the gate) vs the full-corpus recompute;
  *  - `e2e <docsPath> <root>` — curate → mixture → BPE → pack → shards
  *    in one run, the calibration of [[graft.core.WideScan]].
  */
object ScaleProbe {

  // ------------------------------------------------------ corpus synthesis

  /** Deterministic documents with a REALISTIC near-dup profile: ids
    * below nBase = n·(1−dupRate) are unique (120 tokens from a ~9M-word
    * vocab — cross-doc Jaccard ≈ 0); every id ≥ nBase is a near-dup of
    * base doc pmod(xxhash64(id), nBase): 4 of 5 replace every 10th
    * token (Jaccard ≈ 108/132 ≈ 0.82 — must survive verification at
    * 0.5), 1 of 5 replace every 2nd token (Jaccard ≈ 60/180 ≈ 0.33 —
    * the borderline candidates verification must reject). */
  def synthDocs(spark: SparkSession, n: Long, dupRate: Double): DataFrame = {
    val nBase = (n * (1 - dupRate)).toLong
    // xxhash64 mixing, NOT a linear congruence: a lattice formula like
    // docKey*C + j*D mod V makes doc pairs at specific id offsets share
    // almost every token (measured: 3.8M phantom near-dup pairs at 1M
    // docs), which silently turns a "realistic" corpus adversarial
    def tokenOf(docKey: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
      concat(lit("w"), pmod(xxhash64(docKey, j), lit(9000000L)).cast("string"))
    val base = pmod(xxhash64(col("id")), lit(nBase))
    val mutEvery = when(pmod(col("id"), lit(5)) === 0, lit(2L)).otherwise(lit(10L))
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(
        transform(sequence(lit(0L), lit(119L)), j =>
          when(col("id") < nBase, tokenOf(col("id"), j))
            .when(pmod(j + col("id"), mutEvery) === 0,
              concat(lit("m"), col("id"), lit("_"), j))
            .otherwise(tokenOf(base, j))),
        " ").as("text"))
  }

  // --------------------------------------------------------------- probes

  private def time[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    a
  }

  private def timedCount(label: String)(df: => DataFrame): Long = {
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    n
  }

  /** Incremental-store probe: the claim under test is that ingest cost
    * tracks the BATCH, not the corpus. Build a minhash signature store
    * from the first 89% of the corpus, then time a 10% ingest and a 1%
    * ingest against it, next to the full-corpus recompute — a 10× smaller
    * batch should cost far closer to 10× less than to "the same"
    * (the floor is reading back the touched store buckets + job
    * overhead). Same sequence for the simhash store. */
  private def incrProbe(spark: SparkSession, docsPath: String,
                        whRoot: String): Unit = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val cut89 = (n * 0.89).toLong
    val cut99 = (n * 0.99).toLong
    println(s"[probe] docs=$n store=$cut89 batch10=${cut99 - cut89} " +
      s"batch1=${n - cut99}")

    timedCount("minhash_full_corpus") {
      Dedup.minhashPortablePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5, seed = 7L)
    }
    val mh = new MinhashStore(
      new graft.sources.Warehouse(spark, s"$whRoot/mh_${System.nanoTime()}"),
      "probe", MinhashConfig(3, 8, 2, 0.5, 7L))
    timedCount("minhash_store_build(89%)") {
      mh.ingest(docs.filter(col("doc_id") < cut89), "doc_id", "text")
    }
    timedCount("minhash_ingest(10%)") {
      mh.ingest(docs.filter(col("doc_id") >= cut89 && col("doc_id") < cut99),
        "doc_id", "text")
    }
    timedCount("minhash_ingest(1%)") {
      mh.ingest(docs.filter(col("doc_id") >= cut99), "doc_id", "text")
    }

    timedCount("simhash_full_corpus") {
      Dedup.simhashPortablePairs(docs, "doc_id", "text",
        maxDist = 3, seed = 7L, chunkBits = 15)
    }
    val sh = new SimhashStore(
      new graft.sources.Warehouse(spark, s"$whRoot/sh_${System.nanoTime()}"),
      "probe", SimhashConfig(maxDist = 3, seed = 7L, chunkBits = 15))
    timedCount("simhash_store_build(89%)") {
      sh.ingest(docs.filter(col("doc_id") < cut89), "doc_id", "text")
    }
    timedCount("simhash_ingest(10%)") {
      sh.ingest(docs.filter(col("doc_id") >= cut89 && col("doc_id") < cut99),
        "doc_id", "text")
    }
    timedCount("simhash_ingest(1%)") {
      sh.ingest(docs.filter(col("doc_id") >= cut99), "doc_id", "text")
    }
  }

  /** Where [[MinhashStore.ingestParts]]' driver route stops winning over
    * its Spark route: build a store from docs `[0, storeDocs)`, then time
    * the pairs of the next `b` docs for each batch size on both routes —
    * driver (a gate far above any size here) and Spark (gate 0) —
    * alternating which goes first, `reps` times each. A batch is a hash
    * sample of the docs past the store, so it carries the corpus' share
    * of near-duplicates (`gen` puts them at the top ids). The appends
    * never run, so every timing sees the same store; the pair counts
    * must agree. Each batch then times the curation ingest's pre-filter
    * the same way (eval set: every 997th stored document; thresholds
    * that keep every document, so all of them reach redaction and
    * decontamination), the source of
    * [[graft.operators.MinhashStore.MaxDriverPreFilterDocs]]; the
    * survivor counts must agree. */
  private def mhGateProbe(spark: SparkSession, docsPath: String,
                          whRoot: String, storeDocs: Long,
                          sizes: Seq[Long], reps: Int = 3): Unit = {
    val docs = spark.read.parquet(docsPath)
    val rest = docs.count() - storeDocs
    val mh = new MinhashStore(
      new graft.sources.Warehouse(spark, s"$whRoot/mhgate_${System.nanoTime()}"),
      "probe", MinhashConfig(3, 8, 2, 0.5, 7L))
    timedCount(s"minhash_store_build($storeDocs)") {
      mh.ingest(docs.filter(col("doc_id") < storeDocs), "doc_id", "text")
    }
    // the pre-filter's eval set: every 997th stored document
    val eval = docs.filter(col("doc_id") < storeDocs &&
      pmod(col("doc_id"), lit(997)) === 0).select("text")
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0)
    val grams = graft.operators.Decontamination.evalGramSet(eval, "text", cfg.deconN)
    val routes = Seq("driver" -> (1L << 24), "spark" -> 0L)
    sizes.foreach { b =>
      val batch = docs.filter(col("doc_id") >= storeDocs &&
        pmod(xxhash64(col("doc_id")), lit(rest)) < b)
      def race(what: String)(run: Long => Long): Unit = {
        val walls = routes.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
        val counts = scala.collection.mutable.Set.empty[Long]
        (0 until reps).foreach { r =>
          (if (r % 2 == 0) routes else routes.reverse).foreach { case (route, gate) =>
            val t0 = System.nanoTime()
            counts += run(gate)
            walls(route) += (System.nanoTime() - t0) / 1e9
          }
        }
        def median(ws: Seq[Double]) = ws.sorted.apply(ws.size / 2)
        println(f"[probe] $what batch=$b%6d driver ${median(walls("driver").toSeq)}%6.2f s" +
          f"  spark ${median(walls("spark").toSeq)}%6.2f s  rows=${counts.mkString("/")}" +
          s"  (driver ${walls("driver").map(w => f"$w%.2f").mkString(" ")};" +
          s" spark ${walls("spark").map(w => f"$w%.2f").mkString(" ")})")
      }
      race("mhgate")(gate => mh.ingestParts(batch, "doc_id", "text", gate)._1.count())
      // the curation ingest's pre-filter (tokenize → score → redact →
      // decontaminate) on each route: the driver route collects the
      // batch and folds the program on the driver, the Spark route runs
      // it as plans and stages the survivors
      race("prefilter") { gate =>
        val input = graft.core.DriverRoute.collect(batch, gate)
          .map(graft.core.DriverRoute.local(spark, _, batch.schema)).getOrElse(batch)
        val decon = Pipeline.preFilter(input, "doc_id", "text", Some(eval), "text",
          cfg, _.localCheckpoint(true), evalGrams = Some(() => grams),
          maxDriverDocs = gate).decon
        if (gate > 0) decon.collect().length.toLong
        else decon.localCheckpoint(true).count()
      }
    }
  }

  /** The composed thing a real training-data run is: curate (surgical
    * decon) → per-source repeat-factor mixture → BPE encode → pack to
    * fixed sequences → shuffled shards + manifests — ONE run, so
    * cross-operator plan interactions (exchange reuse, AQE across
    * staged materializations) surface. Per-stage walls attributed. */
  private def e2eProbe(spark: SparkSession, docsPath: String,
                       root: String): Unit = {
    import graft.operators._
    // NO manual scan-sizing overrides here anymore: the two 10M-doc
    // lessons this probe learned live (300 MB text partitions × 32
    // tasks, then 4 MB columnar reader batches × 32 readers, both past
    // the 0.25–0.5 GB/core heap) are now carried by the ENGINE's text
    // entry points via graft.core.WideScan — the probe runs at default
    // session config and must stay green that way. Stages that
    // materialize LAZY wide-text frames OUTSIDE an operator's own
    // scoped body (curate's final kept join under a persist stage, the
    // mixture, Bpe.encode — whose scaladoc names this exact caller
    // contract) wrap their action in withScanSizing themselves; the
    // narrow (uid, n_tokens) stages run at defaults.
    def sized[A](body: => A): A =
      graft.core.WideScan.withScanSizing(spark)(body)
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    println(s"[probe] e2e corpus=$n")
    // eval set: every 997th doc's text — guarantees real surgical hits
    val evalSet = docs.filter(pmod(col("doc_id"), lit(997)) === 0)
      .select(col("doc_id"), col("text"))
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      surgicalDecon = true,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5))
    val stageDir = s"$root/stages"
    val stageN = new java.util.concurrent.atomic.AtomicInteger(0)
    def persist(df: DataFrame, name: String): DataFrame = {
      // every materialization gets its OWN directory: reusing one would
      // delete files a previously staged frame still reads lazily
      val dir = s"$stageDir/${name}_${stageN.incrementAndGet()}"
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val curated = time("stage 1: curate (surgical decon + dedup)") {
      sized { persist(Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
        "text", cfg, stage = df => persist(df, "tmp")).kept, "curated") }
    }
    println(s"[probe]   curated rows=${curated.count()}")
    val mixed = time("stage 2: repeat-factor mixture (20 sources)") {
      sized { persist(Sampling.repeatSample(
        curated.withColumn("source",
          concat(lit("s"), pmod(xxhash64(col("id")), lit(20)).cast("string"))),
        "source", "id", factors = Seq("s0" -> 2.5, "s1" -> 2.0),
        defaultFactor = 1.0), "mixed") }
    }
    println(s"[probe]   mixed rows=${mixed.count()}")
    val merges = time("stage 3a: BPE learnMerges(40) on sample") {
      // modulo sample, NOT limit: a GlobalLimit gathers the sample into
      // one partition and every merge round's type-table build inherits
      // the single-partition shape
      sized { Bpe.learnMerges(
        curated.filter(pmod(col("id"), lit(10)) === 0), "text", 40) }
    }
    val encoded = time("stage 3b: BPE encode mixture") {
      sized { persist(Bpe.encode(
        mixed.withColumn("uid",
          col("id") * lit(1000L) + col("rep").cast("long")),
        "uid", "text", merges)
        .select(col("id").as("uid"), col("n_tokens")), "encoded") }
    }
    val packed = time("stage 3c: pack to 2048-token sequences") {
      persist(Sequences.packSequences(encoded, "uid", "n_tokens",
        seqLen = 2048L), "packed")
    }
    val sharded = time("stage 4: shuffleShards(64) + manifest") {
      val s = persist(Sharding.shuffleShards(packed, "uid", 64), "sharded")
      val m = Sharding.shardManifest(s, "n_tokens")
      println(s"[probe]   manifest rows=${m.count()}")
      s
    }
    val total = sharded.agg(sum(col("n_tokens"))).head().getLong(0)
    println(s"[probe] e2e done: sequences=${packed.count()} " +
      s"sharded=${sharded.count()} total_tokens=$total")
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_MASTER overrides for provisioning probes — e.g.
    // "local-cluster[4,8,8192]" runs REAL executor JVMs (4 × 8 cores ×
    // 8 GB) so per-executor memory pressure and WideScan's cluster
    // branch are exercised, not just local-mode's one shared heap
    val cpus = Sessions.cpus
    val spark = Sessions.builder(cpus)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      // the probe box runs 32 executor threads in ONE 8g JVM —
      // 0.25 GB/core, far below any real executor sizing. With the
      // default memory.fraction (0.6) a billion-key aggregate's
      // tracked hash/sort state is allowed to claim 4.6g, leaving the
      // garbage-heavy untracked side (parquet readers, token churn,
      // shuffle buffers × 32 concurrent tasks) so little headroom
      // that stages die nondeterministically in GC. Shrinking the
      // tracked pool forces earlier (disk-backed, memory-safe) spills
      // and keeps the probes deterministic; the cluster-side
      // equivalent is provisioning ≥1 GB/core or lowering
      // spark.memory.fraction on high-core executors.
      .config("spark.memory.fraction", "0.4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000).selectExpr("sum(id * 2)").collect() // JIT warmup

    args.toList match {
      case "gen" :: docsPath :: n :: dupRate :: Nil =>
        time(s"gen docs n=$n dup=$dupRate") {
          synthDocs(spark, n.toLong, dupRate.toDouble)
            .repartition(32).write.mode("overwrite").parquet(docsPath)
        }
      case "incr" :: docsPath :: whRoot :: Nil =>
        incrProbe(spark, docsPath, whRoot)
      case "mhgate" :: docsPath :: whRoot :: storeDocs :: sizes =>
        mhGateProbe(spark, docsPath, whRoot, storeDocs.toLong,
          if (sizes.isEmpty) Seq(1000L, 4000L, 16000L) else sizes.map(_.toLong))
      case "e2e" :: docsPath :: root :: Nil =>
        e2eProbe(spark, docsPath, root)
      case _ =>
        println("usage: gen <docs> <n> <dupRate> | " +
          "mhgate <docs> <whRoot> <storeDocs> [sizes…] | " +
          "incr <docs> <whRoot> | e2e <docs> <root>")
    }
    spark.stop()
  }
}
