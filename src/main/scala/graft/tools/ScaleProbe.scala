package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.operators.{EmbeddingLshConfig, EmbeddingLshStore, MinhashConfig, MinhashStore, SimhashConfig, SimhashStore, Similarity}

/** Scale probe for the dedup/similarity family: measures wall time,
  * candidate volume, and result counts on synthetic corpora whose size
  * and near-dup profile are CONTROLLED, so bucket-cap and pair-volume
  * behavior is measured, not guessed, before the next scale-up.
  *
  * Modes:
  *  - `gen <docsPath> <nDocs> <dupRate> [<embPath> <nVecs>]` —
  *    synthesize a deterministic corpus (see [[synthDocs]]) and
  *    optionally a clustered embedding table;
  *  - `pairs <docsPath> <dupRate>` — exact/minhash/simhash pipelines
  *    with candidates-per-true-positive reporting;
  *  - `ivf <embPath> <whRoot>` — end-to-end IVF split: train + assign +
  *    bucketed warehouse write (build), then [[graft.operators
  *    .Similarity.ivfTopKAssigned]] over the bucketed table (serve),
  *    with recall@10 against the brute-force oracle.
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

  /** Deterministic clustered embeddings: `cells` well-separated
    * sin-lattice centroids in `dim` dimensions, each vector = its
    * centroid (cell = id mod cells) plus bounded deterministic noise —
    * the structure IVF expects, with a knowable cluster assignment. */
  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 64,
                      cells: Int = 256): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (sin((pmod(col("id"), lit(cells)) * lit(dim) + j).cast("double") * lit(0.37)) +
          (pmod(xxhash64(col("id"), j), lit(1000)).cast("double") / lit(500.0)
            - lit(1.0)) * lit(0.15)).cast("float")).as("embedding"))

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

  /** Pair pipelines with candidate accounting: a second pass with the
    * verification threshold disabled (jaccard ≥ 0 / hamming ≤ 48) counts
    * CANDIDATES through the identical plan, so
    * candidates-per-true-positive is measured on the production path. */
  private def pairsProbe(spark: SparkSession, docsPath: String,
                         dupRate: Double): Unit = {
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val expectedTrue = (n * dupRate * 0.8).toLong
    println(s"[probe] docs=$n dupRate=$dupRate expected_light_dups≈$expectedTrue")

    timedCount("exact_dedup") {
      graft.operators.Dedup.exact(docs, "doc_id", "text")
    }
    val mhVerified = timedCount("minhash_verified(t=0.5)") {
      graft.operators.Dedup.minhashPortablePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5, seed = 7L)
    }
    val mhCands = timedCount("minhash_candidates(t=0)") {
      graft.operators.Dedup.minhashPortablePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.0, seed = 7L)
    }
    println(f"[probe] minhash cand/verified = ${
      if (mhVerified == 0) Double.NaN else mhCands.toDouble / mhVerified}%.2f" +
      f"  recall_vs_expected = ${
        if (expectedTrue == 0) Double.NaN else mhVerified.toDouble / expectedTrue}%.3f")
    Seq(12, 15).foreach { cb =>
      val shVerified = timedCount(s"simhash_verified(d<=3,${cb}b)") {
        graft.operators.Dedup.simhashPortablePairs(docs, "doc_id", "text",
          maxDist = 3, seed = 7L, chunkBits = cb)
      }
      val vol = time(s"simhash_cand_volume(${cb}b)") {
        simhashCandidateVolume(docs, chunks = 4, chunkBits = cb, seed = 7L)
      }
      println(f"[probe] simhash(${cb}b) in-bucket comparisons=$vol " +
        f"per-verified=${if (shVerified == 0) Double.NaN
          else vol.toDouble / shVerified}%.1f")
    }
  }

  /** Pairs → clusters at scale: minhash pairs over the corpus, then
    * [[graft.operators.Dedup.connectedComponents]] to fixpoint — plus
    * the INCREMENTAL fold: labels from 90% of the pairs, the remaining
    * 10% folded in via connectedComponentsIncremental, checked to land
    * on the same clustering. */
  private def ccProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(docsPath)
    println(s"[probe] docs = ${docs.count()}")
    val pairs = time("minhash pairs (materialize)") {
      Dedup.minhashPortablePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L).localCheckpoint(true)
    }
    val full = time("cc full") {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    val n = full.count()
    val k = full.select("comp").distinct().count()
    println(s"[probe] clustered_docs=$n clusters=$k " +
      s"(survivors after dedup: corpus - ${n - k})")
    // incremental: hash-split the edge list 90/10, label the history,
    // fold the delta — the delta cost is what a daily ingest pays
    val split = pmod(xxhash64(col("id_a"), col("id_b")), lit(10))
    val prev = time("cc history(90% of pairs)") {
      Dedup.connectedComponents(pairs.filter(split < 9), "id_a", "id_b")
    }
    val inc = time("cc incremental(+10%)") {
      val c = Dedup.connectedComponentsIncremental(prev,
        pairs.filter(split === 9), "id_a", "id_b")
      c.count(); c
    }
    println(s"[probe] cc clusters: full=$k " +
      s"incremental=${inc.select("comp").distinct().count()}")
  }

  /** Streaming-surface throughput: stage a many-file backlog, drain it
    * through [[graft.streaming.Streaming.runAvailableNow]] (the
    * exactly-once foreachBatch warehouse sink) in `files/filesPerBatch`
    * micro-batches, and compare against one direct batch append of the
    * same data — the difference, divided by the batch count, is the
    * per-micro-batch overhead of the streaming path. */
  private def streamProbe(spark: SparkSession, root: String,
                          nRows: Long): Unit = {
    import graft.streaming.Streaming
    val staging = s"$root/staging_backlog"
    val df = spark.range(nRows).select(
      col("id"),
      date_format(date_add(lit("2026-01-01").cast("date"),
        pmod(col("id"), lit(30)).cast("int")), "yyyy-MM-dd").as("date"),
      pmod(col("id"), lit(97)).as("metric"))
    time(s"stage backlog ($nRows rows, 64 files)") {
      df.repartition(64).write.mode("overwrite").parquet(staging)
    }
    val schema = spark.read.parquet(staging).schema

    val whB = new graft.sources.Warehouse(spark, s"$root/wh_batch")
    val tB0 = System.nanoTime()
    whB.append("events", spark.read.parquet(staging), "date")
    val batchSecs = (System.nanoTime() - tB0) / 1e9
    println(f"[probe] batch_append                 $batchSecs%8.2f s")

    val whS = new graft.sources.Warehouse(spark, s"$root/wh_stream")
    val tS0 = System.nanoTime()
    Streaming.runAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 8)
        .parquet(staging),
      whS, "events", s"$root/ckpt", "date")
    val streamSecs = (System.nanoTime() - tS0) / 1e9
    val landed = whS.read("events")
    val rows = landed.count()
    val batches = landed.select("__batch_id").distinct().count()
    println(f"[probe] stream_available_now        $streamSecs%8.2f s  " +
      f"rows=$rows batches=$batches")
    println(f"[probe] stream throughput = ${rows / streamSecs}%.0f rows/s, " +
      f"per-batch overhead ≈ ${(streamSecs - batchSecs) / batches}%.2f s " +
      f"(${streamSecs / batchSecs}%.1fx batch)")
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
    * must agree. */
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
    val routes = Seq("driver" -> (1L << 24), "spark" -> 0L)
    sizes.foreach { b =>
      val batch = docs.filter(col("doc_id") >= storeDocs &&
        pmod(xxhash64(col("doc_id")), lit(rest)) < b)
      val walls = routes.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
      val counts = scala.collection.mutable.Set.empty[Long]
      (0 until reps).foreach { r =>
        (if (r % 2 == 0) routes else routes.reverse).foreach { case (route, gate) =>
          val t0 = System.nanoTime()
          counts += mh.ingestParts(batch, "doc_id", "text", gate)._1.count()
          walls(route) += (System.nanoTime() - t0) / 1e9
        }
      }
      def median(ws: Seq[Double]) = ws.sorted.apply(ws.size / 2)
      println(f"[probe] mhgate batch=$b%6d driver ${median(walls("driver").toSeq)}%6.2f s" +
        f"  spark ${median(walls("spark").toSeq)}%6.2f s  pairs=${counts.mkString("/")}" +
        s"  (driver ${walls("driver").map(w => f"$w%.2f").mkString(" ")};" +
        s" spark ${walls("spark").map(w => f"$w%.2f").mkString(" ")})")
    }
  }

  /** Containment dedup at 1M: plant token-prefix subset docs (each the
    * first half of a base doc's whitespace tokens, so its shingle set
    * is ≈ a strict subset of the base's and containment-in-base ≈ 1.0 —
    * the swallowed-document profile Jaccard reads as ≈ 0.5 and misses
    * at t=0.8), then attribute walls: the batch pass over the planted
    * corpus with planted-pair recall, and the ContainmentStore
    * build(99%) / ingest(1% + all planted subs) split with cross-batch
    * detection of subs whose base lives in the store. */
  private def contProbe(spark: SparkSession, docsPath: String,
                        whRoot: String): Unit = {
    import graft.operators.{ContainmentConfig, ContainmentStore, Dedup}
    val docs = spark.read.parquet(docsPath).select("doc_id", "text")
    val n = docs.count()
    val nPlant = 1000L
    val step = math.max(1L, n / nPlant)
    val k = n + 1 // planted id offset: sub of base b is b + k
    val subs = docs.filter(col("doc_id") % step === 0)
      .select((col("doc_id") + k).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest((size(split(col("text"), " ")) / 2).cast("int"),
            lit(3))), " ")
          .as("text"))
      .localCheckpoint(true)
    val nSubs = subs.count()
    val corpus = docs.unionByName(subs)
    println(s"[probe] cont corpus=$n planted_subs=$nSubs (id = base + $k)")

    val full = time("cont_full_corpus(t=0.8)") {
      Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.8, maxDocFreq = 1000L)
        .localCheckpoint(true)
    }
    val nPairs = full.count()
    val found = full.filter(col("id_b") - col("id_a") === k &&
      col("id_b") > n).count()
    println(f"[probe] cont pairs=$nPairs planted_recall=${
      found.toDouble / nSubs}%.4f ($found/$nSubs)")

    val cut99 = (n * 0.99).toLong
    val store = new ContainmentStore(
      new graft.sources.Warehouse(spark, s"$whRoot/ct_${System.nanoTime()}"),
      "probe", ContainmentConfig(shingleN = 3, threshold = 0.8,
        maxDocFreq = 1000L))
    timedCount("cont_store_build(99%)") {
      store.ingest(docs.filter(col("doc_id") < cut99), "doc_id", "text")
    }
    val t0 = System.nanoTime()
    val inc = store.ingest(
      docs.filter(col("doc_id") >= cut99).unionByName(subs),
      "doc_id", "text")
    val incPairs = inc.count()
    val cross = inc.filter(col("id_b") - col("id_a") === k &&
      col("id_a") < cut99).count()
    val crossable = subs.filter(col("doc_id") - k < cut99).count()
    println(f"[probe] cont_ingest(1%%+subs)         ${
      (System.nanoTime() - t0) / 1e9}%8.2f s  rows=$incPairs " +
      f"cross_recall=${cross.toDouble / crossable}%.4f ($cross/$crossable)")

    // hot-shingle arm: every doc shares a boilerplate header (the
    // ubiquitous-chrome profile of a real crawl), so its shingles sit
    // at df = corpus size, far past the cap. The ingest must drop them
    // via the window filter WITHOUT materializing the 50k-id postings
    // list in an aggregation buffer, and still pair the planted quote
    // through the doc's own shingles.
    val hotN = 50000L
    val hot = docs.filter(col("doc_id") < hotN)
      .select(col("doc_id"),
        concat(lit("site header navigation copyright footer terms "),
          col("text")).as("text"))
    val hotStore = new ContainmentStore(
      new graft.sources.Warehouse(spark, s"$whRoot/hot_${System.nanoTime()}"),
      "probe", ContainmentConfig(shingleN = 3, threshold = 0.8,
        maxDocFreq = 1000L))
    timedCount("cont_hot_build(50k, shared header)") {
      hotStore.ingest(hot, "doc_id", "text")
    }
    val quote = hot.filter(col("doc_id") === 7L)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    val hotPairs = hotStore.ingest(quote, "doc_id", "text")
    require(hotPairs.filter(col("id_a") === 7L &&
        col("id_b") === 9000007L).count() == 1L,
      "the quote must pair through its doc-specific shingles even " +
        "with the boilerplate header's hot shingles capped out")
    println("[probe] cont_hot: header shingles (df=50k) capped without " +
      "buffering; quote found via doc shingles")
  }

  /** Link-graph walls at web-ish scale: a synthetic hubbed graph
    * (every 4th edge lands in a 0.1% hub set — the power-law-ish
    * in-degree profile of a host graph), weighted degrees, then
    * 3 fixed-point PageRank iterations. Checks the mass invariant the
    * spec pins at toy size (total rank ≤ scale, floor-leak bounded by
    * iters·n ulps) and that hubs out-rank the uniform prior. */
  private def graphProbe(spark: SparkSession, n: Long, e: Long): Unit = {
    import graft.operators.Graph
    val edges = spark.range(e).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      when(pmod(col("id"), lit(4)) === 0,
        pmod(xxhash64(col("id"), lit(3)), lit(math.max(n / 1000, 1L))))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(n))).as("dst"),
      (pmod(xxhash64(col("id"), lit(4)), lit(10)) + 1).as("w"))
      .localCheckpoint(true)
    println(s"[probe] graph nodes≈$n edges=${edges.count()} " +
      s"hubs=${math.max(n / 1000, 1L)}")
    println(s"[probe] master=${spark.sparkContext.master} " +
      s"heapPerSlot=${graft.core.WideScan.heapPerSlotBytes(spark) >> 20} MB")
    timedCount("graph_degrees") {
      Graph.degrees(edges, "src", "dst", Some("w"))
    }
    val ranks = time("graph_pagerank(3 iters)") {
      Graph.pageRank(edges, "src", "dst", iters = 3, Some("w"))
        .localCheckpoint(true)
    }
    val scale = 1L << 30
    val agg = ranks.agg(sum(col("rank_fp")), max(col("rank_fp")),
      count(lit(1))).head()
    val (mass, maxR, nn) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val prior = scale / nn
    val above = ranks.filter(col("rank_fp") > prior * 2).count()
    // floor-leak accounting: ~1 ulp per out-edge division per iter —
    // at rank ≈ 107 ulps/node (2^30 / 10M) and outdeg ≈ 10 that is a
    // few percent of mass per round, by design (mass only SHRINKS,
    // which is what bounds every intermediate product)
    println(f"[probe] mass=$mass%d (scale=$scale%d, leak_frac=${
      (scale - mass).toDouble / scale}%.4f) max_rank=${
      maxR.toDouble / scale}%.6f nodes_above_2x_prior=$above")
    require(mass > 0 && mass <= scale,
      "fixed-point mass invariant violated at scale")
    require(above > 0, "hub nodes must out-rank the uniform prior")
  }

  /** Incremental edge-store probe: the same synthetic hubbed graph as
    * [[graphProbe]], appended as a 99% bulk batch + a 1% delta —
    * EdgeStore's append never reads the store (unlike the pair stores'
    * candidate joins), so the delta must cost ∝ batch plus the fixed
    * per-append write of nStoreBuckets files. Then the warm-start
    * claim, measured: L1 distance to a long-run fixed point from
    * (a) the uniform cold start and (b) the pre-delta prior, at equal
    * iteration counts — the prior must start closer and stay closer. */
  private def edgeStoreProbe(spark: SparkSession, whRoot: String,
                             n: Long, e: Long): Unit = {
    import graft.operators.{EdgeStore, EdgeStoreConfig, Graph}
    val edges = spark.range(e).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      when(pmod(col("id"), lit(4)) === 0,
        pmod(xxhash64(col("id"), lit(3)), lit(math.max(n / 1000, 1L))))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(n))).as("dst"),
      (pmod(xxhash64(col("id"), lit(4)), lit(10)) + 1).as("w"),
      (pmod(xxhash64(col("id"), lit(5)), lit(100)) === 0).as("__delta"))
    // spill to parquet, not localCheckpoint — the 10M-probe discipline
    val edgePath = s"$whRoot/edges_probe"
    time(s"gen edges n=$n e=$e") {
      edges.write.mode("overwrite").parquet(edgePath)
    }
    val all = spark.read.parquet(edgePath)
    val bulk = all.filter(!col("__delta"))
    val delta = all.filter(col("__delta"))
    val deltaRows = delta.count()
    println(s"[probe] edgestore bulk=${e - deltaRows} delta=$deltaRows")
    val store = new EdgeStore(
      new graft.sources.Warehouse(spark, s"$whRoot/eg_wh"),
      "probe", EdgeStoreConfig(weightCol = Some("w")))
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val tBulk = secs(store.append(bulk, "src", "dst"))
    println(f"[probe] edgestore bulk append (99%%) $tBulk%8.2f s")
    val tDelta = secs(store.append(delta, "src", "dst"))
    println(f"[probe] edgestore delta append (1%%) $tDelta%8.2f s")
    timedCount("edgestore degrees (collapsed read)") {
      store.degrees(spark)
    }
    // equivalence at scale: agg checksum of store degrees vs the batch
    // operator on the raw union — one pass each, no pair join
    def checksum(df: DataFrame): Long = df.agg(sum(xxhash64(
      col("node"), col("out_deg"), col("in_deg"),
      col("out_weight"), col("in_weight")))).head().getLong(0)
    val storeSum = checksum(store.degrees(spark))
    val batchSum = checksum(Graph.degrees(all, "src", "dst", Some("w")))
    println(s"[probe] degrees checksum store=$storeSum batch=$batchSum " +
      s"match=${storeSum == batchSum}")
    require(storeSum == batchSum, "store degrees must equal batch degrees")
    // warm start: the pre-delta prior vs the uniform start, both run 2
    // iterations on the full store, scored by L1 distance to a 6-iter
    // reference — the maintenance claim is "closer at equal iterations"
    val prior = time("pageRank prior (2 iters, pre-delta edges)") {
      Graph.pageRank(bulk, "src", "dst", 2, Some("w"))
        .select("node", "rank_fp")
    }
    val priorPath = s"$whRoot/prior_ranks"
    prior.write.mode("overwrite").parquet(priorPath)
    val priorR = spark.read.parquet(priorPath)
    val refPath = s"$whRoot/ref_ranks"
    time("pageRank reference (6 iters, full store)") {
      store.pageRank(spark, 6).select("node", "rank_fp")
        .write.mode("overwrite").parquet(refPath)
    }
    val ref = spark.read.parquet(refPath)
    def l1(ranks: DataFrame): Long = ranks
      .select(col("node"), col("rank_fp").as("__r"))
      .join(ref.select(col("node"), col("rank_fp").as("__f")), "node")
      .agg(sum(abs(col("__r") - col("__f")))).head().getLong(0)
    val cold = time("pageRank cold (2 iters, full store)") {
      store.pageRank(spark, 2).select("node", "rank_fp")
        .localCheckpoint(true)
    }
    val warm = time("pageRank warm (2 iters from pre-delta prior)") {
      store.pageRank(spark, 2, prior = Some(priorR))
        .select("node", "rank_fp").localCheckpoint(true)
    }
    val (l1Cold, l1Warm) = (l1(cold), l1(warm))
    println(f"[probe] L1-to-fixedpoint cold2=$l1Cold%d warm2=$l1Warm%d " +
      f"ratio=${l1Warm.toDouble / math.max(l1Cold, 1L)}%.3f " +
      f"(bulk=$tBulk%.1fs delta=$tDelta%.1fs delta_frac=${
        tDelta / math.max(tBulk, 1e-9)}%.3f)")
    require(l1Warm <= l1Cold,
      "warm start must be at least as close to the fixed point")
  }

  /** TrustRank at graph scale: the [[graphProbe]] generator with a
    * 0.1% seed set — per-iteration shape identical to pageRank (two
    * exchanges against the fixed edge layout; the one new intermediate
    * is a driver-side BigInt scalar), plus the signal the operator
    * exists for: how much of the graph holds ZERO trust. */
  private def trustProbe(spark: SparkSession, n: Long, e: Long): Unit = {
    import graft.operators.Graph
    val edges = spark.range(e).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      when(pmod(col("id"), lit(4)) === 0,
        pmod(xxhash64(col("id"), lit(3)), lit(math.max(n / 1000, 1L))))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(n))).as("dst"),
      (pmod(xxhash64(col("id"), lit(4)), lit(10)) + 1).as("w"))
      .localCheckpoint(true)
    println(s"[probe] trust graph nodes≈$n edges=${edges.count()}")
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(1000)) === 0)
    val ranks = time("trustRank(3 iters)") {
      Graph.trustRank(edges, "src", "dst", 3, seeds, "node", Some("w"))
        .localCheckpoint(true)
    }
    val agg = ranks.agg(sum(col("rank_fp")),
      sum(when(col("rank_fp") === 0, 1L).otherwise(0L)),
      count(lit(1))).head()
    val (mass, zero, nn) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    println(f"[probe] mass=$mass%d of ${1L << 30}%d zero_trust=$zero%d " +
      f"of $nn%d (${zero * 100.0 / nn}%.1f%%)")
    require(mass > 0 && mass <= (1L << 30), "trust mass invariant")
    require(zero > 0, "a hubbed random graph must leave unreached nodes")
  }

  /** Composed crawl-scale authority curation: synthetic host link graph
    * → exact PageRank → [[Pipeline.AuthorityGate]] → full curate with
    * audit, at corpus scale — the one-call composition the q161 oracle
    * pins at sf0.01, probed for wall time and ledger accounting. */
  private def authProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.{Graph, Pipeline}
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val nHosts = 10000L
    val hosted = docs.select(col("doc_id"), col("text"),
      pmod(xxhash64(col("doc_id"), lit(5L)), lit(nHosts)).as("host"))
    // hubbed host graph (the graphProbe generator at host scale)
    val edges = spark.range(nHosts * 100).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nHosts)).as("src"),
      when(pmod(col("id"), lit(4)) === 0,
        pmod(xxhash64(col("id"), lit(3)), lit(nHosts / 1000)))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(nHosts))).as("dst"),
      (pmod(xxhash64(col("id"), lit(4)), lit(10)) + 1).as("w"))
    val ranks = time("authority: pageRank(3) over hosts") {
      Graph.pageRank(edges, "src", "dst", 3, Some("w"))
        .localCheckpoint(true)
    }
    val n = ranks.count()
    val gate = Pipeline.AuthorityGate(ranks, "host", (1L << 30) / n)
    val r = time(s"authority-gated curate ($nDocs docs, audit on)") {
      val res = Pipeline.curate(hosted, "doc_id", "text",
        cfg = Pipeline.CurateConfig(minQuality = 0.2, maxRepetition = 0.5),
        withAudit = true, authority = Some(gate))
      res.copy(kept = res.kept.localCheckpoint(true),
        audit = res.audit.map(_.localCheckpoint(true)))
    }
    val nKept = r.kept.count()
    val byStage = r.audit.get.groupBy("stage").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    println(s"[probe] kept=$nKept audit=$byStage")
    require(nKept + byStage.values.sum == nDocs,
      "ledger invariant: kept + audited must partition the input")
    require(byStage.getOrElse("authority", 0L) > 0,
      "the gate must drop below-prior hosts on a hubbed graph")
  }

  /** The q164 crawl-epoch composition at corpus scale: two epochs of
    * pages → [[Graph.hostEdges]] → [[EdgeStore.append]] (staged first —
    * the append-cost contract) → [[EdgeStore.pageRankMaintain]] →
    * authority-gated [[Pipeline.CurationStore.ingest]]. Epoch 2 is 10%
    * of the corpus: its edge append and gated ingest must cost ∝ the
    * batch, while the warm maintain pays one iteration over the FULL
    * graph (the N-row rank table, not the batch — flat across epochs by
    * design). The ledger invariant is re-asserted per batch. */
  private def epochProbe(spark: SparkSession, whRoot: String,
                         docsPath: String): Unit = {
    import graft.operators.{EdgeStore, EdgeStoreConfig, Graph, Pipeline}
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val nHosts = 10000L
    val cut = (nDocs * 9) / 10
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def hostOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c, lit(5L)), lit(nHosts))
    def hosted(df: DataFrame) = df.select(col("doc_id"), col("text"),
      hostOf(col("doc_id")).as("host"))
    // synthetic crawl pages: each doc's host links to two hash-derived
    // hosts, one through the uppercase/userinfo/port form — the real
    // regex extraction + RFC-lite normalization run at full scale
    def pages(df: DataFrame) = df.select(
      concat(lit("http://h"), hostOf(col("doc_id")),
        lit(".example/p/"), col("doc_id")).as("url"),
      concat(lit("<html><body><a href=\"http://h"),
        pmod(xxhash64(col("doc_id"), lit(6L)), lit(nHosts)),
        lit(".example/a\">l</a><a href='HTTPS://u@H"),
        pmod(xxhash64(col("doc_id"), lit(7L)), lit(nHosts)),
        lit(".EXAMPLE:8443/b'>l2</a></body></html>")).as("html"))
    def hostNum(c: org.apache.spark.sql.Column) =
      regexp_extract(c, "^h(\\d+)\\.example$", 1).cast("long")
    def edgesOf(df: DataFrame, path: String) = {
      Graph.hostEdges(pages(df), "url", "html")
        .select(hostNum(col("src")).as("src"),
          hostNum(col("dst")).as("dst"), col("w"))
        .write.mode("overwrite").parquet(path) // stage-first contract
      spark.read.parquet(path)
    }
    val b1 = docs.filter(col("doc_id") < cut)
    val b2 = docs.filter(col("doc_id") >= cut)
    val estore = new EdgeStore(
      new graft.sources.Warehouse(spark, s"$whRoot/epoch_eg"),
      "crawl", EdgeStoreConfig(weightCol = Some("w")))
    val e1 = time("epoch-1 hostEdges (90%, staged)") {
      edgesOf(b1, s"$whRoot/e1")
    }
    val tE1 = secs(estore.append(e1, "src", "dst"))
    val tM1 = secs(estore.pageRankMaintain(spark, iters = 2))
    val e2 = time("epoch-2 hostEdges (10%, staged)") {
      edgesOf(b2, s"$whRoot/e2")
    }
    val tE2 = secs(estore.append(e2, "src", "dst"))
    var ranks: DataFrame = null
    val tM2 = secs { ranks = estore.pageRankMaintain(spark, iters = 1) }
    println(f"[probe] epoch walls: append1=$tE1%.1fs maintain1(2it)=" +
      f"$tM1%.1fs append2=$tE2%.1fs maintain2(1it,warm)=$tM2%.1fs " +
      f"append_frac=${tE2 / math.max(tE1, 1e-9)}%.3f")
    val n = ranks.count()
    val gate = Pipeline.AuthorityGate(ranks, "host", (1L << 30) / n)
    val cstore = new Pipeline.CurationStore(spark, s"$whRoot/epoch_cur",
      "cur", Pipeline.CurateConfig(minQuality = 0.2, maxRepetition = 0.5),
      authority = Some(gate))
    def ingest(df: DataFrame, label: String, batchRows: Long) = {
      var r: Pipeline.CurateDelta = null
      val t = secs { r = cstore.ingest(df, "doc_id", "text",
        withAudit = true) }
      val kept = r.kept.count()
      val byStage = r.audit.get.groupBy("stage").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      println(f"[probe] $label%-26s $t%8.2f s kept=$kept " +
        s"audit=$byStage")
      require(kept + byStage.values.sum == batchRows,
        s"$label: kept + audited must partition the batch")
      require(byStage.getOrElse("authority", 0L) > 0,
        s"$label: the gate must drop below-prior hosts")
      t
    }
    val tI1 = ingest(hosted(b1), "epoch-1 gated ingest (90%)", cut)
    val tI2 = ingest(hosted(b2), "epoch-2 gated ingest (10%)",
      nDocs - cut)
    println(f"[probe] epoch ingest_frac=${tI2 / math.max(tI1, 1e-9)}%.3f")
    require(tE2 < 0.5 * tE1,
      "10% edge batch must cost well under half the 90% batch")
    require(tI2 < 0.5 * tI1,
      "10% gated ingest must cost well under half the 90% batch")
  }

  /** Anchor-text index construction at corpus scale: synthetic pages
    * (the [[epochProbe]] generator plus worded anchors) → one
    * [[Graph.anchorTerms]] pass — regex extraction + two explodes
    * row-local, ONE aggregation exchange on (host, term); the html
    * column must never shuffle (plan-asserted). */
  private def anchorProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.Graph
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val nHosts = 10000L
    def hostOf(c: org.apache.spark.sql.Column, seed: Long) =
      pmod(xxhash64(c, lit(seed)), lit(nHosts))
    val pages = docs.select(
      concat(lit("http://h"), hostOf(col("doc_id"), 5L),
        lit(".example/p/"), col("doc_id")).as("url"),
      concat(lit("<html><body><a href=\"http://h"),
        hostOf(col("doc_id"), 6L),
        lit(".example/a\">guide to <b>topic"),
        pmod(col("doc_id"), lit(997L)),
        lit("</b></a><a href='HTTPS://u@H"), hostOf(col("doc_id"), 7L),
        lit(".EXAMPLE:8443/b'>review of topic"),
        pmod(col("doc_id") * 3, lit(997L)),
        lit("</a></body></html>")).as("html"))
    val terms = Graph.anchorTerms(pages, "url", "html")
    // the html column must be pruned BEFORE the aggregation exchange —
    // inspect every shuffle's output attributes, not the plan string
    // (the scan/projection nodes legitimately name the column)
    val shuffledCols = terms.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    }
    require(shuffledCols.forall(!_.exists(_.contains("html"))),
      s"html column crossed an exchange: $shuffledCols")
    val n = timedCount(s"anchorTerms ($nDocs pages)")(terms)
    val top = terms.orderBy(col("w").desc).limit(3).collect()
      .map(r => s"${r.getString(0)}:${r.getString(1)}=${r.getLong(2)}")
    println(s"[probe] anchor profile rows=$n top=${top.mkString(", ")}")
    require(n > 0, "anchor profile must be non-empty")
  }

  /** Site-level graph collapse at crawl scale: the same synthetic crawl
    * built once as the RAW-host graph and once keyed by
    * [[graft.functions.HtmlFunctions.registrableDomain]] (hostEdges'
    * siteKey — the q171 recipe). Hosts rotate www/m/cdn subdomains over
    * `nDomains` registrable domains, so the collapse should shrink the
    * node space ~3× and the per-iteration rank table with it — the
    * measurement that justifies ranking at SITE granularity before
    * gating (same edges scanned; the win is every downstream
    * iteration's shuffle and the gate join's build side). */
  private def siteLevelProbe(spark: SparkSession,
                             docsPath: String): Unit = {
    import graft.functions.HtmlFunctions
    import graft.operators.Graph
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val nDomains = 10000L
    def domOf(c: org.apache.spark.sql.Column, seed: Long) =
      pmod(xxhash64(c, lit(seed)), lit(nDomains))
    val sub = element_at(array(lit("www"), lit("m"), lit("cdn")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val pages = docs.select(
      concat(lit("http://"), sub, lit(".s"), domOf(col("doc_id"), 5L),
        lit(".example/p/"), col("doc_id")).as("url"),
      concat(lit("<html><body><a href=\"http://www.s"),
        domOf(col("doc_id"), 6L),
        lit(".example/a\">l1</a><a href='HTTPS://u@M.S"),
        domOf(col("doc_id"), 7L),
        lit(".EXAMPLE:8443/b'>l2</a><a href=\"http://a.s"),
        domOf(col("doc_id"), 8L),
        lit(".co.uk/c\">l3</a></body></html>")).as("html"))
    // stage the crawl once — both builds scan the same parsed pages
    val staged = pages.localCheckpoint(true)
    val hostG = timedCount(s"hostEdges raw hosts ($nDocs pages)")(
      Graph.hostEdges(staged, "url", "html"))
    val siteG = timedCount(s"hostEdges siteKey=registrableDomain")(
      Graph.hostEdges(staged, "url", "html",
        HtmlFunctions.registrableDomain(_)))
    val siteEdges = Graph.hostEdges(staged, "url", "html",
      HtmlFunctions.registrableDomain(_)).localCheckpoint(true)
    val hostEdgesDf = Graph.hostEdges(staged, "url", "html")
      .localCheckpoint(true)
    def nodesOf(e: DataFrame) = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct().count()
    val (hostNodes, siteNodes) = (nodesOf(hostEdgesDf), nodesOf(siteEdges))
    time(s"pageRank 2 iters over raw hosts ($hostNodes nodes)") {
      Graph.pageRank(hostEdgesDf, "src", "dst", 2, Some("w")).count()
    }
    time(s"pageRank 2 iters over domains ($siteNodes nodes)") {
      Graph.pageRank(siteEdges, "src", "dst", 2, Some("w")).count()
    }
    println(s"[probe] sitelevel: hostEdges=$hostG nodes=$hostNodes vs " +
      s"siteEdges=$siteG nodes=$siteNodes " +
      f"(rank-table shrink ${hostNodes.toDouble / siteNodes}%.2fx)")
    require(siteNodes < hostNodes,
      "domain collapse must shrink the rank node space")
  }

  /** Stored-trust maintenance at graph scale: bulk append → COLD
    * tolerance-chased [[EdgeStore.trustRankMaintain]]; 1% delta append
    * → WARM maintain at the SAME tol from the committed ranks. The
    * warm epoch must reach tolerance in less wall (fewer iterations —
    * the maintenance claim). Also reports the fixed-iteration
    * per-round wall in tol mode, the dangling-fold measurement (one
    * control job per round riding the materialization). */
  private def trustMaintProbe(spark: SparkSession, whRoot: String,
                              n: Long, e: Long, tolFrac: Long): Unit = {
    import graft.operators.{EdgeStore, EdgeStoreConfig}
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val edgePath = s"$whRoot/tm_edges"
    time(s"gen edges n=$n e=$e") {
      spark.range(e).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
        when(pmod(col("id"), lit(4)) === 0,
          pmod(xxhash64(col("id"), lit(3)), lit(math.max(n / 1000, 1L))))
          .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(n))).as("dst"),
        (pmod(xxhash64(col("id"), lit(4)), lit(10)) + 1).as("w"),
        (pmod(xxhash64(col("id"), lit(5)), lit(100)) === 0).as("__delta"))
        .write.mode("overwrite").parquet(edgePath)
    }
    val all = spark.read.parquet(edgePath)
    val store = new EdgeStore(
      new graft.sources.Warehouse(spark, s"$whRoot/tm_wh"),
      "probe", EdgeStoreConfig(weightCol = Some("w")))
    val tBulk = secs(store.append(all.filter(!col("__delta")),
      "src", "dst"))
    // seed set derived from the id RANGE, not edge content — identical
    // across epochs, as the stored fingerprint requires
    val seeds = spark.range(n).filter(pmod(col("id"), lit(1000)) === 0)
      .select(col("id").as("node"))
    // per-round wall in tol mode, fixed 3 rounds (tol = 0 never fires):
    // the dangling-fold note — one control job per round
    val t3 = secs { store.trustRank(spark, 3, seeds, "node",
      tol = Some(0L)).write.format("noop").mode("overwrite").save() }
    println(f"[probe] trust fixed-3-rounds wall=$t3%.1fs per_iter=" +
      f"${t3 / 3}%.1fs (tol mode, fold: 1 control job/round)")
    val tol = (1L << 30) / math.max(tolFrac, 1L)
    val tCold = secs { store.trustRankMaintain(spark, iters = 50, seeds,
      "node", tol = Some(tol)) }
    val tDelta = secs(store.append(all.filter(col("__delta")),
      "src", "dst"))
    val tWarm = secs { store.trustRankMaintain(spark, iters = 50, seeds,
      "node", tol = Some(tol)) }
    println(f"[probe] trustmaint cold=$tCold%.1fs warm=$tWarm%.1fs " +
      f"(tol=$tol%d, bulk=$tBulk%.1fs delta=$tDelta%.1fs) " +
      f"warm_frac=${tWarm / math.max(tCold, 1e-9)}%.3f")
    require(tWarm <= tCold,
      "warm maintenance must reach tolerance no slower than cold")
  }

  /** Dup-structured random embeddings: coordinates are uniform hash
    * noise (pairwise cosine of distinct bases concentrates at 0 ±1/√dim,
    * so no phantom near-dups — the sin-lattice directions of
    * [[synthEmbeddings]] would correlate ~10% of base PAIRS above 0.95
    * and are only safe for top-1-cell probes); ids ≥ nBase are a random
    * base plus small noise (cosine ≈ 0.99). */
  def synthDupEmbeddings(spark: SparkSession, n: Long, dupRate: Double,
                         dim: Int = 64): DataFrame = {
    val nBase = (n * (1 - dupRate)).toLong
    def coord(key: org.apache.spark.sql.Column,
              j: org.apache.spark.sql.Column, scale: Double) =
      (pmod(xxhash64(key, j), lit(2001L)).cast("double") / lit(1000.0)
        - lit(1.0)) * lit(scale)
    val baseKey = when(col("id") < nBase, col("id"))
      .otherwise(pmod(xxhash64(col("id")), lit(nBase)))
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (coord(baseKey, j, 1.0) +
          when(col("id") < nBase, lit(0.0))
            .otherwise(coord(col("id"), j, 0.12))).cast("float"))
        .as("embedding"))
  }

  /** Embedding near-dup pairs: full-corpus recompute vs the persisted
    * [[EmbeddingLshStore]] — the [[incrProbe]] claim (delta cost ∝
    * batch) for the semantic tier. Geometry note: at 1M random vectors,
    * 22-bit tables keep random bucket occupancy ~1 (candidates ≈
    * C(n,2)·tables/2²² ≈ 1M), while a dup pair at cosine ≈ 0.99 still
    * matches some table with ~0.88 probability across 8 tables —
    * 12-bit tables (fine for the 500-vector query corpus) would drown
    * a 1M corpus in ~10⁹ random-collision candidates. */
  private def embIncrProbe(spark: SparkSession, whRoot: String,
                           n: Long): Unit = {
    val embPath = s"$whRoot/emb_dup_$n"
    time(s"gen dup embeddings n=$n") {
      synthDupEmbeddings(spark, n, 0.05)
        .repartition(32).write.mode("overwrite").parquet(embPath)
    }
    val emb = spark.read.parquet(embPath)
    val cut89 = (n * 0.89).toLong
    val cut99 = (n * 0.99).toLong
    val cfg = EmbeddingLshConfig(threshold = 0.9, dim = 64,
      tables = 8, bitsPerTable = 22, seed = 11L, nStoreBuckets = 64)
    val full = timedCount("emb_full_corpus") {
      Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        cfg.threshold, cfg.dim, cfg.tables, cfg.bitsPerTable, cfg.seed)
    }
    val store = new EmbeddingLshStore(
      new graft.sources.Warehouse(spark, s"$whRoot/el_${System.nanoTime()}"),
      "probe", cfg)
    val p1 = timedCount("emb_store_build(89%)") {
      store.ingest(emb.filter(col("vec_id") < cut89), "vec_id", "embedding")
    }
    val p2 = timedCount("emb_ingest(10%)") {
      store.ingest(emb.filter(col("vec_id") >= cut89 && col("vec_id") < cut99),
        "vec_id", "embedding")
    }
    val p3 = timedCount("emb_ingest(1%)") {
      store.ingest(emb.filter(col("vec_id") >= cut99), "vec_id", "embedding")
    }
    println(s"[probe] pair partition: $p1 + $p2 + $p3 = ${p1 + p2 + p3} " +
      s"(full corpus: $full) planted=${n - (n * 0.95).toLong}")
  }

  /** Sequence shaping at corpus scale: both are linear (chunking is a
    * row-local explode; packing is the two-phase prefix sum), so the
    * numbers to watch are rows/s and that nothing shuffles more than
    * the ids+counts. */
  private def seqProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.Sequences
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val chunks = timedCount(s"chunk(size=64,ov=16) n=$n") {
      Sequences.chunkDocuments(docs, "doc_id", "text", 64, 16)
    }
    val counts = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val t0 = System.nanoTime()
    val packed = Sequences.packSequences(counts, "doc_id", "n_tokens",
      seqLen = 2048L, salt = "probe")
    val nSeqs = packed.agg(max(col("seq_id"))).head().getLong(0) + 1
    println(f"[probe] pack(seqLen=2048)              " +
      f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
      f"docs=$n chunks=$chunks sequences=$nSeqs")
    val survivors = timedCount("dropRepeatedBlocks(16, df>=2)") {
      Sequences.dropRepeatedBlocks(docs, "doc_id", "text", 16, 2)
    }
    println(s"[probe] boilerplate: $n docs -> $survivors with >=1 " +
      "surviving block (dup-family docs lose their repeated blocks)")
  }

  /** Duplicated-substring spans + excision at a realistic dup rate: the
    * grams relation is ~corpus-token-count rows, so what matters is that
    * cost tracks the GRAM volume (two narrow exchanges) and never the
    * pair space; the probe accounts spans and removed-token mass so a
    * silent explosion (e.g. a boilerplate mega-gram chaining everything
    * into one span) would show up in the numbers, not just the wall. */
  private def spansProbe(spark: SparkSession, docsPath: String,
                         minSpans: Seq[Int]): Unit = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    // two regimes by default: minSpan above the generator's 9-token
    // shared-run cap (sparse — only hash-coincidence alignments fire)
    // and below it (dense — every dup doc yields ~a span per
    // inter-mutation run), so both the rare-span and the mass-excision
    // paths get scale wall numbers and accounting. At 10M the regimes'
    // walls are within 10% (gram-bound), so a single regime suffices —
    // two back-to-back runs hold ~2× the gram shuffle on disk.
    for (minSpan <- minSpans) {
      val t0 = System.nanoTime()
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
        k = 5, minSpan = minSpan).persist()
      val a = spans.agg(count(lit(1)).as("c"),
        coalesce(sum(col("span_tokens")), lit(0L)).as("t"),
        countDistinct(col("id")).as("d")).head()
      println(f"[probe] dup_spans(k=5,min=$minSpan%-2d)          " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        f"docs=$n spans=${a.getLong(0)} span_docs=${a.getLong(2)} " +
        f"dup_tokens=${a.getLong(1)}")
      val t1 = System.nanoTime()
      val removed = Dedup.exciseSpans(docs, "doc_id", "text", spans)
        .agg(coalesce(sum(col("n_removed")), lit(0L))).head().getLong(0)
      println(f"[probe] excise_spans(min=$minSpan%-2d)           " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  removed_tokens=$removed")
      spans.unpersist()
    }
  }

  /** Vocabulary / OOV / drift over the probe corpus — unlike the tiny
    * testdata vocabulary (31 tokens), the generator's hash tokens give
    * ~9M DISTINCT keys over 120M occurrences, so the aggregations'
    * map-side combine and the TakeOrdered cut face a realistic
    * heavy-tailed vocabulary. */
  /** Bisection harness for the 10M vocabulary OOM: run one slice of
    * the vocabulary plan at a time. */
  private def vocabDiag(spark: SparkSession, docsPath: String,
                        step: String): Unit = {
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(docsPath)
    val pairs = docs
      .select(col("doc_id").as("id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok", "id").agg(count(lit(1)).as("__c"))
    step match {
      case "pairs" =>
        println(s"[diag] pair agg rows = " + time("pairs")(pairs.count()))
      case "toks" =>
        val toks = pairs.groupBy("tok")
          .agg(sum(col("__c")).as("cnt"), count(lit(1)).as("df"))
        println(s"[diag] tok agg rows = " + time("toks")(toks.count()))
      case "full" =>
        val v = pairs.groupBy("tok")
          .agg(sum(col("__c")).as("cnt"), count(lit(1)).as("df"))
          .orderBy(col("cnt").desc, col("tok").asc).limit(1000)
        println(s"[diag] full rows = " + time("full")(v.count()))
      case "part256" =>
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        val v = pairs.groupBy("tok")
          .agg(sum(col("__c")).as("cnt"), count(lit(1)).as("df"))
          .orderBy(col("cnt").desc, col("tok").asc).limit(1000)
        println(s"[diag] part256 rows = " + time("part256")(v.count()))
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** BPE learning at probe scale: the word-type aggregation is the
    * only corpus-sized job; every merge round after it is
    * O(|word types|) with a near-perfect map-side combine (the pair
    * key space is the symbol alphabet squared). Reports the word-table
    * build and the total/average merge-round wall separately so the
    * two costs stay attributed. */
  private def bpeProbe(spark: SparkSession, docsPath: String,
                       nMerges: Int): Unit = {
    import graft.operators.Bpe
    val docs = spark.read.parquet(docsPath)
    println(s"[probe] docs = ${docs.count()}")
    val t0 = System.nanoTime()
    val merges = Bpe.learnMerges(docs, "text", nMerges)
    val rows = merges.collect()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[probe] bpe learnMerges($nMerges)          $wall%8.2f s  " +
      f"merges=${rows.length} per_round=${wall / math.max(rows.length, 1)}%.2f s")
    rows.take(5).foreach(r => println(s"[probe]   rank=${r.getInt(0)} " +
      s"'${r.getString(1)}'+'${r.getString(2)}' cnt=${r.getLong(3)}"))
    val t1 = System.nanoTime()
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
    val total = enc.agg(sum(col("n_tokens"))).head().getLong(0)
    println(f"[probe] bpe encode (all docs)          " +
      f"${(System.nanoTime() - t1) / 1e9}%8.2f s  total_tokens=$total")
  }

  /** Trained-classifier probes: train each perceptron on a 10% sample
    * with ADVERSARIAL (hash-parity) labels — never linearly separable,
    * so no iteration converges early and every pass pays full cost (the
    * worst-case training wall; separation quality is pinned by
    * QualityModelsSpec, not here) — then score the whole corpus. */
  /** BigQuery staged-load probe: a ≥10M-row frame through
    * [[graft.sources.BigQueryWarehouse.load]] with a staging URI — the
    * server-side route is the default above the threshold. The probe
    * client is METADATA-ONLY (it stats the staged part files, never
    * opens one — a real URI load job's driver-side footprint), and the
    * driver-iterator route counts any row that crosses it, so the
    * require at the end is the contract: zero rows through the driver,
    * flat driver heap across a multi-GB load. */
  private def bqProbe(spark: SparkSession, root: String, n: Long): Unit = {
    import graft.sources.BigQueryStore._
    final class StatClient extends BigQueryClient {
      var stagedBytes = 0L; var stagedFiles = 0; var uriLoadCalls = 0
      var driverRows = 0L
      def hasTable(d: String, t: String) = true
      def load(d: String, t: String, rows: Iterator[String],
               disp: WriteDisposition,
               p: Option[TimePartitioning]): Unit =
        rows.foreach(_ => driverRows += 1)
      def loadUris(d: String, t: String, uris: Seq[String],
                   disp: WriteDisposition,
                   p: Option[TimePartitioning],
                   format: StagedFormat): Unit = {
        uriLoadCalls += 1
        val hconf = spark.sparkContext.hadoopConfiguration
        uris.foreach { u =>
          val path = new org.apache.hadoop.fs.Path(u)
          stagedBytes += path.getFileSystem(hconf).getFileStatus(path).getLen
          stagedFiles += 1
        }
      }
      def insertRows(d: String, t: String, rows: Seq[String]): Unit = ()
      def query(sql: String, params: Map[String, String]): Seq[String] = Nil
    }
    val frame = spark.range(0, n, 1, 32).select(
      col("id"),
      date_format(date_add(to_date(lit("2024-01-01")),
        pmod(col("id"), lit(365)).cast("int")), "yyyy-MM-dd").as("date"),
      concat(lit("key_"), pmod(col("id"), lit(1000))).as("k"),
      pmod(col("id") * 37, lit(100000)).as("v"))
    def heapMb(): Long = {
      System.gc(); Thread.sleep(300)
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) >> 20
    }
    // one staged load per format — the bytes-on-staging comparison the
    // compressed default exists for
    val fmts = Seq(
      graft.sources.BigQueryStore.StagedFormat.Ndjson,
      graft.sources.BigQueryStore.StagedFormat.GzipNdjson,
      graft.sources.BigQueryStore.StagedFormat.Parquet)
    val byFmt = fmts.map { fmt =>
      val client = new StatClient
      val wh = new graft.sources.BigQueryWarehouse(client, "probe",
        stagingUri = Some(s"$root/bq_staging_$fmt"),
        stagedFormat = fmt)
      val before = heapMb()
      time(f"staged load $n%,d rows [$fmt]") {
        wh.load(frame, "big", WriteAppend,
          Some(TimePartitioning("date", Some("DAY"))))
      }
      val after = heapMb()
      println(s"[probe] [$fmt] driver heap before=$before MB " +
        s"after=$after MB delta=${after - before} MB")
      println(f"[probe] [$fmt] uriLoadCalls=${client.uriLoadCalls} " +
        f"stagedFiles=${client.stagedFiles} " +
        f"stagedBytes=${client.stagedBytes / 1e9}%.3f GB " +
        f"driverRows=${client.driverRows} (must be 0)")
      require(client.driverRows == 0L,
        "staged-load contract violated: a row crossed the driver")
      fmt -> client.stagedBytes
    }.toMap
    val plain = byFmt(graft.sources.BigQueryStore.StagedFormat.Ndjson)
    fmts.drop(1).foreach { f =>
      println(f"[probe] staged-bytes ratio $f vs plain NDJSON: ${
        byFmt(f).toDouble / plain}%.3f")
    }
  }

  private def clfProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.QualityModels
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    println(s"[probe] clf corpus=$n")
    val labeled = docs.select(col("doc_id"), col("text"),
      (when(pmod(hash(col("doc_id")), lit(2)) === 0, 1L).otherwise(-1L))
        .as("label"))
    val sample = labeled.filter(col("doc_id") % 10 === 0)
      .localCheckpoint(true)
    println(s"[probe] training sample=${sample.count()}")
    val feats = QualityModels.classifierFeatures(sample, "doc_id", "text")
      .join(sample.select(col("doc_id").as("id"), col("label")), Seq("id"))
      .localCheckpoint(true)
    val wD = time("dense perceptron train (8 iters)") {
      QualityModels.trainPerceptron(feats, "label", iters = 8)
    }
    val mD = QualityModels.perceptronMargin(wD.toSeq)
    val posD = time("dense score full corpus") {
      QualityModels.classifierFeatures(labeled, "doc_id", "text")
        .select(when(mD > 0, 1L).otherwise(0L).as("p"))
        .agg(sum(col("p"))).head().getLong(0)
    }
    println(s"[probe]   dense positives=$posD")
    val wH = time("hashed perceptron train (4 iters)") {
      QualityModels.trainHashedPerceptron(sample, "doc_id", "text",
        "label", numFeatures = 4096, iters = 4)
    }
    val posH = time("hashed score full corpus") {
      QualityModels.hashedMargin(labeled, "doc_id", "text", wH)
        .select(when(col("margin") > 0, 1L).otherwise(0L).as("p"))
        .agg(sum(col("p"))).head().getLong(0)
    }
    println(s"[probe]   hashed positives=$posH  " +
      s"nonzero_weights=${wH.count(_ != 0L)}")

    // --- separable arms: planted quality signal ---------------------
    // The arm above prices the trainers (hash-parity labels, never
    // separable — every iteration runs). These arms answer the QUALITY
    // question on two signal shapes, train 10% / held-out 90%,
    // accuracy at each model's gate + rank-AUC, with the heuristic
    // qualityScore (threshold calibrated on train) as the baseline:
    //
    //  A. DELTA signal — identical docs ± a 10-token suffix (stopwords
    //     vs digit runs). The worst case for the UNNORMALIZED dense
    //     features: the margin lives on f_stop (±10) while f_digit
    //     (~780 per doc, both classes) dominates every batch update,
    //     so the dense iterates oscillate at 50% error by construction
    //     (documented boundary: suffix-delta signals need the hashed
    //     trainer, which learns the tokens themselves).
    //  B. PROFILE signal — classes differ in feature MAGNITUDES
    //     (stopword-rich prose-shaped positives vs half-length
    //     digit-spam negatives), the regime difference a quality gate
    //     actually separates; the dense features carry it.
    val isPos = pmod(xxhash64(col("doc_id"), lit(11L)), lit(2)) === 0
    def sepArm(tag: String, posText: Column, negText: Column): Unit = {
      val planted = docs.select(col("doc_id"),
        when(isPos, posText).otherwise(negText).as("text"),
        when(isPos, 1L).otherwise(-1L).as("label"))
      val trainSep = planted.filter(col("doc_id") % 10 === 0)
        .localCheckpoint(true)
      val heldout = planted.filter(col("doc_id") % 10 =!= 0)
      runSepArm(tag, trainSep, heldout)
    }

    // rank-AUC binned to 4096 score buckets (collect is ≤ 4097 rows —
    // a bounded control read; bin-width error on AUC is ≤ ~1/4096)
    def rankAuc(scored: DataFrame): Double = {
      val mm = scored.agg(min(col("s")), max(col("s"))).head()
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      val width = if (hi > lo) (hi - lo) / 4096.0 else 1.0
      val hist = scored
        .groupBy(floor((col("s") - lit(lo)) / lit(width)).as("b"))
        .agg(sum(when(col("label") === 1L, 1L).otherwise(0L)).as("np"),
          sum(when(col("label") === -1L, 1L).otherwise(0L)).as("nn"))
        .orderBy("b").collect()
      var negBelow = 0.0; var u = 0.0; var nPos = 0.0; var nNeg = 0.0
      hist.foreach { r =>
        val np = r.getLong(1).toDouble; val nn = r.getLong(2).toDouble
        u += np * (negBelow + nn / 2.0); negBelow += nn
        nPos += np; nNeg += nn
      }
      u / (nPos * nNeg)
    }
    def gateAcc(scored: DataFrame, gate: Double): Double = scored
      .select(avg(when((col("s") >= gate && col("label") === 1L) ||
        (col("s") < gate && col("label") === -1L), 1.0).otherwise(0.0))
        .as("a")).head().getDouble(0)

    def runSepArm(tag: String, trainSep: DataFrame,
                  heldout: DataFrame): Unit = {
      val featsSep = QualityModels
        .classifierFeatures(trainSep, "doc_id", "text")
        .join(trainSep.select(col("doc_id").as("id"), col("label")),
          Seq("id"))
        .localCheckpoint(true)
      val wDs = time(s"dense train ($tag, 8 it)") {
        QualityModels.trainPerceptron(featsSep, "label", iters = 8)
      }
      def denseScore(d: DataFrame) = QualityModels
        .classifierFeatures(d, "doc_id", "text")
        .withColumn("s",
          QualityModels.perceptronMargin(wDs.toSeq).cast("double"))
        .join(d.select(col("doc_id").as("id"), col("label")), Seq("id"))
        .select("s", "label")
      val denseScored = denseScore(heldout).localCheckpoint(true)
      // two gates: the raw boundary (perceptronQuality minQuality=1.0,
      // integer margins: ≥ 1 ⇔ > 0) and the TRAIN-CALIBRATED τ — the
      // raw boundary is only calibrated when the updates can balance
      // the feature magnitudes; the calibrated gate is the shipped
      // recipe (calibrateThreshold → CurateConfig.minQuality)
      val (dTau, _) = QualityModels.calibrateThreshold(
        denseScore(trainSep), "s", "label")
      println(f"[probe]   $tag dense   heldout acc@gate=${
        gateAcc(denseScored, 1.0)}%.4f  acc@cal($dTau%.1f)=${
        gateAcc(denseScored, dTau)}%.4f  auc=${rankAuc(denseScored)}%.4f")

      // the conditioning fix: power-of-two up-scaled dense training
      // (weights fold back to raw feature space — same scorer)
      val wSc = time(s"dense-scaled train ($tag, 8 it)") {
        QualityModels.trainPerceptronScaled(featsSep, "label", iters = 8)
      }
      def scaledScore(d: DataFrame) = QualityModels
        .classifierFeatures(d, "doc_id", "text")
        .withColumn("s",
          QualityModels.perceptronMargin(wSc.toSeq).cast("double"))
        .join(d.select(col("doc_id").as("id"), col("label")), Seq("id"))
        .select("s", "label")
      val scaledScored = scaledScore(heldout).localCheckpoint(true)
      val (sTau, _) = QualityModels.calibrateThreshold(
        scaledScore(trainSep), "s", "label")
      println(f"[probe]   $tag dense-SCALED heldout acc@cal($sTau%.1f)=${
        gateAcc(scaledScored, sTau)}%.4f  auc=${rankAuc(scaledScored)}%.4f")

      val wHs = time(s"hashed train ($tag, 4 it)") {
        QualityModels.trainHashedPerceptron(trainSep, "doc_id", "text",
          "label", numFeatures = 4096, iters = 4)
      }
      val hashedScored = QualityModels
        .hashedMargin(heldout, "doc_id", "text", wHs)
        .withColumnRenamed("margin", "s")
        .join(heldout.select(col("doc_id").as("id"), col("label")),
          Seq("id"))
        .select(col("s").cast("double").as("s"), col("label"))
        .localCheckpoint(true)
      println(f"[probe]   $tag hashed  heldout acc@gate=${
        gateAcc(hashedScored, 1.0)}%.4f  auc=${rankAuc(hashedScored)}%.4f")

      // heuristic baseline: qualityScore as a ranker; its gate
      // threshold CALIBRATED on the train split (best-accuracy bin
      // edge), applied held-out — the comparison the curate stage's
      // pluggable-classifier decision actually needs
      def heuristicScored(d: DataFrame) = d
        .select(graft.functions.TextFunctions.qualityScore(col("text"))
          .cast("double").as("s"), col("label"))
      val (hTau, _) = QualityModels.calibrateThreshold(
        heuristicScored(trainSep), "s", "label")
      val hHeld = heuristicScored(heldout).localCheckpoint(true)
      println(f"[probe]   $tag heuristic heldout acc@cal($hTau%.3f)=${
        gateAcc(hHeld, hTau)}%.4f  auc=${rankAuc(hHeld)}%.4f")
    }

    sepArm("A/delta",
      posText = concat(col("text"),
        lit(" the and is of to in that it was he")),
      negText = concat(col("text"),
        lit(" 94721 83650 17284 90573 62849")))
    sepArm("B/profile",
      posText = concat(col("text"),
        lit(Seq.fill(6)(" the of and to in").mkString)),
      negText = concat(
        array_join(slice(split(col("text"), " "), lit(1), lit(60)), " "),
        lit(Seq.fill(15)(" 94721 83650").mkString)))
  }

  private def vocabProbe(spark: SparkSession, docsPath: String): Unit = {
    import graft.operators.CorpusStats
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val t0 = System.nanoTime()
    val voc = CorpusStats.vocabulary(docs, "text", topV = 1000)
      .persist()
    val vn = voc.count()
    println(f"[probe] vocabulary(top 1000)           " +
      f"${(System.nanoTime() - t0) / 1e9}%8.2f s  docs=$n rows=$vn")
    val t1 = System.nanoTime()
    val oovAvg = CorpusStats.oovRate(docs, "doc_id", "text", voc)
      .agg(avg(col("oov_rate"))).head().getDouble(0)
    println(f"[probe] oovRate vs top-1000            " +
      f"${(System.nanoTime() - t1) / 1e9}%8.2f s  mean_oov=$oovAvg%.4f")
    voc.unpersist()
    val t2 = System.nanoTime()
    val drift = CorpusStats.tokenShareDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text", topV = 1000)
    val nNull = drift.filter(col("drift_ratio").isNull).count()
    println(f"[probe] tokenShareDrift(top 1000)      " +
      f"${(System.nanoTime() - t2) / 1e9}%8.2f s  one_sided=$nNull")
    val t3 = System.nanoTime()
    val rareAvg = CorpusStats.rareTokenRatio(docs, "doc_id", "text", 3L)
      .agg(avg(col("rare_ratio"))).head().getDouble(0)
    println(f"[probe] rareTokenRatio(df<3)           " +
      f"${(System.nanoTime() - t3) / 1e9}%8.2f s  mean_ratio=$rareAvg%.4f")
  }

  /** BM25: one-shot scan scoring vs the persisted index — the index
    * pays its cost at append (the postings explode + two bucketed
    * writes); each query then reads only its terms' postings buckets
    * instead of tokenizing the corpus. The crossover is a handful of
    * queries; a serving workload is thousands. */
  private def bm25Probe(spark: SparkSession, docsPath: String,
                        whRoot: String): Unit = {
    import graft.operators.Retrieval
    val docs = spark.read.parquet(docsPath)
    println(s"[probe] docs = ${docs.count()}")
    val terms = Seq("w1234", "w99876", "w500000") // hashed-vocab tokens
    val oneShot = time("bm25 one-shot (3 terms)") {
      Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10).collect()
    }
    val idx = new Retrieval.Bm25Index(spark,
      s"$whRoot/bm_${System.nanoTime()}", "probe", nStoreBuckets = 64)
    time("bm25 index append (full)") {
      idx.append(docs, "doc_id", "text")
    }
    val served = time("bm25 index search (3 terms)") {
      idx.search(terms, k = 10).collect()
    }
    val s2 = time("bm25 index search (repeat)") {
      idx.search(terms, k = 10).collect()
    }
    require(s2.length == served.length)
    println(s"[probe] one-shot rows=${oneShot.length} " +
      s"served rows=${served.length} " +
      s"equal=${oneShot.map(_.toString).toSeq == served.map(_.toString).toSeq}")
  }

  /** Continuous decontamination: one-shot corpus scan per benchmark vs
    * the persisted gram index — the index pays the gram explode once;
    * each new benchmark check then touches only its grams' buckets. */
  private def gramProbe(spark: SparkSession, docsPath: String,
                        whRoot: String): Unit = {
    import graft.operators.Decontamination
    val docs = spark.read.parquet(docsPath)
    println(s"[probe] docs = ${docs.count()}")
    // synthetic benchmark: 100 corpus docs verbatim → guaranteed overlap
    val bench = docs.filter(col("doc_id") % 10007 === 0)
      .select(col("text")).localCheckpoint(true)
    // collect the actual id sets, not counts — equal cardinalities of
    // DIFFERENT flagged docs must not print as equal
    val oneShot = time("decon one-shot scan") {
      Decontamination.contaminatedIds(docs, "doc_id", "text",
          bench, "text", 5)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    // buckets×partitions multiply into the per-append file count —
    // 16×64 = 1024 files per full-corpus append here
    val idx = new Decontamination.GramIndex(spark,
      s"$whRoot/gr_${System.nanoTime()}", "probe", n = 5,
      nStoreBuckets = 16, prefixPartitions = 64)
    time("gram index append (full)") {
      idx.append(docs, "doc_id", "text")
    }
    val viaIndex = time("gram index check") {
      idx.check(bench, "text").collect().map(_.getLong(0)).sorted.toSeq
    }
    val again = timedCount("gram index check (2nd benchmark)") {
      idx.check(docs.filter(col("doc_id") % 9973 === 0)
        .select(col("text")), "text")
    }
    // single-question spot check — the pruning regime: ~8 grams hit ≤8
    // of 64 prefix partitions, so the scan reads a fraction of the
    // postings instead of all of them (a gram-dense benchmark above
    // degrades to the full scan, never worse)
    val snippet = bench.limit(1)
      .select(array_join(slice(split(col("text"), "\\s+"), 1, 12), " ")
        .as("text")).localCheckpoint(true)
    val oneShotSnip = time("decon one-shot scan (single question)") {
      Decontamination.contaminatedIds(docs, "doc_id", "text",
          snippet, "text", 5)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val snipDf = idx.check(snippet, "text")
    val viaIndexSnip = time("gram index check (single question, pruned)") {
      snipDf.collect().map(_.getLong(0)).sorted.toSeq
    }
    val selectedPaths =
      "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findAllMatchIn(snipDf.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).minOption.getOrElse(-1)
    println(s"[probe] one-shot=${oneShot.size} via-index=${viaIndex.size} " +
      s"ids_equal=${oneShot == viaIndex} second_check=$again " +
      s"snippet_ids_equal=${oneShotSnip == viaIndexSnip} " +
      s"snippet_partitions_read=$selectedPaths/64")
  }

  /** Adversarial connected components: ONE corpus-wide near-dup
    * template. A third of the edges attach directly to doc 0 (the
    * template — a 3.3M-degree super-hub at n=10M), the rest attach
    * uniformly below their source, so the whole graph is a single giant
    * component. This is the worst join-skew shape LSH pair output can
    * hand the labeler: after round 1 most nodes carry comp=0, making
    * `__c1 = 0` one hot key through the pointer-jump self-join and
    * `dst = 0` one hot key through the edges⋈labels join. The probe
    * decides whether AQE's skew-join split absorbs it or the joins
    * need explicit salting. */
  private def ccGiantProbe(spark: SparkSession, n: Long,
                           hub: Boolean): Unit = {
    import graft.operators.Dedup
    val attach = // uniform control: same giant component, no super-hub
      if (hub) when(pmod(xxhash64(col("id")), lit(3)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(7)), col("id")))
      else pmod(xxhash64(col("id"), lit(7)), col("id"))
    val edges = spark.range(1, n).select(
      col("id").as("id_a"), attach.as("id_b"))
      .localCheckpoint(true)
    println(s"[probe] edges=${edges.count()}, " +
      s"hub degree=${edges.filter(col("id_b") === 0).count()}")
    val labels = time(s"cc giant component ($n edges)") {
      val l = Dedup.connectedComponents(edges, "id_a", "id_b")
      l.count() // materialize inside the timer
      l
    }
    val comps = labels.select("comp").distinct().count()
    val size0 = labels.filter(col("comp") === 0).count()
    println(s"[probe] components=$comps (must be 1), giant size=$size0")
  }

  /** In-bucket comparison volume Σ C(bucket, 2) for the simhash chunk
    * geometry — what the HammingPairs kernel iterates, counted without
    * materializing pairs (mirrors simhashPortablePairs's bucket keying
    * and filters). */
  private def simhashCandidateVolume(docs: DataFrame, chunks: Int,
                                     chunkBits: Int, seed: Long,
                                     maxBucket: Int = 10000): Long = {
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    val coeffs = Dedup.universalCoeffs(chunks * chunkBits, seed)
    val mask = (1L << chunkBits) - 1
    docs.filter(size(TextFunctions.tokens(col("text"))) > 0)
      .select(Dedup.simhashPortable(col("text"), coeffs).as("sig"))
      .select(explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * chunkBits).bitwiseAND(mask).as("cval"))): _*))
        .as("cc"))
      .groupBy("cc.chunk", "cc.cval").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long"))
      .head().getLong(0)
  }

  /** The IVF build/serve split, end to end against the bucketed
    * warehouse path it was designed for: build ONCE (train + assign +
    * bucketed write), serve MANY (probed top-k over the bucketed
    * table), recall@10 against brute force. */
  private def ivfProbe(spark: SparkSession, embPath: String,
                       whRoot: String): Unit = {
    import graft.operators.Similarity
    val emb = spark.read.parquet(embPath)
    println(s"[probe] vectors = ${emb.count()}")
    val wh = new graft.sources.Warehouse(spark, whRoot)

    val cents = time("ivf_build: train(256 cells)") {
      Similarity.centroidsDF(spark,
        Similarity.trainCentroids(emb, "embedding", kCells = 256,
          sampleN = 20000)).cache()
    }
    cents.count()
    time("ivf_build: assign+bucketed write") {
      wh.appendBucketed("ivf_corpus",
        Similarity.assignCells(emb, "vec_id", "embedding", cents),
        Seq("cell"), 64)
    }

    val queries = emb.filter(col("vec_id") < 256).cache()
    queries.count()
    val corpus = wh.readBucketed("ivf_corpus")
    val served = time("ivf_serve: 256 queries, 8 probes") {
      val r = Similarity.ivfTopKAssigned(corpus, queries, "vec_id",
        "embedding", 10, cents, nProbes = 8).cache()
      r.count(); r
    }
    val brute = time("brute_topk (oracle)") {
      val r = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10).cache()
      r.count(); r
    }
    val hit = served.join(brute, Seq("query_id", "nbr_id")).count()
    println(f"[probe] ivf recall@10 = ${hit.toDouble / brute.count()}%.3f " +
      s"(probing 8/256 cells)")
  }

  /** K-means training cost at corpus scale: per-iteration wall (one
    * narrow NearestCell map + one (cell,dim) exact-integer aggregate),
    * final-assign wall, and the trained clustering's size skew — the
    * numbers that say whether centroid training belongs in-engine or
    * stays a sampled offline step at 100 TB. */
  private def kmeansProbe(spark: SparkSession, embPath: String, k: Int,
                          iters: Int): Unit = {
    import graft.operators.{Clustering, Similarity}
    val e = spark.read.parquet(embPath)
    val n = e.count()
    println(s"[probe] kmeans corpus n=$n k=$k dim=64")
    val c1 = time(s"train k=$k 1 iter") {
      Clustering.kmeansCentroids(e, "vec_id", "embedding", k, 1)
    }
    val cN = time(s"train k=$k $iters iters") {
      Clustering.kmeansCentroids(e, "vec_id", "embedding", k, iters)
    }
    val cdf = Clustering.centroidDf(spark, cN)
    // a count() would PRUNE the assignment projection (narrow map, no
    // referenced columns) and time a metadata row count — force full
    // evaluation the way Bench does
    time("final assign (noop write)") {
      Similarity.assignCells(e, "vec_id", "embedding", cdf)
        .write.format("noop").mode("overwrite").save()
    }
    val sizes = Similarity.assignCells(e, "vec_id", "embedding", cdf)
      .groupBy("cell").count().agg(
        min("count").as("min"), max("count").as("max"),
        count(lit(1)).as("nonempty")).head()
    println(s"[probe] cluster sizes min=${sizes.getLong(0)} " +
      s"max=${sizes.getLong(1)} nonempty=${sizes.getLong(2)}/$k " +
      s"(1-iter vs $iters-iter centroids moved: ${
        c1.zip(cN).count { case ((_, a), (_, b)) => !a.sameElements(b) }})")
  }

  /** Source-reputation aggregation at corpus scale: the dup-count
    * window (hash-pair exchange) + source rollup over synthetic hosts —
    * confirms the stats stay two light exchanges when the source
    * universe is 10k hosts over 1M docs. */
  private def srcStatsProbe(spark: SparkSession, docsPath: String): Unit = {
    val docs = spark.read.parquet(docsPath)
      .withColumn("source",
        concat(lit("host"), pmod(xxhash64(col("doc_id")), lit(10000L))))
    val n = docs.count()
    println(s"[probe] srcstats corpus n=$n hosts<=10000")
    // noop writes, not count(): a count over the aggregate would let
    // the optimizer prune the quality/window expressions and time a
    // skeleton (the kmeans-probe pitfall, BENCH_NOTES round 7)
    time("sourceStats (noop write)") {
      graft.operators.CorpusStats.sourceStats(docs, "doc_id", "text",
        "source").write.format("noop").mode("overwrite").save()
    }
    time("sourceFilter (noop write)") {
      graft.operators.CorpusStats.sourceFilter(docs, "doc_id", "text",
        "source", minQuality = 0.2, maxDupShare = 0.5)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Binned range-join cost at corpus scale: n points vs n/50 intervals
    * over a shared integer domain, bin width = the typical interval
    * length. The number that matters is WALL vs the nested-loop
    * alternative Spark would otherwise pick (quadratic — not even run
    * here past 1e5×1e5; the probe reports the equi-join's wall and its
    * match count, which at these densities already exceeds what a
    * nested loop could scan in hours). */
  private def rangeProbe(spark: SparkSession, n: Long): Unit = {
    val domain = n * 10L       // avg point spacing 10 units
    val ivLen = 500L           // ~50 points per interval
    val nIv = n / 50L
    val points = spark.range(n).select(col("id").as("pid"),
      pmod(xxhash64(col("id")), lit(domain)).as("p"))
    val ivs = spark.range(nIv).select(col("id").as("iid"),
      pmod(xxhash64(col("id"), lit(7L)), lit(domain)).as("s"))
      .withColumn("e", col("s") + ivLen)
    println(s"[probe] range corpus points=$n intervals=$nIv domain=$domain len=$ivLen")
    time("pointInInterval (noop)") {
      graft.operators.RangeJoin.pointInInterval(points, "p", ivs, "s", "e",
        binWidth = ivLen).write.format("noop").mode("overwrite").save()
    }
    timedCount("pointInInterval matches") {
      graft.operators.RangeJoin.pointInInterval(points, "p", ivs, "s", "e",
        binWidth = ivLen)
    }
    val a = ivs.select(col("iid").as("a_id"), col("s").as("a_s"), col("e").as("a_e"))
    val b = ivs.select(col("iid").as("b_id"), col("s").as("b_s"), col("e").as("b_e"))
    timedCount("intervalOverlap pairs") {
      graft.operators.RangeJoin.intervalOverlap(a, "a_s", "a_e",
        b, "b_s", "b_e", binWidth = ivLen)
        .filter(col("a_id") < col("b_id"))
    }
  }

  /** Shuffle-shard export at corpus scale: the permutation assign (row-
    * local hash), the per-shard position sort, and the manifest rollup.
    * numShards sized so a shard ≈ n/1024 rows — the knob a 100 TB run
    * turns up to keep per-shard sorts executor-sized. */
  private def shardProbe(spark: SparkSession, docsPath: String): Unit = {
    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), (length(col("text")) / 6).cast("long").as("w"))
    val n = docs.count()
    println(s"[probe] shard corpus n=$n numShards=1024")
    time("shuffleShards (noop)") {
      graft.operators.Sharding.shuffleShards(docs, "doc_id", 1024, "ep0")
        .write.format("noop").mode("overwrite").save()
    }
    val sh = graft.operators.Sharding.shuffleShards(docs, "doc_id", 1024, "ep0")
    val m = time("manifest") {
      graft.operators.Sharding.shardManifest(sh, "w")
        .agg(count(lit(1)).as("shards"), min("n_rows"), max("n_rows")).head()
    }
    println(s"[probe] shards=${m.getLong(0)} rows/shard " +
      s"min=${m.getLong(1)} max=${m.getLong(2)}")
  }

  /** Sketch-vs-exact heavy hitters over a log-uniform (Zipf-tail) token
    * stream: nTok rows over a ~1M-type vocabulary, threshold set so the
    * heavy set is a few thousand types. Reports the exact groupBy's
    * wall (full-keyspace exchange) against the count-min path's wall
    * plus its candidate-type count — the number that says how much
    * exchange the prefilter actually saved. */
  private def hhProbe(spark: SparkSession, nTok: Long): Unit = {
    // log-uniform (Zipf s≈1) over a ~1e8 vocabulary: a handful of very
    // heavy types AND a tens-of-millions-types unique tail — the web-
    // corpus shape where an exact groupBy still shuffles a huge keyspace
    // AFTER map-side partial aggregation (the tail keys don't combine)
    val vocabLn = 18.4207 // ln(1e8)
    val toks = spark.range(nTok).select(
      concat(lit("z"), floor(exp(
        (pmod(xxhash64(col("id")), lit(1000000000L)).cast("double") / 1e9)
          * vocabLn)).cast("long").cast("string")).as("tok"))
    val threshold = math.max(nTok / 1200L, 10L)
    println(s"[probe] hh corpus tokens=$nTok vocab~1e8 threshold=$threshold")
    val exact = timedCount("exact groupBy HH") {
      toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= threshold)
    }
    val sketched = timedCount("count-min prefiltered HH") {
      graft.operators.Sketches.heavyHitters(toks, "tok", threshold, eps = 1e-4)
    }
    assert(exact == sketched, s"exact $exact != sketched $sketched")
    timedCount("distinct candidate types") {
      toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    }
    timedCount("approxDistinct (1 group)") {
      graft.operators.Sketches.approxDistinct(
        toks.withColumn("g", lit(0)), Seq("g"), "tok")
    }
  }

  /** Incremental-distinct cost at corpus scale: a DistinctStore fed in
    * 10 batches vs re-sketching the whole history per refresh — the
    * family's ingest-∝-batch claim for cardinality tracking. Groups =
    * 1000 sources, values = the hh probe's fat-tailed token stream. */
  private def distincrProbe(spark: SparkSession, nTok: Long,
                            root: String, nGroups: Long = 1000L): Unit = {
    val vocabLn = 18.4207 // ln(1e8)
    def toks(lo: Long, hi: Long) = spark.range(lo, hi).select(
      concat(lit("s"), pmod(xxhash64(col("id"), lit(3L)), lit(nGroups))
        .cast("string")).as("g"),
      concat(lit("z"), floor(exp(
        (pmod(xxhash64(col("id")), lit(1000000000L)).cast("double") / 1e9)
          * vocabLn)).cast("long").cast("string")).as("tok"))
    println(s"[probe] distincr tokens=$nTok groups=$nGroups batches=10")
    val store = new graft.operators.Sketches.DistinctStore(spark, root, "p")
    val step = nTok / 10
    time("10-batch history ingest") {
      (0 until 10).foreach(i =>
        store.append(toks(i * step, (i + 1) * step), "g", "tok"))
    }
    time("1 more batch (the daily cost)") {
      store.append(toks(nTok, nTok + step), "g", "tok")
    }
    timedCount("estimate (serve, fragmented)") { store.estimate() }
    // the wide-store compaction path: group-bucketed base write (the
    // coalesce(1) regression this measures against would funnel the
    // whole store through one task)
    time("compact (fold 11 deltas into a bucketed base)") {
      store.compact()
    }
    timedCount("estimate (serve, compacted)") { store.estimate() }
    timedCount("one-shot recompute") {
      graft.operators.Sketches.approxDistinct(
        toks(0, nTok + step), Seq("g"), "tok")
    }
  }

  /** Exact prefix-filter Jaccard vs the capped and LSH forms on the
    * same corpus: wall + pair counts. The exact form must find AT LEAST
    * the capped form's pairs (caps shrink denominators, so capped
    * jaccard ≥ exact — capped finds extra borderline pairs, exact never
    * misses a true one) and strictly more than LSH recall loses. */
  private def prefixPairsProbe(spark: SparkSession, docsPath: String): Unit = {
    val docs = spark.read.parquet(docsPath)
    println(s"[probe] docs = ${docs.count()}")
    val exact = timedCount("prefix_jaccard exact(t=0.5)") {
      graft.operators.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
    }
    val capped = timedCount("ngram capped(df<=1000)") {
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 1000L)
    }
    val lsh = timedCount("minhash LSH(t=0.5)") {
      graft.operators.Dedup.minhashPortablePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5, seed = 7L)
    }
    println(s"[probe] pairs exact=$exact capped=$capped lsh=$lsh " +
      f"(lsh recall vs exact = ${lsh.toDouble / exact.max(1L)}%.3f)")
  }

  /** Compaction payoff on a FRAGMENTED store: `nAppends` micro-batch
    * appends (the always-on-sink pattern) → serve wall + file count,
    * then compact → same serve, one generation. The serve delta is
    * pure file-count overhead (open/footer/schedule per file) — the
    * cost that grows with stream age until compaction resets it. */
  private def compactProbe(spark: SparkSession, docsPath: String,
                           root: String, nAppends: Int): Unit = {
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    println(s"[probe] compact corpus n=$n appends=$nAppends")
    val idx = new graft.operators.Retrieval.Bm25Index(spark, root, "p",
      nStoreBuckets = 32)
    val per = n / nAppends
    time(s"$nAppends appends (fragmented build)") {
      (0 until nAppends).foreach { i =>
        idx.append(docs.filter(col("doc_id") >= i * per &&
          col("doc_id") < (i + 1) * per), "doc_id", "text")
      }
    }
    def files: Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(root))
    }
    println(s"[probe] files before compact = $files")
    val q = Seq("w100", "w2000", "w30000")
    timedCount("serve (fragmented)") { idx.search(q, 10) }
    timedCount("serve (fragmented, rep 2)") { idx.search(q, 10) }
    time("compact") { idx.compact() }
    println(s"[probe] files after compact = $files")
    timedCount("serve (compacted)") { idx.search(q, 10) }
    timedCount("serve (compacted, rep 2)") { idx.search(q, 10) }
  }

  /** Compressed-vector serving: brute float32 top-10 vs int8-rescore vs
    * PQ-ADC at 1M×64, with recall vs the exact answer and the at-rest
    * bytes of each representation. The claim under test: the candidate
    * pass over 4× (int8) / 64× (PQ) smaller data holds recall ≥ ~0.99
    * with a 4× rescore window. */
  private def quantProbe(spark: SparkSession, embPath: String,
                         root: String, part: String): Unit = {
    val emb = spark.read.parquet(embPath)
    val n = emb.count()
    println(s"[probe] quant corpus n=$n part=$part")
    val queries = emb.filter(col("vec_id") < 100)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    var brute: Set[(Long, Long)] = Set.empty
    if (part == "all" || part == "base") {
    time("brute topk float32 (100 q)") {
      brute = pairs(graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", 10))
    }
    var i8: Set[(Long, Long)] = Set.empty
    time("int8 topk, rescore 4 (100 q)") {
      i8 = pairs(graft.operators.Quantization.int8TopK(
        emb, queries, "vec_id", "embedding", 10, rescoreFactor = 4))
    }
    println(f"[probe] int8 recall vs exact = ${
      (i8 & brute).size.toDouble / brute.size}%.4f")
    // the persisted-code serve — the form with the actual 4× scan cut
    graft.operators.Quantization.quantizeInt8(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/int8codes")
    val i8codes = spark.read.parquet(s"$root/int8codes")
    var i8e: Set[(Long, Long)] = Set.empty
    time("int8 topk ENCODED (persisted codes)") {
      i8e = pairs(graft.operators.Quantization.int8TopKEncoded(
        i8codes, emb, queries, "vec_id", "embedding", 10, rescoreFactor = 4))
    }
    println(f"[probe] int8-encoded recall vs exact = ${
      (i8e & brute).size.toDouble / brute.size}%.4f")
    }
    // PQ: train on a 10% sample (the q113 discipline), encode everything.
    // m=16 (4-dim slices) so per-vector noise reaches the code and
    // near-identical vectors don't collapse onto ONE code — the first
    // probe (m=8) measured recall 0.01 from exactly that collapse:
    // thousands of same-code candidates tie on approx score and the
    // id tie-break pushes the true neighbors outside the window.
    var books: Seq[Seq[(Int, Array[Double])]] = Seq.empty
    time("pq train m=16 ksub=16 it=2 (10% sample)") {
      books = graft.operators.Quantization.pqTrain(
        emb.filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", dim = 64, m = 16, ksub = 16, iters = 2)
    }
    if (part == "all" || part == "base") {
    val codesPath = s"$root/pq_codes"
    time("pq encode + persist (1 narrow map)") {
      graft.operators.Quantization.pqEncode(emb, "vec_id", "embedding", books)
        .write.mode("overwrite").parquet(codesPath)
    }
    val codes = spark.read.parquet(codesPath)
    // rescore-window sweep: the recall knob, and the honest cost curve
    Seq(8, 100).foreach { rf =>
      var pq: Set[(Long, Long)] = Set.empty
      time(s"pq ADC topk, rescore $rf (100 q)") {
        pq = pairs(graft.operators.Quantization.pqTopKEncoded(
          codes, emb, queries, "vec_id", "embedding", 10, books,
          rescoreFactor = rf))
      }
      println(f"[probe] pq recall (rf=$rf) vs exact = ${
        (pq & brute).size.toDouble / brute.size}%.4f")
    }
    }
    if (part != "base") {
    // planted-margin case: the retrieval workload PQ exists for. 10
    // jittered copies of each query (±1% noise) enter the corpus; the
    // true top-10 are now separated from the bulk by a real margin
    // instead of the synthetic corpus's iid ±0.15 noise floor (which
    // sits BELOW the code quantization error — no code can rank inside
    // it, only the rescore window can).
    // planted ids start past the corpus max — a fixed 2M offset
    // COLLIDED with real ids at the 10M tier (review-caught), putting
    // two vectors behind one id and corrupting the recall sets
    val idBase = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val plantedDf = emb.unionByName(
      queries.crossJoin(spark.range(10).select(col("id").as("__r")))
        .select((col("vec_id") * 10 + col("__r") + lit(idBase)).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            (x + sin(col("vec_id") * 131 + col("__r") * 17 + j)
              * lit(0.01f)).cast("float")).as("embedding")))
    // spilled to parquet, NOT localCheckpoint: pinning the whole
    // corpus in storage memory OOM'd the 10M run (probe-caught)
    plantedDf.write.mode("overwrite").parquet(s"$root/planted")
    val planted = spark.read.parquet(s"$root/planted")
    var pbrute: Set[(Long, Long)] = Set.empty
    time("planted: brute float32") {
      pbrute = pairs(graft.operators.Similarity.bruteForceTopK(
        planted, queries, "vec_id", "embedding", 10))
    }
    // "plantedfast" skips the flat ADC scan (its recall is the same as
    // ivfpq's — both use raw-vector codes — and the linear scan is the
    // wall the cell-probed variants exist to avoid)
    if (part != "plantedfast") {
      graft.operators.Quantization.pqEncode(
        planted, "vec_id", "embedding", books)
        .write.mode("overwrite").parquet(s"$root/pcodes")
      val pcodes = spark.read.parquet(s"$root/pcodes")
      var ppq: Set[(Long, Long)] = Set.empty
      time("planted: pq ADC, rescore 8") {
        ppq = pairs(graft.operators.Quantization.pqTopKEncoded(
          pcodes, planted, queries, "vec_id", "embedding", 10, books,
          rescoreFactor = 8))
      }
      println(f"[probe] planted pq recall vs exact = ${
        (ppq & pbrute).size.toDouble / pbrute.size}%.4f")
    }
    // IVF-PQ: coarse cells bound candidates, equi-join serve
    var cents: org.apache.spark.sql.DataFrame = null
    time("ivfpq: coarse kmeans k=64 it=2 (10% sample)") {
      cents = graft.operators.Clustering.kmeans(
        planted.filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", k = 64, iters = 2)
    }
    graft.operators.Quantization.pqEncodeAssigned(
      planted, "vec_id", "embedding", cents, books)
      .write.mode("overwrite").parquet(s"$root/acodes")
    val acodes = spark.read.parquet(s"$root/acodes")
    var ivfpq: Set[(Long, Long)] = Set.empty
    time("ivfpq: serve nProbes=8, rescore 8") {
      ivfpq = pairs(graft.operators.Quantization.ivfPqTopKEncoded(
        acodes, planted, queries, "vec_id", "embedding", 10, cents, books,
        nProbes = 8, rescoreFactor = 8))
    }
    println(f"[probe] planted ivfpq recall vs exact = ${
      (ivfpq & pbrute).size.toDouble / pbrute.size}%.4f")
    // IVFADC (residual codes): same budget, code error = within-cell
    // spread — the published fix for fine ranking from codes
    var rbooks: Seq[Seq[(Int, Array[Double])]] = Seq.empty
    time("ivfadc: residual pq train m=16 ksub=16 (10% sample)") {
      rbooks = graft.operators.Quantization.pqTrain(
        graft.operators.Quantization.residuals(
          planted.filter(pmod(col("vec_id"), lit(10)) === 0),
          "vec_id", "embedding", cents),
        "id", "rvec", dim = 64, m = 16, ksub = 16, iters = 2)
    }
    graft.operators.Quantization.pqEncodeResidual(
      planted, "vec_id", "embedding", cents, rbooks)
      .write.mode("overwrite").parquet(s"$root/rcodes")
    val rcodes = spark.read.parquet(s"$root/rcodes")
    var adc: Set[(Long, Long)] = Set.empty
    time("ivfadc: serve nProbes=8, rescore 8") {
      adc = pairs(graft.operators.Quantization.ivfAdcTopKEncoded(
        rcodes, planted, queries, "vec_id", "embedding", 10, cents, rbooks,
        nProbes = 8, rescoreFactor = 8))
    }
    println(f"[probe] planted ivfadc recall vs exact = ${
      (adc & pbrute).size.toDouble / pbrute.size}%.4f")
    }
    if (part.startsWith("planted")) return
    // at-rest accounting (parquet bytes, same codec everywhere)
    val int8Path = s"$root/int8"
    graft.operators.Quantization.quantizeInt8(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(int8Path)
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p))
    }
    val fullPath = s"$root/full"
    emb.write.mode("overwrite").parquet(fullPath)
    println(s"[probe] bytes float32=${dirBytes(fullPath)} " +
      s"int8=${dirBytes(int8Path)} pq=${dirBytes(s"$root/pq_codes")}")
  }

  /** Image dedup at corpus scale: n REAL PNGs (5% planted exact
    * perceptual dups), decode+dHash wall (the codec throughput story),
    * hamming pairs, components, kept set — the multimodal tier's
    * end-to-end dedup measured where the decode cost dominates. */
  private def imgProbe(spark: SparkSession, n: Long, root: String): Unit = {
    import spark.implicits._
    println(s"[probe] img corpus n=$n (5% dups)")
    val dupStart = (n * 0.95).toLong
    val mediaPath = s"$root/media"
    time("synth media (1 narrow map, real PNG encode)") {
      spark.range(n).select(col("id"),
          when(col("id") < dupStart, col("id"))
            .otherwise(pmod(col("id") * 2654435761L, lit(dupStart))).as("g"))
        .select(col("id"), col("g"),
          (pmod(col("g"), lit(11)) + 20).cast("int").as("w"),
          (pmod(col("g"), lit(7)) + 16).cast("int").as("h"))
        .as[(Long, Long, Int, Int)]
        .mapPartitions(_.map { case (id, g, w, h) =>
          (id, graft.operators.Multimodal.pngBytes(w, h, g)) })
        .toDF("media_id", "content")
        .write.mode("overwrite").parquet(mediaPath)
    }
    val media = spark.read.parquet(mediaPath)
    val hashPath = s"$root/hashes"
    time("dHash (decode + 9x8 gray grid)") {
      graft.operators.Multimodal.dHash(media, "media_id", "content")
        .write.mode("overwrite").parquet(hashPath)
    }
    val hashes = spark.read.parquet(hashPath)
    var pairs: org.apache.spark.sql.DataFrame = null
    val nPairs = timedCount("hamming pairs (dist 0, pigeonhole)") {
      pairs = graft.operators.Dedup.signatureNearDupPairs(
        hashes, "media_id", "dhash", maxDist = 0).localCheckpoint(true)
      pairs
    }
    val kept = timedCount("components + representatives") {
      graft.operators.Similarity.keepRepresentatives(
        hashes.select("media_id"), "media_id", pairs)
    }
    println(s"[probe] pairs=$nPairs kept=$kept dropped=${n - kept}")
  }

  /** HammingStore at 1M signatures: one-shot pair wall vs store build
    * (95%) + small ingests — the batch-proportional claim for the
    * precomputed-signature store, with pair-partition equality
    * checked. Sigs are xxhash64-derived with 5% planted one-bit
    * flips of earlier ids. */
  private def hammProbe(spark: SparkSession, n: Long, root: String): Unit = {
    println(s"[probe] hamm corpus n=$n (5% one-bit dups)")
    val dupStart = (n * 95 / 100)
    val sigs = spark.range(n).select(col("id"),
        when(col("id") < dupStart, xxhash64(col("id")))
          .otherwise(xxhash64(pmod(col("id") * 2654435761L, lit(dupStart)))
            .bitwiseXOR(expr("shiftleft(1L, cast(id % 64 as int))")))
          .as("sig"))
      .localCheckpoint(true)
    val cfg = graft.operators.HammingConfig(maxDist = 1)
    val oneShot = timedCount("one-shot pairs (dist 1)") {
      graft.operators.Dedup.signatureNearDupPairs(sigs, "id", "sig",
        cfg.maxDist, cfg.chunks, cfg.chunkBits, cfg.maxBucket)
    }
    val wh = new graft.sources.Warehouse(spark, root)
    val store = new graft.operators.HammingStore(wh, "p", cfg)
    var total = 0L
    time("store build (95% batch)") {
      total += store.ingest(sigs.filter(col("id") < dupStart), "id", "sig")
        .count()
    }
    time("ingest 4% batch") {
      total += store.ingest(sigs.filter(col("id") >= dupStart &&
        col("id") < n - n / 100), "id", "sig").count()
    }
    time("ingest 1% batch (the daily cost)") {
      total += store.ingest(sigs.filter(col("id") >= n - n / 100),
        "id", "sig").count()
    }
    println(s"[probe] store pairs total=$total oneShot=$oneShot " +
      s"partition ${if (total == oneShot) "EXACT" else "MISMATCH"}")
  }

  /** Always-on sink with the auto-compaction policy on a LONG stream:
    * `nAppends` one-file micro-batches through the REAL
    * runAppendStoreAvailableNow maintenance path, policy on vs off —
    * file counts and the serve wall they cost. The bounded-serve claim
    * for streams that outlive any operator attention. */
  private def autocProbe(spark: SparkSession, root: String,
                         nAppends: Int): Unit = {
    import org.apache.spark.sql.functions.{col => c}
    println(s"[probe] autoc appends=$nAppends (IvfStore, 64-dim)")
    val vecs = spark.range(nAppends.toLong * 100).select(
      c("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => cos(c("id") % 16 + j.cast("double") * 0.37)
          .cast("float")).as("embedding"))
    val cents = {
      import spark.implicits._
      (0 until 16).map(i =>
        (i, Array.tabulate(64)(j => math.cos(i + j * 0.37)).toSeq))
        .toDF("cell", "cvec")
    }
    val inDir = s"$root/in"
    time(s"write $nAppends one-batch input files") {
      vecs.repartition(nAppends, c("vec_id")).write
        .mode("overwrite").parquet(inDir)
    }
    val schema = vecs.schema
    def run(label: String, storeRoot: String,
            policy: Option[graft.streaming.Streaming.CompactionPolicy]): Unit = {
      val store = new graft.operators.IvfStore(
        new graft.sources.Warehouse(spark, storeRoot), "p", cents,
        nStoreBuckets = 32)
      time(s"$label: $nAppends micro-batches") {
        graft.streaming.Streaming.runAppendStoreAvailableNow(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(inDir),
          store, s"$storeRoot/ckpt", "vec_id", "embedding",
          autoCompact = policy)
      }
      println(s"[probe] $label files=" +
        graft.streaming.Streaming.dataFileCount(storeRoot))
      val queries = vecs.limit(50)
      timedCount(s"$label: serve (50 queries)") {
        store.serve(queries, "vec_id", "embedding", k = 5, nProbes = 4)
      }
    }
    run("policy ON (maxFiles=512, checkEvery=8)", s"$root/on",
      Some(graft.streaming.Streaming.CompactionPolicy(maxFiles = 512,
        checkEvery = 8)))
    run("policy OFF (fragmenting)", s"$root/off", None)
  }

  /** Offline eval sweep through the partitioned IVF-PQ server: 100k
    * queries — the broadcast form must REFUSE (its guard) and the
    * partitioned form must complete. */
  private def pqueryProbe(spark: SparkSession, embPath: String,
                          nQueries: Int): Unit = {
    import graft.operators.{Clustering, Quantization}
    val emb = spark.read.parquet(embPath)
    val n = emb.count()
    println(s"[probe] pquery corpus=$n queries=$nQueries")
    // 512 coarse cells — the ~√N sizing a 1M corpus actually serves
    // under (64 cells probed 2k candidates per query per probe; the
    // first probe run at 64 cells scored 6.25B pairs and spilled out
    // of the box's disk — candidates ∝ corpus/cells is the design
    // knob, not a flaw in the sweep form)
    val sample = emb.limit(200000)
    val cents = time("kmeans train (512 cells, sampled)") {
      Clustering.kmeans(sample, "vec_id", "embedding", k = 512, iters = 2)
    }
    val books = time("pq train (m=16, fused)") {
      Quantization.pqTrain(sample, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 16, iters = 2)
    }
    val codes = time("encode corpus") {
      val df = Quantization.pqEncodeAssigned(emb, "vec_id", "embedding",
        cents, books)
      df.write.mode("overwrite").parquet(s"$embPath.__codes")
      spark.read.parquet(s"$embPath.__codes")
    }
    val queries = emb.limit(nQueries)
    try {
      Quantization.ivfPqTopKEncoded(codes, emb, queries, "vec_id",
        "embedding", 10, cents, books, nProbes = 2).count()
      println("[probe] BROKEN: broadcast form accepted an eval sweep")
    } catch {
      case e: IllegalArgumentException =>
        println(s"[probe] broadcast form refused as designed: " +
          e.getMessage.take(80))
    }
    timedCount(s"partitioned IVF-PQ serve ($nQueries queries)") {
      Quantization.ivfPqTopKEncodedPartitioned(codes, emb, queries,
        "vec_id", "embedding", 10, cents, books, nProbes = 2, cellSalt = 16)
    }
  }

  /** Crawl-ingestion throughput: synthesize `nArchives` gzip WARC
    * archives (multi-member, one record per member — the CommonCrawl
    * layout) of `recsPer` HTML response records each, then measure the
    * streaming reader end-to-end: record parse + HTTP envelope split +
    * the curation-facing text projection. One task per archive — the
    * reader's scale unit — so wall ∝ max archive size, not corpus. */
  private def warcProbe(spark: SparkSession, root: String,
                        nArchives: Int, recsPer: Int): Unit = {
    import java.util.zip.GZIPOutputStream
    val dir = new java.io.File(s"$root/warc"); dir.mkdirs()
    val bytes = time(s"gen $nArchives archives x $recsPer recs") {
      // one executor task per archive — the gen mirrors the read's
      // parallelism unit
      spark.range(0, nArchives, 1, math.min(nArchives, 32))
        .select(col("id"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .map { a =>
          val filler = ("lorem ipsum dolor sit amet consectetur " +
            "adipiscing elit sed do eiusmod tempor incididunt ut labore ")
            .repeat(12)
          val out = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(s"$root/warc/part-$a.warc.gz"),
            1 << 16)
          var total = 0L
          (0 until recsPer).foreach { r =>
            val html = s"<html><head><title>doc $a-$r</title></head>" +
              s"<body><p>$filler</p><p>id $a-$r</p></body></html>"
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              s"charset=utf-8\r\n\r\n$html"
            val content = http.getBytes("UTF-8")
            val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://host$a.test/p$r\r\n" +
              s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
              s"WARC-Record-ID: <urn:uuid:$a-$r>\r\n" +
              s"Content-Type: application/http; msgtype=response\r\n" +
              s"Content-Length: ${content.length}\r\n\r\n").getBytes("UTF-8") ++
              content ++ "\r\n\r\n".getBytes("UTF-8")
            val gz = new GZIPOutputStream(out); gz.write(rec); gz.finish()
            total += rec.length
          }
          out.close()
          total
        }(org.apache.spark.sql.Encoders.scalaLong)
        .reduce(_ + _)
    }
    println(f"[probe] raw bytes ${bytes / 1e9}%.2f GB (pre-gzip)")
    val n = timedCount("parse all records") {
      graft.sources.WarcSource.read(spark, s"$root/warc/*.warc.gz")
    }
    val t0 = System.nanoTime()
    val ok = graft.sources.WarcSource
      .readResponses(spark, s"$root/warc/*.warc.gz")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("text")))).head().getLong(0)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[probe] text projection $dt%.2f s  " +
      f"${n / dt / 1000}%.0f krec/s  ${bytes / 1e9 / dt}%.2f GB/s  " +
      s"chars=$ok")

    // streaming form: file-REFERENCE micro-batches (content pruned at
    // the source), executor-opened streams — peak heap must stay far
    // under sum-of-archives, the bound the old whole-array form lacked
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (!Thread.currentThread().isInterrupted) {
        val r = Runtime.getRuntime
        val used = r.totalMemory - r.freeMemory
        peak.accumulateAndGet(used, math.max)
        try Thread.sleep(50) catch { case _: InterruptedException =>
          Thread.currentThread().interrupt() }
      }
    })
    sampler.setDaemon(true)
    System.gc()
    sampler.start()
    val t1 = System.nanoTime()
    var streamed = 0L
    val q = graft.sources.WarcSource
      .readResponsesStream(spark, s"$root/warc", maxFilesPerTrigger = 8)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => streamed += df.count() }
      .option("checkpointLocation", s"$root/warc_ckpt")
      .start()
    q.awaitTermination()
    sampler.interrupt()
    val dt1 = (System.nanoTime() - t1) / 1e9
    println(f"[probe] streaming form $dt1%.2f s  rows=$streamed  " +
      f"peak heap ${peak.get / 1e9}%.2f GB (archives on disk " +
      f"${bytes / 1e9}%.2f GB pre-gzip)")
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
      case "gen" :: docsPath :: n :: dupRate :: rest =>
        time(s"gen docs n=$n dup=$dupRate") {
          synthDocs(spark, n.toLong, dupRate.toDouble)
            .repartition(32).write.mode("overwrite").parquet(docsPath)
        }
        rest match {
          case embPath :: nVecs :: Nil =>
            time(s"gen embeddings n=$nVecs") {
              synthEmbeddings(spark, nVecs.toLong)
                .repartition(32).write.mode("overwrite").parquet(embPath)
            }
          case _ => ()
        }
      case "pairs" :: docsPath :: dupRate :: Nil =>
        pairsProbe(spark, docsPath, dupRate.toDouble)
      case "ivf" :: embPath :: whRoot :: Nil =>
        ivfProbe(spark, embPath, whRoot)
      case "cc" :: docsPath :: Nil =>
        ccProbe(spark, docsPath)
      case "incr" :: docsPath :: whRoot :: Nil =>
        incrProbe(spark, docsPath, whRoot)
      case "mhgate" :: docsPath :: whRoot :: storeDocs :: sizes =>
        mhGateProbe(spark, docsPath, whRoot, storeDocs.toLong,
          if (sizes.isEmpty) Seq(1000L, 4000L, 16000L) else sizes.map(_.toLong))
      case "stream" :: root :: nRows :: Nil =>
        streamProbe(spark, root, nRows.toLong)
      case "embincr" :: whRoot :: nVecs :: Nil =>
        embIncrProbe(spark, whRoot, nVecs.toLong)
      case "seq" :: docsPath :: Nil =>
        seqProbe(spark, docsPath)
      case "spans" :: docsPath :: rest if rest.forall(_.forall(_.isDigit)) =>
        spansProbe(spark, docsPath,
          if (rest.isEmpty) Seq(15, 8) else rest.map(_.toInt))
      case "vocab" :: docsPath :: Nil =>
        vocabProbe(spark, docsPath)
      case "bpe" :: docsPath :: rest =>
        bpeProbe(spark, docsPath,
          if (rest.isEmpty) 30 else rest.head.toInt)
      case "vocabdiag" :: docsPath :: step :: Nil =>
        vocabDiag(spark, docsPath, step)
      case "bm25" :: docsPath :: whRoot :: Nil =>
        bm25Probe(spark, docsPath, whRoot)
      case "gram" :: docsPath :: whRoot :: Nil =>
        gramProbe(spark, docsPath, whRoot)
      case "ccgiant" :: n :: Nil =>
        ccGiantProbe(spark, n.toLong, hub = true)
      case "ccgiant" :: n :: "uniform" :: Nil =>
        ccGiantProbe(spark, n.toLong, hub = false) // skew-free control
      case "kmeans" :: embPath :: rest =>
        val k = rest.headOption.map(_.toInt).getOrElse(256)
        val iters = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
        kmeansProbe(spark, embPath, k, iters)
      case "srcstats" :: docsPath :: Nil =>
        srcStatsProbe(spark, docsPath)
      case "range" :: n :: Nil =>
        rangeProbe(spark, n.toLong)
      case "shard" :: docsPath :: Nil =>
        shardProbe(spark, docsPath)
      case "hh" :: nTok :: Nil =>
        hhProbe(spark, nTok.toLong)
      case "distincr" :: nTok :: root :: rest =>
        distincrProbe(spark, nTok.toLong, root,
          rest.headOption.map(_.toLong).getOrElse(1000L))
      case "ppairs" :: docsPath :: Nil =>
        prefixPairsProbe(spark, docsPath)
      case "compact" :: docsPath :: root :: rest =>
        compactProbe(spark, docsPath, root,
          rest.headOption.map(_.toInt).getOrElse(100))
      case "quant" :: embPath :: root :: rest =>
        quantProbe(spark, embPath, root, rest.headOption.getOrElse("all"))
      case "img" :: nStr :: root :: Nil =>
        imgProbe(spark, nStr.toLong, root)
      case "hamm" :: nStr :: root :: Nil =>
        hammProbe(spark, nStr.toLong, root)
      case "autoc" :: root :: rest =>
        autocProbe(spark, root, rest.headOption.map(_.toInt).getOrElse(200))
      case "pqtrain" :: embPath :: Nil =>
        // the fused-trainer wall at the BENCH_NOTES reference point:
        // 1M sample rows, 16 subspaces × 2 Lloyd iterations
        val emb = spark.read.parquet(embPath)
        println(s"[probe] pqtrain sample=${emb.count()} m=16 ksub=16 it=2")
        time("pq train m=16 ksub=16 it=2 (fused, one job/iter)") {
          graft.operators.Quantization.pqTrain(emb, "vec_id", "embedding",
            dim = 64, m = 16, ksub = 16, iters = 2)
        }
        ()
      case "pquery" :: embPath :: rest =>
        pqueryProbe(spark, embPath,
          rest.headOption.map(_.toInt).getOrElse(100000))
      case "e2e" :: docsPath :: root :: Nil =>
        e2eProbe(spark, docsPath, root)
      case "clf" :: docsPath :: Nil =>
        clfProbe(spark, docsPath)
      case "cont" :: docsPath :: whRoot :: Nil =>
        contProbe(spark, docsPath, whRoot)
      case "graph" :: nStr :: eStr :: Nil =>
        graphProbe(spark, nStr.toLong, eStr.toLong)
      case "edgestore" :: whRoot :: nStr :: eStr :: Nil =>
        edgeStoreProbe(spark, whRoot, nStr.toLong, eStr.toLong)
      case "auth" :: docsPath :: Nil =>
        authProbe(spark, docsPath)
      case "trust" :: nStr :: eStr :: Nil =>
        trustProbe(spark, nStr.toLong, eStr.toLong)
      case "epoch" :: whRoot :: docsPath :: Nil =>
        epochProbe(spark, whRoot, docsPath)
      case "anchor" :: docsPath :: Nil =>
        anchorProbe(spark, docsPath)
      case "sitelevel" :: docsPath :: Nil =>
        siteLevelProbe(spark, docsPath)
      case "trustmaint" :: whRoot :: nStr :: eStr :: rest =>
        trustMaintProbe(spark, whRoot, nStr.toLong, eStr.toLong,
          rest.headOption.map(_.toLong).getOrElse(100L))
      case "warc" :: root :: nArch :: recs :: Nil =>
        warcProbe(spark, root, nArch.toInt, recs.toInt)
      case "bq" :: root :: nRows :: Nil =>
        bqProbe(spark, root, nRows.toLong)
      case _ =>
        println("usage: gen <docs> <n> <dupRate> [<emb> <nVecs>] | " +
          "pairs <docs> <dupRate> | ivf <emb> <whRoot> | cc <docs> | " +
          "incr <docs> <whRoot> | stream <root> <nRows> | " +
          "mhgate <docs> <whRoot> <storeDocs> [sizes…] | " +
          "embincr <whRoot> <nVecs> | seq <docs> | spans <docs> | " +
          "vocab <docs> | vocabdiag <docs> <step> | bpe <docs> [k] | " +
          "bm25 <docs> <whRoot> | gram <docs> <whRoot> | ccgiant <n> " +
          "[uniform] | kmeans <emb> [k iters] | srcstats <docs> | " +
          "range <n> | shard <docs> | hh <nTok> | distincr <nTok> <root> | " +
          "ppairs <docs> | compact <docs> <root> [nAppends] | " +
          "quant <emb> <root> [all|base|planted|plantedfast] | " +
          "img <n> <root> | hamm <n> <root> | bq <root> <nRows> | " +
          "cont <docs> <whRoot> | graph <n> <e> | sitelevel <docs>")
    }
    spark.stop()
  }
}
