package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Warehouse

/** Incremental dedup against persisted signature stores + the incremental
  * connected-components fold. The load-bearing property everywhere:
  * batch-wise ingestion is observationally equal to a full-corpus
  * recompute — each pair emitted exactly once, at the ingest of its later
  * endpoint. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh(): Warehouse =
    new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_incspec_").toString)

  /** Synthetic corpus with planted near-dups: every third doc is a
    * light mutation of its predecessor, so both sketches find pairs. */
  private def corpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    var prev = ""
    (0L until n).map { i =>
      val text =
        if (i % 3 == 2 && prev.nonEmpty) {
          val toks = prev.split(" ").toVector
          val j = rnd.nextInt(toks.size)
          toks.updated(j, vocab(rnd.nextInt(vocab.size))).mkString(" ")
        } else Vector.fill(12 + rnd.nextInt(6))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      prev = text
      (i, text)
    }
  }

  private def pairKey(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhash store: batch ingests partition the full-corpus pairs") {
    val cfg = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, seed = 7L)
    val docs = corpus(60, seed = 1L).toDF("id", "text")
    val full = pairKey(Dedup.minhashPortablePairs(docs, "id", "text",
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed,
      cfg.maxBucket))
    assert(full.nonEmpty, "corpus must plant at least one near-dup pair")

    val store = new MinhashStore(freshWh(), "t", cfg)
    val b1 = docs.filter(col("id") < 40)
    val b2 = docs.filter(col("id") >= 40)
    val p1 = pairKey(store.ingest(b1, "id", "text"))
    val p2 = pairKey(store.ingest(b2, "id", "text"))

    val fullB1 = full.filter(p => p._1 < 40 && p._2 < 40)
    val fullTouching2 = full.filter(p => p._1 >= 40 || p._2 >= 40)
    assert(p1 === fullB1, "ingest 1 = full pairs within batch 1")
    assert(p2 === fullTouching2, "ingest 2 = full pairs touching batch 2")
    assert((p1 & p2) === Set.empty, "no pair emitted twice")
  }

  test("simhash store: batch ingests partition the full-corpus pairs") {
    val cfg = SimhashConfig(maxDist = 3, seed = 7L)
    val docs = corpus(60, seed = 2L).toDF("id", "text")
    val full = pairKey(Dedup.simhashPortablePairs(docs, "id", "text",
      cfg.maxDist, cfg.seed, cfg.maxBucket, cfg.chunks, cfg.chunkBits))
    assert(full.nonEmpty)

    val store = new SimhashStore(freshWh(), "t", cfg)
    val p1 = pairKey(store.ingest(docs.filter(col("id") < 40), "id", "text"))
    val p2 = pairKey(store.ingest(docs.filter(col("id") >= 40), "id", "text"))
    assert(p1 === full.filter(p => p._1 < 40 && p._2 < 40))
    assert(p2 === full.filter(p => p._1 >= 40 || p._2 >= 40))
    assert((p1 & p2) === Set.empty)
  }

  test("minhash store: three sequential ingests reassemble the full run") {
    val cfg = MinhashConfig(shingleN = 2, bands = 8, rowsPerBand = 2,
      threshold = 0.4, seed = 11L)
    val docs = corpus(45, seed = 3L).toDF("id", "text")
    val full = pairKey(Dedup.minhashPortablePairs(docs, "id", "text",
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed,
      cfg.maxBucket))
    val store = new MinhashStore(freshWh(), "t", cfg)
    // uneven batch sizes, ids NOT contiguous with ingest order (parity
    // split) — order of arrival must not matter for the union
    val union = pairKey(store.ingest(docs.filter(col("id") % 3 === 0), "id", "text")) ++
      pairKey(store.ingest(docs.filter(col("id") % 3 === 1), "id", "text")) ++
      pairKey(store.ingest(docs.filter(col("id") % 3 === 2), "id", "text"))
    assert(union === full)
  }

  test("minhash store compaction: fewer files, same pairs, ingest continues") {
    val cfg = MinhashConfig(shingleN = 2, bands = 8, rowsPerBand = 2,
      threshold = 0.4, seed = 11L, nStoreBuckets = 2)
    val docs = corpus(60, seed = 3L).toDF("id", "text")
    val full = pairKey(Dedup.minhashPortablePairs(docs, "id", "text",
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed,
      cfg.maxBucket))
    val wh = freshWh()
    val store = new MinhashStore(wh, "t", cfg)
    // fragmented build: 6 micro-ingests (the always-on-sink pattern)
    val pre = (0 until 6).map(i => pairKey(
      store.ingest(docs.filter(col("id") % 6 === i), "id", "text")))
      .reduce(_ ++ _)
    def dataFiles(prefix: String): Int = {
      val whd = new java.io.File(s"${wh.root}/warehouse")
      Option(whd.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith(prefix))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .count(f => f.getName.endsWith(".parquet"))
    }
    assert(dataFiles("t_mh_sig") >= 12, "6 ingests x 2 buckets")
    store.compact()
    assert(dataFiles("t_mh_sig") <= 2,
      s"one generation left: ${dataFiles("t_mh_sig")}")
    assert(dataFiles("t_mh_set") <= 2)
    // post-compact ingest pairs against the compacted store correctly
    val extra = Seq((100L, docs.filter(col("id") === 0)
      .select("text").as[String].head())).toDF("id", "text")
    val post = pairKey(store.ingest(extra, "id", "text"))
    assert(post.contains((0L, 100L)),
      "an exact dup of doc 0 must pair against the compacted store")
    assert(pre === full, "compaction never changed the emitted history")
    // a FRESH handle on the same root resolves the compacted generation
    val store2 = new MinhashStore(wh, "t", cfg)
    val again = pairKey(store2.ingest(
      Seq((101L, docs.filter(col("id") === 1)
        .select("text").as[String].head())).toDF("id", "text"),
      "id", "text"))
    assert(again.contains((1L, 101L)))
  }

  test("containment store compaction: fewer files, same pairs, ingest continues") {
    val base = corpus(30, seed = 5L)
    val subs = base.collect { case (i, t) if i % 5 == 0 =>
      val toks = t.split(" ")
      (100L + i, toks.take(math.max(toks.length / 2, 4)).mkString(" "))
    }
    val docs = (base ++ subs).toDF("id", "text")
    val wh = freshWh()
    val store = new ContainmentStore(wh, "t",
      ContainmentConfig(shingleN = 3, threshold = 0.8,
        maxDocFreq = 1000L, nStoreBuckets = 2))
    val pre = (0 until 4).map(i => pairKey(
      store.ingest(docs.filter(col("id") % 4 === i), "id", "text")))
      .reduce(_ ++ _)
    val full = pairKey(Dedup.ngramContainmentPairs(docs, "id", "text",
      n = 3, threshold = 0.8, maxDocFreq = 1000L))
    assert(pre === full, "fragmented ingests reassemble the full run")
    def dataFiles(prefix: String): Int = {
      val whd = new java.io.File(s"${wh.root}/warehouse")
      Option(whd.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith(prefix))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .count(f => f.getName.endsWith(".parquet"))
    }
    assert(dataFiles("t_ct_post") >= 8, "4 ingests x 2 buckets")
    store.compact()
    assert(dataFiles("t_ct_post") <= 2,
      s"one generation left: ${dataFiles("t_ct_post")}")
    assert(dataFiles("t_ct_size") <= 2)
    // post-compact ingest pairs against the compacted postings: a full
    // quote of doc 0 is contained at 1.0
    val quote = Seq((200L, docs.filter(col("id") === 0)
      .select("text").as[String].head())).toDF("id", "text")
    val post = pairKey(store.ingest(quote, "id", "text"))
    assert(post.contains((0L, 200L)),
      "an exact quote of doc 0 must pair against the compacted store")
  }

  test("signature store compaction: crash mid-compact leaves the store intact") {
    val cfg = SimhashConfig(maxDist = 3, seed = 7L, nStoreBuckets = 2)
    val docs = corpus(40, seed = 2L).toDF("id", "text")
    val wh = freshWh()
    val store = new SimhashStore(wh, "t", cfg)
    store.ingest(docs.filter(col("id") < 20), "id", "text")
    val p2 = pairKey(store.ingest(docs.filter(col("id") >= 20), "id", "text"))
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try intercept[graft.sources.StoreTxn.SimulatedCrash] { store.compact() }
    finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    try {
      // the un-compacted generations still serve; a re-ingest of batch 2
      // on a fresh twin root proves the surviving store is byte-equal in
      // behavior: compact again (completes now), then ingest batch 3
      store.compact()
      val full = pairKey(Dedup.simhashPortablePairs(
        docs.unionByName(docs.limit(0)), "id", "text",
        cfg.maxDist, cfg.seed, cfg.maxBucket, cfg.chunks, cfg.chunkBits))
      val b3 = Seq((200L, docs.filter(col("id") === 5)
        .select("text").as[String].head())).toDF("id", "text")
      val p3 = pairKey(store.ingest(b3, "id", "text"))
      assert(p3.contains((5L, 200L)))
      assert(p2.subsetOf(full))
    } finally graft.sources.StoreTxn.leaseTtlMs = 30000L
  }

  test("stores verify values, not just pair identity") {
    val cfg = MinhashConfig(shingleN = 3, bands = 4, rowsPerBand = 2,
      threshold = 0.5, seed = 7L)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the sleepy dog")
    ).toDF("id", "text")
    val store = new MinhashStore(freshWh(), "t", cfg)
    store.ingest(docs.filter(col("id") === 1), "id", "text")
    val p2 = store.ingest(docs.filter(col("id") > 1), "id", "text")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(p2((1L, 2L)) === 1.0, "exact dup across batches, jaccard 1.0")
    // (1,3): 5 common / 9 union hashed shingles — same as the batch spec
    p2.get((1L, 3L)).foreach(j => assert(math.abs(j - 5.0 / 9.0) < 1e-12))
  }

  test("containment store: batch ingests partition the full-corpus " +
      "pairs, values exact") {
    // corpus + planted token-prefix subsets — the swallowed-document
    // profile (sub's shingles ⊂ base's, containment-in-base = 1.0)
    val base = corpus(40, seed = 3L)
    val subs = base.collect { case (i, t) if i % 4 == 0 =>
      val toks = t.split(" ")
      (100L + i, toks.take(math.max(toks.length / 2, 4)).mkString(" "))
    }
    val docs = (base ++ subs).toDF("id", "text")
    def valued(df: DataFrame): Map[(Long, Long), (Double, Double)] = df
      .as[(Long, Long, Double, Double)].collect()
      .map(p => (p._1, p._2) -> ((p._3, p._4))).toMap
    val full = valued(Dedup.ngramContainmentPairs(docs, "id", "text",
      n = 3, threshold = 0.8, maxDocFreq = 1000L))
    assert(full.keys.exists(_._2 >= 100L),
      "planted subsets must surface as containment pairs")

    // cap 1000 > corpus: no shingle can cross it between ingests, so
    // the equivalence contract is exact here (the cap caveat is the
    // documented MinhashStore semantics, probed at 1M separately)
    val store = new ContainmentStore(freshWh(), "t",
      ContainmentConfig(shingleN = 3, threshold = 0.8, maxDocFreq = 1000L))
    val even = (col("id") % 2) === 0
    val p1 = valued(store.ingest(docs.filter(even), "id", "text"))
    val p2 = valued(store.ingest(docs.filter(!even), "id", "text"))
    assert(p1 === full.filter(p => p._1._1 % 2 == 0 && p._1._2 % 2 == 0),
      "ingest 1 = full pairs within batch 1, same cont values")
    assert(p2 === full.filter(p => p._1._1 % 2 == 1 || p._1._2 % 2 == 1),
      "ingest 2 = full pairs touching batch 2, same cont values")
    assert((p1.keySet & p2.keySet) === Set.empty, "no pair emitted twice")

    // BOTH denominator routes are the same operator: the pruned merge
    // path (forced by gate 0 — what a web-scale size store takes) must
    // emit identical pairs to the broadcast-fused path above
    val storeBig = new ContainmentStore(freshWh(), "t",
      ContainmentConfig(shingleN = 3, threshold = 0.8, maxDocFreq = 1000L,
        broadcastSizesBytes = 0L))
    val q1 = valued(storeBig.ingest(docs.filter(even), "id", "text"))
    val q2 = valued(storeBig.ingest(docs.filter(!even), "id", "text"))
    assert(q1 === p1 && q2 === p2,
      "pruned-merge route must emit exactly the broadcast route's pairs")

    // an empty batch short-circuits: schema-right empty result, and the
    // store is unchanged (the next real ingest behaves identically)
    val e = storeBig.ingest(docs.filter(col("id") < -1), "id", "text")
    assert(e.columns.toSeq ===
      Seq("id_a", "id_b", "cont_a", "cont_b") && e.isEmpty)
  }

  test("incremental connected components equal the full recompute") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 25 + rnd.nextInt(30)
      val edges = (1 to 2 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val (old, fresh) = edges.splitAt(edges.size / 2)
      if (old.nonEmpty && fresh.nonEmpty) {
        val fullLabels = Dedup.connectedComponents(
            edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
        val prev = Dedup.connectedComponents(
          old.toDF("id_a", "id_b"), "id_a", "id_b")
        val inc = Dedup.connectedComponentsIncremental(prev,
            fresh.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
        assert(inc === fullLabels, s"trial $trial, n=$n")
      }
    }
  }

  test("incremental CC keeps labels of components the new batch never touches") {
    val prev = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(prev,
        Seq((20L, 21L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(inc === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("ivf store: incremental appends serve identically to a one-shot build") {
    import org.apache.spark.sql.Row
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").cast("array<double>").as("cvec"))
    val store = new IvfStore(freshWh(), "t", cents, nStoreBuckets = 4)
    store.ingest(vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    store.ingest(vecs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val inc = store.serve(queries, "vec_id", "embedding", k = 5, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val oneShot = Similarity.ivfTopKAssigned(
        Similarity.assignCells(vecs, "vec_id", "embedding", cents),
        queries, "vec_id", "embedding", 5, cents, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(inc === oneShot && inc.nonEmpty)
    // compaction: one fresh generation, identical serving
    store.compact()
    val compacted = store.serve(queries, "vec_id", "embedding", 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(compacted === inc)
    // appends keep landing in the compacted generation
    val extra = (100L until 104L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    store.ingest(extra, "vec_id", "embedding")
    assert(store.serve(queries, "vec_id", "embedding", 50, 4).count() >
      compacted.size)
  }

  test("hamming store: batch ingests partition the one-shot pairs, " +
      "nulls skipped, compaction preserves") {
    // planted structure: ids 0..29 random sigs; ids 30..39 are ONE-BIT
    // flips of (id - 30) — genuine hamming-1 pairs, so the
    // 0 < hamming <= maxDist path is actually exercised (random 64-bit
    // sigs land within distance 2 with probability ~2^-53); id 50
    // carries a null signature
    val rnd = new scala.util.Random(5)
    val base = (0 until 30).map(_ => rnd.nextLong())
    val sigs = ((0L until 30L).map(i => (i, Option(base(i.toInt)))) ++
      (30L until 40L).map(i =>
        (i, Option(base((i - 30).toInt) ^ (1L << (i - 30).toInt)))) ++
      Seq((50L, Option.empty[Long]))).toDF("id", "sig")
    val dups = sigs.filter(col("id") < 10)
      .select((col("id") + 100L).as("id"), col("sig"))
    val all = sigs.unionByName(dups)
    val cfg = HammingConfig(maxDist = 2, nStoreBuckets = 2)
    val full = pairKey(Dedup.signatureNearDupPairs(all, "id", "sig",
      cfg.maxDist, cfg.chunks, cfg.chunkBits, cfg.maxBucket))
    assert((0L until 10L).forall(i => full.contains((i, i + 30))),
      "every planted one-bit flip must pair at hamming 1")
    assert(full.nonEmpty)
    val store = new HammingStore(freshWh(), "t", cfg)
    val p1 = pairKey(store.ingest(all.filter(col("id") < 35), "id", "sig"))
    val p2 = pairKey(store.ingest(all.filter(col("id") >= 35), "id", "sig"))
    assert(p1 === full.filter(p => p._1 < 35 && p._2 < 35))
    assert(p2 === full.filter(p => p._1 >= 35 || p._2 >= 35))
    assert((p1 & p2) === Set.empty)
    store.compact()
    val extra = Seq((200L, Option(rnd.nextLong())),
      (201L, sigs.filter(col("id") === 3).select("sig").as[Option[Long]].head()))
      .toDF("id", "sig")
    val p3 = pairKey(store.ingest(extra, "id", "sig"))
    assert(p3.contains((3L, 201L)),
      "an exact dup of sig 3 must pair against the compacted store")
  }

  test("ivfadc store: incremental appends serve identically to one shot, " +
      "compaction preserves, identity drift fails fast") {
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Clustering.kmeans(vecs, "vec_id", "embedding", k = 4, iters = 1)
    val books = Quantization.pqTrain(
      Quantization.residuals(vecs, "vec_id", "embedding", cents),
      "id", "rvec", dim = 8, m = 4, ksub = 8, iters = 1)
    val queries = vecs.filter(col("vec_id") < 3)
    def served(st: IvfAdcStore) =
      st.serve(queries, "vec_id", "embedding", 5, nProbes = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val wh = freshWh()
    val store = new IvfAdcStore(wh, "t", cents, books, nStoreBuckets = 4)
    store.ingest(vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    store.ingest(vecs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val inc = served(store)
    val one = new IvfAdcStore(freshWh(), "t", cents, books, nStoreBuckets = 4)
    one.ingest(vecs, "vec_id", "embedding")
    assert(inc === served(one) && inc.nonEmpty)
    store.compact()
    assert(served(store) === inc)
    // a handle on different codebooks must fail fast, not serve garbage
    val otherBooks = Quantization.pqTrain(
      Quantization.residuals(vecs, "vec_id", "embedding", cents),
      "id", "rvec", dim = 8, m = 4, ksub = 4, iters = 1)
    val drifted = new IvfAdcStore(wh, "t", cents, otherBooks,
      nStoreBuckets = 4)
    intercept[IllegalArgumentException] {
      drifted.serve(queries, "vec_id", "embedding", 5, nProbes = 2)
    }
  }

  test("embedding store: batch ingests partition the full-corpus pairs") {
    // vectors clustered around 4 directions so cosine near-dups exist
    // across the batch split; deterministic jitter keeps it replayable
    val vecs = (0L until 48L).map { i =>
      val base = (i % 4).toInt
      (i, Array.tabulate(8)(j =>
        (math.cos(base + j) + 0.05 * math.sin(i * 7 + j)).toFloat))
    }.toDF("id", "vec")
    val cfg = EmbeddingLshConfig(threshold = 0.8, dim = 8,
      tables = 4, bitsPerTable = 3, seed = 5L, nStoreBuckets = 4)
    val full = pairKey(Similarity.lshNearDupPairs(vecs, "id", "vec",
      cfg.threshold, cfg.dim, cfg.tables, cfg.bitsPerTable, cfg.seed))
    assert(full.nonEmpty, "fixture must produce at least one pair")

    val store = new EmbeddingLshStore(freshWh(), "t", cfg)
    val p1 = pairKey(store.ingest(vecs.filter(col("id") < 30), "id", "vec"))
    val p2 = pairKey(store.ingest(vecs.filter(col("id") >= 30), "id", "vec"))
    assert(p1 === full.filter(p => p._1 < 30 && p._2 < 30))
    assert(p2 === full.filter(p => p._1 >= 30 || p._2 >= 30))
    assert((p1 ++ p2) === full && p1.intersect(p2).isEmpty)
    // compaction folds both generations; an exact re-submit of vector 0
    // still pairs against the compacted store
    store.compact()
    val dup0 = vecs.filter(col("id") === 0)
      .withColumn("id", lit(500L))
    val p3 = pairKey(store.ingest(dup0, "id", "vec"))
    assert(p3.contains((0L, 500L)))
  }

  test("embedding store: verified sims match the batch operator's values") {
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(6)(j => math.cos(i % 3 + j * 0.5).toFloat + i * 0f))
    }.toDF("id", "vec")
    val cfg = EmbeddingLshConfig(threshold = 0.9, dim = 6,
      tables = 2, bitsPerTable = 2, seed = 3L, nStoreBuckets = 2)
    def simMap(df: DataFrame) = df.select("id_a", "id_b", "sim")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val full = simMap(Similarity.lshNearDupPairs(vecs, "id", "vec",
      cfg.threshold, cfg.dim, cfg.tables, cfg.bitsPerTable, cfg.seed))
    val store = new EmbeddingLshStore(freshWh(), "t", cfg)
    val inc =
      simMap(store.ingest(vecs.filter(col("id") < 10), "id", "vec")) ++
      simMap(store.ingest(vecs.filter(col("id") >= 10), "id", "vec"))
    assert(inc === full && full.nonEmpty) // bit-equal cosines, not just ids
  }

  test("incremental CC merges two old components through one new edge") {
    val prev = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L), (10L, 12L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(prev,
        Seq((2L, 12L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(inc === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("ingestOnce: completed keys skip; a crashed ingest retries cleanly") {
    val cfg = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, seed = 7L)
    val docs = corpus(60, seed = 1L).toDF("id", "text")
    val store = new MinhashStore(freshWh(), "t", cfg)
    val b1 = docs.filter(col("id") < 40)
    val b2 = docs.filter(col("id") >= 40)

    var deltas = 0
    val p1 = store.ingestOnce(b1, "id", "text", Some("k1"),
      beforeCommit = _ => deltas += 1)
    assert(p1.isDefined && deltas == 1)
    // completed key redelivered → skip, no delta callback, no re-append
    assert(store.ingestOnce(b1, "id", "text", Some("k1")).isEmpty)
    assert(deltas == 1)

    // crash MID-INGEST (after the first table snapshot, before commit):
    // no key lands, so the redelivered batch re-ingests — and the pair
    // history still partitions the full-corpus pairs exactly. The dead
    // writer's lease must go stale before the retry (StoreTxnSpec's
    // crashAndExpire discipline).
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashAfterTouches = 1
    try intercept[graft.sources.StoreTxn.SimulatedCrash] {
      store.ingestOnce(b2, "id", "text", Some("k2"))
    } finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    val p2 =
      try store.ingestOnce(b2, "id", "text", Some("k2"))
      finally graft.sources.StoreTxn.leaseTtlMs = 60000L
    assert(p2.isDefined)
    val full = pairKey(Dedup.minhashPortablePairs(docs, "id", "text",
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed,
      cfg.maxBucket))
    assert(pairKey(p1.get) ++ pairKey(p2.get) === full)
    // and now k2 is a completed key too
    assert(store.ingestOnce(b2, "id", "text", Some("k2")).isEmpty)
  }
}
