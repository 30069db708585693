package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CrashMatrix
import graft.operators._

/** Crash-atomicity of the incremental-store family ([[CrashMatrix]]):
  * a kill injected mid-ingest, between table writes or after every write
  * but before the commit publishes, converges under a blind retry. */
class StoreTxnSpec extends CrashMatrix {
  import spark.implicits._
  import StoreTxnSpec.Keyed

  private def corpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    var prev = ""
    (0L until n).map { i =>
      val text =
        if (i % 3 == 2 && prev.nonEmpty) {
          val toks = prev.split(" ").toVector
          toks.updated(rnd.nextInt(toks.size),
            vocab(rnd.nextInt(vocab.size))).mkString(" ")
        } else Vector.fill(12 + rnd.nextInt(6))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      prev = text
      (i, text)
    }
  }

  private def pairKey(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhash store: kill between the sig and set table writes, blind retry converges") {
    val cfg = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, seed = 7L)
    val docs = corpus(60, seed = 1L).toDF("id", "text")
    val full = pairKey(Dedup.minhashPortablePairs(docs, "id", "text",
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed,
      cfg.maxBucket))
    assert(full.nonEmpty)
    val root = tmp("graft_txn_mh_")
    val b1 = docs.filter(col("id") < 40)
    val b2 = docs.filter(col("id") >= 40)

    val p1 = pairKey(new MinhashStore(new Warehouse(spark, root), "t", cfg)
      .ingest(b1, "id", "text"))
    // ingest 2 dies at its SECOND directory registration — the sig
    // table already carries batch-2 signatures, the set table doesn't
    StoreTxn.hooks.crashAfterTouches = 2
    crashAndExpire {
      new MinhashStore(new Warehouse(spark, root), "t", cfg)
        .ingest(b2, "id", "text")
      ()
    }
    assert(new java.io.File(root, "_txn/intent").exists(),
      "the kill must leave a dangling intent")
    // blind retry: a fresh handle, the same call — recovery rolls the
    // partial ingest back, then the retry re-ingests
    val p2 = pairKey(new MinhashStore(new Warehouse(spark, root), "t", cfg)
      .ingest(b2, "id", "text"))
    assert(p1 === full.filter(p => p._1 < 40 && p._2 < 40))
    assert(p2 === full.filter(p => p._1 >= 40 || p._2 >= 40),
      "post-crash retry must emit exactly the full-run pairs touching batch 2")
    assert(!new java.io.File(root, "_txn/intent").exists())
    // and the store is NOT double-populated: a third, disjoint ingest
    // sees each batch-2 signature exactly once (a duplicate would
    // surface as a duplicate pair emission here)
    val wh = new Warehouse(spark, root)
    val sigRows = wh.readBucketed("t_mh_sig").groupBy("id", "band")
      .count().filter(col("count") > 1).count()
    assert(sigRows === 0L, "no duplicated signatures after crash+retry")
  }

  test("bm25 index: kill after all writes but before commit, blind retry serves the one-shot ranking") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) s"spark engine cluster run$i" else s"filler$i words here"))
    val root = tmp("graft_txn_bm_")
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(docs.filter(_._1 <= 20).toDF("doc_id", "text"), "doc_id", "text")
    StoreTxn.hooks.crashBeforeCommit = true
    crashAndExpire {
      idx.ingest(docs.filter(_._1 > 20).toDF("doc_id", "text"), "doc_id", "text")
    }
    // a completed-but-unpublished append rolls back entirely; the blind
    // retry (fresh handle — the old JVM died) re-appends
    val idx2 = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx2.ingest(docs.filter(_._1 > 20).toDF("doc_id", "text"), "doc_id", "text")
    val served = idx2.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    val oneShot = Retrieval.bm25TopK(docs.toDF("doc_id", "text"),
        "doc_id", "text", Seq("spark"), 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(served === oneShot && served.nonEmpty,
      "crash+retry must be bit-identical to the uncrashed one-shot build")
  }

  test("bm25 index: a crashed keyed append re-appends on redelivery (no stale skip)") {
    val docs = (1L to 10L).map(i => (i, s"alpha beta doc$i")).toDF("doc_id", "text")
    val root = tmp("graft_txn_bmkey_")
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    StoreTxn.hooks.crashBeforeCommit = true
    crashAndExpire { idx.ingestOnce(docs, "doc_id", "text", Some("ck#0")) }
    // redelivery of the SAME key after the crash: the stats marker never
    // committed, so this must re-append, not skip
    val idx2 = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx2.ingestOnce(docs, "doc_id", "text", Some("ck#0"))
    assert(idx2.search(Seq("alpha"), k = 20).count() === 10L)
    // and a second redelivery after the COMMITTED append is a no-op
    idx2.ingestOnce(docs, "doc_id", "text", Some("ck#0"))
    assert(idx2.search(Seq("alpha"), k = 20).count() === 10L)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("bm25 index: a crash at every touch of a keyed append or a compaction, " +
      "or before its commit, then a blind retry equals a clean store") {
    val docs = corpus(24, seed = 9L).toDF("doc_id", "text")
    def index(root: String) =
      new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    def append(root: String, lo: Long, hi: Long, key: String): Unit = {
      index(root).ingestOnce(docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", Some(key))
      ()
    }
    // the ranking and the N/Σdl totals (the commit record is compared too)
    def observe(root: String) =
      rows(index(root).search(Seq("alpha", "kilo"), 10)) ++
        Seq("n", "sumdl").map(k => s"$k=${StoreTxn.getKv(root, s"bm25:t:$k")}")
    val warm = tmp("graft_txn_bmwarm_")
    append(warm, 0, 12, "k1")
    crashMatrix(warm, touches = 2)(append(_, 12, 24, "k2"))(observe)
    append(warm, 12, 24, "k2")
    crashMatrix(warm, touches = 2)(root => index(root).compact())(observe)
  }

  test("gram index: a crash at every touch of a keyed append or a compaction, " +
      "or before its commit, then a blind retry equals a clean store") {
    val docs = corpus(24, seed = 10L).toDF("doc_id", "text")
    val eval = docs.filter(col("doc_id") % 5 === 0).select("text")
    def index(root: String) = new Decontamination.GramIndex(spark, root, "t",
      n = 3, nStoreBuckets = 2, prefixPartitions = 4)
    def append(root: String, lo: Long, hi: Long, key: String): Unit = {
      index(root).ingestOnce(docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", Some(key))
      ()
    }
    def observe(root: String) = rows(index(root).check(eval, "text"))
    val warm = tmp("graft_txn_gramwarm_")
    append(warm, 0, 12, "k1")
    crashMatrix(warm, touches = 1)(append(_, 12, 24, "k2"))(observe)
    append(warm, 12, 24, "k2")
    crashMatrix(warm, touches = 1)(root => index(root).compact())(observe)
  }

  test("distinct store: a crash at every touch of a keyed append or a " +
      "compaction, or before its commit, then a blind retry equals a clean store") {
    val data = (0 until 900).map(i => (i, s"g${i % 3}", s"v${i % 400}")).toDF("i", "g", "v")
    def store(root: String) = new Sketches.DistinctStore(spark, root, "d")
    def append(root: String, lo: Int, hi: Int, key: String): Unit = {
      store(root).ingestOnce(data.filter(col("i") >= lo && col("i") < hi),
        "g", "v", Some(key))
      ()
    }
    def observe(root: String) =
      rows(store(root).estimate()) ++ rows(store(root).estimateTotal())
    val warm = tmp("graft_txn_dswarm_")
    append(warm, 0, 300, "k1")
    crashMatrix(warm, touches = 1)(append(_, 300, 600, "k2"))(observe)
    append(warm, 300, 600, "k2")
    // the fold writes a new version, which is not a touched directory
    crashMatrix(warm, touches = 0)(root => store(root).compact())(observe)
    store(warm).compact()
    crashMatrix(warm, touches = 1)(append(_, 600, 900, "k3"))(observe)
  }

  test("every keyed store: a crash at every touch of a keyed ingest or a " +
      "compaction, or before its commit, then a blind retry equals a clean store") {
    val docs = corpus(16, seed = 13L).toDF("doc_id", "text")
    val vecs = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(4)(j => (math.cos(i % 3 + j) + 0.01 * math.sin(i + j)).toFloat)))
      .toDF("vec_id", "embedding")
    val sigs = docs.select(col("doc_id"), xxhash64(col("text")).as("sig"))
    val edges = (0L until 16L).map(i => (i % 6, (i * 5 + 1) % 7, i)).toDF("src", "dst", "i")
    val cents = vecs.filter(col("vec_id") < 2).select(col("vec_id").cast("int").as("cell"),
      col("embedding").cast("array<double>").as("cvec"))
    val books = Quantization.pqTrain(
      Quantization.residuals(vecs, "vec_id", "embedding", cents),
      "id", "rvec", dim = 4, m = 2, ksub = 4, iters = 1)
    def wh(root: String) = new Warehouse(spark, root)
    // the two batches split the rows at 8 of `splitCol`
    def keyed(name: String, open: String => KeyedStore[_], df: DataFrame,
              idCol: String, valueCol: String, splitCol: Option[String] = None) = {
      val split = col(splitCol.getOrElse(idCol))
      Keyed(name, open, idCol, valueCol, df.filter(split < 8), df.filter(split >= 8))
    }
    val stores = Seq(
      keyed("minhash", r => new MinhashStore(wh(r), "t", MinhashConfig(shingleN = 3,
        bands = 8, rowsPerBand = 2, threshold = 0.5, seed = 7L, nStoreBuckets = 2)),
        docs, "doc_id", "text"),
      keyed("simhash", r => new SimhashStore(wh(r), "t", SimhashConfig(nStoreBuckets = 2)),
        docs, "doc_id", "text"),
      keyed("containment", r => new ContainmentStore(wh(r), "t",
        ContainmentConfig(shingleN = 3, threshold = 0.5, nStoreBuckets = 2)),
        docs, "doc_id", "text"),
      keyed("hamming", r => new HammingStore(wh(r), "t",
        HammingConfig(maxDist = 2, nStoreBuckets = 2)), sigs, "doc_id", "sig"),
      keyed("embedding-lsh", r => new EmbeddingLshStore(wh(r), "t",
        EmbeddingLshConfig(threshold = 0.8, dim = 4, tables = 2, bitsPerTable = 3,
          nStoreBuckets = 2)), vecs, "vec_id", "embedding"),
      keyed("ivf", r => new IvfStore(wh(r), "t", cents, nStoreBuckets = 2),
        vecs, "vec_id", "embedding"),
      keyed("ivfadc", r => new IvfAdcStore(wh(r), "t", cents, books, nStoreBuckets = 2),
        vecs, "vec_id", "embedding"),
      keyed("edge", r => new EdgeStore(wh(r), "t", EdgeStoreConfig(nStoreBuckets = 2)),
        edges, "src", "dst", splitCol = Some("i")).copy(
        // stored ranks the ingests and compactions must not touch
        warmUp = r => { new EdgeStore(wh(r), "t", EdgeStoreConfig(nStoreBuckets = 2))
          .pageRankMaintain(spark, iters = 2); () },
        served = r => new EdgeStore(wh(r), "t", EdgeStoreConfig(nStoreBuckets = 2))
          .storedRanks(spark).toSeq.flatMap(rows)))
    // what each root's last ingest returned (a pair store's pairs)
    val emitted = scala.collection.mutable.Map.empty[String, Seq[String]]
    for (k <- stores) {
      def ingest(root: String, b: DataFrame, key: String): Unit =
        emitted(root) = k.open(root).ingestOnce(b, k.idCol, k.valueCol, Some(key)) match {
          case Some(df: org.apache.spark.sql.Dataset[_]) => rows(df.toDF())
          case _ => Nil
        }
      def observe(root: String) = emitted.getOrElse(root, Nil) ++ k.served(root) ++
        k.open(root).tables.flatMap(t => rows(wh(root).readBucketed(wh(root).live(t.base))))
      val warm = tmp(s"graft_txn_${k.name}_")
      ingest(warm, k.b1, "k1")
      k.warmUp(warm)
      // one ingest or compaction registers each declared table once
      val touches = k.open(warm).tables.size
      withClue(k.name) {
        crashMatrix(warm, touches)(ingest(_, k.b2, "k2"))(observe)
        ingest(warm, k.b2, "k2")
        crashMatrix(warm, touches)(k.open(_).compact())(observe)
      }
    }
    assert(emitted.values.exists(_.nonEmpty), "the pair stores must emit pairs")
  }

  test("curation store: a crash at every touch of a compaction, or before " +
      "its commit, then a blind retry equals a clean store") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L, nStoreBuckets = 2))
    val docs = corpus(16, seed = 14L).toDF("id", "text")
    def store(root: String) = new Pipeline.CurationStore(spark, root, "t", cfg)
    def observe(root: String) = {
      val wh = new Warehouse(spark, root)
      store(root).tables.flatMap(t => rows(wh.readBucketed(wh.live(t.base)))) ++
        rows(store(root).readLabels)
    }
    val warm = tmp("graft_txn_curcompact_")
    store(warm).ingest(docs.filter(col("id") < 8), "id", "text")
    store(warm).ingest(docs.filter(col("id") >= 8), "id", "text")
    crashMatrix(warm, store(warm).tables.size)(store(_).compact())(observe)
  }

  test("a superseded version a crash between commit and GC left behind " +
      "is deleted by the next commit of its directory") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L))
    val docs = corpus(45, seed = 11L).toDF("id", "text")
    val root = tmp("graft_txn_gc_")
    val store = new Pipeline.CurationStore(spark, root, "t", cfg)
    def labels = StoreTxn.live(root, "state/t_labels")
    def listing(d: String) =
      Option(new java.io.File(root, d).list()).toSeq.flatten.sorted
    store.ingest(docs.filter(col("id") < 15), "id", "text")
    val v1 = labels
    store.ingest(docs.filter(col("id") >= 15 && col("id") < 30), "id", "text")
    val v2 = labels
    assert(v1 != v2 && listing("state") === Seq(new java.io.File(v2).getName))
    // the crash window: the commit that published v2 died before its GC
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(v2),
      new java.io.File(v1))
    store.ingest(docs.filter(col("id") >= 30), "id", "text")
    assert(listing("state") === Seq(new java.io.File(labels).getName),
      "the next labels commit deletes every superseded version")
    // a compaction's GC takes the replaced tables' sidecars with them
    store.compact()
    val wh = new Warehouse(spark, root)
    val live = Seq("t_cur_exact", "t_cur_mh_sig", "t_cur_mh_set").map(wh.live)
    assert(live.forall(_.contains("__v")), live)
    assert(listing("warehouse") === (live ++ live.flatMap(t =>
      Seq("bucket_spec", "schema").map(k => s"_graft_${k}_$t")) ++
      Seq(s"_graft_params_${live(1)}")).sorted)
  }

  test("roots of an earlier layout are refused before anything is written") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L))
    val docs = corpus(30, seed = 12L).toDF("id", "text")
    def files(root: String): Seq[(String, Long)] = {
      val base = new java.io.File(root).toPath
      java.nio.file.Files.walk(base).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => (base.relativize(p).toString, p.toFile.length)).sorted
    }
    def refused(root: String)(attempts: (() => Any)*): Unit = {
      val before = files(root)
      attempts.foreach { a =>
        val e = intercept[IllegalArgumentException](a())
        assert(e.getMessage.contains("rebuild under a fresh root"), e.getMessage)
      }
      assert(files(root) === before, "a refused root is left as it was")
    }
    def commitFile(root: String) = new java.io.File(root, "_txn/commit").toPath
    def editCommit(root: String)(f: String => String): Unit =
      java.nio.file.Files.writeString(commitFile(root),
        f(java.nio.file.Files.readString(commitFile(root))))
    def curation(root: String) = new Pipeline.CurationStore(spark, root, "t", cfg)

    // a compaction alias in the commit record
    val aliased = tmp("graft_txn_old_alias_")
    curation(aliased).ingest(docs.filter(col("id") < 15), "id", "text")
    editCommit(aliased)(_ + "\nkv\tactive:t_cur:mh_sig\tt_cur_mh_sig__c2")
    refused(aliased)(
      () => curation(aliased).ingest(docs.filter(col("id") >= 15), "id", "text"),
      () => curation(aliased).compact(),
      () => new MinhashStore(new Warehouse(spark, aliased), "t_cur", cfg.minhash)
        .ingest(docs.filter(col("id") >= 15), "id", "text"))

    // a version entry keyed by the bare state name, its directory nested
    val nested = tmp("graft_txn_old_version_")
    curation(nested).ingest(docs.filter(col("id") < 15), "id", "text")
    val v1 = new java.io.File(nested, "state/t_labels__v1")
    assert(v1.isDirectory)
    assert(new java.io.File(nested, "state/t_labels").mkdirs())
    assert(v1.renameTo(new java.io.File(nested, "state/t_labels/v1")))
    editCommit(nested)(_.replace("v\tstate/t_labels\t1", "v\tt_labels\t1"))
    refused(nested)(
      () => curation(nested).ingest(docs.filter(col("id") >= 15), "id", "text"))

    // DistinctStore per-append delta directories
    val deltas = tmp("graft_txn_old_deltas_")
    val ds = new Sketches.DistinctStore(spark, deltas, "d")
    ds.ingest(docs.select(lit("g").as("g"), col("text").as("v")), "g", "v")
    val sk = new java.io.File(deltas, "state/d_hll_sk")
    val a1 = new java.io.File(sk, "a1")
    assert(a1.mkdir())
    sk.listFiles().filter(_.isFile).foreach(f => assert(f.renameTo(new java.io.File(a1, f.getName))))
    refused(deltas)(
      () => ds.ingest(docs.select(lit("g").as("g"), col("text").as("v")), "g", "v"),
      () => ds.estimate(),
      () => ds.compact())

    // staging roots: per-operation watermark files, and a collection whose
    // high mark no commit record holds (staged before there was one)
    def staged(root: String): StagingStore = {
      val st = new StagingStore(spark, root)
      st.append("docs", docs)
      st
    }
    def stagingRefused(root: String, st: StagingStore): Unit = refused(root)(
      () => st.append("docs", docs),
      () => st.pending("docs", "op"),
      () => st.readSplit("docs", "op"),
      () => st.advanceWatermarkTo("docs", "op", new java.sql.Timestamp(0L)),
      () => StoreTxn.transact(spark, root)(()))
    val marked = tmp("graft_txn_old_watermarks_")
    val st1 = staged(marked)
    java.nio.file.Files.createDirectories(new java.io.File(marked, "watermarks").toPath)
    java.nio.file.Files.writeString(new java.io.File(marked, "watermarks/docs__op.instant")
      .toPath, "2024-01-01T00:00:00Z")
    stagingRefused(marked, st1)
    val unmarked = tmp("graft_txn_old_unmarked_")
    val st2 = staged(unmarked)
    StoreTxn.rmrf(new java.io.File(unmarked, "_txn"))
    stagingRefused(unmarked, st2)
  }

  test("curation store: kill mid-ingest, blind retry equals the uncrashed run") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L))
    val docs = corpus(60, seed = 4L).toDF("id", "text")
    val b1 = docs.filter(col("id") < 40)
    val b2 = docs.filter(col("id") >= 40)

    def corpusIds(root: String, deltas: Seq[Pipeline.CurateDelta]): Seq[Long] = {
      val kept = deltas.map(_.kept.select("id")).reduce(_ unionByName _)
      val retracted = deltas.map(_.retracted).reduce(_ unionByName _)
      kept.join(retracted, Seq("id"), "left_anti").as[Long].collect().sorted.toSeq
    }

    // reference: the same two ingests, no crash
    val cleanRoot = tmp("graft_txn_cur_clean_")
    val cleanStore = new Pipeline.CurationStore(spark, cleanRoot, "t", cfg)
    val cleanDeltas = Seq(cleanStore.ingest(b1, "id", "text"),
      cleanStore.ingest(b2, "id", "text"))
    val expected = corpusIds(cleanRoot, cleanDeltas)

    // crashed run: ingest 2 dies between its state writes
    val root = tmp("graft_txn_cur_")
    val store = new Pipeline.CurationStore(spark, root, "t", cfg)
    val d1 = store.ingest(b1, "id", "text")
    StoreTxn.hooks.crashAfterTouches = 3
    crashAndExpire { store.ingest(b2, "id", "text"); () }
    assert(store.maxIngestedId === Some(39L),
      "the marker must still read the last COMMITTED ingest")
    // blind retry on a fresh handle (the old process died)
    val retryStore = new Pipeline.CurationStore(spark, root, "t", cfg)
    val d2 = retryStore.ingest(b2, "id", "text")
    assert(retryStore.maxIngestedId === Some(59L))
    assert(corpusIds(root, Seq(d1, d2)) === expected,
      "crash + blind retry must converge to the uncrashed corpus")
  }

  test("curation store: a crash at every touch of a warm delta, or before " +
      "its commit, then a blind retry equals a clean store on both routes") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 16, rowsPerBand = 1,
        threshold = 0.5, seed = 7L))
    // A and B (bulk ids 30, 31) differ in 4 of 20 tokens, so no pair; C
    // in the delta is a near-dup of both and retracts B. The delta also
    // holds a copy of a stored text and near-dups of its own documents.
    val base = (1 to 20).map(i => f"t$i%02d").toVector
    val c = base.updated(4, "c05").updated(11, "c12")
    val docs = corpus(40, seed = 8L)
    val bulk = (docs.take(30) ++ Seq((30L, base.mkString(" ")),
      (31L, c.updated(7, "b08").updated(15, "b16").mkString(" "))))
      .toDF("id", "text")
    val delta = (docs.drop(30).map { case (i, t) => (i + 2, t) } ++
      Seq((42L, c.mkString(" ")), (43L, docs.head._2))).toDF("id", "text")
    def ingest(st: Pipeline.CurationStore, gate0: Boolean, b: DataFrame) =
      if (gate0) st.ingestGated(b, "id", "text", _ => (), true, 0, 0)
      else st.ingest(b, "id", "text", withAudit = true)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // kept, retracted, audit, the three tables and the labels
    def observed(st: Pipeline.CurationStore, d: Pipeline.CurateDelta) = {
      val wh = new Warehouse(spark, st.storeRoot)
      Seq(d.kept, d.retracted, d.audit.get).map(rows) ++
        Seq("t_cur_exact", "t_cur_mh_sig", "t_cur_mh_set")
          .map(t => rows(wh.readBucketed(wh.live(t)))) :+ rows(st.readLabels)
    }
    def store(root: String) = new Pipeline.CurationStore(spark, root, "t", cfg)
    // the routes agree (SmallDeltaSpec), so one clean store is the reference
    val clean = store(tmp("graft_txn_matrix_clean_"))
    ingest(clean, gate0 = false, bulk)
    val expected = observed(clean, ingest(clean, gate0 = false, delta))
    assert(expected(1) === Seq("[31]"), "the bridging document retracts B")
    assert(expected(2).exists(_.contains("exact_dup")) &&
      expected(2).exists(_.contains("near_dup")), expected(2))
    for (gate0 <- Seq(true, false)) {
      // every crash starts from a copy of one store after the bulk
      val warm = tmp("graft_txn_matrix_warm_")
      ingest(store(warm), gate0, bulk)
      // the delta registers three directories, so these are all its touches
      for (crash <- Seq(Some(1), Some(2), Some(3), None)) {
        val root = tmp("graft_txn_matrix_")
        org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(warm),
          new java.io.File(root))
        crash match {
          case Some(n) => StoreTxn.hooks.crashAfterTouches = n
          case None => StoreTxn.hooks.crashBeforeCommit = true
        }
        crashAndExpire { ingest(store(root), gate0, delta); () }
        if (crash.isEmpty) {
          // the whole write set: three tables and one labels version
          val intent = java.nio.file.Files.readString(new java.io.File(root,
            "_txn/intent").toPath).split("\n").map(_.split("\t")).toSeq
          assert(intent.filter(_(0) == "dir").map(_(1)).toSet === Set(
            "warehouse/t_cur_exact", "warehouse/t_cur_mh_sig", "warehouse/t_cur_mh_set"))
          assert(intent.filter(_(0) == "state").map(_(1)) === Seq("state/t_labels"))
        }
        val retry = store(root)
        assert(observed(retry, ingest(retry, gate0, delta)) === expected,
          s"gate 0 $gate0, crash $crash")
        assert(retry.maxIngestedId === Some(43L))
      }
    }
    // a reused instance, resident after the bulk: the crashed delta puts
    // its state back and the blind retry runs on the same instance
    for (crash <- Seq(Some(1), Some(2), Some(3), None)) {
      val st = store(tmp("graft_txn_matrix_resident_"))
      ingest(st, gate0 = false, bulk)
      crash match {
        case Some(n) => StoreTxn.hooks.crashAfterTouches = n
        case None => StoreTxn.hooks.crashBeforeCommit = true
      }
      crashAndExpire { ingest(st, gate0 = false, delta); () }
      assert(observed(st, ingest(st, gate0 = false, delta)) === expected,
        s"reused instance, crash $crash")
      assert(st.maxIngestedId === Some(43L))
    }
    // the same for a crashed compaction: the blind retry compacts on the
    // same instance, whose delta then equals the clean store's
    for (crash <- Seq(Some(1), Some(2), Some(3), None)) {
      val st = store(tmp("graft_txn_matrix_rescompact_"))
      ingest(st, gate0 = false, bulk)
      crash match {
        case Some(n) => StoreTxn.hooks.crashAfterTouches = n
        case None => StoreTxn.hooks.crashBeforeCommit = true
      }
      crashAndExpire(st.compact())
      st.compact()
      assert(observed(st, ingest(st, gate0 = false, delta)) === expected,
        s"reused instance, compaction crash $crash")
    }
  }

  test("an ingest failing with an ordinary exception rolls back immediately") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, seed = 7L))
    val docs = corpus(30, seed = 5L).toDF("id", "text")
    val root = tmp("graft_txn_rb_")
    val store = new Pipeline.CurationStore(spark, root, "t", cfg)
    val boom = intercept[RuntimeException] {
      store.ingest(docs, "id", "text",
        beforeCommit = _ => throw new RuntimeException("sink down"))
    }
    assert(boom.getMessage === "sink down")
    // rollback already ran — no intent, no marker, and an immediate
    // retry (no lease wait: the failed txn released its lease) succeeds
    assert(!new java.io.File(root, "_txn/intent").exists())
    assert(store.maxIngestedId === None)
    val d = store.ingest(docs, "id", "text")
    assert(d.kept.count() > 0)
  }

  test("a live foreign writer blocks a second writer with a clear error") {
    val root = tmp("graft_txn_lease_")
    val leaseFile = new java.io.File(root, "_txn/lease")
    leaseFile.getParentFile.mkdirs()
    java.nio.file.Files.writeString(leaseFile.toPath, "jvm=elsewhere pid=1\n")
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    val e = intercept[IllegalStateException] {
      idx.ingest(Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("locked by another maintenance writer"))
    // a STALE lease (dead owner) is stolen silently
    assert(leaseFile.setLastModified(System.currentTimeMillis - 120000L))
    idx.ingest(Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text")
    assert(idx.search(Seq("a"), 1).count() === 1L)
  }

  test("a crash BETWEEN commit publish and intent cleanup rolls forward") {
    val docs = (1L to 10L).map(i => (i, s"alpha beta doc$i")).toDF("doc_id", "text")
    val root = tmp("graft_txn_fwd_")
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(docs, "doc_id", "text")
    // simulate the crash window: the commit record (epoch 1) published,
    // but the epoch-1 intent was never cleaned up — it snapshots the
    // postings table as EMPTY, so a (wrong) undo would delete all of it
    val intent = new java.io.File(root, "_txn/intent")
    java.nio.file.Files.writeString(intent.toPath,
      "epoch\t1\ndir\twarehouse/t_bm_post\t0\t\n")
    val idx2 = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    assert(idx2.search(Seq("alpha"), k = 20).count() === 10L,
      "recovery must roll a committed epoch FORWARD, not undo its data")
    assert(!intent.exists(), "the dangling intent is cleared")
  }

  test("nested store ingests commit as ONE epoch (curation + embedded minhash)") {
    val cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0,
      minhash = MinhashConfig(shingleN = 3, bands = 4, rowsPerBand = 2,
        threshold = 0.5, seed = 7L))
    val docs = corpus(30, seed = 6L).toDF("id", "text")
    val root = tmp("graft_txn_nest_")
    val store = new Pipeline.CurationStore(spark, root, "t", cfg)
    store.ingest(docs.filter(col("id") < 15), "id", "text")
    store.ingest(docs.filter(col("id") >= 15), "id", "text")
    val commit = java.nio.file.Files.readString(
      new java.io.File(root, "_txn/commit").toPath)
    assert(commit.contains("epoch\t2"),
      s"two ingests = two epochs (embedded minhash joins, not commits): $commit")
  }
}

object StoreTxnSpec {
  /** A keyed store under the generic crash matrix: a handle on a root,
    * its (id, value) columns, two batches, and an optional step run on
    * the warm store before the matrices (state the store's writes must
    * leave alone) with what that state serves. */
  final case class Keyed(name: String, open: String => KeyedStore[_],
                         idCol: String, valueCol: String,
                         b1: DataFrame, b2: DataFrame,
                         warmUp: String => Unit = _ => (),
                         served: String => Seq[String] = _ => Nil)
}
