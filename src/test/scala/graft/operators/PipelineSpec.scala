package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The composed curation pipeline: stage wiring, drop attribution, and
  * the column contract (ids stable, text redacted, one doc per near-dup
  * component). Per-stage math is covered by the operator specs; these
  * tests plant one violation per stage and check exactly it is dropped. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // one doc per fate: 1 kept; 2 low-quality (symbols, no stopwords);
  // 3 repetitive (looped bigram); 4 contaminated (shares eval 5-gram);
  // 5/6 exact dups (5 kept as min id); 7 near-dup of 1 (one word off);
  // 8 carries PII (kept, redacted)
  private val good1 = "the quick brown fox jumps over the lazy dog and " +
    "that is a fine day in the sun with you it is true"
  private val near7 = "the quick brown fox jumps over the lazy cat and " +
    "that is a fine day in the sun with you it is true"
  private val exact56 = "it is a truth universally acknowledged that a " +
    "reader in possession of the text must be in want of it"
  private val evalText = "to be or not to be that is the question and " +
    "it is the point of it all in the end you see"
  private val contam4 = "unrelated opening words here and then to be or " +
    "not to be that is the question inside a doc of fair quality it is"
  private val pii8 = "you can reach the team of the office at " +
    "alice@example.com and that is the address of it in the file today"

  private def docs = Seq(
    (1L, good1),
    (2L, "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"),
    (3L, Seq.fill(30)("buy now").mkString(" ")),
    (4L, contam4),
    (5L, exact56), (6L, exact56),
    (7L, near7),
    (8L, pii8)
  ).toDF("doc_id", "text")

  private def evalSet = Seq((100L, evalText)).toDF("doc_id", "text")

  private val cfg = Pipeline.CurateConfig(
    minQuality = 0.35, maxRepetition = 0.5, repN = 2, deconN = 5,
    minhash = MinhashConfig(shingleN = 3, bands = 16, rowsPerBand = 1,
      threshold = 0.5, seed = 7L))

  test("curate drops exactly the planted violations, keeps min ids") {
    val res = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", cfg, withCounts = true)
    val kept = res.kept.select("id").as[Long].collect().sorted.toSeq
    // 2 quality, 3 repetition, 4 decontamination, 6 exact-dup of 5,
    // 7 near-dup of 1 → kept = 1, 5, 8
    assert(kept === Seq(1L, 5L, 8L))
    assert(res.stageCounts === Seq(
      "input" -> 8L, "quality" -> 7L, "repetition" -> 6L,
      "decontaminate" -> 5L, "exact_dedup" -> 4L, "near_dedup" -> 3L))
  }

  test("curate redacts PII in the kept text") {
    val res = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", cfg)
    val t8 = res.kept.filter(col("id") === 8L)
      .select("text").as[String].head()
    assert(t8.contains("<EMAIL>") && !t8.contains("alice@example.com"))
  }

  test("curate without eval set skips decontamination only") {
    val res = Pipeline.curate(docs, "doc_id", "text", None, "text", cfg,
      withCounts = true)
    val kept = res.kept.select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L, 8L))
    assert(res.stageCounts.toMap.apply("decontaminate") === 6L)
  }

  test("stage counts are skipped by default (no extra jobs requested)") {
    val res = Pipeline.curate(docs, "doc_id", "text", None, "text", cfg)
    assert(res.stageCounts.isEmpty)
  }

  test("surgical decon keeps the contaminated doc's remainder, drops emptied docs") {
    // doc 9 is a verbatim copy of the eval text → fully covered → empties
    val withCopy = docs.union(Seq((9L, evalText)).toDF("doc_id", "text"))
    val res = Pipeline.curate(withCopy, "doc_id", "text", Some(evalSet),
      "text", cfg.copy(surgicalDecon = true))
    val kept = res.kept.as[(Long, String)].collect().toMap
    // doc 4 now SURVIVES minus its leaked span ("to be ... question",
    // tokens 6-15); doc 9 excises to empty and is dropped
    assert(kept.keySet === Set(1L, 4L, 5L, 8L))
    assert(kept(4L) === "unrelated opening words here and then " +
      "inside a doc of fair quality it is")
    // untouched docs keep their exact bytes (no token-rejoin drift)
    assert(kept(1L) === good1)
  }

  test("audit ledger names every dropped doc's first stage and winner") {
    val res = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", cfg, withAudit = true)
    val audit = res.audit.get.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(audit === Seq(
      (2L, "quality", None), (3L, "repetition", None),
      (4L, "decontaminate", None), (6L, "exact_dup", Some(5L)),
      (7L, "near_dup", Some(1L))))
    // kept ∪ audit partitions the input ids — no doc vanishes silently,
    // none is double-attributed
    val keptIds = res.kept.select("id").as[Long].collect().toSet
    assert(keptIds ++ audit.map(_._1) ===
      docs.select("doc_id").as[Long].collect().toSet)
    assert(keptIds.intersect(audit.map(_._1).toSet).isEmpty)
    // off by default: no audit plan is built
    assert(Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", cfg).audit.isEmpty)
  }

  test("audit under surgical decon: only EMPTIED docs land in the ledger") {
    val withCopy = docs.union(Seq((9L, evalText)).toDF("doc_id", "text"))
    val res = Pipeline.curate(withCopy, "doc_id", "text", Some(evalSet),
      "text", cfg.copy(surgicalDecon = true), withAudit = true)
    val audit = res.audit.get.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    // doc 4's remainder survives (not in the ledger); the verbatim eval
    // copy 9 excises to empty and is attributed to decontamination
    assert(audit === Seq(
      (2L, "quality", None), (3L, "repetition", None),
      (6L, "exact_dup", Some(5L)), (7L, "near_dup", Some(1L)),
      (9L, "decontaminate", None)))
  }

  test("surgical and drop policies agree when nothing is contaminated") {
    val cleanEval = Seq((100L, "zz yy xx ww vv uu tt ss rr qq"))
      .toDF("doc_id", "text")
    val a = Pipeline.curate(docs, "doc_id", "text", Some(cleanEval),
      "text", cfg).kept.as[(Long, String)].collect().toSet
    val b = Pipeline.curate(docs, "doc_id", "text", Some(cleanEval),
      "text", cfg.copy(surgicalDecon = true))
      .kept.as[(Long, String)].collect().toSet
    assert(a === b)
  }

  // ------------------------------------------------- incremental curation

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_curstore_").toString

  test("curation store: id-ordered ingests reproduce the batch curate") {
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg,
      Some(evalSet), "text")
    val r1 = store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    val r2 = store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text")
    assert(r1.kept.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 5L))
    // 6 = exact dup of stored 5; 7 = near-dup of stored 1; 8 kept
    assert(r2.kept.select("id").as[Long].collect().sorted.toSeq === Seq(8L))
    assert(r1.retracted.count() === 0 && r2.retracted.count() === 0)
  }

  test("curation store: per-ingest audit matches the batch ledger") {
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg,
      Some(evalSet), "text")
    val r1 = store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text",
      withAudit = true)
    val r2 = store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text",
      withAudit = true)
    def rows(d: Pipeline.CurateDelta) = d.audit.get
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows(r1) === Seq((2L, "quality", None), (3L, "repetition", None),
      (4L, "decontaminate", None)))
    // 6 is a STORE dup: its winner is the id that first ingested the
    // text (5, carried in the exact table); 7 near-dups stored 1
    assert(rows(r2) === Seq((6L, "exact_dup", Some(5L)),
      (7L, "near_dup", Some(1L))))
    // the union of per-ingest ledgers equals the batch curate's (no
    // component merged further here, so proximate winner = ultimate)
    val batch = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", cfg, withAudit = true).audit.get
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert((rows(r1) ++ rows(r2)) === batch)
    // audit off by default, and per-ingest kept ∪ audit = the batch ids
    assert(store.ingest(docs.limit(0), "doc_id", "text").audit.isEmpty)
    assert(r2.kept.select("id").as[Long].collect().toSet ++
      rows(r2).map(_._1) === Set(6L, 7L, 8L))
  }

  test("curation store: a bridging doc retracts the dethroned winner") {
    // A and B differ in 4 token positions (jaccard 0.2 — no pair);
    // C sits between them, 2 positions from each (jaccard 0.5 with both)
    val base = Vector("t01", "t02", "t03", "t04", "t05", "t06", "t07",
      "t08", "t09", "t10", "t11", "t12", "t13", "t14", "t15", "t16",
      "t17", "t18", "t19", "t20")
    val a = base.mkString(" ")
    val c = base.updated(4, "c05").updated(11, "c12").mkString(" ")
    val b = base.updated(4, "c05").updated(11, "c12")
      .updated(7, "b08").updated(15, "b16").mkString(" ")
    val lax = cfg.copy(minQuality = 0.0, maxRepetition = 1.0)
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", lax)
    val r1 = store.ingest(Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(r1.kept.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val r2 = store.ingest(Seq((3L, c)).toDF("doc_id", "text"),
      "doc_id", "text")
    // C pairs with both A and B -> one component {1,2,3}, min 1:
    // C never enters, and B — kept in ingest 1 — is retracted
    assert(r2.kept.count() === 0)
    assert(r2.retracted.as[Long].collect().toSeq === Seq(2L))
  }

  test("curation store: a failing beforeCommit aborts before any state write") {
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg)
    store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    val maxBefore = store.maxIngestedId
    intercept[RuntimeException] {
      store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text",
        beforeCommit = _ => throw new RuntimeException("sink failed"))
    }
    // marker unadvanced → the streaming wrapper's redelivery check will
    // RETRY this batch instead of skipping it (deltas-before-marker is
    // the property its skip relies on)
    assert(store.maxIngestedId === maxBefore)
    // the retry equals a clean store's second ingest: the failed
    // attempt's MinHash appends were joined and rolled back, not doubled
    val retry = store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text")
    val clean = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg)
    clean.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    val expected = clean.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    assert(ids(retry.kept) === ids(expected.kept))
    assert(ids(retry.retracted) === ids(expected.retracted))
    assert(store.maxIngestedId === clean.maxIngestedId)
    val doubled = new graft.sources.Warehouse(spark, store.storeRoot)
      .readBucketed("t_cur_mh_sig").groupBy("id", "band").count()
      .filter(col("count") > 1).count()
    assert(doubled === 0L, "no signature appended twice")
  }

  test("curation store: rejects non-increasing batch ids, skips empty batches") {
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg)
    store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    intercept[IllegalArgumentException] {
      store.ingest(docs.filter(col("doc_id") === 3), "doc_id", "text")
    }
    val empty = store.ingest(docs.filter(col("doc_id") > 100), "doc_id", "text")
    assert(empty.kept.count() === 0 && empty.retracted.count() === 0)
  }

  test("curation store: refuses a root with artifacts but no commit record") {
    // a pre-transactional (legacy-layout) store looks exactly like
    // this: data files present, nothing in the commit record — trusting
    // "never ingested" would double-post its hashes and reset labels
    val root = freshRoot()
    val stray = new java.io.File(s"$root/state/t_labels")
    assert(stray.mkdirs())
    val store = new Pipeline.CurationStore(spark, root, "t", cfg)
    val e = intercept[IllegalArgumentException] {
      store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    }
    assert(e.getMessage.contains("no committed ingest record"))
    // an orphaned labels VERSION is an artifact too
    val versioned = freshRoot()
    assert(new java.io.File(s"$versioned/state/t_labels__v3").mkdirs())
    val e2 = intercept[IllegalArgumentException] {
      new Pipeline.CurationStore(spark, versioned, "t", cfg)
        .ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    }
    assert(e2.getMessage.contains("state/t_labels__v3"), e2.getMessage)
    // every declared table is an artifact: a root holding only the
    // MinHash set table is refused, and the refusal writes nothing
    val setOnly = freshRoot()
    assert(new java.io.File(s"$setOnly/warehouse/t_cur_mh_set").mkdirs())
    def files(r: String) = scala.util.Using.resource(
      java.nio.file.Files.walk(new java.io.File(r).toPath))(_.toArray.toSeq.map(_.toString).sorted)
    val before = files(setOnly)
    val e3 = intercept[IllegalArgumentException] {
      new Pipeline.CurationStore(spark, setOnly, "t", cfg)
        .ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    }
    assert(e3.getMessage.contains("warehouse/t_cur_mh_set"), e3.getMessage)
    assert(files(setOnly) === before)
    // a clean root (same handle config) still works
    val ok = new Pipeline.CurationStore(spark, freshRoot(), "t", cfg)
    ok.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    assert(ok.maxIngestedId.contains(5L))
  }

  test("curation store: compaction between ingests changes nothing " +
      "(bridging retraction still fires over the folded layouts)") {
    // the bridging fixture exercises every compacted layout: the exact
    // table (membership) and the mh tables (cross-ingest pairing, which
    // the retraction follows from)
    val base = Vector("t01", "t02", "t03", "t04", "t05", "t06", "t07",
      "t08", "t09", "t10", "t11", "t12", "t13", "t14", "t15", "t16",
      "t17", "t18", "t19", "t20")
    val a = base.mkString(" ")
    val c = base.updated(4, "c05").updated(11, "c12").mkString(" ")
    val b = base.updated(4, "c05").updated(11, "c12")
      .updated(7, "b08").updated(15, "b16").mkString(" ")
    val lax = cfg.copy(minQuality = 0.0, maxRepetition = 1.0)
    val root = freshRoot()
    val store = new Pipeline.CurationStore(spark, root, "t", lax)
    store.ingest(Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      "doc_id", "text")
    // fragment the store with several filler ingests (each appends one
    // file set to every table) so the fold has something to collapse
    (10L to 14L).foreach { i =>
      store.ingest(Seq((i, s"filler doc $i with its own words " +
        s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f f${i}g"))
        .toDF("doc_id", "text"), "doc_id", "text")
    }
    val filesBefore = graft.streaming.Streaming.dataFileCount(root)
    store.compact()
    store.compact() // idempotent — a doubled maintenance run is safe
    assert(graft.streaming.Streaming.dataFileCount(root) < filesBefore,
      s"compaction must shrink the fragmented store (before $filesBefore)")
    // an exact dup of stored text `a` skips via the folded exact table;
    // the bridging doc pairs against the folded mh tables
    val dup = store.ingest(Seq((20L, a)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(dup.kept.count() === 0 && dup.retracted.count() === 0)
    val r2 = store.ingest(Seq((21L, c)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(r2.kept.count() === 0)
    assert(r2.retracted.as[Long].collect().toSeq === Seq(2L))
  }

  test("curation store: a crash mid-compact rolls back; retry converges") {
    val lax = cfg.copy(minQuality = 0.0, maxRepetition = 1.0)
    val root = freshRoot()
    val store = new Pipeline.CurationStore(spark, root, "t", lax)
    store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    val keptIds = docs.filter(col("doc_id") <= 5).count()
    graft.sources.StoreTxn.leaseTtlMs = 250L // dead writer's lease goes stale
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try {
      intercept[graft.sources.StoreTxn.SimulatedCrash] { store.compact() }
      graft.sources.StoreTxn.hooks.reset()
      Thread.sleep(300)
      // blind retry heals; a subsequent ingest still dedups against the
      // store (6 = exact dup of stored 5, 7 = near-dup of stored 1)
      store.compact()
    } finally {
      graft.sources.StoreTxn.hooks.reset()
      graft.sources.StoreTxn.leaseTtlMs = 60000L
    }
    val r = store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text")
    assert(r.kept.select("id").as[Long].collect().sorted.toSeq === Seq(8L))
    assert(store.maxIngestedId.contains(8L))
    assert(keptIds === 5L)
  }

  test("pluggable quality stage: a trained-scorer expression replaces the heuristic") {
    // weights gating on 5·stopword_hits − tokens ≥ 1 (the classifier-
    // margin shape): the symbol doc (2) has zero stopword hits and
    // drops at quality exactly as under the heuristic...
    val gate = cfg.copy(minQuality = 1.0,
      qualityExpr = Some(QualityModels.perceptronQuality(
        Seq(0L, -1L, 5L, 0L, 0L, 0L))))
    val res = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", gate, withAudit = true)
    assert(res.kept.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 5L, 8L))
    assert(res.audit.get.as[(Long, String, Option[Long])].collect()
      .find(_._1 == 2L).map(_._2) === Some("quality"))
    // ...while an accept-everything scorer proves the heuristic is no
    // longer consulted: the symbol doc sails through quality (and the
    // rest of the pipeline) instead of dropping
    val permissive = cfg.copy(minQuality = 1.0,
      qualityExpr = Some(QualityModels.perceptronQuality(
        Seq(1L, 0L, 0L, 0L, 0L, 0L))))
    val all = Pipeline.curate(docs, "doc_id", "text", Some(evalSet),
      "text", permissive)
    assert(all.kept.select("id").as[Long].collect().toSet.contains(2L))
  }

  test("audit attributes a null-scoring doc (null text) to quality") {
    // null text scores null; without a null-safe gate the row fails
    // BOTH filter(qPass) and the audit's filter(!qPass) — vanishing
    // from kept AND ledger, breaking the partition invariant
    val withNull = docs.union(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val res = Pipeline.curate(withNull, "doc_id", "text", Some(evalSet),
      "text", cfg, withAudit = true)
    val audit = res.audit.get.as[(Long, String, Option[Long])].collect()
    assert(audit.find(_._1 == 9L).map(_._2) === Some("quality"))
    val keptIds = res.kept.select("id").as[Long].collect().toSet
    assert(keptIds ++ audit.map(_._1) ===
      withNull.select("doc_id").as[Long].collect().toSet)
  }

  test("curation store: a pre-owner-column exact table is refused, state " +
      "unchanged") {
    val root = freshRoot()
    val store = new Pipeline.CurationStore(spark, root, "t", cfg,
      Some(evalSet), "text")
    store.ingest(docs.filter(col("doc_id") <= 5), "doc_id", "text")
    val labels = store.readLabels.collect().map(_.toString).sorted.toSeq
    // forge the earlier layout: the exact table with the 2-column schema
    // stores had before the owner id rode along
    val wh = new graft.sources.Warehouse(spark, root)
    val legacyRows = wh.readBucketed("t_cur_exact")
      .select("__h1", "__h2").collect().toSeq
    Seq("t_cur_exact", "_graft_bucket_spec_t_cur_exact", "_graft_schema_t_cur_exact")
      .foreach(f => graft.sources.StoreTxn.rmrf(new java.io.File(s"$root/warehouse/$f")))
    wh.appendBucketed("t_cur_exact",
      spark.createDataFrame(spark.sparkContext.parallelize(legacyRows),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__h1",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__h2",
            org.apache.spark.sql.types.LongType)))),
      Seq("__h1", "__h2"), cfg.minhash.nStoreBuckets)
    val e = intercept[IllegalArgumentException] {
      store.ingest(docs.filter(col("doc_id") > 5), "doc_id", "text",
        withAudit = true)
    }
    assert(e.getMessage.contains("t_cur_exact") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    assert(store.maxIngestedId === Some(5L))
    assert(store.readLabels.collect().map(_.toString).sorted.toSeq === labels)
  }

  test("authority gate composes into curate: hosts below the rank bar " +
      "drop first, ledger accounts for them, store form agrees") {
    // hosts: doc 1,5,6 on host 10 (promoted), 7,8 on host 20
    // (promoted), the rest on host 30 (below the bar)
    val hosted = docs.withColumn("host",
      when(col("doc_id").isin(1L, 5L, 6L), 10L)
        .when(col("doc_id").isin(7L, 8L), 20L).otherwise(30L))
    val ranks = Seq((10L, 900L), (20L, 800L), (30L, 10L))
      .toDF("node", "rank_fp")
    val gate = Pipeline.AuthorityGate(ranks, "host", minRankFp = 100L)
    val lax = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0)
    val r = Pipeline.curate(hosted, "doc_id", "text", None, "text", lax,
      withCounts = true, withAudit = true, authority = Some(gate))
    // hosts 10/20 survive the gate; then exact dedup (6 loses to 5)
    // and near-dup (7 loses to 1) run on the gated set only
    assert(r.kept.select("id").as[Long].collect().toSet ===
      Set(1L, 5L, 8L))
    val audit = r.audit.get.collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(audit(2L) === "authority" && audit(3L) === "authority" &&
      audit(4L) === "authority", s"host-30 docs drop at the gate: $audit")
    assert(audit(6L) === "exact_dup" && audit(7L) === "near_dup")
    // ledger invariant: kept ∪ audit partitions the input ids
    assert((audit.keySet ++ Set(1L, 5L, 8L)) === (1L to 8L).toSet &&
      !audit.contains(1L))
    // counts: input is pre-gate, authority is the gate's survivors
    val counts = r.stageCounts.toMap
    assert(counts("input") === 8L && counts("authority") === 5L)

    // the incremental store applies the same static gate — batch
    // ingests reassemble the one-shot result (kept set and ledger)
    val store = new Pipeline.CurationStore(spark,
      freshRoot(), "auth", lax, authority = Some(gate))
    val d1 = store.ingest(hosted.filter(col("doc_id") <= 4), "doc_id",
      "text", withAudit = true)
    val d2 = store.ingest(hosted.filter(col("doc_id") > 4), "doc_id",
      "text", withAudit = true)
    val keptInc = (d1.kept.select("id").as[Long].collect().toSet ++
      d2.kept.select("id").as[Long].collect().toSet) --
      d2.retracted.as[Long].collect().toSet
    assert(keptInc === Set(1L, 5L, 8L))
    val auditInc = (d1.audit.get.collect() ++ d2.audit.get.collect())
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(auditInc === audit)
  }

  test("crawl chain: WARC -> hostEdges -> EdgeStore -> trustRank -> " +
      "gated curate sheds the spam host") {
    // a 3-page mini-crawl of distinct prose: trusted.test and
    // linked.test link to each other; spam.test links only to itself,
    // so no trust flows to it
    def page(host: String, n: Int, hrefHost: String, body: String) = {
      val html = s"<html><body><a href=\"http://$hrefHost/x\">l</a>" +
        s"<p>$body</p></body></html>"
      val content = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
        .getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: http://$host/p$n\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Record-ID: <urn:uuid:chain-$host-$n>\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${content.length}\r\n\r\n").getBytes("UTF-8") ++
        content ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_crawl_chain_")
    java.nio.file.Files.write(dir.resolve("crawl.warc"),
      page("trusted.test", 1, "linked.test", good1) ++
        page("linked.test", 2, "trusted.test", exact56) ++
        page("spam.test", 3, "spam.test", evalText))
    val pages = graft.sources.WarcSource.readResponses(spark, dir.toString)
      .select(col("url"), col("text").as("html"))
      .localCheckpoint(true)
    val hostEdges = Graph.hostEdges(pages, "url", "html")
    val store = new EdgeStore(
      new graft.sources.Warehouse(spark, freshRoot()), "crawl",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    // long-keyed store: hash the host strings, keep the dimension
    store.ingest(hostEdges.select(xxhash64(col("src")).as("src"),
      xxhash64(col("dst")).as("dst"), col("w")), "src", "dst")
    assert(store.edges(spark).count() === hostEdges.count(),
      "the edge store holds every crawled host edge")
    val ranks = Graph.trustRank(hostEdges, "src", "dst", iters = 3,
      Seq("trusted.test").toDF("node"), "node", Some("w"))
    val hosted = pages.select(
      xxhash64(col("url")).as("doc_id"),
      graft.functions.HtmlFunctions.urlHost(col("url")).as("host"),
      graft.functions.TextFunctions.mainContent(col("html")).as("text"))
    val r = Pipeline.curate(hosted, "doc_id", "text",
      cfg = Pipeline.CurateConfig(minQuality = 0.0, maxRepetition = 1.0),
      withAudit = true,
      authority = Some(Pipeline.AuthorityGate(ranks, "host", minRankFp = 0L)))
    val hostOf = hosted.select("doc_id", "host").as[(Long, String)]
      .collect().toMap
    val audit = r.audit.get.collect()
      .map(x => hostOf(x.getLong(0)) -> x.getString(1)).toMap
    assert(audit === Map("spam.test" -> "authority"),
      s"only the spam host drops, at the gate: $audit")
    assert(r.kept.select("id").as[Long].collect().map(hostOf).toSet ===
      Set("trusted.test", "linked.test"))
  }

  test("preFilter's widening gate skips few-partition inputs whose size " +
      "estimate is large") {
    // few partitions + a LARGE optimizer size estimate: a non-splittable
    // compressed file or an upstream coalesce can carry GBs in two
    // partitions, and the eager widen+checkpoint would materialize the
    // lot where the stage pipeline streams — the gate must keep the
    // source layout instead
    val big = spark.range(20000000L)
      .select(col("id"),
        concat(lit("x" * 120), col("id").cast("string")).as("text"))
      .coalesce(2)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(256L << 20), "fixture must exceed the gate's size cap")
    val pf = Pipeline.preFilter(big, "id", "text", None, "text",
      Pipeline.CurateConfig(), identity)
    assert(pf.scored.rdd.getNumPartitions === 2,
      "large-estimate input must keep its layout (no eager widen)")
    // a genuinely small few-partition frame still widens
    val small = spark.range(100L)
      .select(col("id"), lit("tiny doc").as("text")).coalesce(1)
    val pfs = Pipeline.preFilter(small, "id", "text", None, "text",
      Pipeline.CurateConfig(), identity)
    assert(pfs.scored.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }
}
