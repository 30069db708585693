package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark engine spark cluster"),        // tf(spark)=2, short
    (2L, "spark engine with a very long tail of extra words here now"),
    (3L, "database engine only"),
    (4L, "completely unrelated text"),
    (5L, "")                                   // empty: never ranked
  ).toDF("id", "text")

  test("bm25TopK ranks by tf with length normalization, skips non-matches") {
    val out = Retrieval.bm25TopK(docs, "id", "text", Seq("spark"), k = 10)
      .select("id", "rank").as[(Long, Int)].collect().toSeq
    // doc 1: higher tf AND shorter → first; doc 2 matches once; 3/4/5 don't match
    assert(out === Seq((1L, 1), (2L, 2)))
  }

  test("bm25TopK multi-term scores sum per-term contributions") {
    val out = Retrieval.bm25TopK(docs, "id", "text",
      Seq("spark", "engine"), k = 10)
    val ranked = out.select("id").as[Long].collect().toSeq
    assert(ranked.head === 1L)           // matches both terms, short
    assert(ranked.toSet === Set(1L, 2L, 3L)) // 3 matches "engine" only
    // rarer term carries the larger idf: a doc matching only "spark"
    // (df 2) must outscore one matching only "engine" (df 3) at equal tf
    val scores = out.select("id", "score").as[(Long, Double)].collect().toMap
    assert(scores(2L) > scores(3L))
  }

  test("logIdf: single-term ranks equal the rational form, multi-term scores compress") {
    // single-term: the idf is one per-term constant, and ln(1+x) is a
    // positive monotone transform of it — ranks must be identical
    val rational = Retrieval.bm25TopK(docs, "id", "text", Seq("spark"), 10)
      .select("id", "rank", "score").as[(Long, Int, Double)].collect().toSeq
    val robertson = Retrieval.bm25TopK(docs, "id", "text", Seq("spark"), 10,
        logIdf = true)
      .select("id", "rank", "score").as[(Long, Int, Double)].collect().toSeq
    assert(rational.map(r => (r._1, r._2)) === robertson.map(r => (r._1, r._2)))
    // ...and each score is exactly the rational score rescaled by
    // ln(1+idf)/idf (same tf/length part, different idf constant)
    val n = 5.0; val df = 2.0
    val idf = (n - df + 0.5) / (df + 0.5)
    val scale = math.log1p(idf) / idf
    rational.zip(robertson).foreach { case (r, l) =>
      assert(math.abs(l._3 - r._3 * scale) < 1e-12) }
    // multi-term: the log compresses the rare-vs-common idf ratio, so
    // the two forms' score GAPS differ (documented, not a bug)
    def gap(logIdf: Boolean) = {
      val s = Retrieval.bm25TopK(docs, "id", "text", Seq("spark", "engine"),
          10, logIdf = logIdf)
        .select("id", "score").as[(Long, Double)].collect().toMap
      s(2L) / s(3L) // spark-only doc vs engine-only doc
    }
    assert(gap(logIdf = false) > gap(logIdf = true),
      "rational idf spreads rare/common terms further apart than log idf")
    // the index serve path accepts the same flag and agrees with the
    // one-shot scorer
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25log_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(docs, "id", "text")
    val served = idx.search(Seq("spark"), 10, logIdf = true)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(served === robertson.map(r => (r._1, r._3)))
  }

  test("bm25TopK on an empty corpus returns empty; unappended index fails fast") {
    val empty = docs.filter(col("id") < 0)
    assert(Retrieval.bm25TopK(empty, "id", "text", Seq("spark"), 5)
      .count() === 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25empty_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t")
    val e = intercept[IllegalArgumentException] {
      idx.search(Seq("spark"), 5)
    }
    assert(e.getMessage.contains("no appends"))
  }

  test("bm25 index: incremental appends serve the one-shot ranking bit-for-bit") {
    val corpus = (1L to 60L).map { i =>
      (i, if (i % 5 == 0) "spark engine cluster" else s"filler$i words here")
    }.toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25spec_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(corpus.filter(col("id") <= 40), "id", "text")
    idx.ingest(corpus.filter(col("id") > 40), "id", "text")
    val served = idx.search(Seq("spark", "engine"), k = 8)
      .select("id", "score", "rank").as[(Long, Double, Int)]
      .collect().toSeq
    val oneShot = Retrieval.bm25TopK(corpus, "id", "text",
        Seq("spark", "engine"), k = 8)
      .select("id", "score", "rank").as[(Long, Double, Int)]
      .collect().toSeq
    assert(served === oneShot && served.nonEmpty) // scores bit-equal
  }

  test("bm25 index: N and Σdl ride in the commit record, so a warm search " +
      "starts one job, not three") {
    val corpus = (1L to 60L).map { i =>
      (i, if (i % 5 == 0) "spark engine cluster" else s"filler$i words here")
    }.toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25jobs_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(corpus.filter(col("id") <= 30), "id", "text")
    idx.ingest(corpus.filter(col("id") > 30), "id", "text")
    val tokens = corpus.select(size(graft.functions.TextFunctions
      .tokens(col("text")))).as[Int].collect().map(_.toLong).sum
    assert(graft.sources.StoreTxn.getKv(root, "bm25:t:n") === Some("60"))
    assert(graft.sources.StoreTxn.getKv(root, "bm25:t:sumdl") ===
      Some(tokens.toString))
    idx.search(Seq("spark", "engine"), k = 8).collect() // warm
    // the per-term document frequencies are the one control read left,
    // one job: the postings are bucketed by term, so their aggregate
    // needs no exchange. The N/Σdl aggregate over a stats directory took
    // two more (a shuffle-map job and its result job).
    val (_, ran) = graft.Jobs.during(spark)(
      idx.search(Seq("spark", "engine"), k = 8))
    assert(ran.jobs.size === 1, ran)
  }

  test("bm25 index: a root whose postings predate the commit-record totals " +
      "is refused for appends and searches") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25old_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(docs, "id", "text")
    // forge the earlier format: postings and lengths, no N/Σdl kvs
    val commit = new java.io.File(root, "_txn/commit").toPath
    java.nio.file.Files.writeString(commit, java.nio.file.Files
      .readString(commit).split("\n").filterNot(_.startsWith("kv\tbm25:"))
      .mkString("\n"))
    val posts = new graft.sources.Warehouse(spark, root)
      .readBucketed("t_bm_post").collect().map(_.toString).sorted.toSeq
    Seq(() => idx.search(Seq("spark"), 5),
        () => idx.ingest(docs.select((col("id") + 10).as("id"), col("text")),
          "id", "text")).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("rebuild under a fresh root"), e.getMessage)
    }
    assert(new graft.sources.Warehouse(spark, root).readBucketed("t_bm_post")
      .collect().map(_.toString).sorted.toSeq === posts,
      "the refused append wrote nothing")
  }

  test("rrfFuse combines ranks, handles one-sided hits, caps at k") {
    val lex = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val sem = Seq((11L, 1), (13L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(lex, sem, k = 3)
      .select("id", "fused", "rank").as[(Long, Double, Int)].collect().toSeq
    // 11 is in both lists → top; 10 (lex rank 1) and 13 (sem rank 2) follow
    assert(out.map(_._1) === Seq(11L, 10L, 13L))
    assert(out.head._2 === 1.0 / 61.0 + 1.0 / 62.0)
    assert(out(1)._2 === 1.0 / 61.0) // one-sided: other side contributes 0
    assert(out.map(_._3) === Seq(1, 2, 3))
  }

  test("bm25TopK replay-stable under repartition and caps at k") {
    val many = (1L to 200L)
      .map(i => (i, if (i % 3 == 0) s"term filler$i" else s"filler$i only"))
      .toDF("id", "text")
    val a = Retrieval.bm25TopK(many, "id", "text", Seq("term"), k = 7)
      .select("id", "rank").as[(Long, Int)].collect().toSeq
    val b = Retrieval.bm25TopK(many.repartition(13), "id", "text",
        Seq("term"), k = 7)
      .select("id", "rank").as[(Long, Int)].collect().toSeq
    assert(a === b && a.size === 7)
    // equal scores tie-break by ascending id, deterministically
    assert(a.map(_._1) === a.map(_._1).sorted)
  }

  test("bm25 index compaction: same ranking, one generation of files") {
    val corpus = (1L to 90L).map { i =>
      (i, if (i % 5 == 0) "spark engine cluster" else s"filler$i words here")
    }.toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25cmp_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    (0 until 6).foreach(i =>
      idx.ingestOnce(corpus.filter(col("id") % 6 === i), "id", "text",
        Some(s"k$i")))
    val before = idx.search(Seq("spark", "engine"), k = 8)
      .select("id", "score", "rank").as[(Long, Double, Int)].collect().toSeq
    def dataFiles(prefix: String): Int = {
      val wh = new java.io.File(s"$root/warehouse")
      Option(wh.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith(prefix))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .count(f => f.getName.endsWith(".parquet"))
    }
    val filesBefore = dataFiles("t_bm_post")
    assert(filesBefore >= 12, s"6 appends × 2 buckets, got $filesBefore")
    idx.compact()
    // one generation left, one write's worth of files
    assert(dataFiles("t_bm_post") <= 2,
      s"post-compact files: ${dataFiles("t_bm_post")}")
    val after = idx.search(Seq("spark", "engine"), k = 8)
      .select("id", "score", "rank").as[(Long, Double, Int)].collect().toSeq
    assert(after === before, "compaction must not change a single score")
    // the replay ledger survives: a completed key redelivered is a
    // no-op — re-appending would double postings and move every score
    idx.ingestOnce(corpus.filter(col("id") % 6 === 0), "id", "text",
      Some("k0"))
    assert(idx.search(Seq("spark", "engine"), k = 8)
      .select("id", "score", "rank").as[(Long, Double, Int)]
      .collect().toSeq === before)
    // ...and appends keep working on the new generation
    val extra = (91L to 95L).map(i => (i, "spark extra")).toDF("id", "text")
    idx.ingestOnce(extra, "id", "text", Some("k9"))
    assert(idx.search(Seq("spark"), k = 5).count() === 5)
    // a FRESH handle on the same root resolves the compacted generation
    val idx2 = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    assert(idx2.search(Seq("spark", "engine"), k = 8)
      .select("id").as[Long].collect().nonEmpty)
    val served2 = idx2.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    idx2.ingestOnce(corpus.filter(col("id") % 6 === 1), "id", "text",
      Some("k1")) // completed pre-compact key: still skips
    assert(idx2.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq === served2)
  }

  test("bm25 index compaction: crash mid-compact leaves the live index intact") {
    val corpus = (1L to 40L).map(i => (i, s"spark filler$i")).toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25crash_").toString
    val idx = new Retrieval.Bm25Index(spark, root, "t", nStoreBuckets = 2)
    idx.ingest(corpus.filter(col("id") <= 20), "id", "text")
    idx.ingest(corpus.filter(col("id") > 20), "id", "text")
    val before = idx.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try intercept[graft.sources.StoreTxn.SimulatedCrash] { idx.compact() }
    finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    try {
      assert(idx.search(Seq("spark"), k = 5)
        .select("id", "score").as[(Long, Double)].collect().toSeq === before)
      idx.compact() // blind retry converges
    } finally graft.sources.StoreTxn.leaseTtlMs = 60000L
    assert(idx.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq === before)
  }
}
