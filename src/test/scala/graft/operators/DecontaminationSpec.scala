package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DecontaminationSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val evalSet = Seq("the quick brown fox jumps over").toDF("text")

  test("overlapStats computes per-doc distinct-gram overlap fractions") {
    val docs = Seq(
      // grams (n=3): 4 distinct, 4 hit ("the quick brown", "quick brown fox", ...)
      (1L, "the quick brown fox jumps over"),
      // 4 distinct grams, 2 hit
      (2L, "the quick brown fox eats cheese"),
      // no overlap
      (3L, "completely unrelated text entirely here"),
      // fewer than n tokens → no grams
      (4L, "two words")
    ).toDF("id", "text")
    val out = Decontamination.overlapStats(docs, "id", "text",
        evalSet, "text", n = 3)
      .orderBy("id").as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq(
      (1L, 4L, 4L, 1.0),
      (2L, 4L, 2L, 0.5),
      (3L, 3L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("overlapStats counts DISTINCT grams (repeats don't inflate the rate)") {
    val docs = Seq((1L, "a b c a b c a b c")).toDF("id", "text")
    val ev = Seq("a b c").toDF("text")
    val out = Decontamination.overlapStats(docs, "id", "text", ev, "text", 3)
      .as[(Long, Long, Long, Double)].head()
    // distinct 3-grams: "a b c", "b c a", "c a b" — one hit
    assert(out === ((1L, 3L, 1L, 1.0 / 3.0)))
  }

  test("gram index: incremental appends check equal to the one-shot scan") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "no shared grams in this document at all friend"),
      (3L, "the quick brown fox jumps elsewhere entirely now"),
      (4L, "short one")
    ).toDF("id", "text")
    val ev = Seq("the quick brown fox jumps").toDF("text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_gramidx_").toString
    val idx = new Decontamination.GramIndex(spark, root, "t", n = 5,
      nStoreBuckets = 2)
    idx.append(docs.filter(col("id") <= 2), "id", "text")
    idx.append(docs.filter(col("id") > 2), "id", "text")
    val viaIndex = idx.check(ev, "text").as[Long].collect().sorted.toSeq
    val oneShot = Decontamination.contaminatedIds(docs, "id", "text",
      ev, "text", 5).as[Long].collect().sorted.toSeq
    assert(viaIndex === oneShot && viaIndex === Seq(1L, 3L))
    // a benchmark with no overlap flags nothing
    assert(idx.check(Seq("zero overlap here with anything")
      .toDF("text"), "text").count() === 0)
  }

  test("gram index: a small eval set prunes postings partitions, same answers") {
    // 120 docs of distinct numbered tokens → grams spread over all 64
    // prefix partitions; the eval set is ONE short snippet (4 trigrams)
    // → at most 4 prefixes survive the partition filter
    val docs = (1L to 120L).map(i =>
      (i, (0 until 12).map(j => s"tok${i}_$j").mkString(" ")))
      .toDF("id", "text")
    val ev = Seq("tok7_3 tok7_4 tok7_5 tok7_6 tok7_7 tok7_8").toDF("text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_gramprune_").toString
    val idx = new Decontamination.GramIndex(spark, root, "t", n = 3,
      nStoreBuckets = 2, prefixPartitions = 64)
    idx.append(docs, "id", "text")
    val checked = idx.check(ev, "text")
    assert(checked.as[Long].collect().toSeq === Seq(7L),
      "pruned check must still flag exactly the overlapping doc")
    // the physical plan carries the partition filter, and the postings
    // scan's partitions-read metric confirms whole partitions were
    // skipped
    checked.collect()
    val plan = checked.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters: [gpfx"),
      s"postings scan must filter on the gram-prefix partition column:\n$plan")
    val partitionsRead = collect(plan) {
      case scan: FileSourceScanExec if scan.relation.partitionSchema.nonEmpty =>
        scan.metrics("numPartitions").value
    }
    val totalPartitions = Option(
        new java.io.File(s"$root/warehouse/t_dc_gram").listFiles()).get
      .count(_.getName.startsWith("gpfx="))
    assert(partitionsRead.nonEmpty && partitionsRead.forall(n => n >= 1 && n <= 4) &&
      totalPartitions > 32,
      s"4-gram eval must read ≤4 of $totalPartitions partition dirs, " +
        s"read $partitionsRead")
  }

  test("gram index: a partitioned store reopens in a fresh session") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different content in this one here")
    ).toDF("id", "text")
    val ev = Seq("alpha beta gamma delta").toDF("text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_gramreopen_").toString
    val idx = new Decontamination.GramIndex(spark, root, "t", n = 3,
      nStoreBuckets = 2, prefixPartitions = 8)
    idx.append(docs, "id", "text")
    assert(idx.check(ev, "text").as[Long].collect().toSeq === Seq(1L))
    // fresh-driver simulation: a handle on a new session has only the
    // files and sidecars; the reopen must read the PARTITIONED layout
    // with every partition
    val idx2 = new Decontamination.GramIndex(spark.newSession(), root, "t",
      n = 3, nStoreBuckets = 2, prefixPartitions = 8)
    assert(idx2.check(ev, "text").as[Long].collect().toSeq === Seq(1L),
      "reopened partitioned index must serve the same answers")
    // row-identity parameters are store identity: a handle with a
    // drifted prefix modulus (would silently prune wrong partitions)
    // or gram size (would hash different grams) must fail fast, on
    // both the read and the write path
    val drifted = new Decontamination.GramIndex(spark, root, "t", n = 3,
      nStoreBuckets = 2, prefixPartitions = 4)
    val e1 = intercept[IllegalArgumentException](drifted.check(ev, "text"))
    assert(e1.getMessage.contains("parameter mismatch"))
    val wrongN = new Decontamination.GramIndex(spark, root, "t", n = 5,
      nStoreBuckets = 2, prefixPartitions = 8)
    val e2 = intercept[IllegalArgumentException](
      wrongN.append(docs.withColumn("id", col("id") + 10), "id", "text"))
    assert(e2.getMessage.contains("parameter mismatch"))
    // and the matching handle still works after the failed attempts
    assert(idx2.check(ev, "text").as[Long].collect().toSeq === Seq(1L))
  }

  test("thresholding overlapStats strictly widens contaminatedIds") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "no shared grams in this document at all"),
      (3L, "the quick brown cat sleeps")
    ).toDF("id", "text")
    val flagged = Decontamination.contaminatedIds(docs, "id", "text",
      evalSet, "text", 3).as[Long].collect().toSet
    val rated = Decontamination.overlapStats(docs, "id", "text",
        evalSet, "text", 3)
      .filter(col("overlap_rate") > 0).select("id").as[Long].collect().toSet
    // any-gram flag == rate > 0 (same gram semantics, two granularities)
    assert(flagged === rated)
    assert(flagged === Set(1L, 3L))
  }

  test("contaminationSpans localizes the leak; excising it unflags the doc") {
    // doc 1 quotes the whole eval question (tokens 2..7); doc 2 shares
    // only its leading 3-gram; doc 3 is clean
    val docs = Seq(
      (1L, "intro words the quick brown fox jumps over and then more"),
      (2L, "the quick brown dog naps"),
      (3L, "completely unrelated text entirely here")
    ).toDF("id", "text")
    val spans = Decontamination.contaminationSpans(docs, "id", "text",
      evalSet, "text", n = 3, minSpan = 3)
    val got = spans.as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 7L, 6L), (2L, 0L, 2L, 3L)))
    // minSpan = n ⇒ flagged ids equal contaminatedIds
    val flagged = Decontamination.contaminatedIds(docs, "id", "text",
      evalSet, "text", 3).as[Long].collect().toSet
    assert(spans.select("id").distinct().as[Long].collect().toSet === flagged)
    // the surgical loop: excise the spans, re-check → nothing flagged
    val cleaned = Dedup.exciseSpans(docs, "id", "text", spans)
    assert(Decontamination.contaminatedIds(cleaned, "id", "text",
      evalSet, "text", 3).count() === 0)
    // and the clean doc's text survives untouched
    val texts = cleaned.as[(Long, String, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(texts(3L) === "completely unrelated text entirely here")
    assert(texts(1L) === "intro words and then more")
  }

  test("gram index compaction: same flags, one generation, ledger intact") {
    val docs = (1L to 40L).map(i =>
      (i, (0 until 8).map(j => s"tok${i}_$j").mkString(" ")))
      .toDF("id", "text")
    val ev = Seq("tok7_2 tok7_3 tok7_4 tok7_5").toDF("text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_gramcmp_").toString
    val idx = new Decontamination.GramIndex(spark, root, "t", n = 3,
      nStoreBuckets = 2, prefixPartitions = 4)
    (0 until 5).foreach(i => idx.appendOnce(
      docs.filter(col("id") % 5 === i), "id", "text", Some(s"k$i")))
    val before = idx.check(ev, "text").as[Long].collect().sorted.toSeq
    assert(before === Seq(7L))
    def dataFiles: Int = {
      val whDir = new java.io.File(s"$root/warehouse")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      Option(whDir.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("t_dc_gram"))
        .flatMap(walk).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = dataFiles
    idx.compact()
    assert(dataFiles < filesBefore,
      s"compaction must shrink the file count ($filesBefore → $dataFiles)")
    assert(idx.check(ev, "text").as[Long].collect().sorted.toSeq === before)
    // completed key redelivered after compaction: still skips (ledger is
    // in the commit record, untouched by the generation swap)
    assert(!idx.appendOnce(docs.filter(col("id") % 5 === 0), "id", "text",
      Some("k0")))
    // new appends land in the new generation; a fresh handle resolves it
    assert(idx.appendOnce(
      Seq((100L, "tok7_2 tok7_3 tok7_4 tok7_5 trailing")).toDF("id", "text"),
      "id", "text", Some("k9")))
    val idx2 = new Decontamination.GramIndex(spark, root, "t", n = 3,
      nStoreBuckets = 2, prefixPartitions = 4)
    assert(idx2.check(ev, "text").as[Long].collect().sorted.toSeq ===
      Seq(7L, 100L))
  }

  test("semanticContamination flags by cosine with the best witness") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // = eval 10
      (2L, Array(0.9f, 0.1f, 0.0f)),   // near eval 10
      (3L, Array(0.0f, 0.0f, 1.0f))    // orthogonal to both
    ).toDF("id", "vec")
    val eval = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("eval_id", "ev")
    val out = Decontamination.semanticContamination(docs, "id", "vec",
        eval, "eval_id", "ev", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._1 === 10L && math.abs(out(1L)._2 - 1.0) < 1e-12)
    assert(out(2L)._1 === 10L)
    // eval-side guard refuses unbounded broadcast products
    intercept[IllegalArgumentException] {
      Decontamination.semanticContamination(docs, "id", "vec",
        eval, "eval_id", "ev", 0.5, maxEval = 1)
    }
  }
}
