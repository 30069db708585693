package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{Jobs, SparkSpec}
import graft.sources.Warehouse

/** The driver routes of a small curation delta — [[MinhashStore.ingestParts]]
  * and [[Dedup.connectedComponentsIncremental]] through
  * [[graft.core.DriverRoute]] — against their Spark routes (gate 0), on
  * generated corpora and graphs: int and long ids, empty batches,
  * token-free documents, buckets over the cap, batch documents that share
  * buckets with the store, and new pairs that bridge old components. */
class SmallDeltaSpec extends SparkSpec {
  import spark.implicits._
  import SmallDeltaSpec._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_smalldelta_").toString

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  private val genDoc: Gen[Doc] = Gen.frequency(
    4 -> Gen.choose(6, 12).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
      .map(ws => Fresh(ws.mkString(" "))),
    2 -> Gen.choose(0, 1000).map(Copy(_)),
    3 -> Gen.zip(Gen.choose(0, 1000), Gen.choose(0, 11), Gen.oneOf(vocab))
      .map { case (k, i, w) => Mutate(k, i, w) },
    1 -> Gen.oneOf("", " ", "?! ...").map(Fresh(_)))

  /** Batches of texts; the second is always empty and the first plants
    * four copies of one text (a bucket over a cap of 3). */
  private val genBatches: Gen[Seq[Seq[String]]] =
    Gen.listOfN(3, Gen.choose(1, 14).flatMap(Gen.listOfN(_, genDoc)))
      .map { bs =>
        val texts = bs.flatten.foldLeft(Vector.fill(4)("kilo lima kilo lima echo")) {
          (acc, d) => acc :+ (d match {
            case Fresh(t) => t
            case Copy(k) => acc(k % acc.size)
            case Mutate(k, i, w) =>
              val t = acc(k % acc.size).split(" ").filter(_.nonEmpty)
              if (t.isEmpty) w else t.updated(i % t.length, w).mkString(" ")
          })
        }
        val sizes = (4 + bs.head.size) +: bs.tail.map(_.size)
        val cuts = sizes.scanLeft(0)(_ + _)
        val split = cuts.zip(cuts.tail).map { case (a, b) => texts.slice(a, b) }
        split.head +: Seq.empty[String] +: split.tail
      }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** `texts` with ids from `from` on, typed int or long. */
  private def batch(texts: Seq[String], from: Int, longIds: Boolean): DataFrame = {
    val df = texts.zipWithIndex.map { case (t, i) => (from + i, t) }.toDF("id", "text")
    if (longIds) df.select(col("id").cast("long").as("id"), col("text")) else df
  }

  private def rows(pairs: DataFrame): Seq[(Long, Long, Double)] =
    pairs.as[(Long, Long, Double)].collect().sorted.toSeq

  private val mhCfg = MinhashConfig(shingleN = 2, bands = 8, rowsPerBand = 2,
    threshold = 0.4, seed = 11L, maxBucket = 3, nStoreBuckets = 4)

  test("minhash ingest: the driver route equals the Spark route on generated batches") {
    for (seed <- 1L to 3L; longIds <- Seq(true, false)) {
      val store = new MinhashStore(new Warehouse(spark, freshRoot()), "t", mhCfg)
      var next = 0
      var emitted = 0
      sample(genBatches, seed).foreach { texts =>
        val b = batch(texts, next, longIds)
        next += texts.size
        val (spark0, _) = store.ingestParts(b, "id", "text", maxDriverDocs = 0)
        val (driver, append) = store.ingestParts(b, "id", "text")
        assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        val expected = rows(spark0)
        assert(rows(driver) === expected, s"seed $seed, long ids $longIds")
        emitted += expected.size
        append()
      }
      assert(emitted > 0, s"seed $seed planted no near-dup pair")
    }
  }

  test("minhash ingest: a touched-store read over the bound falls back and agrees") {
    val store = new MinhashStore(new Warehouse(spark, freshRoot()), "t",
      mhCfg.copy(maxBucket = 1000))
    val text = "alpha bravo charlie delta echo foxtrot"
    store.ingest(batch(Seq.fill(5)(text), 0, longIds = true), "id", "text")
    // one batch doc (within a bound of 2) against 5 stored copies
    // (5 × bands touched rows, over 2 × bands)
    val b = batch(Seq(text), 5, longIds = true)
    val (fallback, _) = store.ingestParts(b, "id", "text", maxDriverDocs = 2)
    val (spark0, _) = store.ingestParts(b, "id", "text", maxDriverDocs = 0)
    val (driver, _) = store.ingestParts(b, "id", "text")
    assert(!fallback.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(rows(fallback) === rows(spark0))
    assert(rows(driver) === rows(spark0))
    assert(rows(spark0).map(p => (p._1, p._2)) === (0L until 5L).map((_, 5L)))
  }

  test("incremental components: the driver fold equals the distributed fold") {
    val genGraph = for {
      n <- Gen.choose(4, 30)
      old <- Gen.listOf(Gen.zip(Gen.choose(0, n), Gen.choose(0, n)))
      fresh <- Gen.frequency(1 -> Gen.const(Nil),
        4 -> Gen.listOf(Gen.zip(Gen.choose(0, n + 5), Gen.choose(0, n + 5))))
    } yield (old.filter(e => e._1 != e._2), fresh)
    // two old components bridged by one new pair
    val bridged = (Seq((1, 2), (10, 11), (10, 12)), Seq((2, 12)))
    for ((graph, i) <- (bridged +: (1L to 6L).map(sample(genGraph, _))).zipWithIndex;
         longIds <- Seq(true, false)) {
      val (old, fresh) = graph
      val t = if (longIds) "long" else "int"
      val prev = Dedup.connectedComponents(
          (old :+ ((0, 0))).toDF("id_a", "id_b"), "id_a", "id_b")
        .select(col("id").cast(t).as("id"), col("comp").cast(t).as("comp"))
      val pairs = fresh.toDF("id_a", "id_b")
        .select(col("id_a").cast(t), col("id_b").cast(t))
      def labels(gate: Long) = Dedup.connectedComponentsIncremental(prev, pairs,
          "id_a", "id_b", maxDriverEdges = gate)
        .select(col("id").cast("long"), col("comp").cast("long"))
        .as[(Long, Long)].collect().toMap
      val full = Dedup.connectedComponents((old ++ fresh :+ ((0, 0)))
        .toDF("id_a", "id_b"), "id_a", "id_b").as[(Long, Long)].collect().toMap
      assert(labels(0) === full, s"graph $i, $t ids")
      assert(labels(Dedup.DefaultMaxDriverEdges) === full, s"graph $i, $t ids")
    }
  }

  private val curateCfg = Pipeline.CurateConfig(minQuality = 0.0,
    maxRepetition = 1.0, minhash = MinhashConfig(shingleN = 3, bands = 16,
      rowsPerBand = 1, threshold = 0.5, seed = 7L))

  /** A and B differ in 4 of 20 tokens (no pair); C, ingested last, is a
    * near-dup of both and retracts B. */
  private val (bridgeA, bridgeB, bridgeC) = {
    val base = (1 to 20).map(i => f"t$i%02d").toVector
    val c = base.updated(4, "c05").updated(11, "c12")
    (base.mkString(" "), c.updated(7, "b08").updated(15, "b16").mkString(" "),
      c.mkString(" "))
  }

  /** The rows of a curation store's three bucketed tables (exact hashes,
    * MinHash signatures, MinHash sets), each sorted, read from their live
    * versions. */
  private def storeTables(st: Pipeline.CurationStore): Seq[Seq[String]] = {
    val wh = new Warehouse(spark, st.storeRoot)
    Seq("t_cur_exact", "t_cur_mh_sig", "t_cur_mh_set").map(wh.live).map(t =>
      if (wh.exists(t)) wh.readBucketed(t).collect().map(_.toString).toSeq.sorted
      else Nil)
  }

  /** A span of the eval text below: a document quoting it mid-text
    * (excised by the surgical policy, dropped by the other) and one that
    * is only the span (dropped by both). */
  private val evalSpan = "zulu yankee xray whiskey victor"
  private val quoting = s"alpha bravo $evalSpan charlie delta echo"

  /** One set of curation options both routes must agree under. */
  private final case class Options(cfg: Pipeline.CurateConfig,
                                   eval: Boolean = false,
                                   audit: Boolean = false,
                                   authority: Boolean = false)

  /** Host h2 is below the gate; the bridging and quoting texts all sit
    * on h0. */
  private def hosted(b: DataFrame): DataFrame = b.withColumn("host",
    when(col("text").startsWith("t01") || col("text").contains("zulu"), lit("h0"))
      .otherwise(concat(lit("h"), pmod(col("id"), lit(3)).cast("string"))))

  private def authorityGate = Pipeline.AuthorityGate(
    Seq(("h0", 10L), ("h1", 10L), ("h2", 1L)).toDF("node", "rank_fp"),
    "host", minRankFp = 5L)

  /** Three ingests of generated batches (plus the bridging documents and,
    * with eval texts, the planted quotes) into three stores under `o`: one
    * at gate 0, one at the default gates (resident after its first
    * ingest) and one at the default gates with residency at gate 0: kept,
    * retracted, audit rows and store tables equal per ingest and
    * retractions typed like the batch ids, then a batch with a null id
    * rejected on every route with the store untouched, and equal labels.
    * Returns the audit stages seen. */
  private def routesAgree(o: Options): Set[String] = {
    var stagesSeen = Set.empty[String]
    for (longIds <- Seq(true, false)) {
      val gen = sample(genBatches, if (longIds) 21L else 22L).filter(_.nonEmpty)
      val planted = if (o.eval) Seq(quoting, evalSpan) else Nil
      val batches = Seq(bridgeA +: bridgeB +: (planted.take(1) ++ gen(0)), gen(1),
        bridgeC +: (planted.drop(1) ++ gen(2)))
      // the gate of each store: 0 = Spark routes, 1 = default gates,
      // 2 = default gates with residency at gate 0
      val gates = Seq(0L, 1L, 2L)
      val stores = gates.map(_ => new Pipeline.CurationStore(spark,
        freshRoot(), "t", o.cfg,
        evalTexts = Option.when(o.eval)(Seq(s"quoted: $evalSpan").toDF("text")),
        authority = Option.when(o.authority)(authorityGate)))
      def input(b: DataFrame) = if (o.authority) hosted(b) else b
      def ingest(st: Pipeline.CurationStore, gate: Long, b: DataFrame) = gate match {
        case 0L => st.ingestGated(b, "id", "text", _ => (), o.audit, 0, 0)
        case 1L => st.ingest(b, "id", "text", withAudit = o.audit)
        case _ => st.ingestGated(b, "id", "text", _ => (), o.audit,
          MinhashStore.MaxDriverDocs, Dedup.DefaultMaxDriverEdges, maxResident = 0)
      }
      def ids(df: DataFrame) =
        df.select(col("id").cast("long")).as[Long].collect().sorted.toSeq
      val idType = if (longIds) LongType else IntegerType
      var next = 0
      var retracted = 0
      batches.foreach { texts =>
        val b = input(batch(texts, next, longIds))
        next += texts.size
        val Seq(spark0, driver, unheld) = stores.zip(gates).map { case (st, gate) =>
          val d = ingest(st, gate, b)
          assert(d.retracted.schema.map(_.dataType) === Seq(idType))
          (ids(d.kept), ids(d.retracted),
            d.audit.map(_.collect().map(_.toString).sorted.toSeq))
        }
        assert(driver === spark0, s"$o, long ids $longIds, batch from $next")
        assert(unheld === spark0, s"$o, long ids $longIds, batch from $next")
        assert(spark0._3.isDefined === o.audit)
        stagesSeen ++= spark0._3.toSeq.flatten.map(_.split(",")(1))
        val Seq(tables0, tables1, tables2) = stores.map(storeTables)
        assert(tables0.forall(_.nonEmpty) && tables1 === tables0 && tables2 === tables0,
          s"$o, long ids $longIds, batch from $next")
        retracted += spark0._2.size
      }
      assert(retracted > 0, "the bridging document retracts a kept one")
      // a null id is rejected up front on both routes, the store untouched
      val withNull = input(Seq[(Option[Long], String)]((Some(next.toLong), bridgeA),
          (None, bridgeB)).toDF("id", "text")
        .select(col("id").cast(if (longIds) "long" else "int"), col("text")))
      stores.zip(gates).foreach { case (st, gate) =>
        val e = intercept[IllegalArgumentException](ingest(st, gate, withNull))
        assert(e.getMessage.contains("1 batch rows have a null id"), e.getMessage)
        assert(st.maxIngestedId === Some(next - 1L))
      }
      val Seq(l0, l1, l2) =
        stores.map(_.readLabels.as[(Long, Long)].collect().sorted.toSeq)
      assert(l1 === l0 && l2 === l0, s"$o, long ids $longIds")
    }
    stagesSeen
  }

  test("curation store: three ingests keep, retract and store alike on both routes") {
    routesAgree(Options(curateCfg))
  }

  test("curation store with eval texts and audit: both routes agree") {
    val stages = routesAgree(Options(curateCfg.copy(maxRepetition = 0.3),
      eval = true, audit = true))
    assert(Set("decontaminate", "exact_dup", "near_dup").subsetOf(stages), stages)
  }

  test("curation store with surgical decontamination, an authority gate " +
      "and audit: both routes agree") {
    val stages = routesAgree(Options(curateCfg.copy(surgicalDecon = true),
      eval = true, audit = true, authority = true))
    assert(Set("authority", "decontaminate", "exact_dup", "near_dup")
      .subsetOf(stages), stages)
  }

  test("curation state reads infer no schema") {
    for (longIds <- Seq(true, false)) {
      val store = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
      store.ingest(batch(Seq(bridgeA, bridgeB), 0, longIds), "id", "text")
      val d = store.ingest(batch(Seq(bridgeC), 2, longIds), "id", "text")
      assert(d.retracted.schema.map(_.dataType) ===
        Seq(if (longIds) LongType else IntegerType))
      assert(d.retracted.select(col("id").cast("long")).as[Long].collect().toSeq ===
        Seq(1L))
      val (labels, ran) = Jobs.during(spark)(store.readLabels)
      assert(ran.jobs.isEmpty, ran.jobs.mkString("\n---\n"))
      assert(labels.as[(Long, Long)].collect().sorted.toSeq ===
        Seq((0L, 0L), (1L, 0L), (2L, 0L)))
    }
  }

  /** The jobs of a warm small delta (after a bulk ingest and one delta):
    * near-dups of stored documents (dropped, not retracting), copies and
    * two documents of new words. With `retract` the bulk also holds the
    * bridged pair and the measured delta the bridging document, which
    * retracts the pair's kept higher id. `afterBulk` gives the instance
    * that takes both deltas, from the one that took the bulk. */
  private def warmDelta(store: Pipeline.CurationStore, retract: Boolean = false,
                        afterBulk: Pipeline.CurationStore => Pipeline.CurationStore =
                          identity): Jobs = {
    val gen = sample(genBatches, 5L).flatten
    val texts = gen ++ (if (retract) Seq(bridgeA, bridgeB) else Nil)
    store.ingest(batch(texts, 0, longIds = true), "id", "text")
    def delta(from: Int, word: String, extra: Seq[String] = Nil) =
      batch(texts.take(6).map(_ + s" $word") ++ texts.slice(6, 9) ++
        Seq(1, 2).map(k => (0 until 8).map(j => s"$word$k$j").mkString(" ")) ++ extra,
        from, longIds = true)
    val warm = afterBulk(store)
    warm.ingest(delta(texts.size, "hotel"), "id", "text")
    val (d, ran) = Jobs.during(spark)(warm.ingest(delta(texts.size + 11, "india",
      if (retract) Seq(bridgeC) else Nil), "id", "text"))
    val kept = d.kept.select("id").as[Long].collect()
    assert(kept.length >= 2 && kept.length < 11)
    assert(d.retracted.as[Long].collect().toSeq ===
      (if (retract) Seq(gen.size + 1L) else Nil))
    ran
  }

  // the four state writes: the batch is a local relation, so its collect
  // starts no job (a parquet batch adds one), and the exact, signature,
  // set and labels rows come from the store's resident state
  test("a warm small curation delta with no retraction runs 4 jobs") {
    val ran = warmDelta(new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg))
    assert(ran.jobs.size === 4, ran.jobs.mkString("\n---\n"))
  }

  test("a warm small curation delta with eval texts runs 4 jobs") {
    val ran = warmDelta(new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg,
      evalTexts = Some(Seq(s"quoted: $evalSpan").toDF("text"))))
    assert(ran.jobs.size === 4, ran.jobs.mkString("\n---\n"))
  }

  // the retractions come from the labels the delta already holds
  test("a warm small curation delta that retracts runs 4 jobs") {
    val ran = warmDelta(new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg),
      retract = true)
    assert(ran.jobs.size === 4, ran.jobs.mkString("\n---\n"))
  }

  // a compaction rewrites the rows unchanged, so the state it found
  // holds at the epoch it commits
  test("a warm small curation delta after a compaction runs 4 jobs") {
    val ran = warmDelta(new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg),
      afterBulk = st => { st.compact(); st })
    assert(ran.jobs.size === 4, ran.jobs.mkString("\n---\n"))
  }

  // an instance opened on a store it did not fill holds no state and
  // loads none: each delta also reads the exact, signature, set and
  // labels rows it touches
  test("small curation deltas of an instance opened on a filled store run 8 jobs") {
    val ran = warmDelta(new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg),
      afterBulk = st => new Pipeline.CurationStore(spark, st.storeRoot, "t", curateCfg))
    assert(ran.jobs.size === 8, ran.jobs.mkString("\n---\n"))
  }

  /** Observed results of `st`'s ingest of `b` — kept, retracted, audit,
    * the three tables and the labels — and those of a fresh instance's
    * ingest of `b` into a copy of the root as it was before. */
  private def againstFresh(st: Pipeline.CurationStore, b: DataFrame,
                           ingest: (Pipeline.CurationStore, DataFrame) => Pipeline.CurateDelta)
      : (Seq[Seq[String]], Seq[Seq[String]]) = {
    val copy = freshRoot()
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(st.storeRoot),
      new java.io.File(copy))
    def observed(s: Pipeline.CurationStore) = {
      val d = ingest(s, b)
      Seq(d.kept, d.retracted, d.audit.get).map(_.collect().map(_.toString).sorted.toSeq) ++
        storeTables(s) :+ s.readLabels.collect().map(_.toString).sorted.toSeq
    }
    (observed(st), observed(new Pipeline.CurationStore(spark, copy, "t", curateCfg)))
  }

  /** Four batches: the first holds A and B, the third the document that
    * bridges them, the others generated documents and copies. */
  private def residentBatches: Seq[DataFrame] = {
    val gen = sample(genBatches, 23L).filter(_.nonEmpty)
    val texts = Seq(bridgeA +: bridgeB +: gen(0), gen(1), bridgeC +: gen(2),
      gen(0).take(3) ++ gen(1).take(3))
    texts.scanLeft(0)(_ + _.size).zip(texts).map { case (from, t) =>
      batch(t, from, longIds = true) }
  }

  test("resident state: another instance's ingest in between, an over-bound " +
      "store and a compaction each equal a fresh instance") {
    def audited(st: Pipeline.CurationStore, b: DataFrame) =
      st.ingest(b, "id", "text", withAudit = true)
    val Seq(b1, b2, b3, b4) = residentBatches
    // another instance commits between two ingests of this one
    val held = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
    audited(held, b1)
    audited(new Pipeline.CurationStore(spark, held.storeRoot, "t", curateCfg), b2)
    val (afterOther, fresh1) = againstFresh(held, b3, audited)
    assert(afterOther === fresh1)
    assert(afterOther(1).nonEmpty, "the bridging document retracts a kept one")
    val (warm, fresh4) = againstFresh(held, b4, audited)
    assert(warm === fresh4)
    // a bound the store outgrows: its ingests read the tables as before
    val tight = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
    def bounded(st: Pipeline.CurationStore, b: DataFrame) =
      st.ingestGated(b, "id", "text", _ => (), true, MinhashStore.MaxDriverDocs,
        Dedup.DefaultMaxDriverEdges, maxResident = 40)
    Seq(b1, b2).foreach(bounded(tight, _))
    val (overBound, fresh2) = againstFresh(tight, b3, bounded)
    assert(overBound === fresh2)
    // a compaction between two ingests
    val compacted = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
    Seq(b1, b2).foreach(audited(compacted, _))
    compacted.compact()
    val (afterCompact, fresh3) = againstFresh(compacted, b3, audited)
    assert(afterCompact === fresh3)
    assert(afterCompact === afterOther && afterOther(3).nonEmpty,
      "the same batches, the same results")
    val (warmAgain, fresh5) = againstFresh(compacted, b4, audited)
    assert(warmAgain === fresh5)
  }

  test("preFilter over a local relation starts no job and matches a parquet copy") {
    val texts = sample(genBatches, 7L).flatten ++ Seq(quoting, evalSpan,
      "call 555-123-4567 or mail a@b.example about kilo lima echo golf hotel",
      Seq.fill(6)("echo golf").mkString(" "))
    val local = batch(texts, 0, longIds = true)
    val path = s"${freshRoot()}/docs"
    local.write.parquet(path)
    val parquet = spark.read.parquet(path)
    val cfg = Pipeline.CurateConfig(minQuality = 0.1, maxRepetition = 0.3)
    val eval = Seq(s"quoted: $evalSpan").toDF("text")
    val grams = Decontamination.evalGramSet(eval, "text", cfg.deconN)
    def rows(pf: Pipeline.PreFiltered) = Seq(pf.decon, pf.scored, pf.deconDropped)
      .map(_.collect().map(_.toString).sorted.toSeq)
    val (onDriver, ran) = Jobs.during(spark)(rows(Pipeline.preFilter(local, "id",
      "text", Some(eval), "text", cfg, _.localCheckpoint(true), stageForAudit = true,
      evalGrams = Some(() => grams))))
    assert(ran.jobs.isEmpty, ran.jobs.mkString("\n---\n"))
    val viaSpark = rows(Pipeline.preFilter(parquet, "id", "text", Some(eval), "text",
      cfg, _.localCheckpoint(true), stageForAudit = true))
    assert(onDriver === viaSpark)
    // every arm holds rows: survivors, filtered documents, both planted quotes
    assert(viaSpark(0).nonEmpty && viaSpark(1).size > viaSpark(0).size + 2 &&
      viaSpark(2).size === 2)
  }

  test("a small delta's near-dup algebra runs in at most 3 + 2 jobs, no shuffle") {
    val cfg = mhCfg.copy(maxBucket = 1000)
    val store = new MinhashStore(new Warehouse(spark, freshRoot()), "t", cfg)
    val texts = sample(genBatches, 5L).flatten
    store.ingest(batch(texts, 0, longIds = true), "id", "text")
    val delta = batch(texts.take(6).map(_ + " hotel"), texts.size, longIds = true)
    // the combined stage, the touched-bucket read and the old-set read
    val ((pairs, _), mh) = Jobs.during(spark)(store.ingestParts(delta, "id", "text"))
    assert(mh.jobs.size <= 3, mh.jobs.mkString("\n---\n"))
    assert(pairs.count() > 0, "the delta near-dups stored documents")
    // the labels read and the pairs read (none for a local relation)
    val root = freshRoot()
    Dedup.connectedComponents(Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"),
      "id_a", "id_b").write.parquet(s"$root/labels")
    val prev = spark.read.schema("id bigint, comp bigint").parquet(s"$root/labels")
    val fresh = Seq((2L, 3L), (5L, 6L)).toDF("id_a", "id_b").localCheckpoint(true)
    val (labels, cc) = Jobs.during(spark)(
      Dedup.connectedComponentsIncremental(prev, fresh, "id_a", "id_b"))
    assert(cc.jobs.size <= 2 && cc.shuffleStages === 0, cc.jobs.mkString("\n---\n"))
    assert(labels.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }
}

object SmallDeltaSpec {
  /** One generated document: a fresh text, a copy or a one-token mutation
    * of an earlier one (so later batches share buckets with the store),
    * or a text with no tokens. */
  private sealed trait Doc
  private final case class Fresh(text: String) extends Doc
  private final case class Copy(of: Int) extends Doc
  private final case class Mutate(of: Int, at: Int, word: String) extends Doc
}
