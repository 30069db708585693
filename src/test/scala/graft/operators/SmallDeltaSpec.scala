package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
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
    * MinHash signatures, MinHash sets), each sorted. */
  private def storeTables(st: Pipeline.CurationStore): Seq[Seq[String]] = {
    val wh = new Warehouse(spark, st.storeRoot)
    Seq("t_cur_exact", "t_cur_mh_sig", "t_cur_mh_set").map(t =>
      if (wh.exists(t)) wh.readBucketed(t).collect().map(_.toString).toSeq.sorted
      else Nil)
  }

  test("curation store: three ingests keep, retract and store alike on both routes") {
    for (longIds <- Seq(true, false)) {
      val gen = sample(genBatches, if (longIds) 21L else 22L).filter(_.nonEmpty)
      val batches = Seq(bridgeA +: bridgeB +: gen(0), gen(1), bridgeC +: gen(2))
      val stores = Seq(0L, 1L).map(_ => new Pipeline.CurationStore(spark,
        freshRoot(), "t", curateCfg))
      def ingest(st: Pipeline.CurationStore, gate: Long, b: DataFrame) =
        if (gate == 0) st.ingestGated(b, "id", "text", _ => (), false, 0, 0)
        else st.ingest(b, "id", "text")
      var next = 0
      var retracted = 0
      batches.foreach { texts =>
        val b = batch(texts, next, longIds)
        next += texts.size
        val Seq(spark0, driver) = stores.zip(Seq(0L, 1L)).map { case (st, gate) =>
          val d = ingest(st, gate, b)
          (d.kept.select(col("id").cast("long")).as[Long].collect().sorted.toSeq,
            d.retracted.select(col("id").cast("long")).as[Long].collect().sorted.toSeq)
        }
        assert(driver === spark0, s"long ids $longIds, batch from $next")
        val Seq(tables0, tables1) = stores.map(storeTables)
        assert(tables0.forall(_.nonEmpty) && tables1 === tables0,
          s"long ids $longIds, batch from $next")
        retracted += spark0._2.size
      }
      assert(retracted > 0, "the bridging document retracts a kept one")
      // a null id is rejected up front on both routes, the store untouched
      val withNull = Seq[(Option[Long], String)]((Some(next.toLong), bridgeA),
        (None, bridgeB)).toDF("id", "text")
        .select(col("id").cast(if (longIds) "long" else "int"), col("text"))
      stores.zip(Seq(0L, 1L)).foreach { case (st, gate) =>
        val e = intercept[IllegalArgumentException](ingest(st, gate, withNull))
        assert(e.getMessage.contains("1 batch rows have a null id"), e.getMessage)
        assert(st.maxIngestedId === Some(next - 1L))
      }
      val idField = StructField("id", if (longIds) LongType else IntegerType)
      val Seq(s0, s1) = stores.map { st =>
        val (labels, survivors) = st.readState(idField)
        (labels.as[(Long, Long)].collect().sorted.toSeq,
          survivors.select(col("id").cast("long")).as[Long].collect().sorted.toSeq)
      }
      assert(s1 === s0, s"long ids $longIds")
    }
  }

  test("curation state reads infer no schema") {
    for (longIds <- Seq(true, false)) {
      val store = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
      store.ingest(batch(Seq(bridgeA, bridgeB, bridgeC), 0, longIds), "id", "text")
      val idField = StructField("id", if (longIds) LongType else IntegerType)
      val ((labels, survivors), ran) = Jobs.during(spark)(store.readState(idField))
      assert(ran.jobs.isEmpty, ran.jobs.mkString("\n---\n"))
      assert(labels.as[(Long, Long)].collect().sorted.toSeq ===
        Seq((0L, 0L), (1L, 0L), (2L, 0L)))
      assert(survivors.schema.head.dataType === idField.dataType)
      assert(survivors.select(col("id").cast("long")).as[Long].collect().sorted.toSeq ===
        Seq(0L, 1L, 2L))
    }
  }

  test("a warm small curation delta with no retraction runs 14 jobs") {
    val store = new Pipeline.CurationStore(spark, freshRoot(), "t", curateCfg)
    val texts = sample(genBatches, 5L).flatten
    store.ingest(batch(texts, 0, longIds = true), "id", "text")
    // near-dups of stored documents (dropped, not retracting), copies
    // and two documents of new words
    def delta(from: Int, word: String) = batch(texts.take(6).map(_ + s" $word") ++
      texts.slice(6, 9) ++ Seq(1, 2).map(k => (0 until 8).map(j => s"$word$k$j").mkString(" ")),
      from, longIds = true)
    store.ingest(delta(texts.size, "hotel"), "id", "text")
    val (d, ran) = Jobs.during(spark)(
      store.ingest(delta(texts.size + 11, "india"), "id", "text"))
    val kept = d.kept.select("id").as[Long].collect()
    assert(kept.length >= 2 && kept.length < 11 && d.retracted.isEmpty)
    assert(ran.jobs.size === 14, ran.jobs.mkString("\n---\n"))
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
