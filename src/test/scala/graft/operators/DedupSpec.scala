package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different words entirely here now"),
    (5L, "")                                               // empty doc
  ).toDF("id", "text")

  test("exact keeps the min-id row per value") {
    val out = Dedup.exact(docs, "id", "text").select("id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("exact with verify=true agrees") {
    val out = Dedup.exact(docs, "id", "text", verify = true)
      .select("id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("exactGroups emits only dup groups with sorted members") {
    val out = Dedup.exactGroups(docs, "id", "text").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Seq[Long]]("members") === Seq(1L, 2L))
  }

  test("ngramJaccardPairs finds the exact and near dup, hand-checked value") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3,
        threshold = 0.1, maxDocFreq = 100)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 2L)), "exact dup pair")
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)), "near dup pair")
    // doc1 has 7 shingles, doc3 has 7; shared-vocab semantics drop df=1
    // shingles, so doc3's two "sleepy" tail shingles vanish → sizes 7 & 5,
    // common 5 → 5/(7+5-5) = 5/7
    assert(math.abs(pairs((1L, 3L)) - 5.0 / 7.0) < 1e-12)
  }

  test("empty docs never pair (no phantom Jaccard-1.0)") {
    val twoEmpty = Seq((1L, ""), (2L, ""), (3L, "real text here")).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(twoEmpty, "id", "text", 3, 0.01, 100)
    assert(pairs.count() === 0)
  }

  test("containment catches the swallowed doc that Jaccard misses") {
    val quote = "to be or not to be that is the question"
    val article = "the article begins with its own framing words here " +
      s"and then quotes $quote before closing with more of its own " +
      "commentary on the matter at hand for several further clauses"
    // doc 4 shares doc 1's framing (so those shingles survive the df
    // cap and Jaccard sees doc 1's true breadth) but not the quote
    val sibling = "the article begins with its own framing words here " +
      "and then wanders into other affairs entirely as its paragraphs " +
      "continue on their separate course"
    val corpus = Seq((1L, article), (2L, quote), (4L, sibling),
      (3L, "entirely unrelated content about something else altogether"))
      .toDF("id", "text")
    val cont = Dedup.ngramContainmentPairs(corpus, "id", "text", n = 3,
        threshold = 0.9, maxDocFreq = 100)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.length === 1)
    val (a, b, ca, cb) = cont.head
    // doc 2's shingles all appear in doc 1 → containment of 2-in-1 = 1.0
    assert((a, b) === (1L, 2L) && cb === 1.0 && ca < 0.5)
    // ...while symmetric Jaccard at the same bar sees nothing
    assert(Dedup.ngramJaccardPairs(corpus, "id", "text", 3, 0.9, 100)
      .count() === 0)
  }

  test("portable minhash pairs recover dups with exact-jaccard verification") {
    val pairs = Dedup.minhashPortablePairs(docs, "id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 1, threshold = 0.5, seed = 7L)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    pairs.get((1L, 3L)).foreach(j => assert(math.abs(j - 5.0 / 9.0) < 1e-12))
  }

  test("script-aware tokens let CJK near-dups pair; whitespace tokens cannot") {
    // two Chinese documents differing in ONE character — a textbook
    // near-dup pair no whitespace tokenizer can see (each doc is a
    // single token, a single shingle, Jaccard 0)
    val cjk = Seq(
      (1L, "機器學習是人工智能的一個分支領域它研究算法如何從數據中自動學習規律"),
      (2L, "機器學習是人工智能的一個分支領域它研究算法如何從資料中自動學習規律")
    ).toDF("id", "text")
    val blind = Dedup.minhashPortablePairs(cjk, "id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 1, threshold = 0.5, seed = 7L)
    assert(blind.count() === 0, "whitespace tokenization is blind to CJK near-dups")
    spark.conf.set(graft.functions.TextFunctions.ScriptAwareTokensKey, "true")
    try {
      val pairs = Dedup.minhashPortablePairs(cjk, "id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 1, threshold = 0.5, seed = 7L)
        .as[(Long, Long, Double)].collect()
      assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)),
        "per-codepoint tokens make the pair visible")
      assert(pairs.head._3 > 0.5 && pairs.head._3 < 1.0,
        s"exact char-trigram Jaccard, got ${pairs.head._3}")
    } finally
      spark.conf.set(graft.functions.TextFunctions.ScriptAwareTokensKey, "false")
  }

  test("portable simhash: identical docs distance 0, empty docs excluded") {
    val out = Dedup.simhashPortablePairs(docs, "id", "text", maxDist = 3, seed = 7L)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(out((1L, 2L)) === 0L)
    assert(!out.keys.exists(k => k._1 == 5L || k._2 == 5L),
      "empty doc must not appear in any pair")
  }

  test("portable simhash chunk geometry: wider chunks still pair exacts") {
    // identical docs hash equal under ANY signature width — the 15-bit
    // variant (the ≥1M-corpus bucket sizing) must still find them
    val out = Dedup.simhashPortablePairs(docs, "id", "text", maxDist = 3,
        seed = 7L, chunks = 4, chunkBits = 15)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(out((1L, 2L)) === 0L)
    intercept[IllegalArgumentException] {  // 4×16 = 64 bits > 63
      Dedup.simhashPortablePairs(docs, "id", "text", chunks = 4, chunkBits = 16)
    }
    intercept[IllegalArgumentException] {  // pigeonhole needs maxDist < chunks
      Dedup.simhashPortablePairs(docs, "id", "text", maxDist = 4, chunks = 4)
    }
  }

  test("legacy pair generators drop over-cap hot buckets") {
    // 6 identical docs share EVERY band/chunk bucket — a cap below the
    // group size must drop the bucket entirely (no quadratic blow-up),
    // and a cap at the group size must let all C(6,2)=15 pairs through
    val clones = Seq.tabulate(6)(i =>
      (i.toLong, "same exact text for every clone here")).toDF("id", "text")
    assert(Dedup.minhashPortablePairs(clones, "id", "text",
      shingleN = 3, bands = 4, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 5).count() === 0)
    assert(Dedup.simhashPortablePairs(clones, "id", "text",
      maxDist = 3, maxBucket = 5).count() === 0)
    assert(Dedup.minhashPortablePairs(clones, "id", "text",
      shingleN = 3, bands = 4, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 6).count() === 15)
    assert(Dedup.simhashPortablePairs(clones, "id", "text",
      maxDist = 3, maxBucket = 6).count() === 15)
  }

  test("contaminatedIds flags docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "the quick brown fox jumps high")).toDF("id", "text")
    // doc 1/2/3 share "the quick brown fox jumps" (5-gram) with the eval
    // set; doc 4 shares nothing; doc 5 is empty; a 4-token doc can never
    // contribute a 5-gram
    val corpus = docs.union(Seq((6L, "too short for grams")).toDF("id", "text"))
    val out = Decontamination.contaminatedIds(corpus, "id", "text",
        evalSet, "text", n = 5)
      .as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 3L))
  }

  test("connectedComponents: paths, cycles, isolated pairs converge to min id") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L),                       // path 1-2-3
      (10L, 11L),                               // isolated pair
      (20L, 21L), (21L, 22L), (22L, 20L),       // cycle
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)  // longer path
    ).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L))
  }

  test("connectedComponents: a 60-node chain converges (pointer jumping)") {
    // plain one-hop propagation would need 59 rounds; pointer jumping
    // must land this inside maxIter = 8
    val chain = (100L until 159L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 8)
      .as[(Long, Long)].collect().toMap
    assert(out.size === 60 && out.values.forall(_ === 100L))
  }

  test("connectedComponents rejects non-integral id columns") {
    val stringIds = Seq(("a", "b")).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(stringIds, "id_a", "id_b")
    }
  }

  test("connectedComponents matches a union-find oracle on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // driver-side union-find as the executable spec
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = ids.map(i => i -> find(i)).toMap
        val actual = Dedup.connectedComponents(
            edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
        assert(actual === expected, s"trial $trial, n=$n, edges=${edges.size}")
      }
    }
  }

  test("connectedComponents: distributed fold ≡ driver union-find route") {
    // maxDriverEdges = 0 forces the distributed rounds; the default
    // routes these tiny graphs through the driver union-find — the two
    // must agree bit-for-bit, including the self-edge star encoding the
    // incremental fold feeds in (singleton (id, id) rows must survive)
    val graphs = Seq(
      Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
        (22L, 20L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)),
      (100L until 159L).map(i => (i, i + 1)),          // 60-node chain
      Seq((5L, 5L), (7L, 7L), (7L, 8L)),               // self-edge stars
      { val rnd = new scala.util.Random(7)
        (1 to 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) }
    )
    for ((edges, i) <- graphs.zipWithIndex) {
      val df = edges.toDF("id_a", "id_b")
      val driver = Dedup.connectedComponents(df, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.connectedComponents(df, "id_a", "id_b",
          maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(driver === dist, s"graph $i")
    }
  }

  test("duplicateSpans: hand-checked interior shared passage, both docs") {
    // 8-token passage s1..s8 shared at different offsets; k=3 covers the
    // 6 gram-start positions fully inside it, so the merged span is
    // 6 + (3-1) = 8 tokens at [3,10] in doc 1 and [2,9] in doc 2
    val d = Seq(
      (1L, "a1 a2 a3 s1 s2 s3 s4 s5 s6 s7 s8 b1 b2"),
      (2L, "c1 c2 s1 s2 s3 s4 s5 s6 s7 s8 d1")
    ).toDF("id", "text")
    val out = Dedup.duplicateSpans(d, "id", "text", k = 3, minSpan = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 3L, 10L, 8L), (2L, 2L, 9L, 8L)))
    // one token longer than the shared passage → filtered out
    assert(Dedup.duplicateSpans(d, "id", "text", k = 3, minSpan = 9).count() === 0)
  }

  test("duplicateSpans: within-doc repetition covers both occurrences") {
    val d = Seq((1L, "x1 x2 x3 y x1 x2 x3")).toDF("id", "text")
    val out = Dedup.duplicateSpans(d, "id", "text", k = 3, minSpan = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 0L, 2L, 3L), (1L, 4L, 6L, 3L)))
  }

  test("exciseSpans removes exactly the spanned tokens, keeps span-free docs") {
    val d = Seq(
      // mixed case OUTSIDE the span: matching runs on lowercased tokens,
      // but the kept remainder must come back with its case intact
      (1L, "A1 a2 A3 s1 s2 s3 s4 s5 s6 s7 s8 B1 b2"),
      (2L, "c1 c2 s1 s2 s3 s4 s5 s6 s7 s8 d1"),
      (3L, "untouched  text\tstays   put"), // irregular whitespace
      (4L, "")
    ).toDF("id", "text")
    val spans = Dedup.duplicateSpans(d, "id", "text", k = 3, minSpan = 8)
    val out = Dedup.exciseSpans(d, "id", "text", spans)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ("A1 a2 A3 B1 b2", 8L))
    assert(out(2L) === ("c1 c2 d1", 8L))
    // span-free docs keep their BYTES — no whitespace renormalization
    assert(out(3L) === ("untouched  text\tstays   put", 0L))
    assert(out(4L) === ("", 0L))
    // a fully-covered doc keeps its (empty-text) row rather than vanishing
    val twins = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4")).toDF("id", "text")
    val wiped = Dedup.exciseSpans(twins, "id", "text",
      Dedup.duplicateSpans(twins, "id", "text", k = 3, minSpan = 4))
      .as[(Long, String, Long)].collect().toSet
    assert(wiped === Set((1L, "", 4L), (2L, "", 4L)))
  }

  test("duplicateSpans: short and empty docs yield no spans; bad params fail fast") {
    val d = Seq((1L, "one two"), (2L, ""), (3L, "one two")).toDF("id", "text")
    // docs shorter than k have no grams at all
    assert(Dedup.duplicateSpans(d, "id", "text", k = 3, minSpan = 3).count() === 0)
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(d, "id", "text", k = 5, minSpan = 3)
    }
  }

  /** The exact/uncapped reference answer, computed the quadratic way. */
  private def naiveJaccardPairs(docs: Seq[(Long, String)], n: Int,
                                t: Double): Set[(Long, Long, Double)] = {
    def shingles(s: String): Set[String] = {
      val toks = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Set.empty
      else if (toks.size < n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      inter = (sa intersect sb).size
      if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter).toDouble
      if j >= t
    } yield (ia, ib, j)).toSet
  }

  test("prefixJaccardPairs equals the exact quadratic join — full recall") {
    // near-dups, a partial overlap pair, unrelated docs, a sub-n doc
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),     // high-overlap near-dup of 1
      (3L, "a b c d q r s t"),     // partial overlap — below 0.5
      (4L, "u v w x y z u v"),
      (5L, "u v w x y z u w"),     // near-dup of 4
      (6L, "m n"),                 // shorter than n: one whole-text shingle
      (7L, "m n"),                 // exact twin of 6 → jaccard 1.0
      (8L, "totally different words here entirely"))
    val df = docs.toDF("id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = Dedup.prefixJaccardPairs(df, "id", "text", n = 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === naiveJaccardPairs(docs, 3, t), s"threshold=$t")
    }
  }

  test("setJaccardPairs: exact pairs over precomputed element sets") {
    // hand-computable sets (frame fingerprints, category sets, …)
    val rows = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 20L, 30L, 40L)),       // exact twin → 1.0
      (3L, Seq(10L, 20L, 30L, 99L)),       // 3/5 = 0.6
      (4L, Seq(10L, 20L, 20L, 30L, 99L)),  // dup element: distinct = doc 3
      (5L, Seq(77L, 88L)),                 // disjoint
      (6L, Seq.empty[Long])                // empty set: never pairs
    )
    val got = Dedup.setJaccardPairs(rows.toDF("id", "fset"), "id", "fset", 0.5)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(got((1L, 3L)) === 0.6 && got((2L, 3L)) === 0.6)
    assert(got((3L, 4L)) === 1.0, "per-row dup elements dedupe")
    assert(got((1L, 4L)) === 0.6 && got((2L, 4L)) === 0.6)
    assert(got.size === 6 && !got.keySet.exists(p => p._1 == 5L || p._2 == 5L
      || p._1 == 6L || p._2 == 6L))
  }

  test("prefixJaccardPairs matches ngramJaccardPairs when caps are slack") {
    // with a df cap far above every shingle's df the capped operator is
    // exact too — the two must agree (pairs whose shingles all have
    // df >= 2; singleton-shingle mass shifts the capped denominators, so
    // compare on a corpus of pure near-dup pairs)
    val docs = (1L to 20L).flatMap(i => Seq(
      (i * 2, s"w$i x$i y$i z$i q$i r$i"),
      (i * 2 + 1, s"w$i x$i y$i z$i q$i s$i")))
    val df = docs.toDF("id", "text")
    val a = Dedup.prefixJaccardPairs(df, "id", "text", 3, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = Dedup.ngramJaccardPairs(df, "id", "text", 3, 0.4,
        maxDocFreq = 100000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("lshPlan: budget respected, computed picks, threshold and " +
      "fpWeight move the curve the right way") {
    // hand-checked minimizers of the S-curve error integral
    assert(Dedup.lshPlan(0.5, 16) === ((5, 3)))
    assert(Dedup.lshPlan(0.5, 128) === ((25, 5)))
    assert(Dedup.lshPlan(0.8, 128) === ((9, 13)))
    assert(Dedup.lshPlan(0.3, 128) === ((37, 3)))
    // a costlier false candidate trades toward longer bands (higher r)
    assert(Dedup.lshPlan(0.5, 16, fpWeight = 5.0) === ((3, 5)))
    // properties across a sweep: budget respected; the planned curve's
    // 50%-collision point tracks the requested threshold
    for (t <- Seq(0.2, 0.4, 0.6, 0.8); mx <- Seq(8, 32, 256)) {
      val (b, r) = Dedup.lshPlan(t, mx)
      assert(b >= 1 && r >= 1 && b * r <= mx, s"budget: ($b,$r) at $mx")
      val mid = math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)
      assert(math.abs(mid - t) < 0.25,
        s"50%-collision point $mid far from threshold $t at ($b,$r)")
    }
    // guards
    intercept[IllegalArgumentException](Dedup.lshPlan(0.0, 16))
    intercept[IllegalArgumentException](Dedup.lshPlan(0.5, 1))
  }
}
