package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Link-graph operators: degree profiles and the deterministic
  * fixed-point PageRank (exact-integer update rule — the library-wide
  * bit-reproducibility discipline). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // a -> b (x2, parallel), a -> c, b -> c; d is isolated-but-linked: c -> d
  private def edges = Seq(
    (1L, 2L, 3L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 4L), (3L, 4L, 5L))
    .toDF("src", "dst", "w")

  test("degrees: parallel edges count individually, weights sum, missing sides zero") {
    val d = Graph.degrees(edges, "src", "dst", Some("w"))
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(d === Array(
      (1L, 3L, 0L, 6L, 0L),  // three out-edges (parallel pair counts twice)
      (2L, 1L, 2L, 4L, 4L),
      (3L, 1L, 2L, 5L, 6L),
      (4L, 0L, 1L, 0L, 5L)))
  }

  test("pageRank: mass bounded by scale, dangling node holds base + dshare") {
    val scale = 1L << 20
    val r = Graph.pageRank(edges, "src", "dst", iters = 4, Some("w"),
      scale = scale)
    val rows = r.orderBy("node").collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total <= scale, s"floor division only leaks mass: $total")
    // node 4 is the only dangling node and the only sink past 3 — it
    // must out-rank node 1 (pure source: teleport share only)
    val byNode = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byNode(4L) > byNode(1L))
    // the float rank is exactly rank_fp / scale (power-of-two division)
    rows.foreach { x =>
      assert(x.getDouble(2) === x.getLong(1).toDouble / scale.toDouble)
    }
  }

  test("pageRank is bit-identical across input partitionings") {
    val a = Graph.pageRank(edges.repartition(7), "src", "dst", 3, Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.pageRank(edges.coalesce(1), "src", "dst", 3, Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("pageRank: parallel edges collapse by weight sum (pre-collapsed input is identical)") {
    val collapsed = edges.groupBy("src", "dst")
      .agg(sum(col("w")).as("w"))
    val a = Graph.pageRank(edges, "src", "dst", 3, Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.pageRank(collapsed, "src", "dst", 3, Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("pageRank guards: negative weights, too-small scale, bad damping all fail fast") {
    intercept[Exception] {
      Graph.pageRank(Seq((1L, 2L, -1L)).toDF("src", "dst", "w"),
        "src", "dst", 1, Some("w")).collect()
    }
    // n > scale would floor initR to 0 and silently zero every rank
    val e = intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", 1, Some("w"), scale = 2L)
    }
    assert(e.getMessage.contains("exceeds fixed-point scale"))
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", 1, Some("w"),
        dampNum = 101L, dampDen = 100L)
    }
  }

  test("pageRank warm start: k cold + j warm iterations ≡ k+j cold ones " +
      "(bit-identical on an unchanged graph)") {
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cold5 = ranksOf(Graph.pageRank(edges, "src", "dst", 5, Some("w")))
    val state3 = Graph.pageRank(edges, "src", "dst", 3, Some("w"))
      .select("node", "rank_fp").localCheckpoint(true)
    val warm2 = ranksOf(Graph.pageRank(edges, "src", "dst", 2, Some("w"),
      prior = Some(state3)))
    assert(warm2.sameElements(cold5),
      "warm continuation must be bit-identical to the longer cold run")
    // a GROWN graph: new nodes start uniform, prior nodes keep their
    // rank — the exact fixed-iteration run from that start (here just
    // pinned deterministic + mass-bounded; convergence is the probe's)
    val grown = edges.union(Seq((4L, 5L, 2L)).toDF("src", "dst", "w"))
    val warmGrown = Graph.pageRank(grown, "src", "dst", 2, Some("w"),
      prior = Some(state3))
    val again = Graph.pageRank(grown, "src", "dst", 2, Some("w"),
      prior = Some(state3))
    assert(ranksOf(warmGrown).sameElements(ranksOf(again)))
    assert(warmGrown.count() === 5)
    // an out-of-range prior fails fast (must come from the same scale)
    intercept[Exception] {
      Graph.pageRank(edges, "src", "dst", 1, Some("w"),
        prior = Some(Seq((1L, -5L)).toDF("node", "rank_fp"))).collect()
    }
  }

  test("pageRank + connectedComponents reliable-checkpoint path is " +
      "result-identical to the localCheckpoint default") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    val a = Graph.pageRank(edges, "src", "dst", 3, Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.pageRank(edges, "src", "dst", 3, Some("w"),
        checkpointDir = Some(dir))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    // the reliable path actually wrote checkpoint files under the dir
    def files(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.map(files).sum
      else 1
    assert(files(new java.io.File(dir)) > 0,
      "reliable path must persist round checkpoints to the dir")
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val cc1 = Dedup.connectedComponents(pairs, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cc2 = Dedup.connectedComponents(pairs, "a", "b",
        checkpointDir = Some(dir))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc1.sameElements(cc2))
  }

  test("EdgeStore: batched appends serve degrees/pageRank identical to " +
      "the one-shot operators on the union; compact preserves both") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_eg_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 4))
    // split so one (src,dst) pair STRADDLES the batches — the
    // cross-append collapse has to merge it
    store.ingest(edges.limit(3), "src", "dst")
    store.ingest(edges.offset(3), "src", "dst")
    def degs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    assert(degs(store.degrees(spark)).sameElements(
      degs(Graph.degrees(edges, "src", "dst", Some("w")))))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val batch = ranks(Graph.pageRank(edges, "src", "dst", 3, Some("w")))
    assert(ranks(store.pageRank(spark, 3)).sameElements(batch))
    // compact merges cross-append duplicate rows; reads are unchanged
    store.compact()
    assert(degs(store.degrees(spark)).sameElements(
      degs(Graph.degrees(edges, "src", "dst", Some("w")))))
    assert(ranks(store.pageRank(spark, 3)).sameElements(batch))
    // warm-start maintenance through the store: 2 cold + 1 warm ≡ 3 cold
    val s2 = store.pageRank(spark, 2).select("node", "rank_fp")
      .localCheckpoint(true)
    assert(ranks(store.pageRank(spark, 1, prior = Some(s2)))
      .sameElements(batch))
    // the trustRank delegate reads the same accumulated edges
    assert(ranks(store.trustRank(spark, 3,
      Seq(1L).toDF("node"), "node")).sameElements(
      ranks(Graph.trustRank(edges, "src", "dst", 3,
        Seq(1L).toDF("node"), "node", Some("w")))))
    // the collapsed reads are exchange-free on the bucketed layout:
    // src-hash partitioning satisfies the (src, dst) clustering, so
    // the groupBy needs no shuffle — the store-side scan never
    // re-shuffles, which is the whole point of bucketing by src
    val edgesPlan = store.edges(spark).queryExecution.executedPlan.toString
    assert(!edgesPlan.contains("Exchange hashpartitioning"),
      s"collapsed edge read must not shuffle:\n$edgesPlan")
    val wtotPlan =
      store.outWeights(spark).queryExecution.executedPlan.toString
    assert(!wtotPlan.contains("Exchange hashpartitioning"),
      s"out-weight read must not shuffle:\n$wtotPlan")
    // negative weights are rejected at the WRITE
    intercept[Exception] {
      store.ingest(Seq((9L, 10L, -1L)).toDF("src", "dst", "w"),
        "src", "dst")
    }
    // ingestOnce redelivery ledger: the second delivery skips
    assert(store.ingestOnce(edges.limit(1), "src", "dst", Some("b#1")).isDefined)
    assert(store.ingestOnce(edges.limit(1), "src", "dst", Some("b#1")).isEmpty)
  }

  test("hostEdges: absolute links only, hosts normalized, self-links " +
      "dropped, parallel links collapse by count") {
    val pages = Seq(
      // two links to b (one uppercase+userinfo+port), one self-link
      // (dropped), one relative (dropped), one single-quoted c link
      (s"http://a.example/p1",
        "<a href=\"http://b.example/x\">1</a>" +
          "<a href='HTTPS://u:p@B.EXAMPLE:8443/y?q=1#f'>2</a>" +
          "<a href=\"http://a.example/self\">s</a>" +
          "<a href=\"/rel\">r</a>" +
          "<a class='k' href='http://c.example/z'>3</a>"),
      // ftp and malformed hrefs never become edges; null html tolerated
      ("https://user@A.example:80/p2",
        "<a href=\"ftp://d.example/f\">f</a><a href=>broken</a>" +
          "<a href=\"http://c.example/w\">4</a>"),
      ("not a url at all", "<a href=\"http://b.example/q\">x</a>"))
      .toDF("url", "html")
    val edges = Graph.hostEdges(pages, "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(edges === Set(
      ("a.example", "b.example", 2L),
      ("a.example", "c.example", 2L)))
    // string-keyed nodes feed pageRank/trustRank directly
    val ranks = Graph.pageRank(
      Graph.hostEdges(pages, "url", "html"), "src", "dst", 2, Some("w"))
    assert(ranks.count() === 3)
  }

  test("trustRank: trust flows only out of seeds — an unlinked spam " +
      "cluster scores zero; guards and determinism hold") {
    val seeds1 = Seq(1L).toDF("node")
    val scale = 1L << 30
    val tr = Graph.trustRank(edges, "src", "dst", 4, seeds1, "node")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all of 2,3,4 are seed-reachable; total mass bounded by scale
    assert(tr(2L) > 0 && tr(3L) > 0 && tr(4L) > 0)
    assert(tr.values.sum <= scale)
    // a disconnected "spam farm" linking only to itself gets NO trust,
    // however much internal link mass it builds — the TrustRank point
    val g2 = edges.union(Seq((10L, 11L, 9L), (11L, 10L, 9L))
      .toDF("src", "dst", "w"))
    val tr2 = Graph.trustRank(g2, "src", "dst", 4, seeds1, "node")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr2(10L) === 0L && tr2(11L) === 0L && tr2(2L) > 0)
    // a dangling SEED keeps its mass (teleport returns it): seeds={4}
    val tr4 = Graph.trustRank(edges, "src", "dst", 4,
        Seq(4L).toDF("node"), "node")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr4(4L) > 0 && tr4(1L) === 0L && tr4(2L) === 0L,
      "trust at a dangling seed must not leak to unreachable nodes")
    // seeds outside the graph are ignored; all-outside fails fast
    val trMixed = Graph.trustRank(edges, "src", "dst", 2,
      Seq(1L, 999L).toDF("node"), "node")
    assert(trMixed.count() === 4)
    intercept[IllegalArgumentException] {
      Graph.trustRank(edges, "src", "dst", 2,
        Seq(999L).toDF("node"), "node")
    }
    // bit-identical across partitionings
    def rs(df: org.apache.spark.sql.DataFrame) = df.orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rs(Graph.trustRank(edges.repartition(7), "src", "dst", 3,
      seeds1, "node")).sameElements(
      rs(Graph.trustRank(edges.coalesce(1), "src", "dst", 3,
        seeds1, "node"))))
    // warm start: 2 cold + 1 warm ≡ 3 cold (the pageRank contract)
    val t2 = Graph.trustRank(edges, "src", "dst", 2, seeds1, "node")
      .select("node", "rank_fp").localCheckpoint(true)
    assert(rs(Graph.trustRank(edges, "src", "dst", 1, seeds1, "node",
      prior = Some(t2))).sameElements(
      rs(Graph.trustRank(edges, "src", "dst", 3, seeds1, "node"))))
  }

  test("pageRank tolerance mode: stops early at exactly a fixed-iteration " +
      "state; EdgeStore rank maintenance warm-starts from stored ranks") {
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    // a huge tol stops after ONE iteration — and the result is exactly
    // the 1-iteration fixed run (tol changes WHEN to stop, never a bit
    // of the arithmetic)
    val one = ranksOf(Graph.pageRank(edges, "src", "dst", iters = 50,
      Some("w"), tol = Some(Long.MaxValue)))
    assert(one.sameElements(ranksOf(
      Graph.pageRank(edges, "src", "dst", 1, Some("w")))))
    // tol = 0 runs to the exact fixed point within the cap: one more
    // iteration from there changes nothing
    val fixed = Graph.pageRank(edges, "src", "dst", iters = 200,
      Some("w"), tol = Some(0L)).select("node", "rank_fp")
      .localCheckpoint(true)
    assert(ranksOf(Graph.pageRank(edges, "src", "dst", 1, Some("w"),
      prior = Some(fixed))).sameElements(ranksOf(fixed.withColumn(
      "rank", col("rank_fp")))))

    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_egm_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    store.ingest(edges, "src", "dst")
    assert(store.storedRanks(spark).isEmpty, "no ranks before maintain")
    // 2 maintained + 1 maintained ≡ 3 cold (unchanged store)
    store.pageRankMaintain(spark, iters = 2)
    val m2 = ranksOf(store.pageRankMaintain(spark, iters = 1))
    assert(m2.sameElements(ranksOf(store.pageRank(spark, 3))))
    // the stored table serves the same state back
    assert(ranksOf(store.storedRanks(spark).get
      .withColumn("rank", col("rank_fp"))).sameElements(m2))
  }

  test("EdgeStore compact: crash mid-compact leaves the store intact; " +
      "completed compact merges cross-append rows") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_egc_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    store.ingest(edges, "src", "dst")
    store.ingest(edges, "src", "dst") // same keys again — must merge
    def degs() = store.degrees(spark).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val before = degs()
    graft.sources.StoreTxn.leaseTtlMs = 250L
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try intercept[graft.sources.StoreTxn.SimulatedCrash] {
      store.compact()
    } finally graft.sources.StoreTxn.hooks.reset()
    Thread.sleep(400)
    try {
      assert(degs() === before, "crashed compact must not change reads")
      store.compact()
      assert(degs() === before, "compaction preserves the read results")
      // the merging transform actually collapsed the duplicate rows
      val files = Option(new java.io.File(s"${wh.root}/warehouse")
          .listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.contains("eg_edge"))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"one 2-bucket generation after compact: $files")
      assert(store.edges(spark).count() ===
        edges.select("src", "dst").distinct().count())
    } finally graft.sources.StoreTxn.leaseTtlMs = 60000L
  }

  test("anchorTexts/anchorTerms: markup stripped, empty anchors kept " +
      "as '', relative links skipped, self-host terms dropped") {
    import graft.functions.HtmlFunctions
    val html = """<html><body>
      |<a href="http://B.example/x">Deep <b>Learning</b>  guide</a>
      |<a href='http://c.example/y'><img src="i.png"/></a>
      |<a href="/relative">nope</a>
      |<a href="http://a.example/self">self nav</a>
      |</body></html>""".stripMargin
    val pairs = Seq(html).toDF("html")
      .select(explode(HtmlFunctions.anchorTexts(col("html"))).as("a"))
      .select(col("a.href"), col("a.text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs === Array(
      ("http://B.example/x", "Deep Learning guide"), // markup + ws fold
      ("http://c.example/y", ""),                    // image-only anchor
      ("http://a.example/self", "self nav")))        // relative skipped
    val terms = Graph.anchorTerms(
      Seq(("http://a.example/p", html)).toDF("url", "html"),
      "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // self-host anchor dropped; empty-text anchor contributes no terms
    assert(terms === Set(
      ("b.example", "deep", 1L), ("b.example", "learning", 1L),
      ("b.example", "guide", 1L)))
  }

  test("registrableDomain: subdomains collapse, cc-SLD suffixes take " +
      "three labels, IPs and single labels pass through") {
    import graft.functions.HtmlFunctions
    val cases = Seq(
      "www.news.example.com" -> "example.com",
      "m.example.com" -> "example.com",
      "example.com" -> "example.com",
      "a.b.site.co.uk" -> "site.co.uk",
      "site.co.uk" -> "site.co.uk",
      "shop.example.com.au" -> "example.com.au",
      "10.0.0.7" -> "10.0.0.7",   // IPv4 literal untouched
      "intranet" -> "intranet",   // single label untouched
      "co.uk" -> "co.uk")         // a bare suffix has nothing to take
    val out = cases.map(_._1).toDF("h")
      .select(col("h"), HtmlFunctions.registrableDomain(col("h")))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(out === cases.toArray)
    // composes with hostEdges: a site's subdomain edges collapse
    val e = Seq(("www.a.example", "cdn.b.example"),
        ("m.a.example", "b.example"))
      .toDF("src", "dst")
      .select(HtmlFunctions.registrableDomain(col("src")).as("src"),
        HtmlFunctions.registrableDomain(col("dst")).as("dst"))
      .groupBy("src", "dst").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(e === Array(("a.example", "b.example", 2L)))
  }

  test("siteKey: keying hostEdges/anchorTerms by registrableDomain " +
      "inside ≡ building host-level and collapsing after") {
    import graft.functions.HtmlFunctions
    val pages = Seq(
      ("http://www.a.example/p1",
        "<a href=\"http://m.a.example/x\">in site</a>" + // same-domain
          "<a href=\"http://cdn.b.example/y\">deep guide</a>" +
          "<a href=\"http://b.example/z\">deep</a>"),
      ("http://m.a.example/p2",
        "<a href=\"http://b.example/w\">guide</a>" +
          "<a href=\"http://shop.c.co.uk/v\">cc site</a>"))
      .toDF("url", "html")
    val dom = HtmlFunctions.registrableDomain(_: org.apache.spark.sql.Column)
    // hostEdges: key-inside vs collapse-after, row-for-row
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val inside = edgeSet(Graph.hostEdges(pages, "url", "html", dom))
    val after = edgeSet(Graph.hostEdges(pages, "url", "html")
      .select(dom(col("src")).as("src"), dom(col("dst")).as("dst"),
        col("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w")))
    assert(inside === after)
    // the www→m edge exists at host level but is a site self-link
    assert(inside === Set(("a.example", "b.example", 3L),
      ("a.example", "c.co.uk", 1L)))
    // anchorTerms: subdomain targets collapse into one site key; the
    // same-domain (cross-subdomain) anchor's terms are dropped
    val terms = Graph.anchorTerms(pages, "url", "html", dom)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(terms === Set(
      ("b.example", "deep", 2L), ("b.example", "guide", 2L),
      ("c.co.uk", "cc", 1L), ("c.co.uk", "site", 1L)))
  }

  test("trustRankMaintain: stored seeded warm-start ≡ cold, seed drift " +
      "fails fast, superseded versions swept, no pins accumulate") {
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft_egt_").toString
    val wh = new graft.sources.Warehouse(spark, root)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    store.ingest(edges, "src", "dst")
    val seeds = Seq(1L).toDF("node")
    assert(store.storedTrustRanks(spark).isEmpty)
    // the maintenance loop must not pin one rank table per epoch (the
    // looped-pin OOM class) — persistent-RDD set unchanged across calls
    val sc = spark.sparkContext
    val pinsBefore = sc.getPersistentRDDs.keySet.toSet
    store.trustRankMaintain(spark, iters = 2, seeds, "node")
    val t3 = ranksOf(store.trustRankMaintain(spark, iters = 1, seeds,
      "node"))
    assert(sc.getPersistentRDDs.keySet.toSet === pinsBefore,
      "maintenance epochs must release every checkpoint pin")
    // 2 maintained + 1 maintained ≡ 3 cold (unchanged store)
    assert(t3.sameElements(ranksOf(
      store.trustRank(spark, 3, seeds, "node"))))
    // superseded rank-state versions are GC'd by the commit — one
    // version directory per state, not one per epoch
    def versionDirs(state: String) =
      Option(new java.io.File(s"$root/state").listFiles())
        .toSeq.flatten.count(d => d.isDirectory && d.getName.startsWith(s"${state}__v"))
    assert(versionDirs("g_tranks") === 1,
      "superseded trust-rank versions must be swept")
    store.pageRankMaintain(spark, 1)
    store.pageRankMaintain(spark, 1)
    assert(versionDirs("g_ranks") === 1,
      "superseded page-rank versions must be swept")
    // a drifted seed set must fail fast — stored trust state is keyed
    // to its seed set
    intercept[IllegalArgumentException] {
      store.trustRankMaintain(spark, 1, Seq(1L, 2L).toDF("node"), "node")
    }
    // same seed set under a different frame shape still matches (the
    // fingerprint is over the distinct VALUE set)
    assert(ranksOf(store.trustRankMaintain(spark, 1,
      Seq(1L, 1L).toDF("node"), "node")).length === 4)
  }

  test("EdgeStore.append scans its batch source exactly twice — the " +
      "documented cost contract (stage expensive pipelines first)") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_egs_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    val scans = spark.sparkContext.longAccumulator("batch_scans")
    val counted = edges.coalesce(1) // one partition → passes == scans
      .as[(Long, Long, Long)]
      .mapPartitions { it => scans.add(1); it }
      .toDF("src", "dst", "w")
    store.ingest(counted, "src", "dst")
    assert(scans.value === 2L,
      "append is two independent aggregation passes over the source — " +
        "if this changes, update the EdgeStore scaladoc's cost contract")
  }

  test("EdgeStore append rejects non-integral and null node ids") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_egi_").toString)
    val store = new EdgeStore(wh, "g", EdgeStoreConfig(nStoreBuckets = 2))
    // string-keyed edges (hostEdges output appended directly) would
    // silently cast to (null, null) — refuse at the schema
    intercept[IllegalArgumentException] {
      store.ingest(Seq(("a.example", "b.example")).toDF("src", "dst"),
        "src", "dst")
    }
    // a null endpoint in an integral column fails row-locally
    intercept[Exception] {
      store.ingest(Seq((Some(1L), None: Option[Long]))
        .toDF("src", "dst"), "src", "dst")
    }
  }

  test("authorityGate keeps rows whose key out-ranks the uniform prior") {
    val ranks = Graph.pageRank(edges, "src", "dst", 4, Some("w"))
    val n = ranks.count()
    val minFp = (1L << 30) / n
    val docs = Seq((2L, "kept?"), (1L, "source"), (4L, "sink"))
      .toDF("host", "text")
    val kept = Graph.authorityGate(docs, "host", ranks, minFp)
      .select("host").collect().map(_.getLong(0)).toSet
    // sinks accumulate rank above the prior; the pure source does not
    assert(kept.contains(4L) && !kept.contains(1L))
  }

  test("rank driver replay ≡ distributed rounds — weighted, dangling, " +
      "string nodes, warm start, tolerance mode, seeded trust") {
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect()
        .map(r => (r.get(0), r.getLong(1), r.getDouble(2))).toSeq
    // cold, weighted, with a dangling sink (maxDriverEdges = 0 forces
    // the distributed rounds — the documented escape hatch)
    assert(ranks(Graph.pageRank(edges, "src", "dst", 4, Some("w"))) ===
      ranks(Graph.pageRank(edges, "src", "dst", 4, Some("w"),
        maxDriverEdges = 0)))
    // string-keyed host graph (hostEdges' direct composition)
    val sEdges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "d", 3L)).toDF("src", "dst", "w")
    assert(ranks(Graph.pageRank(sEdges, "src", "dst", 3, Some("w"))) ===
      ranks(Graph.pageRank(sEdges, "src", "dst", 3, Some("w"),
        maxDriverEdges = 0)))
    // random graph with dangling nodes (dst space > src space) and
    // parallel edges
    val rnd = new scala.util.Random(42)
    val re = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(60).toLong,
      (rnd.nextInt(5) + 1).toLong)).toDF("src", "dst", "w")
    assert(ranks(Graph.pageRank(re, "src", "dst", 5, Some("w"))) ===
      ranks(Graph.pageRank(re, "src", "dst", 5, Some("w"),
        maxDriverEdges = 0)))
    // warm start: the same prior feeds both routes
    val prior = Graph.pageRank(edges, "src", "dst", 2, Some("w"))
      .select("node", "rank_fp").localCheckpoint(true)
    assert(ranks(Graph.pageRank(edges, "src", "dst", 2, Some("w"),
        prior = Some(prior))) ===
      ranks(Graph.pageRank(edges, "src", "dst", 2, Some("w"),
        prior = Some(prior), maxDriverEdges = 0)))
    // tolerance mode must stop at the same data-dependent round
    assert(ranks(Graph.pageRank(edges, "src", "dst", 50, Some("w"),
        tol = Some(10L))) ===
      ranks(Graph.pageRank(edges, "src", "dst", 50, Some("w"),
        tol = Some(10L), maxDriverEdges = 0)))
    // seeded trust, cold and warm
    val seeds = Seq(1L, 3L).toDF("node")
    assert(ranks(Graph.trustRank(edges, "src", "dst", 3, seeds, "node",
        Some("w"))) ===
      ranks(Graph.trustRank(edges, "src", "dst", 3, seeds, "node",
        Some("w"), maxDriverEdges = 0)))
    val tprior = Graph.trustRank(edges, "src", "dst", 2, seeds, "node",
        Some("w")).select("node", "rank_fp").localCheckpoint(true)
    assert(ranks(Graph.trustRank(edges, "src", "dst", 1, seeds, "node",
        Some("w"), prior = Some(tprior))) ===
      ranks(Graph.trustRank(edges, "src", "dst", 1, seeds, "node",
        Some("w"), prior = Some(tprior), maxDriverEdges = 0)))
    // out-of-range prior fails fast on the driver route too
    intercept[Exception] {
      Graph.pageRank(edges, "src", "dst", 1, Some("w"),
        prior = Some(Seq((1L, -5L)).toDF("node", "rank_fp"))).collect()
    }
  }

  test("rank routes agree on a prior whose node type differs from the edge keys") {
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val cold4 = ranks(Graph.pageRank(edges, "src", "dst", 4, Some("w")))
    val seeds = Seq(1L, 3L).toDF("node")
    val tcold3 = ranks(Graph.trustRank(edges, "src", "dst", 3, seeds, "node", Some("w")))
    // long edges; the distributed join coerces the prior's key. An int
    // key also meets the driver's boxed numeric equality, a decimal or
    // string key does not — the driver route must not cold-start on it
    for (t <- Seq("int", "decimal(20,0)", "string")) {
      def typed(df: org.apache.spark.sql.DataFrame) =
        df.select(col("node").cast(t).as("node"), col("rank_fp")).localCheckpoint(true)
      val prior = typed(Graph.pageRank(edges, "src", "dst", 2, Some("w")))
      val warm = ranks(Graph.pageRank(edges, "src", "dst", 2, Some("w"),
        prior = Some(prior)))
      assert(warm === ranks(Graph.pageRank(edges, "src", "dst", 2, Some("w"),
        prior = Some(prior), maxDriverEdges = 0)), t)
      // the prior is honored, not cold-started: 2 warm ≡ 4 cold rounds
      assert(warm === cold4, t)
      val tprior = typed(Graph.trustRank(edges, "src", "dst", 2, seeds, "node", Some("w")))
      assert(ranks(Graph.trustRank(edges, "src", "dst", 1, seeds, "node",
        Some("w"), prior = Some(tprior))) === tcold3, t)
    }
  }

  test("both rank routes reject a prior with several rows for one node") {
    val prior = Graph.pageRank(edges, "src", "dst", 2, Some("w"))
      .select("node", "rank_fp").localCheckpoint(true)
    val doubled = prior.union(prior.filter(col("node") === 2L))
    for (gate <- Seq(Graph.DefaultMaxDriverRankEdges, 0L)) {
      val e = intercept[IllegalArgumentException] {
        Graph.pageRank(edges, "src", "dst", 1, Some("w"), prior = Some(doubled),
          maxDriverEdges = gate).collect()
      }
      assert(e.getMessage.contains("node-unique"), s"gate $gate")
      val t = intercept[IllegalArgumentException] {
        Graph.trustRank(edges, "src", "dst", 1, Seq(1L).toDF("node"), "node",
          Some("w"), prior = Some(doubled), maxDriverEdges = gate).collect()
      }
      assert(t.getMessage.contains("node-unique"), s"gate $gate")
    }
    // duplicate rows for a node the graph no longer has are dropped alike
    val stale = prior.union(Seq((99L, 5L), (99L, 6L)).toDF("node", "rank_fp"))
    assert(Graph.pageRank(edges, "src", "dst", 1, Some("w"), prior = Some(stale))
        .orderBy("node").collect().toSeq ===
      Graph.pageRank(edges, "src", "dst", 1, Some("w"), prior = Some(stale),
        maxDriverEdges = 0).orderBy("node").collect().toSeq)
  }

  test("a round checkpoint claims only its own RDD while a neighbour checkpoints") {
    val rc = new Graph.RoundCheckpoint(spark.sparkContext, None)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the other leg of a Par.both: checkpoints of its own, on another thread
    val neighbour = new Thread(() =>
      while (!stop.get()) spark.range(8).toDF("id").localCheckpoint(true).count())
    neighbour.start()
    try (1 to 40).foreach { i =>
      Seq(rc.apply _, rc.lazyMark _).foreach { mark =>
        val (mat, ids) = mark(spark.range(16).toDF("id").withColumn("r", lit(i)))
        val under = mat.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }.toSet
        assert(ids.nonEmpty && ids.subsetOf(under),
          s"round $i claimed $ids, its plan holds $under")
        ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
          .foreach(_.unpersist(false)))
      }
    } finally { stop.set(true); neighbour.join() }
  }

  test("EdgeStore: the stored rank tables are read with their schema — no job") {
    val wh = new graft.sources.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_egs_").toString)
    val store = new EdgeStore(wh, "g",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    store.ingest(edges, "src", "dst")
    val served = store.pageRankMaintain(spark, iters = 2)
    store.trustRankMaintain(spark, iters = 2, Seq(1L).toDF("node"), "node")
    val (ranks, jobs) = graft.Jobs.during(spark)(store.storedRanks(spark).get)
    assert(jobs.jobs.isEmpty, s"storedRanks started ${jobs.jobs.size} jobs")
    val (trust, tjobs) = graft.Jobs.during(spark)(store.storedTrustRanks(spark).get)
    assert(tjobs.jobs.isEmpty, s"storedTrustRanks started ${tjobs.jobs.size} jobs")
    assert(ranks.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq("node" -> "bigint", "rank_fp" -> "bigint"))
    assert(trust.schema === ranks.schema)
    assert(ranks.orderBy("node").collect().toSeq ===
      served.select("node", "rank_fp").orderBy("node").collect().toSeq)
  }
}
