package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dailyMetrics: watermarked tumbling day windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.dailyMetrics(
      in.toDF().toDF("ts", "kind", "value"), "ts", "value", Seq("kind"))
    val q = agg.writeStream.format("memory").queryName("daily")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 01:00:00"), "click", 1.0),
        (ts("2024-01-01 09:00:00"), "click", 2.0),
        (ts("2024-01-02 00:30:00"), "click", 5.0),
        (ts("2024-01-01 12:00:00"), "view", 7.0))
      q.processAllAvailable()
      val rows = spark.table("daily")
        .select(col("day_start").cast("string"), col("kind"), col("n"), col("total"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-02 00:00:00", "click", 1L, 5.0),
        ("2024-01-01 00:00:00", "view", 1L, 7.0)))
    } finally q.stop()
  }

  test("sessionMetrics merges events within the gap, splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streaming.sessionMetrics(
      in.toDF().toDF("ts", "user"), "ts", Seq("user"), gap = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:00"), "u1"),
        (ts("2024-01-01 00:10:00"), "u1"),  // same session (10m < 30m)
        (ts("2024-01-01 01:00:00"), "u1"),  // new session (50m gap)
        (ts("2024-01-01 00:00:00"), "u2"))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select(col("session_start").cast("string"), col("user"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00", "u1", 2L),
        ("2024-01-01 01:00:00", "u1", 1L),
        ("2024-01-01 00:00:00", "u2", 1L)))
    } finally q.stop()
  }

  test("thresholdAlerts fires only for keys crossing the windowed count") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val alerts = Streaming.thresholdAlerts(
      in.toDF().toDF("ts", "kind"), "ts", Seq("kind"),
      threshold = 3, group = "mail")
    val q = alerts.writeStream.format("memory").queryName("th_alerts")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 00:10:00"), "error"), (ts("2024-01-01 00:20:00"), "error"),
        (ts("2024-01-01 00:30:00"), "error"), (ts("2024-01-01 00:40:00"), "ok"))
      q.processAllAvailable()
      val rows = spark.table("th_alerts")
        .select("group", "message").as[(String, String)].collect().toSeq
      assert(rows === Seq(("mail", "threshold error 3")),
        "only the 3-event key fires; schema matches the alert queue shape")
    } finally q.stop()
  }

  test("dedupeStream drops replayed keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = Streaming.dedupeStream(in.toDF().toDF("ts", "k"), "ts", Seq("k"))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), "a"), (ts("2024-01-01 00:00:00"), "a"),
        (ts("2024-01-01 00:01:00"), "b"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:00:00"), "a")) // replay across batches
      q.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
    } finally q.stop()
  }

  test("ruleMatches broadcast-joins static alert rules against the stream") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(("error", "page", "sev1"), ("timeout", "api", "sev2"))
      .toDF("kind", "scope", "severity")
    val in = MemoryStream[(Timestamp, String)]
    val out = Streaming.ruleMatches(
      in.toDF().toDF("ts", "kind"), rules, Seq("kind"))
    val q = out.writeStream.format("memory").queryName("rule_hits")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:00"), "error"),
        (ts("2024-01-01 00:01:00"), "ok"),       // no rule -> dropped
        (ts("2024-01-01 00:02:00"), "timeout"))
      q.processAllAvailable()
      val rows = spark.table("rule_hits")
        .select("kind", "scope", "severity").as[(String, String, String)]
        .collect().toSet
      assert(rows === Set(("error", "page", "sev1"), ("timeout", "api", "sev2")),
        "only events matching a rule pass, enriched with the rule columns")
      // the static side must be the broadcast build side: no stream shuffle
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    } finally q.stop()
  }

  test("correlateStreams pairs events within the interval, drops the rest") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String, Double)]
    val out = Streaming.correlateStreams(
      views.toDF().toDF("view_ts", "user"), "view_ts",
      buys.toDF().toDF("buy_ts", "user", "amount"), "buy_ts",
      key = "user", within = "1 hour")
    val q = out.writeStream.format("memory").queryName("correlated")
      .outputMode("append").start()
    try {
      views.addData(
        (ts("2024-01-01 10:00:00"), "u1"),
        (ts("2024-01-01 10:00:00"), "u2"))
      buys.addData(
        (ts("2024-01-01 10:30:00"), "u1", 9.99),   // 30m after the view: pairs
        (ts("2024-01-01 12:00:00"), "u2", 5.00),   // 2h after: outside `within`
        (ts("2024-01-01 09:00:00"), "u1", 1.00))   // before the view: no pair
      q.processAllAvailable()
      val rows = spark.table("correlated")
        .select(col("user"), col("view_ts").cast("string"),
          col("buy_ts").cast("string"), col("amount"))
        .as[(String, String, String, Double)].collect().toSet
      assert(rows === Set(
        ("u1", "2024-01-01 10:00:00", "2024-01-01 10:30:00", 9.99)),
        "only the within-interval (view, buy) pair joins")
    } finally q.stop()
  }

  test("changeDetection emits only transitions with previous value") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.KeyedValue]
    val q = Streaming.changeDetection(in.toDS())
      .writeStream.format("memory").queryName("changes")
      .outputMode("append").start()
    try {
      in.addData(
        Streaming.KeyedValue("u1", ts("2024-01-01 00:00:00"), "Title A"),
        Streaming.KeyedValue("u1", ts("2024-01-02 00:00:00"), "Title A"),
        Streaming.KeyedValue("u1", ts("2024-01-03 00:00:00"), "Title B"))
      q.processAllAvailable()
      // state persists across micro-batches
      in.addData(
        Streaming.KeyedValue("u1", ts("2024-01-04 00:00:00"), "Title B"),
        Streaming.KeyedValue("u1", ts("2024-01-05 00:00:00"), "Title C"))
      q.processAllAvailable()
      val rows = spark.table("changes")
        .select("key", "value", "previous")
        .as[(String, String, String)].collect().toSeq
      assert(rows === Seq(
        ("u1", "Title A", ""),       // first sight
        ("u1", "Title B", "Title A"),
        ("u1", "Title C", "Title B")))
    } finally q.stop()
  }

  test("warehouseSink: batchId is the replay identity, new batches land") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_wsink").toString
    val wh = new graft.sources.Warehouse(spark, root)
    val in = MemoryStream[(java.sql.Date, String, Double)]
    val q = Streaming.warehouseSink(
      in.toDF().toDF("date", "property", "value"), wh, "metrics",
      checkpoint = s"$root/ckpt")
    try {
      in.addData(
        (java.sql.Date.valueOf("2024-01-01"), "site", 1.0),
        (java.sql.Date.valueOf("2024-01-01"), "site", 2.0))
      q.processAllAvailable()
      assert(wh.read("metrics").count() === 2)
      // LATER rows for the same business key are new data, not a replay —
      // they must land (the replay key is the batchId, not row content)
      in.addData((java.sql.Date.valueOf("2024-01-01"), "site", 1.0))
      q.processAllAvailable()
      assert(wh.read("metrics").count() === 3,
        "same-looking row in a NEW micro-batch is appended")
    } finally q.stop()
    // checkpoint REDELIVERY = same batchId again → no-op (the foreachBatch
    // body is exercised directly; MemoryStream cannot simulate recovery)
    val batch = Seq((java.sql.Date.valueOf("2024-01-02"), "site", 5.0))
      .toDF("date", "property", "value")
    Streaming.appendBatch(wh, "metrics")(batch, batchId = 99L)
    assert(wh.read("metrics").count() === 4)
    Streaming.appendBatch(wh, "metrics")(batch, batchId = 99L)
    assert(wh.read("metrics").count() === 4, "redelivered batchId appends nothing")
    Streaming.appendBatch(wh, "metrics")(batch, batchId = 100L)
    assert(wh.read("metrics").count() === 5, "next batchId lands")
  }

  test("runAvailableNow: cron-style catch-up processes only what's new") {
    val root = java.nio.file.Files.createTempDirectory("graft_catchup").toString
    val st = new graft.sources.StagingStore(spark, root)
    val wh = new graft.sources.Warehouse(spark, root)
    val schema = Seq((1L, "a", java.sql.Date.valueOf("2024-01-01"),
      ts("2024-01-01 00:00:00"))).toDF("id", "v", "date", "__staged_at").schema
    def stage(rows: (Long, String)*): Unit =
      st.appendAt("docs", rows.toDF("id", "v")
        .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01"))),
        ts("2024-01-01 00:00:00"))
    stage(1L -> "a", 2L -> "b")
    // cron run 1: everything available lands, then the call RETURNS
    Streaming.runAvailableNow(
      Streaming.readStagingStream(spark, root, "docs", schema),
      wh, "docs_wh", s"$root/ckpt")
    assert(wh.read("docs_wh").count() === 2)
    // cron run 2 with nothing new: no-op (checkpoint, not a watermark table)
    Streaming.runAvailableNow(
      Streaming.readStagingStream(spark, root, "docs", schema),
      wh, "docs_wh", s"$root/ckpt")
    assert(wh.read("docs_wh").count() === 2)
    // new staged files since the last run: only THEY are processed
    stage(3L -> "c")
    Streaming.runAvailableNow(
      Streaming.readStagingStream(spark, root, "docs", schema),
      wh, "docs_wh", s"$root/ckpt")
    assert(wh.read("docs_wh").select("id").as[Long].collect().sorted
      === Seq(1L, 2L, 3L))
  }

  test("readStagingStream turns batch staging appends into micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val st = new graft.sources.StagingStore(spark, root)
    val schema = Seq((1L, "a", ts("2024-01-01 00:00:00")))
      .toDF("id", "v", "__staged_at").schema
    st.appendAt("docs", Seq((1L, "a")).toDF("id", "v"),
      ts("2024-01-01 00:00:00"))
    val stream = Streaming.readStagingStream(spark, root, "docs", schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("staged")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("staged").count() === 1)
      // a later BATCH append becomes the next micro-batch — same files,
      // different reader: the batch path needs no changes to go always-on
      st.appendAt("docs", Seq((2L, "b"), (3L, "c")).toDF("id", "v"),
        ts("2024-01-01 01:00:00"))
      q.processAllAvailable()
      assert(spark.table("staged").select("id").as[Long].collect().sorted
        === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  // ---------------------------------------------- streaming curation

  // the PipelineSpec fixture, condensed: 1 kept; 2 low-quality; 5/6
  // exact dups; 7 near-dup of 1; 8 kept with PII
  private val curGood1 = "the quick brown fox jumps over the lazy dog and " +
    "that is a fine day in the sun with you it is true"
  private val curNear7 = "the quick brown fox jumps over the lazy cat and " +
    "that is a fine day in the sun with you it is true"
  private val curExact56 = "it is a truth universally acknowledged that a " +
    "reader in possession of the text must be in want of it"
  private val curPii8 = "you can reach the team of the office at " +
    "alice@example.com and that is the address of it in the file today"
  private val curDocs = Seq(
    (1L, curGood1), (2L, "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"),
    (5L, curExact56), (6L, curExact56), (7L, curNear7), (8L, curPii8))
  private val curCfg = graft.operators.Pipeline.CurateConfig(
    minQuality = 0.35, maxRepetition = 0.5, repN = 2, deconN = 5,
    minhash = graft.operators.MinhashConfig(shingleN = 3, bands = 16,
      rowsPerBand = 1, threshold = 0.5, seed = 7L))

  test("curation catch-up: streamed micro-batches maintain the curated corpus") {
    val root = java.nio.file.Files.createTempDirectory("graft_curstream").toString
    val wh = new graft.sources.Warehouse(spark, root)
    val store = new graft.operators.Pipeline.CurationStore(
      spark, s"$root/store", "t", curCfg)
    val inDir = s"$root/in"
    def stage(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    val schema = curDocs.toDF("doc_id", "text").schema
    def catchUp(): Unit = Streaming.runCurationAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, wh, "cur_kept", "cur_retracted", s"$root/ckpt",
      "doc_id", "text", auditTable = Some("cur_audit"))
    def corpus(): Seq[Long] = {
      val kept = wh.read("cur_kept").select("id")
      val ret = if (wh.exists("cur_retracted"))
        wh.read("cur_retracted").select("id") else kept.limit(0)
      kept.except(ret).as[Long].collect().sorted.toSeq
    }

    stage(curDocs.filter(_._1 <= 5)) // ids 1,2,5 — one micro-batch
    catchUp()
    assert(corpus() === Seq(1L, 5L))
    stage(curDocs.filter(_._1 > 5)) // ids 6,7,8 — only THIS is new work
    catchUp()
    // 6 = exact dup of stored 5, 7 = near-dup of stored 1 → only 8 enters
    assert(corpus() === Seq(1L, 5L, 8L))
    // matches the one-shot batch curate over the union
    val batch = graft.operators.Pipeline.curate(
      curDocs.toDF("doc_id", "text"), "doc_id", "text", None, "text", curCfg)
    assert(corpus() === batch.kept.select("id").as[Long].collect().sorted.toSeq)
    // PII was redacted before anything persisted
    val t8 = wh.read("cur_kept").filter(col("id") === 8L)
      .select("text").as[String].head()
    assert(t8.contains("<EMAIL>") && !t8.contains("alice@example.com"))
    // the drop ledger persisted alongside: every non-kept doc with its
    // first dropping stage and (for the dedup stages) its winner
    val audit = wh.read("cur_audit")
      .select("id", "stage", "kept_id")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(audit === Seq((2L, "quality", None),
      (6L, "exact_dup", Some(5L)), (7L, "near_dup", Some(1L))))
  }

  test("curation catch-up: one store instance over four micro-batches, " +
      "compacted between two of them, equals the batch route") {
    val root = java.nio.file.Files.createTempDirectory("graft_curstream_c").toString
    val wh = new graft.sources.Warehouse(spark, root)
    val cfg = graft.operators.Pipeline.CurateConfig(minQuality = 0.0,
      maxRepetition = 1.0, minhash = graft.operators.MinhashConfig(shingleN = 3,
        bands = 16, rowsPerBand = 1, threshold = 0.5, seed = 7L))
    // A and B differ in 4 of 20 tokens (no pair); C is a near-dup of both
    // and retracts B; the others are copies, near-dups and new texts
    val base = (1 to 20).map(i => f"t$i%02d").toVector
    val c = base.updated(4, "c05").updated(11, "c12")
    val (a, b) = (base.mkString(" "), c.updated(7, "b08").updated(15, "b16").mkString(" "))
    val x = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val batches = Seq(Seq(a, b, x), Seq(a, "kilo lima mike november oscar papa quebec"),
      Seq(c.mkString(" "), x.replace("juliet", "kilo")),
      Seq(x + " lima", "romeo sierra tango uniform victor whiskey xray"))
    val docs = batches.scanLeft(0)(_ + _.size).zip(batches).map { case (from, t) =>
      t.zipWithIndex.map { case (text, i) => ((from + i).toLong, text) } }
    val store = new graft.operators.Pipeline.CurationStore(
      spark, s"$root/store", "t", cfg)
    val inDir = s"$root/in"
    docs.foreach(_.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir))
    // a compaction after every second micro-batch: one after the second
    // (and one after the fourth)
    Streaming.runCurationAvailableNow(
      spark.readStream.schema(docs.head.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      store, wh, "cur_kept", "cur_retracted", s"$root/ckpt", "doc_id", "text",
      autoCompact = Some(Streaming.CompactionPolicy(maxFiles = 1, checkEvery = 2)))
    assert(store.maxIngestedId === Some(docs.flatten.size - 1L))
    assert(new java.io.File(s"$root/store/warehouse").list()
      .exists(_.startsWith("t_cur_exact__v")), "the store was compacted")
    // the batch route: one ingest per micro-batch into a fresh store
    val batchStore = new graft.operators.Pipeline.CurationStore(spark,
      java.nio.file.Files.createTempDirectory("graft_curstream_b").toString, "t", cfg)
    val deltas = docs.map(d => batchStore.ingest(d.toDF("doc_id", "text"),
      "doc_id", "text"))
    def ids(dfs: Seq[org.apache.spark.sql.DataFrame]) =
      dfs.map(_.select(col("id").cast("long")).as[Long].collect().toSeq)
        .reduce(_ ++ _).sorted
    assert(ids(Seq(wh.read("cur_kept"))) === ids(deltas.map(_.kept)))
    assert(ids(Seq(wh.read("cur_retracted"))) === ids(deltas.map(_.retracted)))
    assert(ids(deltas.map(_.retracted)) === Seq(1L), "C retracts B")
    assert(store.readLabels.as[(Long, Long)].collect().sorted.toSeq ===
      batchStore.readLabels.as[(Long, Long)].collect().sorted.toSeq)
  }

  test("streaming crawl epochs: edge-stream catch-ups + per-epoch rank " +
      "maintenance + gated curation catch-ups ≡ the one-shot batch " +
      "composition (the q164 story as always-on sinks)") {
    import graft.operators.{EdgeStore, EdgeStoreConfig, Graph, Pipeline}
    val root = java.nio.file.Files
      .createTempDirectory("graft_epochstream").toString
    // 24 docs on hosts h0..h6; texts reuse the curation fixtures so
    // every stage has work (junk, exact dup, near-dup, PII)
    val docs = (0L until 24L).map { i =>
      val text = i % 6 match {
        case 2 => "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"
        case 3 => curExact56
        case 4 => curNear7
        case 5 => curPii8
        case _ => curGood1 + s" marker$i"
      }
      (i, text)
    }
    def pages(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(
        concat(lit("http://h"), pmod(col("doc_id"), lit(7)),
          lit(".example/p/"), col("doc_id")).as("url"),
        // a HUBBED graph: every page links h0 plus a spread host — a
        // near-regular graph would leave every rank at the uniform
        // prior and the strict > gate would shear ALL hosts
        concat(lit("<html><body><a href=\"http://h"),
          pmod(col("doc_id") * 3, lit(7)),
          lit(".example/a\">l</a><a href=\"http://h0.example/b\">l2" +
            "</a></body></html>")).as("html"))
    def edgesOf(rows: Seq[(Long, String)]) =
      Graph.hostEdges(pages(rows), "url", "html")
        .select(regexp_extract(col("src"), "^h(\\d+)\\.example$", 1)
          .cast("long").as("src"),
          regexp_extract(col("dst"), "^h(\\d+)\\.example$", 1)
            .cast("long").as("dst"), col("w"))
    val (epoch1, epoch2) = docs.partition(_._1 < 12)
    val estore = new EdgeStore(
      new graft.sources.Warehouse(spark, s"$root/eg"), "crawl",
      EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    val eDir = s"$root/edges_in"
    val eSchema = edgesOf(docs).schema
    def edgeCatchUp(): Unit = Streaming.runStoreAvailableNow(
      spark.readStream.schema(eSchema).option("maxFilesPerTrigger", 1)
        .parquet(eDir),
      estore, s"$root/eckpt", "src", "dst")
    // epoch 1: edges stream in, ranks maintained (cold)
    edgesOf(epoch1).coalesce(1).write.mode("append").parquet(eDir)
    edgeCatchUp()
    estore.pageRankMaintain(spark, iters = 2)
    // epoch 2: only the new file is processed, warm maintain
    edgesOf(epoch2).coalesce(1).write.mode("append").parquet(eDir)
    edgeCatchUp()
    val ranks = estore.pageRankMaintain(spark, iters = 1)
    val n = ranks.count()
    val gate = Pipeline.AuthorityGate(ranks, "host", (1L << 30) / n)
    // curation sink gated by the committed ranks (static input — the
    // batch ≡ incremental contract), docs streamed per epoch
    val wh = new graft.sources.Warehouse(spark, s"$root/wh")
    val cstore = new Pipeline.CurationStore(spark, s"$root/cur", "t",
      curCfg, authority = Some(gate))
    val dDir = s"$root/docs_in"
    val dSchema = docs.toDF("doc_id", "text")
      .withColumn("host", pmod(col("doc_id"), lit(7L))).schema
    def hosted(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("host", pmod(col("doc_id"), lit(7L)))
    def curCatchUp(): Unit = Streaming.runCurationAvailableNow(
      spark.readStream.schema(dSchema).option("maxFilesPerTrigger", 1)
        .parquet(dDir),
      cstore, wh, "ep_kept", "ep_retracted", s"$root/cckpt",
      "doc_id", "text", auditTable = Some("ep_audit"))
    hosted(epoch1).coalesce(1).write.mode("append").parquet(dDir)
    curCatchUp()
    hosted(epoch2).coalesce(1).write.mode("append").parquet(dDir)
    curCatchUp()
    val streamed = {
      val kept = wh.read("ep_kept").select("id")
      val ret = if (wh.exists("ep_retracted"))
        wh.read("ep_retracted").select("id") else kept.limit(0)
      kept.except(ret).as[Long].collect().sorted.toSeq
    }
    // one-shot batch reference: the SAME gate over the full corpus
    val batch = Pipeline.curate(hosted(docs), "doc_id", "text",
      None, "text", curCfg, withAudit = true, authority = Some(gate))
    assert(streamed === batch.kept.select("id").as[Long]
      .collect().sorted.toSeq)
    assert(streamed.nonEmpty, "the composition must keep something")
    // the authority ledger matches the batch run's gate drops — and the
    // gate actually sheared hosts (below-prior hosts exist on this graph)
    val streamedAuth = wh.read("ep_audit")
      .filter(col("stage") === "authority")
      .select("id").as[Long].collect().sorted.toSeq
    val batchAuth = batch.audit.get
      .filter(col("stage") === "authority")
      .select("id").as[Long].collect().sorted.toSeq
    assert(streamedAuth === batchAuth)
    assert(streamedAuth.nonEmpty, "the gate must drop below-prior hosts")
  }

  test("bm25 index catch-up: streamed appends serve the one-shot ranking") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmstream").toString
    val corpus = (1L to 40L).map { i =>
      (i, if (i % 4 == 0) "spark engine cluster" else s"filler$i words")
    }
    val inDir = s"$root/in"
    corpus.filter(_._1 <= 20).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    corpus.filter(_._1 > 20).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val idx = new graft.operators.Retrieval.Bm25Index(
      spark, s"$root/idx", "t", nStoreBuckets = 2)
    val schema = corpus.toDF("doc_id", "text").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      idx, s"$root/ckpt", "doc_id", "text")
    val served = idx.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    val oneShot = graft.operators.Retrieval.bm25TopK(
        corpus.toDF("doc_id", "text"), "doc_id", "text", Seq("spark"), 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(served === oneShot && served.nonEmpty)
    // a replayed ingestOnce with an already-completed key is a no-op
    // (the sink keys batches as "<checkpoint>#<batchId>")
    idx.ingestOnce(corpus.take(5).toDF("doc_id", "text"), "doc_id", "text",
      Some(s"$root/ckpt#0"))
    assert(idx.search(Seq("spark"), k = 5)
      .select("id", "score").as[(Long, Double)].collect().toSeq === oneShot)
  }

  test("a second maintenance sink on the same index aborts with a clear error") {
    val root = java.nio.file.Files.createTempDirectory("graft_sinklease").toString
    val corpus = (1L to 8L).map(i => (i, s"word$i text"))
    val inDir = s"$root/in"
    corpus.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    val idx = new graft.operators.Retrieval.Bm25Index(
      spark, s"$root/idx", "t", nStoreBuckets = 2)
    val schema = corpus.toDF("doc_id", "text").schema
    def stream() = spark.readStream.schema(schema).parquet(inDir)
    // first sink holds the index root's maintenance lease...
    val q1 = Streaming.storeSink(stream(), idx, s"$root/ckpt1",
      "doc_id", "text")
    try {
      // ...so a second sink on the SAME index fails fast at start
      val e = intercept[IllegalStateException] {
        Streaming.storeSink(stream(), idx, s"$root/ckpt2",
          "doc_id", "text")
      }
      assert(e.getMessage.contains("maintenance"), e.getMessage)
    } finally { q1.processAllAvailable(); q1.stop() }
    // once the first sink terminated (lease released via the
    // termination listener — async, hence the bounded wait), a
    // successor runs
    val deadline = System.currentTimeMillis + 20000
    def successor(): Unit =
      try Streaming.runStoreAvailableNow(
        spark.readStream.schema(schema).parquet(inDir), idx, s"$root/ckpt1",
        "doc_id", "text")
      catch {
        case _: IllegalStateException if System.currentTimeMillis < deadline =>
          Thread.sleep(100); successor()
      }
    successor()
    assert(idx.search(Seq("word3"), k = 3).count() === 1L)
  }

  test("curation sink with its delta tables under the store root: a crash " +
      "before commit rolls the delta appends back, a blind retry equals a clean run") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_curcrash_in").toString
    val schema = curDocs.toDF("doc_id", "text").schema
    def stage(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    // the store and the kept/retracted tables share one root
    def sink(root: String) = {
      val wh = new graft.sources.Warehouse(spark, root)
      val store = new graft.operators.Pipeline.CurationStore(spark, root, "t", curCfg)
      (wh, () => Streaming.runCurationAvailableNow(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir),
        store, wh, "cur_kept", "cur_retracted", s"$root/_ckpt", "doc_id", "text"))
    }
    def state(wh: graft.sources.Warehouse) = Seq("cur_kept", "cur_retracted")
      .filter(wh.exists).map(t => t -> wh.read(t).select("id", "__batch_id")
        .as[(Long, Long)].collect().sorted.toSeq)
    val crashed = java.nio.file.Files.createTempDirectory("graft_curcrash").toString
    val (wh, catchUp) = sink(crashed)
    stage(curDocs.filter(_._1 <= 5))
    catchUp()
    val first = state(wh)
    stage(curDocs.filter(_._1 > 5))
    graft.sources.StoreTxn.hooks.crashBeforeCommit = true
    try intercept[Exception](catchUp())
    finally graft.sources.StoreTxn.hooks.reset()
    // the crashed ingest's delta appends were registered with its
    // transaction: reopening the root rolls them back with it
    graft.sources.StoreTxn.recoverIfIdle(spark, crashed)
    assert(state(wh) === first)
    catchUp() // the blind retry
    val clean = java.nio.file.Files.createTempDirectory("graft_curclean").toString
    val (cleanWh, cleanRun) = sink(clean)
    cleanRun()
    assert(state(wh) === state(cleanWh))
    assert(state(wh).toMap.apply("cur_kept").map(_._1).sorted === Seq(1L, 5L, 8L))
  }

  test("curateBatch: a redelivered micro-batch after a completed ingest is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_curreplay").toString
    val wh = new graft.sources.Warehouse(spark, root)
    val store = new graft.operators.Pipeline.CurationStore(
      spark, s"$root/store", "t", curCfg)
    val b1 = curDocs.filter(_._1 <= 5).toDF("doc_id", "text")
    val run = Streaming.curateBatch(store, wh, "k", "r", "doc_id", "text") _
    run(b1, 0L)
    assert(wh.read("k").count() === 2)
    // redelivery (same batch, same id) must neither crash on the store's
    // monotonicity guard nor double-append
    run(b1, 0L)
    assert(wh.read("k").count() === 2)
    // and the next real batch still lands
    run(curDocs.filter(_._1 > 5).toDF("doc_id", "text"), 1L)
    assert(wh.read("k").select("id").as[Long].collect().sorted
      === Seq(1L, 5L, 8L))
  }

  test("near-dup catch-up: streamed pair deltas equal the one-shot pairs") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndstream").toString
    // two planted near-dup pairs, one within each half of the stream,
    // plus one PAIR ACROSS the halves (5 vs 25) — the store must pair a
    // later batch against persisted signatures, not just itself
    val base = "the quick brown fox jumps over the lazy dog in the sun"
    val corpus = (1L to 30L).map { i =>
      val text =
        if (i == 6L) base.replace("dog", "cat")
        else if (i == 5L || i == 25L) base
        else s"completely unrelated filler text number $i of the stream " +
          s"with words w${i}a w${i}b w${i}c"
      (i, text)
    }
    val cfg = graft.operators.MinhashConfig(shingleN = 3, bands = 16,
      rowsPerBand = 1, threshold = 0.5, seed = 7L)
    val inDir = s"$root/in"
    corpus.filter(_._1 <= 15).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    corpus.filter(_._1 > 15).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val wh = new graft.sources.Warehouse(spark, s"$root/wh")
    val store = new graft.operators.MinhashStore(
      new graft.sources.Warehouse(spark, s"$root/store"), "t", cfg)
    val schema = corpus.toDF("doc_id", "text").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "doc_id", "text",
      Streaming.appendBatch(wh, "nd_pairs", "__batch_id"))
    val streamed = wh.read("nd_pairs").select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val oneShot = graft.operators.Dedup.minhashPortablePairs(
        corpus.toDF("doc_id", "text"), "doc_id", "text", cfg.shingleN,
        cfg.bands, cfg.rowsPerBand, cfg.threshold, cfg.seed, cfg.maxBucket)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot && streamed.nonEmpty)
    assert(streamed.exists(p => p._1 == 5L && p._2 == 25L),
      "must find the cross-batch pair against persisted signatures")
    // a redelivered completed ingest key is a no-op (no new pairs, no
    // duplicate signatures)
    assert(store.ingestOnce(corpus.filter(_._1 <= 15).toDF("doc_id", "text"),
      "doc_id", "text", Some(s"$root/ckpt#0")).isEmpty)
    assert(wh.read("nd_pairs").count() === oneShot.size.toLong)
  }

  test("containment catch-up: streamed pair deltas equal the one-shot pairs") {
    val root = java.nio.file.Files.createTempDirectory("graft_ctstream").toString
    // a swallowed doc ACROSS the halves: doc 25 is the first half of
    // doc 5's tokens — Jaccard ≈ 0.5 misses it at t=0.8, containment
    // flags it, and the store must pair the later batch against the
    // persisted postings, not just itself
    val base = "the quick brown fox jumps over the lazy dog in the warm " +
      "morning sun by the river bank"
    val corpus = (1L to 30L).map { i =>
      val text =
        if (i == 5L) base
        else if (i == 25L) base.split(" ").take(9).mkString(" ")
        else s"completely unrelated filler text number $i of the stream " +
          s"with words w${i}a w${i}b w${i}c"
      (i, text)
    }
    val store = new graft.operators.ContainmentStore(
      new graft.sources.Warehouse(spark, s"$root/store"), "t",
      graft.operators.ContainmentConfig(shingleN = 3, threshold = 0.8,
        maxDocFreq = 1000L, nStoreBuckets = 4))
    val inDir = s"$root/in"
    corpus.filter(_._1 <= 15).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    corpus.filter(_._1 > 15).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val wh = new graft.sources.Warehouse(spark, s"$root/wh")
    val schema = corpus.toDF("doc_id", "text").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "doc_id", "text",
      Streaming.appendBatch(wh, "ct_pairs", "__batch_id"))
    val streamed = wh.read("ct_pairs").select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val oneShot = graft.operators.Dedup.ngramContainmentPairs(
        corpus.toDF("doc_id", "text"), "doc_id", "text", n = 3,
        threshold = 0.8, maxDocFreq = 1000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot && streamed.nonEmpty)
    assert(streamed.contains((5L, 25L)),
      "must flag the cross-batch swallowed doc against persisted postings")
  }

  test("append-store catch-up: streamed IVF appends serve the one-shot results") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(6)(j => math.cos(i % 4 + j * 0.5).toFloat))
    }
    val cents = vecs.take(4).map { case (i, v) =>
      (i.toInt, v.map(_.toDouble).toSeq)
    }.toDF("cell", "cvec")
    val inDir = s"$root/in"
    vecs.filter(_._1 < 20).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(inDir)
    vecs.filter(_._1 >= 20).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(inDir)
    val store = new graft.operators.IvfStore(
      new graft.sources.Warehouse(spark, s"$root/store"), "t", cents,
      nStoreBuckets = 2)
    val schema = vecs.toDF("vec_id", "embedding").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "vec_id", "embedding")
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val served = results(store.serve(queries, "vec_id", "embedding",
      k = 3, nProbes = 2))
    // one-shot build over the same corpus
    val oneShot = new graft.operators.IvfStore(
      new graft.sources.Warehouse(spark, s"$root/oneshot"), "t", cents,
      nStoreBuckets = 2)
    oneShot.ingest(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(served === results(oneShot.serve(queries, "vec_id", "embedding",
      k = 3, nProbes = 2)) && served.nonEmpty)
    // a redelivered completed append key is a no-op (no duplicate rows)
    assert(store.ingestOnce(vecs.filter(_._1 < 20).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Some(s"$root/ckpt#0")).isEmpty)
    assert(served === results(store.serve(queries, "vec_id", "embedding",
      k = 3, nProbes = 2)))
  }

  test("append-store catch-up: streamed edge appends serve the one-shot " +
      "degrees and pageRank") {
    val root = java.nio.file.Files.createTempDirectory("graft_egstream").toString
    val edges = (0L until 60L).map(i =>
      (i % 9, (i * 7) % 11, i % 5 + 1)) // parallel edges included
    val inDir = s"$root/in"
    edges.filter(_._1 < 5).toDF("src", "dst", "w").coalesce(1)
      .write.mode("append").parquet(inDir)
    edges.filter(_._1 >= 5).toDF("src", "dst", "w").coalesce(1)
      .write.mode("append").parquet(inDir)
    val store = new graft.operators.EdgeStore(
      new graft.sources.Warehouse(spark, s"$root/store"), "g",
      graft.operators.EdgeStoreConfig(weightCol = Some("w"),
        nStoreBuckets = 2))
    val schema = edges.toDF("src", "dst", "w").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "src", "dst")
    val all = edges.toDF("src", "dst", "w")
    def degs(df: org.apache.spark.sql.DataFrame) = df.orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(degs(store.degrees(spark)) ===
      degs(graft.operators.Graph.degrees(all, "src", "dst", Some("w"))))
    def ranks(df: org.apache.spark.sql.DataFrame) = df.orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ranks(store.pageRank(spark, 2)) === ranks(
      graft.operators.Graph.pageRank(all, "src", "dst", 2, Some("w"))))
    // a redelivered completed append key is a no-op (degrees unchanged)
    assert(store.ingestOnce(edges.filter(_._1 < 5).toDF("src", "dst", "w"),
      "src", "dst", Some(s"$root/ckpt#0")).isEmpty)
    assert(degs(store.degrees(spark)) ===
      degs(graft.operators.Graph.degrees(all, "src", "dst", Some("w"))))
  }

  test("append-store catch-up: streamed IVFADC appends serve the one-shot results") {
    val root = java.nio.file.Files.createTempDirectory("graft_adcstream").toString
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 5 + j).toFloat))
    }
    val all = vecs.toDF("vec_id", "embedding")
    val cents = graft.operators.Clustering.kmeans(
      all, "vec_id", "embedding", k = 4, iters = 1)
    val books = graft.operators.Quantization.pqTrain(
      graft.operators.Quantization.residuals(all, "vec_id", "embedding", cents),
      "id", "rvec", dim = 8, m = 4, ksub = 8, iters = 1)
    val inDir = s"$root/in"
    vecs.filter(_._1 < 20).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(inDir)
    vecs.filter(_._1 >= 20).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(inDir)
    val store = new graft.operators.IvfAdcStore(
      new graft.sources.Warehouse(spark, s"$root/store"), "t", cents, books,
      nStoreBuckets = 2)
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(all.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "vec_id", "embedding")
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val served = results(store.serve(queries, "vec_id", "embedding",
      k = 3, nProbes = 2))
    val oneShot = new graft.operators.IvfAdcStore(
      new graft.sources.Warehouse(spark, s"$root/oneshot"), "t", cents, books,
      nStoreBuckets = 2)
    oneShot.ingest(all, "vec_id", "embedding")
    assert(served === results(oneShot.serve(queries, "vec_id", "embedding",
      k = 3, nProbes = 2)) && served.nonEmpty)
    // redelivered completed append key: no-op
    assert(store.ingestOnce(vecs.filter(_._1 < 20).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Some(s"$root/ckpt#0")).isEmpty)
  }

  test("append-store catch-up: streamed gram-index appends check like one shot") {
    val root = java.nio.file.Files.createTempDirectory("graft_gramstream").toString
    val leak = "alpha bravo charlie delta echo foxtrot golf"
    val docs = (1L to 20L).map { i =>
      (i, if (i == 4L || i == 17L) s"document $i contains the passage $leak"
          else s"clean document $i about w${i}a w${i}b w${i}c w${i}d w${i}e")
    }
    val evalSet = Seq((100L, leak)).toDF("eid", "text")
    val inDir = s"$root/in"
    docs.filter(_._1 <= 10).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    docs.filter(_._1 > 10).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val idx = new graft.operators.Decontamination.GramIndex(
      spark, s"$root/idx", "t", n = 5, nStoreBuckets = 2)
    val schema = docs.toDF("doc_id", "text").schema
    Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      idx, s"$root/ckpt", "doc_id", "text")
    val flagged = idx.check(evalSet, "text").as[Long].collect().sorted.toSeq
    assert(flagged === Seq(4L, 17L),
      "both leaked docs flagged across micro-batches")
    // redelivered completed key: no duplicate postings (a dup would not
    // change the flagged id set, so assert on the postings row count)
    val before = new graft.sources.Warehouse(spark, s"$root/idx")
      .read("t_dc_gram").count()
    assert(idx.ingestOnce(docs.filter(_._1 <= 10).toDF("doc_id", "text"),
      "doc_id", "text", Some(s"$root/ckpt#0")).isEmpty)
    assert(new graft.sources.Warehouse(spark, s"$root/idx")
      .read("t_dc_gram").count() === before)
  }

  test("auto-compaction keeps a 200-micro-batch store under the file " +
      "bound with serve correct throughout") {
    val root = java.nio.file.Files.createTempDirectory("graft_autoc").toString
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(4)(j => math.cos(i % 5 + j * 0.7).toFloat))
    }
    val cents = vecs.take(4).map { case (i, v) =>
      (i.toInt, v.map(_.toDouble).toSeq)
    }.toDF("cell", "cvec")
    val inDir = s"$root/in"
    // 200 one-row files in one job → maxFilesPerTrigger=1 gives one
    // micro-batch per row
    vecs.toDF("vec_id", "embedding").repartition(200, col("vec_id"))
      .write.parquet(inDir)
    val storeRoot = s"$root/store"
    val store = new graft.operators.IvfStore(
      new graft.sources.Warehouse(spark, storeRoot), "t", cents,
      nStoreBuckets = 2)
    val schema = vecs.toDF("vec_id", "embedding").schema
    val policy = Streaming.CompactionPolicy(maxFiles = 48, checkEvery = 8)
    def drain(): Unit = Streaming.runStoreAvailableNow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      store, s"$root/ckpt", "vec_id", "embedding",
      autoCompact = Some(policy))
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    def served() = store.serve(queries, "vec_id", "embedding",
        k = 3, nProbes = 2)
      .select("query_id", "nbr_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    drain()
    // the stream self-compacted: file count is bounded by the policy
    // threshold plus at most checkEvery batches' worth of appends —
    // nowhere near the ~1 file-set per micro-batch of the un-compacted
    // layout (200 batches × ~3 files ≈ 600)
    val files = Streaming.dataFileCount(storeRoot)
    assert(files <= policy.maxFiles + 8 * 6,
      s"store has $files data files after 200 micro-batches")
    // serve equals a one-shot build over the same corpus
    val oneShot = new graft.operators.IvfStore(
      new graft.sources.Warehouse(spark, s"$root/oneshot"), "t", cents,
      nStoreBuckets = 2)
    oneShot.ingest(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val expect = oneShot.serve(queries, "vec_id", "embedding",
        k = 3, nProbes = 2)
      .select("query_id", "nbr_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(served() === expect && expect.nonEmpty)
    // a second catch-up over the drained input is a clean no-op (the
    // compactions didn't disturb the replay ledger) and serve stays green
    drain()
    assert(served() === expect)
  }

  test("dataFileCount counts parquet data files only — a checkpoint " +
      "under the store root cannot ratchet the policy") {
    // streaming checkpoints accrete one small offsets/commits file per
    // micro-batch and compact() never touches them: counted, they would
    // push the file count past maxFiles PERMANENTLY and the policy
    // would fire a full store rewrite every checkEvery batches, forever
    val root = java.nio.file.Files.createTempDirectory("graft_dfc")
    def put(rel: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, "x".getBytes)
      ()
    }
    put("tbl/part-00000-abc.snappy.parquet")
    put("tbl/part-00001-abc.snappy.parquet")
    put("tbl/_SUCCESS")
    put("state/v3/part-00000.parquet")
    put("ckpt/metadata")
    put("ckpt/offsets/0"); put("ckpt/offsets/1"); put("ckpt/offsets/2")
    put("ckpt/commits/0"); put("ckpt/commits/1")
    put("ckpt/sources/0/0")
    assert(Streaming.dataFileCount(root.toString) === 3)
  }
}
