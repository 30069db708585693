package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{Jobs, SparkSpec}

class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_store").toString

  /** The rows of `docs` that `op` has not processed. */
  private def unprocessed(st: StagingStore, op: String) =
    st.readSplit("docs", op)._1

  test("staging: unprocessed-only incremental read with watermark") {
    val root = tmpRoot()
    val st = new StagingStore(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    st.appendAt("docs", Seq((1, "a"), (2, "b")).toDF("id", "v"), t0)
    // first read sees everything
    val batch1 = unprocessed(st, "op1")
    assert(batch1.count() === 2)
    st.advanceWatermarkTo("docs", "op1", t0)
    // nothing new → empty
    assert(unprocessed(st, "op1").count() === 0)
    // late batch arrives → only it is read
    st.appendAt("docs", Seq((3, "c")).toDF("id", "v"),
      java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))
    val batch2 = unprocessed(st, "op1")
    assert(batch2.select("id").as[Int].collect().toSeq === Seq(3))
    // a second operation has its own watermark and still sees everything
    assert(unprocessed(st, "op2").count() === 3)
  }

  test("staging watermark: microsecond instants round-trip; the boundary row is read once") {
    val root = tmpRoot()
    val st = new StagingStore(spark, root)
    assert(st.watermark("docs", "op") === None, "absent watermark reads as None")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")
    st.appendAt("docs", Seq(1).toDF("id"), t0)
    // the watermark is the max instant the read returns
    st.advanceWatermarkTo("docs", "op", unprocessed(st, "op")
      .agg(max(col("__ingested_at"))).head().getTimestamp(0))
    assert(st.watermark("docs", "op") === Some(t0))
    assert(st.watermark("docs", "op").get.getNanos === 123456000)
    // the row at exactly the watermark is history: not re-read
    val (fresh, history) = st.readSplit("docs", "op")
    assert(fresh.count() === 0)
    assert(history.select("id").as[Int].collect().toSeq === Seq(1))
    // one microsecond later is unprocessed: not skipped
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123457")
    st.appendAt("docs", Seq(2).toDF("id"), t1)
    assert(unprocessed(st, "op").select("id").as[Int].collect().toSeq
      === Seq(2))
    st.advanceWatermarkTo("docs", "op", t1)
    assert(st.watermark("docs", "op") === Some(t1))
    assert(unprocessed(st, "op").count() === 0)
  }

  test("staging watermark: a temp file left by a crashed write is ignored") {
    val root = tmpRoot()
    val st = new StagingStore(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    st.appendAt("docs", Seq(1).toDF("id"), t0)
    val dir = new java.io.File(root, "watermarks")
    dir.mkdirs()
    val tmp = new java.io.File(dir, "docs__op.instant.tmp").toPath
    // crash between the temp write and the rename of the first advance
    Files.writeString(tmp, "2099-01-01T00:00:00Z")
    assert(st.watermark("docs", "op") === None)
    assert(unprocessed(st, "op").count() === 1)
    st.advanceWatermarkTo("docs", "op", t0)
    // crash in a later advance: the committed marker still holds
    Files.writeString(tmp, "2099-01-01T00:00:00Z")
    assert(st.watermark("docs", "op") === Some(t0))
    assert(unprocessed(st, "op").count() === 0)
  }

  test("staging watermark: a root with the one-row parquet marker is refused") {
    val root = tmpRoot()
    val st = new StagingStore(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    st.appendAt("docs", Seq(1).toDF("id"), t0)
    st.appendAt("docs", Seq(2).toDF("id"), t1)
    Seq(t0).toDF("wm").write.parquet(s"$root/watermarks/docs__op")
    val e = intercept[IllegalArgumentException](unprocessed(st, "op"))
    assert(e.getMessage.contains("docs__op") && e.getMessage.contains("rebuild"),
      e.getMessage)
    // reading nothing, the refusal starts no job either
    val (_, ran) = graft.Jobs.during(spark)(
      intercept[IllegalArgumentException](st.watermark("docs", "op")))
    assert(ran.jobs.isEmpty, ran)
  }

  test("warehouse: idempotent append is exactly-once under replay") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    val batch = Seq(("2024-01-01", "p1", 10), ("2024-01-01", "p2", 20))
      .toDF("date", "prop", "v")
    assert(wh.idempotentAppend("facts", batch, Seq("prop", "date")) === 2)
    // exact replay: no new rows
    assert(wh.idempotentAppend("facts", batch, Seq("prop", "date")) === 0)
    assert(wh.read("facts").count() === 2)
    // partial overlap: only the new key lands
    val next = Seq(("2024-01-01", "p2", 99), ("2024-01-02", "p1", 30))
      .toDF("date", "prop", "v")
    assert(wh.idempotentAppend("facts", next, Seq("prop", "date")) === 1)
    assert(wh.read("facts").count() === 3)
    // original p2 value retained (first write wins)
    assert(wh.read("facts").filter(col("prop") === "p2").select("v")
      .as[Int].head() === 20)
  }

  test("warehouse: merge replaces matched keys, appends new, keeps other partitions") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.append("metrics", Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0),
      ("2024-01-02", 3L, 30.0)).toDF("date", "id", "v"))
    // update id=1, insert id=4, both in the 01-01 partition; 01-02 untouched
    wh.merge("metrics", Seq(
      ("2024-01-01", 1L, 11.0), ("2024-01-01", 4L, 40.0)).toDF("date", "id", "v"),
      keys = Seq("id"))
    val out = wh.read("metrics").as[(Long, Double, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out === Map(
      1L -> (11.0, "2024-01-01"), 2L -> (20.0, "2024-01-01"),
      4L -> (40.0, "2024-01-01"), 3L -> (30.0, "2024-01-02")))
    // merge into a missing table degrades to plain append
    wh.merge("fresh", Seq(("2024-01-01", 9L, 9.0)).toDF("date", "id", "v"),
      keys = Seq("id"))
    assert(wh.read("fresh").count() === 1)
    // replaying the same merge is a no-op on values (idempotent upsert)
    wh.merge("metrics", Seq(
      ("2024-01-01", 1L, 11.0), ("2024-01-01", 4L, 40.0)).toDF("date", "id", "v"),
      keys = Seq("id"))
    assert(wh.read("metrics").count() === 4)
  }

  test("property: idempotent append — replaying any batch sequence equals once") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // keys are REPLAY identity, not row identity: a batch may carry many
    // rows per key (a GSC day), so the model keeps every occurrence from
    // the FIRST batch that introduced a key and drops later batches' rows
    val genBatch = Gen.listOf(Gen.choose(1, 40))
    val batches = Gen.listOfN(6, genBatch)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    batches.foreach { ids =>
      val df = ids.map(i => ("2024-01-01", i.toLong)).toDF("date", "id")
      if (ids.nonEmpty) {
        wh.idempotentAppend("props", df, Seq("id"))
        wh.idempotentAppend("props", df, Seq("id")) // immediate replay
      }
    }
    val stored = wh.read("props").select("id").as[Long].collect().sorted.toSeq
    val expected = batches.foldLeft((Set.empty[Int], List.empty[Int])) {
      case ((seen, acc), ids) =>
        val fresh = ids.filterNot(seen)
        (seen ++ fresh, acc ++ fresh)
    }._2.map(_.toLong).sorted
    assert(stored === expected,
      "replaying any batch sequence adds each key's rows exactly once")
  }

  test("warehouse: truncate replaces") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.append("t", Seq(("2024-01-01", 1)).toDF("date", "v"))
    wh.truncate("t", Seq(("2024-01-02", 2)).toDF("date", "v"))
    assert(wh.read("t").select("v").as[Int].collect().toSeq === Seq(2))
  }

  test("bucketed tables join without a shuffle on either side") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    val facts = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val dims = (1 to 1000).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    wh.appendBucketed("facts_b", facts, Seq("k"), 4)
    wh.appendBucketed("dims_b", dims, Seq("k"), 4)
    val joined = wh.readBucketed("facts_b").join(wh.readBucketed("dims_b"), "k")
    // force SMJ so the bucket layout (not a broadcast) carries the join
    val plan = spark.sessionState.executePlan(
      joined.hint("merge").queryExecution.logical).executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() === 1000)
  }

  test("a local relation is appended by one task: no exchange, at most nBuckets files per partition") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    val local = (1 to 500).map(i => (i.toLong, i % 3, s"v$i")).toDF("k", "p", "v")
    assert(graft.core.DriverRoute.isLocal(local))
    wh.appendBucketed("dist_b", spark.range(1, 501).selectExpr("id AS k", "id * 2 AS w"),
      Seq("k"), 8)
    for ((table, part) <- Seq("local_b" -> None, "local_pb" -> Some("p"))) {
      val (_, ran) = Jobs.during(spark)(
        wh.appendBucketed(table, local, Seq("k"), 8, part))
      assert(ran.jobs.size === 1 && ran.shuffleStages === 0,
        s"$table:\n${ran.jobs.mkString("\n---\n")}")
      val dir = new java.io.File(s"$root/warehouse/$table")
      val partDirs = part.fold(Seq(dir))(_ => dir.listFiles().toSeq.filter(_.isDirectory))
      assert(partDirs.size === part.fold(1)(_ => 3))
      partDirs.foreach { d =>
        val files = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(files >= 1 && files <= 8, s"$table: $files files in ${d.getName}")
      }
      // every row sits in its bucket: the join against a table the
      // exchange route wrote stays exchange-free and finds every key
      val joined = wh.readBucketed(table).hint("merge")
        .join(wh.readBucketed("dist_b"), "k")
      val plan = spark.sessionState.executePlan(
        joined.queryExecution.logical).executedPlan.toString
      assert(!plan.contains("Exchange"), s"$table join must not shuffle:\n$plan")
      assert(joined.count() === 500)
    }
  }

  test("bucketed tables reopen in a fresh session from their files and sidecars") {
    // a persisted signature store must survive the JVM that wrote it;
    // a handle on a new session shares nothing with the writer but the
    // on-disk data and sidecars — all a fresh driver has
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.appendBucketed("reopen_b", (1 to 50).map(i => (i.toLong, i * 3.0))
      .toDF("k", "v"), Seq("k"), 4)
    val fresh = spark.newSession()
    val wh2 = new Warehouse(fresh, root)
    val reopened = wh2.readBucketed("reopen_b")
    assert(reopened.count() === 50)
    // the reopened table still carries the bucket layout: joining two
    // reopened tables stays exchange-free
    wh.appendBucketed("reopen_c", (1 to 50).map(i => (i.toLong, s"d$i"))
      .toDF("k", "name"), Seq("k"), 4)
    val plan = fresh.sessionState.executePlan(
      reopened.join(wh2.readBucketed("reopen_c"), "k").hint("merge")
        .queryExecution.logical).executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"reopened bucketed join must not shuffle:\n$plan")
    // appends keep working against the reopened table
    wh2.appendBucketed("reopen_b",
      fresh.range(51, 52).selectExpr("id AS k", "id * 3.0D AS v"), Seq("k"), 4)
    assert(wh2.readBucketed("reopen_b").count() === 51)
  }

  test("a bucketed read sees another session's append") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.appendBucketed("shared_b", (1 to 100).map(i => (i.toLong, i * 2.0))
      .toDF("k", "v"), Seq("k"), 4)
    assert(wh.readBucketed("shared_b").count() === 100)
    val other = spark.newSession()
    new Warehouse(other, root).appendBucketed("shared_b",
      other.range(101, 201).selectExpr("id AS k", "id * 2.0D AS v"), Seq("k"), 4)
    assert(wh.readBucketed("shared_b").count() === 200)
  }

  test("bucketed append rejects a drifted schema; a rolled-back first append leaves no sidecar") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.appendBucketed("schema_t", Seq((1L, "a")).toDF("k", "v"), Seq("k"), 4)
    val e = intercept[IllegalArgumentException] {
      wh.appendBucketed("schema_t", Seq((2L, "b", 3)).toDF("k", "v", "x"),
        Seq("k"), 4)
    }
    assert(e.getMessage.contains("bucketed table 'schema_t'"))
    assert(wh.readBucketed("schema_t").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a")))
    // a first append whose transaction throws is undone with its sidecars
    intercept[IllegalStateException] {
      StoreTxn.transact(spark, root) {
        wh.paramsSpecValidated("undo_t", Seq("n" -> "3"))
        wh.appendBucketed("undo_t", Seq((1L, "a")).toDF("k", "v"), Seq("k"), 4)
        throw new IllegalStateException("ingest failed after the append")
      }
    }
    val left = new java.io.File(s"$root/warehouse").list().filter(_.contains("undo_t"))
    assert(left.isEmpty, left.mkString(", "))
    wh.paramsSpecValidated("undo_t", Seq("n" -> "5"))
    wh.appendBucketed("undo_t", Seq((1L, 2.0, 3)).toDF("k", "x", "y"), Seq("k"), 8)
    assert(wh.readBucketed("undo_t").as[(Long, Double, Int)].collect().toSeq ===
      Seq((1L, 2.0, 3)))
    // a table with data but no recorded schema is refused both ways
    assert(new java.io.File(s"$root/warehouse/_graft_schema_schema_t").delete())
    Seq(() => wh.readBucketed("schema_t"), () =>
        wh.appendBucketed("schema_t", Seq((2L, "b")).toDF("k", "v"), Seq("k"), 4))
      .foreach { op =>
        val r = intercept[IllegalArgumentException](op())
        assert(r.getMessage.contains("no recorded schema") &&
          r.getMessage.contains("rebuild"), r.getMessage)
      }
  }

  test("bucketed append rejects a drifted bucket layout instead of corrupting the spec") {
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    wh.appendBucketed("drift_t", Seq((1L, "a")).toDF("k", "v"), Seq("k"), 4)
    val e = intercept[IllegalArgumentException] {
      wh.appendBucketed("drift_t", Seq((2L, "b")).toDF("k", "v"), Seq("k"), 8)
    }
    assert(e.getMessage.contains("bucket layout mismatch"))
    // the original spec survives and the store still opens
    assert(wh.readBucketed("drift_t").count() === 1)
  }

  test("bucketed read reports a spec-only shell (interrupted first write)") {
    // the spec is written BEFORE the data, so a crash mid-first-write
    // leaves spec-without-data; reopening must say so, not fail schema
    // inference on an empty directory
    val root = tmpRoot()
    val wh = new Warehouse(spark, root)
    new java.io.File(s"$root/warehouse/shell_t").mkdirs()
    Files.writeString(new java.io.File(
      s"$root/warehouse/_graft_bucket_spec_shell_t").toPath, "4\nk\n")
    val e = intercept[IllegalArgumentException] {
      wh.readBucketed("shell_t")
    }
    assert(e.getMessage.contains("no data files"))
  }

  test("queue: enqueue / drain deletes on read / re-enqueue") {
    val root = tmpRoot()
    val q = new QueueStore(spark, root)
    val schema = Seq((1, "x")).toDF("id", "spec").schema
    q.enqueue("retry", Seq((1, "x"), (2, "y")).toDF("id", "spec"))
    val drained = q.drain("retry", schema)
    assert(drained.size === 2)
    assert(q.peek("retry", schema).count() === 0, "delete-on-read")
    // dispatch failure → re-enqueue survives for the next run
    q.enqueue("retry", spark.createDataFrame(
      spark.sparkContext.parallelize(drained.take(1)), schema))
    assert(q.peek("retry", schema).count() === 1)
  }

  private val Page = "https://ex.com/a"

  /** Each staging collection's frame, as its source stages it. */
  private val stagedBy: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "html_parser" -> (() => HtmlParserSource.stage(spark, Seq(ConfigUrl("s", Page)),
      FixtureFetcher.html(Map(Page -> "<html><head><title>A</title></head></html>")))),
    "robotstxt" -> (() => RobotstxtSource.stage(spark, Seq(ConfigUrl("s", "https://ex.com/")),
      new FixtureFetcher(Map("https://ex.com/robots.txt" -> FetchResult(
        "https://ex.com/robots.txt", 200, Map("content-type" -> "text/plain"),
        "Sitemap: https://ex.com/sitemap.xml\n"))))),
    "pagespeed" -> (() => PageSpeedSource.fetchRaw(spark,
      Seq(PageSpeedSource.Request("home", Page, "mobile")),
      new FixtureFetcher(Map(Page -> FetchResult(Page, 200,
        Map("content-type" -> "application/json"), """{"lighthouseResult":{}}"""))),
      (url, _) => url).drop("retries")))

  stagedBy.foreach { case (c, staged) =>
    test(s"staging $c: the creating append pins the schema; reads start no job") {
      val root = tmpRoot()
      val st = new StagingStore(spark, root)
      val dir = s"$root/staging/$c"
      val sidecar = new java.io.File(dir, "_graft_schema.json")
      def recorded = org.apache.spark.sql.types.DataType.fromJson(
        Files.readString(sidecar.toPath))
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      st.appendAt(c, staged(), t0)
      assert(recorded === spark.read.parquet(dir).schema)
      st.appendAt(c, staged(), java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))
      st.advanceWatermarkTo(c, "op", t0)
      val ((fresh, history), ran) = graft.Jobs.during(spark)(st.readSplit(c, "op"))
      assert(ran.jobs.isEmpty && ran.queries.isEmpty, ran)
      assert(fresh.count() === 1 && history.count() === 1)
      val e = intercept[IllegalArgumentException](st.appendAt(c,
        staged().withColumn("extra", lit(1)), java.sql.Timestamp.valueOf("2024-01-03 10:00:00")))
      assert(e.getMessage.contains(s"'$c'"))
      assert(st.readAll(c).count() === 2, "the rejected append wrote nothing")
      // a collection written before schemas were recorded is refused,
      // for reads and appends alike, and nothing is inferred
      assert(sidecar.delete())
      val again = staged()
      val (_, refusals) = graft.Jobs.during(spark)(Seq(() => st.readAll(c),
          () => st.appendAt(c, again, java.sql.Timestamp.valueOf("2024-01-03 10:00:00")))
        .foreach { op =>
          val r = intercept[IllegalArgumentException](op())
          assert(r.getMessage.contains("no recorded schema") &&
            r.getMessage.contains("rebuild"), r.getMessage)
        })
      assert(refusals.jobs.isEmpty, refusals)
      assert(!sidecar.exists() && spark.read.parquet(dir).count() === 2)
    }
  }

  test("queue: peek and drain return every stored column with the caller's schema") {
    val root = tmpRoot()
    val q = new QueueStore(spark, root)
    val now = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // the alert queue after a failed dispatch rewrote what remains
    q.enqueue("alerts", graft.plans.Alerting.runCheck(spark,
      graft.plans.Alerting.CheckConfig(query = "SELECT 1 AS id", message = "m {id}"),
      now).alerts)
    graft.plans.Alerting.dispatch(spark, q, "alerts", Seq("default"),
      new graft.plans.Alerting.FailingNotifier)
    q.enqueue("pagespeed_retry", PageSpeedSource.retryRows(PageSpeedSource.fetchRaw(spark,
      Seq(PageSpeedSource.Request("home", Page, "mobile")), new FixtureFetcher(Map.empty),
      (url, _) => url)))
    val down = new SearchAnalyticsApi {
      override def query(property: String, searchType: String,
                         start: java.time.LocalDate, end: java.time.LocalDate,
                         dimensions: Seq[String], startRow: Int,
                         rowLimit: Int): Seq[GscRow] = throw new RuntimeException("down")
    }
    GscSource.run(spark, down, Seq(GscConfig("https://ex.com/", "gsc",
      requestDate = java.time.LocalDate.of(2024, 1, 1))), new Warehouse(spark, root), q)
    Seq("alerts" -> graft.plans.Alerting.alertSchema,
        "pagespeed_retry" -> PageSpeedSource.RetrySchema,
        "gsc_retry" -> GscSource.RetrySchema).foreach { case (queue, schema) =>
      val stored = spark.read.parquet(s"$root/queues/$queue")
      def rows(r: Seq[org.apache.spark.sql.Row]) = r.map(_.toSeq.mkString("|")).sorted
      val expected = rows(stored.collect().toSeq)
      assert(expected.nonEmpty, queue)
      val (peeked, ran) = graft.Jobs.during(spark)(q.peek(queue, schema))
      assert(ran.jobs.isEmpty, s"$queue: peek ran $ran")
      assert(peeked.columns.toSeq === stored.columns.toSeq, queue)
      assert(rows(peeked.collect().toSeq) === expected, queue)
      assert(rows(q.drain(queue, schema)) === expected, queue)
      assert(!q.exists(queue), queue)
    }
  }

  test("store writes go through LocalFs: the stock write's files and modes") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import java.nio.file.attribute.PosixFilePermissions
    // the mode map is chmod's: every octal digit of user, group and other
    for (mode <- Seq("000", "600", "640", "644", "700", "750", "755", "777"))
      assert(LocalFs.posix(new FsPermission(mode)) === PosixFilePermissions.fromString(
        new FsPermission(mode).toString), mode)
    // the write options reach the file system a write resolves; the
    // session's cached one is left as it was
    val root = tmpRoot()
    val conf = spark.sessionState.newHadoopConfWithOptions(LocalFs.writeOptions)
    assert(new Path(root).getFileSystem(conf).isInstanceOf[LocalFs])
    assert(!FileSystem.get(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    val fs = new Path(root).getFileSystem(conf)
    val f = new Path(s"$root/mode_probe")
    fs.create(f).close()
    fs.setPermission(f, new FsPermission("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(
      java.nio.file.Paths.get(s"$root/mode_probe"))) === "rw-r-----")
    // one local frame written both ways: the same rows, files and modes
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.coalesce(1).write.parquet(s"$root/stock")
    df.coalesce(1).write.options(LocalFs.writeOptions).parquet(s"$root/nofork")
    def layout(dir: String) = {
      val base = java.nio.file.Paths.get(dir)
      val all = Files.walk(base).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      all.map { p =>
        val kind = if (Files.isDirectory(p)) "dir" else p.getFileName.toString
          .replaceAll("part-.*\\.parquet", "part.parquet")
        kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.sorted
    }
    assert(layout(s"$root/nofork") === layout(s"$root/stock"))
    assert(spark.read.parquet(s"$root/nofork").as[(Long, String)].collect().toSet ===
      df.as[(Long, String)].collect().toSet)
    // a bucketed store append writes through it and reads back
    val wh = new Warehouse(spark, root)
    wh.appendBucketed("nofork_b", df, Seq("k"), 8)
    assert(wh.readBucketed("nofork_b").count() === 40)
  }
}
