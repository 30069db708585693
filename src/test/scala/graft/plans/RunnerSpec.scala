package graft.plans

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.{CrashMatrix, Jobs}
import graft.core.{ConfigLoader, Url}
import graft.sources._

/** The SEO operations end to end: fetch → stage → metatags /
  * responseheader / htmlheadings / robotstxt checks → the checks table,
  * over two cron cycles of a fixture site. */
class RunnerSpec extends CrashMatrix {

  private val One = "https://a.example/one.html"
  private val Two = "https://a.example/two.html"
  private val Three = "https://b.example/three.html"
  private val Robots = Seq("https://a.example/robots.txt", "https://b.example/robots.txt")

  private val yaml =
    s"""urlsets:
       |  pages:
       |    - url: '$One'
       |    - url: '$Two'
       |    - url: '$Three'
       |  robots:
       |    - url: 'https://a.example/'
       |    - url: 'https://b.example/'
       |aggregations:
       |  html_parser:
       |    cron: '*/5 * * * *'
       |    urlsets: ['pages']
       |  robotstxt:
       |    cron: '*/5 * * * *'
       |    urlsets: ['robots']
       |operations:
       |  metatags:
       |    cron: '*/5 * * * *'
       |    urlsets:
       |      - url: 'pages'
       |        checks:
       |          title:
       |            has_title: true
       |            has_title_changed: false
       |            has_title_duplicates: false
       |          description:
       |            has_description: true
       |          canonical:
       |            canonical_href_200: true
       |  responseheader:
       |    cron: '*/5 * * * *'
       |    urlsets:
       |      - url: 'pages'
       |        checks:
       |          status_code:
       |            assert: 200
       |  htmlheadings:
       |    cron: '*/5 * * * *'
       |    urlsets:
       |      - url: 'pages'
       |        checks:
       |          count_headline_h1: 1
       |  robotstxt:
       |    cron: '*/5 * * * *'
       |    urlsets:
       |      - url: 'robots'
       |        checks:
       |          status_code: 200
       |          has_sitemap_xml: true
       |""".stripMargin

  private val Operations = Seq("metatags", "responseheader", "htmlheadings", "robotstxt")

  private def page(url: String, title: String, desc: Boolean): FetchResult = {
    val d = if (desc) s"""<meta name="description" content="about $title">""" else ""
    FetchResult(url, 200, Map("content-type" -> "text/html; charset=utf-8"),
      s"""<html><head><title>$title</title>$d<link rel="canonical" href="$url">""" +
        s"""</head><body><h1>$title</h1></body></html>""")
  }

  /** Cycle 2 changes One's title, drops Two's description and turns
    * Three non-200; robots files stay the same. */
  private def site(cycle: Int): Map[String, FetchResult] = {
    val pages =
      if (cycle == 1) Seq(page(One, "One", desc = true), page(Two, "Two", desc = true),
        page(Three, "Three", desc = true))
      else Seq(page(One, "One v2", desc = true), page(Two, "Two", desc = false),
        FetchResult(Three, 503, Map("content-type" -> "text/html"),
          "<html><body><p>Service unavailable</p></body></html>"))
    val robots = Robots.map(r => r -> FetchResult(r, 200, Map("content-type" -> "text/plain"),
      s"User-agent: *\nSitemap: ${r.stripSuffix("robots.txt")}sitemap.xml\n"))
    (pages.map(p => p.url -> p) ++ robots).toMap
  }

  private def cycleTs(cycle: Int) =
    Timestamp.valueOf(s"2026-01-0${cycle} 00:00:00")

  private def runner(root: String, cycle: Int): Runner = {
    val ts = cycleTs(cycle)
    new Runner(spark, ConfigLoader.load(yaml), root, new FixtureFetcher(site(cycle)),
      now = () => ts)
  }

  private def rows(root: String, cycle: Int): Seq[(String, String, Boolean)] =
    spark.read.parquet(s"$root/warehouse/checks")
      .filter(col("created") === lit(cycleTs(cycle)))
      .select(col("check"), Url.render(col("url")), col("valid"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq.sorted

  private def pageRows(url: String, title: Boolean, changed: Boolean,
                       desc: Boolean, ok: Boolean) = Seq(
    ("metatags-has_title", url, title),
    ("metatags-has_multiple_titles", url, true),
    ("metatags-has_title_changed", url, !changed),
    ("metatags-has_description", url, desc),
    ("metatags-has_multiple_descriptions", url, true),
    ("metatags-canonical_href_200", url, ok),
    ("responseheader-status_code", url, ok),
    ("htmlheadings-count_headline_h1", url, ok)) ++
    (if (title) Seq(("metatags-has_title_duplicates", url, true)) else Nil)

  private val robotRows = Robots.flatMap(r =>
    Seq(("robotstxt-status_code", r, true), ("robotstxt-has_sitemap_xml", r, true)))

  test("two cron cycles land exactly the expected check rows; replay adds none") {
    val root = Files.createTempDirectory("graft_runner").toString
    val checksDir = new java.io.File(root, "warehouse/checks")
    def checkFiles(): Int =
      if (!checksDir.exists()) 0
      else scala.util.Using.resource(Files.walk(checksDir.toPath))(
        _.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt)
    def cycle(c: Int): Unit = {
      val r = runner(root, c)
      r.runAggregation("html_parser")
      r.runAggregation("robotstxt")
      Operations.foreach { op =>
        val collection = if (op == "robotstxt") "robotstxt" else "html_parser"
        val partitions =
          r.staging.readSplit(collection, op)._1.rdd.getNumPartitions
        val before = checkFiles()
        r.runOperation(op)
        // one file set per append: at most one file per batch partition,
        // however many checks the operation computes
        assert(checkFiles() - before <= partitions,
          s"$op wrote ${checkFiles() - before} files for $partitions partitions")
      }
    }

    cycle(1)
    // the first cycle has no history: every title counts as changed
    assert(rows(root, 1) === (
      pageRows(One, title = true, changed = true, desc = true, ok = true) ++
      pageRows(Two, title = true, changed = true, desc = true, ok = true) ++
      pageRows(Three, title = true, changed = true, desc = true, ok = true) ++
      robotRows).sorted)

    cycle(2)
    assert(rows(root, 2) === (
      pageRows(One, title = true, changed = true, desc = true, ok = true) ++
      pageRows(Two, title = true, changed = false, desc = false, ok = true) ++
      pageRows(Three, title = false, changed = true, desc = false, ok = false) ++
      robotRows).sorted)

    // no new staged documents: every operation is a no-op
    val before = spark.read.parquet(s"$root/warehouse/checks").count()
    val replay = runner(root, 2)
    Operations.foreach(replay.runOperation)
    assert(spark.read.parquet(s"$root/warehouse/checks").count() === before)
  }

  private def dataFiles(dir: java.io.File): Set[String] =
    if (!dir.exists()) Set.empty
    else scala.util.Using.resource(Files.walk(dir.toPath))(_.iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet)

  /** The root's commit record: its epoch, the staging high marks and
    * every operation's watermark. */
  private def commitRecord(root: String): String =
    Files.readString(new java.io.File(root, "_txn/commit").toPath)

  private def collectionOf(op: String) = if (op == "robotstxt") "robotstxt" else "html_parser"

  private def twoCycles(root: String): Unit = (1 to 2).foreach { c =>
    val r = runner(root, c)
    r.runAggregation("html_parser")
    r.runAggregation("robotstxt")
    Operations.foreach(r.runOperation)
  }

  test("a replay with nothing new staged writes no data file and keeps every watermark") {
    val root = Files.createTempDirectory("graft_runner_replay").toString
    val checksDir = new java.io.File(root, "warehouse/checks")
    twoCycles(root)
    val files = dataFiles(checksDir)
    val record = commitRecord(root)
    val staging = runner(root, 2).staging
    assert(files.nonEmpty &&
      Operations.forall(op => staging.watermark(collectionOf(op), op).isDefined))
    Operations.foreach(runner(root, 2).runOperation)
    assert(dataFiles(checksDir) === files)
    assert(commitRecord(root) === record)
    assert(!new java.io.File(root, "watermarks").exists())
  }

  test("a replay with nothing new staged starts no Spark job and leaves the commit " +
      "record and the check files unchanged") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val root = Files.createTempDirectory("graft_runner_empty").toString
    val checksDir = new java.io.File(root, "warehouse/checks")
    val dupsOnly =
      s"""urlsets:
         |  pages:
         |    - url: '$One'
         |    - url: '$Two'
         |aggregations:
         |  html_parser:
         |    cron: '*/5 * * * *'
         |    urlsets: ['pages']
         |operations:
         |  metatags:
         |    cron: '*/5 * * * *'
         |    urlsets:
         |      - url: 'pages'
         |        checks:
         |          title:
         |            has_title_duplicates: false
         |""".stripMargin
    def cycle(c: Int) = {
      val ts = cycleTs(c)
      new Runner(spark, ConfigLoader.load(dupsOnly), root, new FixtureFetcher(site(c)),
        now = () => ts)
    }
    val first = cycle(1)
    first.runAggregation("html_parser")
    first.runOperation("metatags")
    val (files, record) = (dataFiles(checksDir), commitRecord(root))
    assert(files.nonEmpty)
    val (_, replay) = Jobs.during(spark)(cycle(1).runOperation("metatags"))
    assert(replay.jobs.isEmpty && replay.queries.isEmpty, replay)
    assert(dataFiles(checksDir) === files)
    assert(commitRecord(root) === record)
  }

  test("a crash at the checks append or before its commit: a blind retry equals a " +
      "clean run's check rows and commit record") {
    val warm = tmp("graft_runner_warm_")
    val r1 = runner(warm, 1)
    r1.runAggregation("html_parser")
    r1.runAggregation("robotstxt")
    Operations.foreach(r1.runOperation)
    val r2 = runner(warm, 2)
    r2.runAggregation("html_parser")
    r2.runAggregation("robotstxt")
    def observe(root: String) = (rows(root, 1) ++ rows(root, 2)).map(_.toString)
    // each operation's one write is its checks append
    Seq("metatags", "robotstxt").foreach(op =>
      crashMatrix(warm, touches = 1)(runner(_, 2).runOperation(op))(observe))
  }

  test("a crash between a staging write and its high-mark commit: the rows are " +
      "checked exactly once, after the next append") {
    val root = tmp("graft_runner_stage_crash_")
    val r1 = runner(root, 1)
    r1.runAggregation("html_parser")
    r1.runAggregation("robotstxt")
    Operations.foreach(r1.runOperation)
    val r2 = runner(root, 2)
    StoreTxn.hooks.crashBeforeCommit = true
    crashAndExpire(r2.runAggregation("html_parser"))
    r2.runAggregation("robotstxt")
    Operations.foreach(r2.runOperation)
    // the pages are staged, but no committed append covers them yet
    assert(runner(root, 2).staging.readAll("html_parser")
      .filter(col("date") === lit(cycleTs(2))).count() === 3)
    assert(rows(root, 2) === robotRows.sorted)
    val r3 = runner(root, 3)
    r3.runAggregation("html_parser")
    Operations.foreach(r3.runOperation)
    val expected = (
      pageRows(One, title = true, changed = true, desc = true, ok = true) ++
      pageRows(Two, title = true, changed = false, desc = false, ok = true) ++
      pageRows(Three, title = false, changed = true, desc = false, ok = false)).sorted
    val pages = rows(root, 2).filterNot(_._1.startsWith("robotstxt-"))
    // every check of every page once; the duplicates family also sees the
    // next cycle's copies of the same pages in its batch
    assert(pages.map(r => (r._1, r._2)) === expected.map(r => (r._1, r._2)))
    assert(pages.filterNot(_._1.endsWith("_duplicates")) ===
      expected.filterNot(_._1.endsWith("_duplicates")))
  }

  test("a row-local check operation is one Spark job") {
    val root = Files.createTempDirectory("graft_runner_jobs").toString
    twoCycles(root)
    val r = runner(root, 3)
    r.runAggregation("html_parser")
    r.runAggregation("robotstxt")
    Seq("responseheader", "htmlheadings", "robotstxt").foreach { op =>
      val (_, ran) = Jobs.during(spark)(r.runOperation(op))
      assert(ran.jobs.size === 1, s"$op ran:\n" + ran.jobs.mkString("\n---\n"))
    }
  }

  test("pagespeed operation checks each staged Lighthouse result once") {
    val root = Files.createTempDirectory("graft_runner_psi").toString
    val psiYaml =
      s"""urlsets:
         |  pages:
         |    - url: '$One'
         |aggregations:
         |  google_pagespeed:
         |    cron: '0 */3 * * *'
         |    settings:
         |      apiKey: 'k'
         |      configurations:
         |        - cluster:
         |            home: ['$One', '$Two']
         |          strategy: 'mobile'
         |operations:
         |  pagespeed:
         |    cron: '*/5 * * * *'
         |    checks:
         |      fcp_score:
         |        mobile: 0.5
         |      performance_score:
         |        mobile: 0.5
         |""".stripMargin
    def lighthouse(url: String, score: Double) = {
      val api = "https://www.googleapis.com/pagespeedonline/v5/runPagespeed" +
        s"?url=$url&strategy=mobile&key=k"
      api -> FetchResult(api, 200, Map("content-type" -> "application/json"),
        s"""{"lighthouseResult":{"categories":{"performance":{"score":$score}},""" +
          s""""audits":{"first-contentful-paint":{"score":$score}}}}""")
    }
    def runner(cycle: Int) = {
      val ts = cycleTs(cycle)
      new Runner(spark, ConfigLoader.load(psiYaml), root,
        new FixtureFetcher(Map(lighthouse(One, 0.9), lighthouse(Two, 0.2))),
        now = () => ts)
    }
    def checks() = spark.read.parquet(s"$root/warehouse/checks")
      .select(col("check"), col("url.path"), col("valid"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq.sorted
    val once = Seq(
      ("pagespeed-fcp_score_mobile", "/one.html", true),
      ("pagespeed-fcp_score_mobile", "/two.html", false),
      ("pagespeed-performance_score_mobile", "/one.html", true),
      ("pagespeed-performance_score_mobile", "/two.html", false))

    val r1 = runner(1)
    r1.runAggregation("google_pagespeed")
    r1.runOperation("pagespeed")
    assert(checks() === once)
    r1.runOperation("pagespeed")
    assert(checks() === once, "no new staged results: no new rows")
    val r2 = runner(2)
    r2.runAggregation("google_pagespeed")
    r2.runOperation("pagespeed")
    assert(checks() === (once ++ once).sorted)
  }
}
