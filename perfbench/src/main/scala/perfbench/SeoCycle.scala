package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.functions.col
import graft.core.{ConfigLoader, ProjectConfig, Url}
import graft.plans.{Alerting, Runner}
import graft.sources.{FetchResult, FixtureFetcher}

/** The reference's own job: back-to-back cron cycles of one SEO project.
  *
  * Each cycle fetches every URL-set (aggregations html_parser, robotstxt),
  * evaluates the checks over the new staged rows (operations metatags,
  * responseheader, htmlheadings, robotstxt), then runs the ELT chain
  * bigquery_queries → alerting_check → alerting_dispatcher into a
  * recording notifier. Pages come from an in-memory fixture fetcher; a
  * seeded mutation schedule changes titles, drops descriptions and turns
  * pages non-200 between cycles, and an independent model of the check
  * semantics predicts the failing-check set from that schedule. */
final class SeoCycle(ctx: Ctx) extends Workload {
  import SeoCycle._

  private val spark = ctx.spark
  private var inputs: Inputs = _
  private var root: String = _
  private val notifier = new Alerting.RecordingNotifier
  private var alertsSeen = 0

  // per timed cycle
  private val cycles = mutable.ArrayBuffer.empty[CycleRun]
  private final case class CycleRun(wall: Option[Double], cpu: Double,
                                    modules: Map[String, Option[Double]],
                                    alerts: Int, stagingFiles: Long)

  def prepare(): Unit = {
    inputs = Inputs.generate(ctx.seed)
    root = ctx.dir("seo_root")
  }

  private def runner(c: Int): Runner = {
    val ts = cycleTs(c)
    new Runner(spark, inputs.config, root, new FixtureFetcher(inputs.fetchMap(c)),
      notifier, now = () => ts)
  }

  def run(deadlineNs: Long): Unit = {
    var c = 0
    while (c < MinCycles || System.nanoTime() < deadlineNs) {
      c += 1
      val r = runner(c)
      val c0 = Stats.cpuS()
      val t0 = System.nanoTime()
      val mods = ctx.tracer.span(2, s"cycle") {
        CycleModules.map { case (kind, module) =>
          s"$kind.$module" -> ctx.ops.run(3, s"$kind.$module") {
            if (kind == "op") r.runOperation(module) else r.runAggregation(module)
          }
        }.toMap
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Stats.cpuS() - c0
      val sent = notifier.sent.map(_._2.size).sum
      val staging = Stats.du(new File(root, "staging"))._1
      val ok = mods.values.forall(_.isDefined)
      cycles += CycleRun(if (ok) Some(wall) else None, if (ok) cpu else Double.NaN, mods,
        sent - alertsSeen, staging)
      alertsSeen = sent
    }
  }

  private def okWarm = cycles.drop(1).flatMap(_.wall)
  private def warmCpu = cycles.drop(1).filter(_.wall.isDefined).map(_.cpu).toSeq
  private def pagesPerS = {
    val ok = cycles.flatMap(_.wall)
    inputs.pages.size * ok.size / ok.sum
  }
  private def moduleMedian(names: String*): Double = {
    val per = cycles.drop(1).flatMap(c =>
      if (names.forall(n => c.modules(n).isDefined)) Some(names.map(n => c.modules(n).get).sum)
      else None)
    if (per.isEmpty) 0.0 else Stats.median(per.toSeq)
  }

  def endToEnd: Map[String, Double] = Map(
    "first_op_s" -> cycles.head.wall.getOrElse(Double.NaN),
    "op_p50_s" -> Stats.median(okWarm.toSeq),
    "items_per_s" -> pagesPerS)

  def named: Map[String, Any] = Map(
    "first_op_cpu_s" -> cycles.head.cpu,
    "op_cpu_p50_s" -> Stats.median(warmCpu),
    "cycle_s" -> Stats.dist(okWarm.toSeq),
    "cycle_p50_s" -> Stats.median(okWarm.toSeq),
    "first_cycle_s" -> cycles.head.wall.getOrElse(Double.NaN),
    "pages_per_s" -> pagesPerS,
    "cycles" -> cycles.size,
    "staging_files_per_cycle" -> cycles.map(_.stagingFiles).toSeq,
    "alerts_per_cycle" -> cycles.map(_.alerts).toSeq)

  def layers: Map[String, Double] = {
    val (files, bytes) = Stats.du(new File(root))
    CycleModules.collect {
      case ("agg", m @ ("html_parser" | "robotstxt")) =>
        s"plans.agg.${m}_s" -> moduleMedian(s"agg.$m")
      case ("op", m) => s"plans.op.${m}_s" -> moduleMedian(s"op.$m")
    }.toMap ++ Map(
      "plans.elt_s" -> moduleMedian("agg.bigquery_queries", "agg.alerting_check"),
      "plans.alert_s" -> moduleMedian("agg.alerting_dispatcher"),
      "plans.alerts_sent" -> cycles.map(_.alerts).sum.toDouble,
      "sources.staging_files" -> cycles.last.stagingFiles.toDouble,
      "sources.store_files" -> files.toDouble,
      "sources.store_bytes" -> bytes.toDouble)
  }

  def profile: Map[String, Any] = {
    val n = cycles.size
    val states = (1 to n).map(inputs.states)
    def share(f: PageState => Boolean) =
      states.map(_.count(f)).sum.toDouble / math.max(1, states.map(_.size).sum)
    Map(
      "pages" -> inputs.pages.size, "hosts" -> inputs.hosts.size,
      "urlsets" -> inputs.pages.map(_.urlset).distinct.size,
      "robots_urls" -> inputs.hosts.size,
      "duplicate_title_share" -> inputs.dupTitleShare,
      "mean_page_bytes" -> inputs.pages.map(p => inputs.body(p, inputs.states(1)(p.i)).length)
        .sum.toDouble / inputs.pages.size,
      "cycles" -> n,
      "non200_share" -> share(!_.ok),
      "no_description_share" -> share(s => s.ok && !s.desc),
      "title_changes" -> (2 to n).map(c => inputs.pages.count(p =>
        inputs.states(c)(p.i).title != inputs.states(c - 1)(p.i).title)).sum,
      "sample_url" -> inputs.pages.head.url)
  }

  // ------------------------------------------------------------- gates

  def gates(): Seq[Gate] = {
    val n = cycles.size
    val byTs = (1 to n).map(c => cycleTs(c).getTime -> c).toMap
    val checks = new Runner(spark, inputs.config, root, new FixtureFetcher(Map.empty))
      .warehouse.read("checks")
    val rows = checks.select(col("created"), Url.render(col("url")).as("u"),
        col("check"), col("valid"))
      .collect().toSeq.map(r => Row(byTs.getOrElse(r.getTimestamp(0).getTime, -1),
        r.getString(1), r.getString(2), r.getBoolean(3)))
    val model = (1 to n).flatMap(inputs.expectedRows)

    def rowCount(actual: Seq[Row]) =
      (actual.size == model.size, s"rows ${actual.size}, expected ${model.size} " +
        s"over $n cycles")
    def failingSet(actual: Seq[Row]) = {
      val a = actual.filterNot(_.valid).map(_.copy(valid = false)).toSet
      val e = model.filterNot(_.valid).toSet
      (a == e && actual.count(!_.valid) == model.count(!_.valid),
        s"failing ${a.size}, expected ${e.size}; missing ${(e -- a).take(3)}, " +
          s"unexpected ${(a -- e).take(3)}")
    }
    val flipped = rows.indexWhere(_.valid) match {
      case -1 => rows.drop(1)
      case i => rows.updated(i, rows(i).copy(valid = false))
    }
    val g1 = rowCount(rows)
    val g2 = failingSet(rows)

    // replaying the operations with no new staged docs must add no rows
    val before = rows.size.toLong
    val replay = runner(n)
    CycleModules.filter(_._1 == "op").foreach { case (_, m) =>
      ctx.ops.run(3, s"replay.op.$m")(replay.runOperation(m)) }
    val after = checks.sparkSession.read.parquet(s"$root/warehouse/checks").count()
    def noop(a: Long) = (a == before, s"rows before replay $before, after $a")
    val g3 = noop(after)

    // one alert per check that failed at least once in its cycle
    val expAlerts = (1 to n).map(c =>
      inputs.expectedRows(c).filterNot(_.valid).map(_.check).distinct.size)
    def alerts(a: Seq[Int]) = (a == expAlerts, s"alerts per cycle $a, expected $expAlerts")
    val g4 = alerts(cycles.map(_.alerts).toSeq)

    Seq(
      Gate("seo.row_count", g1._1, g1._2, !rowCount(rows.drop(1))._1),
      Gate("seo.failing_set", g2._1, g2._2, !failingSet(flipped)._1),
      Gate("seo.replay_adds_no_rows", g3._1, g3._2, !noop(after + 1)._1),
      Gate("seo.alerts", g4._1, g4._2, !alerts(cycles.map(_.alerts).toSeq.updated(0, -1))._1))
  }
}

object SeoCycle {
  /** Cycle order: aggregations, operations, then the ELT chain. */
  val CycleModules: Seq[(String, String)] = Seq(
    "agg" -> "html_parser", "agg" -> "robotstxt",
    "op" -> "metatags", "op" -> "responseheader", "op" -> "htmlheadings",
    "op" -> "robotstxt",
    "agg" -> "bigquery_queries", "agg" -> "alerting_check",
    "agg" -> "alerting_dispatcher")

  /** The first cycle and two warm ones, so the warm median has two samples. */
  val MinCycles = 3
  val Pages = 160
  val Hosts = 40
  val DupTitleShare = 0.05
  val NonOkShare = 0.03
  val NoDescShare = 0.04
  val TitleChangeShare = 0.05

  /** Fetch time of cycle c: one hour apart, so history snapshots order. */
  def cycleTs(c: Int): Timestamp =
    new Timestamp(java.time.Instant.parse("2026-01-05T00:00:00Z").toEpochMilli + c * 3600000L)

  final case class Page(i: Int, urlset: String, host: String, url: String,
                        baseTitle: String, desc: String, text: String)
  final case class PageState(ok: Boolean, title: String, desc: Boolean)
  final case class Row(cycle: Int, url: String, check: String, valid: Boolean)

  private val Words = Vector("audit", "crawl", "index", "ranking", "snippet",
    "sitemap", "canonical", "redirect", "header", "content", "keyword", "mobile",
    "speed", "schema", "anchor", "backlink", "domain", "render", "status", "page")

  final class Inputs(val hosts: IndexedSeq[String], val pages: IndexedSeq[Page],
                     val dupTitleShare: Double, seed: Long) {
    val config: ProjectConfig = ConfigLoader.load(yaml)

    private val stateCache = mutable.Map.empty[Int, IndexedSeq[PageState]]

    /** Page states at cycle c (1-based): title changes persist, a missing
      * description and a non-200 answer last one cycle. */
    def states(c: Int): IndexedSeq[PageState] = stateCache.getOrElseUpdate(c, {
      val prev = if (c == 1) pages.map(p => PageState(ok = true, p.baseTitle, desc = true))
                 else states(c - 1)
      val rnd = new java.util.SplittableRandom(seed * 1000003L + c)
      pages.map { p =>
        val u = rnd.nextDouble()
        val title = if (c > 1 && u >= NonOkShare + NoDescShare &&
            u < NonOkShare + NoDescShare + TitleChangeShare)
          s"${p.baseTitle} (rev $c)" else prev(p.i).title
        PageState(ok = u >= NonOkShare, title, desc = !(u >= NonOkShare && u < NonOkShare + NoDescShare))
      }
    })

    private val headers = Map("content-type" -> "text/html; charset=utf-8",
      "content-encoding" -> "gzip", "cache-control" -> "no-cache")

    def body(p: Page, s: PageState): String =
      if (!s.ok) "<html><body><p>Service temporarily unavailable</p></body></html>"
      else {
        val d = if (s.desc) s"""<meta name="description" content="${p.desc}">""" else ""
        s"""<html><head><title>${s.title}</title>$d<link rel="canonical" href="${p.url}">""" +
          s"""</head><body><h1>${p.baseTitle}</h1><p>${p.text}</p></body></html>"""
      }

    def fetchMap(c: Int): Map[String, FetchResult] = {
      val st = states(c)
      val pageMap = pages.map { p =>
        p.url -> FetchResult(p.url, if (st(p.i).ok) 200 else 503, headers, body(p, st(p.i)))
      }
      val robots = hosts.flatMap { h =>
        Seq(s"$h/robots.txt" -> FetchResult(s"$h/robots.txt", 200,
          Map("content-type" -> "text/plain"),
          s"User-agent: *\nDisallow: /private/\nSitemap: $h/sitemap.xml\n"),
          s"$h/sitemap.xml" -> FetchResult(s"$h/sitemap.xml", 200,
            Map("content-type" -> "application/xml"), "<urlset></urlset>"))
      }
      (pageMap ++ robots).toMap
    }

    /** The check rows cycle c must land, from the check semantics alone. */
    def expectedRows(c: Int): Seq[Row] = {
      val st = states(c)
      def single(p: Page, s: PageState) = if (s.ok) s.title else ""
      val prevSingle: Int => String = i =>
        if (c == 1) "" else single(pages(i), states(c - 1)(i))
      val titleCount = pages.filter(p => st(p.i).ok)
        .groupBy(p => (p.urlset, st(p.i).title)).map { case (k, v) => k -> v.size }
      val pageRows = pages.flatMap { p =>
        val s = st(p.i)
        def r(check: String, valid: Boolean) = Row(c, p.url, check, valid)
        Seq(
          r("metatags-has_title", s.ok),
          r("metatags-has_multiple_titles", true),
          r("metatags-has_title_changed", single(p, s) == prevSingle(p.i)),
          r("metatags-has_description", s.ok && s.desc),
          r("metatags-has_multiple_descriptions", true),
          r("metatags-canonical_href_200", s.ok),
          r("responseheader-status_code", s.ok),
          r("htmlheadings-count_headline_h1", s.ok)) ++
          (if (s.ok) Seq(r("metatags-has_title_duplicates",
            titleCount((p.urlset, s.title)) == 1)) else Nil)
      }
      val robotRows = hosts.flatMap { h =>
        Seq("robotstxt-status_code", "robotstxt-has_sitemap_xml")
          .map(Row(c, s"$h/robots.txt", _, true))
      }
      pageRows ++ robotRows
    }

    private def yaml: String = {
      val sets = pages.groupBy(_.urlset).toSeq.sortBy(_._1)
      val urlsets = sets.map { case (s, ps) =>
        s"  $s:\n" + ps.map(p => s"    - url: '${p.url}'\n").mkString
      }.mkString + "  robots:\n" + hosts.map(h => s"    - url: '$h/'\n").mkString
      val setNames = sets.map(_._1)
      def perSet(checks: String) = setNames.map(s =>
        s"      - url: '$s'\n        checks:\n$checks").mkString
      s"""urlsets:
         |$urlsets
         |aggregations:
         |  html_parser:
         |    cron: '*/5 * * * *'
         |    urlsets: [${setNames.map(s => s"'$s'").mkString(", ")}]
         |  robotstxt:
         |    cron: '*/5 * * * *'
         |    urlsets: ['robots']
         |  bigquery_queries:
         |    cron: '*/5 * * * *'
         |    settings:
         |      tablename: 'check_summary'
         |      writeDisposition: 'WRITE_TRUNCATE'
         |      views:
         |        checks_view: 'checks'
         |      query: >-
         |        SELECT check, count(*) AS total,
         |               sum(CASE WHEN valid THEN 1 ELSE 0 END) AS n_valid
         |        FROM checks_view
         |        WHERE created = (SELECT max(created) FROM checks_view)
         |        GROUP BY check
         |  alerting_check:
         |    cron: '*/5 * * * *'
         |    settings:
         |      groups: ['default']
         |      message: 'check {check} failing: {n_failed} of {total}'
         |      checksPerLine:
         |        - '{n_failed} == 0'
         |      views:
         |        summary: 'check_summary'
         |      query: >-
         |        SELECT check, total, total - n_valid AS n_failed FROM summary
         |  alerting_dispatcher:
         |    cron: '*/5 * * * *'
         |    settings:
         |      groups: ['default']
         |operations:
         |  metatags:
         |    cron: '*/5 * * * *'
         |    urlsets:
         |${perSet("""          title:
                     |            has_title: true
                     |            has_title_changed: false
                     |            has_title_duplicates: false
                     |          description:
                     |            has_description: true
                     |          canonical:
                     |            canonical_href_200: true
                     |""".stripMargin)}  responseheader:
         |    cron: '*/5 * * * *'
         |    urlsets:
         |${perSet("""          status_code:
                     |            assert: 200
                     |""".stripMargin)}  htmlheadings:
         |    cron: '*/5 * * * *'
         |    urlsets:
         |${perSet("          count_headline_h1: 1\n")}  robotstxt:
         |    cron: '*/5 * * * *'
         |    urlsets:
         |      - url: 'robots'
         |        checks:
         |          status_code: 200
         |          has_sitemap_xml: true
         |""".stripMargin
    }
  }

  object Inputs {
    def generate(seed: Long): Inputs = {
      val rnd = new scala.util.Random(seed)
      val tag = java.lang.Long.toString(math.abs(seed * 2654435761L) % 1000003L, 36)
      val hosts = (0 until Hosts).map(h => s"https://www.site$h-$tag.example")
      def w() = Words(rnd.nextInt(Words.size))
      val base = (0 until Pages).map { i =>
        val host = hosts(rnd.nextInt(Hosts))
        Page(i, "pages", host, s"$host/${w()}/${w()}-$i.html",
          s"${w().capitalize} ${w()} guide $i", s"All about ${w()} and ${w()} ($i)",
          Seq.fill(120 + rnd.nextInt(120))(w()).mkString(" "))
      }
      // a fixed share of pages carries the title of the page before it
      val nDup = math.round(Pages * DupTitleShare).toInt
      val dupOf = rnd.shuffle((1 until Pages).toVector).take(nDup)
        .map(i => i -> (i - 1)).toMap
      val withDups = base.map(p => dupOf.get(p.i)
        .map(j => p.copy(baseTitle = base(j).baseTitle)).getOrElse(p))
      new Inputs(hosts, withDups, nDup.toDouble / Pages, seed)
    }
  }
}
