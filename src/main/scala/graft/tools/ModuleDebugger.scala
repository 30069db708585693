package graft.tools

import graft.core.{ConfigLoader, Sessions}
import graft.plans.Runner
import graft.sources.{FetchResult, Fetcher}

/** The rebuild of the reference's manual e2e harness
  * (/root/reference/module-debugger.py:1-24): load a config, run every
  * aggregation then every operation once, synchronously, and show the
  * resulting checks table.
  *
  * With no egress in this environment, pages come from a deterministic
  * synthetic fetcher: every configured URL gets a page whose title is
  * derived from its path — URLs ending in an even digit share titles
  * (exercises duplicates), paths containing "multi" get two titles,
  * "noindex" pages get two h1s and no description.
  *
  * Usage: sbt "runMain graft.tools.ModuleDebugger <config.yaml> <storageRoot>"
  */
object ModuleDebugger {

  /** Deterministic page synthesizer (serializable; ships to executors). */
  final class SyntheticFetcher extends Fetcher {
    override def fetch(url: String, userAgent: String): FetchResult = {
      if (url.startsWith("https://www.googleapis.com/pagespeedonline")) {
        val score = if (url.contains("slow")) 0.31 else 0.93
        return FetchResult(url, 200, Map("content-type" -> "application/json"),
          s"""{"lighthouseResult":{"audits":{
             |"first-contentful-paint":{"score":$score,"numericValue":1200.5},
             |"interactive":{"score":$score},
             |"server-response-time":{"score":0.99}},
             |"categories":{"performance":{"score":$score}}}}""".stripMargin)
      }
      if (url.endsWith("/robots.txt")) {
        val body =
          if (url.contains("nosmap")) "User-agent: *\nDisallow:\n"
          else s"User-agent: *\nSitemap: ${url.stripSuffix("robots.txt")}sitemap.xml\n"
        return FetchResult(url, 200, Map("content-type" -> "text/plain"), body)
      }
      val path = url.replaceFirst("^[a-z]+://[^/]*", "")
      val slug = path.replaceAll("[^A-Za-z0-9]+", " ").trim
      val title =
        if (slug.matches(".*[02468] html$")) "Shared Even Title"
        else s"Title of $slug"
      val titles =
        if (path.contains("multi")) s"<title>$title</title><title>extra</title>"
        else s"<title>$title</title>"
      val desc =
        if (path.contains("noindex")) ""
        else s"""<meta name="description" content="About $slug">"""
      val h1s =
        if (path.contains("noindex")) "<h1>a</h1><h1>b</h1>" else s"<h1>$slug</h1>"
      val body =
        s"""<html><head>$titles$desc<link rel="canonical" href="$url"></head>
           |<body>$h1s<p>Content for $slug.</p></body></html>""".stripMargin
      FetchResult(url, 200,
        Map("content-type" -> "text/html; charset=utf-8",
          "content-encoding" -> "gzip",
          "cache-control" -> "no-cache"),
        body)
    }
  }

  /** `--real-transport` routes every fetch through [[graft.sources.HttpFetcher]]
    * against an in-process HTTP server replaying the synthetic pages,
    * and every alert email through [[graft.plans.SmtpTransport]] against
    * an in-process SMTP server — the full wire protocols, no egress.
    * Configured URLs keep their real hostnames; a proxy fetcher rewrites
    * them onto the local server (`/proxy?u=<original>`). */
  private final class ProxyFetcher(base: String) extends Fetcher {
    private val inner = new graft.sources.HttpFetcher(minIntervalMs = 0L)
    override def fetch(url: String, userAgent: String): FetchResult =
      inner.fetch(base + "/proxy?u=" +
        java.net.URLEncoder.encode(url, "UTF-8"), userAgent)
        .copy(url = url)
  }

  def main(args: Array[String]): Unit = {
    val realTransport = args.contains("--real-transport")
    val pos = args.filterNot(_.startsWith("--"))
    val configPath = pos.headOption.getOrElse("config/demo.yaml")
    val root = pos.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_debug").toString)
    val spark = Sessions.local(Sessions.cpus, "WARN")

    val config = ConfigLoader.loadFile(configPath)
    println(s"config hash: ${config.hash}")
    println(s"aggregations: ${config.aggregations.map(_.module).mkString(", ")}")
    println(s"operations:   ${config.operations.map(_.module).mkString(", ")}")

    val notifier = new graft.plans.Alerting.RecordingNotifier
    val outbox = scala.collection.mutable.ArrayBuffer
      .empty[graft.plans.Notifications.EmailMessage]
    val synth = new SyntheticFetcher
    // the render=true page's post-JS DOM: same body either mode — the
    // FixtureRenderer serves it directly, the CDP path serves it over
    // the devtools wire protocol
    def renderedDom(url: String): String =
      s"""<html><head><title>Rendered SPA</title>""" +
        s"""<meta name="description" content="Client-side rendered">""" +
        s"""<link rel="canonical" href="$url"></head>""" +
        """<body><h1>spa</h1><p>hydrated content</p></body></html>"""
    val (fetcher, transport, renderer, servers) =
      if (realTransport) {
        val http = new DevServers.MockHttpServer(req => {
          val u = java.net.URLDecoder.decode(
            req.query.stripPrefix("u="), "UTF-8")
          val r = synth.fetch(u, "")
          DevServers.HttpReply(r.status_code, r.headers, r.body)
        })
        val smtp = new DevServers.MockSmtpServer
        val devtools = new DevServers.MockDevtoolsServer(renderedDom)
        println(s"real transports: http 127.0.0.1:${http.port}, " +
          s"smtp 127.0.0.1:${smtp.port}, cdp 127.0.0.1:${devtools.port}")
        (new ProxyFetcher(http.base): Fetcher,
          new graft.plans.SmtpTransport(graft.plans.Notifications.SmtpConfig(
            "127.0.0.1", smtp.port, "graft@example.com", "pw")):
            graft.plans.Notifications.EmailTransport,
          new graft.sources.CdpRenderer(devtools.base): graft.sources.Renderer,
          Some((http, smtp, devtools)))
      } else
        (synth: Fetcher,
          new graft.plans.Notifications.EmailTransport {
            override def send(m: graft.plans.Notifications.EmailMessage): Unit =
              outbox += m
          },
          new graft.sources.FixtureRenderer(Map(
            "https://www.owndomain.de/spa.html" ->
              renderedDom("https://www.owndomain.de/spa.html"))):
            graft.sources.Renderer,
          None)
    val runner = new Runner(spark, config, root, fetcher, notifier,
      emailTransport = Some(transport), renderer = Some(renderer))
    runner.runAllOnce()

    val checks = runner.warehouse.read(runner.ChecksTable)
    println(s"\nchecks rows after cycle 1: ${checks.count()}")
    checks.orderBy("check", "url.path")
      .select("urlset", "check", "valid", "value", "diff", "error")
      .show(24, 44)

    // operations replay without new staged docs: watermark makes it a no-op
    val before = checks.count()
    config.operations.foreach(mc => runner.runOperation(mc.module))
    val afterOps = runner.warehouse.read(runner.ChecksTable).count()
    println(s"operation replay without new staged docs: $before -> $afterOps (must be equal)")
    // full cycle 2: re-fetches pages (new snapshots → new check rows, as a
    // cron cycle should) and the ELT chain (bigquery_queries →
    // alerting_check → dispatcher) now sees the cycle-1 checks table
    runner.runAllOnce()
    val after = runner.warehouse.read(runner.ChecksTable).count()
    println(s"cycle 2 (re-fetch + ELT): $after checks total")
    if (runner.warehouse.exists("check_summary")) {
      println("check_summary (S9 result, truncate disposition):")
      runner.warehouse.read("check_summary").orderBy("check").show(30, 44)
    }
    if (runner.warehouse.exists("alerting_log")) {
      println("alerting_log:")
      runner.warehouse.read("alerting_log").show(10, 44)
    }
    servers match {
      case Some((http, smtp, devtools)) =>
        import scala.jdk.CollectionConverters._
        println(s"dispatched emails (over the wire): ${smtp.deliveries.size()}")
        smtp.deliveries.asScala.foreach { d =>
          val subject = d.data.linesIterator
            .find(_.startsWith("Subject:")).getOrElse("Subject: ?")
          println(s"  from ${d.from} to ${d.rcpts.mkString(",")} " +
            s"auth=${d.authUser} $subject")
        }
        println(s"http fetches served: ${http.requests.size()}")
        println(s"cdp renders served: ${devtools.navigated.size()} " +
          s"(tabs closed: ${devtools.closedTabs.size()})")
        http.stop(); smtp.stop(); devtools.stop()
      case None =>
        println(s"dispatched emails: ${outbox.size}")
        outbox.foreach { m =>
          println(s"  to ${m.toEmail.mkString(",")} subject='${m.subject}' " +
            s"attachment ${m.attachments.keys.mkString(",")}")
          println(m.text.getOrElse("").linesIterator.map("    | " + _).mkString("\n"))
        }
    }
    spark.stop()
  }
}
