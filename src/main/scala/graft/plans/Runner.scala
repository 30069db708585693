package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ModuleConfig, ProjectConfig}
import graft.functions.HtmlFunctions
import graft.sources._

/** Module registry + dispatch — the rebuild of the reference's runner
  * (/root/reference/modules/runner.py:11-25: importlib dispatch on
  * (tier, module)) and its module-debugger
  * (/root/reference/module-debugger.py:1-24: run every aggregation, then
  * every operation, once, synchronously).
  *
  * One Runner = one project config bound to one storage root. Scheduling
  * is external (the cron strings in the config are data for an
  * orchestrator); `runAggregation`/`runOperation` are the task bodies it
  * would invoke.
  */
final class Runner(spark: SparkSession, config: ProjectConfig, root: String,
                   fetcher: Fetcher,
                   notifier: Alerting.Notifier = new Alerting.RecordingNotifier,
                   emailTransport: Option[Notifications.EmailTransport] = None,
                   wrikeClient: Option[Notifications.WrikeClient] = None,
                   gscApi: Option[SearchAnalyticsApi] = None,
                   gaApi: Option[GaReportingApi] = None,
                   sistrixApi: Option[SistrixApi] = None,
                   now: () => java.sql.Timestamp =
                     () => new java.sql.Timestamp(System.currentTimeMillis()),
                   today: () => java.time.LocalDate = () => java.time.LocalDate.now(),
                   templatesRoot: String = "resources/templates",
                   renderer: Option[graft.sources.Renderer] = None) {

  val staging = new StagingStore(spark, root)
  val warehouse = new Warehouse(spark, root)
  val queues = new QueueStore(spark, root)
  val AlertQueue = "alerts"

  /** The checks fact table: one partitioned table with an urlset column
    * instead of the reference's table-per-urlset (SURVEY §1.1 verdict). */
  val ChecksTable = "checks"

  // ------------------------------------------------------------ dispatch

  def runAggregation(name: String): Unit = {
    val mc = config.aggregation(name)
    name match {
      case "html_parser" => runHtmlParser(mc)
      case "robotstxt" => runRobotstxt(mc)
      case "bigquery_queries" => runQueries(mc)
      case "alerting_check" => runAlertingCheck(mc)
      case "alerting_dispatcher" => runAlertingDispatcher(mc)
      case "google_pagespeed" => runGooglePagespeed(mc)
      case "google_search_console" => runGsc(mc)
      case "google_analytics" => runGa(mc)
      case "sistrix_domain" => runSistrixDomain(mc)
      case other =>
        throw new IllegalArgumentException(s"unknown aggregation module '$other'")
    }
  }

  def runOperation(name: String): Unit = {
    val mc = config.operation(name)
    name match {
      case "metatags" => withStagedBatch("html_parser", "metatags")(
        Runner.metatags(mc.urlsetChecks, _, fetcher))
      case "responseheader" => withStagedBatch("html_parser", "responseheader")(
        Runner.fused(_, mc.urlsetChecks)(Runner.responseheader))
      case "htmlheadings" => withStagedBatch("html_parser", "htmlheadings")(
        Runner.fused(_, mc.urlsetChecks)(Runner.htmlheadings))
      case "robotstxt" => withStagedBatch("robotstxt", "robotstxt")(
        Runner.robotstxt(mc.urlsetChecks, _, fetcher))
      case "pagespeed" => withStagedBatch("pagespeed", "pagespeed")(
        Runner.pagespeed(mc.checks, _))
      case "google_search_console" => runGscMatching(mc)
      case other =>
        throw new IllegalArgumentException(s"unknown operation module '$other'")
    }
  }

  /** module-debugger semantics: everything once, aggregations first. */
  def runAllOnce(): Unit = {
    config.aggregations.foreach(mc => runAggregation(mc.module))
    config.operations.foreach(mc => runOperation(mc.module))
  }

  // -------------------------------------------------------- aggregations

  private def configUrls(mc: ModuleConfig): Seq[ConfigUrl] =
    mc.urlsets.flatMap(set =>
      config.urlsetUrls(set).map(u => ConfigUrl(set, u.url, u.render)))

  private def userAgent(mc: ModuleConfig): String =
    mc.settings.get("useragent").map(_.toString).filter(_.nonEmpty)
      .getOrElse(HtmlParserSource.DefaultUserAgent)

  private def runHtmlParser(mc: ModuleConfig): Unit =
    staging.append("html_parser",
      HtmlParserSource.stage(spark, configUrls(mc), fetcher, userAgent(mc),
        now = now, renderer = renderer))

  private def runRobotstxt(mc: ModuleConfig): Unit =
    staging.append("robotstxt",
      RobotstxtSource.stage(spark, configUrls(mc), fetcher, userAgent(mc),
        now = now))

  /** S9 bigquery_queries equivalent: SQL + named params → columnMapping
    * rename → warehouse write with configured disposition + time
    * partitioning (bigquery_queries.py:36-160). Warehouse tables named in
    * `views` are registered as temp views first (the reference's queries
    * read warehouse tables). */
  private def runQueries(mc: ModuleConfig): Unit = {
    val query = mc.settings.getOrElse("query",
      throw new IllegalArgumentException("bigquery_queries missing 'query'")).toString
    val table = mc.settings.getOrElse("tablename", "query_result").toString
    if (!registerViews(mc)) return // upstream table absent: next run picks it up
    val params = mc.settings.get("parameters")
      .collect { case m: Map[String @unchecked, Any @unchecked] => m }
      .getOrElse(Map.empty[String, Any])
    val mapping = mc.settings.get("columnMapping")
      .collect { case m: Map[String @unchecked, Any @unchecked] =>
        m.map { case (k, v) => k -> v.toString } }
      .getOrElse(Map.empty[String, String])
    val result = graft.operators.QueryHelper.renameColumns(
      graft.operators.QueryHelper.runQuery(spark, query, params), mapping)
    val granularity = mc.settings.getOrElse("timePartitioning", "DAY").toString
    val partitioned = Runner.withTimePartition(result, granularity)
    mc.settings.getOrElse("writeDisposition", "WRITE_APPEND").toString match {
      case "WRITE_TRUNCATE" => warehouse.truncate(table, partitioned)
      case _ => warehouse.append(table, partitioned)
    }
  }

  /** Register configured warehouse views; false when an upstream table
    * does not exist yet (the cron analogue: this run is a no-op and the
    * next cycle finds the table). */
  private def registerViews(mc: ModuleConfig): Boolean =
    mc.settings.get("views") match {
      case Some(vs: Map[String @unchecked, Any @unchecked]) =>
        vs.forall { case (view, wtable) =>
          val t = wtable.toString
          if (!warehouse.exists(t)) false
          else { warehouse.read(t).createOrReplaceTempView(view); true }
        }
      case _ => true
    }

  /** S10: query → per-row / whole-result alerts → alert queue + log. */
  private def runAlertingCheck(mc: ModuleConfig): Unit = {
    if (!registerViews(mc)) return
    def strSeq(key: String): Seq[String] = mc.settings.get(key) match {
      case Some(xs: Seq[Any @unchecked]) => xs.map(_.toString)
      case Some(s: String) => Seq(s)
      case _ => Nil
    }
    val cfg = Alerting.CheckConfig(
      query = mc.settings.getOrElse("query",
        throw new IllegalArgumentException("alerting_check missing 'query'")).toString,
      parameters = mc.settings.get("parameters")
        .collect { case m: Map[String @unchecked, Any @unchecked] => m }
        .getOrElse(Map.empty),
      groups = if (strSeq("groups").nonEmpty) strSeq("groups") else Seq("default"),
      message = mc.settings.getOrElse("message", "alert").toString,
      negate = mc.settings.get("negate").contains(true),
      checksPerLine = strSeq("checksPerLine"),
      logName = mc.settings.get("logName").map(_.toString),
      logMessage = mc.settings.getOrElse("logMessage", "").toString)
    val out = Alerting.runCheck(spark, cfg, now())
    if (!out.alerts.isEmpty) queues.enqueue(AlertQueue, out.alerts)
    if (!out.logs.isEmpty)
      warehouse.append("alerting_log",
        out.logs.withColumn("date", to_date(col("date"))))
  }

  /** S11: drain + dispatch. With a `configurations` list each entry
    * builds its own notifier (type email | wrike) and drains its own
    * groups — the reference's per-configuration dispatch
    * (alerting_dispatcher.py:55-99); otherwise the injected notifier
    * handles the module-level groups. */
  private def runAlertingDispatcher(mc: ModuleConfig): Unit = {
    def groupsOf(m: Map[String, Any]): Seq[String] = m.get("groups") match {
      case Some(xs: Seq[Any @unchecked]) => xs.map(_.toString)
      case _ => Seq("default")
    }
    mc.settings.get("configurations") match {
      case Some(cfgs: Seq[Any @unchecked]) =>
        cfgs.foreach {
          case m: Map[String @unchecked, Any @unchecked] =>
            val n = Notifications.fromConfig(m,
              emailTransport.getOrElse(
                throw Notifications.ConfigurationMissing("email transport")),
              wrikeClient.getOrElse(
                throw Notifications.ConfigurationMissing("wrike client")),
              templatesRoot)
            Alerting.dispatch(spark, queues, AlertQueue, groupsOf(m), n)
          case other =>
            throw new IllegalArgumentException(
              s"alerting_dispatcher configuration entry must be a map, got $other")
        }
      case _ =>
        Alerting.dispatch(spark, queues, AlertQueue,
          groupsOf(mc.settings), notifier)
    }
  }

  /** S4: Lighthouse pulls for configured cluster×strategy fan-out. */
  private def runGooglePagespeed(mc: ModuleConfig): Unit = {
    val apiKey = mc.settings.getOrElse("apiKey", "").toString
    val requests = mc.settings.get("configurations") match {
      case Some(cfgs: Seq[Any @unchecked]) => cfgs.flatMap {
        case m: Map[String @unchecked, Any @unchecked] =>
          val strategy = m.getOrElse("strategy", "mobile").toString
          m.get("cluster") match {
            case Some(cl: Map[String @unchecked, Any @unchecked]) =>
              cl.toSeq.flatMap { case (name, urls: Any) => urls match {
                case us: Seq[Any @unchecked] =>
                  us.map(u => PageSpeedSource.Request(name, u.toString, strategy))
                case _ => Nil
              }}
            case _ => Nil
          }
        case _ => Nil
      }
      case _ => Nil
    }
    PageSpeedSource.run(spark, requests, fetcher,
      (url, strategy) =>
        "https://www.googleapis.com/pagespeedonline/v5/runPagespeed" +
          s"?url=$url&strategy=$strategy&key=$apiKey",
      warehouse, queues, staging = Some(staging), now = now)
  }

  /** S5: one import per configured property (reference settings shape:
    * properties: [{property, dateDaysAgo, dimensions, searchTypes,
    * previousData, tablename}]); failures/late data go through the retry
    * queue with the original request date. */
  private def runGsc(mc: ModuleConfig): Unit = {
    val api = gscApi.getOrElse(throw new IllegalArgumentException(
      "google_search_console requires a SearchAnalyticsApi"))
    val specs = mc.settings.get("properties") match {
      case Some(ps: Seq[Any @unchecked]) => ps.collect {
        case m: Map[String @unchecked, Any @unchecked] =>
          def strs(k: String, dflt: Seq[String]) = m.get(k) match {
            case Some(xs: Seq[Any @unchecked]) => xs.map(_.toString)
            case _ => dflt
          }
          GscConfig(
            property = m.getOrElse("property", throw new IllegalArgumentException(
              "property is missing")).toString,
            tableName = m.getOrElse("tablename", "search_console").toString,
            requestDate = today().minusDays(
              m.get("dateDaysAgo").map(_.toString.toLong).getOrElse(3L)),
            dimensions = strs("dimensions", Seq("page", "device", "query", "country")),
            searchTypes = strs("searchTypes", Seq("web", "image", "video")),
            previousData = strs("previousData", Nil))
      }
      case _ => Nil
    }
    GscSource.run(spark, api, specs, warehouse, queues)
  }

  /** S6: one import per configured view. */
  private def runGa(mc: ModuleConfig): Unit = {
    val api = gaApi.getOrElse(throw new IllegalArgumentException(
      "google_analytics requires a GaReportingApi"))
    mc.settings.get("views_config") match {
      case Some(vs: Seq[Any @unchecked]) => vs.foreach {
        case m: Map[String @unchecked, Any @unchecked] =>
          def strs(k: String) = m.get(k) match {
            case Some(xs: Seq[Any @unchecked]) => xs.map(_.toString)
            case _ => Nil
          }
          GaSource.importView(spark, api, GaConfig(
            view = m.getOrElse("view", "").toString,
            tableName = m.getOrElse("tablename", "google_analytics").toString,
            requestDate = today().minusDays(
              m.get("dateDaysAgo").map(_.toString.toLong).getOrElse(1L)),
            metrics = strs("metrics"), dimensions = strs("dimensions")),
            warehouse)
        case _ => ()
      }
      case _ => ()
    }
  }

  /** S7: wide-row daily import with the weekday gate. */
  private def runSistrixDomain(mc: ModuleConfig): Unit = {
    val api = sistrixApi.getOrElse(throw new IllegalArgumentException(
      "sistrix_domain requires a SistrixApi"))
    val entity = Seq("domain", "host", "path", "url")
      .flatMap(k => mc.settings.get(k).map(v => k -> v.toString))
      .headOption.getOrElse(throw new IllegalArgumentException(
        "You need one of these parameters: \"domain, host, path, url\""))
    val methods = mc.settings.get("methods") match {
      case Some(ms: Seq[Any @unchecked]) => ms.collect {
        case m: Map[String @unchecked, Any @unchecked] =>
          SistrixMethod(m.getOrElse("method", "").toString,
            m.getOrElse("fieldName", "value").toString)
      }
      case _ => Nil
    }
    SistrixDomainSource.importDaily(spark, api, entity, methods,
      mc.settings.getOrElse("tablename", "sistrix").toString,
      warehouse, today(),
      onlyOnWeekday = mc.settings.get("onlyOnWeekday").map(_.toString),
      today = today())
  }

  // ---------------------------------------------------------- operations

  /** Incremental read + check computation + append + watermark advance —
    * the staging pipeline of SURVEY §3.3, one job per operation. With
    * the high mark not past the watermark it starts no job. Otherwise one
    * [[StoreTxn]] transaction reads the batch up to the high mark, appends
    * its checks as one file set coalesced (no shuffle) to the batch's
    * partition count and moves the watermark to the high mark: a crash
    * before the commit rolls the append back. */
  private def withStagedBatch(collection: String, op: String)
                             (checks: Runner.Batch => Option[DataFrame]): Unit =
    if (staging.pending(collection, op)) StoreTxn.transact(spark, root) {
      val (unprocessed, history) = staging.readSplit(collection, op)
      checks(Runner.Batch(unprocessed, history)).foreach(rows =>
        warehouse.append(ChecksTable, rows.withColumn("date", to_date(col("created")))
          .coalesce(unprocessed.queryExecution.toRdd.getNumPartitions)))
      staging.highMark(collection).foreach(staging.advanceWatermarkTo(collection, op, _))
    }

  /** Operation google_search_console: the matching enrichment over the
    * imported GSC table (operation/google_search_console.py:327-405):
    * read the request day's rows, drop excluded fields, apply regex/CSV
    * match rules, append day-partitioned to the output table. */
  private def runGscMatching(mc: ModuleConfig): Unit = {
    val inTable = mc.settings.getOrElse("inputTable", "search_console").toString
    val outTable = mc.settings.getOrElse("tablename", "search_console_matched").toString
    if (!warehouse.exists(inTable)) return
    val excludes = mc.settings.get("excludeInputFields") match {
      case Some(xs: Seq[Any @unchecked]) => xs.map(_.toString)
      case _ => Nil
    }
    val rules = mc.settings.get("matches") match {
      case Some(ms: Seq[Any @unchecked]) => ms.collect {
        case m: Map[String @unchecked, Any @unchecked] =>
          val exprs = m.get("expressions") match {
            case Some(es: Seq[Any @unchecked]) => es.collect {
              case e: Map[String @unchecked, Any @unchecked] if e.contains("regex") =>
                Enrichment.RegexExpr(e("regex").toString,
                  e.getOrElse("output", "").toString)
              case e: Map[String @unchecked, Any @unchecked] if e.contains("csv") =>
                Enrichment.CsvExpr(
                  Enrichment.loadMatchesCsv(new String(
                    java.nio.file.Files.readAllBytes(
                      java.nio.file.Paths.get(e("csv").toString)), "UTF-8")),
                  caseSensitive = e.get("caseSensitive").forall(_ == true),
                  useRegex = e.get("useRegex").contains(true))
            }
            case _ => Nil
          }
          Enrichment.MatchRule(
            m.getOrElse("inputField", "").toString,
            m.getOrElse("outputField", "").toString,
            m.getOrElse("fallback", "").toString, exprs)
      }
      case _ => Nil
    }
    val enriched = Enrichment.enrich(warehouse.read(inTable), excludes, rules)
    warehouse.append(outTable, Runner.withTimePartition(enriched, "DAY"))
  }
}

object Runner {
  import CheckCatalog.{Check, Checks, Tag}

  /** One staged batch of a check operation: the unprocessed `rows` and
    * the processed `history`, both from one file listing. */
  private[plans] final case class Batch(rows: DataFrame, history: DataFrame)

  private def bool(m: Map[String, Any], key: String): Option[Boolean] =
    m.get(key).map(v => v == true || v == "true")
  private def on(m: Map[String, Any], key: String): Boolean = bool(m, key).contains(true)

  /** The live re-fetch a check makes becomes a prior fetch stage whose
    * statuses join in as data (SURVEY §7.4): one job fetches the distinct
    * URLs `urls` yields over the batch rows of the URL-sets `configured`
    * (urlset scale) into url → status, 0 for a failed fetch. */
  private def statuses(b: Batch, urlsetChecks: Map[String, Map[String, Any]],
                       configured: Map[String, Any] => Boolean, urls: Column,
                       fetcher: Fetcher): Map[String, Int] = {
    val sets = urlsetChecks.collect { case (set, c) if configured(c) => set }.toSeq
    val distinct = b.rows.filter(col("urlset").isin(sets: _*)).select(urls).collect()
      .map(_.getString(0)).filter(_.nonEmpty).distinct.toSeq
    if (distinct.isEmpty) Map.empty
    else b.rows.sparkSession.sparkContext.parallelize(distinct, math.min(distinct.size, 8))
      .map { u =>
        val r = fetcher.fetch(u, HtmlParserSource.DefaultUserAgent)
        u -> (if (r.error.nonEmpty) 0 else r.status_code)
      }.collect().toMap
  }

  /** The checks `perSet` makes of every URL-set's config, as one select
    * over the batch rows of those sets: one `urlset IN` filter, each
    * set's checks guarded by its name. None when no set has a check. */
  private[plans] def fused(b: Batch, urlsetChecks: Map[String, Map[String, Any]])
                          (perSet: Map[String, Any] => Seq[Check]): Option[DataFrame] = {
    val bySet = urlsetChecks.toSeq.sortBy(_._1).map { case (set, c) => set -> perSet(c) }
    val checked = bySet.collect { case (set, checks) if checks.nonEmpty => set }
    Option.when(checked.nonEmpty)(CheckCatalog.compile(
      b.rows.filter(col("urlset").isin(checked: _*)),
      bySet.flatMap { case (set, checks) => checks.map(_.in(set)) },
      Some(b.history.filter(col("urlset").isin(checked: _*)))))
  }

  /** Operation metatags: the title, description and canonical families. */
  private[plans] def metatags(urlsetChecks: Map[String, Map[String, Any]], b: Batch,
                              fetcher: Fetcher): Option[DataFrame] = {
    def family(checks: Map[String, Any], name: String): Map[String, Any] =
      checks.get(name).collect { case m: Map[String @unchecked, Any @unchecked] => m }
        .getOrElse(Map.empty)
    def tag(t: Tag, flags: Map[String, Any]): Seq[Check] =
      bool(flags, s"has_${t.kind}").toSeq.flatMap(a => Seq(t.has(a), t.multiple)) ++
        bool(flags, s"is_${t.kind}_empty").map(t.isEmpty) ++
        bool(flags, s"has_${t.kind}_changed").map(t.changed) ++
        bool(flags, s"has_${t.kind}_duplicates").map(t.duplicates)
    lazy val hrefs = statuses(b, urlsetChecks, c => on(family(c, "canonical"),
      "canonical_href_200"), HtmlFunctions.canonical(col("body")), fetcher)
    fused(b, urlsetChecks) { checks =>
      val canon = family(checks, "canonical")
      tag(Checks.title, family(checks, "title")) ++
        tag(Checks.description, family(checks, "description")) ++
        bool(canon, "has_canonical").map(Checks.hasCanonical) ++
        Option.when(on(canon, "canonical_is_self_referencing"))(
          Checks.canonicalSelfReferencing) ++
        Option.when(on(canon, "canonical_href_200"))(Checks.canonicalHref200(hrefs))
    }
  }

  private[plans] def responseheader(checks: Map[String, Any]): Seq[Check] =
    checks.toSeq.sortBy(_._1).collect {
      case (k, m: Map[String @unchecked, Any @unchecked]) if m.contains("assert") =>
        Checks.responseHeader(k, m("assert").toString)
    }

  private[plans] def htmlheadings(checks: Map[String, Any]): Seq[Check] =
    checks.get("count_headline_h1").map(v => Checks.countHeadlineH1(v.toString.toInt)).toSeq

  private[plans] def robotstxt(urlsetChecks: Map[String, Map[String, Any]], b: Batch,
                               fetcher: Fetcher): Option[DataFrame] = {
    lazy val sitemaps = statuses(b, urlsetChecks, on(_, "sitemap_access"),
      explode(HtmlFunctions.robotsSitemaps(col("body"))), fetcher)
    fused(b, urlsetChecks) { checks =>
      (checks.get("status_code").map(v => Checks.robotsStatusCode(v.toString.toInt)) ++
        bool(checks, "has_sitemap_xml").map(Checks.robotsHasSitemap) ++
        Option.when(on(checks, "sitemap_access"))(Checks.robotsSitemapAccess(sitemaps))).toSeq
    }
  }

  /** Operation pagespeed: audit-threshold checks over the raw staged
    * bodies (operation/pagespeed.py:148-524); config shape
    * checks: { fcp_score: { desktop: 0.49, mobile: 0.3 }, ... }. */
  private[plans] def pagespeed(checks: Map[String, Any], b: Batch): Option[DataFrame] = {
    val auditOf = Map(
      "fcp_score" -> "first-contentful-paint",
      "tti_score" -> "interactive",
      "ttfb_score" -> "server-response-time",
      "performance_score" -> "performance")
    val thresholds = checks.toSeq.sortBy(_._1).flatMap {
      case (checkKey, byStrategy: Map[String @unchecked, Any @unchecked]) =>
        byStrategy.toSeq.sortBy(_._1).flatMap { case (strategy, threshold) =>
          auditOf.get(checkKey).map(audit => Checks.pagespeedThreshold(checkKey + "_",
            audit, strategy, threshold.toString.toDouble, displayMode = false))
        }
      case _ => Nil
    }
    Option.when(thresholds.nonEmpty)(CheckCatalog.compile(b.rows
      .withColumn("urlset", col("cluster"))
      .withColumn("url", graft.core.Url.parse(col("url")))
      .withColumn("date", col("date").cast("timestamp")), thresholds))
  }

  /** The S9 time-partitioning grain (HOUR/DAY/MONTH/YEAR,
    * bigquery_queries.py:19-24): derive the partition value from the
    * result's `date` column (or today when absent). */
  def withTimePartition(df: DataFrame, granularity: String): DataFrame = {
    val src =
      if (df.columns.contains("date")) col("date") else current_date()
    val derived = granularity.toUpperCase match {
      case "HOUR" => date_trunc("hour", src)
      case "MONTH" => date_trunc("month", src).cast("date")
      case "YEAR" => date_trunc("year", src).cast("date")
      case _ => src.cast("date")
    }
    df.withColumn("date", derived)
  }
}
