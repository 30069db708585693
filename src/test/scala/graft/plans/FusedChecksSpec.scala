package graft.plans

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.core.Url
import graft.sources.{FetchResult, FixtureFetcher}

/** Property: each check operation's fused select emits, as a multiset,
  * exactly the rows of the per-check branches it replaced
  * ([[CheckCatalogModel]], one branch per check and URL-set, unioned),
  * over generated staged pages, URL-sets with different asserts and
  * histories. */
class FusedChecksSpec extends SparkSpec {
  import spark.implicits._
  import FusedChecksSpec._

  private val M = CheckCatalogModel
  private val Batch = Timestamp.valueOf("2024-01-10 00:00:00")

  /** Canonical targets and sitemaps: some answer 200, the rest 404. */
  private val fetcher = new FixtureFetcher(
    (Pool.take(3) :+ "https://ex.com/sitemap.xml").map(u =>
      u -> FetchResult(u, 200, Map("content-type" -> "text/html"), "")).toMap)
  private def statuses: DataFrame =
    (Pool ++ Seq("https://other.com/x", "https://ex.com/sitemap.xml",
      "https://ex.com/missing.xml")).map { u =>
      u -> fetcher.fetch(u, "").status_code
    }.toDF("url", "status")

  private def html(url: String, p: Page): String =
    "<html><head>" + p.titles.map(t => s"<title>$t</title>").mkString +
      p.descs.map(d => s"""<meta name="description" content="$d">""").mkString +
      (p.canonical match {
        case "self" => s"""<link rel="canonical" href="$url">"""
        case "other" => """<link rel="canonical" href="https://other.com/x">"""
        case _ => ""
      }) + "</head><body>" + "<h1>h</h1>" * p.h1 + "</body></html>"

  /** Staged html_parser rows: one per (URL-set, URL), `ts` as both the
    * fetch date and the ingest time. */
  private def htmlRows(rows: Seq[(String, String, Page, Timestamp)]): DataFrame =
    rows.map { case (set, url, p, ts) =>
      (set, url, p.status, html(url, p), p.headers, ts, ts)
    }.toDF("urlset", "url", "status_code", "body", "headers", "date", "__ingested_at")
      .withColumn("url", Url.parse(col("url")))

  private def robotsRows(rows: Seq[(String, String, Robots)]): DataFrame =
    rows.map { case (set, url, r) =>
      (set, url, r.status, r.sitemaps.map(s => s"Sitemap: $s\n").mkString, Batch, Batch)
    }.toDF("urlset", "url", "status_code", "body", "date", "__ingested_at")
      .withColumn("url", Url.parse(col("url")))

  private def pagespeedRows(rows: Seq[(String, String, String, Option[Double])]): DataFrame =
    rows.map { case (cluster, url, strategy, score) =>
      val audits = score.fold("")(s =>
        s""","audits":{"first-contentful-paint":{"score":$s}}""")
      (cluster, url, strategy, 200,
        s"""{"lighthouseResult":{"categories":{"performance":{"score":${score.getOrElse(0.5)}}}$audits}}""",
        Batch, Batch)
    }.toDF("cluster", "url", "strategy", "status", "body", "date", "__ingested_at")

  private def rows(df: Option[DataFrame]): Seq[String] =
    df.toSeq.flatMap(_.select(col("urlset"), col("check"), col("value"),
        col("valid"), col("diff"), col("error"), Url.render(col("url")),
        col("created").cast("string"))
      .collect().map(_.toSeq.mkString("|"))).sorted

  private def batch(plain: DataFrame, history: DataFrame) =
    Runner.Batch(plain, history)

  // the per-set loops of the operations before the fused compile

  private def modelMetatags(cfg: Config, staged: DataFrame,
                            history: DataFrame): Option[DataFrame] =
    cfg.toSeq.sortBy(_._1).flatMap { case (set, checks) =>
      val s = staged.filter(col("urlset") === set)
      val hist = history.filter(col("urlset") === set)
      val title = family(checks, "title")
      val desc = family(checks, "description")
      val canon = family(checks, "canonical")
      Seq(
        bool(title, "has_title").map(a => M.hasTitle(s, a)),
        bool(title, "has_title").map(_ => M.hasMultipleTitles(s)),
        bool(title, "is_title_empty").map(a => M.isTitleEmpty(s, a)),
        bool(title, "has_title_changed").map(a => M.hasTitleChanged(s, hist, a)),
        bool(title, "has_title_duplicates").map(a => M.hasTitleDuplicates(s, a)),
        bool(desc, "has_description").map(a => M.hasDescription(s, a)),
        bool(desc, "has_description").map(_ => M.hasMultipleDescriptions(s)),
        bool(desc, "is_description_empty").map(a => M.isDescriptionEmpty(s, a)),
        bool(desc, "has_description_changed").map(a => M.hasDescriptionChanged(s, hist, a)),
        bool(desc, "has_description_duplicates").map(a => M.hasDescriptionDuplicates(s, a)),
        bool(canon, "has_canonical").map(a => M.hasCanonical(s, a)),
        bool(canon, "canonical_is_self_referencing").filter(identity)
          .map(_ => M.canonicalSelfReferencing(s)),
        bool(canon, "canonical_href_200").filter(identity)
          .map(_ => M.canonicalHref200(s, statuses))).flatten
    }.reduceOption(_.unionByName(_))

  /** A set without asserts contributes nothing (the branch loop failed
    * on it: a union of no branches). */
  private def modelResponseheader(cfg: Config, staged: DataFrame): Option[DataFrame] =
    cfg.toSeq.sortBy(_._1).flatMap { case (set, checks) =>
      val asserts = checks.collect {
        case (k, m: Map[String @unchecked, Any @unchecked]) => k -> m("assert").toString
      }
      Option.when(asserts.nonEmpty)(
        M.responseHeaders(staged.filter(col("urlset") === set), asserts))
    }.reduceOption(_.unionByName(_))

  private def modelHtmlheadings(cfg: Config, staged: DataFrame): Option[DataFrame] =
    cfg.toSeq.sortBy(_._1).flatMap { case (set, checks) =>
      checks.get("count_headline_h1").map(v =>
        M.countHeadlineH1(staged.filter(col("urlset") === set), v.toString.toInt))
    }.reduceOption(_.unionByName(_))

  private def modelRobotstxt(cfg: Config, staged: DataFrame): Option[DataFrame] =
    cfg.toSeq.sortBy(_._1).flatMap { case (set, checks) =>
      val s = staged.filter(col("urlset") === set)
      Seq(
        checks.get("status_code").map(v => M.robotsStatusCode(s, v.toString.toInt)),
        bool(checks, "has_sitemap_xml").map(a => M.robotsHasSitemap(s, a)),
        bool(checks, "sitemap_access").filter(identity)
          .map(_ => M.robotsSitemapAccess(s, statuses))).flatten
    }.reduceOption(_.unionByName(_))

  private def modelPagespeed(checks: Map[String, Any], batch: DataFrame): Option[DataFrame] = {
    val staged = batch
      .withColumn("urlset", col("cluster"))
      .withColumn("url", Url.parse(col("url")))
      .withColumn("date", col("date").cast("timestamp"))
    val auditOf = Map("fcp_score" -> "first-contentful-paint",
      "performance_score" -> "performance")
    checks.toSeq.sortBy(_._1).flatMap {
      case (checkKey, byStrategy: Map[String @unchecked, Any @unchecked]) =>
        byStrategy.toSeq.sortBy(_._1).map { case (strategy, threshold) =>
          M.pagespeedThreshold(staged, checkKey + "_", auditOf(checkKey), strategy,
            threshold.toString.toDouble)
        }
      case _ => Nil
    }.reduceOption(_.unionByName(_))
  }

  private def sample[T](gen: Gen[T], seed: Long): T =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  private val Seeds = 1L to 8L

  test("property: metatags, responseheader and htmlheadings fused ≡ per-check branches") {
    Seeds.foreach { seed =>
      val w = sample(htmlWorld, seed)
      val staged = htmlRows(w.pages.map { case (set, url, p) => (set, url, p, Batch) })
      val history = htmlRows(w.history)
      def b = batch(staged, history)
      def check(op: String, fused: Option[DataFrame], model: Option[DataFrame]) =
        assert(rows(fused) === rows(model), s"$op, seed $seed, world $w")
      check("metatags", Runner.metatags(w.metatags, b, fetcher),
        modelMetatags(w.metatags, staged, history))
      check("responseheader", Runner.fused(b, w.responseheader)(Runner.responseheader),
        modelResponseheader(w.responseheader, staged))
      check("htmlheadings", Runner.fused(b, w.htmlheadings)(Runner.htmlheadings),
        modelHtmlheadings(w.htmlheadings, staged))
    }
  }

  test("property: robotstxt and pagespeed fused ≡ per-check branches") {
    Seeds.foreach { seed =>
      val (robots, robotsCfg) = sample(robotsWorld, seed)
      val staged = robotsRows(robots)
      assert(rows(Runner.robotstxt(robotsCfg, batch(staged, staged.limit(0)), fetcher))
        === rows(modelRobotstxt(robotsCfg, staged)), s"robotstxt, seed $seed")
      val (pages, checks) = sample(pagespeedWorld, seed)
      val psi = pagespeedRows(pages)
      assert(rows(Runner.pagespeed(checks, batch(psi, psi.limit(0))))
        === rows(modelPagespeed(checks, psi)), s"pagespeed, seed $seed")
    }
  }
}

object FusedChecksSpec {
  type Config = Map[String, Map[String, Any]]

  val Pool: Seq[String] = (0 until 4).map(i => s"https://ex.com/p$i")
  private val Sets = Seq("s0", "s1", "s2")

  final case class Page(titles: Seq[String], descs: Seq[String], canonical: String,
                        h1: Int, headers: Map[String, String], status: Int)
  final case class Robots(status: Int, sitemaps: Seq[String])

  /** A generated world of the html_parser operations: staged (set, URL,
    * page) rows, 0-2 earlier snapshots per row, per-set configs. */
  final case class HtmlWorld(pages: Seq[(String, String, Page)],
                             history: Seq[(String, String, Page, Timestamp)],
                             metatags: Config, responseheader: Config,
                             htmlheadings: Config)

  def family(checks: Map[String, Any], name: String): Map[String, Any] =
    checks.get(name).collect { case m: Map[String @unchecked, Any @unchecked] => m }
      .getOrElse(Map.empty)
  def bool(m: Map[String, Any], key: String): Option[Boolean] =
    m.get(key).map(v => v == true || v == "true")

  private val text = Gen.oneOf("", "A", "B", " C ")
  private def upTo2[T](g: Gen[T]) = Gen.choose(0, 2).flatMap(Gen.listOfN(_, g))
  /** One key per header, in any case. */
  private def header(name: String, values: Seq[String]) = for {
    present <- Gen.oneOf(true, false)
    key <- Gen.oneOf(name, name.toLowerCase, name.toUpperCase)
    value <- Gen.oneOf(values)
  } yield if (present) Map(key -> value) else Map.empty[String, String]

  val page: Gen[Page] = for {
    titles <- upTo2(text)
    descs <- upTo2(text)
    canonical <- Gen.oneOf("absent", "self", "other")
    h1 <- Gen.choose(0, 3)
    enc <- header("Content-Encoding", Seq("gzip", "GZIP", "br"))
    cache <- header("Cache-Control", Seq("no-cache", "No-Cache", "max-age=60"))
    status <- Gen.oneOf(200, 404)
  } yield Page(titles, descs, canonical, h1, enc ++ cache, status)

  /** Each set holds 1-4 URLs; with two or more sets, one URL is in two. */
  private val membership: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(1, 3)
    sets = Sets.take(n)
    members <- Gen.sequence[Seq[Seq[String]], Seq[String]](sets.map(_ =>
      Gen.choose(1, Pool.size).flatMap(k => Gen.pick(k, Pool).map(_.toSeq))))
  } yield {
    val pairs = sets.zip(members).flatMap { case (s, us) => us.map(s -> _) }
    if (n > 1 && !pairs.contains(sets(1) -> members.head.head))
      pairs :+ (sets(1) -> members.head.head)
    else pairs
  }

  private def someOf(keys: Seq[String], value: Gen[Any]): Gen[Map[String, Any]] =
    Gen.sequence[Seq[Option[(String, Any)]], Option[(String, Any)]](keys.map(k =>
      Gen.option(value.map(k -> _)))).map(_.flatten.toMap)

  private def perSet(sets: Seq[String], checks: Gen[Map[String, Any]]): Gen[Config] =
    Gen.sequence[Seq[Map[String, Any]], Map[String, Any]](sets.map(_ => checks))
      .map(cs => sets.zip(cs).toMap)

  private val metatagsChecks: Gen[Map[String, Any]] = for {
    title <- someOf(Seq("has_title", "is_title_empty", "has_title_changed",
      "has_title_duplicates"), Gen.oneOf(true, false))
    desc <- someOf(Seq("has_description", "is_description_empty",
      "has_description_changed", "has_description_duplicates"), Gen.oneOf(true, false))
    canon <- someOf(Seq("has_canonical", "canonical_is_self_referencing",
      "canonical_href_200"), Gen.oneOf(true, false))
  } yield Map("title" -> title, "description" -> desc, "canonical" -> canon)

  private val headerChecks: Gen[Map[String, Any]] = for {
    code <- someOf(Seq("status_code"), Gen.oneOf("200", "404"))
    rest <- someOf(Seq("content_encoding", "cache_control", "expires"),
      Gen.oneOf("gzip", "no-cache", "-1"))
  } yield (code ++ rest).map { case (k, v) => k -> Map("assert" -> v) }

  val htmlWorld: Gen[HtmlWorld] = for {
    members <- membership
    pages <- Gen.sequence[Seq[Page], Page](members.map(_ => page))
    snapshots <- Gen.sequence[Seq[Seq[(String, String, Page, Timestamp)]],
        Seq[(String, String, Page, Timestamp)]](members.map { case (s, u) =>
      upTo2(page).map(_.zipWithIndex.map { case (p, i) =>
        (s, u, p, Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")) })
    })
    sets = members.map(_._1).distinct
    metatags <- perSet(sets, metatagsChecks)
    responseheader <- perSet(sets, headerChecks)
    htmlheadings <- perSet(sets, someOf(Seq("count_headline_h1"), Gen.choose(0, 2)))
  } yield HtmlWorld(members.zip(pages).map { case ((s, u), p) => (s, u, p) },
    snapshots.flatten, metatags, responseheader, htmlheadings)

  private val robots: Gen[Robots] = for {
    status <- Gen.oneOf(200, 404)
    sitemaps <- upTo2(Gen.oneOf("https://ex.com/sitemap.xml", "https://ex.com/missing.xml"))
  } yield Robots(status, sitemaps.distinct)

  val robotsWorld: Gen[(Seq[(String, String, Robots)], Config)] = for {
    members <- membership
    docs <- Gen.sequence[Seq[Robots], Robots](members.map(_ => robots))
    cfg <- perSet(members.map(_._1).distinct, for {
      code <- someOf(Seq("status_code"), Gen.oneOf(200, 404))
      flags <- someOf(Seq("has_sitemap_xml", "sitemap_access"), Gen.oneOf(true, false))
    } yield code ++ flags)
  } yield (members.zip(docs).map { case ((s, u), r) => (s, u + "/robots.txt", r) }, cfg)

  val pagespeedWorld: Gen[(Seq[(String, String, String, Option[Double])], Map[String, Any])] =
    for {
      n <- Gen.choose(1, 4)
      pages <- Gen.listOfN(n, for {
        cluster <- Gen.oneOf("home", "shop")
        url <- Gen.oneOf(Pool)
        strategy <- Gen.oneOf("desktop", "mobile")
        score <- Gen.option(Gen.oneOf(0.2, 0.5, 0.9))
      } yield (cluster, url, strategy, score))
      checks <- someOf(Seq("fcp_score", "performance_score"),
        someOf(Seq("desktop", "mobile"), Gen.oneOf(0.3, 0.5, 0.8)))
    } yield (pages, checks)
}
