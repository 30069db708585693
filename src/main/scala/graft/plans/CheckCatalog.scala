package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Url
import graft.functions.HtmlFunctions
import graft.operators.Relational

/** The reference's check catalogue (SURVEY §2.10) as DataFrame programs
  * over staged fetch documents, emitting the Check row shape
  * (urlset, check, value, valid, diff, error, url, created).
  *
  * Reference implementations:
  *  - metatags title/description families:
  *    /root/reference/modules/operation/custom/metatags.py:89-686
  *  - canonical family: metatags.py:689-807
  *  - responseheader family: responseheader.py:59-240
  *  - htmlheadings: htmlheadings.py:55-93
  *  - robotstxt family: operation/robotstxt.py:78-174
  *  - pagespeed thresholds: operation/pagespeed.py:148-524
  *
  * [[compile]] turns any set of [[Check]]s into one select; the
  * per-check functions at the end are that compile over one check.
  *
  * Differences from the reference, on purpose:
  *  - one parse per document: every extraction is a field projected once
  *    over the same scan (the reference re-parses the body with
  *    BeautifulSoup 5+ times per doc, metatags.py:75,290,383,598,692);
  *  - live fetches inside checks (canonical_href_200, sitemap_access)
  *    become a prior fetch stage whose (url → status) result joins in as
  *    data, a map looked up per row — operators stay deterministic and
  *    retryable (SURVEY §7.4);
  *  - duplicate-check diff lists are sorted for determinism (the
  *    reference emits dict-iteration order, ", "-joined).
  */
object CheckCatalog {

  /** A per-row input of the checks, projected once ahead of them. A
    * `prior` field is evaluated over the history instead: its value is
    * that of the latest snapshot of the same (urlset, url), null without
    * one. */
  final case class Field(name: String, expr: Column, prior: Boolean = false) {
    def c: Column = col(name)
  }

  /** One configured check: the array of Check rows it emits for a staged
    * row (null entries, or a null array, emit nothing) and the fields
    * that array reads, each after the fields its expression reads. */
  final case class Check(rows: Column, fields: Seq[Field]) {
    /** The same check on the rows of one URL-set only. */
    def in(urlset: String): Check = copy(rows = when(col("urlset") === urlset, rows))
  }

  private def row(check: String, valid: Column, value: Column, diff: Column,
                  error: Column): Column =
    struct(lit(check).as("check"), value.cast("string").as("value"),
      valid.cast("boolean").as("valid"), diff.cast("string").as("diff"),
      error.cast("string").as("error"))

  /** A row-local check: one Check row wherever `applies` holds. */
  private def check(check: String, valid: Column, value: Column,
                    diff: Column = lit(""), error: Column = lit(""),
                    applies: Column = lit(true), fields: Seq[Field] = Nil): Check =
    Check(array(when(applies, row(check, valid, value, diff, error))), fields)

  /** All of `checks` over `staged` as one select: fields projected once,
    * prior fields joined from one latest snapshot of `history` keyed by
    * (urlset, url), and each staged row exploded into the Check rows
    * that apply to it. */
  def compile(staged: DataFrame, checks: Seq[Check],
              history: Option[DataFrame] = None): DataFrame = {
    require(checks.nonEmpty, "no checks to compile")
    val (priors, fields) = checks.flatMap(_.fields).distinctBy(_.name).partition(_.prior)
    val parsed = fields.foldLeft(staged)((df, f) => df.withColumn(f.name, f.expr))
    val joined =
      if (priors.isEmpty) parsed
      else {
        val hist = history.getOrElse(throw new IllegalArgumentException(
          s"${priors.map(_.name).mkString(", ")} need the processed history"))
        val latest = Relational.latestSnapshot(
          hist.select(Seq(col("urlset"), col("url"), col("date")) ++
            priors.map(f => f.expr.as(f.name)): _*),
          Seq("urlset", "url"), "date").drop("date")
        parsed.join(latest, Seq("urlset", "url"), "left")
      }
    val rows = filter(flatten(filter(array(checks.map(_.rows): _*), _.isNotNull)),
      _.isNotNull)
    joined.select(col("urlset"), col("url"), col("date").as("created"),
        explode(rows).as("__c"))
      .select("urlset", "__c.*", "url", "created")
  }

  private val Rendered = Field("__u", Url.render(col("url")))

  // ------------------------------------------------------------- metatags

  /** The title and description families: the same checks over two tags. */
  final class Tag private[CheckCatalog] (val kind: String, tagWord: String,
                                         parse: Column => Column) {
    private val all = Field(s"__${kind}s", parse(col("body")))
    private def nonEmpty = filter(all.c, t => t =!= "")
    private def multi = size(all.c) > 1
    /** Exactly-one-tag value used by change detection/duplicates. */
    private def single(tags: Column) =
      when(size(tags) === 1 && element_at(tags, 1) =!= "", element_at(tags, 1))
        .otherwise(lit(""))
    private val last = Field(s"__last_$kind", single(parse(col("body"))), prior = true)
    /** The URLs of the URL-set's docs with the same single tag, sorted. */
    private val members = Field(s"__${kind}_members",
      array_sort(collect_list(when(single(all.c) =!= "", Rendered.c))
        .over(Window.partitionBy(col("urlset"), single(all.c)))))

    /** The reference skips it entirely for multi-tag docs, and its loop
      * keeps the LAST non-empty tag as `value`. */
    def has(assertVal: Boolean): Check = {
      val present = size(nonEmpty) >= 1
      check(s"metatags-has_$kind", valid = present === assertVal,
        value = coalesce(element_at(nonEmpty, -1), lit("")),
        error = when(size(all.c) === 0 && !(present === assertVal),
          lit(s"$kind missing")).otherwise(lit("")),
        applies = !multi, fields = Seq(all))
    }

    def multiple: Check =
      check(s"metatags-has_multiple_${kind}s", valid = !multi, value = lit(""),
        error = when(multi, lit(s"several ${tagWord}s on page detected"))
          .otherwise(lit("")),
        fields = Seq(all))

    def isEmpty(assertVal: Boolean): Check = {
      val empty = exists(all.c, t => t === "")
      val valid = empty === assertVal
      check(s"metatags-is_${kind}_empty", valid = valid,
        value = coalesce(element_at(all.c, -1), lit("")),
        error = when(empty && valid, lit(s"$tagWord is empty")).otherwise(lit("")),
        fields = Seq(all))
    }

    /** Change vs the latest previously-processed snapshot of the same URL
      * (as-of join, mongodb.py:128-131 / metatags.py:224-234); no
      * snapshot reads as ''. */
    def changed(assertVal: Boolean): Check = {
      val now = single(all.c)
      val before = coalesce(last.c, lit(""))
      val changed = now =!= before
      val valid = changed === assertVal
      check(s"metatags-has_${kind}_changed", valid = valid, value = now,
        diff = when(!valid && changed, before).otherwise(lit("")),
        error = when(!valid && changed, lit(s"$kind has changed")).otherwise(lit("")),
        fields = Seq(all, last))
    }

    /** URL-set-wide duplicates (metatags.py:277-377) among docs with
      * exactly one non-empty tag; diff = the other URLs, ", "-joined. */
    def duplicates(assertVal: Boolean): Check = {
      val dup = size(members.c) > 1
      val valid = dup === assertVal
      check(s"metatags-has_${kind}_duplicates", valid = valid,
        value = single(all.c),
        diff = when(dup, array_join(array_remove(members.c, Rendered.c), ", "))
          .otherwise(lit("")),
        error = when(dup && !valid, lit(s"$kind duplicates in url-set detected"))
          .otherwise(lit("")),
        applies = single(all.c) =!= "", fields = Seq(all, Rendered, members))
    }
  }

  /** The check constructors, for [[compile]]. */
  object Checks {
    val title = new Tag("title", "titletag", HtmlFunctions.titles)
    val description =
      new Tag("description", "description tag", HtmlFunctions.metaDescriptions)

    // canonical family (metatags.py:689-807)
    private val Href = Field("__canonical", HtmlFunctions.canonical(col("body")))

    def hasCanonical(assertVal: Boolean): Check =
      check("metatags-has_canonical", valid = (Href.c =!= "") === assertVal,
        value = Href.c,
        error = when(Href.c === "" && assertVal, lit("canonical missing"))
          .otherwise(lit("")),
        fields = Seq(Href))

    def canonicalSelfReferencing: Check = {
      val self = Href.c === Rendered.c
      check("metatags-canonical_is_self_referencing", valid = self, value = Href.c,
        diff = when(!self, Rendered.c).otherwise(lit("")), fields = Seq(Href, Rendered))
    }

    /** `statuses`: canonical href → status from a prior fetch stage — the
      * reference live-GETs the href inside the check (metatags.py:772-807). */
    def canonicalHref200(statuses: Map[String, Int]): Check = {
      val st = element_at(typedLit(statuses), Href.c)
      check("metatags-canonical_href_200", valid = st <=> lit(200), value = Href.c,
        error = when(!(st <=> lit(200)), concat(lit("canonical returned "),
          coalesce(st.cast("string"), lit("no response")))).otherwise(lit("")),
        fields = Seq(Href))
    }

    // responseheader (responseheader.py:59-240)
    private val Headers =
      Field("__headers", HtmlFunctions.normalizeHeaderKeys(col("headers")))
    private val HeaderChecks =
      Set("content_encoding", "cache_control", "expires", "x_canonical", "no_index")

    /** status_code equality, or one of five lowercased-header equality
      * checks (string compare, lowercased both sides). */
    def responseHeader(key: String, assertVal: String): Check = key match {
      case "status_code" =>
        check("responseheader-status_code",
          valid = col("status_code") === lit(assertVal.toInt), value = lit(""))
      case _ =>
        require(HeaderChecks(key), s"unknown responseheader check '$key'")
        check(s"responseheader-$key",
          valid = lower(element_at(Headers.c, key.replace('_', '-'))) <=>
            lit(assertVal.toLowerCase),
          value = lit(""), fields = Seq(Headers))
    }

    // htmlheadings (htmlheadings.py:55-93)
    private val H1 = Field("__h1", HtmlFunctions.h1Count(col("body")))

    def countHeadlineH1(assertVal: Int): Check =
      check("htmlheadings-count_headline_h1", valid = H1.c === assertVal,
        value = H1.c.cast("string"),
        error = when(H1.c > 1 && !(H1.c === assertVal),
          lit("more than one headline detected")).otherwise(lit("")),
        fields = Seq(H1))

    // robotstxt (operation/robotstxt.py:78-174)
    private val Sitemaps = Field("__sitemaps", HtmlFunctions.robotsSitemaps(col("body")))

    def robotsStatusCode(assertVal: Int): Check =
      check("robotstxt-status_code", valid = col("status_code") === assertVal,
        value = col("body"))

    def robotsHasSitemap(assertVal: Boolean): Check =
      check("robotstxt-has_sitemap_xml",
        valid = (size(Sitemaps.c) > 0) === assertVal,
        value = array_join(Sitemaps.c, ", "), fields = Seq(Sitemaps))

    /** One Check row per declared sitemap URL; `statuses` from a prior
      * fetch stage (the reference GETs each sitemap live,
      * operation/robotstxt.py:140-174). */
    def robotsSitemapAccess(statuses: Map[String, Int]): Check = {
      val m = typedLit(statuses)
      Check(transform(Sitemaps.c, sm => {
        val ok = element_at(m, sm) <=> lit(200)
        row("robotstxt-sitemap_access", valid = ok, value = sm, diff = lit(""),
          error = when(!ok, lit("sitemap not accessible")).otherwise(lit("")))
      }), Seq(Sitemaps))
    }

    // pagespeed (operation/pagespeed.py:148-524)

    /** One Lighthouse audit threshold on the rows of one strategy:
      * score-mode (>=) over `$.lighthouseResult.audits["<audit>"].score`,
      * or display-mode (<=) over `.numericValue`. `strategy` is
      * desktop|mobile and suffixes the check name as the reference does. */
    def pagespeedThreshold(checkName: String, audit: String, strategy: String,
                           threshold: Double, displayMode: Boolean): Check = {
      val field = if (displayMode) "numericValue" else "score"
      // the overall performance score lives under categories, not audits
      val path =
        if (audit == "performance") "$.lighthouseResult.categories.performance.score"
        else s"$$.lighthouseResult.audits['$audit'].$field"
      val v = Field(s"__audit_${audit.replaceAll("\\W", "_")}_$field",
        get_json_object(col("body"), path).cast("double"))
      val valid = if (displayMode) v.c <= threshold else v.c >= threshold
      check(s"pagespeed-$checkName$strategy",
        valid = coalesce(valid, lit(false)),
        value = coalesce(v.c.cast("string"), lit("")),
        error = when(v.c.isNull, lit("audit missing")).otherwise(lit("")),
        applies = col("strategy") === strategy, fields = Seq(v))
    }
  }

  // ------------------------------------------- one check over a staged frame

  import Checks._
  def hasTitle(staged: DataFrame, assertVal: Boolean = true): DataFrame =
    compile(staged, Seq(title.has(assertVal)))
  def hasMultipleTitles(staged: DataFrame): DataFrame =
    compile(staged, Seq(title.multiple))
  def isTitleEmpty(staged: DataFrame, assertVal: Boolean = false): DataFrame =
    compile(staged, Seq(title.isEmpty(assertVal)))
  /** `history` = processed staging docs (may be empty). */
  def hasTitleChanged(staged: DataFrame, history: DataFrame,
                      assertVal: Boolean = false): DataFrame =
    compile(staged, Seq(title.changed(assertVal)), Some(history))
  def hasTitleDuplicates(staged: DataFrame, assertVal: Boolean = false): DataFrame =
    compile(staged, Seq(title.duplicates(assertVal)))
  def hasCanonical(staged: DataFrame, assertVal: Boolean = true): DataFrame =
    compile(staged, Seq(Checks.hasCanonical(assertVal)))
  def canonicalSelfReferencing(staged: DataFrame): DataFrame =
    compile(staged, Seq(Checks.canonicalSelfReferencing))
  /** `statuses`: (url string, status int). */
  def canonicalHref200(staged: DataFrame, statuses: DataFrame): DataFrame =
    compile(staged, Seq(Checks.canonicalHref200(statusMap(statuses))))
  /** `asserts` maps check suffix → asserted value. */
  def responseHeaders(staged: DataFrame, asserts: Map[String, String]): DataFrame =
    compile(staged, asserts.toSeq.sortBy(_._1).map((responseHeader _).tupled))
  def countHeadlineH1(staged: DataFrame, assertVal: Int = 1): DataFrame =
    compile(staged, Seq(Checks.countHeadlineH1(assertVal)))
  def robotsStatusCode(staged: DataFrame, assertVal: Int = 200): DataFrame =
    compile(staged, Seq(Checks.robotsStatusCode(assertVal)))
  def robotsHasSitemap(staged: DataFrame, assertVal: Boolean = true): DataFrame =
    compile(staged, Seq(Checks.robotsHasSitemap(assertVal)))
  def robotsSitemapAccess(staged: DataFrame, statuses: DataFrame): DataFrame =
    compile(staged, Seq(Checks.robotsSitemapAccess(statusMap(statuses))))
  def pagespeedThreshold(staged: DataFrame, checkName: String, audit: String,
                         strategy: String, threshold: Double,
                         displayMode: Boolean = false): DataFrame =
    compile(staged, Seq(Checks.pagespeedThreshold(checkName, audit, strategy,
      threshold, displayMode)))

  private def statusMap(statuses: DataFrame): Map[String, Int] =
    statuses.select(col("url").cast("string"), col("status").cast("int"))
      .na.drop().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
}
