package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HtmlFunctions
import graft.operators.Relational

/** The check catalogue as it was before the fused compile: one DataFrame
  * branch per check, unioned by the operation. Kept unchanged as the
  * oracle of [[FusedChecksSpec]]: the fused select must emit exactly the
  * rows these branches emit. */
object CheckCatalogModel {

  /** Standard check-row projection. `staged` must carry urlset + url. */
  private def checkRows(df: DataFrame, check: String, valid: Column,
                        value: Column, diff: Column = lit(""),
                        error: Column = lit("")): DataFrame =
    df.select(
      col("urlset"),
      lit(check).as("check"),
      value.cast("string").as("value"),
      valid.cast("boolean").as("valid"),
      diff.cast("string").as("diff"),
      error.cast("string").as("error"),
      col("url"),
      col("date").as("created"))

  // ------------------------------------------------------------- metatags

  /** Per-doc title columns shared by the title family. */
  private object Title {
    def titles: Column = HtmlFunctions.titles(col("body"))
    def nonEmpty: Column = filter(titles, t => t =!= "")
    def multi: Column = size(titles) > 1
    /** The reference's loop keeps the LAST non-empty title as `value`. */
    def value: Column = coalesce(element_at(nonEmpty, -1), lit(""))
    /** Exactly-one-title value used by change detection/duplicates. */
    def single: Column =
      when(size(titles) === 1 && element_at(titles, 1) =!= "",
        element_at(titles, 1)).otherwise(lit(""))
  }

  def hasTitle(staged: DataFrame, assertVal: Boolean = true): DataFrame = {
    val exists = size(Title.nonEmpty) >= 1
    // the reference skips has_title entirely for multi-title docs
    checkRows(staged.filter(!Title.multi), "metatags-has_title",
      valid = exists === assertVal,
      value = Title.value,
      error = when(size(Title.titles) === 0 && !(exists === assertVal),
        lit("title missing")).otherwise(lit("")))
  }

  def hasMultipleTitles(staged: DataFrame): DataFrame =
    checkRows(staged, "metatags-has_multiple_titles",
      valid = !Title.multi, value = lit(""),
      error = when(Title.multi, lit("several titletags on page detected"))
        .otherwise(lit("")))

  def isTitleEmpty(staged: DataFrame, assertVal: Boolean = false): DataFrame = {
    val empty = exists(Title.titles, t => t === "")
    val valid = empty === assertVal
    checkRows(staged, "metatags-is_title_empty",
      valid = valid,
      value = coalesce(element_at(Title.titles, -1), lit(""))
        .as("value"),
      error = when(empty && valid, lit("titletag is empty")).otherwise(lit("")))
  }

  /** Change detection vs the latest previously-processed snapshot of the
    * same URL (as-of join, mongodb.py:128-131 / metatags.py:224-234).
    * `history` = processed staging docs (may be empty). */
  def hasTitleChanged(staged: DataFrame, history: DataFrame,
                      assertVal: Boolean = false): DataFrame = {
    val lastTitles = Relational.latestSnapshot(
        history.select(col("url"), col("date"), Title.single.as("__last_title")),
        Seq("url"), "date")
      .select(col("url"), col("__last_title"))
    val joined = staged
      .select(col("urlset"), col("url"), col("date"), Title.single.as("__new_title"))
      .join(lastTitles, Seq("url"), "left")
      .withColumn("__last_title", coalesce(col("__last_title"), lit("")))
    val changed = col("__new_title") =!= col("__last_title")
    val valid = changed === assertVal
    checkRows(joined, "metatags-has_title_changed",
      valid = valid,
      value = col("__new_title"),
      diff = when(!valid && changed, col("__last_title")).otherwise(lit("")),
      error = when(!valid && changed, lit("title has changed")).otherwise(lit("")))
  }

  /** Urlset-wide duplicate titles (metatags.py:277-377): docs with exactly
    * one non-empty title, grouped by title value; diff = the other URLs
    * (", "-joined, sorted). */
  def hasTitleDuplicates(staged: DataFrame,
                         assertVal: Boolean = false): DataFrame = {
    val withTitle = staged
      .select(col("urlset"), col("url"), col("date"), Title.single.as("__t"))
      .filter(col("__t") =!= "")
      .withColumn("__u", graft.core.Url.render(col("url")))
    val groups = withTitle.groupBy(col("urlset"), col("__t"))
      .agg(array_sort(collect_list(col("__u"))).as("__members"))
    val joined = withTitle.join(groups, Seq("urlset", "__t"))
    val dup = size(col("__members")) > 1
    val valid = dup === assertVal
    checkRows(joined, "metatags-has_title_duplicates",
      valid = valid,
      value = col("__t"),
      diff = when(dup, array_join(array_remove(col("__members"), col("__u")), ", "))
        .otherwise(lit("")),
      error = when(dup && !valid, lit("title duplicates in url-set detected"))
        .otherwise(lit("")))
  }

  // description family — same shapes over <meta name=description> content
  private object Desc {
    def descs: Column = HtmlFunctions.metaDescriptions(col("body"))
    def nonEmpty: Column = filter(descs, d => d =!= "")
    def multi: Column = size(descs) > 1
    def value: Column = coalesce(element_at(nonEmpty, -1), lit(""))
    def single: Column =
      when(size(descs) === 1 && element_at(descs, 1) =!= "",
        element_at(descs, 1)).otherwise(lit(""))
  }

  def hasDescription(staged: DataFrame, assertVal: Boolean = true): DataFrame = {
    val exists = size(Desc.nonEmpty) >= 1
    checkRows(staged.filter(!Desc.multi), "metatags-has_description",
      valid = exists === assertVal,
      value = Desc.value,
      error = when(size(Desc.descs) === 0 && !(exists === assertVal),
        lit("description missing")).otherwise(lit("")))
  }

  def hasMultipleDescriptions(staged: DataFrame): DataFrame =
    checkRows(staged, "metatags-has_multiple_descriptions",
      valid = !Desc.multi, value = lit(""),
      error = when(Desc.multi, lit("several description tags on page detected"))
        .otherwise(lit("")))

  def isDescriptionEmpty(staged: DataFrame, assertVal: Boolean = false): DataFrame = {
    val empty = exists(Desc.descs, d => d === "")
    val valid = empty === assertVal
    checkRows(staged, "metatags-is_description_empty",
      valid = valid,
      value = coalesce(element_at(Desc.descs, -1), lit("")),
      error = when(empty && valid, lit("description tag is empty")).otherwise(lit("")))
  }

  def hasDescriptionChanged(staged: DataFrame, history: DataFrame,
                            assertVal: Boolean = false): DataFrame = {
    val last = Relational.latestSnapshot(
        history.select(col("url"), col("date"), Desc.single.as("__last")),
        Seq("url"), "date")
      .select(col("url"), col("__last"))
    val joined = staged
      .select(col("urlset"), col("url"), col("date"), Desc.single.as("__new"))
      .join(last, Seq("url"), "left")
      .withColumn("__last", coalesce(col("__last"), lit("")))
    val changed = col("__new") =!= col("__last")
    val valid = changed === assertVal
    checkRows(joined, "metatags-has_description_changed",
      valid = valid, value = col("__new"),
      diff = when(!valid && changed, col("__last")).otherwise(lit("")),
      error = when(!valid && changed, lit("description has changed")).otherwise(lit("")))
  }

  def hasDescriptionDuplicates(staged: DataFrame,
                               assertVal: Boolean = false): DataFrame = {
    val withDesc = staged
      .select(col("urlset"), col("url"), col("date"), Desc.single.as("__d"))
      .filter(col("__d") =!= "")
      .withColumn("__u", graft.core.Url.render(col("url")))
    val groups = withDesc.groupBy(col("urlset"), col("__d"))
      .agg(array_sort(collect_list(col("__u"))).as("__members"))
    val joined = withDesc.join(groups, Seq("urlset", "__d"))
    val dup = size(col("__members")) > 1
    val valid = dup === assertVal
    checkRows(joined, "metatags-has_description_duplicates",
      valid = valid, value = col("__d"),
      diff = when(dup, array_join(array_remove(col("__members"), col("__u")), ", "))
        .otherwise(lit("")),
      error = when(dup && !valid, lit("description duplicates in url-set detected"))
        .otherwise(lit("")))
  }

  // canonical family (metatags.py:689-807)

  def hasCanonical(staged: DataFrame, assertVal: Boolean = true): DataFrame = {
    val href = HtmlFunctions.canonical(col("body"))
    checkRows(staged, "metatags-has_canonical",
      valid = (href =!= "") === assertVal, value = href,
      error = when(href === "" && assertVal, lit("canonical missing"))
        .otherwise(lit("")))
  }

  def canonicalSelfReferencing(staged: DataFrame): DataFrame = {
    val href = HtmlFunctions.canonical(col("body"))
    val self = href === graft.core.Url.render(col("url"))
    checkRows(staged, "metatags-canonical_is_self_referencing",
      valid = self, value = href,
      diff = when(!self, graft.core.Url.render(col("url"))).otherwise(lit("")))
  }

  /** `statuses`: (url string, status int) from a prior fetch stage — the
    * reference live-GETs the canonical href inside the check
    * (metatags.py:772-807); here the fetch result joins in as data. */
  def canonicalHref200(staged: DataFrame, statuses: DataFrame): DataFrame = {
    val href = HtmlFunctions.canonical(col("body"))
    val joined = staged.withColumn("__href", href)
      .join(statuses.withColumnsRenamed(Map("url" -> "__href", "status" -> "__st")),
        Seq("__href"), "left")
    checkRows(joined, "metatags-canonical_href_200",
      valid = col("__st") <=> lit(200), value = col("__href"),
      error = when(!(col("__st") <=> lit(200)),
        concat(lit("canonical returned "), coalesce(col("__st").cast("string"),
          lit("no response")))).otherwise(lit("")))
  }

  // ------------------------------------------------------ responseheader

  /** The six header checks (responseheader.py:59-240): status_code equality
    * plus five lowercased-header equality checks. `asserts` maps check
    * suffix → asserted value (string compare, lowercased both sides). */
  def responseHeaders(staged: DataFrame,
                      asserts: Map[String, String]): DataFrame = {
    val lowered = HtmlFunctions.normalizeHeaderKeys(col("headers"))
    val headerOf = Map(
      "content_encoding" -> "content-encoding",
      "cache_control" -> "cache-control",
      "expires" -> "expires",
      "x_canonical" -> "x-canonical",
      "no_index" -> "no-index")
    val parts = asserts.toSeq.sortBy(_._1).map {
      case ("status_code", v) =>
        checkRows(staged, "responseheader-status_code",
          valid = col("status_code") === lit(v.toInt), value = lit(""))
      case (key, v) =>
        val h = headerOf(key)
        checkRows(staged, s"responseheader-$key",
          valid = lower(element_at(lowered, h)) <=> lit(v.toLowerCase),
          value = lit(""))
    }
    parts.reduce(_.unionByName(_))
  }

  // ------------------------------------------------------- htmlheadings

  def countHeadlineH1(staged: DataFrame, assertVal: Int = 1): DataFrame = {
    val n = HtmlFunctions.h1Count(col("body"))
    checkRows(staged, "htmlheadings-count_headline_h1",
      valid = n === assertVal, value = n.cast("string"),
      error = when(n > 1 && !(n === assertVal),
        lit("more than one headline detected")).otherwise(lit("")))
  }

  // ----------------------------------------------------------- robotstxt

  def robotsStatusCode(staged: DataFrame, assertVal: Int = 200): DataFrame =
    checkRows(staged, "robotstxt-status_code",
      valid = col("status_code") === assertVal, value = col("body"))

  def robotsHasSitemap(staged: DataFrame, assertVal: Boolean = true): DataFrame = {
    val has = size(HtmlFunctions.robotsSitemaps(col("body"))) > 0
    checkRows(staged, "robotstxt-has_sitemap_xml",
      valid = has === assertVal,
      value = array_join(HtmlFunctions.robotsSitemaps(col("body")), ", "))
  }

  /** One check row per declared sitemap URL; `statuses` from a prior
    * fetch stage (the reference GETs each sitemap live,
    * operation/robotstxt.py:140-174). */
  def robotsSitemapAccess(staged: DataFrame, statuses: DataFrame): DataFrame = {
    val exploded = staged.select(col("urlset"), col("url"), col("date"),
      explode(HtmlFunctions.robotsSitemaps(col("body"))).as("__sm"))
    val joined = exploded
      .join(statuses.withColumnsRenamed(Map("url" -> "__sm", "status" -> "__st")),
        Seq("__sm"), "left")
    checkRows(joined, "robotstxt-sitemap_access",
      valid = col("__st") <=> lit(200), value = col("__sm"),
      error = when(!(col("__st") <=> lit(200)),
        lit("sitemap not accessible")).otherwise(lit("")))
  }

  // ----------------------------------------------------------- pagespeed

  /** One Lighthouse audit threshold check: score-mode (>=) over
    * `$.lighthouseResult.audits["<audit>"].score`, or display-mode (<=)
    * over `.numericValue` (operation/pagespeed.py:148-524). `strategy` is
    * desktop|mobile and suffixes the check name as the reference does. */
  def pagespeedThreshold(staged: DataFrame, checkName: String, audit: String,
                         strategy: String, threshold: Double,
                         displayMode: Boolean = false): DataFrame = {
    val field = if (displayMode) "numericValue" else "score"
    // the overall performance score lives under categories, not audits
    val path =
      if (audit == "performance") "$.lighthouseResult.categories.performance.score"
      else s"$$.lighthouseResult.audits['$audit'].$field"
    val v = get_json_object(col("body"), path).cast("double")
    val valid = if (displayMode) v <= threshold else v >= threshold
    checkRows(staged.filter(col("strategy") === strategy),
      s"pagespeed-$checkName$strategy",
      valid = coalesce(valid, lit(false)), value = coalesce(v.cast("string"), lit("")),
      error = when(v.isNull, lit("audit missing")).otherwise(lit("")))
  }
}
