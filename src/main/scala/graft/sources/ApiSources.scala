package graft.sources

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.DateFunctions

/** Outcome of one import run — the reference signals these with exceptions
  * (_DataAlreadyExistError / _DataNotAvailableYet,
  * google_search_console.py:25-27). */
sealed trait ImportOutcome
final case class Imported(rows: Long) extends ImportOutcome
case object AlreadyExists extends ImportOutcome
case object NotAvailableYet extends ImportOutcome

// ===================================================================== S5

/** One Search Analytics API row. */
final case class GscRow(keys: Seq[String], clicks: Double, impressions: Double,
                        ctr: Double, position: Double)

/** API boundary for Search Console (paging via startRow/rowLimit,
  * google_search_console.py:251-298). */
trait SearchAnalyticsApi extends Serializable {
  def query(property: String, searchType: String, start: LocalDate,
            end: LocalDate, dimensions: Seq[String], startRow: Int,
            rowLimit: Int): Seq[GscRow]
}

/** GSC naming-convention schema typer (google_search_console.py:497-514):
  * for ARBITRARY dimension/metric sets — including the `<metric>Previous`
  * columns the previous-period join appends — the column NAME alone
  * decides the type: `date` → DATE; prefix impressions|clicks|ctr|
  * position → FLOAT64 (Double); anything else STRING; columns containing
  * `Previous` are NULLABLE (the joined period may be absent). */
object GscSchema {
  import org.apache.spark.sql.types._

  def fieldFor(column: String): StructField = {
    val dt: DataType =
      if (column == "date") DateType
      else if (Seq("impressions", "clicks", "ctr", "position")
        .exists(column.startsWith)) DoubleType
      else StringType
    StructField(column, dt, nullable = column.contains("Previous"))
  }

  def schemaFor(columns: Seq[String]): StructType =
    StructType(columns.map(fieldFor))

  /** Cast an untyped (stringly) frame to the convention types, e.g. after
    * a CSV/JSON landing of raw API pages. */
  def applyTo(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      col(c).cast(fieldFor(c).dataType).as(c)).toIndexedSeq: _*)
}

final case class GscConfig(
    property: String,
    tableName: String = "search_console",
    requestDate: LocalDate,
    dimensions: Seq[String] = Seq("page", "device", "query", "country"),
    searchTypes: Seq[String] = Seq("web", "image", "video"),
    previousData: Seq[String] = Nil)

/** S5 google_search_console: page through the API per searchType, pivot
  * the keys list into named dimension columns, join previous-period
  * clicks/impressions, enforce (property, date) idempotency, and append
  * day-partitioned with the name-convention schema
  * (google_search_console.py:48-553). The reference's Mongo row cache
  * disappears — Spark holds the batch (SURVEY §2.1 S5). */
object GscSource {
  val RowLimit = 25000

  /** Month-snapped / same-day previous ranges
    * (google_search_console.py:214-238). */
  def previousRanges(requestDate: LocalDate, previousData: Seq[String]): Seq[(String, LocalDate, LocalDate)] =
    previousData.flatMap {
      case "year" =>
        val d = requestDate.minusYears(1); Some(("PreviousYear", d, d))
      case "month" =>
        val d = requestDate.minusMonths(1)
        Some(("PreviousMonth", d.withDayOfMonth(1),
          d.withDayOfMonth(d.lengthOfMonth)))
      case "week" =>
        val d = requestDate.minusWeeks(1); Some(("PreviousWeek", d, d))
      case "day" =>
        val d = requestDate.minusDays(1); Some(("PreviousDay", d, d))
      case _ => None
    }

  private def fetchAll(api: SearchAnalyticsApi, cfg: GscConfig,
                       searchType: String, start: LocalDate,
                       end: LocalDate): Seq[GscRow] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[GscRow]
    var startRow = 0
    var more = true
    while (more) {
      val page = api.query(cfg.property, searchType, start, end,
        cfg.dimensions, startRow, RowLimit)
      buf ++= page
      more = page.size >= RowLimit
      startRow += RowLimit
    }
    buf.toSeq
  }

  def importProperty(spark: SparkSession, api: SearchAnalyticsApi,
                     cfg: GscConfig, warehouse: Warehouse): ImportOutcome = {
    import spark.implicits._
    // idempotency probe (reference: per-day COUNT, :516-536) — partition
    // pruning keeps this a one-partition scan
    if (warehouse.exists(cfg.tableName)) {
      val d = java.sql.Date.valueOf(cfg.requestDate)
      val n = warehouse.read(cfg.tableName)
        .filter(col("date") === lit(d) && col("property") === cfg.property)
        .limit(1).count()
      if (n > 0) return AlreadyExists
    }

    val current = cfg.searchTypes.flatMap { st =>
      fetchAll(api, cfg, st, cfg.requestDate, cfg.requestDate)
        .map(r => (st, r.keys, r.clicks, r.impressions, r.ctr, r.position))
    }
    if (current.isEmpty) return NotAvailableYet

    var df = current
      .toDF("searchType", "keys", "clicks", "impressions", "ctr", "position")
      .withColumn("property", lit(cfg.property))
      .withColumn("date", lit(java.sql.Date.valueOf(cfg.requestDate)))
    // keys pivot (reference :551-553)
    cfg.dimensions.zipWithIndex.foreach { case (dim, i) =>
      df = df.withColumn(dim, element_at(col("keys"), i + 1))
    }
    df = df.drop("keys")

    // previous-period metric join (reference :302-347,369-408): left join
    // on (searchType, dimensions); only clicks/impressions survive
    previousRanges(cfg.requestDate, cfg.previousData).foreach {
      case (label, start, end) =>
        val prevRows = cfg.searchTypes.flatMap { st =>
          fetchAll(api, cfg, st, start, end)
            .map(r => (st, r.keys, r.clicks, r.impressions))
        }
        var prev = prevRows.toDF("searchType", "keys",
          s"clicks$label", s"impressions$label")
        cfg.dimensions.zipWithIndex.foreach { case (dim, i) =>
          prev = prev.withColumn(dim, element_at(col("keys"), i + 1))
        }
        prev = prev.drop("keys")
        df = df.join(prev, Seq("searchType") ++ cfg.dimensions, "left")
    }

    // name-convention schema (reference :497-514): metric prefixes →
    // FLOAT64, date → DATE, rest STRING (dimensions already strings)
    val typed = df.columns.foldLeft(df) { (acc, c) =>
      if (Seq("impressions", "clicks", "ctr", "position").exists(c.startsWith))
        acc.withColumn(c, col(c).cast("double"))
      else acc
    }
    Imported(warehouse.idempotentAppend(cfg.tableName, typed,
      Seq("property", "date")))
  }

  /** The retry queue's columns: one config per row, lists comma-joined. */
  val RetrySchema: StructType = StructType(Seq("property", "tableName",
    "requestDate", "dimensions", "searchTypes", "previousData").map(StructField(_, StringType)))

  /** Run specs + drained retries; API failures re-enqueue the spec with
    * its ORIGINAL request date (reference :53-61,165-190). */
  def run(spark: SparkSession, api: SearchAnalyticsApi, specs: Seq[GscConfig],
          warehouse: Warehouse, queues: QueueStore,
          retryQueue: String = "gsc_retry"): Map[String, ImportOutcome] = {
    import spark.implicits._
    val retries = queues.drain(retryQueue, RetrySchema).map { r =>
      GscConfig(r.getString(0), r.getString(1),
        LocalDate.parse(r.getString(2)),
        r.getString(3).split(',').toSeq.filter(_.nonEmpty),
        r.getString(4).split(',').toSeq.filter(_.nonEmpty),
        r.getString(5).split(',').toSeq.filter(_.nonEmpty))
    }
    def retry(cfg: GscConfig): Unit =
      queues.enqueue(retryQueue, Seq((cfg.property, cfg.tableName,
        cfg.requestDate.toString, cfg.dimensions.mkString(","),
        cfg.searchTypes.mkString(","), cfg.previousData.mkString(",")))
        .toDF(RetrySchema.fieldNames.toIndexedSeq: _*))
    // work-list merge with equality dedup (reference :128-129)
    val work = (retries ++ specs).distinct
    work.map { cfg =>
      val outcome =
        try importProperty(spark, api, cfg, warehouse)
        catch {
          case _: Exception =>
            retry(cfg)
            NotAvailableYet
        }
      // NotAvailableYet also retries later (watermark not advanced)
      if (outcome == NotAvailableYet) retry(cfg)
      cfg.property -> outcome
    }.toMap
  }
}

// ===================================================================== S6

/** One GA reporting page (headers + stringly rows + next token,
  * google_analytics.py:409-479). */
final case class GaPage(headers: Seq[String], rows: Seq[Seq[String]],
                        nextPageToken: Option[String])

trait GaReportingApi extends Serializable {
  def batchGet(view: String, date: LocalDate, metrics: Seq[String],
               dimensions: Seq[String], pageToken: Option[String],
               pageSize: Int): GaPage
}

final case class GaConfig(
    view: String,
    tableName: String = "google_analytics",
    requestDate: LocalDate,
    metrics: Seq[String],
    dimensions: Seq[String])

/** S6 google_analytics: paged pull, `ga:` prefix strip, duplicate-column
  * rejection, schema-by-convention casting via the verbatim metric
  * tables, (view, date) dedup (google_analytics.py:295-578). */
object GaSource {
  val PageSize = 100000

  final case class DuplicateColumn(name: String)
    extends RuntimeException(s"duplicate column after ga: strip: $name")

  def importView(spark: SparkSession, api: GaReportingApi, cfg: GaConfig,
                 warehouse: Warehouse): ImportOutcome = {
    import spark.implicits._
    if (warehouse.exists(cfg.tableName)) {
      val d = java.sql.Date.valueOf(cfg.requestDate)
      val n = warehouse.read(cfg.tableName)
        .filter(col("date") === lit(d) && col("view") === cfg.view)
        .limit(1).count()
      if (n > 0) return AlreadyExists
    }
    var token: Option[String] = None
    var headers: Seq[String] = Nil
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var first = true
    while (first || token.isDefined) {
      first = false
      val page = api.batchGet(cfg.view, cfg.requestDate, cfg.metrics,
        cfg.dimensions, token, PageSize)
      headers = page.headers.map(_.stripPrefix("ga:"))
      rows ++= page.rows
      token = page.nextPageToken
    }
    if (rows.isEmpty) return NotAvailableYet
    headers.groupBy(identity).collectFirst { case (h, hs) if hs.size > 1 => h }
      .foreach(h => throw DuplicateColumn(h))

    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq.map(org.apache.spark.sql.Row.fromSeq)),
      org.apache.spark.sql.types.StructType(headers.map(h =>
        org.apache.spark.sql.types.StructField(h, org.apache.spark.sql.types.StringType))))
    val typed = headers.foldLeft(raw) { (acc, h) =>
      acc.withColumn(h, col(h).cast(GaMetricTypes.sparkTypeFor(h)))
    }
      .withColumn("view", lit(cfg.view))
      .withColumn("date", lit(java.sql.Date.valueOf(cfg.requestDate)))
    Imported(warehouse.idempotentAppend(cfg.tableName, typed, Seq("view", "date")))
  }
}

// ================================================================= S7/S8

/** Scalar-method API boundary for Sistrix (sistrix_domain.py:180-228). */
trait SistrixApi extends Serializable {
  def call(method: String, params: Map[String, String]): Option[Double]
}

final case class SistrixMethod(method: String, fieldName: String,
                               parameters: Map[String, String] = Map.empty)

/** S7 sistrix_domain: ONE wide row per entity per day — one column per
  * configured fieldName — with weekday gating and per-(date, parameters)
  * dedup (sistrix_domain.py:47-229,338-387). */
object SistrixDomainSource {

  def importDaily(spark: SparkSession, api: SistrixApi, entity: (String, String),
                  methods: Seq[SistrixMethod], tableName: String,
                  warehouse: Warehouse, requestDate: LocalDate,
                  onlyOnWeekday: Option[String] = None,
                  today: LocalDate = LocalDate.now()): ImportOutcome = {
    import spark.implicits._
    // weekday gate (reference :154-160; %a/%A/isoweekday all accepted)
    onlyOnWeekday.foreach { wd =>
      val dow = today.getDayOfWeek
      val matches = Seq(
        dow.getDisplayName(java.time.format.TextStyle.SHORT, java.util.Locale.ENGLISH),
        dow.getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH),
        dow.getValue.toString).exists(_.equalsIgnoreCase(wd))
      if (!matches) return Imported(0)
    }
    val (entityKind, entityValue) = entity
    if (warehouse.exists(tableName)) {
      val d = java.sql.Date.valueOf(requestDate)
      val n = warehouse.read(tableName)
        .filter(col("date") === lit(d) && col("entity") === entityValue)
        .limit(1).count()
      if (n > 0) return AlreadyExists
    }
    val values = methods.map { m =>
      m.fieldName -> api.call(m.method,
        m.parameters + (entityKind -> entityValue))
    }
    val row = org.apache.spark.sql.Row.fromSeq(
      Seq(java.sql.Date.valueOf(requestDate), entityValue) ++
        values.map(_._2.map(Double.box).orNull))
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("date",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("entity",
          org.apache.spark.sql.types.StringType)) ++
        values.map(v => org.apache.spark.sql.types.StructField(v._1,
          org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row)), schema)
    Imported(warehouse.idempotentAppend(tableName, df, Seq("entity", "date")))
  }
}

/** S8 sistrix_optimizer ranking rows: the positionOverflow parse — int
  * positions pass through, ">100"-style values take their trailing digits
  * with the overflow flag set (sistrix_optimizer.py:239-252). */
object SistrixOptimizerSource {

  final case class InvalidPosition(raw: String)
    extends RuntimeException(s"""Invalid position data from api: "$raw"""")

  /** (position, positionOverflow). */
  def parsePosition(raw: String): (Option[Int], Boolean) =
    if (raw == null) (None, false)
    else if (raw.forall(_.isDigit) && raw.nonEmpty) (Some(raw.toInt), false)
    else {
      val m = "(\\d+)$".r.findFirstMatchIn(raw)
      m match {
        case Some(g) => (Some(g.group(1).toInt), true)
        case None => throw InvalidPosition(raw)
      }
    }

  /** Column-level variant for DataFrame pipelines over raw API frames. */
  def withParsedPosition(df: DataFrame, rawCol: String): DataFrame =
    df.withColumn("position",
        when(col(rawCol).rlike("^[0-9]+$"), col(rawCol).cast("int"))
          .otherwise(regexp_extract(col(rawCol), "([0-9]+)$", 1).cast("int")))
      .withColumn("positionOverflow",
        !col(rawCol).rlike("^[0-9]+$") && col(rawCol).rlike("[0-9]+$"))
}
