package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** S3/S4 PageSpeed sources.
  *
  * S3 (legacy PSI v5, pagespeed.py:21-98): fetch per URL × strategy, store
  * the raw JSON body for later evaluation.
  *
  * S4 (google_pagespeed Lighthouse, google_pagespeed.py:45-487): cluster ×
  * strategy fan-out, typed `labdata` parse from the Lighthouse audits, a
  * retry queue with a decrementing counter (MAX 3, :33,136-169,220-222),
  * and a log table recording status/message per request (:211-234,325-343).
  * Rate limiting (≤10 parallel, 3 s/req — :32-35) is the fetcher's
  * concern; the `maxConcurrency` repartition bounds parallelism the same
  * way the reference's chunked pool does.
  */
object PageSpeedSource {
  val MaxRetries = 3

  final case class Request(cluster: String, url: String, strategy: String,
                           retries: Int = MaxRetries)

  /** Raw fetch stage: (cluster, url, strategy, status, body, date). */
  def fetchRaw(spark: SparkSession, requests: Seq[Request], fetcher: Fetcher,
               apiUrl: (String, String) => String,
               maxConcurrency: Int = 10,
               now: () => java.sql.Timestamp =
                 () => new java.sql.Timestamp(System.currentTimeMillis())): DataFrame = {
    import spark.implicits._
    val slots = math.max(1, math.min(requests.size, maxConcurrency))
    spark.createDataset(requests).repartition(slots).map { r =>
      val res = fetcher.fetch(apiUrl(r.url, r.strategy), "graft-pagespeed")
      (r.cluster, r.url, r.strategy, r.retries,
        if (res.error.nonEmpty) 0 else res.status_code,
        if (res.error.nonEmpty) s"Error: ${res.error}" else res.body,
        now())
    }.toDF("cluster", "url", "strategy", "retries", "status", "body", "date")
  }

  /** Typed labdata projection from the Lighthouse JSON — the audit paths
    * of google_pagespeed.py:345-407, one `get_json_object` per metric
    * (stays in codegen; the raw body is scanned once). */
  def labdata(raw: DataFrame): DataFrame = {
    def audit(name: String, field: String) =
      get_json_object(col("body"),
        s"$$.lighthouseResult.audits['$name'].$field")
    raw.filter(col("status") === 200).select(
      col("cluster"), col("url"), col("strategy"), col("date"),
      struct(
        audit("first-contentful-paint", "numericValue").cast("double")
          .as("firstContentfulPaint"),
        audit("largest-contentful-paint", "numericValue").cast("double")
          .as("largestContentfulPaint"),
        audit("interactive", "numericValue").cast("double")
          .as("timeToInteractive"),
        audit("speed-index", "numericValue").cast("double").as("speedIndex"),
        audit("total-blocking-time", "numericValue").cast("double")
          .as("totalBlockingTime"),
        audit("cumulative-layout-shift", "numericValue").cast("double")
          .as("cumulativeLayoutShift"),
        audit("server-response-time", "numericValue").cast("double")
          .as("serverResponseTime")).as("labdata"),
      get_json_object(col("body"), "$.lighthouseResult.categories.performance.score")
        .cast("double").as("performanceScore"))
  }

  /** The per-request log rows (google_pagespeed.py:211-234). */
  def logRows(raw: DataFrame): DataFrame =
    raw.select(col("date"), col("url"), col("strategy"),
      col("status"),
      when(col("status") === 200, lit("")).otherwise(col("body")).as("message"))

  /** Failed requests with a decremented retry counter — rows whose counter
    * hits zero are dropped (reference MAX 3, :136-169). */
  def retryRows(raw: DataFrame): DataFrame =
    raw.filter(col("status") =!= 200 && col("retries") > 1)
      .select(col("cluster"), col("url"), col("strategy"),
        (col("retries") - 1).as("retries"))

  /** The retry queue's columns, as [[retryRows]] writes them. */
  val RetrySchema: StructType = StructType(
    Seq("cluster", "url", "strategy").map(StructField(_, StringType)) :+
      StructField("retries", IntegerType, nullable = false))

  /** One full run: fetch (configured requests + drained retries), write
    * labdata + logs, re-enqueue failures. */
  def run(spark: SparkSession, requests: Seq[Request], fetcher: Fetcher,
          apiUrl: (String, String) => String, warehouse: Warehouse,
          queues: QueueStore, staging: Option[StagingStore] = None,
          tableName: String = "pagespeed",
          retryQueue: String = "pagespeed_retry",
          now: () => java.sql.Timestamp =
            () => new java.sql.Timestamp(System.currentTimeMillis())): DataFrame = {
    val retries = queues.drain(retryQueue, RetrySchema)
      .map(r => Request(r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    val work = (retries ++ requests)
      .groupBy(r => (r.cluster, r.url, r.strategy)).map(_._2.head).toSeq
    val raw = fetchRaw(spark, work, fetcher, apiUrl, now = now).cache()
    // raw bodies staged for the operation tier (the reference's S3 path
    // stores raw JSON; operation/pagespeed.py evaluates audit paths on it
    // with unprocessed-marker incremental reads — hence StagingStore)
    staging.foreach(_.append(tableName, raw.drop("retries")))
    val typed = labdata(raw)
      .withColumn("date", to_date(col("date")))
    if (!typed.isEmpty)
      warehouse.idempotentAppend(tableName, typed,
        Seq("url", "strategy", "date"))
    warehouse.append(tableName + "_log",
      logRows(raw).withColumn("date", to_date(col("date"))))
    val retry = retryRows(raw)
    if (!retry.isEmpty) queues.enqueue(retryQueue, retry)
    raw.unpersist()
    typed
  }
}
