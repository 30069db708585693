package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape every graft entry point and spec
  * uses: `local[cpus]`, one shuffle partition per core, session TZ UTC
  * and ANSI off (the DuckDB-oracle semantics: element_at out of bounds
  * is null, not an error), no UI. */
object Sessions {

  /** Core count of the entry points: `SPARK_GRAFT_CPUS`, else the
    * machine's available processors. */
  def cpus: Long =
    Env.long("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toLong)

  def builder(cpus: Long): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")

  def local(cpus: Long, logLevel: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
