package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The small-input route of the operators that replay a distributed fold
  * on the driver (connected components, the MinHash store's candidate
  * algebra, BPE merges, rank fixpoints, perceptron training): collect
  * the input when it is small, compute in plain Scala, hand the result
  * back as a local relation. Every bound is a driver-MEMORY bound in
  * rows, never a data-scale knob, and 0 forces the distributed route. */
private[graft] object DriverRoute {
  /** Up to this many result rows [[local]] builds a LocalRelation (exact
    * stats, so downstream joins broadcast it with no job); above, the
    * rows are parallelized — a multi-MB LocalRelation would be copied
    * into every plan that reads it. */
  val MaxLocalRows = 200000

  /** `df`'s rows when `maxRows > 0` and it has at most `maxRows` rows,
    * else None. One Spark job (none for a local relation) over every
    * partition at once; each task ships at most `maxRows + 1` rows, and
    * the driver keeps them only while the running total stays within the
    * bound. The first result that takes the total over it cancels the
    * job, so an input over the bound ships only the results of the tasks
    * already running — not every partition's — before the caller falls
    * back, and never counts more than those against
    * `spark.driver.maxResultSize`. The job runs as a SQL execution of
    * `df`'s own plan named `what`, so AQE stages and listeners see it
    * like any action. */
  def collect(df: DataFrame, maxRows: Long,
              what: String = "DriverRoute.collect"): Option[Array[Row]] = {
    if (maxRows <= 0) return None
    val cap = math.min(maxRows, Int.MaxValue - 16L).toInt
    val qe = df.queryExecution
    if (isLocal(df)) {
      val rows = df.collect()
      return if (rows.length <= cap) Some(rows) else None
    }
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    SQLExecution.withNewExecutionId(qe, Some(what)) {
      val sc = df.sparkSession.sparkContext
      val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      @volatile var over = false
      // the handler runs on the scheduler's event loop, one result at a
      // time; the first result past the bound cancels the job by its tag
      val tag = s"graft-driver-route-${java.util.UUID.randomUUID}"
      sc.addJobTag(tag)
      try sc.runJob(qe.executedPlan.execute(),
          (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
          (_: Int, part: Array[InternalRow]) =>
            if (!over) {
              if (kept.length + part.length <= cap) kept ++= part
              else { over = true; kept.clear(); sc.cancelJobsWithTag(tag) }
            })
      catch { case _: SparkException if over => }
      finally sc.removeJobTag(tag)
      if (over) None else Some(kept.iterator.map(toRow).toArray)
    }
  }

  /** Whether `df` optimizes to a local relation: its rows are on the
    * driver, and reading them starts no job. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Whether `maxRows > 0` and `df` optimizes to a local relation of at
    * most `maxRows` rows. */
  def isLocal(df: DataFrame, maxRows: Long): Boolean = maxRows > 0 &&
    (df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.length <= maxRows
      case _ => false
    })

  /** A frame that [[isLocal]] as a local relation of its rows: plans over
    * the result start from the rows instead of re-evaluating, on the
    * driver, every projection the optimizer folded into them. The local
    * counterpart of a checkpoint; it starts no job. */
  def settle(df: DataFrame): DataFrame =
    local(df.sparkSession, df.collect().toSeq, df.schema)

  /** `rows` as a frame of `schema` — see [[MaxLocalRows]]. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    if (rows.size <= MaxLocalRows) spark.createDataFrame(rows.asJava, schema)
    else spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
      schema)

  /** Whether every (frame, column) key has one data type. A driver replay
    * matches keys by value equality, which cannot mirror the type
    * coercion of the distributed route's joins — so inputs whose key
    * types differ must take the distributed route. */
  def sameKeyTypes(keys: (DataFrame, String)*): Boolean =
    keys.map { case (df, c) => df.schema(c).dataType }.distinct.size <= 1
}
