package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.{SpecBus, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.{Jobs, SparkSpec}

class DriverRouteSpec extends SparkSpec {
  import spark.implicits._

  private def ids(rows: Option[Array[Row]]) = rows.map(_.map(_.getLong(0)).sorted.toSeq)

  test("collect returns every row up to the bound, None above it and at 0") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(ids(DriverRoute.collect(df, 100)) === Some(0L until 100L))
    assert(DriverRoute.collect(df, 99).isEmpty)
    assert(DriverRoute.collect(df, 0).isEmpty)
    assert(ids(DriverRoute.collect(df.filter(col("id") < 0), 1)) === Some(Nil))
    // 0 forces the distributed route for an empty input too
    assert(DriverRoute.collect(df.filter(col("id") < 0), 0).isEmpty)
  }

  test("collect is one job over every partition, and none for a local relation") {
    val staged = spark.range(0, 100, 1, 4).toDF("id").localCheckpoint(true)
    Seq(1000L, 10L).foreach { bound =>
      val (_, ran) = Jobs.during(spark)(DriverRoute.collect(staged, bound))
      assert(ran.jobs.size === 1 && ran.queries.size === 1, s"bound $bound")
    }
    val local = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val (rows, ran) = Jobs.during(spark)(DriverRoute.collect(local, 2))
    assert(ran.jobs.isEmpty && rows.map(_.toSeq) === Some(Seq(Row(1L, "a"), Row(2L, "b"))))
    assert(DriverRoute.collect(local, 1).isEmpty)
  }

  test("an input over the bound ships about one wave of tasks, not every partition") {
    // 64 partitions of 200 rows, each over the bound on its own: the first
    // result cancels the job, so on local[4] the tasks that finish are the
    // first wave (plus any that complete before the cancel lands) — not
    // all 64, each shipping maxRows + 1 rows
    val slow = spark.range(0, 64 * 200, 1, 64).toDF("id").as[Long]
      .mapPartitions { it => Thread.sleep(100); it }.toDF("id")
    val sc = spark.sparkContext
    val shipped = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason == Success) shipped.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(DriverRoute.collect(slow, 100).isEmpty)
      SpecBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(shipped.get <= 8, s"${shipped.get} of 64 tasks shipped their rows")
    // the cancelled job leaves the context usable
    assert(ids(DriverRoute.collect(slow.limit(3), 3)).map(_.size) === Some(3))
  }

  test("local is a local relation of the given schema") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val df = DriverRoute.local(spark, Seq(Row(1L), Row(2L)), schema)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(df.schema === schema && df.as[Long].collect().toSeq === Seq(1L, 2L))
  }

  test("sameKeyTypes tells keys of one type from mixed ones") {
    val df = Seq((1L, 1, 2L)).toDF("a", "b", "c")
    assert(DriverRoute.sameKeyTypes(df -> "a", df -> "c"))
    assert(!DriverRoute.sameKeyTypes(df -> "a", df -> "b", df -> "c"))
    assert(DriverRoute.sameKeyTypes())
  }
}
