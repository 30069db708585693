package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs — one JVM-wide session (Spark
  * getOrCreate dedupes), built by the engine's own session factory. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Sessions.local(4, "ERROR")
}
