package graft

import graft.api.StreamContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Base of every Spark-backed suite. All suites share one JVM session
  * (getOrCreate), built by the same recipe as every other graft session,
  * so its conf no longer depends on which suite ran first. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = StreamContext.localSession(4)
  def imp = spark.implicits
}
