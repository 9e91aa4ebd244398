package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe (`StreamContext.localSession`): its conf values,
  * and the harness session that runs it under the GRAFT_* deployment
  * settings. */
class SessionRecipeSpec extends AnyFunSuite {
  def recipe(width: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.ansi.enabled" -> "false")

  test("localSession(4) has exactly the recipe's conf values") {
    val spark = graft.api.StreamContext.localSession(4)
    val got = recipe(4).keys.map(k => k -> spark.conf.get(k)).toMap
    assert(got == recipe(4))
    assert(spark.sparkContext.master == "local[4]")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("with GRAFT_* unset the harness runs the recipe at local[SPARK_GRAFT_CPUS]") {
    assert(Bench.harnessSettings(Map("SPARK_GRAFT_CPUS" -> "4")) ==
      (("local[4]", 4, Nil)))
    // unset width: at least 4, else the available processors
    val width = math.max(4, Runtime.getRuntime.availableProcessors())
    assert(Bench.harnessSettings(Map.empty) == ((s"local[$width]", width, Nil)))
  }

  test("deployment settings: master, jars, then GRAFT_CONF overrides") {
    val (master, width, deploy) = Bench.harnessSettings(Map(
      "SPARK_GRAFT_CPUS" -> "8",
      "GRAFT_MASTER" -> "local-cluster[2,4,2048]",
      "GRAFT_JARS" -> "/tmp/graft.jar",
      "GRAFT_CONF" -> "spark.sql.shuffle.partitions=2"))
    assert(master == "local-cluster[2,4,2048]" && width == 8)
    assert(deploy == Seq("spark.jars" -> "/tmp/graft.jar",
      "spark.sql.shuffle.partitions" -> "2"))
  }

  test("a malformed GRAFT_CONF token warns and is ignored") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val settings =
      try Bench.harnessSettings(Map("SPARK_GRAFT_CPUS" -> "4",
        "GRAFT_CONF" -> "spark.sql.ansi.enabled=true;oops"))
      finally System.setErr(saved)
    assert(settings == (("local[4]", 4, Seq("spark.sql.ansi.enabled" -> "true"))))
    assert(err.toString.contains("GRAFT_CONF token 'oops' is not k=v"), err.toString)
  }
}
