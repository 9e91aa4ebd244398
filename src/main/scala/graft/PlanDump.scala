package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Plan evidence, in two modes, on the harness session
  * ([[Bench.harnessSession]]; GRAFT_CONF overrides apply, for capturing
  * "before" plans of a config change):
  *
  *   sbt "runMain graft.PlanDump plans/r17 after q_a,q_b [sfDir]"
  *
  * dumps each named query's formatted INITIAL plan and, after running it,
  * the EXECUTED plan (with AQE's final shape — AQEShuffleRead coalescing,
  * runtime join strategy changes — which `.explain` alone cannot show) to
  * `<outDir>/<query>_<tag>.txt`;
  *
  *   sbt "runMain graft.PlanDump --catalog [PLANS.md] [sfDir]"
  *
  * writes the formatted physical plan of every catalog query to one
  * markdown file — the evidence that filters push to the scans, dims
  * broadcast, and the hot paths stay inside whole-stage codegen.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Bench.harnessSession()
    args.toSeq match {
      case "--catalog" +: rest =>
        catalog(spark, rest.lift(0).getOrElse("PLANS.md"),
          rest.lift(1).getOrElse("/root/testdata/sf0.01"))
      case Seq(outDir, tag, names, rest @ _*) =>
        perQuery(spark, outDir, tag,
          names.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case _ =>
        System.err.println("usage: PlanDump <outDir> <tag> <q_a,q_b> [sfDir]" +
          " | PlanDump --catalog [out.md] [sfDir]")
    }
    spark.stop()
  }

  private def perQuery(spark: SparkSession, outDir: String, tag: String,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val master = spark.sparkContext.master
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val sb = new StringBuilder
      sb.append(s"# $name ($tag) — sfDir=$sfDir, master=$master\n\n")
      try {
        val df = fn(spark, sfDir)
        sb.append("## initial plan (explain formatted)\n\n")
        sb.append(df.queryExecution.explainString(FormattedMode))
        df.count()
        sb.append("\n## executed plan (post-run, AQE final)\n\n")
        sb.append(df.queryExecution.executedPlan.toString)
        sb.append("\n")
      } catch {
        case e: Throwable => sb.append(s"\nPLAN ERROR: ${e.getMessage}\n")
      }
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), sb.toString)
      System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      spark.catalog.clearCache()
    }
  }

  private def catalog(spark: SparkSession, out: String, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the query catalog\n\n")
    sb.append(s"Generated against `$sfDir` (driver-loop queries show their per-round shape via the first round).\n")
    // iteration queries execute driver loops on .explain-triggered analysis;
    // skip the loops themselves and document the building blocks instead.
    // Every q_stream_* twin executes its full streaming query on
    // construction and would only show the memory-sink scan here; their
    // streaming plans are pinned by StreamingSpec
    val skipIter = Set("q_connected_components", "q_transitive_closure",
      "q_pagerank", "q_kmeans", "q_pagerank_delta", "q_ppr", "q_sssp")
    def skip(name: String): Boolean =
      skipIter(name) || name.startsWith("q_stream_")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          sb.append(s"\n## $name\n\n```\n$plan```\n")
        } catch {
          case e: Throwable => sb.append(s"\n## $name\n\nPLAN ERROR: ${e.getMessage}\n")
        }
      }
    }
    sb.append("\n## iteration queries (driver loops)\n\n")
    sb.append("`q_connected_components` / `q_transitive_closure` / `q_pagerank` / `q_kmeans` are driver-side fixpoints (graft.operators.Iteration); each round is a plan of the same shape as the joins/aggregations above with cached inputs. See Graph.scala / KMeans.scala scaladocs for the per-round shuffle analysis.\n")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"WROTE $out (${sb.length} chars)")
  }
}
