package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.algorithms.{Graph, KMeans}
import graft.api.StreamContext
import graft.functions.{CoOccurrence, Dedup}
import graft.operators.Iteration

/** One batch pipeline: its name, the input tables it reads, and a body that
  * builds it through the library and runs its action, returning the result
  * as column names and rows. A pipeline whose action is a façade sink names
  * the directory (under the work directory) it writes; its result is read
  * back from there once the round is timed. */
final case class Pipeline(name: String, inputs: Seq[String],
    body: Ctx => (Seq[String], Seq[Row]), sink: Option[String] = None)

/** What a pipeline body gets: the session, its input directory, a scratch
  * directory for sinks, and the tracer to time library calls with. */
final case class Ctx(spark: SparkSession, data: String, work: String, t: Tracer) {
  val sc: StreamContext = StreamContext(spark)

  /** A library call, timed as a span of `module` when tracing. */
  def call[T](module: String, name: String)(body: => T): T = t.span("call", name, module)(body)

  /** The action that materialises a pipeline's result. */
  def collect(df: DataFrame): (Seq[String], Seq[Row]) =
    (df.columns.toSeq, t.span("action", "collect")(df.collect().toSeq))

  def table(name: String): DataFrame =
    call("api", "StreamContext.table")(sc.table(data, name))

  /** The façade's partitioned parquet sink as a pipeline's action; the
    * result is read back from `dir` outside the timing. */
  def write(df: DataFrame, dir: String, partitionCol: String): (Seq[String], Seq[Row]) = {
    call("api", "Stream.writeParquetPartitioned")(
      sc.fromDataset(df).writeParquetPartitioned(s"$work/$dir", partitionCol))
    (Seq.empty, Seq.empty)
  }

  def readBack(dir: String): (Seq[String], Seq[Row]) = {
    val back = spark.read.parquet(s"$work/$dir")
    (back.columns.toSeq, back.collect().toSeq)
  }
}

/** The pipelines of the two batch workloads. Each mirrors a cell of the
  * library's catalog (`graft.Queries` / `graft.TpchQueries`) call for call,
  * so that cell's oracle SQL is its reference; connected components adds
  * seeded links to its cell's graph, so its reference is computed apart. */
object Batch {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def dec9(c: Column): Column = c.cast("decimal(9,2)")
  private val one = lit(1).cast("decimal(18,2)")
  private val one9 = lit(1).cast("decimal(9,2)")
  private def ts(s: String): Column = lit(s).cast("timestamp")
  private def discPrice: Column =
    dec9(col("l_extendedprice")) * (one9 - dec9(col("l_discount")))

  val relational: Seq[Pipeline] = Seq(
    // q_tpch1: scan → filter → keyed aggregate
    Pipeline("pricing_summary", Seq("lineitem"), c => c.collect(
      c.table("lineitem")
        .filter(col("l_shipdate") <= ts("2001-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum((discPrice * (one9 + dec9(col("l_tax")))
            * lit(1000000L).cast("decimal(7,0)")).cast("long"))
            .as("sum_charge_micro"),
          (sum(dec(col("l_quantity"))).cast("double") /
            count(lit(1)).cast("double")).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") /
            count(lit(1)).cast("double")).as("avg_price"),
          (sum(dec(col("l_discount"))).cast("double") /
            count(lit(1)).cast("double")).as("avg_disc"),
          count(lit(1)).as("count_order")))),
    // q_tpch10: customer ⋈ orders ⋈ lineitem ⋈ nation, aggregate, top-20
    Pipeline("customer_revenue_topk", Seq("customer", "orders", "lineitem", "nation"),
      c => c.collect(
        c.table("customer")
          .join(c.table("orders")
              .filter(col("o_orderdate") >= ts("1997-01-01") &&
                col("o_orderdate") < ts("1997-04-01")),
            col("c_custkey") === col("o_custkey"))
          .join(c.table("lineitem").filter(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .join(c.table("nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sum(discPrice).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20))),
    // q_copurchase: the basket self-join
    Pipeline("copurchase_pairs", Seq("lineitem"), c => c.collect(
      c.call("functions", "CoOccurrence.pairs")(CoOccurrence.pairs(
        c.table("lineitem"), "l_orderkey", "l_partkey", maxBasketSize = 20,
        minCount = 2L)))),
    // q_window_sliding: 1-day windows every 12 hours
    Pipeline("window_sliding", Seq("events"), c => c.collect(
      c.table("events").withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("ws")).as("w_start"), col("event_type"), col("n")))),
    // q_window_session: 4-hour-gap sessions per user
    Pipeline("window_session", Seq("events"), c => c.collect(
      c.table("events").withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(session_window(col("ts"), "4 hours").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("w_start"), col("n"),
          col("sum_value")))),
    // q1_agg, written through the façade's partitioned parquet sink
    Pipeline("partitioned_sink", Seq("lineitem"), sink = Some("sink_q1_agg"), body = c => {
      val agg = c.table("lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
      c.write(agg, "sink_q1_agg", "l_returnflag")
    })
  )

  val iterative: Seq[Pipeline] = Seq(
    // q_connected_components, plus the seeded customer chains
    Pipeline("connected_components", Seq("orders", "cc_links"), c => {
      val edges = c.table("orders")
        .select(col("o_custkey").as("src"), (col("o_orderkey") + 10000000L).as("dst"))
        .union(c.table("cc_links").select(col("src"), col("dst")))
      c.collect(c.call("algorithms", "Graph.connectedComponents")(
        Graph.connectedComponents(edges, dedupeEdges = false)))
    }),
    // q_iterate: Collatz stopping times through the iterate loop
    Pipeline("collatz_iterate", Seq("part"), c => {
      val spark = c.spark
      import spark.implicits._
      val domain = c.table("part")
        .select((col("p_partkey").cast("long") % 997L + 2L).as("n"))
        .distinct().as[Long].map(n => (n, n, 0L))
      val (_, fin) = c.call("operators", "Iteration.iterate")(
        Iteration.iterate(domain, maxIter = 8, init = 1L) { (ds, _) =>
          ds.map { case (start, cur0, steps0) =>
            var cur = cur0; var steps = steps0; var i = 0
            while (i < 64 && cur > 1L) {
              cur = if (cur % 2 == 0) cur / 2 else 3 * cur + 1
              steps += 1; i += 1
            }
            (start, cur, steps)
          }
        } { (ds, _) => ds.filter(_._2 > 1L).count() } { _ > 0L })
      c.collect(fin.map { case (start, _, steps) => (start, steps) }.toDF("start_n", "steps"))
    }),
    // q_kmeans, its assignments written through the partitioned parquet sink
    Pipeline("kmeans", Seq("embeddings"), sink = Some("sink_kmeans"), body = c => c.write(
      c.call("algorithms", "KMeans.assign")(
        KMeans.assign(c.table("embeddings"), "vec_id", "embedding", k = 4, iterations = 5)),
      "sink_kmeans", "cluster")),
    // q_dedup_minhash, portable hashing (the form the oracle recomputes)
    Pipeline("minhash_dedup", Seq("documents"), c => {
      val pairs = c.call("functions", "Dedup.minhashNearDups")(
        Dedup.minhashNearDups(c.table("documents"), "doc_id", "text",
          minEstSim = 0.5, portable = true))
      try c.collect(pairs) finally pairs.unpersist()
    })
  )
}
