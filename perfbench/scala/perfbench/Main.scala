package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.api.StreamContext

/** The benchmark's JVM side: runs one workload on generated inputs and
  * writes raw observations (set-up times, per-round and per-pipeline
  * timings, correctness verdicts, stream emissions) as JSON for `run.py`,
  * which turns them into metrics. With `--trace 1` it also writes spans.
  *
  * {{{
  * Main --workload W --data DIR --ref DIR --work DIR --out FILE --seconds S
  *      --trace 0|1 --spans FILE
  * }}}
  */
object Main {

  /** One session at local[Cores] */
  val Cores = 4
  /** Batch set-ups per run; `setup_s` is their median. Each includes a
    * pass over the pipelines, and the JIT speeds passes up until the fourth
    * or so: the median of five is the third set-up, past the steep part. */
  val Setups = 5
  /** Timed batch rounds per run at least; `round_p50_s` is their median */
  val MinRounds = 3

  final case class Args(workload: String, data: String, ref: String, work: String,
      out: String, seconds: Double, trace: Boolean, spans: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("data"), need("ref"), need("work"), need("out"),
      need("seconds").toDouble, need("trace") == "1", need("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t = new Tracer(a.trace)
    val result = a.workload match {
      case "batch_relational" => runBatch(a, t, Batch.relational)
      case "batch_iterative" => runBatch(a, t, Batch.iterative)
      case "event_stream" => EventStream.run(a, t)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) t.write(a.spans)
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.print(Json.mapper.writeValueAsString(result)) finally w.close()
  }

  /** A local session as the façade builds it, with its listeners attached
    * when tracing. */
  def session(a: Args, t: Tracer): SparkSession = {
    val spark = StreamContext.localSession(Cores)
    t.attach(spark)
    spark
  }

  def stop(spark: SparkSession, t: Tracer): Unit = {
    t.detach()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session-state guard: the SQL conf keys a pipeline changed or added
    * relative to `base`, each put back. */
  def restoreConf(spark: SparkSession, base: Map[String, String]): Seq[String] = {
    val now = spark.conf.getAll
    val changed = now.collect { case (k, v) if !base.get(k).contains(v) => k }.toSeq
    changed.foreach(k => base.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
    val dropped = base.keySet.diff(now.keySet).toSeq
    dropped.foreach(k => spark.conf.set(k, base(k)))
    (changed ++ dropped).sorted
  }

  private final case class Outcome(name: String, secs: Double, endS: Double,
      result: Either[String, (Seq[String], Seq[Row])])

  def runBatch(a: Args, t: Tracer, pipes: Seq[Pipeline]): Map[String, Any] = {
    // references load at the first check, after the first warm-up pass
    val refs = mutable.Map.empty[String, (Seq[String], Seq[Row])]
    val tableRows = Json.mapper.readValue(new java.io.File(s"${a.data}/rows.json"),
      classOf[Map[String, Number]]).map { case (k, v) => k -> v.longValue }
    val inputRows = pipes.map(p => p.name -> p.inputs.map(tableRows).sum).toMap
    val leaks = mutable.ArrayBuffer.empty[String]
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L

    def round(ctx: Ctx, r: Int): Double = {
      t.round = r
      val spark = ctx.spark
      val base = spark.conf.getAll
      val t0 = System.nanoTime()
      val outs = t.span("round", s"round-$r") {
        pipes.map { p =>
          t.pipeline = p.name
          val p0 = System.nanoTime()
          val res =
            try Right(t.span("pipeline", p.name)(p.body(ctx)))
            catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val p1 = System.nanoTime()
          leaks ++= restoreConf(spark, base).map(k => s"${p.name}:$k")
          System.err.println(f"[perfbench] round $r%d ${p.name} ${(p1 - p0) / 1e9}%.3f s " +
            res.fold(e => s"FAILED $e", _ => "ok"))
          Outcome(p.name, (p1 - p0) / 1e9, (p1 - t0) / 1e9, res)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      t.pipeline = ""
      t.round = 0   // the benchmark's own work: kept out of every layer
      // correctness, outside the timed window
      val checked = pipes.zip(outs).map { case (p, o) =>
        val verdict = o.result.flatMap { case (cols, rows) =>
          try {
            val got = p.sink.fold((cols, rows))(d => t.span("check", "read back sink")(ctx.readBack(d)))
            val (rc, rr) = refs.getOrElseUpdate(o.name, t.span("check", "load reference") {
              val ref = spark.read.parquet(s"${a.ref}/${o.name}.parquet")
              (ref.columns.toSeq, ref.collect().toSeq)
            })
            Check.compare(got._1, got._2, rc, rr).toLeft(())
          } catch { case NonFatal(e) => Left(s"check failed: $e") }
        }
        attempted += 1
        if (verdict.isLeft) failed += 1
        Map("name" -> o.name, "s" -> o.secs, "end_s" -> o.endS,
          "rows" -> inputRows(o.name), "ok" -> verdict.isRight,
          "error" -> verdict.left.getOrElse(""))
      }
      rounds += Map("round" -> r, "wall_s" -> wall, "pipelines" -> checked)
      wall
    }

    var spark: SparkSession = null
    var ctx: Ctx = null
    for (k <- 1 to Setups) {
      if (spark != null) stop(spark, t)
      val s0 = System.nanoTime()
      spark = session(a, t)
      val s1 = System.nanoTime()
      ctx = Ctx(spark, a.data, a.work, t)
      val warm = round(ctx, -k)   // warm-up rounds are numbered -1, -2, …
      sessionS += (s1 - s0) / 1e9
      setupS += (s1 - s0) / 1e9 + warm
    }
    // timed rounds until `seconds` are measured, at least MinRounds. Each
    // runs on a fresh session, as a batch job does; the session start is
    // untimed.
    var measured = 0.0
    var r = 0
    while (r < MinRounds || measured < a.seconds) {
      r += 1
      stop(spark, t)
      spark = session(a, t)
      ctx = Ctx(spark, a.data, a.work, t)
      measured += round(ctx, r)
    }
    t.drain()
    stop(spark, t)
    Map("workload" -> a.workload, "trace" -> a.trace,
      "setup_s" -> setupS, "session_s" -> sessionS, "rounds" -> rounds,
      "input_rows" -> inputRows, "conf_leaks" -> leaks,
      "attempted" -> attempted, "failed" -> failed)
  }
}
