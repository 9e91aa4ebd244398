package perfbench

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.StreamContext
import graft.api.StreamContext.AsyncSource
import graft.streaming.Streaming

import perfbench.Main.Args

final case class Ev(id: Long, user_id: Long, ts_us: Long)
final case class Tick(events: Seq[Ev])

/** Open-loop generator on one thread: event `i` is due at `t0 + i/rate`,
  * is stamped with that due time as its creation time, and carries an
  * event time of its due wall-clock time minus a seeded jitter. Every
  * 100 ms the events now due go out as one chunk to each sink queue. */
final class Generator(users: Array[Long], jitterUs: Array[Long], rate: Int,
    sinks: Seq[LinkedBlockingQueue[Option[Tick]]]) extends Thread("perfbench-generator") {
  private val TickNs = 100000000L
  val created = mutable.ArrayBuilder.make[Long]
  val user = mutable.ArrayBuilder.make[Long]
  val tsUs = mutable.ArrayBuilder.make[Long]
  /** per chunk sent: (send time ns, lateness of its first event ns, events) */
  val ticks = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile var running = true
  @volatile var count = 0L
  setDaemon(true)

  override def run(): Unit = {
    val t0 = System.nanoTime()
    val epoch0Us = System.currentTimeMillis() * 1000L
    var i = 0L
    while (running) {
      val now = System.nanoTime()
      val due = ((now - t0).toDouble * rate / 1e9).toLong
      if (due > i) {
        val evs = (i until due).map { j =>
          val p = (j % users.length).toInt
          val dueNs = t0 + (j * 1e9 / rate).toLong
          val ts = epoch0Us + (dueNs - t0) / 1000L - jitterUs(p)
          created += dueNs; user += users(p); tsUs += ts
          Ev(j, users(p), ts)
        }
        ticks += ((now, now - (t0 + (i * 1e9 / rate).toLong), due - i))
        val tick = Some(Tick(evs))
        sinks.foreach(_.put(tick))
        i = due
        count = due
      }
      LockSupport.parkNanos(TickNs)
    }
    sinks.foreach(_.put(None))
  }
}

/** The event_stream workload: seeded events fed through the façade's
  * `StreamContext.streamAsync` source into `Streaming.withEventTime` →
  * `tumblingCounts` and → `sessionCounts`, each into a `foreachBatch` sink
  * that stamps every emitted window row with the time it saw it. */
object EventStream {
  /** offered events per second: below what 4 cores sustain */
  val Rate = 2000
  val WindowUs = 1000000L
  val GapUs = 250000L
  val WindowSize = s"${WindowUs / 1000} milliseconds"
  val SessionGap = s"${GapUs / 1000} milliseconds"
  /** watermark delay: well above the generator's jitter bound (150 ms) */
  val DelayUs = 400000L
  val Delay = s"${DelayUs / 1000} milliseconds"
  /** streaming before the measured window: micro-batches take 0.9 s at
    * the start of a run and 0.6 s after 12 s, as the JIT compiles; they
    * reach 0.4 s after 45 s, more than a run can spend */
  val SettleMs = 12000L
  /** longest wait for the drain to close every window it can */
  val DrainMs = 20000L
  /** set-ups per run; `setup_s` is their median. A set-up starts the
    * queries and waits for their first input: no pass to warm up. */
  val Setups = 3

  private final class Sink {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** (query, batch, seen) for every batch delivered, empty ones too */
    val deliveries = mutable.ArrayBuffer.empty[Map[String, Any]]
    def fn(kind: String): (DataFrame, Long) => Unit = (df, batch) => {
      val got = df.select(unix_micros(col("w_start")).as("w"), col("user_id"), col("n"))
        .collect()
      val seen = System.nanoTime()
      rows.synchronized {
        deliveries += Map("kind" -> kind, "batch" -> batch, "seen_ns" -> seen)
        got.foreach(r => rows += Map("kind" -> kind, "w_start_us" -> r.getLong(0),
          "user_id" -> r.getLong(1), "n" -> r.getLong(2), "seen_ns" -> seen,
          "batch" -> batch))
      }
    }
  }

  private final case class Live(spark: SparkSession, gen: Generator,
      queries: Seq[StreamingQuery], sources: Seq[AsyncSource[Tick]], sink: Sink,
      spans: Seq[(Long, Long, String)], conf: Map[String, String])

  private def start(a: Args, t: Tracer, users: Array[Long], jitter: Array[Long],
      setup: Int, leaks: mutable.Buffer[String]): Live = {
    val spark = Main.session(a, t)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val conf = spark.conf.getAll
    import spark.implicits._
    val ctx = StreamContext(spark)
    val sink = new Sink
    val queues = Seq.fill(2)(new LinkedBlockingQueue[Option[Tick]]())
    def events(ds: Dataset[Tick]): DataFrame =
      ds.toDF().select(explode(col("events")).as("e"))
        .select(col("e.id").as("event_id"), col("e.user_id").as("user_id"),
          timestamp_micros(col("e.ts_us")).as("ts"))
    val specs = Seq(
      ("tumbling", (df: DataFrame) => Streaming.tumblingCounts(df, "ts", WindowSize, col("user_id")),
        "Streaming.tumblingCounts"),
      ("sessions", (df: DataFrame) => Streaming.sessionCounts(df, "ts", SessionGap, col("user_id")),
        "Streaming.sessionCounts"))
    val started = specs.zip(queues).map { case ((name, agg, callName), q) =>
      val (id, s0, query) = t.openDetached[(AsyncSource[Tick], StreamingQuery)]("query", name) {
        val src = t.span("call", "StreamContext.streamAsync", "api")(
          ctx.streamAsync[Tick](() => Future.successful(q.take())))
        val timed = t.span("call", "Streaming.withEventTime", "streaming")(
          Streaming.withEventTime(events(src.stream), "ts", Delay))
        val out = t.span("call", callName, "streaming")(agg(timed))
        (src, out.writeStream.outputMode("append").queryName(name)
          .option("checkpointLocation", s"${a.work}/checkpoint-$setup-$name")
          .foreachBatch(sink.fn(name)).start())
      }
      (query, (id, s0, name): (Long, Long, String))
    }
    leaks ++= Main.restoreConf(spark, conf).map(k => s"set-up $setup:$k")
    val gen = new Generator(users, jitter, Rate, queues)
    gen.start()
    Live(spark, gen, started.map(_._1._2), started.map(_._1._1), sink, started.map(_._2), conf)
  }

  private def finish(live: Live, t: Tracer): Unit = {
    live.gen.running = false
    live.gen.join()
    live.queries.foreach(_.stop())
    live.spans.foreach { case (id, s0, name) => t.close(id, s0, "query", name) }
    Main.stop(live.spark, t)
  }

  private def fed(q: StreamingQuery): Boolean = q.recentProgress.exists(_.numInputRows > 0)

  private def watermarkMs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)

  def run(a: Args, t: Tracer): Map[String, Any] = {
    // the event pool: little-endian int64 (user_id, jitter_us) pairs
    val (users, jitter) = {
      val b = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${a.data}/stream_events.bin")))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = b.remaining / 16
      val pairs = Array.fill(n)((b.getLong(), b.getLong()))
      (pairs.map(_._1), pairs.map(_._2))
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    val leaks = mutable.ArrayBuffer.empty[String]
    var live: Live = null
    for (k <- 1 to Setups) {
      if (live != null) finish(live, t)
      t.round = -k
      val s0 = System.nanoTime()
      live = start(a, t, users, jitter, k, leaks)
      while (!live.queries.forall(fed)) Thread.sleep(5)
      setupS += (System.nanoTime() - s0) / 1e9
    }
    // let the first batches work off what queued up while the queries
    // started, and the JIT settle, so the window sees the steady state
    Thread.sleep(SettleMs)
    t.round = 1
    val w0 = System.nanoTime()
    val w0Ms = System.currentTimeMillis()
    Thread.sleep((a.seconds * 1000).toLong)
    val w1 = System.nanoTime()
    val w1Ms = System.currentTimeMillis()
    // drain: stop the generator, let both sources hand on everything fed
    // and both queries process it, then wait until each watermark has
    // reached the last event time minus the delay, so every window that can
    // close has closed. run.py fails the run if a source failed or a
    // watermark fell short.
    live.gen.running = false
    live.gen.join()
    live.sources.foreach(_.pumpThread.join(DrainMs))
    live.queries.foreach(_.processAllAvailable())
    val needMs = (live.gen.tsUs.result().max - DelayUs) / 1000L
    val drainEnd = System.nanoTime() + DrainMs * 1000000L
    while (live.queries.exists(watermarkMs(_) < needMs) && System.nanoTime() < drainEnd)
      Thread.sleep(10)
    leaks ++= Main.restoreConf(live.spark, live.conf).map(k => s"run:$k")
    val sourceFailures = live.queries.zip(live.sources).collect {
      case (q, s) if s.failed.isDefined || s.pumpThread.isAlive =>
        Seq(q.name, s.failed.map(_.toString).getOrElse("pump still running after the drain"))
    }
    val progress = live.queries.flatMap(q => q.recentProgress.map { p =>
      Map("query" -> q.name, "batch" -> p.batchId,
        "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""))
    })
    val ev = live.gen
    val created = ev.created.result(); val user = ev.user.result(); val ts = ev.tsUs.result()
    val evFile = s"${a.work}/events.bin"
    val buf = java.nio.ByteBuffer.allocate(created.length * 24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    created.indices.foreach { i => buf.putLong(user(i)); buf.putLong(ts(i)); buf.putLong(created(i)) }
    java.nio.file.Files.write(java.nio.file.Paths.get(evFile), buf.array())
    val (emits, deliveries) = live.sink.rows.synchronized(
      (live.sink.rows.toList, live.sink.deliveries.toList))
    finish(live, t)
    Map("workload" -> a.workload, "trace" -> a.trace, "setup_s" -> setupS, "window_ns" -> Seq(w0, w1),
      "window_ms" -> Seq(w0Ms, w1Ms), "events_file" -> evFile, "emits" -> emits,
      "deliveries" -> deliveries, "progress" -> progress,
      "ticks" -> ev.ticks.map { case (at, lag, n) => Seq(at, lag, n) },
      "window_size_us" -> WindowUs, "session_gap_us" -> GapUs, "delay_us" -> DelayUs,
      "source_failures" -> sourceFailures, "conf_leaks" -> leaks)
  }
}
