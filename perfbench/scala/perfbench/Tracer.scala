package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{ListenerBusAccess, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds. `parent` is 0 for a
  * root, and also for Catalyst phases, whose parent the report resolves by
  * time containment (their listener runs on the bus thread, not inside the
  * call that planned them). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    module: String, startUs: Long, endUs: Long, round: Int, pipeline: String,
    attrs: Map[String, Any])

/** In-memory span recorder. Disabled, every method is a plain pass-through
  * and no listener is installed, so the timed (untraced) runs pay nothing.
  *
  * Enabled, it records spans around rounds, pipelines, library calls and
  * actions from the benchmark's own code, and listener spans for Spark
  * jobs, stages, Catalyst phases and streaming triggers. A job is tied to
  * the benchmark span that launched it through the job-local property
  * [[Tracer.Prop]], which every benchmark span sets while it runs. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  @volatile private var stack: List[Long] = Nil
  @volatile var round: Int = 0
  @volatile var pipeline: String = ""
  @volatile private var sc: SparkContext = _
  /** streaming query name → the span of that query's lifetime */
  val querySpans = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L
  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = buf.synchronized { buf += s }

  /** Time `body` as a span of `kind` (round, pipeline, call, action). For
    * `functions` calls the span also records the storage bytes held by
    * persists the call left behind. */
  def span[T](kind: String, name: String, module: String = "")(body: => T): T =
    if (!enabled || sc == null) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Prop)
      val cachedBefore = if (module == "functions") cachedBytes else 0L
      sc.setLocalProperty(Prop, id.toString)
      stack = id :: stack
      val start = nowUs
      var ok = true
      try body
      catch { case e: Throwable => ok = false; throw e }
      finally {
        val end = nowUs
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
        val attrs = Map[String, Any]("ok" -> ok) ++
          (if (module == "functions")
            Map("cached_bytes" -> math.max(0L, cachedBytes - cachedBefore))
          else Map.empty)
        record(Span(id, parent, kind, name, module, start, end, round, pipeline, attrs))
      }
    }

  /** Open a span that outlives the current call (a streaming query's
    * lifetime); `close` records it. Jobs started while `under` runs carry
    * the span's id. */
  def openDetached[T](kind: String, name: String)(under: => T): (Long, Long, T) =
    if (!enabled || sc == null) (0L, 0L, under)
    else {
      val id = newId()
      querySpans.put(name, id)
      val prev = sc.getLocalProperty(Prop)
      val start = nowUs
      sc.setLocalProperty(Prop, id.toString)
      try (id, start, under) finally sc.setLocalProperty(Prop, prev)
    }

  def close(id: Long, start: Long, kind: String, name: String): Unit =
    if (enabled && id != 0L)
      record(Span(id, stack.headOption.getOrElse(0L), kind, name, "", start, nowUs,
        round, pipeline, Map.empty))

  private def cachedBytes: Long =
    sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum

  /** Install the listeners on a fresh session (one per set-up). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val l = new Listener(this)
    sc.addSparkListener(l)
    spark.listenerManager.register(new PlanListener(this))
    spark.streams.addListener(new TriggerListener(this))
  }

  def detach(): Unit = if (enabled && sc != null) {
    ListenerBusAccess.drain(sc)
    sc = null
  }

  def drain(): Unit = if (enabled && sc != null) ListenerBusAccess.drain(sc)

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startUs).foreach { s =>
      w.println(Json.mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "module" -> s.module, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "round" -> s.round, "pipeline" -> s.pipeline, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Tracer {
  /** Job-local property naming the benchmark span a job runs under. */
  val Prop = "perfbench.span"
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Spark jobs and stages, with each stage's task metrics summed. */
private final class Listener(t: Tracer) extends SparkListener {
  private final class StageAgg {
    var attempts = 0L; var succeeded = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var waitMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spillDisk = 0L; var spillMem = 0L; var peakMem = 0L; var output = 0L
    def attrs: Map[String, Any] = Map("task_attempts" -> attempts,
      "task_succeeded" -> succeeded, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "wait_ms" -> waitMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill_disk" -> spillDisk,
      "spill_mem" -> spillMem, "peak_exec_mem" -> peakMem, "output" -> output)
  }
  private val jobParent = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
    jobParent(e.jobId) = p.map(_.toLong).getOrElse(-1L)
    jobStart(e.jobId) = e.time
    jobSpan(e.jobId) = t.newId()
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val ok = e.jobResult == JobSucceeded
    t.record(Span(jobSpan.getOrElse(e.jobId, t.newId()), jobParent.getOrElse(e.jobId, -1L),
      "job", s"job-${e.jobId}", "exec", jobStart.getOrElse(e.jobId, e.time) * 1000L,
      e.time * 1000L, -1, "", Map("ok" -> ok)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.attempts += 1
    if (e.reason == Success) a.succeeded += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spillDisk += m.diskBytesSpilled; a.spillMem += m.memoryBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.output += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val agg = stageAgg.remove(key).getOrElse(new StageAgg)
    val start = stageSubmit.remove(key).getOrElse(System.currentTimeMillis())
    val parent = stageJob.get(i.stageId).flatMap(jobSpan.get).getOrElse(-1L)
    t.record(Span(t.newId(), parent, "stage", s"stage-${i.stageId}.${i.attemptNumber()}",
      "exec", start * 1000L, i.completionTime.getOrElse(start) * 1000L, -1, "",
      agg.attrs + ("tasks" -> i.numTasks) + ("ok" -> i.failureReason.isEmpty)))
  }
}

/** Catalyst phases of every executed plan (`qe.tracker.phases`). */
private final class PlanListener(t: Tracer) extends QueryExecutionListener {
  private def rec(func: String, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      if (phase != "parsing")
        t.record(Span(t.newId(), 0L, "catalyst", phase, "catalyst",
          p.startTimeMs * 1000L, p.endTimeMs * 1000L, -1, "", Map("func" -> func)))
    }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    rec(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    rec(func, qe)
}

/** One span per micro-batch, from `StreamingQueryProgress`. */
private final class TriggerListener(t: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val total = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp)
    val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
    val ops = p.stateOperators
    val durs = d.keySet.toArray.map(_.toString).map(k => k -> d.get(k).longValue).toMap
    val parent = Option(t.querySpans.get(p.name)).map(_.longValue).getOrElse(-1L)
    t.record(Span(t.newId(), parent, "trigger", p.name, "streaming", startUs,
      startUs + total * 1000L, -1, "", Map(
        "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem" -> ops.map(_.memoryUsedBytes).sum,
        "duration_ms" -> durs)))
  }
}
