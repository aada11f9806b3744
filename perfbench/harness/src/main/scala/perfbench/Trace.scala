package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's in-memory trace.
  *
  * Spans come from two sources. The harness opens one around each call
  * into a layer of the program (one entry, one request, one flow, one
  * fire), and the three listeners below turn Spark's own events into
  * child spans (Catalyst phases, jobs, micro-batches) plus counters. The
  * listeners are registered through Spark's static confs
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), so every session sees
  * them, including the `newSession()` clones the program runs stream
  * fires and the CC loop on. Nothing is recorded while `on` is false.
  *
  * Everything stays in memory; [[Main]] writes the spans out when the run
  * ends.
  */
object Trace {
  @volatile var on: Boolean = false

  /** Wall clock in epoch ms with sub-ms resolution, on the same axis as
    * Spark's event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = msOf(System.nanoTime())
  def msOf(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  /** One span: `layer` orders nesting (lower depth encloses higher). */
  final case class Span(layer: String, name: String, startMs: Double, endMs: Double) {
    def dur: Double = endMs - startMs
  }

  /** Counter increments attributed to whatever span encloses `atMs`. */
  final case class Count(atMs: Double, values: Map[String, Double])

  val depth: Map[String, Int] = Map(
    "bench" -> 0, "queries" -> 1, "serve" -> 1, "schedule" -> 1,
    "streaming" -> 2, "microbatch" -> 3, "catalyst" -> 4, "scheduler" -> 4)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[Count]()
  private val kept = mutable.ArrayBuffer.empty[Span] // everything, for the dump

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = nowMs
      try body finally spans.add(Span(layer, name, t0, nowMs))
    }

  def addSpan(s: Span): Unit = if (on) spans.add(s)
  def count(atMs: Double, kv: (String, Double)*): Unit =
    if (on) counts.add(Count(atMs, kv.toMap))

  /** Everything recorded since the previous take. */
  def take(): (Seq[Span], Seq[Count]) = synchronized {
    val s = Iterator.continually(spans.poll()).takeWhile(_ != null).toSeq
    val c = Iterator.continually(counts.poll()).takeWhile(_ != null).toSeq
    kept ++= s
    (s, c)
  }

  def allSpans: Seq[Span] = synchronized(kept.toSeq)

  /** Counter keys that are levels, not flows: aggregated by max. */
  val levels: Set[String] = Set("exec.peak_exec_mem_bytes", "streaming.state_rows",
    "streaming.state_mem_bytes")

  def sum(cs: Seq[Count]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    for (c <- cs; (k, v) <- c.values)
      m(k) = if (levels(k)) math.max(m.getOrElse(k, 0.0), v) else m.getOrElse(k, 0.0) + v
    m.toMap
  }

  /** Self time per layer: each span's duration minus the part of it that
    * deeper spans cover. */
  def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    for (s <- ss) {
      val d = depth(s.layer)
      val inner = ss.filter(t => depth(t.layer) > d && t.endMs > s.startMs && t.startMs < s.endMs)
        .map(t => (math.max(t.startMs, s.startMs), math.min(t.endMs, s.endMs)))
        .sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      for ((a, b) <- inner) {
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      out(s.layer) = out.getOrElse(s.layer, 0.0) + math.max(0.0, s.dur - covered)
    }
    out.toMap
  }

  /** Shuffle exchanges in an executed plan, walked the way
    * `graft.tools.ExchangeCount` walks it. */
  def exchanges(p: SparkPlan): Int = {
    var n = 0
    def walk(q: SparkPlan): Unit = {
      q match {
        case _: ShuffleExchangeExec => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case st: QueryStageExec => walk(st.plan)
        case _ =>
      }
      q.children.foreach(walk)
      q.subqueries.foreach(walk)
    }
    walk(p)
    n
  }

  /** Exchange count of the most recent successful query execution. */
  @volatile var lastExchanges: Int = -1

  def dumpJson: String = allSpans.sortBy(_.startMs).map { s =>
    f"""{"layer":"${s.layer}","name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Jobs, stages and tasks (registered through `spark.extraListeners`). */
class JobListener(conf: SparkConf) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.on) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (Trace.on && t0 != null) {
      Trace.addSpan(Trace.Span("scheduler", s"job ${e.jobId}", t0.toDouble, e.time.toDouble))
      Trace.count(e.time.toDouble, "scheduler.jobs" -> 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.count(e.stageInfo.completionTime.getOrElse(0L).toDouble, "scheduler.stages" -> 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on) {
    val at = e.taskInfo.finishTime.toDouble
    val failed = if (e.taskInfo.successful) 0.0 else 1.0
    val m = e.taskMetrics
    if (m == null) Trace.count(at, "scheduler.tasks" -> 1, "scheduler.task_failures" -> failed)
    else {
      val sr = m.shuffleReadMetrics
      Trace.count(at,
        "scheduler.tasks" -> 1,
        "scheduler.task_failures" -> failed,
        "scheduler.task_run_ms" -> m.executorRunTime.toDouble,
        "scheduler.task_cpu_ms" -> m.executorCpuTime / 1e6,
        "shuffle.write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle.read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
        "shuffle.fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
        "scan.bytes_read" -> m.inputMetrics.bytesRead.toDouble,
        "scan.records_read" -> m.inputMetrics.recordsRead.toDouble,
        "exec.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "exec.gc_ms" -> m.jvmGCTime.toDouble,
        "exec.peak_exec_mem_bytes" -> m.peakExecutionMemory.toDouble,
        "driver.result_bytes" -> m.resultSize.toDouble)
    }
  }
}

/** Catalyst phases and exchange counts (registered through
  * `spark.sql.queryExecutionListeners`; one instance per session). */
class QeListener(conf: SparkConf) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = Trace.exchanges(qe.executedPlan)
    Trace.lastExchanges = n
    if (Trace.on) {
      val phases = qe.tracker.phases
      var end = 0.0
      for ((k, key) <- Seq("analysis" -> "catalyst.analysis_ms",
          "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms");
          p <- phases.get(k)) {
        Trace.addSpan(Trace.Span("catalyst", k, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        Trace.count(p.endTimeMs.toDouble, key -> p.durationMs.toDouble)
        end = math.max(end, p.endTimeMs.toDouble)
      }
      Trace.count(end, "catalyst.queries" -> 1, "shuffle.exchanges" -> n)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress (registered through
  * `spark.sql.streaming.streamingQueryListeners`; one instance per
  * session, so the program's session clones report too). */
class StreamListener(conf: SparkConf) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Trace.on) {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trig = d.getOrElse("triggerExecution", 0.0)
    Trace.addSpan(Trace.Span("microbatch", s"${p.name} batch ${p.batchId}", start, start + trig))
    val st = p.stateOperators
    Trace.count(start + trig,
      "streaming.batches" -> 1,
      "streaming.rows_in" -> p.numInputRows.toDouble,
      "streaming.trigger_ms" -> trig,
      "streaming.latest_offset_ms" -> d.getOrElse("latestOffset", 0.0),
      "streaming.get_batch_ms" -> d.getOrElse("getBatch", 0.0),
      "streaming.query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
      "streaming.add_batch_ms" -> d.getOrElse("addBatch", 0.0),
      "streaming.wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
      "streaming.commit_offsets_ms" -> d.getOrElse("commitOffsets", 0.0),
      "streaming.state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
      "streaming.state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mem_bytes" -> st.map(_.memoryUsedBytes.toDouble).sum)
  }
}
