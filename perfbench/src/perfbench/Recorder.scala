package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One public call into the program, or one round of calls. Wall times
  * are epoch milliseconds so they line up with Spark's job timestamps;
  * `durNs` is the call's own monotonic duration.
  */
final class Span(val id: Long, val name: String, val parent: Long, val phase: String,
                 val startMs: Long) {
  var endMs: Long = startMs
  var durNs: Long = 0L
  var ok: Boolean = true
  def ms: Double = durNs / 1e6
}

/** Executor-side counters of the stages that ran for one span. */
final class StageTotals {
  var stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, input, output, spill = 0L
  def add(o: StageTotals): Unit = {
    stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    input += o.input; output += o.output; spill += o.spill
  }
}

/** Catalyst phase times of one executed query. */
final case class QueryPhases(startMs: Long, analysisMs: Long, optimizationMs: Long,
                             planningMs: Long)

/** Records a span around every call the benchmark makes into the
  * program, and attributes Spark work to spans. Attribution goes
  * through a local property that Spark copies onto every job (and
  * stage) submitted while the span is open, so it is exact and needs
  * no timing heuristics. Job start/end times are always kept, because
  * the job count is an end-to-end metric; stage metrics and Catalyst
  * phase times are collected only when `full` (the traced run).
  */
final class Recorder(spark: SparkSession, val full: Boolean) {
  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private var nextId = 1L
  val spans = ArrayBuffer[Span]()
  var phase = "setup"
  private var parent = 0L

  /** job id -> (span id, start ms, end ms) */
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageTotals = new ConcurrentHashMap[Long, StageTotals]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryPhases]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Array(spanOf(e.properties), e.time, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j(2) = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (full) stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) {
      val info = e.stageInfo
      val m = info.taskMetrics
      val t = stageTotals.computeIfAbsent(stageSpan.getOrDefault(info.stageId, 0L),
        _ => new StageTotals)
      t.synchronized {
        t.stages += 1
        t.tasks += info.numTasks
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  if (full) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      queries.add(QueryPhases(start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def open(name: String): Span = {
    val s = new Span(nextId, name, parent, phase, System.currentTimeMillis())
    nextId += 1
    s
  }

  private def close(s: Span, t0: Long): Unit = {
    s.durNs = System.nanoTime() - t0
    s.endMs = System.currentTimeMillis()
    spans += s
  }

  /** Times one public call; Spark work it submits is tagged with its span. */
  def call[A](name: String)(body: => A): A = {
    val s = open(name)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      close(s, t0)
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** A round: the parent span of the calls made inside `body`. */
  def round(body: => Unit): Span = {
    val s = open("round")
    val t0 = System.nanoTime()
    parent = s.id
    try body finally { parent = 0L; close(s, t0) }
    s
  }

  def drain(): Unit = org.apache.spark.PerfBenchBus.drain(sc)

  // ---- queries over what was recorded (call drain() first) ----

  def calls(ph: String): Seq[Span] = spans.toSeq.filter(s => s.phase == ph && s.name != "round")
  def rounds(ph: String): Seq[Span] = spans.toSeq.filter(s => s.phase == ph && s.name == "round")
  def children(r: Span): Seq[Span] = spans.toSeq.filter(_.parent == r.id)

  def jobsOf(s: Span): Seq[Array[Long]] = jobs.values.asScala.toSeq.filter(_(0) == s.id)

  /** Span time not covered by any of its Spark jobs: driver-side work. */
  def driverMs(s: Span): Double = {
    val covered = unionMs(jobsOf(s).map(j => (math.max(j(1), s.startMs), math.min(j(2), s.endMs))))
    math.max(0.0, s.ms - covered)
  }

  def stagesOf(spans: Seq[Span]): StageTotals = {
    val t = new StageTotals
    spans.foreach(s => Option(stageTotals.get(s.id)).foreach(t.add))
    t
  }

  /** Wall time during which at least one job of `spans` was running. */
  def jobBusyMs(spans: Seq[Span]): Double =
    unionMs(spans.flatMap(jobsOf).map(j => (j(1), j(2))))

  def queriesBetween(fromMs: Long, toMs: Long): Seq[QueryPhases] =
    queries.asScala.toSeq.filter(q => q.startMs >= fromMs && q.startMs <= toMs)

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
