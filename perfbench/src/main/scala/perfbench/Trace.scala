package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans taken in the benchmark's own code
  * around each call into a layer, and counts from listeners the
  * benchmark registers on the session. Nothing inside graft is
  * instrumented.
  *
  * Jobs are attributed to the innermost open span through a local
  * property, stages and tasks through their job. Query executions are
  * attributed by time: the benchmark thread runs one span at a time, so
  * a query whose planning started inside a span's interval belongs to
  * it. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  /** Run `body` inside a span; returns its value and the closed span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.currentTimeMillis(), System.nanoTime(), 0L)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    try {
      val v = body
      val s = spans(id).copy(endNs = System.nanoTime())
      spans(id) = s
      (v, s)
    } finally {
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  // per-span counters, filled by the listeners below
  private val jobs = new ConcurrentHashMap[Int, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageTaskMs = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.merge(id, 1, (a, b) => a + b)
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val id = stageSpan.getOrDefault(e.stageId, -1)
      work.computeIfAbsent(id, _ => new Work).synchronized {
        val w = work.get(id)
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputRows += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
      stageTaskMs.computeIfAbsent((id, e.stageId), _ => mutable.ArrayBuffer.empty[Long])
        .synchronized(stageTaskMs.get((id, e.stageId)) += e.taskInfo.duration)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(Exec.of(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      executions.add(Exec.of(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  resume()

  /** Stop listening (after every event so far is seen), so the next
    * calls run untraced; `resume` listens again. */
  def pause(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def resume(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = pause()

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Spans `s` and every span opened inside it. */
  private def within(s: Span): Set[Int] = {
    val ids = mutable.Set(s.id)
    spans.foreach(c => if (ids.contains(c.parent)) ids += c.id)
    ids.toSet
  }

  def jobCount(s: Span): Int = within(s).toSeq.map(i => jobs.getOrDefault(i, 0).toInt).sum

  def workOf(s: Span): Work = {
    val w = new Work
    within(s).foreach(i => Option(work.get(i)).foreach(w.add))
    w
  }

  /** The worst stage's max ÷ median task time among stages of `s` with
    * at least two tasks (1.0 when there is none). */
  def stageSkew(s: Span): Double = {
    val ids = within(s)
    stageTaskMs.asScala.collect {
      case ((id, _), ms) if ids.contains(id) && ms.size >= 2 =>
        val d = ms.map(_.toDouble).toSeq
        d.max / math.max(1.0, Stats.median(d))
    }.maxOption.getOrElse(1.0)
  }

  /** Query executions whose analysis started inside span `s`. */
  def executionsIn(s: Span): Seq[Exec] =
    executions.asScala.toSeq.filter(e => e.startMs >= s.startMs && e.startMs <= s.endMs)

  def spansNamed(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)
  def spanNamed(name: String): Span = spansNamed(name).head

  def streamingProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq

  /** Spans as JSON lines (name, start, end, parent) for offline reading. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},"dur_ms":${s.ms}}"""
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def endMs: Long = startMs + math.ceil(ms).toLong
  }

  final class Work {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var inputRows = 0L; var outputBytes = 0L
    def add(o: Work): Unit = synchronized {
      tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
      inputRows += o.inputRows; outputBytes += o.outputBytes
    }
  }

  /** One finished query execution: its planning-phase times and the
    * output rows of every join in its executed plan. */
  final case class Exec(startMs: Long, analysisMs: Double, optimizeMs: Double,
      planMs: Double, joinRows: Seq[Long], scanRows: Long)

  object Exec {
    def of(qe: QueryExecution): Exec = {
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val plan = nodes(qe.executedPlan)
      def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val joins = plan.collect { case j: BaseJoinExec => rows(j) }
      val scans = plan.filter(p => p.children.isEmpty && !p.isInstanceOf[ReusedExchangeExec])
      Exec(start, ms("analysis"), ms("optimization"), ms("planning"), joins, scans.map(rows).sum)
    }
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries; a reused exchange is not walked twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
