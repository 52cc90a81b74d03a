package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TaskHive
import graft.streaming.TaskEngine
import graft.streaming.TaskEngine.{TaskEvent, TaskState, TaskTransition}

/** task_lifecycle: the scheduler's write path. A seeded backlog of task
  * events is drained by `TaskHive.start` in fixed-size micro-batches
  * into the state store and the parquet sink; seeded live-status
  * lookups then read the same state from the checkpoint. It is the only
  * workload that drives `streaming` and the state store, and it sets
  * reads against writes on the same state. */
object Lifecycle {
  /** Backlog tasks per second of the run: 10 s → 45k tasks, ~152k
    * events, nine micro-batches. */
  val TasksPerSecond = 4500
  val Workers = 200
  val BatchEvents = 18000
  val Lookups = 16

  def backlog(seed: Long, seconds: Int): Vector[TaskEvent] =
    Gen.lifecycle(seed, TasksPerSecond * seconds, Workers)

  /** The pure state machine replayed over the backlog: every transition
    * per task, and each task's final state. */
  def replay(events: Seq[TaskEvent]): (Map[String, Seq[TaskTransition]], Map[String, TaskState]) = {
    val state = scala.collection.mutable.HashMap.empty[String, TaskState]
    val out = scala.collection.mutable.HashMap.empty[String, Vector[TaskTransition]]
    events.foreach { ev =>
      TaskEngine.step(state.get(ev.taskId), ev).foreach { case (ns, tr) =>
        state(ev.taskId) = ns
        out(ev.taskId) = out.getOrElse(ev.taskId, Vector.empty) :+ tr
      }
    }
    (out.toMap, state.toMap)
  }

  final class Drain(val hive: TaskHive, val cp: String, val batchMs: Seq[Double],
      val batchEvents: Seq[Int], val query: StreamingQuery)

  /** Drain `events` through a fresh engine, one micro-batch per slice. */
  def drain(spark: SparkSession, dir: String, events: Seq[TaskEvent]): Drain = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hive = TaskHive(spark, dir)
    val input = MemoryStream[TaskEvent]
    val cp = s"$dir/checkpoint"
    val q = hive.start(input.toDS(), cp, s"$dir/transitions")
    val slices = events.grouped(BatchEvents).toSeq
    val ms = slices.map { b =>
      val t0 = System.nanoTime()
      input.addData(b)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }
    new Drain(hive, cp, ms, slices.map(_.size), q)
  }

  def lookupIds(seed: Long, nTasks: Int): Seq[String] = {
    val r = new java.util.SplittableRandom(seed ^ 0x100cL)
    Seq.fill(Lookups)(Gen.taskId(r.nextInt(nTasks)))
  }

  def run(ctx: Ctx): Unit = {
    val events = backlog(ctx.seed, ctx.seconds)
    val nTasks = TasksPerSecond * ctx.seconds
    val (want, finals) = replay(events)
    ctx.setup { (spark, dir) =>
      // warm-up: a small backlog through its own engine, and lookups
      val d = drain(spark, dir, Gen.lifecycle(ctx.seed + 7, 2000, Workers))
      lookupIds(ctx.seed, 2000).take(3).foreach(id => d.hive.getLiveTaskStatus(d.cp, id).collect())
      d.query.stop()
    }(_ => ())
    val spark = ctx.spark
    val ids = lookupIds(ctx.seed, nTasks)

    def measured(dir: String, trace: Option[Trace]): (Drain, Seq[Double]) = {
      val d = trace match {
        case Some(t) => t.span("drain")(drain(spark, dir, events))._1
        case None => drain(spark, dir, events)
      }
      val live = ids.map { id =>
        val t0 = System.nanoTime()
        val rows = trace match {
          case Some(t) =>
            val (df, _) = t.span("live.construct")(d.hive.getLiveTaskStatus(d.cp, id))
            t.span("live.action")(df.collect())._1
          case None => d.hive.getLiveTaskStatus(d.cp, id).collect()
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val f = finals(id)
        ctx.op(rows.length == 1 && rows(0).getInt(1) == f.status &&
          rows(0).getInt(2) == f.retryCount && rows(0).getString(3) == f.workerId,
          s"live $id: ${rows.mkString} vs $f")
        ms
      }
      (d, live)
    }

    val (d, live) =
      if (!ctx.traced) measured(s"${ctx.work}/run", None)
      else {
        val (plain, plainLive) = measured(s"${ctx.work}/plain", None)
        plain.query.stop()
        val trace = ctx.trace(spark)
        val (d, live) = measured(s"${ctx.work}/run", Some(trace))
        layers(ctx, trace, plain, plainLive, d, live)
        (d, live)
      }
    d.batchMs.foreach(_ => ctx.op(true))

    // untimed output checks: transitions and final states equal the replay
    import spark.implicits._
    d.query.processAllAvailable()
    val got = spark.read.parquet(s"${ctx.work}/run/transitions").as[TaskTransition].collect()
      .groupBy(_.taskId).map { case (k, v) => k -> v.toSeq }
    def canon(ts: Seq[TaskTransition]) = ts.map(_.toString).sorted
    val sameTransitions = got.keySet == want.keySet && want.forall { case (k, v) => canon(got(k)) == canon(v) }
    ctx.op(sameTransitions, s"sink transitions differ from the replay (${got.size} vs ${want.size} tasks)")
    val states = d.hive.liveTaskStates(d.cp).collect()
      .map(r => r.getString(0) -> TaskState(r.getInt(1), r.getInt(2), r.getString(3))).toMap
    ctx.op(states == finals, s"state store differs from the replay (${states.size} vs ${finals.size})")
    d.query.stop()

    if (!ctx.traced) {
      val steady = d.batchEvents.drop(1).zip(d.batchMs.drop(1))
      ctx.metric("p50_ms", Stats.median(live), "ms")
      ctx.metric("rate_per_s", steady.map(_._1).sum / (steady.map(_._2).sum / 1000), "1/s")
    }
    ctx.log(f"task_lifecycle: ${events.size} events of $nTasks tasks in ${d.batchMs.size} batches " +
      f"(ms: ${d.batchMs.map(m => f"$m%.0f").mkString(" ")}), live p50 ${Stats.median(live)}%.1f ms")
  }

  private def layers(ctx: Ctx, trace: Trace, plain: Drain, plainLive: Seq[Double],
      d: Drain, live: Seq[Double]): Unit = {
    d.query.processAllAvailable()
    trace.drain()
    val progress = trace.streamingProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val steady = progress.drop(1)
    def dur(key: String) = Stats.median(steady.map(p =>
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    ctx.metric("lifecycle.batch_p50_ms", Stats.median(d.batchMs.drop(1)), "ms")
    ctx.metric("lifecycle.streaming.add_batch_ms", dur("addBatch"), "ms")
    ctx.metric("lifecycle.streaming.query_planning_ms", dur("queryPlanning"), "ms")
    ctx.metric("lifecycle.streaming.wal_commit_ms", dur("walCommit"), "ms")
    ctx.metric("lifecycle.streaming.commit_offsets_ms", dur("commitOffsets"), "ms")
    ctx.metric("lifecycle.streaming.latest_offset_ms", dur("latestOffset"), "ms")
    ctx.metric("lifecycle.streaming.get_batch_ms", dur("getBatch"), "ms")
    val ops = progress.flatMap(_.stateOperators.headOption)
    ctx.metric("lifecycle.state.commit_ms",
      Stats.median(steady.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms")
    ctx.metric("lifecycle.state.rows_total", ops.lastOption.map(_.numRowsTotal).getOrElse(0L).toDouble, "count")
    ctx.metric("lifecycle.state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count")
    ctx.metric("lifecycle.state.memory_mb",
      ops.lastOption.map(_.memoryUsedBytes).getOrElse(0L) / 1048576.0, "MB")
    val drainSpan = trace.spanNamed("drain")
    val w = trace.workOf(drainSpan)
    ctx.metric("lifecycle.execute.task_cpu_s", w.cpuNs / 1e9, "s")
    ctx.metric("lifecycle.execute.shuffle_write_mb", w.shuffleWrite / 1048576.0, "MB")
    ctx.metric("lifecycle.execute.gc_s", w.gcMs / 1000.0, "s")
    ctx.metric("lifecycle.sink.bytes_mb", w.outputBytes / 1048576.0, "MB")
    val constructs = trace.spansNamed("live.construct")
    val actions = trace.spansNamed("live.action")
    ctx.metric("lifecycle.live.construct_ms", Stats.median(constructs.map(_.ms)), "ms")
    ctx.metric("lifecycle.live.execute_ms", Stats.median(actions.map(_.ms)), "ms")
    ctx.metric("lifecycle.live.rows_scanned_per_row",
      Stats.median(actions.map(a => trace.executionsIn(a).map(_.scanRows).sum.toDouble)), "ratio")
    val tracedTotal = d.batchMs.sum + live.sum
    val plainTotal = plain.batchMs.sum + plainLive.sum
    ctx.metric("lifecycle.trace_overhead_pct", (tracedTotal / plainTotal - 1) * 100, "%")
  }
}
