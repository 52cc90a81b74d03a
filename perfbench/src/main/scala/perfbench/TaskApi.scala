package perfbench

import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{HttpFacade, TaskHive}

/** task_api: independent operators and dashboards calling the
  * reference's five routes over HTTP. Fixed per-request cost dominates
  * (construct, plan, serving) while the data work is small, so this
  * workload shows construct, plan and serving changes and bypasses the
  * curation kernels.
  *
  * Timed: an open loop at a fixed rate of about half this host's
  * capacity (independent users), then a closed loop of two clients
  * (callers that wait for each reply). */
object TaskApi {
  val NTasks = 150000 // sf0.1
  val NWorkers = 1000
  /** req/s: under half of what two closed-loop clients reach (3–4 req/s
    * on 4 cores), so a slow stretch of the host queues requests less. */
  val OpenRate = 1.6
  val OpenClients = math.min(4, Runtime.getRuntime.availableProcessors())
  val ClosedClients = 2
  /** Every k-th distinct open-loop request is compared with the direct
    * TaskHive answer. */
  val CheckEvery = 4
  /** Untimed closed-loop seconds between set-up and the open loop: the
    * first requests after set-up run while the JIT is still compiling
    * the request path. */
  val WarmSeconds = 4.0
  /** Direct calls per route in the traced run's layer split. */
  val SplitCalls = 5

  final class Served(val hive: TaskHive, val facade: HttpFacade, val port: Int)

  def prepare(spark: SparkSession, dir: String, seed: Long): Served = {
    import spark.implicits._
    Gen.orders(seed, NTasks).toDS().write.parquet(s"$dir/orders.parquet")
    Gen.suppliers(seed, NWorkers).toDS().write.parquet(s"$dir/supplier.parquet")
    val hive = TaskHive(spark, dir)
    val facade = new HttpFacade(hive)
    val port = facade.start()
    val warm = Seq(Gen.TaskById("1"), Gen.ListTasks("pending", 100),
      Gen.WorkerTasks(Gen.workerName(1)), Gen.Stats, Gen.Workers)
    Load.openLoop(warm, 1000, OpenClients)(r => get(port, r.path)._1) // all at once
    new Served(hive, facade, port)
  }

  def get(port: Int, path: String): (Int, String) = {
    val c = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    try {
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(),
        StandardCharsets.UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  /** The TaskHive frame a route's body is encoded from. */
  def frame(hive: TaskHive, r: Gen.Req): DataFrame = r match {
    case Gen.TaskById(id) => hive.getTaskByID(id)
    case Gen.ListTasks(s, limit) => hive.listTasks(Some(s), limit)
    case Gen.WorkerTasks(id) => hive.getWorkerTasks(id)
    case Gen.Stats => hive.getTaskStats()
    case Gen.Workers => hive.listWorkers()
  }

  /** What the facade answers, computed by calling TaskHive directly. */
  def encode(r: Gen.Req, rows: Array[String]): (Int, String) = r match {
    case _: Gen.TaskById =>
      if (rows.isEmpty) (404, """{"error":"task not found"}""") else (200, rows.head)
    case _ => (200, rows.mkString("[", ",", "]"))
  }

  def direct(hive: TaskHive, r: Gen.Req): (Int, String) =
    encode(r, frame(hive, r).toJSON.collect())

  def run(ctx: Ctx): Unit = {
    val served = ctx.setup((spark, dir) => prepare(spark, dir, ctx.seed))(_.facade.stop())
    val spark = ctx.spark
    try if (ctx.traced) traced(ctx, spark, served) else timed(ctx, served)
    finally served.facade.stop()
  }

  private def timed(ctx: Ctx, served: Served): Unit = {
    val openSeconds = ctx.seconds * 5 / 8.0
    val n = math.max(1, (openSeconds * OpenRate).round.toInt)
    val reqs = Gen.requests(ctx.seed, n, NTasks, NWorkers)
    val bodies = new java.util.concurrent.ConcurrentHashMap[Gen.Req, (Int, String)]()
    val (warm, _) = Load.closedLoop(Gen.requests(ctx.seed + 3, 4096, NTasks, NWorkers),
      ClosedClients, WarmSeconds) { r => get(served.port, r.path)._1 }
    warm.foreach(s => ctx.op(s.status == 200 || s.status == 404))
    val open = Load.openLoop(reqs, OpenRate, OpenClients) { r =>
      val got = get(served.port, r.path)
      bodies.put(r, got)
      got._1
    }
    val closedReqs = Gen.requests(ctx.seed + 1, 4096, NTasks, NWorkers)
    val (closed, elapsed) = Load.closedLoop(closedReqs, ClosedClients,
      ctx.seconds - openSeconds) { r => get(served.port, r.path)._1 }

    // untimed output checks on the open loop's answers
    closed.foreach(s => ctx.op(s.status == 200 || s.status == 404))
    reqs.distinct.zipWithIndex.foreach { case (r, i) =>
      val got = bodies.get(r)
      ctx.op(got != null && answers(r, got), s"${r.path}: $got")
      if (i % CheckEvery == 0) {
        val want = direct(served.hive, r)
        ctx.op(got == want, s"${r.path}: HTTP $got, direct $want")
      }
    }
    ctx.metric("p50_ms", Stats.median(open.map(_.latencyMs)), "ms")
    ctx.metric("rate_per_s", closed.size / elapsed, "1/s")
    ctx.log(f"task_api: open ${open.size} req at $OpenRate%.1f/s, closed ${closed.size} req " +
      f"in $elapsed%.1f s, generator late p50 ${Stats.median(open.map(_.lateMs))}%.2f ms; open ms " +
      reqs.zip(open).map { case (r, s) => f"${r.route}=${s.latencyMs}%.0f" }.mkString(" "))
  }

  /** What every answer must satisfy on its own: a known id is found and
    * an unknown one is 404, stats sum to the task count, a status list
    * holds only that status, at most `limit` rows, priority descending. */
  private def answers(r: Gen.Req, got: (Int, String)): Boolean = {
    val (code, body) = got
    r match {
      case Gen.TaskById(id) =>
        if (id.toLong < NTasks) code == 200 && body.contains("\"id\":\"" + id + "\"") else code == 404
      case Gen.Stats => code == 200 && ujson(body).map(_("cnt").toLong).sum == NTasks
      case Gen.ListTasks(s, limit) =>
        val rows = ujson(body)
        val prios = rows.map(_("priority").toInt)
        code == 200 && rows.size <= limit && prios == prios.sortBy(-_) &&
          rows.forall(_("status").toInt == Gen.StatusNames.indexOf(s))
      case _ => code == 200
    }
  }

  /** Flat JSON objects (the facade's row encoding) as field → raw text. */
  private def ujson(body: String): Seq[Map[String, String]] = {
    val objs = "\\{[^{}]*\\}".r.findAllIn(body).toSeq
    objs.map { o =>
      "\"([^\"]+)\":(\"[^\"]*\"|[^,}]+)".r.findAllMatchIn(o)
        .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
    }
  }

  /** The traced run: the same routes called directly, in rounds that
    * alternate untraced calls (listeners removed) with traced ones,
    * split into construct (building the frame), plan (Catalyst at the
    * action) and execute. */
  private def traced(ctx: Ctx, spark: SparkSession, served: Served): Unit = {
    val hive = served.hive
    val picks = Gen.requests(ctx.seed + 2, 4096, NTasks, NWorkers)
      .groupBy(_.route).map { case (k, v) => k -> v.take(SplitCalls) }
    val open = Load.openLoop(Gen.requests(ctx.seed, 12, NTasks, NWorkers), OpenRate,
      OpenClients)(r => get(served.port, r.path)._1)
    open.foreach(s => ctx.op(s.status == 200 || s.status == 404))

    val trace = ctx.trace(spark)
    val plain = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val httpExtra = Seq.newBuilder[Double]
    val calls = scala.collection.mutable.Map.empty[String, Seq[(DataFrame, Trace.Span, Trace.Span, Int)]]
      .withDefaultValue(Nil)
    for (i <- 0 until SplitCalls) {
      // untraced: the direct call's wall, and HTTP's cost over it
      trace.pause()
      Gen.Routes.foreach { route =>
        val r = picks(route)(i)
        val t0 = System.nanoTime(); val want = direct(hive, r)
        val d = (System.nanoTime() - t0) / 1e6
        val t1 = System.nanoTime(); val got = get(served.port, r.path)
        httpExtra += (System.nanoTime() - t1) / 1e6 - d
        ctx.op(got == want, s"${r.path}: HTTP $got, direct $want")
        plain(route) :+= d
      }
      trace.resume()
      Gen.Routes.foreach { route =>
        val r = picks(route)(i)
        val (df, cs) = trace.span(s"$route.construct")(frame(hive, r))
        val (rows, as) = trace.span(s"$route.action")(df.toJSON.collect())
        calls(route) :+= ((df, cs, as, rows.length))
      }
    }
    trace.drain()
    var tracedTotal = 0.0
    Gen.Routes.foreach { route =>
      val parts = calls(route).map { case (df, cs, as, nRows) =>
        val execs = trace.executionsIn(as)
        val actionCatalyst = execs.map(e => e.analysisMs + e.optimizeMs + e.planMs).sum
        val analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0) +
          execs.map(_.analysisMs).sum
        val plan = math.min(actionCatalyst, as.ms)
        Seq(cs.ms, analysis, plan, as.ms - plan, (trace.jobCount(cs) + trace.jobCount(as)).toDouble,
          execs.map(_.scanRows).sum.toDouble / math.max(1, nRows))
      }
      def med(i: Int) = Stats.median(parts.map(_(i)))
      tracedTotal += med(0) + med(2) + med(3)
      ctx.metric(s"api.$route.construct_ms", med(0), "ms")
      ctx.metric(s"api.$route.analysis_ms", med(1), "ms")
      ctx.metric(s"api.$route.plan_ms", med(2), "ms")
      ctx.metric(s"api.$route.execute_ms", med(3), "ms")
      ctx.metric(s"api.$route.jobs", med(4), "count")
      ctx.metric(s"api.$route.rows_scanned_per_row", med(5), "ratio")
    }
    val plainTotal = Gen.Routes.map(r => Stats.median(plain(r))).sum
    ctx.metric("api.http_ms", Stats.median(httpExtra.result()), "ms")
    ctx.metric("api.generator_late_ms", Stats.median(open.map(_.lateMs)), "ms")
    ctx.metric("api.trace_overhead_pct", (tracedTotal / plainTotal - 1) * 100, "%")
    ctx.log(f"task_api traced: per-route medians sum ${tracedTotal}%.1f ms traced vs " +
      f"${plainTotal}%.1f ms untraced")
    trace.close()
  }
}
