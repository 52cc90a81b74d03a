package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** curation_batch: a nightly curation job over a seeded corpus, every
  * query run to a `noop` sink so the plan timed is the plan Verify
  * checks, with every result row produced. Data work dominates, so this
  * workload shows kernel, shuffle, pair-engine and checkpoint changes
  * and bypasses HTTP and per-request construct. */
object Curation {
  /** Five pair-join queries and gopher_quality (the text-scoring
    * kernels, and the query a `.count()` prunes to a row count). */
  val Queries = Seq("ngram_jaccard", "minhash_dedup", "simhash_dedup_auto",
    "embedding_dedup", "semantic_dedup_wide", "gopher_quality")
  /** The queries whose core is a candidate-pair join. */
  val PairQueries = Queries.take(5)

  /** Corpus size: `BaseDocs` documents and `BaseEmbeddings` vectors in
    * `Replicas` hard-mode replicas (ScaleProbe's recipe). */
  val BaseDocs = 1000
  val BaseEmbeddings = 400
  val Replicas = 2
  val MinPasses = 3
  /** Untimed passes between set-up and the timed ones. A pass's wall
    * falls by about a third over the first eight to twelve runs of each
    * query in a JVM while the JIT compiles it (longer on a busy host);
    * with three set-up runs and seven warm-up passes, timing starts near
    * the end of that slope instead of on it, where a pass more or less
    * in `--seconds` moved the median. */
  val WarmPasses = 7

  def nDocs: Int = BaseDocs * Replicas

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    Gen.docs(seed, BaseDocs, Replicas).toDS().repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    Gen.embeddings(seed, BaseEmbeddings, Replicas).toDS().repartition(4)
      .write.parquet(s"$dir/embeddings.parquet")
  }

  /** An order-insensitive fingerprint of a frame's rows: the row count
    * and the sum of each row's 32-bit hash. Floating values are rounded
    * to 6 decimals first, so an aggregation summed in another order
    * still hashes the same. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    def canon(c: Column, t: DataType): Column = t match {
      case _: FloatType | _: DoubleType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case StructType(fs) => struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _: MapType => array_sort(map_entries(c)).cast(StringType)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols: _*).bitwiseAND(0xffffffffL)).as("hash"))
  }

  /** One timed execution: construct the frame, then write it to noop.
    * Returns construct and write seconds and the rows + hash observed
    * on the way out. */
  def runOnce(spark: SparkSession, dir: String, name: String,
      trace: Option[Trace]): Run = {
    def within[T](label: String)(body: => T): (T, Double) = trace match {
      case Some(t) => val (v, s) = t.span(label)(body); (v, s.ms / 1000)
      case None =>
        val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
    }
    val (df, c) = within(s"$name.construct")(SparkEntry.queries(name)(spark, dir))
    val obs = Observation(s"fp_$name")
    val fp = fingerprint(df)
    val wStart = System.currentTimeMillis()
    val (_, w) = within(s"$name.write") {
      df.observe(obs, fp.head, fp.tail: _*).write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    Run(c, w, (m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L)),
      wStart, System.currentTimeMillis(), df)
  }

  /** One query execution: construct and write seconds, the observed
    * (rows, hash), the write's wall-clock interval, and the frame. */
  final case class Run(construct: Double, write: Double, fp: (Long, Long), startMs: Long,
      endMs: Long, df: DataFrame) {
    def wall: Double = construct + write
    /** Catalyst analysis of the frame itself, inside construct. */
    def analysisMs: Double = df.queryExecution.tracker.phases.get("analysis")
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
  }

  /** The plan guard, over the query plans of the noop writes seen by
    * `writes` (start ms, plan inside the write): each timed write ran
    * every node of the frame's own optimized plan (nothing pruned, as a
    * `.count()` would) and produced its full schema. Returns, per query,
    * a log line and whether it held. */
  def planGuard(spark: SparkSession, dir: String, pass: Map[String, Run],
      writes: Seq[(Long, LogicalPlan)]): Seq[(String, Boolean)] = Queries.map { name =>
    val r = pass(name)
    val written = writes.find { case (t, _) => t >= r.startMs && t <= r.endMs }.map(_._2)
    val counted = SparkEntry.queries(name)(spark, dir).groupBy().count().queryExecution.optimizedPlan
    val frame = r.df.queryExecution.optimizedPlan
    val ok = written.exists(q => nodeCount(q) >= nodeCount(frame) + 1 && q.schema == r.df.schema)
    (f"$name%-36s noop write ${written.map(nodeCount).getOrElse(-1)}%3d nodes " +
      f"(frame ${nodeCount(frame)}%3d + observe), count() ${nodeCount(counted)}%3d", ok)
  }

  /** Records the query inside every V2 write command, by start time. */
  final class WriteCapture extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, LogicalPlan)]()
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
      qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query }.foreach { q =>
        seen.add((qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L), q))
      }
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private def nodeCount(p: LogicalPlan): Int = p.collect { case n => n }.size

  def run(ctx: Ctx): Unit = {
    ctx.setup { (spark, dir) =>
      prepare(spark, dir, ctx.seed)
      // the offline half and the warm-up: the first run of each query
      // builds its artifacts (memo frames, indexes) and compiles its
      // code; the six run side by side on three threads
      Load.openLoop(Queries, 1000, 3) { q => runOnce(spark, dir, q, None); 200 }
    }(_ => ())
    val spark = ctx.spark
    val dir = ctx.inputDir
    val warm = Seq.fill(WarmPasses)(Queries.map(q => q -> runOnce(spark, dir, q, None)).toMap)
    ctx.log("curation_batch: warm-up pass ms " +
      warm.map(p => f"${p.values.map(_.wall).sum * 1000}%.0f").mkString(" "))
    val capture = new WriteCapture
    spark.listenerManager.register(capture)

    val plain = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Run]]
    val trace = if (ctx.traced) Some(ctx.trace(spark)) else None
    val start = System.nanoTime()
    while (passes.size < MinPasses || (!ctx.traced && System.nanoTime() - start < ctx.seconds * 1e9)) {
      // a traced run alternates untraced and traced passes, for the
      // tracing overhead
      trace.foreach { t =>
        t.pause()
        plain += Queries.map(q => q -> runOnce(spark, dir, q, None).wall).toMap
        t.resume()
      }
      passes += Queries.map(q => q -> runOnce(spark, dir, q, trace)).toMap
    }

    // output checks: the plan guard, and each query's rows and hash agree
    // across passes, warm-up ones included, and with the value recorded
    // for this seed, if any
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(capture)
    planGuard(spark, dir, passes.last, capture.seen.asScala.toSeq).foreach { case (line, ok) =>
      ctx.log(line)
      ctx.op(ok, s"the noop write does not run the full plan: $line")
    }
    val recorded = Expected.load(ctx.expected, ctx.seed)
    Queries.foreach { q =>
      val all = warm ++ passes
      val fps = all.map(_(q).fp).distinct
      all.foreach(_ => ctx.op(fps.size == 1, s"$q: rows/hash differ across passes: $fps"))
      ctx.op(fps.head._1 > 0, s"$q: produced no rows")
      recorded.get(q).foreach(r => ctx.op(r == fps.head, s"$q: rows/hash ${fps.head}, recorded $r"))
    }
    if (ctx.record) Expected.save(ctx.expected, ctx.seed, Queries.map(q => q -> passes.head(q).fp).toMap)

    val walls = passes.map(_.values.map(_.wall).sum * 1000).toSeq
    if (!ctx.traced) {
      ctx.metric("p50_ms", Stats.median(walls), "ms")
      ctx.metric("rate_per_s", nDocs / (Stats.median(walls) / 1000), "1/s")
    } else layers(ctx, trace.get, plain.toSeq, passes.toSeq)
    ctx.log(f"curation_batch: ${passes.size} passes over $nDocs docs, pass ms " +
      walls.map(w => f"$w%.0f").mkString(" ") + "; per query s, by pass: " +
      Queries.map(q => f"$q=${passes.map(p => f"${p(q).wall}%.2f").mkString("/")}").mkString(" "))
  }

  private def layers(ctx: Ctx, trace: Trace, plain: Seq[Map[String, Double]],
      passes: Seq[Map[String, Run]]): Unit = {
    val walls = passes.map(_.values.map(_.wall).sum * 1000)
    trace.drain()
    // per query, the median over passes of each layer
    val per = Queries.map { q =>
      val cs = trace.spansNamed(s"$q.construct")
      val ws = trace.spansNamed(s"$q.write")
      val rows = cs.indices.map { i =>
        val (c, w) = (cs(i), ws(i))
        val execs = trace.executionsIn(w)
        val plan = math.min(w.ms, execs.map(e => e.analysisMs + e.optimizeMs + e.planMs).sum)
        val cw = trace.workOf(c); val ww = trace.workOf(w)
        val joins = execs.flatMap(_.joinRows)
        Map(
          "construct_s" -> c.ms / 1000, "plan_s" -> plan / 1000,
          "analysis_s" -> (passes(i)(q).analysisMs + trace.executionsIn(c).map(_.analysisMs).sum +
            execs.map(_.analysisMs).sum) / 1000,
          "execute_s" -> (w.ms - plan) / 1000,
          "construct_jobs" -> trace.jobCount(c).toDouble, "jobs" -> (trace.jobCount(c) + trace.jobCount(w)).toDouble,
          "tasks" -> (cw.tasks + ww.tasks).toDouble,
          "task_cpu_s" -> (cw.cpuNs + ww.cpuNs) / 1e9, "gc_s" -> (cw.gcMs + ww.gcMs) / 1000.0,
          "run_s" -> (cw.runMs + ww.runMs) / 1000.0,
          "shuffle_write_mb" -> (cw.shuffleWrite + ww.shuffleWrite) / 1048576.0,
          "spill_mb" -> (cw.spill + ww.spill) / 1048576.0,
          "input_rows" -> (cw.inputRows + ww.inputRows).toDouble,
          "stage_skew" -> math.max(trace.stageSkew(c), trace.stageSkew(w)),
          "candidate_pairs" -> joins.maxOption.getOrElse(0L).toDouble)
      }
      q -> rows.head.keys.map(k => k -> Stats.median(rows.map(_(k)))).toMap
    }.toMap
    def total(k: String) = Queries.map(q => per(q)(k)).sum
    Seq("construct_s", "analysis_s", "plan_s", "execute_s").foreach(k =>
      ctx.metric(s"batch.$k", total(k), "s"))
    Seq("construct_jobs", "jobs", "tasks", "input_rows").foreach(k =>
      ctx.metric(s"batch.$k", total(k), "count"))
    ctx.metric("batch.task_cpu_s", total("task_cpu_s"), "s")
    ctx.metric("batch.gc_s", total("gc_s"), "s")
    ctx.metric("batch.cores_busy", total("run_s") / (Stats.median(walls) / 1000), "cores")
    ctx.metric("batch.shuffle_write_mb", total("shuffle_write_mb"), "MB")
    ctx.metric("batch.spill_mb", total("spill_mb"), "MB")
    ctx.metric("batch.stage_skew", Queries.map(q => per(q)("stage_skew")).max, "ratio")
    Queries.foreach { q =>
      ctx.metric(s"batch.$q.construct_s", per(q)("construct_s"), "s")
      ctx.metric(s"batch.$q.execute_s", per(q)("execute_s"), "s")
      ctx.metric(s"batch.$q.shuffle_write_mb", per(q)("shuffle_write_mb"), "MB")
    }
    PairQueries.foreach { q =>
      ctx.metric(s"batch.$q.candidate_pairs", per(q)("candidate_pairs"), "count")
      ctx.metric(s"batch.$q.surviving_pairs", passes.head(q).fp._1.toDouble, "count")
    }
    val tracedTotal = Queries.map(q => per(q)("construct_s") + per(q)("plan_s") + per(q)("execute_s")).sum
    val plainTotal = Queries.map(q => Stats.median(plain.map(_(q)))).sum
    ctx.metric("batch.trace_overhead_pct", (tracedTotal / plainTotal - 1) * 100, "%")
    ctx.log(f"curation_batch traced: layers sum $tracedTotal%.3f s vs untraced $plainTotal%.3f s")
  }
}

/** Row counts and hashes recorded per seed, one JSON object per line:
  * {"seed":1,"query":"gopher_quality","rows":2000,"hash":123}. */
object Expected {
  private val Line = """\{"seed":(-?\d+),"query":"([^"]+)","rows":(\d+),"hash":(-?\d+)\}""".r

  def load(path: String, seed: Long): Map[String, (Long, Long)] =
    if (path == null || !Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().collect {
      case Line(s, q, r, h) if s.toLong == seed => q -> (r.toLong, h.toLong)
    }.toMap

  def save(path: String, seed: Long, values: Map[String, (Long, Long)]): Unit = {
    val kept = if (!Files.exists(Paths.get(path))) Seq.empty
      else scala.io.Source.fromFile(path).getLines().filter {
        case Line(s, _, _, _) => s.toLong != seed
        case _ => false
      }.toSeq
    val added = values.toSeq.sortBy(_._1).map { case (q, (r, h)) =>
      s"""{"seed":$seed,"query":"$q","rows":$r,"hash":$h}"""
    }
    Files.write(Paths.get(path), (kept ++ added).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
