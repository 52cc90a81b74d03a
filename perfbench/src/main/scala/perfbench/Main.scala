package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: its arguments, the session, the counts
  * of operations attempted and failed, and the metrics to report. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: String, val cores: Int,
    val expected: String, val record: Boolean) {

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  var spark: SparkSession = _
  var inputDir: String = _
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var traces = List.empty[Trace]
  var attempted = 0L
  var failed = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Count one operation; a failed one, or one whose output check
    * failed, counts as failed. */
  def op(ok: Boolean, why: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; log(s"FAILED: $why") }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** The session every set-up starts: local[cores] with as many shuffle
    * partitions, and graft's own engine configuration; every path it
    * writes is inside the run's work directory. */
  def newSession(): SparkSession = {
    val s = graft.GraftSession.builder(cores).master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$work/metastore;create=true")
      .getOrCreate()
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `SetupReps` times, each from a fresh session: start it,
    * generate the inputs into a fresh directory, warm up. The last
    * set-up is kept; `release` undoes the others. setup_s is the median. */
  def setup[T](prepare: (SparkSession, String) => T)(release: T => Unit): T = {
    var kept: Option[T] = None
    val times = (1 to SetupReps).map { k =>
      kept.foreach(release)
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      inputDir = s"$work/input-$k"
      kept = Some(prepare(spark, inputDir))
      (System.nanoTime() - t0) / 1e9
    }
    log(f"set-ups: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    if (!traced) metric("setup_s", Stats.median(times), "s")
    kept.get
  }

  def trace(s: SparkSession): Trace = {
    val t = new Trace(s)
    traces ::= t
    t
  }

  /** The result line. A traced run reports every per-layer metric; the
    * ones of layers this workload does not drive read 0. */
  def result(): String = {
    if (traced) {
      metric("cache_mb", Ctx.cacheMb(spark), "MB")
      Layers.all.foreach(m => if (!metrics.contains(m.name)) metric(m.name, 0.0, m.unit))
    }
    val wanted = if (traced) Layers.all.map(_.name) else Layers.endToEnd.map(_.name)
    val ms = wanted.map { n =>
      val (v, u) = metrics(n)
      s""""$n":{"value":${Ctx.num(v)},"unit":"$u"}"""
    }
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  def writeSpans(dir: String): Unit = if (traces.nonEmpty) {
    Files.createDirectories(Paths.get(dir))
    val lines = traces.reverse.flatMap(_.spansJson)
    Files.write(Paths.get(dir, s"trace-$workload-$seed.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Ctx {
  /** Storage memory held by cached and checkpointed blocks. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Every metric the benchmark reports. `exact` marks the per-layer
  * counts that repeat exactly from run to run for one seed, so a change
  * can cite them as counts. Shuffle bytes of the curation queries are
  * not exact: the vector queries' compressed blocks vary with row order. */
object Layers {
  final case class M(name: String, unit: String, better: String, exact: Boolean = false)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("p50_ms", "ms", "lower"),
    M("rate_per_s", "1/s", "higher"))

  private def lower(n: String, u: String) = M(n, u, "lower")
  private def count(n: String) = M(n, "count", "lower", exact = true)

  val all: Seq[M] =
    Gen.Routes.flatMap { r =>
      Seq(lower(s"api.$r.construct_ms", "ms"), lower(s"api.$r.analysis_ms", "ms"),
        lower(s"api.$r.plan_ms", "ms"), lower(s"api.$r.execute_ms", "ms"), count(s"api.$r.jobs"),
        M(s"api.$r.rows_scanned_per_row", "ratio", "lower", exact = true))
    } ++ Seq(lower("api.http_ms", "ms"), lower("api.generator_late_ms", "ms"),
      lower("api.trace_overhead_pct", "%")) ++
    Seq(lower("lifecycle.batch_p50_ms", "ms")) ++
    Seq("add_batch", "query_planning", "wal_commit", "commit_offsets", "latest_offset", "get_batch")
      .map(k => lower(s"lifecycle.streaming.${k}_ms", "ms")) ++
    Seq(lower("lifecycle.state.commit_ms", "ms"), count("lifecycle.state.rows_total"),
      count("lifecycle.state.rows_updated"), lower("lifecycle.state.memory_mb", "MB"),
      lower("lifecycle.execute.task_cpu_s", "s"), M("lifecycle.execute.shuffle_write_mb", "MB", "lower", exact = true),
      lower("lifecycle.execute.gc_s", "s"), lower("lifecycle.sink.bytes_mb", "MB"),
      lower("lifecycle.live.construct_ms", "ms"), lower("lifecycle.live.execute_ms", "ms"),
      M("lifecycle.live.rows_scanned_per_row", "ratio", "lower", exact = true),
      lower("lifecycle.trace_overhead_pct", "%")) ++
    Seq(lower("batch.construct_s", "s"), count("batch.construct_jobs"), lower("batch.analysis_s", "s"),
      lower("batch.plan_s", "s"), lower("batch.execute_s", "s"), count("batch.jobs"), count("batch.tasks"),
      lower("batch.task_cpu_s", "s"), lower("batch.gc_s", "s"), M("batch.cores_busy", "cores", "higher"),
      lower("batch.shuffle_write_mb", "MB"), lower("batch.spill_mb", "MB"),
      count("batch.input_rows"), lower("batch.stage_skew", "ratio"),
      lower("batch.trace_overhead_pct", "%")) ++
    Curation.Queries.flatMap(q => Seq(lower(s"batch.$q.construct_s", "s"),
      lower(s"batch.$q.execute_s", "s"), lower(s"batch.$q.shuffle_write_mb", "MB"))) ++
    Curation.PairQueries.flatMap(q => Seq(count(s"batch.$q.candidate_pairs"),
      M(s"batch.$q.surviving_pairs", "count", "higher", exact = true))) ++
    Seq(lower("cache_mb", "MB"))
}

/** Usage: perfbench.Main --workload <task_api|task_lifecycle|curation_batch>
  *   --seed N --seconds N --trace 0|1 --work DIR
  *   [--expected FILE [--record]] [--out DIR]
  * or perfbench.Main --list-metrics. The last stdout line is the result. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (args.contains("--list-metrics")) {
      def js(ms: Seq[Layers.M]) = ms.map(m =>
        s"""{"name":"${m.name}","unit":"${m.unit}","better":"${m.better}","exact":${m.exact}}""")
        .mkString("[", ",", "]")
      println(s"""{"end_to_end":${js(Layers.endToEnd)},"per_layer":${js(Layers.all)}}""")
      return
    }
    val ctx = new Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1", opts("work"), Runtime.getRuntime.availableProcessors(),
      opts.getOrElse("expected", null), args.contains("--record"))
    val code = try {
      ctx.workload match {
        case "task_api" => TaskApi.run(ctx)
        case "task_lifecycle" => Lifecycle.run(ctx)
        case "curation_batch" => Curation.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val line = ctx.result()
      opts.get("out").foreach(ctx.writeSpans)
      println(line)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      if (ctx.spark != null) {
        ctx.spark.streams.active.foreach(_.stop())
        ctx.spark.stop()
      }
    }
    System.exit(code)
  }
}
