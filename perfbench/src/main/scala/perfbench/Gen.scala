package perfbench

import java.util.SplittableRandom

import graft.streaming.TaskEngine.TaskEvent

/** Seeded input generators. Every input the program sees comes from
  * here, and each generator is a pure function of its seed and size:
  * the same seed gives the same rows, another seed gives other rows of
  * the same shape (GenSpec pins both). */
object Gen {

  // ---------------------------------------------------------------
  // task_api fixture: the star-schema tables graft derives tasks and
  // workers from (orders → tasks, supplier → workers)

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)

  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay

  /** sf0.1 has 150,000 orders and 1,000 suppliers. */
  def orders(seed: Long, n: Int): Vector[Order] = {
    val r = new SplittableRandom(seed ^ 0x0d3e5L)
    Vector.tabulate(n) { i =>
      val day = java.time.LocalDate.ofEpochDay(Day0 + r.nextInt(2404))
      Order(i.toLong, 1L + r.nextInt(15000), "OFP".charAt(r.nextInt(3)).toString,
        math.round(r.nextDouble() * 50000000.0) / 100.0,
        java.sql.Timestamp.valueOf(day.atStartOfDay()),
        Priorities(r.nextInt(Priorities.size)))
    }
  }

  def suppliers(seed: Long, n: Int): Vector[Supplier] = {
    val r = new SplittableRandom(seed ^ 0x5a991L)
    Vector.tabulate(n)(i => Supplier(i.toLong, workerName(i), r.nextInt(25),
      math.round(r.nextDouble() * 1000000.0) / 100.0))
  }

  def workerName(i: Int): String = f"Supplier#$i%09d"

  /** One request of the task_api mix, by route. */
  sealed trait Req { def route: String; def path: String }
  final case class TaskById(id: String) extends Req {
    def route = "task"; def path = s"/api/tasks/$id"
  }
  final case class ListTasks(status: String, limit: Int) extends Req {
    def route = "list"; def path = s"/api/tasks?status=$status&limit=$limit"
  }
  final case class WorkerTasks(id: String) extends Req {
    def route = "worker"
    def path = "/api/workers/" + java.net.URLEncoder.encode(id, "UTF-8")
  }
  case object Stats extends Req { def route = "stats"; def path = "/api/stats" }
  case object Workers extends Req { def route = "workers"; def path = "/api/workers" }

  val Routes = Vector("task", "list", "worker", "stats", "workers")
  val StatusNames = Vector("pending", "processing", "completed", "failed", "delayed")

  /** The request mix, in seeded shuffles of blocks of 20 so that every
    * window of the run sees the same mix: 16 task lookups (one of them
    * for an id that does not exist, so 5% of requests answer 404), two
    * status lists, one worker task list, and stats or the worker list
    * in alternate blocks. */
  def requests(seed: Long, n: Int, nTasks: Int, nWorkers: Int): Vector[Req] = {
    val r = new SplittableRandom(seed ^ 0x7e9L)
    def block(k: Int): Vector[Req] = {
      val b = Vector.fill(15)(TaskById(r.nextInt(nTasks).toString)) ++ Vector(
        TaskById((nTasks + r.nextInt(nTasks)).toString),
        ListTasks(StatusNames(r.nextInt(StatusNames.size)), 100),
        ListTasks(StatusNames(r.nextInt(StatusNames.size)), 100),
        WorkerTasks(workerName(r.nextInt(nWorkers))),
        if (k % 2 == 0) Stats else Workers)
      // Fisher-Yates with the seeded stream
      val a = b.toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toVector
    }
    Iterator.from(0).flatMap(block).take(n).toVector
  }

  // ---------------------------------------------------------------
  // task_lifecycle backlog

  /** A backlog of task events in seq order. Each task is submitted and
    * assigned; most complete, and about one in ten retries, fails over
    * to another worker or exhausts its retries. A few stay in flight. */
  def lifecycle(seed: Long, nTasks: Int, nWorkers: Int): Vector[TaskEvent] = {
    val r = new SplittableRandom(seed ^ 0x11feL)
    def w() = s"w${r.nextInt(nWorkers)}"
    // (time, task, ordinal, kind, worker): sorting by time then task
    // then ordinal keeps each task's own events in order
    val timed = Vector.newBuilder[(Long, Int, Int, String, String)]
    var i = 0
    while (i < nTasks) {
      var t = i.toLong * 10 + r.nextInt(10)
      var ord = 0
      def emit(kind: String, worker: String): Unit = {
        timed += ((t, i, ord, kind, worker)); ord += 1; t += 1 + r.nextInt(400)
      }
      emit("submit", null)
      emit("assign", w())
      val p = r.nextInt(100)
      if (p < 5) { // retry once, then succeed
        emit("fail", null); emit("retry_fire", null); emit("assign", w())
        emit("complete", null)
      } else if (p < 8) { // the worker dies; the task fails over
        emit("worker_down", null); emit("assign", w()); emit("complete", null)
      } else if (p < 10) { // every retry fails: ends FAILED
        emit("fail", null)
        for (_ <- 1 to 3) {
          emit("retry_fire", null); emit("assign", w()); emit("fail", null)
        }
      } else if (p < 12) () // still processing when the backlog ends
      else emit("complete", null)
      i += 1
    }
    timed.result().sortBy(e => (e._1, e._2, e._3)).zipWithIndex.map {
      case ((_, task, _, kind, worker), seq) =>
        TaskEvent(taskId(task), kind, worker, seq.toLong)
    }
  }

  def taskId(i: Int): String = f"t$i%07d"

  // ---------------------------------------------------------------
  // curation_batch corpus: ScaleProbe's hard-mode recipe over a seeded
  // base corpus shaped like the sf0.1 fixture (closed 31-word
  // vocabulary, 10-100 tokens, five languages, twenty sources, a few
  // exact and near duplicates; unit 64-dim embeddings in ten labels,
  // a few near-duplicate vectors)

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  val Vocab = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector",
    "window", "stride")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "es", "es",
    "zh", "zh", "de", "de", "fr", "fr")
  val ReplicaStride = 10000000L
  val Dim = 64

  /** Which base rows are copies (1 exact, 2 near, 0 original): exactly
    * `exact` and `near` of them at seeded positions, row 0 always an
    * original, so every seed carries the same duplicate structure. */
  private def copyKinds(r: SplittableRandom, n: Int, exact: Int, near: Int): Array[Int] = {
    val kinds = Array.fill(n)(0)
    for (i <- 1 to exact) kinds(i) = 1
    for (i <- exact + 1 to exact + near) kinds(i) = 2
    for (i <- (2 until n).reverse) {
      val j = 1 + r.nextInt(i); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    kinds
  }

  /** Base documents as (words, index of the original they copy): 0.3%
    * exact and 3.7% near duplicates. */
  def baseDocs(seed: Long, n: Int): Vector[(Vector[String], Int)] = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val kinds = copyKinds(r, n, n * 3 / 1000, n * 37 / 1000)
    var made = Vector.empty[(Vector[String], Int)]
    for (i <- 0 until n) {
      made :+= (kinds(i) match {
        case 0 => (Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))), i)
        case 1 => made(r.nextInt(i))
        case _ => // near duplicate: one word in forty edited, at least one
          val (src, orig) = made(r.nextInt(i))
          val edited = (0 until math.max(1, src.size / 40)).foldLeft(src) { (ws, _) =>
            ws.updated(r.nextInt(ws.size), Vocab(r.nextInt(Vocab.size)))
          }
          (edited, orig)
      })
    }
    made
  }

  /** The corpus: `replicas` hard-mode replicas of `n` base documents.
    * Replica k > 0 relabels every word w as "w~k" and offsets ids by
    * k·10M, so in-replica duplicate structure repeats exactly and
    * cross-replica pairs share no token. */
  def docs(seed: Long, n: Int, replicas: Int): Vector[Doc] = {
    val base = baseDocs(seed, n)
    val r = new SplittableRandom(seed ^ 0x1a6L)
    val langs = Vector.fill(n)(Langs(r.nextInt(Langs.size)))
    // a copy keeps its original's language and source
    for (k <- (0 until replicas).toVector; i <- 0 until n) yield {
      val (ws, orig) = base(i)
      val words = if (k == 0) ws else ws.map(w => s"$w~$k")
      val text = words.mkString(" ")
      Doc(k * ReplicaStride + i, text, langs(orig), s"src${orig % 20}", text.length.toLong)
    }
  }

  def baseEmbeddings(seed: Long, n: Int): Vector[(Array[Float], Int)] = {
    val r = new SplittableRandom(seed ^ 0xe3bL)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    def gauss(): Double = { // Box-Muller from the seeded stream
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val kinds = copyKinds(r, n, 0, n * 3 / 100)
    var made = Vector.empty[(Array[Float], Int)]
    for (i <- 0 until n) {
      made :+= (if (kinds(i) == 2) { // near-duplicate vector
        val (src, label) = made(r.nextInt(i))
        (unit(src.map(x => x + 0.02 * gauss())), label)
      } else (unit(Array.fill(Dim)(gauss())), r.nextInt(10)))
    }
    made
  }

  /** Hard-mode replicas of `n` base embeddings: replica k rotates by k,
    * flips signs by a seeded diagonal ±1 pattern (orthogonal, so
    * in-replica cosines are exact) and relabels to label + k·1000. */
  def embeddings(seed: Long, n: Int, replicas: Int): Vector[Emb] = {
    val base = baseEmbeddings(seed, n)
    for (k <- (0 until replicas).toVector; i <- 0 until n) yield {
      val (v, label) = base(i)
      val out =
        if (k == 0) v
        else {
          val signs = new SplittableRandom(seed * 31 + k)
          Array.tabulate(Dim) { j =>
            val x = v((j + k) % Dim)
            if (signs.nextBoolean()) x else -x
          }
        }
      Emb(k * ReplicaStride + i, out, label + k * 1000)
    }
  }
}
