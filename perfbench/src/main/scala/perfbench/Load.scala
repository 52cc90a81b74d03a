package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** Request generators. Times are System.nanoTime values. */
object Load {

  /** One request: when it was due, when the generator handed it to a
    * client, when its answer arrived, and the status it got. */
  final case class Sample(due: Long, sent: Long, done: Long, status: Int) {
    def latencyMs: Double = (done - due) / 1e6
    def lateMs: Double = (sent - due) / 1e6
  }

  /** Open loop: request i is due at start + i/rate regardless of how
    * earlier requests fared, and is run on one of `clients` threads.
    * Latency is measured from the due time, so a request queued behind
    * a stall is charged for the wait. `lateMs` is how late the
    * generator itself was in handing the request over. */
  def openLoop[R](reqs: Seq[R], ratePerS: Double, clients: Int)(
      send: R => Int): Vector[Sample] = {
    val pool = Executors.newFixedThreadPool(clients)
    val out = new ConcurrentLinkedQueue[Sample]()
    val start = System.nanoTime() + 1000000L
    val gapNs = 1e9 / ratePerS
    try {
      reqs.zipWithIndex.foreach { case (req, i) =>
        val due = start + (i * gapNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        pool.execute { () =>
          val code = try send(req) catch { case _: Throwable => -1 }
          out.add(Sample(due, now, System.nanoTime(), code))
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
    out.asScala.toVector.sortBy(_.due)
  }

  /** Closed loop: `clients` threads, each sending its next request as
    * soon as the previous one is answered, until `seconds` have passed.
    * Client c takes requests c, c + clients, c + 2·clients, ... of
    * `reqs`, cycling. Returns the samples and the elapsed seconds. */
  def closedLoop[R](reqs: IndexedSeq[R], clients: Int, seconds: Double)(
      send: R => Int): (Vector[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = c
        while (System.nanoTime() < deadline) {
          val t0 = System.nanoTime()
          val code = try send(reqs(i % reqs.size)) catch { case _: Throwable => -1 }
          out.add(Sample(t0, t0, System.nanoTime(), code))
          i += clients
        }
      }, s"closed-loop-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val samples = out.asScala.toVector.sortBy(_.due)
    (samples, (samples.map(_.done).maxOption.getOrElse(deadline) - start) / 1e9)
  }
}
