package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoadSpec extends AnyFunSuite {

  test("percentile interpolates between the closest ranks") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(Stats.percentile(xs, 0) == 15)
    assert(Stats.percentile(xs, 100) == 50)
    assert(Stats.median(xs) == 35)
    assert(math.abs(Stats.percentile(xs, 40) - 29) < 1e-9) // rank 1.6: 20 + 0.6·15
    assert(math.abs(Stats.percentile(xs, 90) - 46) < 1e-9) // rank 3.6: 40 + 0.6·10
    assert(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7)
    assert(math.abs(Stats.percentile((1 to 100).map(_.toDouble), 90) - 90.1) < 1e-9)
  }

  test("percentile rejects an empty sample and a rank outside 0..100") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("the open loop sends on schedule and times each request from its due time") {
    // one client, 50 ms per request, one due every 10 ms: request i waits
    // behind the i before it, so its latency is ~50·(i+1) - 10·i ms
    val samples = Load.openLoop(0 until 6, ratePerS = 100, clients = 1) { _ =>
      Thread.sleep(50); 200
    }
    assert(samples.size == 6)
    val gaps = samples.sliding(2).map { case Seq(a, b) => (b.due - a.due) / 1e6 }.toSeq
    gaps.foreach(g => assert(math.abs(g - 10) < 0.5))
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(s.latencyMs >= 50.0 * (i + 1) - 10.0 * i - 1)
      assert(s.lateMs < 20) // the generator itself kept to the schedule
      assert(s.status == 200)
    }
  }

  test("the open loop does not wait for answers before sending the next request") {
    val t0 = System.nanoTime()
    val samples = Load.openLoop(0 until 4, ratePerS = 50, clients = 4) { _ =>
      Thread.sleep(100); 200
    }
    // all four are due within 60 ms and run side by side
    assert((System.nanoTime() - t0) / 1e6 < 350)
    samples.foreach(s => assert(s.latencyMs >= 100 && s.latencyMs < 250))
  }

  test("the closed loop keeps each client to one request in flight until the deadline") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger()
    val (samples, elapsed) = Load.closedLoop(0 until 100, clients = 2, seconds = 0.3) { _ =>
      maxSeen.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      Thread.sleep(20)
      inFlight.decrementAndGet()
      200
    }
    assert(maxSeen.get <= 2)
    assert(elapsed >= 0.3 && elapsed < 0.5)
    assert(samples.size >= 20 && samples.size <= 34)
  }
}
