package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Runs `gen` for seeds 1, 1 and 2: the first two must be equal, the
    * third different but of the same shape. */
  private def deterministic[T](name: String)(gen: Long => Seq[T])(shape: T => Any): Unit =
    test(s"$name is a function of its seed, and another seed changes it but not its shape") {
      val a = gen(1); val b = gen(1); val c = gen(2)
      assert(a.map(render) == b.map(render))
      assert(a.map(render) != c.map(render))
      assert(a.size == c.size)
      assert(a.map(shape).toSet == c.map(shape).toSet)
    }

  private def render(x: Any): String = x match {
    case e: Gen.Emb => s"${e.vec_id} ${e.embedding.mkString(",")} ${e.label}"
    case other => other.toString
  }

  deterministic("orders")(Gen.orders(_, 5000))(o => (o.o_orderstatus, o.o_orderpriority))
  deterministic("suppliers")(Gen.suppliers(_, 100))(s => s.s_name.length)
  deterministic("the request mix")(Gen.requests(_, 2000, 150000, 1000))(_.route)
  // per task: the event count depends on each task's seeded path, the
  // task count and the set of paths do not
  deterministic("the lifecycle backlog")(s =>
    Gen.lifecycle(s, 2000, 50).groupBy(_.taskId).toSeq.sortBy(_._1))(_._2.map(_.kind))
  deterministic("documents")(s => Gen.docs(s, 300, 2))(d => (d.lang, d.doc_id / Gen.ReplicaStride))
  deterministic("embeddings")(s => Gen.embeddings(s, 200, 2))(e =>
    (e.embedding.length, e.vec_id / Gen.ReplicaStride))

  test("the request mix hits every route, ~5% unknown ids") {
    val reqs = Gen.requests(7, 20000, 150000, 1000)
    assert(reqs.map(_.route).toSet == Gen.Routes.toSet)
    val unknown = reqs.count {
      case Gen.TaskById(id) => id.toLong >= 150000
      case _ => false
    }
    assert(unknown > 700 && unknown < 1300)
  }

  test("the lifecycle backlog is in seq order, and ~10% of tasks retry or fail over") {
    val evs = Gen.lifecycle(3, 5000, 50)
    assert(evs.map(_.seq) == evs.indices.map(_.toLong))
    val retried = evs.filter(e => e.kind == "fail" || e.kind == "worker_down").map(_.taskId).toSet
    assert(retried.size > 350 && retried.size < 650)
    val (_, finals) = Lifecycle.replay(evs)
    assert(finals.size == 5000)
  }

  test("hard-mode replicas share no token and keep unit norms") {
    val docs = Gen.docs(5, 100, 3)
    val vocab = docs.groupBy(_.doc_id / Gen.ReplicaStride).map { case (k, ds) =>
      k -> ds.flatMap(_.text.split(' ')).toSet
    }
    assert(vocab.size == 3)
    for (a <- vocab.keys; b <- vocab.keys if a < b) assert((vocab(a) & vocab(b)).isEmpty)
    Gen.embeddings(5, 50, 3).foreach { e =>
      assert(math.abs(e.embedding.map(x => x * x).sum - 1.0) < 1e-4)
    }
  }
}
