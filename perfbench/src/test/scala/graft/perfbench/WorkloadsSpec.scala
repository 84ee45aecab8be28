package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val qs = Workloads.etlStar.queries

  test("the same seed gives the same order") {
    for (pass <- 0 to 3; client <- 0 to 1)
      assert(Workloads.order(qs, 42L, pass, client) == Workloads.order(qs, 42L, pass, client))
  }

  test("every query runs exactly once per pass and client") {
    for (w <- Workloads.all; seed <- Seq(0L, 1L, -7L, Long.MaxValue);
         pass <- 0 to 4; client <- 0 until w.clients) {
      val o = Workloads.order(w.queries, seed, pass, client)
      assert(o.sorted == w.queries.sorted)
    }
  }

  test("the order changes with the seed, the pass and the client") {
    val base = Workloads.order(qs, 1L, 0, 0)
    assert((2L to 6L).map(Workloads.order(qs, _, 0, 0)).exists(_ != base))
    assert((1 to 5).map(Workloads.order(qs, 1L, _, 0)).exists(_ != base))
    assert((1 to 5).map(Workloads.order(qs, 1L, 0, _)).exists(_ != base))
  }

  test("workloads have distinct names and no repeated query") {
    assert(Workloads.all.map(_.name).distinct.size == Workloads.all.size)
    Workloads.all.foreach(w => assert(w.queries.distinct == w.queries, w.name))
    assert(Workloads.byName("dashboard").clients == 2)
    intercept[IllegalArgumentException](Workloads.byName("nope"))
  }
}
