package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  test("every timed query is a gate query, each once") {
    assert(Workloads.gate.distinct == Workloads.gate)
    assert(Workloads.gate.toSet.subsetOf(graft.SparkEntry.queries.keySet))
  }

  test("a seed fixes the order of the timed set") {
    val a = Workloads.order(5L)
    assert(a == Workloads.order(5L))
    assert(a.sorted == Workloads.gate.sorted)
    assert((1L to 5L).map(Workloads.order).distinct.size > 1)
  }
}
