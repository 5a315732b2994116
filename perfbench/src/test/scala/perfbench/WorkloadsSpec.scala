package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  private val two = Workloads("stream_drains").members
  private val nine = Workloads("mta_dbt").members

  test("a (seed, pass) pair always gives the same order of the same members") {
    assert(Workloads.order(nine, 7, 3) == Workloads.order(nine, 7, 3))
    assert(Workloads.order(nine, 7, 3).sorted == nine.sorted)
  }

  test("nearby seeds give both orders of two members") {
    val firsts = (1 to 20).map(s => Workloads.order(two, s, 0).head)
    assert(firsts.distinct.size == 2)
    assert(firsts.count(_ == firsts.head) <= 15)
  }

  test("the passes of one run do not repeat one order") {
    (1 to 20).foreach { s =>
      assert((0 until 5).map(p => Workloads.order(nine, s, p)).distinct.size >= 4)
    }
  }

  test("nearby seeds start their cold pass with different queries") {
    assert((1 to 10).map(s => Workloads.order(nine, s, 0).head).distinct.size >= 4)
  }
}
