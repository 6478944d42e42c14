package searchbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == Stats.Tail(10.0, 50.0, 20))
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven).value == 1.0)
    assert(Stats.tail(eleven).n == 11)
  }

  test("with ten samples or fewer the tail falls back to the maximum") {
    assert(Stats.tail(Seq(5.0, 9.0, 1.0)) == Stats.Tail(9.0, 100.0, 3))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(10.0, 100.0, 10))
  }
}
