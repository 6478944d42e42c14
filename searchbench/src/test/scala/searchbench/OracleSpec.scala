package searchbench

import graft.search.QueryParser
import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  // doc 10 sorts before doc 9 as a string: the oracle must still rank numerically
  private val rows = Seq(
    Oracle.Row("alpha", 9, 2.0, Seq(1, 5)),
    Oracle.Row("alpha", 10, 1.0, Seq(3)),
    Oracle.Row("alpha", 12, 0.5, Seq(7)),
    Oracle.Row("beta", 9, 1.5, Seq(2)),
    Oracle.Row("beta", 12, 3.2, Seq(20)),
    Oracle.Row("gamma", 11, 0.7, Seq(4)))
  private val slice = Oracle.postingIndex(rows)
  private val docs = Seq(9L, 10L, 11L, 12L)
  private def exp(q: String) = Oracle.expected(new QueryParser(Set.empty).parse(q), slice, docs)

  test("postings are in string doc-id order with delta positions") {
    assert(slice("alpha").map(_.docId) == Vector("10", "12", "9"))
    assert(slice("alpha").find(_.docId == "9").get.positions == Vector(1, 4))
  }

  test("OR sums, AND intersects with proximity, NOT complements against the corpus") {
    assert(exp("alpha or gamma").map(_._1) == Vector(9L, 10L, 11L, 12L))
    val and = exp("alpha beta")
    assert(and.map(_._1).toSet == Set(9L, 12L))
    assert(math.abs(and.find(_._1 == 9L).get._2 - math.pow(3.0, 2.0)) < 1e-12) // distance 1
    assert(exp("not gamma").map(_._1) == Vector(9L, 10L, 12L))
    assert(exp("alpha and not beta") == Vector((10L, 1.0)))
  }

  private val truth = exp("alpha or beta")
  private val page = truth.take(10)

  test("the correct reply passes") {
    assert(Oracle.checkPage(truth, truth.length, page).isEmpty)
    assert(Oracle.checkAll(truth, truth.reverse).isEmpty)
  }

  test("a dropped document is flagged") {
    val dropped = page.filterNot(_._1 == 10L)
    assert(Oracle.checkPage(truth, truth.length - 1, dropped).nonEmpty)
    assert(Oracle.checkPage(truth, truth.length, dropped).nonEmpty)
    assert(Oracle.checkAll(truth, dropped).nonEmpty)
  }

  test("a perturbed score is flagged") {
    val perturbed = page.map { case (d, s) => if (d == 12L) (d, s + 1e-6) else (d, s) }
    assert(Oracle.checkPage(truth, truth.length, perturbed).nonEmpty)
    assert(Oracle.checkAll(truth, perturbed).nonEmpty)
  }

  test("a swapped pair is flagged unless the two scores tie") {
    val swapped = Vector(page(1), page(0)) ++ page.drop(2)
    assert(Oracle.checkPage(truth, truth.length, swapped).nonEmpty)
    val tied = Vector((1L, 1.0), (2L, 1.0), (3L, 0.5))
    assert(Oracle.checkPage(tied, 3, Vector((2L, 1.0), (1L, 1.0), (3L, 0.5))).isEmpty)
  }

  test("a repeated document is flagged") {
    assert(Oracle.checkAll(truth, truth.init :+ truth.head).nonEmpty)
  }
}
