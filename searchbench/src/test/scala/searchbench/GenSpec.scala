package searchbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val spec = Gen.Spec(docs = 60, batches = 2, batchDocs = 10, tokensPerDoc = 40, vocab = 3000, zipfS = 1.0)

  private def inputs(seed: Long): (Vector[Array[Byte]], Vector[String], Vector[Int]) = {
    val dir = Files.createTempDirectory("gen")
    try {
      val c = Gen.corpus(spec, seed)
      val ranges = c.baseRange +: (0 until spec.batches).map(c.batchRange)
      val files = ranges.zipWithIndex.map { case ((f, u), i) =>
        val p = dir.resolve(s"$i.xml")
        c.writeXml(p.toString, f, u)
        Files.readAllBytes(p)
      }.toVector
      val qs = Gen.queries(c, seed, 1).take(21).map(_.text)
      (files, qs, Gen.cacheSequence(50, 4, seed, 1))
    } finally dir.toFile.listFiles().foreach(_.delete())
  }

  test("the same seed gives byte-identical files and identical queries") {
    val (f1, q1, s1) = inputs(7)
    val (f2, q2, s2) = inputs(7)
    assert(f1.map(_.toVector) == f2.map(_.toVector))
    assert(q1 == q2)
    assert(s1 == s2)
  }

  test("another seed gives other inputs") {
    val (f1, q1, _) = inputs(7)
    val (f2, q2, _) = inputs(8)
    assert(f1.head.toVector != f2.head.toVector)
    assert(q1 != q2)
  }

  test("documents are well-formed pages with ids in order and no connective words") {
    val c = Gen.corpus(spec, 3)
    val dir = Files.createTempDirectory("gen")
    val p: Path = dir.resolve("base.xml")
    try {
      c.writeXml(p.toString, 1, spec.docs + 1)
      val pages = new String(Files.readAllBytes(p), "UTF-8").split("</page>\n").toVector
      assert(pages.length == spec.docs)
      pages.zipWithIndex.foreach { case (pg, i) =>
        assert(pg.startsWith(s"<page><id>${i + 1}</id><title>doc-${i + 1}</title><text>"))
      }
      assert(!c.words.exists(Set("and", "or", "not")))
      assert(c.words.distinct.length == c.words.length)
    } finally { Files.deleteIfExists(p); Files.delete(dir) }
  }

  test("queries cycle through every class; phrases are adjacent words of a base document") {
    val c = Gen.corpus(spec, 5)
    val qs = Gen.queries(c, 5, 1).take(Gen.Classes.length * 3)
    assert(qs.map(_.cls).distinct == Gen.Classes)
    val texts = (1 to spec.docs).map(c.text(_).replace(".", ""))
    qs.filter(_.cls == "phrase2").foreach(q => assert(texts.exists(_.contains(q.text))))
  }

  test("the cache sequence asks a new query every fourth request and repeats only asked ones") {
    val seq = Gen.cacheSequence(200, 4, 9, 1)
    seq.zipWithIndex.foreach { case (q, i) =>
      if (i % 4 == 0) assert(q == i / 4) else assert(q >= 0 && q <= i / 4)
    }
    assert(seq.count(_ == 0) > seq.count(_ == 10))
  }

  test("Zipf draws favour low ranks") {
    val z = new Gen.Zipf(100, 1.0)
    val rng = Gen.stream(1, 0)
    val draws = Vector.fill(20000)(z.sample(rng))
    assert(draws.forall(r => r >= 1 && r <= 100))
    assert(draws.count(_ == 1) > draws.count(_ == 2))
    assert(draws.count(_ == 2) > draws.count(_ == 10))
  }
}
