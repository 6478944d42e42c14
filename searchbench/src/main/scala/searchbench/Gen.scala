package searchbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded workload generator: a Zipfian corpus written as `<page>` XML and
  * query lists drawn from it. Everything is a pure function of the seed and
  * the [[Gen.Spec]], so the same seed gives byte-identical files and query
  * strings. The engine only ever sees those files and strings.
  */
object Gen {

  /** Corpus shape: `docs` base documents plus `batches` append batches of
    * `batchDocs` documents, each about `tokensPerDoc` tokens (uniform within
    * ±25%) drawn Zipf(`zipfS`) over a `vocab`-word vocabulary.
    */
  final case class Spec(docs: Int, batches: Int, batchDocs: Int,
                        tokensPerDoc: Int, vocab: Int, zipfS: Double) {
    def totalDocs: Int = docs + batches * batchDocs
  }

  /** Number of stop words the index build drops (the reference's NUM_STOP_WORD). */
  val StopWordCount = 100

  /** 1-based Zipf rank bands the query terms are drawn from. The build drops
    * the 100 most frequent tokens as stop words, so stop-word draws come from
    * well inside that band and head terms from well outside it: at s = 1 the
    * expected counts of ranks 50, 100 and 120 differ by many standard
    * deviations on every corpus size used here.
    */
  val StopBand: (Int, Int) = (1, 50)
  val HeadBand: (Int, Int) = (120, 1200)
  val TailStart = 2000

  /** Query classes of the interactive workload, in the order they cycle. */
  val Classes: Vector[String] =
    Vector("term", "and2", "or3", "phrase2", "andnot", "stopword", "prefix")

  final case class Query(cls: String, text: String) {
    def isPrefix: Boolean = cls == "prefix"
  }

  /** A generated corpus: `words(r - 1)` is the word of Zipf rank `r`, and
    * `ranks(i)` the token ranks of document `i + 1`.
    */
  final class Corpus(val spec: Spec, val words: Array[String], val ranks: Array[Array[Int]]) {
    def text(doc: Int): String = {
      val rs = ranks(doc - 1)
      val sb = new java.lang.StringBuilder(rs.length * 8)
      var i = 0
      while (i < rs.length) {
        if (i > 0) sb.append(if (i % 13 == 0) ". " else " ")
        sb.append(words(rs(i) - 1))
        i += 1
      }
      sb.toString
    }

    /** Documents `[from, until)` (1-based ids) as `<page>` XML records. */
    def writeXml(path: String, from: Int, until: Int): Long = {
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
      var textBytes = 0L
      try {
        var d = from
        while (d < until) {
          val t = text(d).getBytes(UTF_8)
          textBytes += t.length
          out.write(s"<page><id>$d</id><title>doc-$d</title><text>".getBytes(UTF_8))
          out.write(t)
          out.write("</text></page>\n".getBytes(UTF_8))
          d += 1
        }
      } finally out.close()
      textBytes
    }

    def baseRange: (Int, Int) = (1, spec.docs + 1)
    def batchRange(k: Int): (Int, Int) = {
      val from = spec.docs + k * spec.batchDocs + 1
      (from, from + spec.batchDocs)
    }
  }

  /** Independent random stream `k` of a seed. */
  def stream(seed: Long, k: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k)

  /** Inverse-CDF sampler of ranks 1..n with P(r) ∝ r^-s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var r = 1
      while (r <= n) { acc += math.pow(r, -s); a(r - 1) = acc; r += 1 }
      var i = 0
      while (i < n) { a(i) /= acc; i += 1 }
      a
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i + 1 else -i, n)
    }
  }

  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"
  // parser connectives: a vocabulary word must never read as one
  private val Reserved = Set("and", "or", "not")

  /** `n` distinct lowercase words of 2-4 consonant-vowel syllables, some with
    * a closing consonant, shortest first: the index is the Zipf rank, so
    * frequent words are short, as in natural text, and the text bytes per
    * token hardly vary from seed to seed.
    */
  def vocabulary(n: Int, rng: SplittableRandom): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val sb = new StringBuilder
      val syllables = 2 + rng.nextInt(3)
      var i = 0
      while (i < syllables) {
        sb += Consonants.charAt(rng.nextInt(Consonants.length))
        sb += Vowels.charAt(rng.nextInt(Vowels.length))
        i += 1
      }
      if (rng.nextInt(3) == 0) sb += Consonants.charAt(rng.nextInt(Consonants.length))
      val w = sb.toString
      if (!Reserved(w)) seen += w
    }
    seen.toArray.sortBy(_.length)
  }

  def corpus(spec: Spec, seed: Long): Corpus = {
    val words = vocabulary(spec.vocab, stream(seed, 1))
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val rng = stream(seed, 2)
    val lo = spec.tokensPerDoc * 3 / 4
    val span = spec.tokensPerDoc / 2 + 1
    val ranks = Array.fill(spec.totalDocs) {
      Array.fill(lo + rng.nextInt(span))(zipf.sample(rng))
    }
    new Corpus(spec, words, ranks)
  }

  private def uniform(rng: SplittableRandom, lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  /** Query-string generator over a corpus' base documents. Term draws
    * alternate between the head band and the tail band, so half the terms
    * are frequent and half are rare; with `headOnly` every draw is a head
    * term, which every class but AND then always hits.
    */
  final class Queries(c: Corpus, rng: SplittableRandom, headOnly: Boolean) {
    private var draws = 0
    private def word(rank: Int): String = c.words(rank - 1)

    def term(): String = {
      draws += 1
      if (headOnly || draws % 2 == 1) word(uniform(rng, HeadBand._1, HeadBand._2))
      else word(uniform(rng, TailStart, c.spec.vocab))
    }
    def stopWord(): String = word(uniform(rng, StopBand._1, StopBand._2))

    /** Two adjacent non-stop tokens of a random base document, so the
      * phrase always has at least one hit.
      */
    def phrase(): String = {
      var found: String = null
      while (found == null) {
        val rs = c.ranks(rng.nextInt(c.spec.docs))
        var i = rng.nextInt(rs.length - 1)
        while (found == null && i < rs.length - 1) {
          if (rs(i) >= HeadBand._1 && rs(i + 1) >= HeadBand._1 && rs(i) != rs(i + 1))
            found = s"${word(rs(i))} ${word(rs(i + 1))}"
          i += 1
        }
      }
      found
    }

    def of(cls: String): Query = Query(cls, cls match {
      case "term"     => term()
      case "and2"     => s"${term()} and ${term()}"
      case "or3"      => s"${term()} or ${term()} or ${term()}"
      case "phrase2"  => phrase()
      case "andnot"   => s"${term()} and not ${term()}"
      case "stopword" => s"${term()} and ${stopWord()} ${term()}"
      case "prefix"   => term().take(3)
    })

    /** `n` queries cycling through `classes`. */
    def take(n: Int, classes: Vector[String] = Classes): Vector[Query] =
      Vector.tabulate(n)(i => of(classes(i % classes.length)))
  }

  def queries(c: Corpus, seed: Long, k: Int, headOnly: Boolean = false): Queries =
    new Queries(c, stream(seed, 10 + k), headOnly)

  /** Pool indices of the cached workload's requests: every `newEvery`-th
    * request asks for the next new pool entry (a cache miss); the others
    * repeat an entry already asked for, with Zipf(1) skew towards the
    * earliest (cache hits). The share of misses is thus the same however
    * many requests a run completes.
    */
  def cacheSequence(n: Int, newEvery: Int, seed: Long, k: Int): Vector[Int] = {
    val rng = stream(seed, 20 + k)
    var asked = 0
    Vector.tabulate(n) { i =>
      if (i % newEvery == 0) { asked += 1; asked - 1 }
      else new Zipf(asked, 1.0).sample(rng) - 1
    }
  }
}
