package searchbench

import graft.search.{PostingAlgebra, QueryAst}
import graft.search.PostingAlgebra.Posting

/** Expected results of the search requests, computed outside the timed
  * region by the engine's executable spec ([[PostingAlgebra]]) over the
  * collected index slice, and the comparisons that decide whether a reply
  * is correct. A reply is `(doc_id, score)` in rank order.
  */
object Oracle {

  type Ranked = Vector[(Long, Double)]

  /** One index row: `(term, doc_id, score, absolute positions)`. */
  final case class Row(term: String, docId: Long, score: Double, positions: Seq[Int])

  /** The reference's in-memory index over a slice: per term, postings with
    * doc ids in string order and positions as deltas.
    */
  def postingIndex(rows: Seq[Row]): Map[String, Vector[Posting]] =
    rows.groupBy(_.term).map { case (t, rs) =>
      t -> rs.map { r =>
        val abs = r.positions.sorted.toVector
        val deltas = abs.indices.map(i => if (i == 0) abs(0) else abs(i) - abs(i - 1)).toVector
        Posting(r.docId.toString, r.score, deltas)
      }.sortBy(_.docId).toVector
    }

  /** Engine rank order: score descending, doc id ascending. */
  def rank(rows: Seq[(Long, Double)]): Ranked =
    rows.sortBy { case (d, s) => (-s, d) }.toVector

  /** Full expected result of a boolean query. A top-level negation is
    * complemented against `allDocs`, with score 0; a query that reduces to
    * stop words is empty.
    */
  def expected(ast: QueryAst, slice: Map[String, Vector[Posting]], allDocs: => Seq[Long]): Ranked = {
    val w = PostingAlgebra.evaluate(ast, slice)
    w.tpe match {
      case 0 => rank(w.postings.map(p => (p.docId.toLong, p.score)))
      case 1 =>
        val excluded = w.postings.map(_.docId.toLong).toSet
        rank(allDocs.filterNot(excluded).map(d => (d, 0.0)))
      case _ => Vector.empty
    }
  }

  /** Expected result of a prefix query over the rows whose term starts with
    * the prefix: per document, the sum of the matched terms' scores.
    */
  def expectedPrefix(rows: Seq[Row]): Ranked =
    rank(rows.groupBy(_.docId).map { case (d, rs) => (d, rs.map(_.score).sum) }.toSeq)

  val Tolerance = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tolerance * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Check a reply's hit count and first page against the expected full
    * ranking. Documents whose scores tie within tolerance may swap places;
    * anything else is a mismatch. None when the reply is correct.
    */
  def checkPage(exp: Ranked, count: Long, page: Seq[(Long, Double)], pageSize: Int = 10): Option[String] = {
    val want = exp.take(pageSize)
    lazy val expScore = exp.toMap
    if (count != exp.length) Some(s"count $count, expected ${exp.length}")
    else if (page.length != want.length) Some(s"page has ${page.length} rows, expected ${want.length}")
    else if (page.map(_._1).distinct.length != page.length) Some("page repeats a document")
    else page.zip(want).collectFirst {
      case ((d, s), (ed, es)) if !close(s, es) || (d != ed && !expScore.get(d).exists(close(_, s))) =>
        s"page row ($d, $s), expected ($ed, $es)"
    }
  }

  /** Check an unordered full result against the expected one. */
  def checkAll(exp: Ranked, got: Seq[(Long, Double)]): Option[String] = {
    val want = exp.toMap
    if (got.length != want.size) Some(s"${got.length} rows, expected ${want.size}")
    else if (got.map(_._1).distinct.length != got.length) Some("result repeats a document")
    else got.collectFirst {
      case (d, s) if !want.get(d).exists(close(_, s)) => s"row ($d, $s), expected ${want.get(d)}"
    }
  }
}
