package graft.search

/** Paginated result-set model + string codec — reference
  * `util/SearchResult.java:23-46,82-121`: total hit count plus doc ids
  * chunked into pages of 10; serialized as
  * `count;id,id,...;id,id,...` (`;` between pages, `,` within).
  */
final case class SearchResult(count: Int, pages: Vector[Vector[Long]]) {

  /** Page lookup with the reference's overflow clamp to the last page
    * (`util/CorpusFetcher.java:88`); 1-based.
    */
  def page(n: Int): Vector[Long] =
    if (pages.isEmpty) Vector.empty
    else if (n > pages.length) pages.last
    else pages(n - 1)

  def encode: String =
    (count.toString +: pages.map(_.mkString(","))).mkString(";")
}

object SearchResult {
  def fromRanked(count: Int, docIds: Seq[Long]): SearchResult =
    SearchResult(count, docIds.grouped(SearchEngine.PageSize).map(_.toVector).toVector)

  def decode(s: String): SearchResult = {
    val parts = s.split(";")
    SearchResult(parts(0).toInt,
      parts.drop(1).toVector.map(p =>
        if (p.isEmpty) Vector.empty[Long] else p.split(",").toVector.map(_.toLong)))
  }
}
