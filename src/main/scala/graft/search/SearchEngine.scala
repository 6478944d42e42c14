package graft.search

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch search: the Spark restatement of the reference's
  * query lifecycle (`code/query/QueryMapred.java:207-239` +
  * `util/CorpusFetcher.java:73-118`): parse -> prune -> evaluate the
  * boolean algebra as joins -> rank -> paginate -> fetch docs -> snippet
  * and highlight. The reference's single-reducer evaluation becomes a
  * distributed join tree; pagination is a top-k with an offset, never a
  * global single-partition sort of the full result set.
  */
object SearchEngine {

  val PageSize = 10      // util/SearchResult.java:42
  val SnippetRange = 300 // util/CorpusFetcher.java:123

  /** Run a CNF query against a posting table, returning
    * `(doc_id, score)` ranked by score descending (doc_id ascending as a
    * deterministic tie-break — the reference's stable sort keeps docId
    * order on ties, `util/PostingList.java:160-166`).
    *
    * A top-level negated result (e.g. the query `not a`) resolves against
    * the corpus with a left-anti join — the universe the reference leaves
    * implicit (SURVEY.md §2.5); score 0 since negated docs carry none.
    *
    * `materializeSlice = false` keeps the pruned term slice LAZY instead
    * of localCheckpointing it: the right mode when `index` is an AT-REST
    * parquet posting table (the reference's persisted term-partitioned
    * index, `code/query/QueryMapred.java:126-162`) — each query leaf then
    * re-reads the index as its own `term IN (...)`-pushed scan, which the
    * term-range layout prunes to the query's files via footer min/max
    * stats, exactly the reference's query-time partition pruning. The
    * default (true) is for a DERIVED index, where laziness would re-run
    * the whole indexing pipeline per leaf.
    */
  def search(query: String, index: DataFrame, docs: DataFrame,
             stopWords: Set[String] = Set.empty,
             materializeSlice: Boolean = true): DataFrame = {
    val ast = new QueryParser(stopWords).parse(query.toLowerCase)
    val terms = QueryCompiler.leafTerms(ast)
    // Prune the index to the query's terms ONCE and materialize the
    // slice (the reference's mapper-side semi-filter, J8/X1): with a
    // parquet index this is a stats-pruned scan; with a lazily-derived
    // index it stops each query leaf from re-running the whole indexing
    // pipeline. localCheckpoint is eager, executor-resident, and
    // GC-cleaned once the query's DataFrames are unreferenced.
    val slice =
      if (terms.isEmpty) index.limit(0)
      else {
        val pruned = index.filter(col("term").isin(terms.distinct: _*))
          .select("term", "doc_id", "score", "positions")
        if (materializeSlice) pruned.localCheckpoint(true) else pruned
      }
    val stats = QueryCompiler.termStats(slice, terms)
    val node = QueryCompiler.compile(ast, slice, stats)
    val resolved = node.tpe match {
      case 0 => node.df.select(col("doc_id"), col("score"))
      case 1 => docs.select(col("doc_id"))
        .join(node.df.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(0.0).as("score"))
      case _ => node.df.select(col("doc_id"), col("score")).limit(0)
    }
    resolved.orderBy(desc("score"), asc("doc_id"))
  }

  /** Prefix query (`spar*` style — the Lucene-PrefixQuery extension the
    * reference's grammar lacks): expand the prefix against the INDEX's
    * term dictionary — no stemming of the prefix, standard
    * expanded-term semantics — and score each doc as the n-ary OR of
    * its matching terms (OR = sum, F5), with the distinct matched-term
    * count alongside.
    *
    * Built for the AT-REST index: `term.startsWith(prefix)` is a
    * `StringStartsWith` predicate Spark pushes into the parquet scan,
    * and on [[Indexer.writeIndex]]'s term-range-partitioned,
    * term-sorted layout the footer min/max stats prune every file
    * outside the `[prefix, prefix∞)` range — the same boundary-file
    * pruning the reference applies to point terms
    * (`code/query/QueryMapred.java:126-162`), extended to the RANGE
    * predicate class the range partitioning exists for. The group-by
    * shuffles only the pruned slice. The index has one row per
    * (term, doc), so `count(*)` is the distinct matched-term count.
    */
  def searchPrefix(prefix: String, index: DataFrame): DataFrame = {
    require(prefix.nonEmpty,
      "searchPrefix: empty prefix would scan and sum the whole index")
    index.filter(col("term").startsWith(prefix))
      .groupBy("doc_id")
      .agg(sum("score").as("score"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** Batch retrieval: evaluate N queries as one unioned plan, results
    * tagged by query string. The reference runs a full MapReduce job
    * per query (`code/query/QueryMapred.java`); here the batch shares
    * the (session-cached) index and evaluates in a single final job —
    * per-query COMPILATION still runs its own small jobs (the eager
    * slice materialization and the per-term stats fetch inside
    * [[search]]), so an N-query batch is ~2N planning jobs + 1
    * evaluation, not N full pipelines. An empty batch yields an empty
    * tagged result.
    */
  def searchMany(queries: Seq[String], index: DataFrame, docs: DataFrame,
                 stopWords: Set[String] = Set.empty): DataFrame =
    if (queries.isEmpty)
      docs.sparkSession.range(0)
        .select(lit("").as("query"), col("id").as("doc_id"), lit(0.0).as("score"))
    else
      queries.map(q =>
          search(q, index, docs, stopWords)
            .select(lit(q).as("query"), col("doc_id"), col("score")))
        .reduce(_ unionByName _)

  /** One result page (1-based `page`): rows `(page-1)*PageSize+1 ..
    * page*PageSize` of the ranking, planned as one TakeOrdered with an
    * offset, so only the top `page*PageSize` rows are ever sorted or
    * collected. Mirrors `SearchResult` paging + overflow clamp to the
    * last page (`util/SearchResult.java:33-46`, `util/CorpusFetcher
    * .java:88` — clamping is the caller's job here via `count`).
    */
  def page(ranked: DataFrame, page: Int): DataFrame =
    ranked.offset((page - 1) * PageSize).limit(PageSize)

  /** F7: HTML entity decode of the stored-HTML corpus variant
    * (`util/CorpusFetcher.java:255`).
    */
  def entityDecode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "&#60;", "<"), "&#62;", ">")

  /** F9: snippet extraction (`util/CorpusFetcher.java:120-194`): find the
    * up-to-3rd occurrence of each highlight word, open a +/-(300/k)-char
    * window around each hit, coalesce overlapping windows into intervals,
    * clamp to the content bounds, join with "...".
    */
  private[graft] def snippetOf(content: String, highlights: Seq[String]): String = {
    if (content == null) return null
    val lower = content.toLowerCase
    val hits = highlights.flatMap { h =>
      val i = ordinalIndexOf(lower, h, 3)
      if (i >= 0) Some(i) else None
    }.sorted
    if (hits.isEmpty)
      return (if (content.length < SnippetRange) content
              else content.substring(0, SnippetRange) + "...").replaceAll("\n", "")
    val wordRange = SnippetRange / hits.length
    val intervals = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < hits.length) {
      val curStart = hits(i) - wordRange / 2
      var curEnd = hits(i) + wordRange / 2
      while (i + 1 < hits.length && hits(i + 1) - wordRange / 2 < curEnd) {
        curEnd = hits(i + 1) + wordRange / 2
        i += 1
      }
      intervals += ((curStart, curEnd))
      i += 1
    }
    val sb = new StringBuilder
    for ((s0, e0) <- intervals.result()) {
      var s = s0; var e = e0
      if (s < 0) { e += -s; s = 0 }
      if (e > content.length - 1) {
        s -= e - content.length - 1
        if (s < 0) s = 0
        e = content.length - 1
      }
      if (s != 0) sb.append("...")
      sb.append(content.substring(s, e + 1))
      if (e != content.length - 1) sb.append("...")
    }
    sb.toString.replaceAll("\n", "")
  }

  /** F8: index of the min(n, occurrences)-th occurrence of `substr`
    * (`util/CorpusFetcher.java:230-238`).
    */
  private[search] def ordinalIndexOf(str: String, substr: String, n: Int): Int = {
    var last = -1
    var pos = str.indexOf(substr)
    var left = n
    while ({ left -= 1; left > 0 } && pos != -1) {
      last = pos
      pos = str.indexOf(substr, pos + 1)
    }
    if (pos == -1) last else pos
  }

  /** F10: wrap each highlight word (and its Capitalized form) in the
    * reference's yellow span (`util/CorpusFetcher.java:121-122,186-190`).
    * Words are quoted: `(data` or `c++` match literally, never as regex.
    */
  private[graft] def highlightWrap(text: String, highlights: Seq[String]): String = {
    val start = "<span style=\"background-color: #FFFF00\">"
    val end = "</span>"
    var result = text
    for (h <- highlights if h.nonEmpty) {
      val cap = h.substring(0, 1).toUpperCase + h.substring(1)
      for (w <- Seq(h, cap))
        result = result.replaceAll("\\b" + Pattern.quote(w) + "\\b",
          Matcher.quoteReplacement(start + w + end))
    }
    result
  }

  /** Page render as the native codegen'd [[graft.functions.SnippetHighlight]]
    * expression (NULL content -> NULL, same as the old closure UDF).
    */
  private def snippetCol(content: org.apache.spark.sql.Column,
                         highlights: Seq[String]): org.apache.spark.sql.Column =
    graft.functions.SnippetHighlight.of(content,
      array(highlights.map(lit): _*).cast("array<string>"))

  /** J9 + F8-F11: render one page against a STORED corpus `(doc_id,
    * content)` whose first line is the title (`util/CorpusFetcher
    * .java:106-107`; [[graft.sources.Corpus.fromDocuments]]): broadcast-join
    * the page (the reference's MapFile point-gets), split off the title,
    * snippet and highlight the body. `pageDf` is one page (at most
    * `PageSize` rows, as [[page]] returns), so the re-rank is a top-k: no
    * range exchange re-scanning the corpus. Returns `(doc_id, score, title,
    * snippet)`.
    */
  def renderCorpusPage(pageDf: DataFrame, corpus: DataFrame, query: String): DataFrame = {
    val highlights = QueryParser.highlightWords(query)
    val title = graft.sources.Corpus.titleOf(col("content"))
    val body = graft.sources.Corpus.bodyOf(col("content"))
    corpus.join(broadcast(pageDf), "doc_id")
      .select(col("doc_id"), col("score"), title.as("title"),
        snippetCol(body, highlights).as("snippet"))
      .orderBy(desc("score"), asc("doc_id")).limit(PageSize)
  }

  /** S8: point lookup of one document — pushdown predicate on the corpus
    * Parquet replaces the reference's MapFile get
    * (`util/CorpusFetcher.java:246-258`).
    */
  def fetchDoc(docs: DataFrame, docId: Long): DataFrame =
    docs.filter(col("doc_id") === docId)
      .select(col("doc_id"), entityDecode(col("text")).as("text"))
}
