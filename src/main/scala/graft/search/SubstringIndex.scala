package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trigram substring index: makes `LIKE '%needle%'` an index probe
  * instead of a full corpus scan — the pg_trgm / code-search design
  * (public: PostgreSQL pg_trgm, Google Code Search trigram paper).
  *
  * Build: every document contributes its distinct lowercase character
  * n-grams → a `(gram, doc_id)` posting table, written like the term
  * index (range-partitioned by gram, min/max footer stats prune
  * probes). Corpus-linear size, one shuffle to build.
  *
  * Query: a literal needle of length >= n REQUIRES each of its
  * consecutive n-grams, so candidates = docs containing ALL of them —
  * a broadcast semi-join of the (tiny) needle-gram set against the
  * posting table + a per-doc gram count, then ONE exact
  * `contains` verify over just the candidate rows. At 100 TB the
  * expensive scan happens once at build; a probe touches the needle's
  * gram partitions and verifies a candidate set that rare trigrams
  * have already cut to near the true answer. Needles shorter than n
  * have no gram to require — that IS a corpus scan, and `search`
  * falls back to one explicitly rather than pretending to prune.
  */
object SubstringIndex {

  /** Gram width n: trigrams, the pg_trgm choice. */
  val GramWidth = 3

  /** Distinct lowercase n-gram postings `(gram, doc_id)`. Sliding
    * windows are generated map-side (`transform` over an index
    * `sequence` — codegen'd, no UDF); `array_distinct` collapses
    * within-doc repeats BEFORE the explode so the shuffle carries each
    * (doc, gram) once, not once per occurrence.
    */
  def trigramPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("__t"))
      .select(col("doc_id"),
        explode(array_distinct(when(length(col("__t")) >= GramWidth,
            expr(s"transform(sequence(1, length(__t) - ${GramWidth - 1}), " +
              s"i -> substring(__t, i, $GramWidth))"))
          .otherwise(array().cast("array<string>")))).as("gram"))

  /** The needle's required gram set (consecutive windows, deduped).
    * Empty when the needle is shorter than n.
    */
  def requiredGrams(needle: String): Seq[String] =
    needle.toLowerCase.sliding(GramWidth).filter(_.length == GramWidth).toSeq.distinct

  /** Candidate doc ids: contain ALL required grams. The gram set is
    * needle-sized — always broadcast; the posting join partial-
    * aggregates per doc before the count check.
    */
  def candidates(postings: DataFrame, needle: String): DataFrame = {
    val grams = requiredGrams(needle)
    require(grams.nonEmpty,
      s"needle '$needle' is shorter than the gram width $GramWidth — no gram to " +
        "require; use SubstringIndex.search, which scan-falls-back explicitly")
    withAllGrams(postings, grams)
  }

  /** Doc ids whose postings hold every gram of `grams` (non-empty). */
  private def withAllGrams(postings: DataFrame, grams: Seq[String]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.join(broadcast(grams.toDF("gram")), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.size)
      .select("doc_id")
  }

  /** Exact substring search: candidate probe + `contains` verify, or
    * an explicit corpus scan when the needle is too short to index.
    * Output is exactly the brute-force `LIKE '%needle%'` row set.
    */
  def search(docs: DataFrame, postings: DataFrame, needle: String): DataFrame = {
    val verified =
      if (requiredGrams(needle).isEmpty) docs
      else docs.join(candidates(postings, needle), "doc_id")
    verified
      .filter(contains(lower(col("text")), lit(needle.toLowerCase)))
      .select(col("doc_id"))
  }

  /** Incremental index maintenance — the substring sibling of the term
    * index's `incrementalPostings`: fold a batch of new or re-ingested
    * documents into an existing posting table WITHOUT re-gramming the
    * corpus. The batch's doc ids are anti-joined out of the existing
    * postings (an update replaces the doc's grams; for a brand-new id
    * the anti-join is a no-op), then the batch's own postings union
    * in. Because [[trigramPostings]] emits each (doc, gram) exactly
    * once with no cross-doc state, postings are a disjoint per-doc
    * union — so the merge is EXACTLY the full rebuild over
    * (old \ batch) ∪ batch, proven by the merge-equals-rebuild spec.
    * At 100 TB an append re-grams only the batch and streams the
    * existing index through one anti-join (batch id set broadcast-
    * sized); nothing corpus-sized shuffles.
    */
  def mergePostings(existing: DataFrame, newDocs: DataFrame): DataFrame = {
    val newIds = newDocs.select("doc_id").distinct()
    existing.join(newIds, Seq("doc_id"), "left_anti")
      .unionByName(trigramPostings(newDocs))
  }

  /** At-rest incremental maintenance: read the existing index, merge
    * the batch ([[mergePostings]]), write the result to a FRESH path
    * in the same range-partitioned layout — same atomic-swap contract
    * as [[graft.ops.Maintenance.compactParquet]] (never overwrite the
    * directory being probed).
    */
  def mergeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 outPath: String, newDocs: DataFrame,
                 numFiles: Int = 64): Unit =
    writeIndex(mergePostings(spark.read.parquet(path), newDocs),
      outPath, numFiles)

  /** Write the posting table at rest, range-partitioned and sorted by
    * gram — the same layout contract as the term index
    * ([[Indexer]] writeIndex): each parquet file covers a narrow gram
    * range, so its footer min/max statistics prune probes down to the
    * needle's gram files. Build once, probe forever.
    */
  def writeIndex(postings: DataFrame, path: String, numFiles: Int = 64): Unit =
    postings.repartitionByRange(numFiles, col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(path)

  /** Probe the at-rest index: the needle's gram set becomes an
    * `IN`-filter that REACHES THE SCAN (PushedFilters + min/max file
    * pruning — asserted by spec), so a probe reads only the gram
    * files it needs, never the whole index. Same all-grams-required
    * candidate semantics as [[candidates]].
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 needle: String): DataFrame = {
    val grams = requiredGrams(needle)
    require(grams.nonEmpty,
      s"needle '$needle' is shorter than the gram width $GramWidth")
    spark.read.parquet(path)
      .filter(col("gram").isin(grams: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.size)
      .select("doc_id")
  }

  /** `LIKE`-pattern search over the same index: `%`-wildcard patterns
    * (e.g. `%merge%batch%`) probe with the union of every literal
    * segment's required grams — each segment must appear somewhere, so
    * ALL segment grams are required — then one `like` verify on the
    * candidates enforces order and adjacency. BOTH wildcards break a
    * literal segment: `_` matches any one character, so the literal
    * runs around it (`a_c` → `a`, `c`) are what must appear verbatim —
    * treating `_` as a gram character would demand the three-char
    * gram `a_c` literally and silently drop true matches. Segments
    * shorter than the gram width contribute no grams; if NO segment
    * is indexable the probe degenerates to the explicit scan, same
    * policy as [[search]]. The pattern must carry its own leading/
    * trailing `%` if substring (not whole-string) semantics are
    * wanted — this is SQL LIKE, verbatim. Escape sequences are NOT
    * supported (`\` in the pattern is rejected): the gram deriver
    * would read an escaped wildcard as a wildcard while the `like`
    * verify reads it as a literal, and the two must agree.
    */
  def searchLike(docs: DataFrame, postings: DataFrame, pattern: String): DataFrame = {
    require(!pattern.contains("\\"),
      s"LIKE pattern '$pattern' contains an escape character — escape " +
        "sequences are not supported by the trigram probe")
    val lowered = pattern.toLowerCase
    val grams = lowered.split(Array('%', '_')).filter(_.nonEmpty).toSeq
      .flatMap(requiredGrams).distinct
    val verified =
      if (grams.isEmpty) docs
      else docs.join(withAllGrams(postings, grams), "doc_id")
    verified.filter(lower(col("text")).like(lowered)).select(col("doc_id"))
  }
}
