package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus materialization with the reference's `corpus_type` flag and
  * title-as-first-line storage convention.
  *
  * The reference's corpus-split job stores, per document, either the
  * cleaned plain string or the renderable HTML variant depending on the
  * `corpus_type` conf (`code/corpus/CorpusSplitMapred.java:32,41,48-50`:
  * ctype 0 = `getContent()`, 1 = `getDisplayContent()`), and the stored
  * record's FIRST LINE is the page title — the fetcher splits it back out
  * at render time (`util/CorpusFetcher.java:106-107`). The HTML variant
  * keeps `<`/`>` entity-encoded on disk; `getFile` decodes them when
  * serving (`util/CorpusFetcher.java:246-258`).
  *
  * Spark restatement: one projection per corpus type over the parsed
  * page table `(doc_id, title, text)` — both lazily derived from the
  * same scan, so a pipeline materializing both pays one read.
  */
object Corpus {

  /** Build the stored corpus `(doc_id, content)` from parsed pages.
    *
    * @param corpusType "text" (ctype 0: cleaned string, entities decoded)
    *                   or "html" (ctype 1: displayable variant — entities
    *                   stay encoded on disk, decoded at serve time).
    */
  def split(pages: DataFrame, corpusType: String): DataFrame = {
    val body = corpusType match {
      case "html" => col("text")
      case _      => graft.search.SearchEngine.entityDecode(col("text"))
    }
    pages.select(col("doc_id"),
      concat(col("title"), lit("\n"), body).as("content"))
  }

  /** The stored text corpus of a documents table: records titled
    * `doc-<id>` (the dump convention the XML path yields), split as ctype 0.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    split(docs.select(col("doc_id"),
      concat(lit("doc-"), col("doc_id")).as("title"), col("text")), "text")

  /** First line of a stored record = the title
    * (`util/CorpusFetcher.java:106`).
    */
  def titleOf(content: Column): Column = substring_index(content, "\n", 1)

  /** Everything after the first line = the page body
    * (`util/CorpusFetcher.java:107` keeps the `\n` prefix; we drop it).
    */
  def bodyOf(content: Column): Column =
    substring(content, length(titleOf(content)) + 2, lit(Int.MaxValue))

  /** Serve a stored HTML record: entity decode at read time, the
    * reference's `getFile` fix-up (`util/CorpusFetcher.java:255`).
    */
  def serve(content: Column): Column =
    graft.search.SearchEngine.entityDecode(content)
}
