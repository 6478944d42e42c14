package graft.search

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Cross-session query-result cache — the Spark restatement of the
  * reference's MapFile memo keyed by the lowercased query string
  * (`util/CorpusFetcher.java:24,31-71`, X2 in SURVEY.md §2.8).
  *
  * Layout: one parquet directory `(doc_id LONG, score DOUBLE)` per query,
  * `<path>/query=<escaped lowercased query>`; the `query=` prefix keeps a
  * query such as `.`, `..` or `_x` from naming a special path. A probe
  * touches only its own directory and starts no Spark job. Within a
  * session, `SparkEntry`'s persisted index makes recomputation cheap;
  * this memo is for the reference-parity cross-process case.
  */
final class QueryCache(spark: SparkSession, path: String) {

  private val Schema = new StructType().add("doc_id", LongType).add("score", DoubleType)

  private def entry(query: String): Path =
    new Path(path, "query=" + escapePathName(query.toLowerCase))

  /** Probe: None unless the query's entry was completely written (its
    * `_SUCCESS` marker exists — an overwrite in progress or a crashed
    * write reads as a miss). A hit comes back re-ranked (score desc,
    * doc_id asc) — parquet read order is not the write order, and
    * callers ([[SearchEngine.page]]) rely on the ranked contract.
    */
  def get(query: String): Option[DataFrame] = {
    val dir = entry(query)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) None
    else Some(spark.read.schema(Schema).parquet(dir.toString)
      .orderBy(desc("score"), asc("doc_id")))
  }

  /** Store a ranked result, replacing any earlier entry for the query;
    * an empty result is stored like any other. (Two writers committing
    * the SAME query at the same instant race on its directory —
    * acceptable for a memo whose entries are recomputable.)
    */
  def put(query: String, ranked: DataFrame): Unit =
    ranked.select(col("doc_id").cast(LongType), col("score").cast(DoubleType))
      .write.mode("overwrite").parquet(entry(query).toString)

  /** Memoized search: probe, else evaluate via [[SearchEngine.search]],
    * store and read back — the reference's `isInCache` /
    * `writeQueryToCache` flow (`code/query/QueryMapred.java:224-236`).
    */
  def searchCached(query: String, index: DataFrame, docs: DataFrame,
                   stopWords: Set[String] = Set.empty): DataFrame =
    get(query).getOrElse {
      put(query, SearchEngine.search(query, index, docs, stopWords))
      get(query).get
    }
}
