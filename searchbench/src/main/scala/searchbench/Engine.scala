package searchbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Indexer, QueryCache, QueryCompiler, QueryParser, SearchEngine}
import graft.sources.{Corpus, XmlScan}

/** The calls the workloads make into the engine, each under the span of
  * the layer it exercises, and the checks of their results. Only public
  * functions of the engine are used, the way the `graft.IndexBuild` and
  * `graft.Search` command-line programs use them.
  */
final class Engine(val spark: SparkSession, var tracer: Tracer, val root: String) {

  val indexRoot: String = s"$root/index/"
  val corpusRoot: String = s"$root/corpus/"

  def pages(xml: Seq[String]): DataFrame =
    XmlScan.parsePages(spark.read.option("lineSep", "</page>").text(xml: _*))

  /** The reference pipeline: `<page>` XML -> stored corpus -> stop words ->
    * positional TF-IDF postings -> range-partitioned index. Returns the
    * (unstemmed) stop-word list.
    */
  def build(xml: String, corpusDir: String, indexDir: String): Seq[String] = {
    val p = pages(Seq(xml))
    tracer.span("corpus.write") {
      Corpus.split(p, "text").write.mode("overwrite").parquet(corpusDir)
    }
    val docs = p.select("doc_id", "text")
    val sw = tracer.span("indexer.stopwords")(Indexer.stopWordList(docs, Gen.StopWordCount))
    tracer.span("indexer.write")(Indexer.writeIndex(Indexer.postings(docs, sw), indexDir))
    sw
  }

  /** One append batch: new postings from the old index's own
    * `(term, doc_id, tf, positions)` plus the batch, written as a new version.
    */
  def refresh(oldIndex: String, oldDocCount: Long, batchXml: String,
              sw: Seq[String], newIndex: String): Unit =
    tracer.span("indexer.incremental") {
      val old = Indexer.readIndex(spark, oldIndex).select("term", "doc_id", "tf", "positions")
      val fresh = pages(Seq(batchXml)).select("doc_id", "text")
      Indexer.writeIndex(Indexer.incrementalPostings(old, oldDocCount, fresh, sw), newIndex)
    }

  import Engine.Reply

  private def render(ranked: DataFrame, query: String): Reply = {
    val total = tracer.span("engine.count")(ranked.count())
    val rows = tracer.span("engine.render") {
      SearchEngine.renderCorpusPage(SearchEngine.page(ranked, 1), corpus, query).collect()
    }
    val renderOk = rows.forall(r => r.getString(2) == s"doc-${r.getLong(0)}" && r.getString(3) != null)
    Reply(total, rows.map(r => (r.getLong(0), r.getDouble(1))).toVector, renderOk)
  }

  var index: DataFrame = _
  var corpus: DataFrame = _
  var stopWords: Set[String] = Set.empty

  def open(indexDir: String, corpusDir: String, sw: Seq[String]): Unit = {
    index = Indexer.readIndex(spark, indexDir)
    corpus = spark.read.parquet(corpusDir)
    stopWords = QueryParser.stemmedStopWords(sw)
  }

  def parse(q: Gen.Query): graft.search.QueryAst.And =
    new QueryParser(stopWords).parse(q.text.toLowerCase)

  /** What the `graft.Search` program does for one query, against the
    * at-rest index: search -> count -> page 1 -> render.
    */
  def search(q: Gen.Query): Reply = {
    val ranked =
      if (q.isPrefix) tracer.span("engine.search_prefix")(SearchEngine.searchPrefix(q.text, index))
      else {
        tracer.span("parser.parse")(QueryCompiler.leafTerms(parse(q)))
        tracer.span("engine.search") {
          SearchEngine.search(q.text, index, corpus, stopWords, materializeSlice = false)
        }
      }
    render(ranked, q.text)
  }

  def searchCached(cache: QueryCache, q: Gen.Query): Reply = {
    val ranked = tracer.span("cache.search_cached")(cache.searchCached(q.text, index, corpus, stopWords))
    render(ranked, q.text)
  }

  /** `searchMany` over a batch; the full tagged result, grouped by query. */
  def searchMany(qs: Seq[Gen.Query]): Map[String, Seq[(Long, Double)]] = {
    val plan = tracer.span("engine.batch_plan")(SearchEngine.searchMany(qs.map(_.text), index, corpus, stopWords))
    val rows = tracer.span("engine.batch_eval")(plan.collect())
    rows.toSeq.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(r => (r.getLong(1), r.getDouble(2))) }
  }

  // ---- checks (never timed) ----

  private lazy val allDocs: Seq[Long] = corpus.select("doc_id").collect().map(_.getLong(0)).toSeq
  private val expectedCache = scala.collection.mutable.Map.empty[Gen.Query, Oracle.Ranked]

  /** Compute the expected results of `qs` from ONE collected slice of the
    * index holding every term (and prefix) they mention.
    */
  def expectAll(qs: Seq[Gen.Query]): Unit = {
    val todo = qs.distinct.filterNot(expectedCache.contains)
    val (prefixes, boolean) = todo.partition(_.isPrefix)
    val asts = boolean.map(q => q -> parse(q))
    val terms = asts.flatMap { case (_, a) => QueryCompiler.leafTerms(a) }.distinct
    val term = col("term")
    val conds = (if (terms.isEmpty) Nil else Seq(term.isin(terms: _*))) ++ prefixes.map(p => term.startsWith(p.text))
    val rows = if (conds.isEmpty) Nil else slice(index.filter(conds.reduce(_ || _)))
    val byTerm = rows.groupBy(_.term)
    for ((q, ast) <- asts) {
      val own = QueryCompiler.leafTerms(ast).distinct.flatMap(t => byTerm.getOrElse(t, Nil))
      expectedCache(q) = Oracle.expected(ast, Oracle.postingIndex(own), allDocs)
    }
    for (p <- prefixes) expectedCache(p) = Oracle.expectedPrefix(rows.filter(_.term.startsWith(p.text)))
  }

  /** Full expected result of a query, from the collected slice of its terms. */
  def expected(q: Gen.Query): Oracle.Ranked = {
    expectAll(Seq(q))
    expectedCache(q)
  }

  private def slice(df: DataFrame): Seq[Oracle.Row] =
    df.select("term", "doc_id", "score", "positions").collect().toSeq.map { r =>
      Oracle.Row(r.getString(0), r.getLong(1), r.getDouble(2), r.getSeq[Int](3))
    }

  /** None when a request succeeded with the expected reply, else why not. */
  def check(q: Gen.Query, r: Either[String, Reply]): Option[String] = r match {
    case Left(error) => Some(error)
    case Right(rep) if !rep.renderOk => Some("rendered page lacks its title or snippet")
    case Right(rep) => Engine.attempt(Oracle.checkPage(expected(q), rep.count, rep.page)).fold(Some(_), identity)
  }

  /** Compare a refreshed index with a full rebuild over the same documents
    * and stop words: row count, a `(term, doc_id, tf, df)` checksum, and the
    * largest score difference.
    */
  def checkRefresh(refreshed: String, xml: Seq[String], sw: Seq[String]): Option[String] = {
    val key = Seq("term", "doc_id")
    val a = Indexer.readIndex(spark, refreshed).select("term", "doc_id", "tf", "df", "score")
    val b = Indexer.postings(pages(xml).select("doc_id", "text"), sw)
      .select("term", "doc_id", "tf", "df", "score").localCheckpoint()
    // 32-bit hash slices summed as longs: order-independent and, unlike a
    // sum of 64-bit hashes, free of overflow under ANSI arithmetic
    def digest(df: DataFrame) = df.agg(count(lit(1)),
        sum(xxhash64(col("term"), col("doc_id"), col("tf"), col("df")).bitwiseAND(0xFFFFFFFFL)))
      .collect().head
    val (da, db) = (digest(a), digest(b))
    val joined = a.as("a").join(b.as("b"), key, "full_outer")
      .agg(sum(when(col("a.score").isNull || col("b.score").isNull, 1).otherwise(0)),
           max(abs(col("a.score") - col("b.score")))).collect().head
    val maxDelta = if (joined.isNullAt(1)) 0.0 else joined.getDouble(1)
    if (da.getLong(0) != db.getLong(0)) Some(s"refreshed index has ${da.getLong(0)} rows, rebuild ${db.getLong(0)}")
    else if (da.getLong(1) != db.getLong(1)) Some("(term, doc_id, tf, df) checksum differs from the rebuild")
    else if (joined.getLong(0) != 0) Some(s"${joined.getLong(0)} postings on one side only")
    else if (!(maxDelta <= 1e-9)) Some(s"max |score difference| $maxDelta")
    else None
  }
}

object Engine {
  /** What one interactive request returns: hit count and the rendered first page. */
  final case class Reply(count: Long, page: Vector[(Long, Double)], renderOk: Boolean)

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("searchbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body`; an exception becomes a failure message, never a timing. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  /** Bytes and files under a directory; parquet footers give row groups and rows. */
  final case class DiskStats(files: Long, bytes: Long, rowGroups: Long, rows: Long)

  def diskStats(dir: String): DiskStats = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(new File(dir)).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val conf = new org.apache.hadoop.conf.Configuration()
    var groups = 0L
    var rows = 0L
    for (f <- data if f.getName.endsWith(".parquet")) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
      try {
        val blocks = r.getFooter.getBlocks
        groups += blocks.size
        blocks.forEach(b => rows += b.getRowCount)
      } finally r.close()
    }
    DiskStats(data.length, data.map(_.length).sum, groups, rows)
  }

  def leafDirs(dir: String): Long = {
    def walk(f: File): Long = {
      val subs = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
      if (subs.isEmpty) 1L else subs.map(walk).sum
    }
    if (new File(dir).isDirectory) walk(new File(dir)) else 0L
  }
}
