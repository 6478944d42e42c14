package searchbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.search.QueryCache

/** Benchmark entry point. Runs one workload for one seed and prints, as its
  * last stdout line, `{"correct", "attempted", "failed", "metrics"}`:
  * end-to-end metrics untraced (`--trace 0`), per-layer metrics from a
  * separate traced pass (`--trace 1`). METRICS.md describes every metric.
  *
  * Usage: `Main --workload build|search|search_cached --seed N --seconds S
  * --trace 0|1 --workdir DIR --out FILE --cores C`
  */
object Main {

  /** Generator parameters of each workload. */
  val Specs: Map[String, Gen.Spec] = Map(
    "build" -> Gen.Spec(docs = 4000, batches = 12, batchDocs = 200, tokensPerDoc = 200, vocab = 50000, zipfS = 1.0),
    "search" -> Gen.Spec(docs = 4000, batches = 0, batchDocs = 0, tokensPerDoc = 200, vocab = 50000, zipfS = 1.0),
    "search_cached" -> Gen.Spec(docs = 4000, batches = 0, batchDocs = 0, tokensPerDoc = 200, vocab = 50000, zipfS = 1.0))

  /** Share of the run the search workload spends on single requests; the
    * rest goes to the `searchMany` batch phase over the same queries.
    */
  val SequentialShare = 0.75
  val BatchSize = 6
  /** Classes of the cached workload's queries, all drawn from head terms so
    * every one has hits and is stored. One request in `CacheNewEvery` asks a
    * new query (a miss); the median request is a hit.
    */
  val CacheClasses = Vector("term", "or3", "phrase2")
  val CacheNewEvery = 4
  val MinRefreshes = 3
  val WarmDocs = 500
  val WarmBatchDocs = 100
  val WarmRefreshes = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "index_bytes_per_text_byte" -> "ratio", "peak_rss_mb" -> "MB")

  private val PerRequest: Seq[(String, String)] = Seq(
    "parser.parse_us" -> "us", "compiler.term_stats_ms" -> "ms",
    "engine.plan_ms" -> "ms", "engine.eval_ms" -> "ms", "engine.render_ms" -> "ms",
    "engine.posting_rows_read" -> "count", "engine.index_bytes_read" -> "bytes",
    "engine.shuffle_bytes" -> "bytes", "engine.corpus_rows_read" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "driver.gap_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.parse_ms" -> "ms", "analyzer.tokenize_ms" -> "ms", "analyzer.tokens" -> "count",
    "indexer.stopwords_ms" -> "ms", "indexer.stats_ms" -> "ms", "indexer.score_ms" -> "ms",
    "indexer.write_ms" -> "ms", "indexer.incremental_ms" -> "ms",
    "indexer.shuffle_bytes" -> "bytes", "indexer.spill_bytes" -> "bytes",
    "index.files" -> "count", "index.row_groups" -> "count", "index.rows" -> "count",
    "index.bytes" -> "bytes") ++
    PerRequest ++ PerRequest.map { case (n, u) => s"$n.total" -> u } ++ Seq(
    "engine.batch_plan_ms" -> "ms", "engine.batch_eval_ms" -> "ms", "engine.batch_qps" -> "1/s",
    "cache.hit_ratio" -> "ratio", "cache.hit_ms" -> "ms", "cache.miss_ms" -> "ms",
    "cache.bytes" -> "bytes", "cache.partitions" -> "count",
    "spark.unattributed_jobs" -> "count",
    "trace.op_p50_ms_delta" -> "ms",
    "trace.throughput_per_s_delta" -> "1/s", "trace.build_s_delta" -> "s")

  /** One timed pass of a workload. `ops` are the latencies (ms) of its
    * successful timed operations: requests, or append batches for `build`.
    * Throughput counts documents indexed per second for `build` (full
    * build plus append batches) and requests answered per second otherwise.
    */
  final case class Pass(ops: Vector[Double], loopS: Double, buildS: Double, throughput: Double,
                        batchQueries: Int, batchS: Double,
                        attempted: Long, failures: Vector[String],
                        hits: Vector[Boolean], indexDir: String, stopWords: Seq[String] = Nil) {
    def p50: Double = Stats.median(ops)
    def tail: Stats.Tail = Stats.tail(ops)
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- workloads ----

  /** Files the generator wrote: base corpus, a warm-up slice of it with one
    * warm-up append batch, and the timed append batches.
    */
  final case class Inputs(corpus: Gen.Corpus, base: String, warm: String, warmBatch: String,
                          batches: Vector[String], baseTextBytes: Long)

  def generate(spec: Gen.Spec, seed: Long, dir: String): Inputs = {
    val c = Gen.corpus(spec, seed)
    new File(dir).mkdirs()
    val (b0, b1) = c.baseRange
    val baseBytes = c.writeXml(s"$dir/base.xml", b0, b1)
    c.writeXml(s"$dir/warm.xml", 1, WarmDocs + 1)
    c.writeXml(s"$dir/warm-batch.xml", WarmDocs + 1, WarmDocs + WarmBatchDocs + 1)
    val batches = Vector.tabulate(spec.batches) { k =>
      val (f, u) = c.batchRange(k)
      c.writeXml(s"$dir/batch-$k.xml", f, u)
      s"$dir/batch-$k.xml"
    }
    Inputs(c, s"$dir/base.xml", s"$dir/warm.xml", s"$dir/warm-batch.xml", batches, baseBytes)
  }

  def buildPass(e: Engine, in: Inputs, pass: String, seconds: Double): Pass = {
    val spec = in.corpus.spec
    def idx(k: Int) = s"${e.indexRoot}$pass/v$k"
    val failures = Vector.newBuilder[String]
    val t0 = System.nanoTime()
    val built = Engine.attempt(e.tracer.op("build")(e.build(in.base, s"${e.corpusRoot}$pass", idx(0))))
    val buildS = elapsedS(t0)
    val sw = built.fold(f => { failures += s"build: $f"; Seq.empty[String] }, identity)
    val lat = Vector.newBuilder[Double]
    val t1 = System.nanoTime()
    var k = 0
    var ok = built.isRight
    while (ok && k < spec.batches && (k < MinRefreshes || elapsedS(t0) < seconds)) {
      val ts = System.nanoTime()
      Engine.attempt(e.tracer.op("refresh") {
        e.refresh(idx(k), spec.docs.toLong + k * spec.batchDocs, in.batches(k), sw, idx(k + 1))
      }) match {
        case Right(_) => lat += (System.nanoTime() - ts) / 1e6; k += 1
        case Left(f)  => failures += s"refresh $k: $f"; ok = false
      }
    }
    val loopS = elapsedS(t1)
    val attempted = 1L + k + (if (ok) 0 else 1)
    if (ok) {
      Engine.attempt(e.tracer.excluded(e.checkRefresh(idx(k), in.base +: in.batches.take(k), sw))) match {
        case Right(None)    =>
        case Right(Some(m)) => (1 to k).foreach(i => failures += s"refresh $i: $m")
        case Left(f)        => failures += s"refresh check: $f"
      }
      if (sw.length != Gen.StopWordCount) failures += s"build: ${sw.length} stop words"
    }
    val indexed = if (built.isRight) spec.docs + k * spec.batchDocs else 0
    Pass(lat.result(), loopS, buildS, indexed / (buildS + loopS), 0, 0.0, attempted, failures.result(),
      Vector.empty, idx(k), sw)
  }

  def searchPass(e: Engine, in: Inputs, seed: Long, pass: Int, seconds: Double): Pass = {
    val qs = Gen.queries(in.corpus, seed, pass)
    val replies = mutable.ArrayBuffer.empty[(Gen.Query, Either[String, Engine.Reply])]
    val lat = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (elapsedS(t0) < SequentialShare * seconds) {
      val q = qs.of(Gen.Classes(i % Gen.Classes.length))
      val ts = System.nanoTime()
      val r = Engine.attempt(e.tracer.op("request")(e.search(q)))
      if (r.isRight) lat += (System.nanoTime() - ts) / 1e6
      replies += q -> r
      i += 1
    }
    val loopS = elapsedS(t0)
    val batchable = replies.collect { case (q, Right(_)) if !q.isPrefix => q }.toVector
    val batches = batchable.grouped(BatchSize).filter(_.length == BatchSize).toVector
    val tb = System.nanoTime()
    val batchOut = batches.map(b => b -> Engine.attempt(e.tracer.op("batch")(e.searchMany(b))))
    val batchS = elapsedS(tb)

    val failures = e.tracer.excluded {
      Engine.attempt(e.expectAll(replies.map(_._1).toSeq))
      val single = replies.flatMap { case (q, r) => e.check(q, r).map(m => s"search '${q.text}': $m") }
      val many = for ((b, r) <- batchOut; q <- b) yield r match {
        case Left(error) => Some(error)
        case Right(rows) => Engine.attempt(Oracle.checkAll(e.expected(q), rows.getOrElse(q.text, Nil))).fold(Some(_), identity)
      }
      single ++ many.zip(batches.flatten).collect { case (Some(m), q) => s"searchMany '${q.text}': $m" }
    }
    val ops = lat.result()
    Pass(ops, loopS, 0.0, ops.length / loopS, batches.map(_.length).sum, batchS,
      replies.length.toLong + batches.map(_.length).sum, failures.toVector, Vector.empty, "")
  }

  def cachedPass(e: Engine, in: Inputs, seed: Long, pass: Int, seconds: Double): Pass = {
    val fresh = Gen.queries(in.corpus, seed, 5 + pass, headOnly = true)
    val pool = mutable.ArrayBuffer.empty[Gen.Query]
    val sequence = Gen.cacheSequence(10000, CacheNewEvery, seed, pass)
    val cache = new QueryCache(e.spark, s"${e.root}/cache/$pass")
    val seen = mutable.Set.empty[String]
    val replies = mutable.ArrayBuffer.empty[(Gen.Query, Boolean, Either[String, Engine.Reply])]
    val lat = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (elapsedS(t0) < seconds) {
      if (sequence(i) == pool.length) pool += fresh.of(CacheClasses(pool.length % CacheClasses.length))
      val q = pool(sequence(i))
      val ts = System.nanoTime()
      val r = Engine.attempt(e.tracer.op("request")(e.searchCached(cache, q)))
      if (r.isRight) lat += (System.nanoTime() - ts) / 1e6
      replies += ((q, seen(q.text), r))
      seen += q.text
      i += 1
    }
    val loopS = elapsedS(t0)
    val (failures, hits) = e.tracer.excluded {
      Engine.attempt(e.expectAll(replies.map(_._1).toSeq))
      val failures = replies.flatMap { case (q, _, r) => e.check(q, r).map(m => s"cached '${q.text}': $m") }
      // an empty result is never stored, so a repeat of it is a miss
      (failures.toVector, replies.map { case (q, again, _) => again && e.expected(q).nonEmpty }.toVector)
    }
    val ops = lat.result()
    Pass(ops, loopS, 0.0, ops.length / loopS, 0, 0.0, replies.length.toLong, failures, hits, "")
  }

  // ---- per-layer metrics of a traced pass ----

  def layerMetrics(workload: String, e: Engine, l: SpanListener, traced: Pass, untraced: Pass,
                   indexDir: String, extra: Map[String, Double]): Map[String, Double] = {
    val t = e.tracer
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def wall(name: String): Double = t.named(name).map(_.wallMs).sum
    val ops = t.named(if (workload == "build") "refresh" else "request")
    def in(op: Span, names: String*): Seq[Span] = t.subtree(op).filter(s => names.contains(s.name))
    def incl(s: Span): Counters = t.inclusive(s, l)
    val perRequest: Map[String, Span => Double] = Map(
      "parser.parse_us" -> (op => in(op, "parser.parse").map(_.wallMs * 1000).sum),
      "compiler.term_stats_ms" -> (op => in(op, "engine.search").map(s => l.countersOf(s.id).jobMs.toDouble).sum),
      "engine.plan_ms" -> (op => in(op, "engine.search", "engine.search_prefix").map(_.wallMs).sum),
      "engine.eval_ms" -> (op => in(op, "engine.count").map(_.wallMs).sum),
      "engine.render_ms" -> (op => in(op, "engine.render").map(_.wallMs).sum),
      "engine.posting_rows_read" -> (op => incl(op).postingRows.toDouble),
      "engine.index_bytes_read" -> (op => incl(op).indexBytes.toDouble),
      "engine.shuffle_bytes" -> (op => incl(op).shuffleBytes.toDouble),
      "engine.corpus_rows_read" -> (op => incl(op).corpusRows.toDouble),
      "spark.jobs" -> (op => incl(op).jobs.toDouble),
      "spark.stages" -> (op => incl(op).stages.toDouble),
      "spark.tasks" -> (op => incl(op).tasks.toDouble),
      "spark.job_ms" -> (op => incl(op).jobMs.toDouble),
      "driver.gap_ms" -> (op => t.driverGapMs(op, l)),
      "spark.executor_cpu_ms" -> (op => incl(op).cpuNs / 1e6),
      "spark.gc_ms" -> (op => incl(op).gcMs.toDouble))
    val roots = t.spans.filter(_.parent == 0).toSeq
    val requestMetrics = PerRequest.flatMap { case (n, _) =>
      val runtime = n.startsWith("spark.") || n.startsWith("driver.")
      val f = perRequest(n)
      // the build workload runs no query layer; its runtime metrics are per append batch
      if (!runtime && workload == "build") Seq(n -> 0.0, s"$n.total" -> 0.0)
      else Seq(n -> med(ops.map(f)), s"$n.total" -> (if (runtime) roots else ops).map(f).sum)
    }
    val builds = t.named("build") ++ t.named("refresh")
    val batches = t.named("batch")
    val hitMs = ops.zip(traced.hits).collect { case (op, true) => in(op, "cache.search_cached").map(_.wallMs).sum }
    val missMs = ops.zip(traced.hits).collect { case (op, false) => in(op, "cache.search_cached").map(_.wallMs).sum }
    val index = Engine.diskStats(indexDir)
    val cacheDir = s"${e.root}/cache/2"
    val parse = wall("sources.parse")
    val tokenize = wall("analyzer.tokenize")
    val stats = wall("indexer.stats")
    def delta(f: Pass => Double): Double = if (traced.ops.isEmpty || untraced.ops.isEmpty) 0.0 else f(traced) - f(untraced)
    Map(
      "sources.parse_ms" -> parse,
      "analyzer.tokenize_ms" -> (if (tokenize > 0) tokenize - parse else 0.0),
      "indexer.stopwords_ms" -> wall("indexer.stopwords"),
      "indexer.stats_ms" -> (if (stats > 0) stats - tokenize else 0.0),
      "indexer.score_ms" -> (if (stats > 0) wall("indexer.score") - stats else 0.0),
      "indexer.write_ms" -> wall("indexer.write"),
      "indexer.incremental_ms" -> med(t.named("indexer.incremental").map(_.wallMs)),
      "indexer.shuffle_bytes" -> builds.map(incl(_).shuffleBytes.toDouble).sum,
      "indexer.spill_bytes" -> builds.map(incl(_).spillBytes.toDouble).sum,
      "index.files" -> index.files.toDouble, "index.row_groups" -> index.rowGroups.toDouble,
      "index.rows" -> index.rows.toDouble, "index.bytes" -> index.bytes.toDouble,
      "engine.batch_plan_ms" -> med(batches.flatMap(in(_, "engine.batch_plan")).map(_.wallMs)),
      "engine.batch_eval_ms" -> med(batches.flatMap(in(_, "engine.batch_eval")).map(_.wallMs)),
      "engine.batch_qps" -> (if (traced.batchS > 0) traced.batchQueries / traced.batchS else 0.0),
      "cache.hit_ratio" -> (if (traced.hits.isEmpty) 0.0 else traced.hits.count(identity).toDouble / traced.hits.length),
      "cache.hit_ms" -> med(hitMs), "cache.miss_ms" -> med(missMs),
      "cache.bytes" -> (if (new File(cacheDir).exists) Engine.diskStats(cacheDir).bytes.toDouble else 0.0),
      "cache.partitions" -> Engine.leafDirs(cacheDir).toDouble,
      "spark.unattributed_jobs" -> l.countersOf(0L).jobs.toDouble,
      "trace.op_p50_ms_delta" -> delta(_.p50),
      "trace.throughput_per_s_delta" -> delta(_.throughput),
      "trace.build_s_delta" -> (if (workload == "build") traced.buildS - untraced.buildS else 0.0)
    ) ++ requestMetrics ++ extra
  }

  /** Materialize the build's stages to a no-op sink in pipeline order, so
    * each one's time is the difference to the one before it.
    */
  def decompose(e: Engine, in: Inputs, sw: Seq[String]): Map[String, Double] = {
    import graft.search.Indexer
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val p = e.pages(Seq(in.base))
    val docs = p.select("doc_id", "text")
    e.tracer.op("decompose") {
      e.tracer.span("sources.parse")(noop(p))
      e.tracer.span("analyzer.tokenize")(noop(Indexer.termOccurrences(docs, sw)))
      e.tracer.span("indexer.stats")(noop(Indexer.termDocStats(docs, sw)))
      e.tracer.span("indexer.score")(noop(Indexer.postings(docs, sw)))
    }
    Map("analyzer.tokens" -> e.tracer.excluded(Indexer.termOccurrences(docs, sw).count().toDouble))
  }

  // ---- run record ----

  /** Load average and cumulative steal ticks, the quiet-window record. */
  def quiet(): (Double, Long) = {
    def read(f: String) = try scala.io.Source.fromFile(f).getLines().toVector catch { case _: Exception => Vector.empty }
    val load = read("/proc/loadavg").headOption.flatMap(_.split(" ").headOption).map(_.toDouble).getOrElse(-1.0)
    val steal = read("/proc/stat").find(_.startsWith("cpu ")).map(_.split("\\s+")).filter(_.length > 8)
      .map(_(8).toLong).getOrElse(-1L)
    (load, steal)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = new File(opt("workdir")).getAbsolutePath
    val spec = Specs.getOrElse(workload, sys.error(s"unknown workload $workload; one of ${Specs.keys.mkString(", ")}"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (load0, steal0) = quiet()

    val spark = Engine.session(opt("cores").toInt, root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val e = new Engine(spark, new Tracer(spark.sparkContext, enabled = false), root)
    val gen0 = System.nanoTime()
    val in = generate(spec, seed, s"$root/input")
    val generateS = elapsedS(gen0)

    // set-up. The build workload warms up on a small build and refresh over
    // a slice of the corpus. The search workloads build the index their
    // requests read, which also warms the engine, then warm up on queries
    // they never time.
    val warm0 = System.nanoTime()
    var setupBuildS = 0.0
    val setupIndex = s"${e.indexRoot}setup"
    var warmRequests = 0
    if (workload == "build") {
      val sw = e.build(in.warm, s"${e.corpusRoot}warm", s"${e.indexRoot}warm/v0")
      for (k <- 0 until WarmRefreshes)
        e.refresh(s"${e.indexRoot}warm/v$k", WarmDocs + k * WarmBatchDocs, in.warmBatch, sw, s"${e.indexRoot}warm/v${k + 1}")
    } else {
      val sw = e.build(in.base, s"${e.corpusRoot}setup", setupIndex)
      setupBuildS = elapsedS(warm0)
      e.open(setupIndex, s"${e.corpusRoot}setup", sw)
      // Request latency keeps falling over the first two rounds of the seven
      // query classes (JIT and code generation), so the search workload warms
      // up on two rounds; the cached workload on two misses and two hits.
      val warm =
        if (workload == "search") Gen.queries(in.corpus, seed, 0).take(2 * Gen.Classes.length)
        else { val qs = Gen.queries(in.corpus, seed, 4, headOnly = true).take(2, CacheClasses); qs ++ qs }
      if (workload == "search") warm.foreach(e.search)
      else {
        val cache = new QueryCache(spark, s"$root/cache/warm")
        warm.foreach(q => e.searchCached(cache, q))
      }
      warmRequests = warm.length
    }
    val warmS = elapsedS(warm0) - setupBuildS
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def pass(p: Int): Pass = workload match {
      case "build"  => buildPass(e, in, p.toString, seconds)
      case "search" => searchPass(e, in, seed, p, seconds)
      case _        => cachedPass(e, in, seed, p, seconds)
    }
    val untraced = pass(1)
    var listener = Option.empty[SpanListener]
    val (traced, layers) =
      if (!trace) (untraced, Map.empty[String, Double])
      else {
        val l = new SpanListener(e.indexRoot, e.corpusRoot)
        spark.sparkContext.addSparkListener(l)
        e.tracer = new Tracer(spark.sparkContext, enabled = true)
        val p = pass(2)
        val extra =
          if (workload == "build") decompose(e, in, p.stopWords) else Map.empty[String, Double]
        org.apache.spark.sql.searchbench.Internals.drain(spark.sparkContext)
        listener = Some(l)
        (p, layerMetrics(workload, e, l, p, untraced, if (workload == "build") p.indexDir else setupIndex, extra))
      }
    val indexRatio = Engine.diskStats(if (workload == "build") s"${e.indexRoot}1/v0" else setupIndex).bytes.toDouble /
      in.baseTextBytes
    val (load1, steal1) = quiet()
    val rss = peakRssMb()
    spark.stop()

    val failures = untraced.failures ++ (if (trace) traced.failures else Vector.empty)
    val attempted = untraced.attempted + (if (trace) traced.attempted else 0L)
    val failed = failures.length.toLong
    val buildS = if (workload == "build") untraced.buildS else setupBuildS
    val throughput = untraced.throughput
    val e2e: Map[String, Double] =
      if (untraced.ops.isEmpty) Map.empty
      else Map(
        "setup_s" -> setupS, "index_bytes_per_text_byte" -> indexRatio,
        "op_p50_ms" -> untraced.p50,
        "throughput_per_s" -> throughput, "peak_rss_mb" -> rss)
    val correct = failed == 0 && e2e.nonEmpty && attempted > 0

    // human-readable record: the design's metric names, the quiet window
    val tail = if (untraced.ops.nonEmpty) untraced.tail else Stats.Tail(0, 0, 0)
    val lines = mutable.ArrayBuffer.empty[(String, String)]
    def line(k: String, v: Any): Unit = lines += k -> v.toString
    line("workload", workload); line("seed", seed); line("seconds", seconds); line("trace", if (trace) 1 else 0)
    line("setup_s", f"$setupS%.3f s"); line("build_s", f"$buildS%.3f s")
    line("index_bytes_per_text_byte", f"$indexRatio%.4f ratio")
    if (untraced.ops.nonEmpty) workload match {
      case "build" =>
        line("refresh_s", f"${untraced.p50 / 1e3}%.3f s (median of ${untraced.ops.length} append batches of ${spec.batchDocs} docs)")
        line("refresh_tail_s", f"${tail.value / 1e3}%.3f s (p${tail.percentile}%.0f of n=${tail.n})")
        line("docs_indexed_per_s", f"$throughput%.1f 1/s (full build plus append batches)")
      case _ =>
        line("query_p50_ms", f"${untraced.p50}%.1f ms")
        line("query_tail_ms", f"${tail.value}%.1f ms (p${tail.percentile}%.0f of n=${tail.n})")
        line("query_qps", f"$throughput%.3f 1/s")
        if (workload == "search")
          line("batch_qps", f"${if (untraced.batchS > 0) untraced.batchQueries / untraced.batchS else 0.0}%.3f 1/s (${untraced.batchQueries} queries in batches of $BatchSize)")
        else line("cache_hit_ratio", f"${untraced.hits.count(identity).toDouble / untraced.hits.length.max(1)}%.3f")
    }
    line("peak_rss_mb", f"$rss%.1f MB")
    line("failed_ops_ratio", f"${failed.toDouble / attempted.max(1)}%.4f ratio ($failed of $attempted)")
    line("setup_parts", f"session $sessionS%.3f s, generate $generateS%.3f s, warm-up $warmS%.3f s, index build $setupBuildS%.3f s")
    line("warmup", if (workload == "build") f"$warmS%.3f s: build of $WarmDocs docs and $WarmRefreshes $WarmBatchDocs-doc append batches"
      else f"$warmS%.3f s: $warmRequests requests")
    line("loadavg", f"start $load0%.2f end $load1%.2f")
    line("steal_ticks", s"start $steal0 end $steal1")
    lines.foreach { case (k, v) => println(s"searchbench: $k = $v") }
    failures.take(20).foreach(f => println(s"searchbench: FAILED $f"))

    val units = (EndToEnd ++ PerLayer).toMap
    val reported = if (trace) PerLayer.map { case (n, _) => n -> layers.getOrElse(n, 0.0) } else EndToEnd.flatMap { case (n, _) => e2e.get(n).map(n -> _) }
    val metrics = reported.map { case (n, v) => n -> Map("value" -> v, "unit" -> units(n)) }.toMap
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "generator" -> Map("docs" -> spec.docs, "append_batches" -> spec.batches, "batch_docs" -> spec.batchDocs,
        "tokens_per_doc" -> spec.tokensPerDoc, "vocab" -> spec.vocab, "zipf_s" -> spec.zipfS,
        "base_text_bytes" -> in.baseTextBytes),
      "summary" -> lines.toMap, "failures" -> failures,
      "end_to_end" -> e2e, "per_layer" -> layers, "op_ms" -> untraced.ops,
      "spans" -> listener.toSeq.flatMap(l => e.tracer.spans.map { s =>
        val c = l.countersOf(s.id)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
          "start_ms" -> s.startEpochMs, "wall_ms" -> s.wallMs, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "job_ms" -> c.jobMs, "executor_cpu_ms" -> c.cpuNs / 1e6, "gc_ms" -> c.gcMs,
          "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes, "posting_rows" -> c.postingRows,
          "corpus_rows" -> c.corpusRows)
      }))
    opt.get("out").foreach { f =>
      new File(f).getAbsoluteFile.getParentFile.mkdirs()
      val w = new PrintWriter(f, UTF_8.name)
      try w.println(json.writeValueAsString(record)) finally w.close()
    }
    println(json.writeValueAsString(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
  }
}
