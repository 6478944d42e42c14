package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinTokenDistance
import graft.search.QueryCompiler

/** Round-21 surface: the native codegen'd min-token-distance expression
  * that replaced the last ScalaUDF in the query hot path (phrase
  * proximity, reference `util/QueryParser.java:204-253`).
  */
class RoundTwentyOneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Random ASCENDING position list (the index invariant). */
  private def sortedPositions(rnd: scala.util.Random, maxLen: Int): Seq[Int] =
    Seq.fill(rnd.nextInt(maxLen + 1))(rnd.nextInt(500)).sorted

  test("MinTokenDistance === minDistanceAbs over random sorted lists (codegen path)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val cases: Seq[(Seq[Int], Seq[Int])] =
      (1 to 400).map(_ => (sortedPositions(rnd, 8), sortedPositions(rnd, 8))) ++
        Seq((Seq.empty, Seq(1, 2)), (Seq(3), Seq.empty), (Seq.empty, Seq.empty),
          (Seq(7), Seq(7)), (Seq(0, 1000000), Seq(500000)))
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"), MinTokenDistance.of(col("a"), col("b")).as("d"))
    val got = df.collect().map(r =>
      (r.getSeq[Int](0), r.getSeq[Int](1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    got.foreach { case (a, b, d) =>
      assert(d === QueryCompiler.minDistanceAbs(a, b), s"a=$a b=$b")
    }
    // the plan must be pure codegen: no ScalaUDF anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"expected no UDF in plan:\n$plan")
  }

  test("MinTokenDistance interpreted eval matches codegen semantics incl. nulls") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    def lit2(v: Seq[Int]): Literal =
      Literal.create(v, ArrayType(IntegerType, containsNull = false))
    def evalOf(a: Any, b: Any): Any = MinTokenDistance(
      a.asInstanceOf[Literal], b.asInstanceOf[Literal]).eval(null)
    assert(evalOf(lit2(Seq(1, 5, 9)), lit2(Seq(7))) === 2)
    assert(evalOf(lit2(Seq(4)), lit2(Seq(4))) === 0)
    assert(evalOf(lit2(Seq.empty), lit2(Seq(1))) === null)
    val nullArr = Literal.create(null, ArrayType(IntegerType, containsNull = false))
    assert(evalOf(nullArr, lit2(Seq(1))) === null)
    assert(evalOf(lit2(Seq(1)), nullArr) === null)
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      val a = sortedPositions(rnd, 10); val b = sortedPositions(rnd, 10)
      val want: Any = QueryCompiler.minDistanceAbs(a, b).map(Int.box).orNull
      assert(evalOf(lit2(a), lit2(b)) === want, s"a=$a b=$b")
    }
  }

  test("graft_min_token_distance registers through the SQL surface") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT graft_min_token_distance(array(1, 5, 11), array(8)) AS d," +
        " graft_min_token_distance(CAST(array() AS ARRAY<INT>), array(3)) AS e")
      .first()
    assert(r.getInt(0) === 3)
    assert(r.isNullAt(1))
    // arity error is an analysis-time message, not an opaque NPE
    val e = intercept[Exception](
      spark.sql("SELECT graft_min_token_distance(array(1))").collect())
    assert(e.getMessage.contains("exactly 2 arguments"))
  }

  test("phrase search plans UDF-free and still proximity-boosts adjacent terms") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // "alpha beta" adjacent, d = 1
      (2L, "alpha gamma beta delta"), // d = 2
      (3L, "alpha gamma delta epsilon zeta beta"), // d = 5
      (4L, "gamma delta epsilon") // keeps df < docNum so scores are nonzero
    ).toDF("doc_id", "text")
    val index = graft.search.Indexer.postings(docs)
    // phrase = juxtaposition in the reference grammar ("alpha beta")
    val res = graft.search.SearchEngine.search("alpha beta", index, docs)
      .select("doc_id", "score")
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"phrase path still plans a UDF:\n$plan")
    val scores = res.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.keySet === Set(1L, 2L, 3L))
    // the proximity exponent 1 + 1/d differs per doc (d = 1, 2, 5), so
    // all three scores must be pairwise distinct; exact VALUES are
    // pinned by the sf0.01 search_phrase oracle, not re-derived here
    assert(scores.values.toSet.size === 3, scores.toString)
  }

  /** Write one parquet FILE into a streaming source dir (atomic from
    * the file source's perspective).
    */
  private def stage(dir: String, name: String,
                    df: org.apache.spark.sql.DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$dir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(dir, s"$name.parquet"))
  }

  test("streaming state drivers under a staged CROSS-VERSION redelivery") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val base = Files.createTempDirectory("graft-stream-redeliver-").toString

    // ---- KMV distinct: a late at-least-once upstream re-emits batch0
    // as a brand-new file; the RESUMED query folds it as a NEW state
    // version — and the idempotent KMV merge must not inflate anything
    val kin = s"$base/kmv-in"; Files.createDirectories(Paths.get(kin))
    val a = (1 to 300).map(i => ("g" + (i % 2), i % 37))
    val b = (301 to 600).map(i => ("g" + (i % 2), i % 53))
    stage(kin, "batch0", a.toDF("k", "v"))
    stage(kin, "batch1", b.toDF("k", "v"))
    val kState = s"$base/kmv-state"; val kCkpt = s"$base/kmv-ckpt"
    def runKmv(): Unit = {
      val q = graft.streaming.StreamingOps.streamingDistinctCount(
        spark, kin, kState, Seq("k"), "v", k = 32,
        checkpointDir = Some(kCkpt))
      try q.processAllAvailable() finally q.stop()
    }
    runKmv()
    stage(kin, "batch2_redelivered", a.toDF("k", "v"))
    runKmv() // resumes from the checkpoint: ONLY the new file, new version
    val kmvSchema = StructType(Seq(StructField("k", StringType),
      StructField("h", LongType)))
    val got = graft.streaming.StreamingOps
      .currentSnapshot(spark, kState, kmvSchema)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.ops.Maintenance
      .kmvState((a ++ b).toDF("k", "v"), Seq("k"), "v", 32)
      .mins.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want, "redelivered rows must be a no-op union")

    // ---- MG top-k: counters are ADDITIVE (documented contract), so
    // after the same staged redelivery the state accounts the rows as
    // delivered — and the completeness-checked read over the delivered
    // multiset must still be EXACT
    val min0 = s"$base/mg-in"; Files.createDirectories(Paths.get(min0))
    val wa = (0 until 1500).map(i => (i.toLong, "k" + math.min(i % 40, i % 17)))
    val wb = (1500 until 3000).map(i => (i.toLong, "k" + math.min(i % 40, i % 13)))
    stage(min0, "batch0", wa.toDF("row_id", "word"))
    stage(min0, "batch1", wb.toDF("row_id", "word"))
    val mState = s"$base/mg-state"; val mCkpt = s"$base/mg-ckpt"
    def runMg(): Unit = {
      val q = graft.streaming.StreamingOps.streamingTopKState(
        spark, min0, mState, "word", capacity = 256,
        checkpointDir = Some(mCkpt))
      try q.processAllAvailable() finally q.stop()
    }
    runMg()
    stage(min0, "batch2_redelivered", wa.toDF("row_id", "word"))
    runMg()
    val mgSchema = StructType(Seq(StructField("key", StringType),
      StructField("cnt", LongType)))
    val state = graft.streaming.StreamingOps
      .currentSnapshot(spark, mState, mgSchema)
    val delivered = (wa ++ wb ++ wa).toDF("row_id", "word")
    val gotTop = graft.ops.HeavyHitters
      .topKFromState(state, delivered, "word", 10, 256)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val wantTop = delivered.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotTop === wantTop)
    // the state's total row equals every row DELIVERED (incl. the
    // duplicate batch) — additive by design, unlike the KMV sketch
    assert(state.filter(col("key").isNull).agg(sum("cnt")).first().getLong(0)
      === delivered.count())
  }

  test("native SnippetHighlight equals the Scala render; page render plans UDF-free") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, ("filler " * 80) + "alpha " + ("pad " * 70) + "beta end"),
      (3L, "unrelated words only here"),
      (4L, "beta alpha"),
      (5L, "alpha beta")).toDF("doc_id", "text")
    val index = graft.search.Indexer.postings(docs)
    val ranked = graft.search.SearchEngine.search("alpha beta", index, docs)
    val page = graft.search.SearchEngine.page(ranked, 1)
    val rendered = graft.search.SearchEngine.renderCorpusPage(page,
      graft.sources.Corpus.fromDocuments(docs), "alpha beta")
    val rows = rendered.collect()
    val plan = rendered.queryExecution.executedPlan
    assert(!plan.toString.contains("UDF"), s"page render still plans a UDF:\n$plan")
    // the page's own top-k re-ranks it: no range exchange (and so no
    // sampling job over the corpus) and no global sort
    val nodes = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case n => n }
    assert(nodes.exists {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        t.output.map(_.name).contains("snippet")
      case _ => false
    }, plan)
    assert(!nodes.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]
      case _ => false
    }, plan)
    val order = rows.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
    assert(order == order.sorted, order)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hl = graft.search.QueryParser.highlightWords("alpha beta")
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L))
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(2) == s"doc-$id")
      val want = graft.search.SearchEngine.highlightWrap(
        graft.search.SearchEngine.snippetOf(texts(id), hl), hl)
      assert(r.getString(3) === want, s"doc $id")
    }
    // NULL content renders NULL (the old closure-UDF contract)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val nullOut = graft.functions.SnippetHighlight(
      Literal.create(null, StringType),
      Literal.create(Seq("x"), ArrayType(StringType))).eval(null)
    assert(nullOut === null)
  }

  test("semDedup prunes planted twins within their cluster, partitioning-invariant") {
    val s = spark
    import s.implicits._
    // two groups on orthogonal base directions; within a group every
    // vector carries a UNIQUE secondary dim, so non-twin cosines are
    // exactly 0.8 (within group) or 0 (across) — only the planted
    // exact twins of vectors 3 and 23 reach the 0.9 threshold, and a
    // twin's IDENTICAL embedding guarantees it lands in its
    // original's cluster whatever the k-means split does
    def vec(hot: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(20)(0.0f); hot.foreach { case (d, x) => v(d) = x }
      v.toSeq
    }
    val rows =
      (0 until 8).map(i => (i.toLong, vec(0 -> 1.0f, (2 + i) -> 0.5f))) ++
      (20 until 28).map(i => (i.toLong, vec(1 -> 1.0f, (10 + i - 20) -> 0.5f))) ++
      Seq((100L, vec(0 -> 1.0f, 5 -> 0.5f)),  // twin of vec 3 (dim 2+3)
          (123L, vec(1 -> 1.0f, 13 -> 0.5f))) // twin of vec 23 (dim 10+3)
    val emb = rows.toDF("vec_id", "embedding")
    def run(parts: Int): Seq[(Long, Long, Long, Double)] =
      graft.ops.Similarity.semDedup(emb.repartition(parts), k = 2,
          rounds = 1, minCos = 0.9)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val got = run(3)
    assert(got.map(p => (p._1, p._3, p._4)) ===
      Seq((100L, 3L, 1.0), (123L, 23L, 1.0)), got.toString)
    // deterministic under any partitioning (exact-Lloyd + 4-dp grid)
    assert(got === run(11))
    // the quadratic knife-edge degrades LOUDLY: a cluster bigger than
    // the bound fails with guidance before the pair join launches
    val e = intercept[IllegalArgumentException](
      graft.ops.Similarity.semDedup(emb, k = 1, rounds = 0, minCos = 0.9,
        maxClusterSize = 5))
    assert(e.getMessage.contains("raise k"))
  }

  test("graft_snippet registers through the SQL surface") {
    GraftExtensions.install(spark)
    val got = spark.sql(
      "SELECT graft_snippet('alpha beta gamma', array('beta')) AS s").first()
      .getString(0)
    val want = graft.search.SearchEngine.highlightWrap(
      graft.search.SearchEngine.snippetOf("alpha beta gamma", Seq("beta")),
      Seq("beta"))
    assert(got === want)
  }

  test("as-of joins pick deterministically among duplicate-(key, ts) right rows") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val left = Seq(("k", ts(10)), ("k", ts(1))).toDF("k", "ts")
    // two right rows at the SAME (key, ts): pre-fix the pick was
    // partition-order; now the payload struct is the final sort key
    val right = Seq(("k", ts(5), "lo"), ("k", ts(5), "hi")).toDF("k", "ts", "v")
    def picks(dir: String, parts: Int): Map[java.sql.Timestamp, String] =
      graft.ops.TemporalJoins.asOfJoin(left.repartition(parts),
          right.repartition(parts), Seq("k"), "ts", Seq("v"), direction = dir)
        .collect().map(r => r.getTimestamp(1) ->
          (if (r.isNullAt(3)) null else r.getString(3))).toMap
    // backward/forward: last() over the ascending-payload tie run =
    // LARGEST payload ("lo" > "hi"); nearest: largest on the backward
    // frame, smallest (first()) on the forward frame
    assert(picks("backward", 3) === Map(ts(10) -> "lo", ts(1) -> null))
    assert(picks("forward", 3) === Map(ts(1) -> "lo", ts(10) -> null))
    assert(picks("nearest", 3) === Map(ts(10) -> "lo", ts(1) -> "hi"))
    for (dir <- Seq("backward", "forward", "nearest"))
      assert(picks(dir, 1) === picks(dir, 7), s"$dir not partition-stable")
  }

  test("plan fingerprints are expression-counter invariant (distinct-rewrite lists)") {
    // the r8 leak: RewriteDistinctAggregates orders expand groups /
    // gid binding / grouping lists by expression id, so a query's
    // fingerprint depended on how many expressions the session had
    // allocated before it (suite composition). Reproduce the scenario:
    // the same multi-distinct aggregate planned in a FRESH session vs
    // a session that first burned thousands of expression ids must
    // fingerprint identically.
    def q(s: SparkSession): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      Seq(("a", 1L, 2L), ("b", 3L, 4L)).toDF("k", "x", "y")
        .groupBy("k")
        .agg(countDistinct("x").as("nx"), countDistinct("y").as("ny"),
          count(lit(1)).as("n"))
    }
    val fresh = spark.newSession()
    val fp1 = Bench.fingerprint(q(fresh))
    val burned = spark.newSession()
    (1 to 40).foreach { i =>
      import burned.implicits._
      // each plan allocates a batch of exprIds in `burned`
      Seq((i.toLong, i.toString)).toDF("a", "b")
        .select((col("a") + i).as("c"), upper(col("b")).as("d"))
        .queryExecution.executedPlan
    }
    val fp2 = Bench.fingerprint(q(burned))
    assert(fp1 === fp2,
      s"fingerprint shifted with session expression count:\n" +
        s"${Bench.normalizedPlan(q(fresh))}\nvs\n${Bench.normalizedPlan(q(burned))}")
  }

  test("sim_ivf_topk (the driver entry itself) prunes cluster partitions at rest") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") +
      "/sf0.001"
    val df = SparkEntry.queries("sim_ivf_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the probe's scan must carry a NON-EMPTY PartitionFilters entry on
    // the cluster directory column — directory-level pruning, so a
    // 1000-executor probe reads nProbe/k of the corpus
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cluster.*"),
      s"expected cluster PartitionFilters in the probe scan:\n$plan")
    assert(df.count() === 10)
  }
}
