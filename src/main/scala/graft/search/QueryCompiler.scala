package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed query evaluation: folds a [[QueryAst]] into a tree of
  * DataFrame joins carrying the reference's negation-aware set algebra
  * (`util/QueryParser.java:122-139,281-298`). This is where the
  * reference's single-reducer boolean evaluator
  * (`code/query/QueryMapred.java:89-98`) becomes a distributed plan:
  *
  *   - posting intersect (AND)     -> inner equi-join on doc_id (J1)
  *   - posting merge (OR)          -> full-outer join / union + re-agg (J2, J7)
  *   - posting difference (AND NOT)-> left-anti join (J3)
  *   - De Morgan combines          -> compile-time type dispatch (J4, J5);
  *     wrapper types are data-independent, so the whole dispatch happens
  *     at plan-construction time — no type column ever exists at runtime.
  *
  * Cardinality-based AND reordering (J6, `util/QueryParser.java:159-164`)
  * uses per-term document frequencies fetched in ONE tiny aggregate over
  * the pruned index slice — statistics cross the driver, postings never do.
  *
  * Score algebra: AND = product (with phrase-proximity boost when both
  * sides still carry positions), OR = sum. Positions survive exactly one
  * combine, so proximity only fires inside a multi-word phrase — same as
  * the reference (see [[PostingAlgebra]]).
  */
object QueryCompiler {
  import QueryAst._

  val PhraseFactor = 1.0 // util/QueryParser.java:45

  /** A compiled subtree: polarity type (0 normal / 1 negated / 2 stop
    * word), its plan with schema `(doc_id, score[, positions])`, whether
    * positions are still attached, and an upper-bound cardinality
    * estimate used for AND reordering and broadcast hints.
    */
  final case class Node(tpe: Int, df: DataFrame, hasPositions: Boolean, est: Long)

  /** Exact min token distance between two ABSOLUTE position lists (the
    * index stores absolute positions; Parquet handles delta encoding).
    * Two-pointer scan — the clean form of the reference's skip-ahead walk
    * over gap lists (`util/QueryParser.java:210-248`). This Scala form is
    * the executable SPEC; the plan uses the codegen'd
    * [[graft.functions.MinTokenDistance]] expression (equivalence is
    * property-tested), keeping every phrase-AND inside whole-stage
    * codegen — no ScalaUDF remains anywhere in the query hot path.
    */
  private[graft] def minDistanceAbs(a: Seq[Int], b: Seq[Int]): Option[Int] = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return None
    var i = 0; var j = 0; var best = Int.MaxValue
    while (i < a.length && j < b.length) {
      val d = math.abs(a(i) - b(j))
      if (d < best) best = d
      if (a(i) < b(j)) i += 1 else j += 1
    }
    if (best == Int.MaxValue) None else Some(best)
  }

  /** Broadcast the build side when its posting-list cardinality is known
    * to be small; otherwise leave the choice to AQE.
    */
  private def maybeBroadcast(df: DataFrame, est: Long): DataFrame =
    if (est >= 0 && est <= 1000000L) broadcast(df) else df

  /** J1: AND = inner join on doc_id, score = product, proximity-boosted
    * `pow(s1*s2, phraseFactor + 1/minDist)` when both operands still
    * carry positions (`util/QueryParser.java:194-258`).
    */
  private def intersectDf(a: Node, b: Node): DataFrame = {
    val proximity = a.hasPositions && b.hasPositions
    val l =
      if (proximity) a.df.select(col("doc_id"), col("score").as("s1"), col("positions").as("p1"))
      else a.df.select(col("doc_id"), col("score").as("s1"))
    val r =
      if (proximity) b.df.select(col("doc_id"), col("score").as("s2"), col("positions").as("p2"))
      else b.df.select(col("doc_id"), col("score").as("s2"))
    val joined = l.join(maybeBroadcast(r, b.est), "doc_id")
    val score: Column =
      if (proximity) {
        val withD = joined.withColumn("d",
          graft.functions.MinTokenDistance.of(col("p1"), col("p2")))
        // d = 0 (same position, e.g. phrase "w w") must give exponent
        // 1/0 = Infinity like plain-double arithmetic; ANSI mode throws
        // DIVIDE_BY_ZERO even for doubles, so the zero case branches
        // before any division
        val invD = when(col("d") === 0, lit(Double.PositiveInfinity))
          .otherwise(lit(1.0) / col("d").cast("double"))
        return withD.select(col("doc_id"),
          when(col("d").isNotNull,
            pow(col("s1") * col("s2"), lit(PhraseFactor) + invD))
            .otherwise(col("s1") * col("s2")).as("score"))
      } else col("s1") * col("s2")
    joined.select(col("doc_id"), score.as("score"))
  }

  /** J2: OR = full-outer join on doc_id; matched rows sum scores
    * (`util/QueryParser.java:300-325`).
    */
  private def mergeDf(a: Node, b: Node): DataFrame = {
    val l = a.df.select(col("doc_id"), col("score").as("s1"))
    val r = b.df.select(col("doc_id"), col("score").as("s2"))
    l.join(r, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))).as("score"))
  }

  /** J3: AND NOT = left-anti join on doc_id (`util/QueryParser.java:173-192`). */
  private def differenceDf(a: Node, b: Node): DataFrame =
    a.df.select(col("doc_id"), col("score"))
      .join(maybeBroadcast(b.df.select(col("doc_id")), b.est), Seq("doc_id"), "left_anti")

  /** J4: negation-aware AND type dispatch (`util/QueryParser.java:122-139`). */
  private def combineAnd(a: Node, b: Node): Node =
    if (a.tpe == 2 && b.tpe == 2) a
    else if (a.tpe == 2) b
    else if (b.tpe == 2) a
    else if (a.tpe == 1 && b.tpe == 1) Node(1, mergeDf(a, b), hasPositions = false, a.est + b.est)
    else if (a.tpe == 0 && b.tpe == 0)
      Node(0, intersectDf(a, b), hasPositions = false, math.min(a.est, b.est))
    else if (a.tpe == 1) Node(0, differenceDf(b, a), hasPositions = false, b.est)
    else Node(0, differenceDf(a, b), hasPositions = false, a.est)

  private def flipNode(n: Node): Node = n.copy(tpe = flip(n.tpe))

  /** J5 (`util/QueryParser.java:281-298`) as the De Morgan dual of J4,
    * `a or b = not (not a and not b)`: equal to the reference's table
    * (kept in [[PostingAlgebra]]) for all nine type pairs.
    */
  private def combineOr(a: Node, b: Node): Node =
    flipNode(combineAnd(flipNode(a), flipNode(b)))

  private def stripPositions(n: Node): Node =
    Node(n.tpe, n.df.select(col("doc_id"), col("score")), hasPositions = false, n.est)

  /** J6: n-ary AND, smallest-estimated-first left fold. */
  private def nAryAnd(ns: Vector[Node]): Node =
    if (ns.length == 1) stripPositions(ns.head)
    else ns.sortBy(_.est).reduceLeft(combineAnd)

  /** J7: n-ary OR. All-positive disjunctions (the common case) compile to
    * ONE union + hash re-aggregation — a single shuffle instead of a
    * chain of full-outer joins; identical values since OR's score is a
    * plain sum. Mixed-polarity disjunctions fall back to the reference's
    * balanced pairwise tree (`util/QueryParser.java:267-279`).
    */
  private def nAryOr(ns: Vector[Node]): Node =
    if (ns.length == 1) stripPositions(ns.head)
    else {
      val live = ns.filter(_.tpe != 2)
      if (live.isEmpty) ns.head // all stop words: identity chain yields type 2
      else if (live.forall(_.tpe == 0)) {
        val unioned = live.map(n => n.df.select(col("doc_id"), col("score")))
          .reduce(_ unionByName _)
          .groupBy("doc_id").agg(sum("score").as("score"))
        Node(0, unioned, hasPositions = false, live.map(_.est).sum)
      } else {
        def tree(v: Vector[Node]): Node =
          if (v.length == 1) stripPositions(v.head)
          else { val m = v.length / 2; combineOr(tree(v.take(m)), tree(v.drop(m))) }
        tree(live)
      }
    }

  /** Every index term mentioned by the query (used for the pruning
    * semi-filter and the stats fetch — reference
    * `code/query/QueryMapred.java:56-77,126-162`).
    */
  def leafTerms(ast: QueryAst): Vector[String] = ast match {
    case Word(t)       => Vector(t)
    case ExceptWord(t) => Vector(t)
    case StopWord      => Vector.empty
    case And(cs)       => cs.flatMap(leafTerms)
    case Or(cs, _)     => cs.flatMap(leafTerms)
  }

  /** Per-term document frequencies for the query's terms: one small
    * aggregate over the pruned index slice (Parquet min/max stats skip
    * everything else when the index is term-range-partitioned).
    */
  def termStats(index: DataFrame, terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else index.filter(col("term").isin(terms.distinct: _*))
      .groupBy("term").agg(count("*").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Compile a parsed query against a posting table with schema
    * `(term, doc_id, score, positions, ...)`.
    */
  def compile(ast: QueryAst, index: DataFrame, stats: Map[String, Long]): Node = {
    def leafDf(term: String): DataFrame =
      index.filter(col("term") === lit(term))
        .select(col("doc_id"), col("score"), col("positions"))
    // a query that is nothing but connectives ("and") parses to a
    // zero-child node (Java split of an exact match is an empty array);
    // degrade to an empty result instead of the reference's crash
    def emptyNode = Node(0, index.limit(0).select(col("doc_id"), lit(0.0).as("score")),
      hasPositions = false, 0L)
    def go(a: QueryAst): Node = a match {
      case Word(t)       => Node(0, leafDf(t), hasPositions = true, stats.getOrElse(t, 0L))
      case ExceptWord(t) => Node(1, leafDf(t), hasPositions = true, stats.getOrElse(t, 0L))
      case StopWord =>
        Node(2, index.limit(0).select(col("doc_id"), lit(0.0).as("score")),
          hasPositions = false, 0L)
      case And(cs) => if (cs.isEmpty) emptyNode else nAryAnd(cs.map(go))
      case Or(cs, negated) =>
        if (cs.isEmpty) emptyNode
        else {
          val r = nAryOr(cs.map(go))
          if (negated) flipNode(r) else r
        }
    }
    go(ast)
  }
}
