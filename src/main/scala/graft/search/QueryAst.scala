package graft.search

import graft.functions.PorterStemmer

/** CNF query AST — the Scala ADT for the reference's
  * `Expr {AND, OR, NOT_OR, WORD, EXCEPT_WORD, STOP_WORD}` tree
  * (reference `util/QueryParser.java:52-55,72-94`).
  */
sealed trait QueryAst
object QueryAst {
  /** Conjunction; the root is always an And of clauses, and a multi-word
    * phrase inside a clause is also an And of its (stemmed) words.
    */
  final case class And(children: Vector[QueryAst]) extends QueryAst
  /** Disjunction; `negated = true` is the reference's NOT_OR — the whole
    * clause was written `not ( ... )` and the evaluated wrapper's
    * polarity flips (`util/QueryParser.java:106-111`).
    */
  final case class Or(children: Vector[QueryAst], negated: Boolean = false) extends QueryAst
  /** Positive leaf: documents must contain `term`. */
  final case class Word(term: String) extends QueryAst
  /** Negative leaf (`not x` inside a clause): documents must NOT contain
    * `term`. NOTE the reference does not stem this term
    * (`util/QueryParser.java:355-357,84-87`) — contractual quirk, kept.
    */
  final case class ExceptWord(term: String) extends QueryAst
  /** A stop-word leaf: an identity operand dropped from evaluation
    * (type 2, `util/QueryParser.java:82-85,104`).
    */
  case object StopWord extends QueryAst

  /** `not` on an evaluated wrapper's type (0 normal / 1 negated / 2 stop
    * word): swaps 0 and 1; a stop word stays an identity (SURVEY J4, Q4).
    */
  def flip(tpe: Int): Int = if (tpe == 2) 2 else 1 - tpe
}

/** CNF parser, replicating the reference grammar exactly
  * (`util/QueryParser.java:337-373`):
  *
  *  - the query splits into clauses on the word-boundary regex `\band\b`
  *    (so "brand" is not split — header bug-fix note `:17-18`);
  *  - a clause starting with `not ` / `not(` / `not (` becomes a negated
  *    OR; parentheses are then blanked to spaces;
  *  - the clause splits into literals on `\bor\b`;
  *  - a literal starting with `not ` is a single (un-stemmed) negative
  *    word — never a phrase (`:19-21,355-357`);
  *  - any other literal is a phrase: an And over its space-separated,
  *    Porter-stemmed words;
  *  - a (stemmed) word found in the stop-word set becomes a StopWord
  *    leaf. The stop-word set itself is stemmed at load time
  *    (reference `code/query/QueryMapred.java:107-118`) even though the
  *    list was built unstemmed — both behaviors kept.
  */
final class QueryParser(stopWords: Set[String]) {
  import QueryAst._

  private def leaf(raw: String): QueryAst =
    if (stopWords.contains(raw)) StopWord
    else if (raw.startsWith("not ")) ExceptWord(raw.substring(3).trim)
    else Word(raw)

  def parse(query: String): And = {
    val clauses = query.split("\\band\\b").toVector.map { clauseRaw =>
      var clause = clauseRaw.trim
      val negated = clause.startsWith("not ") || clause.startsWith("not(") ||
        clause.startsWith("not (")
      if (negated) clause = clause.substring(3)
      clause = clause.replace('(', ' ').replace(')', ' ').trim
      val literals = clause.split("\\bor\\b").toVector.map { litRaw =>
        val lit = litRaw.trim
        if (lit.startsWith("not ")) leaf(lit)
        else And(lit.split(" ").toVector.map(w => leaf(PorterStemmer.stem(w))))
      }
      Or(literals, negated)
    }
    And(clauses)
  }
}

object QueryParser {
  /** Stem a stop-word list the way the reference's query job does when
    * loading it (`code/query/QueryMapred.java:111-116`).
    */
  def stemmedStopWords(words: Seq[String]): Set[String] =
    words.map(PorterStemmer.stem).toSet

  /** The positive literals of a query — the words the presentation layer
    * highlights (reference `util/CorpusFetcher.java:196-228`): un-negated
    * words of un-negated clauses, plus `not`-words of negated clauses
    * (doubly negated = positive). Uses the reference's plain
    * `split("and")`/`split("or")` (NOT word-boundary) — contractual quirk
    * of the highlight path only.
    */
  def highlightWords(query: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    for (clauseRaw <- query.toLowerCase.split("and")) {
      var clause = clauseRaw.trim
      val neg = clause.startsWith("not ")
      if (neg) clause = clause.substring(3).trim
      if (clause.startsWith("(") && clause.endsWith(")"))
        clause = clause.substring(1, clause.length - 1).trim
      for (litRaw <- clause.split("or")) {
        val lit = litRaw.trim
        if (lit.startsWith("not ")) {
          if (neg) lit.substring(3).trim.split(" ").foreach(out += _)
        } else if (!neg) lit.split(" ").foreach(out += _)
      }
    }
    out.result()
  }
}
