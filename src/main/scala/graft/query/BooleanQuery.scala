package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Boolean query trees — AND / OR / NOT over term leaves, the query
  * surface every complete fulltext engine exposes beyond bag-of-words
  * ranking (Lucene's BooleanQuery; Manning IIR ch. 1). The reference's
  * search is conjunctive-only (/root/reference/src/main/java/searchengine/
  * tools/SearcherPage.java:60-78); this generalizes it.
  *
  * Semantics (Lucene's): the tree defines the CANDIDATE set; ranking
  * scores the positive leaf terms only (a NOT subtree never contributes
  * score — it only excludes). NOT is legal only inside an AND with at
  * least one positive sibling (pure negation over a 10^12-doc corpus is
  * an unbounded scan by definition, so the type of the operator forbids
  * it).
  *
  * Scale shape: ONE aggregate whatever the tree — one IN-filtered postings
  * scan over every leaf term, one docStats join, one hash aggregate per
  * doc_id collecting the doc's leaf-term set and Σ BM25 of its positive
  * leaves, then the tree as a predicate over that set. A doc with no leaf
  * term never satisfies a valid tree (every satisfying set holds a
  * positive leaf), so the aggregate's docs are every candidate; no node
  * adds a join, and a wide tree widens only the IN list and the predicate.
  */
object BooleanQuery {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class And(qs: Seq[Node]) extends Node
  final case class Or(qs: Seq[Node]) extends Node
  final case class Not(q: Node) extends Node

  /** every leaf term of `q`, NOT subtrees included */
  def leafTerms(q: Node): Set[String] = q match {
    case Term(t) => Set(t)
    case And(qs) => qs.flatMap(leafTerms).toSet
    case Or(qs)  => qs.flatMap(leafTerms).toSet
    case Not(n)  => leafTerms(n)
  }

  /** the scored leaves: every Term outside any NOT subtree */
  def positiveTerms(q: Node): Set[String] = q match {
    case Term(t) => Set(t)
    case And(qs) => qs.flatMap(positiveTerms).toSet
    case Or(qs)  => qs.flatMap(positiveTerms).toSet
    case Not(_)  => Set.empty
  }

  /** the tree as a predicate over a doc's leaf-term set `terms`; siblings
    * combine as a balanced tree, log-deep in a node's width */
  private def holds(q: Node): Column = {
    def all(cs: Seq[Column], op: (Column, Column) => Column): Column =
      if (cs.size == 1) cs.head
      else { val (a, b) = cs.splitAt(cs.size / 2); op(all(a, op), all(b, op)) }
    q match {
      case Term(t) => array_contains(col("terms"), t)
      case Or(qs) =>
        require(qs.nonEmpty, "OR needs at least one child")
        all(qs.map(holds), _ || _)
      case And(qs) =>
        require(qs.exists(!_.isInstanceOf[Not]), "NOT is only valid beside a positive conjunct")
        all(qs.map { case Not(n) => !holds(n); case n => holds(n) }, _ && _)
      case Not(_) => sys.error("NOT is only valid inside AND")
    }
  }

  /** (doc_id, score) of every doc the tree admits: score = Σ BM25 of the
    * positive leaves present in the doc (disjunctive scoring over a
    * boolean-filtered candidate set — Lucene's exact contract). `dfs` must
    * cover the scored leaves; a leaf only under NOT needs no df: it enters
    * the scan with weight 0, for the doc's term set only. */
  def scores(postings: DataFrame, docStats: DataFrame, dfs: Map[String, Long],
             nDocs: Long, avgDl: Double, q: Node): DataFrame = {
    val admits = holds(q) // validates the tree before any plan is built
    val pos = positiveTerms(q)
    val negOnly = leafTerms(q) -- pos
    Search.termScores(postings.join(docStats, "doc_id"), pos.map(t => t -> dfs(t)).toMap ++ negOnly.map(_ -> 0L),
        nDocs, avgDl, weights = pos.map(_ -> 1).toMap ++ negOnly.map(_ -> 0))
      .groupBy("doc_id").agg(collect_set(col("term")).as("terms"), sum(col("term_score")).as("score"))
      .filter(admits)
      .select(col("doc_id"), col("score"))
  }

  /** BM25 top-k over the tree's candidates: (rank, doc_id, score) */
  def topK(postings: DataFrame, docStats: DataFrame, dfs: Map[String, Long],
           nDocs: Long, avgDl: Double, q: Node, k: Int): DataFrame =
    Search.rankTopK(scores(postings, docStats, dfs, nDocs, avgDl, q), k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
}
