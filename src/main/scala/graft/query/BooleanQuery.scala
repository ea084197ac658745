package graft.query

import org.apache.spark.sql.DataFrame
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
  * Scale shape: every node evaluates to a distinct doc_id relation built
  * from equality-probed postings — Term = one IN-filter slice, OR = union
  * + dedup, AND = left-semi join chain, NOT = left-anti join against its
  * AND siblings. All joins key on doc_id, so the conjunction chain
  * co-partitions after the first shuffle; no node ever materializes
  * per-doc arrays or driver-side sets. Scoring reuses the one
  * IN-filtered postings scan + hash aggregate of the BM25 path.
  */
object BooleanQuery {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class And(qs: Seq[Node]) extends Node
  final case class Or(qs: Seq[Node]) extends Node
  final case class Not(q: Node) extends Node

  /** the scored leaves: every Term outside any NOT subtree */
  def positiveTerms(q: Node): Set[String] = q match {
    case Term(t) => Set(t)
    case And(qs) => qs.flatMap(positiveTerms).toSet
    case Or(qs)  => qs.flatMap(positiveTerms).toSet
    case Not(_)  => Set.empty
  }

  /** candidate doc set (distinct doc_id) for the tree */
  def matches(postings: DataFrame, q: Node): DataFrame = q match {
    case Term(t) =>
      postings.filter(col("term") === t).select("doc_id").distinct()
    case Or(qs) =>
      require(qs.nonEmpty, "OR needs at least one child")
      qs.map(matches(postings, _)).reduce(_ unionByName _).distinct()
    case And(qs) =>
      val (negs, poss) = qs.partition(_.isInstanceOf[Not])
      require(poss.nonEmpty, "NOT is only valid beside a positive conjunct")
      val pos = poss.map(matches(postings, _))
        .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
      negs.foldLeft(pos) { case (acc, n) =>
        acc.join(matches(postings, n.asInstanceOf[Not].q), Seq("doc_id"), "left_anti")
      }
    case Not(_) => sys.error("NOT is only valid inside AND")
  }

  /** BM25 top-k over the tree's candidates, scoring the positive leaves
    * that are present in each doc (disjunctive scoring over a boolean-
    * filtered candidate set — Lucene's exact contract). `dfs` must cover
    * [[positiveTerms]]. */
  def topK(postings: DataFrame, docStats: DataFrame, dfs: Map[String, Long],
           nDocs: Long, avgDl: Double, q: Node, k: Int): DataFrame = {
    val cand = matches(postings, q)
    val scored = Search.docScores(Search.termScores(
      postings.join(cand, Seq("doc_id"), "left_semi").join(docStats, "doc_id"),
      positiveTerms(q).map(t => t -> dfs(t)).toMap, nDocs, avgDl))
    Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }
}
