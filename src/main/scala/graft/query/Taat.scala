package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-at-a-time evaluation with accumulator limiting — the Quit and
  * Continue strategies of Moffat & Zobel (TOIS 1996, "Self-indexing
  * inverted files for fast text retrieval" — public literature). The
  * memory-bounded ancestor of WAND: process query terms rarest-first and
  * stop CREATING score accumulators once their count would exceed a budget
  * L. Quit stops scoring entirely at that point; Continue keeps updating
  * the accumulators that already exist with the remaining (hotter) terms.
  *
  * Relational form (exact, no per-step state): with terms ordered by
  * (df asc, term asc) as i = 1..|T|,
  *
  *   first_idx(d) = min matching i          — the term that would CREATE d
  *   acc(i)       = |{d : first_idx(d) ≤ i}| — accumulators after term i
  *   i*           = max { i : acc(i) ≤ L }   — last term fully admitted
  *
  *   Quit:     docs with first_idx ≤ i*, scored by terms 1..i* only
  *   Continue: docs with first_idx ≤ i*, scored by ALL terms
  *
  * (i* = |T| degenerates both to plain disjunctive evaluation.)
  *
  * Scale shape: one IN-filtered postings pass builds the weighted matches;
  * first_idx is a per-doc min aggregate on the same shuffle the scoring
  * aggregate needs; acc() is a cumulative window over the |T|-row term
  * table (densified so a term creating no new accumulators still advances
  * i) — nothing corpus-sized beyond the single pass WAND would also pay,
  * and the accumulator table the real TAAT engine holds in RAM is exactly
  * the first_idx ≤ i* relation. */
object Taat {

  /** Both strategies' top-k in one relation:
    * (strategy ∈ {quit, continue}, rank, doc_id, score). */
  def quitContinueTopK(postings: DataFrame, docStats: DataFrame,
                       dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                       limit: Long, k: Int): DataFrame = {
    require(dfs.nonEmpty, "need at least one query term")
    val spark = postings.sparkSession
    import spark.implicits._
    val ordered = dfs.toSeq.sortBy { case (t, d) => (d, t) }.map(_._1)
    val idx = ordered.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
    val ord = idx.toDF("term", "idx")
    val matched = Search.termScores(postings.join(docStats, "doc_id"), dfs, nDocs, avgDl)
      .select(col("doc_id"), Search.termLit(idx.toMap, 0L).as("idx"), col("term_score"))
    val firstIdx = matched.groupBy("doc_id").agg(min("idx").as("first_idx"))
    // densified accumulator counts: every term advances i even when it
    // creates nothing new
    val created = firstIdx.groupBy("first_idx").agg(count(lit(1)).as("n_new"))
    val cum = ord.join(created, col("idx") === col("first_idx"), "left")
      .select(col("idx"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("acc", sum("n_new").over(
        Window.orderBy(asc("idx")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iStar = cum.filter(col("acc") <= limit).agg(coalesce(max("idx"), lit(0L)))
      .head.getLong(0)
    val admitted = firstIdx.filter(col("first_idx") <= iStar).select("doc_id")
    def topK(scored: DataFrame, label: String): DataFrame =
      Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
        .select(lit(label).as("strategy"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score"))
    // no admitted-join needed: any doc matched by a term idx ≤ i* has
    // first_idx ≤ i* by definition
    val quit = Search.docScores(matched.filter(col("idx") <= iStar))
    val cont = Search.docScores(matched.join(admitted, "doc_id"))
    topK(quit, "quit").unionByName(topK(cont, "continue"))
  }
}
