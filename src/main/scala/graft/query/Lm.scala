package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty 2001) — the
  * classic language-model alternative to BM25, offered alongside it the way
  * Lucene offers `LMDirichletSimilarity` next to `BM25Similarity`. The
  * reference ranks by Σtf only (/root/reference/src/main/java/searchengine/
  * tools/SearcherPage.java:91-107); this is a second north-rule scoring
  * upgrade with a different smoothing philosophy: rare-term evidence is
  * weighted by collection frequency (cf), and long documents are penalised
  * through the Dirichlet prior μ rather than BM25's pivoted tf saturation.
  *
  * score(d, q) = Σ_{t∈q} ln( (tf_td + μ·p_t) / (dl_d + μ) ),  p_t = cf_t/|C|
  *
  * Computed in the standard matched-postings-only decomposition so docs
  * missing a term never materialise zero-tf rows:
  *
  *   score = Σ_{t∈q, tf>0} ln(1 + tf/(μ·p_t))   — one postings pass
  *         + Σ_{t∈q} ln(μ·p_t)                  — per-query driver constant
  *         − |q|·ln(dl + μ)                     — one docStats join, AFTER
  *                                                the aggregate (candidates
  *                                                ≪ postings)
  *
  * Scale shape: identical to BM25's — ONE IN-filtered postings scan (the
  * term filter pushes into the scan), map-side partial aggregation on
  * doc_id, then a join of the (already aggregated, candidate-sized) rows
  * against docStats. μ·p_t enters the plan as one map literal like df
  * does in BM25, so there is no dictionary join. The DuckDB twin computes
  * the SAME decomposition with the same operation order, keeping the two
  * engines IEEE-aligned to the rounding tolerance.
  */
object Lm {
  /** standard Dirichlet prior (Zhai & Lafferty's robust default) */
  val Mu = 2000.0

  /** collection frequency (Σtf) per query term — |q| rows collected, from a
    * term-pruned postings pass (the isin filter reaches the scan). */
  def lookupCf(postings: DataFrame, terms: Set[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    postings.filter(col("term").isin(terms.toSeq.map(x => x: Any): _*))
      .groupBy("term").agg(sum("tf").as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Disjunctive (any-match candidates, full-QL semantics) Dirichlet top-k:
    * (rank, doc_id, score). `cfs`: term → collection frequency;
    * `totalTokens`: |C| = Σ dl. Terms with cf = 0 must be dropped by the
    * caller (ln(0) — the missing-term frontend already guarantees this). */
  def qlTopK(postings: DataFrame, docStats: DataFrame,
             cfs: Map[String, Long], totalTokens: Long,
             k: Int, mu: Double = Mu): DataFrame = {
    require(cfs.nonEmpty && cfs.values.forall(_ > 0L), "cf must be positive")
    val terms = cfs.keys.toSeq.sorted
    val muPt: Map[String, Double] =
      terms.map(t => t -> mu * (cfs(t).toDouble / totalTokens.toDouble)).toMap
    val qConst = terms.map(t => math.log(muPt(t))).sum
    val muPtCol = Search.termLit(muPt, 0.0)
    val scored = postings
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .withColumn("delta", log(lit(1.0) + col("tf") / muPtCol))
      .groupBy("doc_id").agg(sum("delta").as("sdelta"))
      .join(docStats, "doc_id")
      .withColumn("score",
        col("sdelta") + lit(qConst) -
          lit(terms.size.toDouble) * log(col("dl") + lit(mu)))
    Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** scalar twin for specs */
  def scoreS(tfs: Map[String, Long], dl: Long, cfs: Map[String, Long],
             totalTokens: Long, mu: Double = Mu): Double = {
    val terms = cfs.keys.toSeq.sorted
    val muPt = terms.map(t => t -> mu * (cfs(t).toDouble / totalTokens.toDouble)).toMap
    val sdelta = terms.filter(t => tfs.getOrElse(t, 0L) > 0L)
      .map(t => math.log(1.0 + tfs(t).toDouble / muPt(t))).sum
    val qConst = terms.map(t => math.log(muPt(t))).sum
    sdelta + qConst - terms.size.toDouble * math.log(dl + mu)
  }
}
