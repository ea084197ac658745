package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Divergence-from-randomness PL2 ranking (Amati & van Rijsbergen, TOIS
  * 2002 — public literature; the model family Terrier ships as its
  * default). NOTE: the Stirling correction term Terrier's PL2 adds —
  * (1/(12·tfn))·log2(e) — is intentionally dropped here on BOTH engines
  * (Scala and the DuckDB twin evaluate the identical truncated form), so
  * scores differ slightly from actual Terrier output; ranking behavior of
  * the divergence family is what this operator demonstrates. The third
  * scoring
  * family beside BM25 (tf saturation) and Dirichlet QL (LM smoothing):
  * a term informs a document to the degree its in-document frequency
  * diverges from a Poisson model of random occurrence, normalized by the
  * risk of accepting it (Laplace after-effect) and by document length
  * (normalization 2):
  *
  *   tfn      = tf · log2(1 + c · avgdl / dl)                (c = 1)
  *   λ_t      = cf_t / N                                     (Poisson mean)
  *   score(d) = Σ_t  1/(tfn+1) · ( tfn·log2(tfn/λ_t)
  *                               + (λ_t − tfn)·log2(e)
  *                               + 0.5·log2(2π·tfn) )
  *
  * matched postings only (tf = 0 contributes nothing by convention, as in
  * Terrier). log2(x) is computed as ln(x)·(1/ln 2) with the literal
  * constant on BOTH engines, so the whole expression is one shared libm
  * `ln` decomposition — IEEE-aligned to the rounding tolerance, exactly
  * like the BM25/QL twins.
  *
  * Scale shape: identical to BM25's serve plan — one IN-filtered postings
  * scan, λ_t as a literal CASE map (terms are few; cf comes from the same
  * vocabulary-sized stats pass df does), one docStats join on the
  * already-aggregated candidates... except PL2's tfn depends on dl, so the
  * docStats join happens BEFORE the per-doc aggregate; the join is still
  * posting-sized on the term-pruned scan, never corpus × vocabulary. */
object Dfr {
  /** 1/ln(2) and log2(e) (equal), and 2π, as shared literals */
  val InvLn2 = 1.4426950408889634
  val TwoPi  = 6.283185307179586

  /** collection frequency per query term from a term-pruned postings pass */
  def lookupCf(postings: DataFrame, terms: Set[String]): Map[String, Long] =
    Lm.lookupCf(postings, terms)

  /** Disjunctive (matched-terms-only) PL2 top-k: (rank, doc_id, score).
    * cfs: term → collection frequency (> 0 — the missing-term frontend
    * guarantees this); nDocs = N for the Poisson mean. */
  def pl2TopK(postings: DataFrame, docStats: DataFrame,
              cfs: Map[String, Long], nDocs: Long, avgDl: Double,
              k: Int, c: Double = 1.0): DataFrame = {
    require(cfs.nonEmpty && cfs.values.forall(_ > 0L), "cf must be positive")
    val terms = cfs.keys.toSeq.sorted
    val lambdaCol = Search.termLit(cfs.map { case (t, cf) => t -> cf.toDouble / nDocs.toDouble }, 0.0)
    val tfn = col("tf") * log(lit(1.0) + lit(c) * lit(avgDl) / col("dl")) * lit(InvLn2)
    val contrib = (lit(1.0) / (col("tfn") + lit(1.0))) *
      (col("tfn") * log(col("tfn") / col("lambda")) * lit(InvLn2)
        + (col("lambda") - col("tfn")) * lit(InvLn2)
        + lit(0.5) * log(lit(TwoPi) * col("tfn")) * lit(InvLn2))
    val scored = postings
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .join(docStats, "doc_id")
      .withColumn("lambda", lambdaCol)
      .withColumn("tfn", tfn)
      .withColumn("contrib", contrib)
      .groupBy("doc_id").agg(sum("contrib").as("score"))
    Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** scalar twin for specs */
  def scoreS(tfs: Map[String, Long], dl: Long, cfs: Map[String, Long],
             nDocs: Long, avgDl: Double, c: Double = 1.0): Double =
    cfs.keys.toSeq.sorted.filter(t => tfs.getOrElse(t, 0L) > 0L).map { t =>
      val lambda = cfs(t).toDouble / nDocs.toDouble
      val tfn = tfs(t) * math.log(1.0 + c * avgDl / dl) * InvLn2
      (1.0 / (tfn + 1.0)) * (tfn * math.log(tfn / lambda) * InvLn2
        + (lambda - tfn) * InvLn2
        + 0.5 * math.log(TwoPi * tfn) * InvLn2)
    }.sum
}
