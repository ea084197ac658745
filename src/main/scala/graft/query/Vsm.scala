package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-space cosine ranking with SMART lnc.ltc weighting (Salton &
  * Buckley 1988; Manning, Raghavan & Schütze, IIR §6.4.3 — public
  * literature): the third classic ranking family next to BM25
  * (Search.bm25TopK) and Dirichlet QL (Lm.qlTopK), the way Lucene ships
  * `ClassicSimilarity` beside `BM25Similarity`.
  *
  *   doc weight   d_t = (1 + ln tf_td) / ‖d‖     (log-tf, NO idf, cosine)
  *   query weight q_t = idf_t / ‖q‖,  idf_t = ln(N / df_t)
  *   score(d, q)  = Σ_{t∈q} q_t · d_t
  *
  * Scale shape — identical to BM25's: the doc norm ‖d‖ is a per-doc
  * aggregate over FULL postings, i.e. an INDEX ARTIFACT like docStats.dl
  * (built once, not per query); the query path is ONE IN-filtered postings
  * scan (term filter pushes into the scan), map-side partial aggregation
  * on doc_id, then a join of candidate-sized rows against the norms. Query
  * idf/norm are driver scalars over ≤|q| dictionary rows.
  */
object Vsm {

  /** per-doc lnc norm — index-build artifact: ‖d‖ = sqrt(Σ_t (1+ln tf)²) */
  def docNorms(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id")
      .agg(sqrt(sum(pow(lit(1.0) + log(col("tf")), 2.0))).as("dnorm"))

  /** lnc.ltc cosine top-k: (rank, doc_id, score), ties by doc_id asc.
    * `dfs` = query-term → df (driver-tiny, from the dictionary); terms
    * with df = 0 must be dropped by the caller (the missing-term frontend
    * already guarantees this). */
  def vsmTopK(postings: DataFrame, docNorms: DataFrame, dfs: Map[String, Long],
              nDocs: Long, k: Int): DataFrame = {
    require(dfs.nonEmpty && dfs.values.forall(_ > 0L), "df must be positive")
    val terms = dfs.keys.toSeq.sorted
    val idf = terms.map(t => t -> math.log(nDocs.toDouble / dfs(t))).toMap
    val qnorm = math.sqrt(idf.values.map(x => x * x).sum)
    val qw = Search.termLit(idf.map { case (t, w) => t -> w / qnorm }, 0.0)
    val scored = postings
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .withColumn("part", qw * (lit(1.0) + log(col("tf"))))
      .groupBy("doc_id").agg(sum("part").as("num"))
      .join(docNorms, "doc_id")
      .withColumn("score", col("num") / col("dnorm"))
    Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** scalar twin for specs: score of one doc given its query-term tfs and
    * its FULL tf vector (the norm ranges over all doc terms) */
  def scoreS(tfs: Map[String, Long], allDocTfs: Map[String, Long],
             dfs: Map[String, Long], nDocs: Long): Double = {
    val idf = dfs.view.mapValues(df => math.log(nDocs.toDouble / df)).toMap
    val qnorm = math.sqrt(idf.values.map(x => x * x).sum)
    val dnorm = math.sqrt(allDocTfs.values.map { tf =>
      val w = 1.0 + math.log(tf.toDouble); w * w
    }.sum)
    dfs.keys.toSeq.sorted.map { t =>
      val tf = tfs.getOrElse(t, 0L)
      if (tf == 0L) 0.0
      else (idf(t) / qnorm) * ((1.0 + math.log(tf.toDouble)) / dnorm)
    }.sum
  }
}
