package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequential dependence model (Metzler & Croft 2005, "A Markov random
  * field model for term dependencies" — public literature): the classic
  * term-DEPENDENCE ranker that consistently beats bag-of-words on verbose
  * queries. Three feature families share one Dirichlet-smoothed form:
  *
  *   score = λ_T Σ_t f(tf_t)  +  λ_O Σ_pairs f(#1(a b))  +  λ_U Σ_pairs f(#uw8(a b))
  *   f(x)  = ln( (x + μ·cf_x/|C|) / (dl + μ) )
  *
  * where #1 counts EXACT ordered adjacencies of each adjacent query pair
  * and #uw8 counts unordered co-occurrences within an 8-token window
  * (position pairs with 0 < |Δ| < 8 — a≠b so positions never collide).
  * λ = (0.85, 0.10, 0.05), the paper's canonical weights.
  *
  * Each feature family is computed in the SAME matched-only decomposition
  * as [[Lm.qlTopK]] (zero-count docs never materialise: ln(1 + x/μp) with
  * x = 0 vanishes), so the whole model is: one IN-filtered postings scan
  * (unigrams) + one positions self-join per adjacent pair (co-partitioned
  * on doc_id, each side pre-filtered to ONE term before the join — the
  * pair scan reads only the two posting lists, never the positions table)
  * + candidate-sized left joins. Pairs whose collection count is zero drop
  * out of the feature set entirely (their counts are zero everywhere, and
  * the smoothing term would be ln 0), mirroring how the missing-term
  * frontend drops unknown unigrams.
  */
object Sdm {

  /** per-doc co-occurrence count of (a, b): ordered exact adjacency
    * (pos_b = pos_a + 1) or unordered window (0 < |Δ| < win). */
  def pairCounts(tokenPos: DataFrame, a: String, b: String,
                 ordered: Boolean, win: Int = 8): DataFrame = {
    require(a != b, "pair terms must differ (stop-filtered adjacent query terms)")
    val pa = tokenPos.filter(col("term") === a)
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = tokenPos.filter(col("term") === b)
      .select(col("doc_id"), col("pos").as("pb"))
    val j = pa.join(pb, "doc_id")
    val m =
      if (ordered) j.filter(col("pb") === col("pa") + 1)
      else j.filter(abs(col("pb") - col("pa")) < win)
    m.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
  }

  /** Full SDM top-k: (rank, doc_id, score). Candidates are the unigram
    * disjunction (any-match), the standard SDM candidate set; window
    * features left-join onto it. `cfs` must be positive (missing-term
    * frontend contract, as in [[Lm.qlTopK]]); pair collection counts are
    * measured here with one tiny aggregate per pair. */
  def sdmTopK(postings: DataFrame, tokenPos: DataFrame, docStats: DataFrame,
              terms: Seq[String], cfs: Map[String, Long], totalTokens: Long,
              k: Int, mu: Double = Lm.Mu, win: Int = 8,
              lambdaT: Double = 0.85, lambdaO: Double = 0.10,
              lambdaU: Double = 0.05): DataFrame = {
    require(cfs.nonEmpty && cfs.values.forall(_ > 0L), "cf must be positive")
    val c = totalTokens.toDouble
    val uniq = terms.distinct.filter(cfs.contains)
    // --- f_T: the Lm decomposition over the unigram set
    val muPt = uniq.map(t => t -> mu * (cfs(t).toDouble / c)).toMap
    val constT = uniq.map(t => math.log(muPt(t))).sum
    val muPtCol = Search.termLit(muPt, 0.0)
    val sT = postings.filter(col("term").isin(uniq.map(x => x: Any): _*))
      .withColumn("delta", log(lit(1.0) + col("tf") / muPtCol))
      .groupBy("doc_id").agg(sum("delta").as("sd_t"))
    // --- f_O / f_U: per adjacent pair, same decomposition over counts
    def family(ordered: Boolean): (Option[DataFrame], Double, Int) = {
      val feats = terms.sliding(2).toSeq
        .collect { case Seq(a, b) if a != b =>
          val cnts = pairCounts(tokenPos, a, b, ordered, win)
          val r = cnts.agg(sum("cnt")).head()
          (cnts, if (r.isNullAt(0)) 0L else r.getLong(0))
        }
        .filter(_._2 > 0L)
      val const = feats.map { case (_, cf) => math.log(mu * (cf.toDouble / c)) }.sum
      val deltas = feats.map { case (cnts, cf) =>
        cnts.select(col("doc_id"),
          log(lit(1.0) + col("cnt") / lit(mu * (cf.toDouble / c))).as("wdelta"))
      }
      val sd = deltas.reduceOption(_ unionByName _)
        .map(_.groupBy("doc_id").agg(sum("wdelta").as("sd")))
      (sd, const, feats.size)
    }
    val (sdO, constO, nO) = family(ordered = true)
    val (sdU, constU, nU) = family(ordered = false)
    def attach(base: DataFrame, f: Option[DataFrame], nm: String) = f match {
      case None => base.withColumn(nm, lit(0.0))
      case Some(d) => base.join(d.withColumnRenamed("sd", nm), Seq("doc_id"), "left")
        .withColumn(nm, coalesce(col(nm), lit(0.0)))
    }
    val lnDl = log(col("dl") + lit(mu))
    val scored = attach(attach(sT, sdO, "sd_o"), sdU, "sd_u")
      .join(docStats, "doc_id")
      .withColumn("score",
        lit(lambdaT) * (col("sd_t") + lit(constT) - lit(uniq.size.toDouble) * lnDl) +
        lit(lambdaO) * (col("sd_o") + lit(constO) - lit(nO.toDouble) * lnDl) +
        lit(lambdaU) * (col("sd_u") + lit(constU) - lit(nU.toDouble) * lnDl))
    Search.rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }
}
