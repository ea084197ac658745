package graft.query

import graft.functions.ByRef
import graft.index.InvertedIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Query execution — the reference's steps 6-8 (/root/repo/SURVEY.md §3.1)
  * as ONE Catalyst plan: posting fetch ⋈ intersection ⋈ scoring ⋈ top-k,
  * crossing driver→executor exactly once, vs the reference's N+1 JDBC
  * round-trips per query (SearcherPage.java:95,109,118).
  *
  * Every BM25 ranker here (and in Taat, BooleanQuery, Passage, Champions)
  * scores through one kernel: [[termScores]] (term IN filter, df map
  * lookup, per-term score) and [[docScores]] (Σ score + n_terms per doc
  * key, gated n_terms = |q| for AND, >= m for min-match, ungated for OR).
  * Every term → value column comes from [[termLit]]: one map literal.
  *
  * Physical shape (verified via .explain in SearchSpec):
  *   postings scan (IN-list filter on term, pushed to parquet)
  *   → shuffle-join with docStats on doc_id (or broadcast when docStats small)
  *   → hash aggregate per doc_id (partial+final): n_terms + Σ bm25
  *   → filter n_terms = k      (conjunctive intersection, J5b)
  *   → TakeOrderedAndProject   (top-k, no global sort)
  */
object Search {

  /** Conjunctive candidate set: docs containing ALL query terms — the k-way
    * posting intersection (reference SearcherPage.java:108-130) as a single
    * count-k aggregate. */
  def conjunctive(postings: DataFrame, terms: Seq[String]): DataFrame = {
    val k = terms.size
    postings.filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === k).select("doc_id")
  }

  /** Equivalent chained left_semi form (J5a) — kept for the cross-check
    * property test (SURVEY.md §2.4 J5: build both, assert equal). */
  def conjunctiveSemi(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    terms.map(t => postings.filter(col("term") === t).select("doc_id"))
      .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
  }

  /** term → value column: ONE map-typed literal looked up by `term`,
    * `default` for any other term; every per-query term map (df, weight,
    * term order, synonym group, constants) goes through here. Generated
    * code holds the map by reference, so one class serves every query
    * (`map(lit…)` would be rewritten into a CASE of inlined literals). */
  private[graft] def termLit[V: TypeTag](vs: Map[String, V], default: V): Column =
    if (vs.isEmpty) lit(default) else coalesce(typedLit(vs).getItem(col("term")), lit(default))

  /** The per-term BM25 rows every DataFrame ranker sums: the rows of
    * `rows` whose term is a key of `dfs`, plus `df` and
    * term_score = [weight ·] Bm25.score(tf, df, len). `rows` must carry
    * term, tf and the length column `len` (a postings ⋈ docStats join, or
    * a relation that stores its lengths); the term filter pushes below the
    * join into the scan. Absent or unit `weights` emit no multiply. Terms,
    * df, nDocs and avgDl enter the plan by reference (same scores, bit for bit). */
  private[graft] def termScores(rows: DataFrame, dfs: Map[String, Long], nDocs: Long,
                                avgDl: Double, len: String = "dl",
                                weights: Map[String, Int] = Map.empty): DataFrame = {
    val df = termLit(dfs, 0L)
    val bm25 = Bm25.score(col("tf"), df, col(len), ByRef(nDocs.toDouble), ByRef(avgDl))
    rows.filter(ByRef.inSet(col("term"), dfs.keys))
      .withColumn("df", df)
      .withColumn("term_score",
        if (weights.values.forall(_ == 1)) bm25 else termLit(weights, 0) * bm25)
  }

  /** [[termScores]] rows summed per doc key: (keys…, n_terms, score), kept
    * where `gate` (over n_terms) holds — `n_terms = |q|` for AND,
    * `>= m` for min-match, none for OR. */
  private[graft] def docScores(termRows: DataFrame, gate: Option[Column] = None,
                               keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val agg = termRows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).as("score"))
    gate.fold(agg)(agg.filter)
  }

  /** Shared conjunctive BM25 candidate scoring: one IN-filtered postings
    * scan → docStats join → hash aggregate → n_terms = |q| conjunction.
    * Returns (doc_id, score). Used by bm25TopK, blendTopK and the facade's
    * count + top-k pass so the candidate semantics cannot diverge. */
  def conjunctiveScores(postings: DataFrame, docStats: DataFrame,
                        dfs: Map[String, Long], nDocs: Long,
                        avgDl: Double): DataFrame =
    docScores(termScores(postings.join(docStats, "doc_id"), dfs, nDocs, avgDl),
        Some(col("n_terms") === ByRef(dfs.size.toLong)))
      .select(col("doc_id"), col("score"))

  /** distributed top-k + rank stamp: TakeOrdered limit, then row_number over
    * the ≤ k surviving rows (single tiny partition) with the SAME sort keys
    * — the two sorts must match exactly for ranks to be correct, which is
    * why this lives in one place. */
  private[graft] def rankTopK(scored: DataFrame, k: Int, sort: Seq[org.apache.spark.sql.Column],
                              offset: Int = 0): DataFrame =
    scored.orderBy(sort: _*).offset(offset).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(sort: _*)) + offset)

  /** One ranked (doc_id, score) row of the count + top-k kernel. */
  final case class Scored(docId: Long, score: Double)

  /** The rank order of [[rankTopK]] (score desc, doc_id asc) as a
    * comparator: greater = ranks better. */
  private object RankOrder extends java.util.Comparator[Scored] with Serializable {
    def compare(a: Scored, b: Scored): Int =
      if (a.score > b.score) 1
      else if (a.score < b.score) -1
      else java.lang.Long.compare(b.docId, a.docId)
  }

  /** The count + top-k kernel both serve tiers rank through: counts every
    * candidate offered and keeps the best `k` in the rank order of
    * [[rankTopK]]. The heap root is the worst kept row. Storage grows with
    * the rows kept and is never pre-sized to `k`, so a saturated `k` costs
    * only what the candidate set holds. Partials merge with [[merge]]. */
  final class TopK(val k: Int) extends Serializable {
    require(k >= 0, s"k must be >= 0, got $k")
    /** candidates counted so far, kept or not */
    var count = 0L
    private val heap = new java.util.PriorityQueue[Scored](RankOrder)

    /** true once `k` rows are kept: a candidate must then beat [[theta]] */
    def full: Boolean = heap.size >= k
    /** the score a candidate must reach to enter; +∞ when k = 0 */
    def theta: Double =
      if (!full) Double.NegativeInfinity
      else if (k == 0) Double.PositiveInfinity
      else heap.peek.score

    /** count one candidate and keep it if it ranks in the best `k` */
    def offer(docId: Long, score: Double): Unit = { count += 1; keep(docId, score) }

    /** keep a row, without counting it, if it ranks in the best `k` */
    def keep(docId: Long, score: Double): Unit =
      if (heap.size < k) heap.add(Scored(docId, score))
      else if (k > 0 && RankOrder.compare(Scored(docId, score), heap.peek) > 0) {
        heap.poll(); heap.add(Scored(docId, score))
      }

    def merge(o: TopK): TopK = {
      count += o.count
      o.heap.forEach(s => keep(s.docId, s.score))
      this
    }

    /** the kept rows, best first */
    def ranked: Array[Scored] =
      heap.toArray(new Array[Scored](0)).sortWith((a, b) => RankOrder.compare(a, b) > 0)
  }

  /** `(count, best k)` of a (doc_id, score) relation in ONE action: a
    * [[TopK]] per partition, merged with treeAggregate. The count comes
    * back in the action's result, so a retried task cannot add to it.
    * With an `after` cursor, every row counts but only rows ranked after
    * it are kept: the page after the cursor, with the full match count. */
  def countTopK(scored: DataFrame, k: Int, after: Option[Scored] = None): TopK =
    scored.select(col("doc_id"), col("score")).rdd
      .treeAggregate(new TopK(k))(
        (acc, r) => {
          val s = Scored(r.getLong(0), r.getDouble(1))
          if (after.forall(RankOrder.compare(s, _) < 0)) acc.offer(s.docId, s.score) else acc.count += 1
          acc
        },
        (a, b) => a.merge(b))

  /** (rank, doc_id, score) rows of a top-k, best first; rank is an int */
  private[graft] def view(spark: SparkSession, top: TopK): DataFrame =
    spark.createDataFrame(top.ranked.toSeq.zipWithIndex.map { case (h, i) => (i + 1, h.docId, h.score) })
      .toDF("rank", "doc_id", "score")

  /** BM25-scored conjunctive top-k: (rank, doc_id, score).
    * dfs: term -> df (from the driver-side plan — terms are few, so df
    * enters the plan as a literal CASE map, no dictionary join needed). */
  def bm25TopK(postings: DataFrame, docStats: DataFrame,
               dfs: Map[String, Long], nDocs: Long, avgDl: Double,
               k: Int, offset: Int = 0): DataFrame = {
    val scored = conjunctiveScores(postings, docStats, dfs, nDocs, avgDl)
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")), offset)
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Minimum-should-match BM25 (Lucene's `minimumShouldMatch` — the middle
    * ground between AND and OR that verbose queries need: AND returns
    * nothing when one term is off, OR drowns in single-term matches).
    * Candidates must match at least `minMatch` of the |q| query terms;
    * minMatch = |q| is bm25TopK, minMatch = 1 the disjunctive variant.
    * Same ONE IN-filtered postings pass + hash aggregate; the match-count
    * gate runs on the aggregated candidate-sized rows, so the relaxation
    * costs nothing extra. */
  def bm25TopKMinMatch(postings: DataFrame, docStats: DataFrame,
                       dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                       minMatch: Int, k: Int): DataFrame = {
    require(minMatch >= 1 && minMatch <= dfs.size,
      s"minMatch must be in [1, ${dfs.size}]")
    val scored = docScores(termScores(postings.join(docStats, "doc_id"), dfs, nDocs, avgDl),
      Some(col("n_terms") >= minMatch))
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("score"))
  }

  /** Score EXPLAIN (Lucene's `explain` API as a relation): the per-term
    * BM25 breakdown — tf, df, dl, idf, tf-norm, contribution — for the
    * top-k documents of a query. The debugging surface every relevance
    * engineer asks for first ("why does THIS doc rank?"); because it is a
    * relation, a whole regression suite's worth of explains is one plan.
    * Cost: the top-k ranking itself + one postings probe broadcast-joined
    * to the k winners (never a second full scoring pass). */
  def explain(postings: DataFrame, docStats: DataFrame,
              dfs: Map[String, Long], nDocs: Long, avgDl: Double,
              k: Int): DataFrame = {
    val top = bm25TopK(postings, docStats, dfs, nDocs, avgDl, k)
      .select(col("rank"), col("doc_id"))
    termScores(postings.join(broadcast(top), "doc_id").join(docStats, "doc_id"),
        dfs, nDocs, avgDl)
      .select(col("rank"), col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        Bm25.idf(col("df"), nDocs).as("idf"),
        Bm25.tfNorm(col("tf"), col("dl"), avgDl).as("tfnorm"),
        col("term_score").as("contrib"))
  }

  /** Recency-decayed ranking (Elasticsearch function_score exp-decay):
    * score′ = BM25 · 0.5^(age/halfLife) — fresh documents outrank stale
    * ones at equal lexical relevance, with a tunable half-life. `ages` is a
    * (doc_id, age_days) relation (in production, derived from the crawl
    * timestamp); it joins AFTER the candidate aggregate, so the decay join
    * touches candidates, never postings. Multiplicative decay preserves
    * zero-candidates semantics (missing conjunctive terms still exclude). */
  def recencyTopK(postings: DataFrame, docStats: DataFrame,
                  dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                  ages: DataFrame, halfLifeDays: Double, k: Int): DataFrame = {
    val scored = conjunctiveScores(postings, docStats, dfs, nDocs, avgDl)
      .join(ages, "doc_id")
      .withColumn("score",
        col("score") * pow(lit(0.5), col("age_days") / lit(halfLifeDays)))
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Grouped top-k ("top hits per facet", Elasticsearch top_hits): the best
    * m docs PER REPO for a conjunctive BM25 query, ordered (repo asc,
    * grp_rank asc). The per-group rank ≤ m filter compiles to a
    * WindowGroupLimit heap — each group keeps an m-row heap instead of
    * sorting its candidates, so one hot repo with 10^7 matches costs an
    * m-row heap, not a 10^7-row sort. Candidate scoring is the SAME
    * conjunctiveScores relation the flat top-k uses. */
  def groupedTopK(postings: DataFrame, docStats: DataFrame, corpus: DataFrame,
                  dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                  m: Int): DataFrame = {
    val scored = conjunctiveScores(postings, docStats, dfs, nDocs, avgDl)
      .join(corpus.select("doc_id", "repo"), "doc_id")
    scored.withColumn("grp_rank", row_number().over(
        Window.partitionBy("repo").orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .filter(col("grp_rank") <= m)
      .select(col("repo"), col("grp_rank"), col("doc_id"), col("score"))
  }

  /** Disjunctive (OR-semantics) BM25 top-k — same aggregate without the
    * conjunction filter; the exhaustive twin of Wand.topKDisjunctive. */
  def bm25TopKDisjunctive(postings: DataFrame, docStats: DataFrame,
                          dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                          k: Int): DataFrame = {
    val scored = docScores(termScores(postings.join(docStats, "doc_id"), dfs, nDocs, avgDl))
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Synonym-group BM25 top-k (Lucene SynonymQuery semantics, made exact):
    * each query position is a GROUP of interchangeable surface terms — the
    * thesaurus move ("join" also matches "merge") that a 1→N lexicon can't
    * express because the index keeps both forms distinct. A group scores as
    * ONE pseudo-term: tf(doc, g) = Σ tf over members (a doc saying "merge"
    * three times matches g exactly like one saying "join" three times), and
    * df(g) = the number of docs containing ANY member — the true union df,
    * computed for free from the per-(doc, group) aggregate (Lucene
    * approximates it with max member df; the union is the principled IDF
    * and is what the DuckDB twin pins). Conjunctive over groups: every
    * group must match, mirroring `bm25TopK`'s n_terms gate. Member sets
    * must be disjoint (a term can't expand two positions).
    *
    * Scale shape: one member-IN-pruned postings pass → (doc, group)
    * aggregate (map-side partials absorb hot members); df(g) is a
    * |groups|-row broadcast; everything after the first aggregate is
    * candidate-sized. Adding synonyms widens the IN list, never adds a
    * pass. */
  def synonymTopK(postings: DataFrame, docStats: DataFrame,
                  groups: Seq[(String, Seq[String])], nDocs: Long,
                  avgDl: Double, k: Int): DataFrame = {
    val members = groups.flatMap(_._2)
    require(members.distinct.size == members.size, "synonym groups must be disjoint")
    val grpCol = termLit(groups.flatMap { case (g, ms) => ms.map(_ -> g) }.toMap, null)
    val gtf = postings.filter(col("term").isin(members.map(x => x: Any): _*))
      .withColumn("grp", grpCol)
      .groupBy("doc_id", "grp").agg(sum("tf").as("gtf"))
    val gdf = gtf.groupBy("grp").agg(count(lit(1)).as("gdf"))
    val scored = gtf.join(broadcast(gdf), "grp").join(docStats, "doc_id")
      .withColumn("gscore", Bm25.score(col("gtf"), col("gdf"), col("dl"), nDocs, avgDl))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grps"), sum("gscore").as("score"))
      .filter(col("n_grps") === groups.size)
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Phrase-proximity boosted BM25: score′ = BM25 + β·ln(1 + phrase_tf) —
    * the standard exact-phrase bonus (documents containing the query AS A
    * PHRASE outrank bag-of-words matches at equal BM25; Metzler & Croft
    * 2005's sequential-dependence idea reduced to its exact-ordered term).
    * `phraseTf` is the (doc_id, phrase_tf) relation from
    * [[graft.index.Positional.phraseMatches]] — or the biword probe for
    * 2-term queries, which is the cheap path. LEFT join: docs matching only
    * as bags keep their BM25 (ln(1+0) = 0), so the boost can only promote,
    * never exclude. Scale shape: the boost join touches the CONJUNCTIVE
    * candidate set against a phrase relation that is itself term-filtered —
    * both sides tiny relative to the postings; one extra co-partitioned
    * join, no new postings pass. */
  def bm25PhraseBoost(postings: DataFrame, docStats: DataFrame,
                      dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                      phraseTf: DataFrame, k: Int, beta: Double = 0.5): DataFrame = {
    val boosted = conjunctiveScores(postings, docStats, dfs, nDocs, avgDl)
      .join(phraseTf, Seq("doc_id"), "left")
      .withColumn("score", col("score") +
        lit(beta) * log(lit(1.0) + coalesce(col("phrase_tf"), lit(0L)).cast("double")))
    rankTopK(boosted, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Cursor ("search after") pagination: the next page = top-k of the
    * candidates STRICTLY AFTER the cursor (score, doc_id) in the
    * deterministic total order (score desc, doc_id asc). This is the deep-
    * paging scale path: OFFSET p·k recomputes and discards p·k rows on
    * every page (the classic collapse around page 10^4), while the cursor
    * drops candidates BEFORE the top-k heap, so page 10^4 costs the same
    * as page 1. Because the total order is deterministic, the cursor page
    * is provably identical to the offset page — ft_search_after hashes
    * against exactly that statement (ranks offset+1..offset+k of the full
    * ordering). The cursor score is the exact double collected from the
    * previous page; scoring is deterministic, so the strict comparison
    * against the recomputed score is bit-safe. A view of [[countTopK]]'s
    * cursor, the one SearchEngine.searchAfter ranks with. */
  def bm25TopKAfter(postings: DataFrame, docStats: DataFrame,
                    dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                    k: Int, afterScore: Double, afterDoc: Long): DataFrame =
    view(postings.sparkSession, countTopK(conjunctiveScores(postings, docStats, dfs, nDocs, avgDl), k,
      after = Some(Scored(afterDoc, afterScore))))

  /** Expansion-term mining for blind relevance feedback: the strongest
    * terms of the pseudo-relevant doc set, weighted by Σtf WITHIN that set
    * (BIGINT — order-independent, so the top-e cut is bit-exact at any
    * parallelism, unlike a float tf-idf weight whose sum order could flip a
    * boundary tie). Original query terms are excluded; ties break term asc.
    * `feedbackDocs` is ≤ r driver-side ids, so the doc filter is a pushed
    * IN predicate on the postings scan — one bounded point-read, never a
    * corpus pass. */
  def prfExpansion(postings: DataFrame, feedbackDocs: Seq[Long],
                   exclude: Set[String], e: Int): DataFrame =
    postings
      .filter(col("doc_id").isin(feedbackDocs.map(x => x: Any): _*))
      .filter(!col("term").isin(exclude.toSeq.sorted.map(x => x: Any): _*))
      .groupBy("term").agg(sum(col("tf")).as("w"))
      .orderBy(desc("w"), asc("term")).limit(e)

  /** Pseudo-relevance feedback (Rocchio-style blind feedback, Manning IIR
    * §9.1.6): retrieve the top-r docs conjunctively, mine the e strongest
    * terms from them (`prfExpansion`), then re-rank DISJUNCTIVELY with the
    * original terms weighted `wOrig`× and expansion terms 1× — docs matching
    * only expansion terms can now surface (recall widens), while original-
    * term matches dominate (precision holds). The rescore is the one
    * IN-filtered postings scan + hash aggregate of every BM25 ranker, the
    * integer weights a second literal CASE map beside the df map.
    *
    * Scale shape: two bounded driver collects (r doc ids, e terms — the
    * same ≤-dozens contract as QueryFrontend.plan's df lookup) bracketing
    * three IN-pruned postings scans; nothing corpus-sized ever leaves the
    * executors. At qps scale, the feedback retrieval would ride the WAND
    * tier — the expansion/rescore halves are tier-agnostic. */
  def prfTopK(postings: DataFrame, docStats: DataFrame, termStats: DataFrame,
              dfs: Map[String, Long], nDocs: Long, avgDl: Double, k: Int,
              r: Int = 5, e: Int = 3, wOrig: Int = 2): DataFrame = {
    val fbDocs = bm25TopK(postings, docStats, dfs, nDocs, avgDl, r)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val expTerms = prfExpansion(postings, fbDocs, dfs.keySet, e)
      .select("term").collect().map(_.getString(0)).toSet
    val expDfs = QueryFrontend.lookupDf(termStats, expTerms)
    val weights = dfs.map { case (t, _) => t -> wOrig } ++ expDfs.map { case (t, _) => t -> 1 }
    val scored = docScores(termScores(postings.join(docStats, "doc_id"), dfs ++ expDfs,
      nDocs, avgDl, weights = weights))
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of two
    * rankings — the standard hybrid lexical+vector combiner:
    * score(d) = Σ_r 1/(k0 + rank_r(d)), a ranking that omits d contributes
    * 0. Ranks are integers, each reciprocal is one IEEE division, and the
    * sum is a fixed two-term expression (not a float aggregation) — the
    * fused order is bit-exact at any parallelism. Fusing on ranks rather
    * than scores needs no score normalization across heterogeneous scorers
    * (BM25 vs cosine), which is the whole point of RRF. Inputs are top-N
    * relations, so the fusion full-outer join costs O(N) regardless of
    * corpus size. Inputs: (doc_id, rank); output (rank, doc_id, rrf). */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60, k: Int = 10): DataFrame = {
    val fa = a.select(col("doc_id"), col("rank").cast("long").as("ra"))
    val fb = b.select(col("doc_id"), col("rank").cast("long").as("rb"))
    val scored = fa.join(fb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(k0) + col("ra")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(k0) + col("rb")), lit(0.0))).as("rrf"))
    rankTopK(scored, k, Seq(desc("rrf"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("rrf"))
  }

  /** Multi-stage ranking cascade (Wang, Lin & Metzler, SIGIR 2011, "A
    * cascade ranking model for efficient ranked retrieval" — public
    * literature): the architecture every production serve path actually
    * runs — a CHEAP stage over many candidates funnels into costlier
    * stages over ever fewer:
    *
    *   stage 1: disjunctive Σtf  (integer, no stats joins)   → top n1
    *   stage 2: BM25 rerank restricted to stage-1 survivors  → top n2
    *   stage 3: exact-phrase boost (positions probed for the n2 docs
    *            ONLY) score + 0.5·ln(1 + phrase_tf)          → top k
    *
    * Per-stage cost is bounded by the previous cut, so the expensive
    * positional probe touches n2 documents regardless of corpus size —
    * the point of the cascade. Ties doc_id asc at every cut, so the
    * funnel is deterministic end to end. */
  def cascadeTopK(postings: DataFrame, docStats: DataFrame, tokenPos: DataFrame,
                  dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                  phraseTerms: Seq[String], n1: Int = 50, n2: Int = 20,
                  k: Int = 10): DataFrame = {
    val terms = dfs.keys.toSeq.sorted
    val m = postings.filter(col("term").isin(terms.map(x => x: Any): _*))
    val c1 = rankTopK(m.groupBy("doc_id").agg(sum("tf").as("stf")),
        n1, Seq(desc("stf"), asc("doc_id")))
      .select("doc_id")
    val s2 = docScores(termScores(m.join(c1, "doc_id").join(docStats, "doc_id"), dfs, nDocs, avgDl))
    val c2 = rankTopK(s2, n2, Seq(desc("score"), asc("doc_id")))
      .select("doc_id", "score")
    val ph = graft.index.Positional.phraseMatches(
      tokenPos.join(c2.select("doc_id"), "doc_id"), phraseTerms)
    val s3 = c2.join(ph, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("score") +
        lit(0.5) * log(lit(1.0) + coalesce(col("phrase_tf"), lit(0L)))).as("score"))
    rankTopK(s3, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Fagin's Threshold Algorithm depth study (Fagin, Lotem & Naor, PODS
    * 2001, "Optimal aggregation algorithms for middleware" — public
    * literature): rank-join two per-attribute sorted lists under a
    * monotone score f(a, b) = b·wB + a, stopping at the first sorted-
    * access depth d* where the best full score seen ≥ the threshold
    * τ(d) = f(a@d, b@d) built from the two lists' marginal values. TA's
    * guarantee: the global top item is inside the seen prefix at d-star —
    * so d-star over N is exactly the fraction of both lists a middleware
    * top-1 needs to scan.
    *
    * Integer attributes keep every comparison exact across engines.
    * Returns ONE row: (n_docs, d_star, scanned_permille, top_doc, top_f).
    *
    * Scale shape: two global rank windows over the attribute table (the
    * same sort an impact-ordered index build already pays — in production
    * the lists are PRE-sorted index artifacts and this entire study is a
    * merge over two cursors), one depth join, one running-max window. */
  def faginTaStudy(attrs: DataFrame, wB: Long,
                   maxRows: Long = graft.index.IndexLayout.DiagnosticMaxRows): DataFrame = {
    // offline diagnostic: two corpus-sized global row_number windows below —
    // the guard refuses production-sized inputs (bounded limit-then-count)
    graft.index.IndexLayout.requireDiagnosticSize(attrs, "faginTaStudy", maxRows)
    val fa = attrs.select(col("doc_id"), col("a"), col("b"),
      (col("b") * lit(wB) + col("a")).as("f"))
    val ranked = fa
      .withColumn("da", row_number().over(Window.orderBy(desc("a"), asc("doc_id"))).cast("long"))
      .withColumn("db", row_number().over(Window.orderBy(desc("b"), asc("doc_id"))).cast("long"))
      .withColumn("seen_d", least(col("da"), col("db")))
    val tau = ranked.select(col("da").as("d"), col("a").as("av"))
      .join(ranked.select(col("db").as("d"), col("b").as("bv")), "d")
      .select(col("d"), (col("bv") * lit(wB) + col("av")).as("tau"))
    val bestAtDepth = ranked.groupBy(col("seen_d").as("d")).agg(max("f").as("bf"))
    val runW = Window.orderBy(asc("d")).rowsBetween(Window.unboundedPreceding, 0)
    val dense = tau.join(bestAtDepth, Seq("d"), "left")
      .withColumn("runbest", max(coalesce(col("bf"), lit(Long.MinValue))).over(runW))
    val dStar = dense.filter(col("runbest") >= col("tau"))
      .agg(min("d").as("d_star"))
    val n = fa.agg(count(lit(1)).as("n_docs"))
    val top = fa.orderBy(desc("f"), asc("doc_id")).limit(1)
      .select(col("doc_id").as("top_doc"), col("f").as("top_f"))
    dStar.crossJoin(n).crossJoin(top)
      .select(col("n_docs"), col("d_star"),
        expr("d_star * 1000 div n_docs").as("scanned_permille"),
        col("top_doc"), col("top_f"))
  }

  /** CombSUM / CombMNZ score fusion (Fox & Shaw, TREC-2 1994 — public
    * literature; the classic SCORE-level alternative to RRF's rank-level
    * fusion). Each system's scores min-max normalize over its OWN top-N
    * (heterogeneous scorers become comparable without training), CombSUM
    * sums the normalized scores (absent → 0), CombMNZ multiplies the sum
    * by the number of systems returning the doc — rewarding cross-system
    * agreement, which is what makes MNZ the strongest unsupervised fuser
    * in the TREC studies. A degenerate system whose top-N scores are all
    * equal normalizes to 1.0.
    *
    * Scale shape: min/max are broadcast 1-row aggregates over top-N
    * inputs; the fusion join is O(N) regardless of corpus size. Inputs:
    * (doc_id, score); output (rank, doc_id, mnz). */
  def combMnzFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    def norm(x: DataFrame, out: String): DataFrame = {
      val mm = x.agg(min("score").as("mn"), max("score").as("mx"))
      x.crossJoin(broadcast(mm))
        .select(col("doc_id"),
          when(col("mx") === col("mn"), lit(1.0))
            .otherwise((col("score") - col("mn")) / (col("mx") - col("mn"))).as(out))
    }
    val scored = norm(a, "na").join(norm(b, "nb"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        ((coalesce(col("na"), lit(0.0)) + coalesce(col("nb"), lit(0.0))) *
          (when(col("na").isNotNull, lit(1L)).otherwise(lit(0L)) +
           when(col("nb").isNotNull, lit(1L)).otherwise(lit(0L))).cast("double")).as("mnz"))
    rankTopK(scored, k, Seq(desc("mnz"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("mnz"))
  }

  /** Maximal Marginal Relevance result diversification (Carbonell &
    * Goldstein 1998): greedily re-rank a BM25 candidate pool so each pick
    * maximizes λ·relevance − (1−λ)·(max Jaccard similarity to the picks so
    * far) — near-duplicate results stop crowding the first page. Similarity
    * is term-set Jaccard (integer intersection / union sizes, one IEEE
    * division — both engines compute it bit-exactly); ties break doc_id asc.
    *
    * Scale shape: the distributed halves are the pool retrieval (any top-k
    * tier) and the pool-restricted pairwise similarity — an IN-pruned
    * postings self-join over ≤ poolSize docs, so poolSize² pairs, never
    * corpus². The greedy selection is inherently sequential and runs on the
    * driver over the collected ≤ poolSize²/2 sim rows (poolSize is a serve-
    * path constant, ~10²; the same bounded-collect contract as prfTopK). */
  def mmrTopK(postings: DataFrame, docStats: DataFrame, dfs: Map[String, Long],
              nDocs: Long, avgDl: Double, poolSize: Int = 20, k: Int = 5,
              lambda: Double = 0.5): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val pool = bm25TopK(postings, docStats, dfs, nDocs, avgDl, poolSize)
      .select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1))
    val ids = pool.map(_._1).toSeq
    val pp = postings.filter(col("doc_id").isin(ids.map(x => x: Any): _*))
      .select("doc_id", "term")
    val sz = pp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val sims = pp.select(col("doc_id").as("a_id"), col("term"))
      .join(pp.select(col("doc_id").as("b_id"), col("term")), "term")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sa")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / (col("sa") + col("sb") - col("i"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sim(x: Long, y: Long): Double =
      sims.getOrElse(if (x < y) (x, y) else (y, x), 0.0)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(pool.toSeq: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.map { case (d, s) =>
        val maxSim = if (selected.isEmpty) 0.0
                     else selected.iterator.map(t => sim(d, t._1)).max
        (d, lambda * s - (1 - lambda) * maxSim)
      }.minBy { case (d, m) => (-m, d) }
      selected += best
      remaining -= best._1
    }
    selected.zipWithIndex.map { case ((d, m), i) => (i + 1L, d, m) }.toSeq
      .toDF("rank", "doc_id", "mmr")
  }

  /** xQuAD result diversification (Santos, Macdonald & Ounis, WWW 2010,
    * "Exploiting query reformulations for web search result
    * diversification" — public literature): greedy re-ranking that covers
    * the query's ASPECTS, not just its words — the reason "spark join"
    * should not return ten near-identical pages about the same subtopic.
    *
    *   select argmax  (1−λ)·rel(d) + λ·Σ_t P(t|q)·P(d|t)·Π_{s∈S}(1−P(s|t))
    *
    * with uniform P(t|q) over the aspect set, P(d|t) = the fraction of
    * aspect t's seed terms the doc contains (the seed-lexicon topic model
    * the tagging operator already uses), and the product tracking how much
    * of aspect t the already-selected set S still leaves uncovered.
    *
    * Determinism across engines: the novelty products are updated
    * SEQUENTIALLY in selection order and the aspect sum is folded in
    * sorted-topic order, so every float op has a fixed association — the
    * DuckDB twin unrolls the same recurrence stage by stage.
    *
    * Scale shape: like [[mmrTopK]], the candidate pool (top-`poolSize`)
    * and its pool×topic coverage matrix are k·|T|-row driver data; the
    * only corpus-sized work is the BM25 pool itself plus one IN-filtered
    * coverage aggregate. */
  def xquadTopK(postings: DataFrame, docStats: DataFrame, dfs: Map[String, Long],
                nDocs: Long, avgDl: Double, topics: Map[String, Seq[String]],
                poolSize: Int = 20, k: Int = 5,
                lambda: Double = 0.5): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val tSorted = topics.keys.toSeq.sorted
    val wT = 1.0 / tSorted.size
    val pool = bm25TopK(postings, docStats, dfs, nDocs, avgDl, poolSize)
      .select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1))
    val ids = pool.map(_._1).toSeq
    val seeds = topics.toSeq.flatMap { case (t, ss) => ss.map(s => (t, s)) }
      .toDF("topic", "seed_term")
    val cov = postings
      .filter(col("doc_id").isin(ids.map(x => x: Any): _*))
      .join(broadcast(seeds), col("term") === col("seed_term"))
      .groupBy("doc_id", "topic").agg(count(lit(1)).as("mt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def p(d: Long, t: String): Double =
      cov.getOrElse((d, t), 0L).toDouble / topics(t).size.toDouble
    val nov = scala.collection.mutable.Map(tSorted.map(t => t -> 1.0): _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(pool.toSeq: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.map { case (d, s) =>
        val div = tSorted.map(t => wT * p(d, t) * nov(t)).sum
        (d, (1 - lambda) * s + lambda * div)
      }.minBy { case (d, m) => (-m, d) }
      selected += best
      remaining -= best._1
      tSorted.foreach(t => nov(t) = nov(t) * (1.0 - p(best._1, t)))
    }
    selected.zipWithIndex.map { case ((d, m), i) => (i + 1L, d, m) }.toSeq
      .toDF("rank", "doc_id", "xquad")
  }

  /** Reverse search (percolation — the Elasticsearch-percolator / alerting
    * primitive): instead of a query finding docs, every STORED query is
    * matched against the docs in hand — "notify me when a page matching
    * (spark AND join) is indexed". Returns (doc_id, query_id) for every doc
    * containing ALL of a query's terms (the same conjunctive semantics as
    * `conjunctive`, batched across the whole query table).
    *
    * Scale shape: the stored-query table is small (10^4–10^6 rows) →
    * broadcast both the (query_id, term) pairs and the per-query term
    * counts; ONE pass over the postings (a posting row fans out only to
    * queries containing its term) and ONE (doc_id, query_id) count-k hash
    * aggregate. Applied per micro-batch of newly indexed docs, this is the
    * streaming alerting operator — the postings argument is then just the
    * batch's delta postings, so per-batch cost is O(batch), never
    * O(corpus). Duplicate (query_id, term) rows are deduped up front (same
    * contract as bm25TopKBatch). */
  def percolate(postings: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select("query_id", "term").distinct()
    val sizes = q.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    postings.select("doc_id", "term").join(broadcast(q), "term")
      .groupBy("doc_id", "query_id").agg(count(lit(1)).as("hit"))
      .join(broadcast(sizes), "query_id")
      .filter(col("hit") === col("n_terms"))
      .select("doc_id", "query_id")
  }

  /** Batched multi-query BM25 top-k: score an ENTIRE query log in one pass
    * over the postings — what a 100 TB evaluation/relevance harness actually
    * runs (Q ≈ 10^4 queries against one index build), where looping
    * `bm25TopK` would scan the postings Q times.
    *
    * `queries` is (query_id, term). Plan shape: one postings scan →
    * broadcast-join with the query table (a posting row fans out only to the
    * queries containing its term) → join docStats → ONE hash aggregate on
    * (query_id, doc_id) → per-query rank window cut at k. The `rank <= k`
    * filter directly over row_number triggers Catalyst's WindowGroupLimit
    * push-down (asserted in SearchSpec), so each (query) group keeps a k-row
    * heap instead of fully sorting its candidates. df comes from termStats
    * restricted to the query vocabulary — a semi-join-reduced table that is
    * broadcast, never shuffled against the postings. */
  def bm25TopKBatch(postings: DataFrame, docStats: DataFrame, termStats: DataFrame,
                    queries: DataFrame, nDocs: Long, avgDl: Double, k: Int,
                    conjunctive: Boolean = true): DataFrame = {
    // A raw query log may repeat (query_id, term); dedupe so a repeated term
    // contributes once — matching bm25TopK, whose Map-based dfs dedups terms.
    val q = queries.select("query_id", "term").distinct()
    val vocab = q.select("term").distinct()
    val dfs = termStats.join(vocab, "term").select(col("term"), col("df"))
    val qn = q.groupBy("query_id").agg(count(lit(1)).as("q_n"))
    val scored = postings
      .join(broadcast(q), "term")
      .join(broadcast(dfs), "term")
      .join(docStats, "doc_id")
      .withColumn("term_score", Bm25.score(col("tf"), col("df"), col("dl"), nDocs, avgDl))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).as("score"))
    val cand =
      if (conjunctive)
        scored.join(broadcast(qn), "query_id").filter(col("n_terms") === col("q_n"))
      else scored
    cand.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }

  /** Reference-parity Σtf relevance (SearcherPage.java:91-107): absolute
    * score = Σ tf cast to int; relative = abs / max(abs) — the int cast and
    * the max-normalization replicated exactly (quarantined quirk, SURVEY.md
    * §7.4-4). */
  def sumTfTopK(postings: DataFrame, terms: Seq[String], k: Int, offset: Int = 0): DataFrame = {
    val scored = postings.filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).cast("int").as("abs_rank"))
      .filter(col("n_terms") === terms.size)
    // normalization max as a broadcast 1-row aggregate, NOT an empty-
    // partitionBy window: the window form funnels every candidate through a
    // single task — a bottleneck when a hot query matches millions of docs.
    // The max's subtree duplicates the aggregation, but the shuffle exchange
    // is canonically identical so Spark's ReuseExchange serves both sides
    // from one postings scan + shuffle; only the (small) post-shuffle agg
    // runs twice. (Parity path, not the BM25 scale path.)
    val maxAbs = scored.agg(max(col("abs_rank")).as("max_abs"))
    val withRel = scored.crossJoin(broadcast(maxAbs)).withColumn("rel_rank",
      col("abs_rank").cast("double") / col("max_abs"))
    rankTopK(withRel, k, Seq(desc("abs_rank"), asc("doc_id")), offset)
      .select("rank", "doc_id", "abs_rank", "rel_rank")
  }

  /** Per-site collapse (host dedup of result pages — the standard SERP
    * diversity step; beyond the reference, which returns every page of a
    * site): keep the best `perRepo` results per repo out of a deeper
    * candidate pool, then re-rank globally. `results` must carry
    * (doc_id, repo, score); ties break by doc_id everywhere. The per-repo
    * window runs on the already-cut pool (≤ pool-k rows), never the full
    * candidate set. */
  def collapseByRepo(results: DataFrame, perRepo: Int = 1, k: Int = 10): DataFrame = {
    val perW = Window.partitionBy("repo").orderBy(desc("score"), asc("doc_id"))
    val kept = results.withColumn("_rr", row_number().over(perW))
      .filter(col("_rr") <= perRepo).drop("_rr")
    rankTopK(kept, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("repo"), col("score"))
  }

  /** Full flagship search: front-end plan → BM25 top-k → decorate with
    * repo/path/title/snippet on the final k rows only (reference
    * SearchServiceImpl.java:101-118). repoFilter: None ≙ the `-101`
    * all-sites sentinel (ApiController.java:42).
    *
    * `htmlAware` must MATCH how the index was built: true (default) when
    * ingestion ran Html.textOf before tokenizing (HTML corpora — titles
    * come from <title>, snippets from extracted text); false when the index
    * is over raw content (code corpora — a stored template file that merely
    * LOOKS like HTML must keep path-as-title and raw-text snippets, or the
    * decoration would diverge from what was indexed). */
  def search(corpus: DataFrame, postings: DataFrame, docStats: DataFrame,
             termStats: DataFrame, nDocs: Long, avgDl: Double,
             query: String, lang: String = "en",
             repoFilter: Option[String] = None,
             limit: Int = 10, offset: Int = 0,
             htmlAware: Boolean = true,
             lexicon: graft.analyze.Analyzer.Lexicon = graft.analyze.Analyzer.emptyLexicon): DataFrame = {
    val scopedPostings = repoFilter match {
      case Some(r) =>
        // partition-pruned when postings carry repo; else semi-join on docs
        postings.join(corpus.filter(col("repo") === r).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => postings
    }
    // the SAME lexicon must have expanded the index side (reference
    // lemmatizes both sides: SearcherPage.java:39 query,
    // IndexingServiceImpl.java:144-155 index) — e.g. a query for `дома`
    // must reach docs indexed under `дом`
    val plan = QueryFrontend.plan(termStats, lang, query, lexicon)
    def decorated(top: DataFrame, terms: Set[String]): DataFrame =
      decorate(corpus, top, terms, htmlAware)
    // missing-term / empty-plan short-circuits return the SAME decorated
    // schema, just empty (callers see one stable shape)
    if (plan.missing.nonEmpty || plan.isEmpty)
      return decorated(
        bm25TopK(scopedPostings.limit(0), docStats, Map("\u0000impossible" -> 1L),
          math.max(nDocs, 1L), math.max(avgDl, 1.0), limit), Set.empty)
    val dfs = plan.terms.map(t => t.term -> t.df).toMap
    decorated(bm25TopK(scopedPostings, docStats, dfs, nDocs, avgDl, limit, offset),
      dfs.keySet)
  }

  /** Result decoration on the final ≤ k rows only (reference
    * SearchServiceImpl.java:101-118): join repo/path, compute title +
    * highlighted snippet. `top` carries (rank, doc_id, score). The facade's
    * [[decorateIds]] builds title and snippet with the same columns, so
    * the two cannot diverge in response shape.
    *
    * HTML corpora: snippet over the extracted text, title from <title>
    * (reference SearchServiceImpl.java:284-296); code corpora fall back to
    * identity text + path-as-title — both branches are codegen'd Columns
    * evaluated on the final k rows only. */
  def decorate(corpus: DataFrame, top: DataFrame, terms: Set[String],
               htmlAware: Boolean = true): DataFrame =
    withTitleSnippet(top.join(corpus.select("doc_id", "repo", "path", "lang", "content"), "doc_id"),
        terms, htmlAware)
      .select("rank", "doc_id", "repo", "path", "title", "snippet", "score")
      .orderBy("rank")

  /** [[decorate]] for a page already ranked on the driver: ONE filtered
    * corpus scan (`doc_id IN ids`) → (doc_id, repo, path, title, snippet),
    * unordered. The caller attaches rank and score to the ≤ k rows, so no
    * join, exchange or distributed sort runs. The ids go in by reference
    * ([[ByRef.in]]), so a page of ≤ 10 ids compiles once per page size and
    * the cached corpus still skips batches by their doc_id min/max. */
  def decorateIds(corpus: DataFrame, ids: Seq[Long], terms: Set[String],
                  htmlAware: Boolean = true): DataFrame =
    withTitleSnippet(
        corpus.filter(ByRef.in(col("doc_id"), ids))
          .select("doc_id", "repo", "path", "lang", "content"),
        terms, htmlAware)
      .select("doc_id", "repo", "path", "title", "snippet")

  /** title + highlighted snippet columns over (content, path, lang) rows */
  private def withTitleSnippet(rows: DataFrame, terms: Set[String], htmlAware: Boolean): DataFrame = {
    val snip = Snippets.makeSnippetUdf(terms)
    val title =
      if (htmlAware) graft.analyze.Html.titleOf(col("content"), col("path"))
      else col("path")
    val snipSrc =
      if (htmlAware) graft.analyze.Html.textOf(col("content")) else col("content")
    rows.withColumn("title", title).withColumn("snippet", snip(snipSrc, col("lang")))
  }

  /** Authority-blended ranking: BM25 relevance × a query-independent static
    * prior (PageRank mass, freshness, quality — any (doc_id, pr BIGINT)
    * table). The classic web-search final-ranking shape the reference's
    * pure-relevance sort lacks (SearcherPage.java:91-107 has no static
    * signal).
    *
    *   blend(d) = bm25(d) · (β + (1−β) · pr(d) / max_pr)
    *
    * β ∈ [0,1]: 1 = pure relevance, 0 = relevance fully modulated by
    * authority. Docs absent from the prior score as pr = 0 (left join).
    *
    * Scale shape: the conjunctive candidate set is computed first (count-k
    * aggregate — hot terms never reach the prior join), THEN joined with the
    * prior on doc_id; max_pr is one scalar aggregate ([[priorRange]]) read
    * by reference, never an empty-partitionBy window. At 100 TB the better
    * layout is to fold the prior into docStats at index-build time (one
    * wider column, zero query-time joins) — this operator is the
    * query-time form for priors that refresh faster than the index. */
  def blendTopK(postings: DataFrame, docStats: DataFrame,
                dfs: Map[String, Long], nDocs: Long, avgDl: Double,
                prior: DataFrame, k: Int, beta: Double = 0.5): DataFrame = {
    val scored = conjunctiveScores(postings, docStats, dfs, nDocs, avgDl)
    rankTopK(blendScores(scored, prior, beta, priorRange(prior)._2), k, Seq(desc("blend"), asc("doc_id")))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("rank"), col("doc_id"), col("blend"))
  }

  /** (min(pr), max(pr)) of a prior in one aggregate; an empty or all-zero prior's
    * max is 1, so [[blendScores]] degrades to β-scaled relevance, not NaN blends. */
  def priorRange(prior: DataFrame): (Double, Double) = {
    val r = prior.agg(min(col("pr")).cast("double"), max(col("pr")).cast("double")).head()
    (if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1) || r.getDouble(1) <= 0) 1.0 else r.getDouble(1))
  }

  /** The blend factor join shared by `blendTopK` and the facade's prior
    * ranking: blend = score · (β + (1−β)·pr/prMax) over (doc_id, score)
    * rows, `prMax` from [[priorRange]], read by reference. Docs absent
    * from the prior (left join) take pr = 0: new pages rank on relevance
    * alone until the next prior refresh (graceful staleness). */
  def blendScores(scored: DataFrame, prior: DataFrame, beta: Double, prMax: Double): DataFrame =
    scored
      .join(prior.select(col("doc_id"), col("pr")), Seq("doc_id"), "left")
      .withColumn("blend", col("score") *
        (lit(beta) + lit(1.0 - beta) * coalesce(col("pr"), lit(0L)).cast("double") / ByRef(prMax)))

  /** BM25F — field-weighted BM25 over (title, body) fields of the same page
    * (Robertson/Zaragoza 2004, the standard web-ranking upgrade: a title hit
    * is worth `wTitle` body hits). `fields` carries
    * (doc_id, lang, title, body); both fields run the SAME analyzer chain as
    * the index. Integer field weight keeps every tf/dl a BIGINT —
    * order-independent aggregates, hash-exact across engines (the LinkRank
    * fixed-point device again):
    *
    *   tf'(d,t) = tf_body + wTitle · tf_title
    *   dl'(d)   = Σ_t tf'(d,t),  avgdl' = avg(dl')
    *   score    = Σ_q idf(df') · tfNorm(tf', dl', avgdl')
    *
    * Scale shape: two token explosions (title is tiny), one full-outer
    * equi-join on (doc_id, term) — co-partitioned, single shuffle key —
    * then the standard BM25 aggregate; df/avgdl' are derived relations
    * broadcast into the scorer. No driver-side action: avgdl' enters the
    * plan as a broadcast 1-row aggregate, so one Catalyst plan covers the
    * whole operator. */
  def bm25fTopK(fields: DataFrame, terms: Seq[String], nDocs: Long,
                k: Int, wTitle: Int = 2): DataFrame =
    bm25fTopKFromPostings(bm25fPostings(fields, wTitle), terms, nDocs, k)

  /** Field-weighted postings tf′ = tf_body + wTitle·tf_title (the index-
    * build half of BM25F): two token explosions + ONE co-partitioned
    * (doc_id, term) full-outer join. At scale this relation is built once
    * per index (and cached/persisted like any postings table) — querying
    * through it repeatedly must not re-tokenize the corpus, which is why
    * the build and score halves are separate methods. */
  def bm25fPostings(fields: DataFrame, wTitle: Int = 2): DataFrame = {
    def post(textCol: String, tfName: String): DataFrame =
      fields.select(col("doc_id"),
          explode(InvertedIndex.termsForLang(col(textCol), col("lang"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as(tfName))
    post("body", "tf_b").join(post("title", "tf_t"), Seq("doc_id", "term"), "full_outer")
      .select(col("doc_id"), col("term"),
        (coalesce(col("tf_b"), lit(0L)) + lit(wTitle.toLong) * coalesce(col("tf_t"), lit(0L))).as("tf"))
  }

  /** The score half of BM25F over a (cached) field-weighted postings
    * relation: dl′/df′/avgdl′ are derived relations; avgdl′ enters the plan
    * as a broadcast 1-row aggregate, so the whole operator is one Catalyst
    * plan with no driver-side action. */
  def bm25fTopKFromPostings(eff: DataFrame, terms: Seq[String], nDocs: Long,
                            k: Int): DataFrame = {
    val ds = eff.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tstats = eff.filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = ds.agg(avg(col("dl")).as("avgdl"))
    val scored = eff
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .join(broadcast(tstats), "term")
      .join(ds, "doc_id")
      .crossJoin(broadcast(avgdl))
      .withColumn("term_score",
        Bm25.idf(col("df"), nDocs) * Bm25.tfNormDyn(col("tf"), col("dl"), col("avgdl")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).as("score"))
      .filter(col("n_terms") === terms.size)
    rankTopK(scored, k, Seq(desc("score"), asc("doc_id")))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Related terms for query expansion: terms co-occurring with `term` in
    * the same documents, ranked by lift = coocDf / df (how much more often
    * the candidate appears WITH the seed than overall — plain co-counts
    * would just return the corpus's hottest terms). The association-mining
    * step behind "searches related to …" panels.
    *
    * Scale shape: the seed's doc set is a semi-join reduction (posting
    * fetch, term-pruned at the scan), co-occurrence is ONE hash aggregate
    * over the postings of those docs — never a postings×postings self-join;
    * df arrives by equi-join with termStats. coocDf/df are BIGINTs; only
    * the final lift ratio is a double, rounded for the cross-engine gate. */
  def relatedTerms(postings: DataFrame, termStats: DataFrame, term: String,
                   k: Int, minCooc: Long = 2L): DataFrame = {
    val seedDocs = postings.filter(col("term") === term).select("doc_id")
    val cooc = postings.join(seedDocs, Seq("doc_id"), "left_semi")
      .filter(col("term") =!= term)
      .groupBy("term").agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= minCooc)
    val scored = cooc.join(termStats, "term")
      .select(col("term"), col("cooc"), col("df"),
        round(col("cooc").cast("double") / col("df"), 4).as("lift_r"))
    rankTopK(scored, k, Seq(desc("lift_r"), desc("cooc"), asc("term")))
      .withColumn("rank", col("rank").cast("long"))
      .select("rank", "term", "cooc", "df", "lift_r")
  }

  /** "More like this" — top-k documents most similar to a source document by
    * TF-IDF cosine over shared terms (the classic fulltext-engine operator
    * popularized by Lucene's MoreLikeThis; public semantics). Beyond the
    * reference (SURVEY §2.12): its natural use in a training-data pipeline is
    * semantic near-dup triage and "find documents like this curated one".
    *
    * Scale shape: the source doc's term vector is df-pruned to informative
    * terms (`df <= maxDfFrac*N` — the hot-term prune that keeps the
    * candidate join from touching every posting of "the"-class terms) and is
    * tiny, so it broadcasts; candidate generation is an equi-join on term
    * (never all-pairs); per-doc norms are one aggregate pass over the
    * weighted postings, reusable across source docs. Final ranking is
    * distributed top-k (TakeOrdered) + row_number over <= k rows, ranked on
    * the 4dp-rounded score so cross-engine ulp noise cannot reorder ties. */
  def moreLikeThis(postings: DataFrame, termStats: DataFrame, nDocs: Long,
                   docId: Long, k: Int, maxDfFrac: Double = 0.25): DataFrame = {
    val (w, norms) = mltBuild(postings, termStats, nDocs)
    mltQuery(w, norms, nDocs, docId, k, maxDfFrac)
  }

  /** BUILD half of moreLikeThis — per-index artifacts: the df-carrying
    * TF-IDF weighted postings and the per-doc norms. Both are computed ONCE
    * per index build and persisted/cached like any index relation
    * (SparkEntry caches them per session exactly like `bm25fEff`); a query
    * must never re-aggregate the full postings relation. */
  def mltBuild(postings: DataFrame, termStats: DataFrame, nDocs: Long): (DataFrame, DataFrame) = {
    val w = postings.join(termStats, "term")
      .select(col("doc_id"), col("term"), col("df"),
        (col("tf") * log(lit(nDocs.toDouble) / col("df"))).as("wt"))
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("wt") * col("wt"))).as("norm"))
    (w, norms)
  }

  /** QUERY half: the source doc's df-pruned term vector (≤ dozens of rows —
    * one document's informative terms) is collected to the driver and pushed
    * into the candidate scan as an `isin` term filter + literal CASE
    * weights, so the per-query plan reads only the query terms' rows of the
    * weighted relation and aggregates candidates only (plan-asserted in
    * SearchSpec). qnorm stays a broadcast point-read of the prebuilt norms. */
  def mltQuery(w: DataFrame, norms: DataFrame, nDocs: Long, docId: Long,
               k: Int, maxDfFrac: Double = 0.25): DataFrame = {
    val qRows = w.filter(col("doc_id") === docId && col("df") <= lit(maxDfFrac * nDocs))
      .select("term", "wt").collect()
    if (qRows.isEmpty) {
      val spark = w.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("rank", "doc_id", "score_r")
    }
    val qwt = termLit(qRows.map(r => r.getString(0) -> r.getDouble(1)).toMap, 0.0)
    val terms = qRows.map(_.getString(0)).toSeq
    val qn = norms.filter(col("doc_id") === docId).select(col("norm").as("qnorm"))
    val scored = w.filter(col("term").isin(terms.map(x => x: Any): _*))
      .filter(col("doc_id") =!= docId)
      .withColumn("qwt", qwt)
      .groupBy("doc_id").agg(sum(col("wt") * col("qwt")).as("dot"))
      .join(norms, "doc_id")
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        round(col("dot") / (col("norm") * col("qnorm")), 4).as("score_r"))
    rankTopK(scored, k, Seq(desc("score_r"), asc("doc_id")))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("rank"), col("doc_id"), col("score_r"))
  }
}
