package graft.query

import graft.analyze.Analyzer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side query analysis — the tiny-data steps of the reference's
  * search path (/root/reference/src/main/java/searchengine/tools/
  * SearcherPage.java:37-56), run before any Spark job is submitted:
  *
  *  1. analyze the query string (lemmatize + stop-filter)       [:39]
  *  2. dictionary probe for df values (one small job, or none    [:196-199]
  *     against a driver-side dictionary)
  *  3. missing-term short-circuit                                [:41-46,58-79]
  *  4. common-term pruning: drop terms with df > mean + 2σ       [:48,142-154]
  *  5. rarest-first (df asc) ordering                            [:47,201-206]
  */
object QueryFrontend {

  case class TermInfo(term: String, df: Long)
  /** terms: kept terms df-asc (tie: term asc); missing: absent from the
    * dictionary; prunedCommon: dropped by the mean+2σ rule. */
  case class Plan(terms: Seq[TermInfo], missing: Seq[String], prunedCommon: Seq[TermInfo]) {
    def isEmpty: Boolean = terms.isEmpty
  }

  /** Reference-parity common-term prune (SearcherPage.java:142-154):
    * integer-division mean, sample stddev (n−1) around that int mean,
    * threshold = (avg + coef·σ) truncated to int; terms with df > threshold
    * are dropped; the whole rule is skipped for < 2 terms. Quarantined here
    * exactly as the reference computes it (SURVEY.md §7.4-4). */
  def pruneCommon(terms: Seq[TermInfo], coef: Int = 2): (Seq[TermInfo], Seq[TermInfo]) = {
    if (terms.size < 2) return (terms, Nil)
    val n = terms.size
    val sum = terms.map(_.df).sum
    val avgInt = sum / n // integer division, as in the reference
    val variance = terms.map(t => math.pow((t.df - avgInt).toDouble, 2)).sum / (n - 1)
    val sigma = math.sqrt(variance)
    val threshold = (avgInt + coef * sigma).toInt
    terms.partition(_.df <= threshold)
  }

  /** One small Spark job: df lookup for ≤ a handful of query terms.
    * The filter is an IN-list over `term` — partition-prunable when
    * term_stats is written partitioned/sorted by term. */
  def lookupDf(termStats: DataFrame, terms: Set[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    termStats.filter(col("term").isin(terms.toSeq.map(x => x: Any): _*))
      .select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Prefix (wildcard `pre*`) term expansion over the dictionary: the
    * standard fulltext prefix query. A `startsWith` predicate compiles to a
    * parquet `StringStartsWith` pushed filter — on a term-sorted dictionary
    * this is a range scan, never a full vocabulary pass. Returns matching
    * (term, df) ordered df desc, term asc, capped at `maxExpand` (bounded
    * fan-out: a hot prefix cannot explode the downstream disjunction). */
  def prefixTerms(termStats: DataFrame, prefix: String, maxExpand: Int = 50): DataFrame = {
    require(prefix.nonEmpty)
    termStats.filter(col("term").startsWith(prefix))
      .select("term", "df")
      .orderBy(desc("df"), asc("term")).limit(maxExpand)
  }

  // ---- general wildcard via a k-gram index (Manning IIR §3.2.2) ---------

  /** boundary-padded k-grams of `term` as a Column-SQL array: the
    * k-windows of "$term$", distinct. '$' is safe as the boundary marker
    * because the analyzer vocabulary is letters only (Analyzer char
    * classes). The dictionary side of the k-gram index. Vocabulary-bounded
    * (|term|+3−k gram rows per term): at scale, materialize
    * `explode(this)` once per index build beside term_stats, partitioned
    * by gram, and the per-query path below becomes a pruned point read. */
  private def kgramSql(k: Int): String =
    s"array_distinct(transform(sequence(1, length(concat('$$', term, '$$')) - ${k - 1}), " +
      s"i -> substr(concat('$$', term, '$$'), i, $k)))"

  /** grams every match of wildcard `pattern` must contain: each literal
    * segment contributes its k-windows, with the '$' boundary attached to
    * the leading/trailing segment (so `red*` yields {$r, re, ed} and
    * anchors at the word start). Segments shorter than k after padding
    * contribute nothing — the LIKE post-filter alone enforces them. */
  def wildcardGrams(pattern: String, k: Int = 2): Seq[String] = {
    val segs = pattern.split("\\*", -1)
    segs.zipWithIndex.flatMap { case (s, i) =>
      val p = (if (i == 0) "$" else "") + s + (if (i == segs.length - 1) "$" else "")
      (0 to p.length - k).map(j => p.substring(j, j + k))
    }.distinct.toSeq
  }

  /** General wildcard (`s*a*`, `*er`, `f*er`, multi-star) term expansion —
    * the textbook k-gram index probe: candidates are dictionary terms whose
    * gram set CONTAINS all of the pattern's grams (count-k over a gram
    * equi-probe — the tiny query-gram list is a pushed IN filter, never a
    * vocabulary cross-join), then the exact LIKE post-filter kills k-gram
    * false positives (IIR's `red*` ⊃ "retired" example). A pattern too
    * short to yield any gram (e.g. `*a*` at k=2) degrades to a plain LIKE
    * scan — still vocabulary-bounded, never corpus-sized. Returns matching
    * (term, df) ordered df desc, term asc, capped at `maxExpand` (bounded
    * fan-out, same contract as [[prefixTerms]]). */
  def wildcardTerms(termStats: DataFrame, pattern: String, k: Int = 2,
                    maxExpand: Int = 50): DataFrame = {
    require(pattern.exists(_ != '*'), "wildcard pattern needs a literal character")
    require(pattern.matches("[\\p{L}\\p{N}*]+"),
      s"wildcard pattern must be letters/digits/'*' only (got '$pattern')")
    val grams = wildcardGrams(pattern, k)
    val candidates =
      if (grams.isEmpty) termStats
      else termStats
        .select(col("term"), col("df"), explode(expr(kgramSql(k))).as("gram"))
        .filter(col("gram").isin(grams.map(x => x: Any): _*))
        .groupBy(col("term"), col("df"))
        .agg(count(lit(1)).as("_g"))
        .filter(col("_g") === grams.size)
    candidates
      .filter(col("term").like(pattern.replace('*', '%')))
      .select("term", "df")
      .orderBy(desc("df"), asc("term")).limit(maxExpand)
  }

  /** Index-BUILD half of the wildcard path: the exploded (term, df, gram)
    * k-gram relation over the dictionary — vocabulary-bounded, ~|term|+3−k
    * rows per term. [[wildcardTerms]] re-derives it per query (fine for ad
    * hoc use); at scale persist it once per index build via
    * [[persistKgrams]] so a probe is partition pruning + a pushed filter. */
  def kgramIndex(termStats: DataFrame, k: Int = 2): DataFrame =
    termStats.select(col("term"), col("df"), explode(expr(kgramSql(k))).as("gram"))

  /** Manifest aux-lineage name of the persisted k-gram index. */
  val kgramAuxName = "kgram_index"

  /** Persist the k-gram index beside the bucket index, PARTITIONED BY GRAM:
    * a wildcard probe scans only the pattern's ≤ dozen gram directories
    * (partition pruning), never the whole vocabulary — the scale path the
    * [[wildcardTerms]] scaladoc promises. Lineage rides the manifest like
    * champions/repo stats; postings mutations decommit it. */
  def persistKgrams(termStats: DataFrame, tableDir: String,
                    k: Int = 2): graft.io.TableIO.Manifest =
    graft.index.IndexWriter.writeAux(kgramIndex(termStats, k), tableDir,
      kgramAuxName, partitionCols = Seq("gram"))

  /** Cold wildcard expansion over the PERSISTED k-gram index: same
    * candidates-then-LIKE contract as [[wildcardTerms]], but the gram probe
    * is a pruned point read of the aux artifact. A gramless pattern (e.g.
    * `*a*` at k=2) degrades to a LIKE scan over the distinct dictionary
    * rows of the same artifact. */
  def wildcardTermsPersisted(spark: org.apache.spark.sql.SparkSession,
                             tableDir: String, pattern: String, k: Int = 2,
                             maxExpand: Int = 50): DataFrame = {
    require(pattern.exists(_ != '*'), "wildcard pattern needs a literal character")
    require(pattern.matches("[\\p{L}\\p{N}*]+"),
      s"wildcard pattern must be letters/digits/'*' only (got '$pattern')")
    val kg = graft.index.IndexWriter.readAux(spark, tableDir, kgramAuxName)
    val grams = wildcardGrams(pattern, k)
    val candidates =
      if (grams.isEmpty) kg.select("term", "df").distinct()
      else kg
        .filter(col("gram").isin(grams.map(x => x: Any): _*))
        .groupBy(col("term"), col("df"))
        .agg(count(lit(1)).as("_g"))
        .filter(col("_g") === grams.size)
    candidates
      .filter(col("term").like(pattern.replace('*', '%')))
      .select("term", "df")
      .orderBy(desc("df"), asc("term")).limit(maxExpand)
  }

  /** Fuzzy term match (edit distance ≤ `maxDist`, default 1) via the
    * SymSpell deletion-neighborhood: candidates are dictionary terms whose
    * single-deletion variant set intersects the query's variant set — an
    * EQUI-join on a compact key (never a cross-join Levenshtein over the
    * vocabulary), then the exact `levenshtein` verify runs on candidates
    * only. Depth-`maxDist` deletions per side cover every edit up to that
    * distance (insert / delete / substitute). Dict-side variants are
    * O(|term|^maxDist) rows per dictionary term — bounded by the
    * VOCABULARY, not the corpus; at scale the variant relation is
    * materialized once per index build.
    * Output: (term, df, dist), dist asc → df desc → term asc. */
  /** deletion neighborhood of `s` up to depth `maxDist`, including `s`
    * itself — the one definition both the engine (fuzzyTerms) and the SQL
    * twin (SparkEntry.fuzzySql) use, so they cannot silently diverge. */
  def deletionVariants(s: String, maxDist: Int): Seq[String] = {
    var cur = Set(s); var all = Set(s)
    for (_ <- 1 to maxDist) {
      cur = cur.flatMap(w => w.indices.map(i => w.substring(0, i) + w.substring(i + 1)))
      all ++= cur
    }
    all.toSeq.sorted
  }

  /** dictionary-side deletion neighborhood to depth maxDist as a Column-SQL
    * array expression over `term`, built by iterating the single-deletion
    * expansion (SymSpell: dist(a,b) <= d ⇒ the depth-d neighborhoods of a
    * and b intersect, so candidates are COMPLETE for any maxDist). */
  private def dictVariantSql(maxDist: Int): String = {
    var varSql = "array(term)"
    for (_ <- 1 to maxDist)
      varSql = s"array_distinct(array_union($varSql, flatten(transform($varSql, " +
        "w -> case when length(w) >= 1 then transform(sequence(1, length(w)), " +
        "i -> concat(substr(w, 1, i - 1), substr(w, i + 1))) else array() end))))"
    varSql
  }

  def fuzzyTerms(termStats: DataFrame, query: String, maxDist: Int = 1): DataFrame = {
    require(query.nonEmpty && maxDist >= 1)
    val varSql = dictVariantSql(maxDist)
    val qVariants = deletionVariants(query, maxDist)
    termStats
      .select(col("term"), col("df"), explode(expr(varSql)).as("variant"))
      .filter(col("variant").isin(qVariants.map(x => x: Any): _*))
      .select("term", "df").distinct()
      .withColumn("dist", levenshtein(col("term"), lit(query)).cast("long"))
      .filter(col("dist") <= maxDist)
      .orderBy(asc("dist"), desc("df"), asc("term"))
  }

  /** Context-aware "did-you-mean" (the standard noisy-channel refinement:
    * Kernighan, Church & Gale 1990's channel model with a bigram language
    * model as the prior — public literature): rank a typo's edit-distance
    * candidates by how often each FOLLOWS the query's previous term in the
    * corpus, so "spark jion" corrects to the collocate `join` even when a
    * higher-df candidate exists at the same distance. The bigram prior
    * comes from the biword index the build already materializes — zero
    * extra text passes at query time.
    *
    * Output: (suggestion, dist, ctx_cf), ordered dist asc, context-cf
    * desc, term asc, top k. Scale shape: the candidate set is the
    * delete-neighborhood join (dictionary-sized); the context lookup is
    * one biword probe on w1 = context (partition-prunable). */
  def suggestInContext(termStats: DataFrame, biwords: DataFrame,
                       context: String, typo: String,
                       maxDist: Int = 2, k: Int = 3): DataFrame = {
    val cand = fuzzyTerms(termStats, typo, maxDist)
    val cf = biwords.filter(col("w1") === context)
      .groupBy(col("w2").as("term")).agg(sum("tf").as("ctx_cf"))
    cand.join(cf, Seq("term"), "left")
      .select(col("term").as("suggestion"), col("dist"),
        coalesce(col("ctx_cf"), lit(0L)).as("ctx_cf"))
      .orderBy(asc("dist"), desc("ctx_cf"), asc("suggestion"))
      .limit(k)
  }

  /** Batched "did-you-mean": the best correction for EVERY term of a query
    * log in ONE plan (the spelling-correction harness shape — at 100 TB the
    * query log is large and looping fuzzyTerms would rebuild the dictionary
    * neighborhood per term). Best = min edit distance, then max df, then
    * lexicographic — so an in-dictionary term suggests itself (dist 0).
    *
    * Scale shape: the deletion-neighborhood relation is built ONCE over the
    * dictionary (vocabulary-bounded, corpus-independent — materialize it per
    * index build at scale); the query side joins it as a broadcast; the
    * per-qterm top-1 is a WindowGroupLimit (rank-1 heap per group), never a
    * full sort. SymSpell completeness (dist(a,b) ≤ d ⇒ depth-d
    * neighborhoods intersect) makes the candidate join exhaustive, so the
    * result equals brute-force levenshtein over the whole dictionary —
    * which is exactly what the DuckDB twin computes. */
  def suggestBatch(termStats: DataFrame, queryTerms: Seq[String],
                   maxDist: Int = 2): DataFrame = {
    require(queryTerms.nonEmpty && maxDist >= 1)
    val spark = termStats.sparkSession
    import spark.implicits._
    // the query log's neighborhood is generated by the SAME Column
    // expression as the dictionary side — distributed, so a large query log
    // never materializes O(|log|·L^maxDist) variant tuples in the driver
    // (only the term list itself crosses the driver boundary)
    val qv = queryTerms.distinct.toDF("term")
      .select(col("term").as("qterm"), explode(expr(dictVariantSql(maxDist))).as("variant"))
    termStats
      .select(col("term"), col("df"), explode(expr(dictVariantSql(maxDist))).as("variant"))
      .join(broadcast(qv), "variant")
      .select("qterm", "term", "df").distinct()
      .withColumn("dist", levenshtein(col("term"), col("qterm")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qterm"))
          .orderBy(asc("dist"), desc("df"), asc("term"))))
      .filter(col("_rn") === 1)
      .select(col("qterm"), col("term").as("suggestion"), col("dist"), col("df"))
  }

  /** Query SEGMENTATION by corpus bigram evidence (Bergsma & Wang 2007;
    * Hagen et al. 2011 — public literature): adjacent query terms glue into
    * one segment iff the corpus saw them adjacent ≥ `minCf` times. The
    * segments are what the phrase/biword operators should receive — running
    * `new york pizza` as segment ["new york"]["pizza"] beats both the bag
    * and the 3-word phrase. seg_id is 1 + the count of non-glued boundaries
    * at or before the position (a cumulative window over ≤ |q| rows).
    *
    * Scale shape: the bigram statistics come from the biword index the
    * build already materializes ([[graft.index.Positional.biwordPostings]])
    * — ONE vocabulary-keyed aggregate; the query side is |q| − 1 pairs
    * broadcast against it. Nothing rescans text at query time. */
  def segmentQuery(biwordPostings: DataFrame, queryTerms: Seq[String],
                   minCf: Long = 3L): DataFrame = {
    require(queryTerms.size >= 2)
    val spark = biwordPostings.sparkSession
    import spark.implicits._
    val pairs = queryTerms.sliding(2).zipWithIndex
      .map { case (Seq(a, b), i) => (i.toLong + 1L, a, b) }.toSeq
      .toDF("pos", "w1", "w2")
    val cf = biwordPostings.groupBy("w1", "w2").agg(sum("tf").as("cf"))
    val glued = pairs.join(cf, Seq("w1", "w2"), "left")
      .select(col("pos"), (coalesce(col("cf"), lit(0L)) >= minCf).as("glue"),
        coalesce(col("cf"), lit(0L)).as("cf"))
    val terms = queryTerms.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pos", "term")
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    terms.join(glued.select(col("pos"), col("glue"), col("cf")), Seq("pos"), "left")
      .withColumn("_cut", when(col("pos") === 0 || !col("glue"), lit(1L)).otherwise(lit(0L)))
      .withColumn("seg_id", sum(col("_cut")).over(w))
      .select(col("pos"), col("term"), col("seg_id"),
        coalesce(col("cf"), lit(0L)).as("pair_cf"))
      .orderBy(asc("pos"))
  }

  def plan(termStats: DataFrame, lang: String, query: String,
           lexicon: Analyzer.Lexicon = Analyzer.emptyLexicon,
           pruneCoef: Int = 2): Plan = {
    val qTerms = Analyzer.queryTerms(lang, query, lexicon)
    planTerms(qTerms, lookupDf(termStats, qTerms), pruneCoef)
  }

  /** [[plan]] against a driver-side term → df dictionary (e.g. one
    * collected per index snapshot): the probe, the missing-term check and
    * the common-term prune run with no Spark job. */
  def plan(dictionary: Map[String, Long], lang: String, query: String,
           lexicon: Analyzer.Lexicon): Plan = {
    val qTerms = Analyzer.queryTerms(lang, query, lexicon)
    planTerms(qTerms, qTerms.iterator.flatMap(t => dictionary.get(t).map(t -> _)).toMap, 2)
  }

  /** steps 3-5 over the query terms and the df of those the dictionary has */
  private def planTerms(qTerms: Set[String], dfs: Map[String, Long], pruneCoef: Int): Plan = {
    if (qTerms.isEmpty) return Plan(Nil, Nil, Nil)
    val missing = qTerms.diff(dfs.keySet).toSeq.sorted
    if (missing.nonEmpty) return Plan(Nil, missing, Nil) // reference short-circuits (:41-46)
    val infos = dfs.toSeq.map { case (t, d) => TermInfo(t, d) }
    val (kept, dropped) = pruneCommon(infos, pruneCoef)
    Plan(kept.sortBy(t => (t.df, t.term)), missing, dropped.sortBy(_.term))
  }

  /** Pre-retrieval COST ESTIMATE for a whole query log — the admission-
    * control / scheduling signal a multi-tenant cluster gates on before
    * running anything: postings rows a conjunctive evaluation must scan
    * (Σ df) and the candidate-set upper bound (min df — the driving list).
    * One broadcast join of the log against the dictionary, one aggregate;
    * the postings themselves are never touched. `matched` < `n_terms`
    * flags queries the missing-term short-circuit will reject for free. */
  def planCost(termStats: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select("query_id", "term").distinct()
    q.join(termStats.select("term", "df"), Seq("term"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_terms"),
        count(col("df")).as("matched"),
        coalesce(sum("df"), lit(0L)).as("sum_df"),
        coalesce(min("df"), lit(0L)).as("min_df"))
      .select(col("query_id"), col("n_terms"), col("matched"), col("sum_df"),
        // a missing term empties the conjunction — candidates are 0, not min df
        when(col("matched") < col("n_terms"), lit(0L))
          .otherwise(col("min_df")).as("est_candidates"))
  }

  /** Edge-n-gram autocomplete index (search-as-you-type): every dictionary
    * term emits its prefixes of length `minLen`..`maxLen`; per prefix the
    * top-`m` completions by collection frequency (ties term asc) are kept
    * through a WindowGroupLimit heap. This is the INDEX-ARTIFACT tier of
    * completion: [[prefixTerms]] answers one prefix with a dictionary range
    * scan, this answers every keystroke with ONE equi-lookup into a
    * precomputed ≤ (maxLen−minLen+1)·m-per-prefix relation — the shape a
    * suggest service keeps hot. Build: one cf aggregate + a bounded
    * prefix explode (≤ maxLen−minLen+1 rows per term) + an m-row heap per
    * prefix; prefix is the shuffle key, Zipf-hot prefixes absorbed by the
    * group-limit's partial top-m. */
  def autocompleteBuild(postings: DataFrame, minLen: Int = 2, maxLen: Int = 5,
                        m: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cf = postings.groupBy("term").agg(sum("tf").as("cf"))
    val lens = when(length(col("term")) >= minLen,
        sequence(lit(minLen), least(length(col("term")), lit(maxLen))))
      .otherwise(expr("array()").cast("array<int>"))
    cf.select(col("term"), col("cf"),
        explode(transform(lens, l => col("term").substr(lit(1), l))).as("prefix"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("prefix").orderBy(desc("cf"), asc("term"))).cast("long"))
      .filter(col("rank") <= m)
      .select("prefix", "rank", "term", "cf")
  }

  /** point lookups into the autocomplete index: the per-keystroke path */
  def autocompleteLookup(index: DataFrame, prefixes: Seq[String]): DataFrame =
    index.filter(col("prefix").isin(prefixes.map(x => x: Any): _*))
}
