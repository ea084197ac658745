package graft.registry

import graft.analyze.{Analyzer, DefaultLexicon, Html}
import graft.ann.Ann
import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.index.{IndexWriter, InvertedIndex, ShardPosting, Shards}
import graft.mm.Multimodal
import graft.query.{Bm25, QueryFrontend, Search, Snippets, Wand}
import graft.textan.{TextAnalysis, TextHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures, cached index builders, and DuckDB SQL building blocks shared
  * by every [[QueryRegistry]] (split out of SparkEntry; entry bodies are
  * unchanged). Members are package-visible via the object being
  * `private[graft]` rather than per-member modifiers. */
private[graft] object Shared {

  // ---- shared fixed fixtures (deterministic; FIXTURES.md §3) ------------
  /** stop set effective for the documents corpus (natural langs only) */
  val stops = Analyzer.naturalStop
  /** fixed reference queries over the documents vocabulary */
  val q2 = Seq("join", "spark")           // 2-term conjunction
  val q3 = Seq("dup", "hash", "spark")    // rare + hot conjunction
  val qMissingInput = "spark warpdrive flux" // terms absent from corpus
  /** segmentation input: 'spark join' is a corpus collocation (cf ≥ 3),
    * 'join dup' and 'dup table' are not → segments [spark join][dup][table] */
  val qSeg = Seq("spark", "join", "dup", "table")
  /** INFLECTED flagship-search input: the shipped lexicon maps joins→join,
    * so the end-to-end lexical path must return docs indexed under `join` */
  val qLexInput = "joins spark"
  /** its lexicon-expanded term set — what both engines actually score */
  def qLexTerms: Seq[String] =
    Analyzer.analyze("en", qLexInput, DefaultLexicon.lexicon).distinct.sorted
  /** synonym-group query: position 1 matches {join, merge}, position 2
    * {spark} — SynonymQuery semantics over the documents vocabulary */
  val synGroups: Seq[(String, Seq[String])] =
    Seq("join" -> Seq("join", "merge"), "spark" -> Seq("spark"))
  /** Count-Min point-query terms: the fixed query vocabulary plus one
    * absent term (its estimate is pure collision mass) */
  val cmsTerms = Seq("dup", "hash", "join", "spark", "warpdrive")
  /** mixture-resampling targets (permille of the ORIGINAL corpus size):
    * en is over-represented (downsampled), zh under (kept whole),
    * de mid (partially downsampled); es/fr absent (dropped) */
  val mixTargets: Map[String, Int] = Map("en" -> 300, "zh" -> 200, "de" -> 100)
  /** fixed query log for the batched scorer (query_id, term) */
  /** seed lexicons for weak-supervision topic tagging (over the synthetic
    * vocabulary — each topic is a keyword labeling function) */
  val seedTopics: Map[String, Seq[String]] = Map(
    "joins" -> Seq("join", "merge", "hash"),
    "streaming" -> Seq("stream", "window", "batch"),
    "scans" -> Seq("scan", "table", "row"))

  val batchQ: Seq[(Long, String)] = Seq(
    (0L, "join"), (0L, "spark"),
    (1L, "dup"), (1L, "hash"), (1L, "spark"),
    (2L, "hash"))

  /** deterministic synthetic URL table (url_id, url) over the corpus: a
    * clean URL plus a tracking/case/slash/fragment-noised variant per doc —
    * both must canonicalize to the same string (twin built verbatim in the
    * dedup_url_canon oracle) */
  def syntheticUrls(c: DataFrame): DataFrame = {
    val clean = c.select((col("doc_id") * 2).as("url_id"),
      concat(lit("https://"), col("repo"), lit(".example.com/"), col("path")).as("url"))
    val noisy = c.select((col("doc_id") * 2 + 1).as("url_id"),
      concat(lit("HTTPS://"), upper(col("repo")), lit(".example.com/"), col("path"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=feed&utm_campaign=c"), (col("doc_id") % 5).cast("string")))
          .when(col("doc_id") % 3 === 1, lit("#section"))
          .otherwise(lit("/"))).as("url"))
    clean.unionByName(noisy)
  }

  // ---- DuckDB SQL building blocks --------------------------------------
  def termsCte: String = {
    val toks = Analyzer.sqlTokens("text")
    val pred = Analyzer.sqlStopPredicate("term", stops)
    s"""toks AS (SELECT doc_id, source AS repo, unnest($toks) AS term FROM documents),
       |terms AS (SELECT doc_id, repo, term FROM toks WHERE $pred)""".stripMargin
  }
  def postCte =
    "post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY doc_id, term)"
  def dsCte =
    "ds AS (SELECT doc_id, count(*)::BIGINT AS dl FROM terms GROUP BY doc_id)"
  def tstatsCte =
    "tstats AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM terms GROUP BY term)"
  def statsCte =
    "stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, (SELECT avg(dl) FROM ds) AS avgdl)"
  def qCte(terms: Seq[String]) =
    s"q AS (SELECT unnest(ARRAY[${terms.map(t => s"'$t'").mkString(",")}]) AS term)"

  // ordered, stop-filtered token ARRAY per doc (shingling needs order,
  // which the exploded terms CTE loses)
  def tokArrCte: String = {
    val toks = Analyzer.sqlTokens("text")
    val stopList = stops.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""tokarr AS (SELECT doc_id, list_filter($toks, t -> t <> '' AND t NOT IN ($stopList)) AS arr
       |FROM documents)""".stripMargin
  }
  /** distinct 3-gram shingles per doc — twin of Dedup.shingles(n=3) */
  def shinglesCte: String =
    s"""${tokArrCte},
       |shd AS (SELECT DISTINCT doc_id, unnest(list_transform(range(greatest(len(arr) - 2, 0)),
       |  i -> arr[i + 1] || ' ' || arr[i + 2] || ' ' || arr[i + 3])) AS shingle FROM tokarr)""".stripMargin
  /** inner lambda vars renamed so nesting inside another list_reduce works */
  def tokenHashSqlInner(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_split_to_array($expr, ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (h, cc) -> (h * 31 + cc) % ${TextHash.P})"
  /** MinHash-LSH candidate chain (8 hashes, 4 bands × 2 rows) up to the
    * verified intersection counts — shared by the pairs and clusters twins */
  def lshCtes: String = {
    val mins = (0 until 8).map(i =>
      s"min(${TextHash.mixSql(i, "h")}) AS s$i").mkString(", ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b}::VARCHAR || '_' || s${2 * b + 1}::VARCHAR AS key FROM sig")
      .mkString("\n UNION ALL ")
    s"""${shinglesCte},
       |shh AS (SELECT doc_id, ${tokenHashSqlInner("shingle")} AS h FROM shd),
       |sig AS (SELECT doc_id, $mins FROM shh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.a_id, c.b_id, count(*) AS i
       |          FROM cand c JOIN shd a ON a.doc_id = c.a_id
       |               JOIN shd b ON b.doc_id = c.b_id AND a.shingle = b.shingle
       |          GROUP BY c.a_id, c.b_id)""".stripMargin
  }

  /** flagship-search twin over the LEXICON-EXPANDED postings: same prune +
    * conjunctive BM25 + decoration chain as the ft_search_flagship twin, but
    * post/ds/tstats/stats all derive from the lexCte-expanded token stream
    * (what the engine's lexIndex holds) and `queryTerms` arrive pre-expanded
    * through the SAME shipped lexicon. */
  def lexSearchSql(queryTerms: Seq[String], k: Int): String = {
    val score = Bm25.sql("p.tf", "t.df", "d.dl", "s.n", "s.avgdl")
    s"""WITH ${termsCte}, ${lexCte},
       |lexp AS (SELECT t.doc_id, coalesce(l.form, t.term) AS term
       |         FROM terms t LEFT JOIN lex l ON t.term = l.surface),
       |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM lexp GROUP BY doc_id, term),
       |ds AS (SELECT doc_id, count(*)::BIGINT AS dl FROM lexp GROUP BY doc_id),
       |tstats AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM lexp GROUP BY term),
       |${statsCte}, ${qCte(queryTerms)},
       |qdf AS (SELECT t.term, t.df FROM tstats t JOIN q USING (term)),
       |st AS (SELECT sum(df) // count(*) AS avgi, count(*) AS n FROM qdf),
       |sig AS (SELECT sqrt(sum((df - avgi) * (df - avgi)) / (n - 1.0)) AS sigma
       |        FROM qdf, st GROUP BY n, avgi),
       |kept AS (SELECT term FROM qdf, st, sig
       |         WHERE df <= CAST(trunc(avgi + 2 * sigma) AS BIGINT)),
       |scored AS (
       |  SELECT p.doc_id, count(*) AS n_terms, sum($score) AS score
       |  FROM post p JOIN kept USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |),
       |topk AS (
       |  SELECT rank, doc_id, score_r FROM (
       |    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       |           doc_id, round(score, 4) AS score_r
       |    FROM scored WHERE n_terms = (SELECT count(*) FROM kept)
       |  ) WHERE rank <= $k
       |)
       |SELECT rank, doc_id, source AS repo, 'doc/' || doc_id AS path, score_r
       |FROM topk JOIN documents USING (doc_id)""".stripMargin
  }

  def bm25TopKSql(terms: Seq[String], k: Int): String = {
    val score = Bm25.sql("p.tf", "t.df", "d.dl", "s.n", "s.avgdl")
    s"""WITH ${termsCte}, ${postCte}, ${dsCte}, ${tstatsCte}, ${statsCte}, ${qCte(terms)},
       |scored AS (
       |  SELECT p.doc_id, count(*) AS n_terms, sum($score) AS score
       |  FROM post p JOIN q USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |)
       |SELECT rank, doc_id, score_r FROM (
       |  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       |         doc_id, round(score, 4) AS score_r
       |  FROM scored WHERE n_terms = ${terms.size}
       |) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of the pseudo-relevance-feedback pipeline: conjunctive
    * top-r feedback docs → Σtf-weighted top-e expansion terms (BIGINT
    * weight: the top-e cut is exact, no float-order hazard) → weighted
    * disjunctive BM25 re-rank (original terms wOrig×, expansion 1×). */
  def prfSql(terms: Seq[String], k: Int, r: Int, e: Int, wOrig: Int): String = {
    val score = Bm25.sql("p.tf", "t.df", "d.dl", "s.n", "s.avgdl")
    val origList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH ${termsCte}, ${postCte}, ${dsCte}, ${tstatsCte}, ${statsCte}, ${qCte(terms)},
       |s0 AS (
       |  SELECT p.doc_id, count(*) AS n_terms, sum($score) AS score
       |  FROM post p JOIN q USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |),
       |fb AS (
       |  SELECT doc_id FROM (
       |    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id
       |    FROM s0 WHERE n_terms = ${terms.size}
       |  ) WHERE rank <= $r
       |),
       |exp AS (
       |  SELECT term FROM (
       |    SELECT p.term, sum(p.tf) AS w
       |    FROM post p JOIN fb USING (doc_id)
       |    WHERE p.term NOT IN ($origList)
       |    GROUP BY p.term ORDER BY w DESC, term ASC LIMIT $e
       |  )
       |),
       |qx AS (SELECT term, $wOrig AS wq FROM q UNION ALL SELECT term, 1 AS wq FROM exp),
       |rescored AS (
       |  SELECT p.doc_id, sum(x.wq * $score) AS score
       |  FROM post p JOIN qx x USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |)
       |SELECT rank, doc_id, score_r FROM (
       |  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       |         doc_id, round(score, 4) AS score_r
       |  FROM rescored
       |) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of MMR diversification: BM25 top-`poolSize` pool +
    * pool-restricted pairwise term-set Jaccard, then the greedy selection
    * UNROLLED as one CTE pair (argmax stage + selected-set union) per pick —
    * the same unroll technique as the k-means and PageRank twins. λ = 0.5. */
  def mmrSql(terms: Seq[String], poolSize: Int, k: Int): String = {
    val score = Bm25.sql("p.tf", "t.df", "d.dl", "s.n", "s.avgdl")
    val stages = (2 to k).map { i =>
      val prevSel = (1 until i).map(j => s"SELECT doc_id FROM s$j").mkString(" UNION ALL ")
      s"""sel$i AS ($prevSel),
         |m$i AS (SELECT p.doc_id, 0.5 * p.score - 0.5 * coalesce(max(v.sim), 0) AS mmr
         |        FROM pool p
         |        LEFT JOIN (SELECT x, sim FROM sim2 JOIN sel$i ON sim2.y = sel$i.doc_id) v
         |               ON v.x = p.doc_id
         |        WHERE p.doc_id NOT IN (SELECT doc_id FROM sel$i)
         |        GROUP BY p.doc_id, p.score),
         |s$i AS (SELECT doc_id, mmr FROM m$i ORDER BY mmr DESC, doc_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (Seq(s"SELECT CAST(1 AS BIGINT) AS rank, doc_id, round(0.5 * score, 4) AS mmr_r FROM s1") ++
      (2 to k).map(i => s"SELECT CAST($i AS BIGINT) AS rank, doc_id, round(mmr, 4) AS mmr_r FROM s$i"))
      .mkString("\nUNION ALL ")
    s"""WITH ${termsCte}, ${postCte}, ${dsCte}, ${tstatsCte}, ${statsCte}, ${qCte(terms)},
       |scored AS (
       |  SELECT p.doc_id, count(*) AS n_terms, sum($score) AS score
       |  FROM post p JOIN q USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |),
       |pool AS (
       |  SELECT doc_id, score FROM (
       |    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
       |    FROM scored WHERE n_terms = ${terms.size}
       |  ) WHERE rank <= $poolSize
       |),
       |pp AS (SELECT p.doc_id, p.term FROM post p JOIN pool USING (doc_id)),
       |psz AS (SELECT doc_id, count(*) AS sz FROM pp GROUP BY doc_id),
       |pint AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
       |         FROM pp a JOIN pp b ON a.term = b.term AND a.doc_id < b.doc_id
       |         GROUP BY a.doc_id, b.doc_id),
       |sims AS (SELECT a_id, b_id, i::DOUBLE / (sa.sz + sb.sz - i) AS sim
       |         FROM pint JOIN psz sa ON a_id = sa.doc_id JOIN psz sb ON b_id = sb.doc_id),
       |sim2 AS (SELECT a_id AS x, b_id AS y, sim FROM sims
       |         UNION ALL SELECT b_id, a_id, sim FROM sims),
       |s1 AS (SELECT doc_id, score FROM pool ORDER BY score DESC, doc_id ASC LIMIT 1),
       |$stages
       |$out""".stripMargin
  }

  /** DuckDB twin of the xQuAD greedy: the novelty products are unrolled
    * stage by stage in the same sequential order the Scala greedy updates
    * them, and the aspect sum is written in sorted-topic order — every
    * float op shares its association with the engine side. */
  def xquadSql(terms: Seq[String], topics: Map[String, Seq[String]],
                       poolSize: Int, k: Int): String = {
    val score = Bm25.sql("p.tf", "t.df", "d.dl", "s.n", "s.avgdl")
    val ts = topics.keys.toSeq.sorted
    val nT = ts.size
    val seedVals = ts.flatMap(t => topics(t).map(st => s"('$t', '$st')")).mkString(", ")
    val pCols = ts.zipWithIndex.map { case (t, i) =>
      s"coalesce(max(CASE WHEN c.topic = '$t' THEN c.mt END), 0)::DOUBLE / ${topics(t).size}.0 AS p$i"
    }.mkString(",\n       ")
    def divExpr(novRel: String) =
      ts.indices.map(i => s"(1.0 / $nT.0) * pv.p$i * $novRel.n$i").mkString(" + ")
    val s1 =
      s"""nov1 AS (SELECT ${ts.indices.map(i => s"1.0 AS n$i").mkString(", ")}),
         |s1 AS (SELECT pv.*, 0.5 * pv.score + 0.5 * (${divExpr("nov1")}) AS obj
         |       FROM pv, nov1 ORDER BY obj DESC, doc_id ASC LIMIT 1)""".stripMargin
    val stages = (2 to k).map { j =>
      val prevSel = (1 until j).map(x => s"SELECT doc_id FROM s$x").mkString(" UNION ALL ")
      s"""nov$j AS (SELECT ${ts.indices.map(i => s"nv.n$i * (1.0 - sp.p$i) AS n$i").mkString(", ")}
         |          FROM nov${j - 1} nv, s${j - 1} sp),
         |sel$j AS ($prevSel),
         |s$j AS (SELECT pv.*, 0.5 * pv.score + 0.5 * (${divExpr(s"nov$j")}) AS obj
         |        FROM pv, nov$j WHERE pv.doc_id NOT IN (SELECT doc_id FROM sel$j)
         |        ORDER BY obj DESC, doc_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, doc_id, round(obj, 4) AS xquad_r FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${termsCte}, ${postCte}, ${dsCte}, ${tstatsCte}, ${statsCte}, ${qCte(terms)},
       |seeds AS (SELECT * FROM (VALUES $seedVals) AS t(topic, seed_term)),
       |scored AS (
       |  SELECT p.doc_id, count(*) AS n_terms, sum($score) AS score
       |  FROM post p JOIN q USING (term) JOIN tstats t USING (term)
       |       JOIN ds d ON p.doc_id = d.doc_id, stats s
       |  GROUP BY p.doc_id
       |),
       |pool AS (
       |  SELECT doc_id, score FROM (
       |    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
       |    FROM scored WHERE n_terms = ${terms.size}
       |  ) WHERE rank <= $poolSize
       |),
       |cov AS (SELECT p.doc_id, sd.topic, count(*)::BIGINT AS mt
       |        FROM post p JOIN seeds sd ON p.term = sd.seed_term
       |             JOIN pool ON p.doc_id = pool.doc_id
       |        GROUP BY p.doc_id, sd.topic),
       |pv AS (SELECT pool.doc_id, pool.score,
       |       $pCols
       |       FROM pool LEFT JOIN cov c ON pool.doc_id = c.doc_id
       |       GROUP BY pool.doc_id, pool.score),
       |$s1,
       |$stages
       |$out""".stripMargin
  }

  /** shared DuckDB twin of the champion-list tier — referenced by BOTH
    * ft_champions (in-memory build) and ft_champions_persisted (cold read of
    * the aux artifact): one oracle, two engine paths. */
  lazy val championsSql: String = {
    val tfn = s"(tf * ${Bm25.k1 + 1.0}) / (tf + ${Bm25.k1} * (${1.0 - Bm25.b} + ${Bm25.b} * dl / s.avgdl))"
    val score = Bm25.sql("c.tf", "t.df", "c.dl", "s.n", "s.avgdl")
    s"""WITH ${termsCte}, ${postCte}, ${dsCte}, ${tstatsCte}, ${statsCte}, ${qCte(q2)},
       |pj AS (SELECT p.doc_id, p.term, p.tf, d.dl FROM post p JOIN ds d ON p.doc_id = d.doc_id),
       |ch AS (SELECT doc_id, term, tf, dl FROM (
       |  SELECT doc_id, term, tf, dl,
       |         row_number() OVER (PARTITION BY term ORDER BY $tfn DESC, doc_id) AS rn
       |  FROM pj, stats s) WHERE rn <= 5),
       |scored AS (
       |  SELECT c.doc_id, sum($score) AS score
       |  FROM ch c JOIN q USING (term) JOIN tstats t USING (term), stats s
       |  GROUP BY c.doc_id)
       |SELECT rank, doc_id, score_r FROM (
       |  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       |         doc_id, round(score, 4) AS score_r FROM scored
       |) WHERE rank <= 10""".stripMargin
  }

  /** shared DuckDB twin of the per-repo facets rollup — referenced by BOTH
    * ft_facets (in-memory) and ft_facets_persisted (cold aux artifact). */
  lazy val facetsSql: String =
    s"""WITH ${termsCte},
       |rdf AS (SELECT repo, term, count(DISTINCT doc_id)::BIGINT AS df
       |        FROM terms GROUP BY repo, term)
       |SELECT repo, facet_rank, term, df FROM (
       |  SELECT repo, term, df,
       |         row_number() OVER (PARTITION BY repo ORDER BY df DESC, term) AS facet_rank
       |  FROM rdf) WHERE facet_rank <= 3""".stripMargin

  // ---- corpus + index (built lazily per sfDir, cached per session) ------
  val cache = new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, InvertedIndex.Tables)]()
  def index(spark: SparkSession, sfDir: String): (DataFrame, InvertedIndex.Tables) =
    cache.computeIfAbsent(s"${spark.hashCode}|$sfDir", _ => {
      val corpus = Corpus.fromDocuments(spark, sfDir).cache()
      (corpus, InvertedIndex.build(corpus))
    })
  val shardCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Dataset[ShardPosting]]()
  def shards(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[ShardPosting] =
    shardCache.computeIfAbsent(s"${spark.hashCode}|$sfDir", _ => {
      val (_, t) = index(spark, sfDir)
      IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl).cache()
    })
  val persistedCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** write the compressed index of sfDir once per JVM, return its table dir */
  def persistedIndex(spark: SparkSession, sfDir: String): String =
    persistedCache.computeIfAbsent(s"${spark.hashCode}|$sfDir", _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-qidx").toString
      val (_, t) = index(spark, sfDir)
      IndexWriter.write(shards(spark, sfDir), dir, 1L)
      graft.io.TableIO.writeMeta(dir, graft.io.TableIO.IndexMeta(t.nDocs, t.avgDl))
      dir
    })

  val auxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** persistedIndex dir with the derived aux artifacts committed (champion
    * lists m=5, per-repo term stats) — built once per (session, sfDir).
    * These are index-BUILD products persisted beside the bucket index with
    * manifest lineage (IndexWriter.writeAux); the _persisted query variants
    * read them COLD. */
  def persistedAux(s: SparkSession, dir: String): String =
    auxCache.computeIfAbsent(s"${s.hashCode}|$dir", _ => {
      val tableDir = persistedIndex(s, dir)
      val (c, t) = index(s, dir)
      // per-query evaluation metrics for the fixed df-top-40 bootstrap log:
      // the two FULL ranking passes are index-build-time products (the
      // bootstrap itself is cheap b·Q-row work) — committed with the same
      // writeAux lineage contract champions use, read COLD by the entry
      val (mA, mB) = bootstrapMetrics(s, dir)
      // the six artifacts are INDEPENDENT derivatives of the one committed
      // snapshot: submit them from separate driver threads so Spark
      // schedules the jobs side by side (none saturates the cluster alone;
      // a multi-executor driver overlaps them the same way). writeAux
      // serializes only the manifest read-modify-commit, so no lineage row
      // is lost to a concurrent committer.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      def job(body: => Unit): Future[Unit] = Future {
        org.apache.spark.sql.SparkSession.setActiveSession(s); body
      }
      val jobs = Seq(
        job(graft.index.Champions.persist(t.postings, t.docStats, t.avgDl, m = 5, tableDir)),
        job(graft.stats.Stats.persistRepoTermStats(
          InvertedIndex.termStatsByRepo(InvertedIndex.tokens(c)), tableDir)),
        job(QueryFrontend.persistKgrams(t.termStats, tableDir)),
        job(graft.ann.Quantize.persist(s.read.parquet(s"$dir/embeddings.parquet"), 64, tableDir)),
        job(IndexWriter.writeAux(mA, tableDir, "eval_metrics_a")),
        job(IndexWriter.writeAux(mB, tableDir, "eval_metrics_b")))
      try jobs.foreach(Await.result(_, Duration.Inf))
      finally { pool.shutdown(); () }
      tableDir
    })

  /** the paired-bootstrap fixture: BM25 vs binary-tf BM25 over a df-top-40
    * synthetic query log, reduced to the two Q-row per-query metric
    * relations (see persistedAux — these persist as aux artifacts). */
  def bootstrapMetrics(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val (_, t) = index(s, dir)
    val top = t.termStats.orderBy(desc("df"), asc("term")).limit(40)
      .collect().map(_.getString(0))
    val qs = top.grouped(2).zipWithIndex.flatMap { case (pair, i) =>
      pair.map(term => (i.toLong, term)) }.toSeq.toDF("query_id", "term")
    val rankA = Search.bm25TopKBatch(t.postings, t.docStats, t.termStats,
      qs, t.nDocs, t.avgDl, k = 10).select("query_id", "rank", "doc_id")
    val capped = t.postings.withColumn("tf", least(col("tf"), lit(1L)))
    val rankB = Search.bm25TopKBatch(capped, t.docStats, t.termStats,
      qs, t.nDocs, t.avgDl, k = 10).select("query_id", "rank", "doc_id")
    val qrels = graft.query.Eval.sumTfQrels(t.postings, qs)
    (graft.query.Eval.rankingMetrics(rankA, qrels, k = 10),
      graft.query.Eval.rankingMetrics(rankB, qrels, k = 10))
  }

  val bm25fCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** field-weighted BM25F postings tf' for dir's HTML-wrapped corpus, built
    * once per (session, sfDir) and cached serialized — the index-artifact
    * shape (Search.bm25fPostings doc) */
  def bm25fEff(s: SparkSession, dir: String): DataFrame =
    bm25fCache.computeIfAbsent(s"${s.hashCode}|$dir", _ => {
      val (c, _) = index(s, dir)
      val html = htmlWrapCol
      Search.bm25fPostings(c.select(col("doc_id"), col("lang"),
          Html.title(html).as("title"), Html.extractText(html).as("body")), wTitle = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    })

  val anchorEffCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Anchor-blended effective postings tf′ = tf + 3·atf, built ONCE per
    * (session, sfDir) and cached — the anchor field is an index artifact
    * exactly like `bm25fEff` (Anchors.withAnchors doc): queries score
    * through it without re-touching the edge table or re-tokenizing. */
  def anchorEff(s: SparkSession, dir: String): DataFrame =
    anchorEffCache.computeIfAbsent(s"${s.hashCode}|$dir", _ => {
      val (c, t) = index(s, dir)
      val apost = graft.corpus.Anchors.anchorPostings(
        graft.corpus.Anchors.syntheticAnchors(c, t.nDocs))
      graft.corpus.Anchors.withAnchors(t.postings, apost, wAnchor = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    })

  val lexIdxCache = new java.util.concurrent.ConcurrentHashMap[String, InvertedIndex.Tables]()
  /** Lexicon-EXPANDED index tables (1→N through the shipped lexicon), built
    * once per (session, sfDir) — the index side of the end-to-end lexical
    * search path: the reference lemmatizes BOTH sides
    * (IndexingServiceImpl.java:144-155 index, SearcherPage.java:39 query). */
  def lexIndex(s: SparkSession, dir: String): InvertedIndex.Tables =
    lexIdxCache.computeIfAbsent(s"${s.hashCode}|$dir", _ => {
      val (c, _) = index(s, dir)
      InvertedIndex.build(c, defaultLexicon = DefaultLexicon.lexicon)
    })

  val mltCache = new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()
  /** moreLikeThis index artifacts (TF-IDF weighted postings + per-doc
    * norms), built once per (session, sfDir) and cached serialized — the
    * per-query path pushes an isin term filter into this relation instead
    * of re-aggregating the postings (Search.mltBuild/mltQuery split). */
  def mltIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    mltCache.computeIfAbsent(s"${s.hashCode}|$dir", _ => {
      val (_, t) = index(s, dir)
      val (w, norms) = Search.mltBuild(t.postings, t.termStats, t.nDocs)
      (w.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
        norms.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    })


  /** fixed misspelled-query inputs for ft_suggest (dist 0/1/2 + no-match) */
  val suggestQ = Seq("sprk", "jion", "hash", "window")

  /** log-spaced doc-id prefix thresholds for the Heaps fit (1 .. 4096) */
  val heapsThresholds: Seq[Long] = (0 to 12).map(1L << _)

  /** cost-estimator query log: batchQ + a query with a missing term */
  val costQ: Seq[(Long, String)] = batchQ ++ Seq((3L, "spark"), (3L, "warpdrive"))


  /** shared rendezvous-routing CTE chain (through ranked placements `r`) —
    * referenced by BOTH ft_shard_route and ft_shard_load twins */
  def shardRouteSql: String = {
    val h = tokenHashSqlInner("term")
    val branches = (0 until 8).map(i =>
      s"SELECT term, df, $i::BIGINT AS shard, ${TextHash.mixSql(i, "h")} AS w FROM th")
      .mkString("\n UNION ALL ")
    s"""WITH ${termsCte}, ${tstatsCte},
       |th AS (SELECT term, df, $h AS h FROM tstats),
       |placed AS ($branches),
       |r AS (SELECT term, df, shard,
       |        row_number() OVER (PARTITION BY term
       |          ORDER BY w DESC, shard ASC)::BIGINT AS rnk FROM placed)""".stripMargin
  }

  /** exact-adjacent-phrase top-k: per term i, starts = pos − i; a
    * (doc, start) hit by all |terms| streams is one phrase occurrence —
    * mirrors Positional.phraseMatches */
  def phraseSql(terms: Seq[String], k: Int): String = {
    val shifts = terms.zipWithIndex.map { case (t, i) =>
      s"SELECT doc_id, pos - $i AS start FROM tp WHERE term = '$t'"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${tokArrCte},
       |tp AS (SELECT doc_id, unnest(arr) AS term, unnest(range(len(arr))) AS pos FROM tokarr),
       |m AS ($shifts),
       |hits AS (SELECT doc_id, start FROM m GROUP BY doc_id, start HAVING count(*) = ${terms.size}),
       |ph AS (SELECT doc_id, count(*)::BIGINT AS phrase_tf FROM hits GROUP BY doc_id)
       |SELECT rank, doc_id, phrase_tf FROM (
       |  SELECT row_number() OVER (ORDER BY phrase_tf DESC, doc_id ASC) AS rank,
       |         doc_id, phrase_tf
       |  FROM ph) WHERE rank <= $k""".stripMargin
  }

  /** ordered proximity (phrase within `slop`) top-k: term i matches start
    * when pos ∈ [start + i, start + i + slop] — mirrors
    * Positional.proximityMatches (distinct per term INDEX, count-k, count
    * starts) */
  /** unordered-NEAR twin: same start-witness construction without the
    * per-term-index shift; window width w = |terms| + slop */
  def nearSql(terms: Seq[String], slop: Int, k: Int): String = {
    val w = terms.size + slop
    val starts = terms.map { t =>
      s"SELECT doc_id, unnest(range(pos - $w + 1, pos + 1)) AS start, '$t' AS qt FROM tp WHERE term = '$t'"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${tokArrCte},
       |tp AS (SELECT doc_id, unnest(arr) AS term, unnest(range(len(arr))) AS pos FROM tokarr),
       |m AS ($starts),
       |md AS (SELECT DISTINCT doc_id, start, qt FROM m),
       |hits AS (SELECT doc_id, start FROM md GROUP BY doc_id, start HAVING count(*) = ${terms.size}),
       |ph AS (SELECT doc_id, count(*)::BIGINT AS near_tf FROM hits GROUP BY doc_id)
       |SELECT rank, doc_id, near_tf FROM (
       |  SELECT row_number() OVER (ORDER BY near_tf DESC, doc_id ASC) AS rank,
       |         doc_id, near_tf
       |  FROM ph) WHERE rank <= $k""".stripMargin
  }

  def proximitySql(terms: Seq[String], slop: Int, k: Int): String = {
    val shifts = terms.zipWithIndex.map { case (t, i) =>
      s"SELECT doc_id, unnest(range(pos - $i - $slop, pos - $i + 1)) AS start, $i AS ti FROM tp WHERE term = '$t'"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${tokArrCte},
       |tp AS (SELECT doc_id, unnest(arr) AS term, unnest(range(len(arr))) AS pos FROM tokarr),
       |m AS ($shifts),
       |md AS (SELECT DISTINCT doc_id, start, ti FROM m),
       |hits AS (SELECT doc_id, start FROM md GROUP BY doc_id, start HAVING count(*) = ${terms.size}),
       |ph AS (SELECT doc_id, count(*)::BIGINT AS prox_tf FROM hits GROUP BY doc_id)
       |SELECT rank, doc_id, prox_tf FROM (
       |  SELECT row_number() OVER (ORDER BY prox_tf DESC, doc_id ASC) AS rank,
       |         doc_id, prox_tf
       |  FROM ph) WHERE rank <= $k""".stripMargin
  }

  /** SymSpell deletion-neighborhood fuzzy twin: dictionary variants via a
    * 1-deletion list comprehension, query variants inlined, candidates by
    * equi-join, exact levenshtein verify — mirrors QueryFrontend.fuzzyTerms */
  def fuzzySql(query: String, maxDist: Int): String = {
    // the SQL dict side unrolls ONE deletion level; keep the twin honest
    require(maxDist == 1, "fuzzySql twin models the maxDist=1 neighborhood only")
    val qVariants = QueryFrontend.deletionVariants(query, maxDist)
    val qvArr = qVariants.map(v => s"'$v'").mkString(", ")
    s"""WITH ${termsCte}, ${tstatsCte},
       |v AS (SELECT term, df, unnest(list_prepend(term,
       |        list_transform(range(1, length(term) + 1),
       |          i -> substring(term, 1, CAST(i - 1 AS INTEGER)) ||
       |               substring(term, CAST(i + 1 AS INTEGER))))) AS variant
       |      FROM tstats),
       |qv AS (SELECT unnest(ARRAY[$qvArr]) AS variant),
       |cand AS (SELECT DISTINCT term, df FROM v JOIN qv USING (variant))
       |SELECT term, df, CAST(levenshtein(term, '$query') AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(term, '$query') <= $maxDist""".stripMargin
  }

  // ---- Russian corpus wrap + lexicon twins -----------------------------
  /** deterministic Russian content per doc (no external data): fixed
    * sentence + two doc_id-indexed picks. Exercises ё-fold (Ёжик/ёлка),
    * the Cyrillic char class (Latin/digits/punctuation stripped), the ru
    * stoplist (и/в) and the 1→N lexicon (вчатв/стали/банка/дома/мыши). */
  val ruPick7 = Seq("дом", "вчатв", "стали", "печи", "ёлка", "банка", "леса")
  val ruPick3 = Seq("дома", "мыши", "хорошо")
  def ruWrapCol: org.apache.spark.sql.Column =
    concat_ws(" ",
      lit("Ёжик и дом;"),
      elt(((col("doc_id") % 7 + 1).cast("int") +: ruPick7.map(lit)): _*),
      lit("в лесу not-русский text123"),
      elt(((col("doc_id") % 3 + 1).cast("int") +: ruPick3.map(lit)): _*))
  def ruWrapSql: String = {
    def pick(words: Seq[String], m: Int) =
      s"list_extract(ARRAY[${words.map(w => s"'$w'").mkString(", ")}], CAST(doc_id % $m + 1 AS INTEGER))"
    s"'Ёжик и дом;' || ' ' || ${pick(ruPick7, 7)} || ' ' || " +
      s"'в лесу not-русский text123' || ' ' || ${pick(ruPick3, 3)}"
  }
  /** the Russian lexicon as a VALUES relation (same 1→N join as lexCte) */
  def ruLexCte: String = {
    val vals = DefaultLexicon.russian.toSeq.sortBy(_._1)
      .flatMap { case (sf, fs) => fs.map(f => s"('$sf', '$f')") }.mkString(", ")
    s"rulex(surface, form) AS (VALUES $vals)"
  }

  /** Fixed-point integer PageRank as an unrolled 3-iteration CTE chain
    * (every per-iteration quantity is a BIGINT — hash-exact); terminal CTE
    * is `p3` (doc_id, pr). Shared by ft_pagerank and ft_blend. */
  /** shared OPIC CTE chain (3 unrolled rounds → oh3/oc3) — referenced by
    * BOTH the ft_opic and ft_crawl_priority twins */
  def opicCtes: String = {
    def iter(i: Int) = {
      val pc = s"oc${i - 1}"
      s"""oh$i AS (SELECT h.doc_id, h.hist + c.cash AS hist
         |         FROM oh${i - 1} h JOIN $pc c USING (doc_id)),
         |inf$i AS (SELECT e.dst AS doc_id, sum(c.cash // o.odeg) AS acc
         |          FROM $pc c JOIN odeg o ON c.doc_id = o.src
         |               JOIN edges e ON c.doc_id = e.src
         |          GROUP BY e.dst),
         |dng$i AS (SELECT coalesce(sum(c.cash), 0) // (SELECT n FROM nn) AS share
         |          FROM $pc c LEFT JOIN odeg o ON c.doc_id = o.src
         |          WHERE o.src IS NULL),
         |oc$i AS (SELECT n.doc_id,
         |           (coalesce(i.acc, 0) + (SELECT share FROM dng$i))::BIGINT AS cash
         |         FROM nodes n LEFT JOIN inf$i i USING (doc_id))""".stripMargin
    }
    s"""nodes AS (SELECT doc_id FROM documents),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |edges AS (
       |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM nn) AS dst FROM documents
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 3 + 7) % (SELECT n FROM nn) FROM documents),
       |odeg AS (SELECT src, count(*)::BIGINT AS odeg FROM edges GROUP BY src),
       |oh0 AS (SELECT doc_id, 0::BIGINT AS hist FROM nodes),
       |oc0 AS (SELECT doc_id, (1000000000000 // (SELECT n FROM nn))::BIGINT AS cash FROM nodes),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  def pagerankCtes: String = {
    val S = "1000000000000"
    val tele = s"(15 * ($S // (SELECT n FROM nn))) // 100"
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT nd.doc_id,
         |  CAST($tele + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS doc_id, sum(p.pr // o.odeg) AS acc
         |    FROM $prev p JOIN odeg o ON p.doc_id = o.src
         |         JOIN edges e ON p.doc_id = e.src
         |    GROUP BY e.dst) s USING (doc_id))""".stripMargin
    s"""nodes AS (SELECT doc_id FROM documents),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |edges AS (
       |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM nn) AS dst FROM documents
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 3 + 7) % (SELECT n FROM nn) FROM documents),
       |odeg AS (SELECT src, count(*)::BIGINT AS odeg FROM edges GROUP BY src),
       |p0 AS (SELECT doc_id, CAST($S // (SELECT n FROM nn) AS BIGINT) AS pr FROM nodes),
       |${iter("p0", "p1")},
       |${iter("p1", "p2")},
       |${iter("p2", "p3")}""".stripMargin
  }

  /** Twin of LinkRank.hits (2 iterations, scale 10^9): same nodes/edges as
    * pagerankCtes; each ℓ1-normalized half-step is raw // (Σraw // scale),
    * integer-exact in both engines. Exports a2/h2 (doc_id, s). */
  def hitsCtes: String = {
    val S = "1000000000"
    // one half-step: scores flow from `from` to `to` across edges
    def half(score: String, from: String, to: String, out: String) =
      s"""${out}raw AS (SELECT nd.doc_id, coalesce(r.raw, 0)::BIGINT AS raw
         |  FROM hnodes nd LEFT JOIN (
         |    SELECT e.$to AS doc_id, sum(x.s)::BIGINT AS raw
         |    FROM hedges e JOIN $score x ON e.$from = x.doc_id
         |    GROUP BY e.$to) r USING (doc_id)),
         |${out}den AS (SELECT greatest(sum(raw) // $S, 1)::BIGINT AS d FROM ${out}raw),
         |$out AS (SELECT doc_id, (raw // (SELECT d FROM ${out}den))::BIGINT AS s FROM ${out}raw)""".stripMargin
    s"""hnodes AS (SELECT doc_id FROM documents),
       |hnn AS (SELECT count(*) AS n FROM hnodes),
       |hedges AS (
       |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM hnn) AS dst FROM documents
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 3 + 7) % (SELECT n FROM hnn) FROM documents),
       |h0 AS (SELECT doc_id, CAST($S AS BIGINT) AS s FROM hnodes),
       |${half("h0", "src", "dst", "a1")},
       |${half("a1", "dst", "src", "h1")},
       |${half("h1", "src", "dst", "a2")},
       |${half("a2", "dst", "src", "h2")}""".stripMargin
  }

  /** Twin of Anchors.syntheticAnchors + anchorPostings: consumes `tokarr`
    * (ordered stop-filtered token arrays), exports `ap` (doc_id, term, atf).
    * Shared by ft_anchor_postings and ft_anchor_search. */
  def anchorCtes: String =
    s"""ann AS (SELECT count(*) AS n FROM documents),
       |anch AS (
       |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM ann) AS dst, arr[1:3] AS a FROM tokarr
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 3 + 7) % (SELECT n FROM ann), arr[4:6] FROM tokarr),
       |at AS (SELECT dst, unnest(a) AS term FROM anch),
       |ap AS (SELECT dst AS doc_id, term, count(*)::BIGINT AS atf FROM at GROUP BY dst, term)""".stripMargin

  // ---- HTML wrap / lexicon twins ---------------------------------------
  /** deterministic HTML wrapper around the documents corpus (no external
    * data): exercises script/style/tag stripping incl. a '<' inside script */
  def htmlWrapCol: org.apache.spark.sql.Column =
    concat(lit("<html><head><title>Doc "), col("doc_id"), lit(" - "), col("repo"),
      lit("</title><style>body { color: #000; }</style></head><body><p>"),
      col("content"), lit("</p><script>var x = 1 < 2;</script></body></html>"))
  def htmlWrapSql: String =
    "'<html><head><title>Doc ' || doc_id || ' - ' || source || " +
      "'</title><style>body { color: #000; }</style></head><body><p>' || text || " +
      "'</p><script>var x = 1 < 2;</script></body></html>'"

  /** deterministic PII injection for text_redact (the synthetic corpus
    * carries no real PII, so the fixture plants emails/IPs/phones to find) */
  def piiInject: org.apache.spark.sql.Column =
    concat(col("content"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call +1555"), lpad((col("doc_id") % 10000).cast("string"), 7, "0"))).otherwise(lit("")))
  def piiInjectSql: String =
    "text || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.1' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN ' call +1555' || lpad((doc_id % 10000)::VARCHAR, 7, '0') ELSE '' END"

  /** the shipped lexicon as a VALUES relation — the oracle applies the SAME
    * surface→forms map as a 1→N left join */
  def lexCte: String = {
    val vals = DefaultLexicon.lexicon.toSeq.sortBy(_._1)
      .flatMap { case (sf, fs) => fs.map(f => s"('$sf', '$f')") }.mkString(", ")
    s"lex(surface, form) AS (VALUES $vals)"
  }

  /** word-matches-query predicate of the snippet pipeline: analyze the word
    * (same token chain as the index) and test membership in the fixed query
    * set — `v` is the SQL variable holding the word */
  def snipMatchSql(v: String): String = {
    val stopsIn = stops.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    val termsIn = q2.sorted.map(t => s"'$t'").mkString(", ")
    s"len(list_filter(${Analyzer.sqlTokens(v)}, " +
      s"t -> t <> '' AND t NOT IN ($stopsIn) AND t IN ($termsIn))) > 0"
  }

  /** DuckDB twin of Snippets.makeSnippet (sentence argmax with index
    * tie-break, 30-word window from first hit − 15, single-space join,
    * <b> wrap) — mirrors SearchServiceImpl.java:135-296 semantics */
  def snippetSql: String =
    s"""WITH sraw AS (SELECT doc_id, regexp_split_to_array(text, '[.!?]\\s*') AS arr FROM documents),
       |sent0 AS (SELECT doc_id, unnest(arr) AS sentence, unnest(range(len(arr))) AS idx FROM sraw),
       |scnt AS (SELECT doc_id, idx, sentence,
       |  len(list_filter(regexp_split_to_array(sentence, '[«»“”[:punct:]\\s]+'),
       |      w -> w <> '' AND ${snipMatchSql("w")})) AS cnt
       |  FROM sent0 WHERE sentence <> ''),
       |best AS (SELECT doc_id, sentence FROM (
       |  SELECT doc_id, sentence,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, idx ASC) AS rn
       |  FROM scnt) WHERE rn = 1),
       |wrds AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(sentence, '\\s+'), w -> w <> '') AS ws FROM best),
       |win AS (SELECT doc_id, ws,
       |  CASE WHEN len(ws) < ${Snippets.snippetWords + 1} THEN ws
       |       ELSE ws[CAST(st + 1 AS INTEGER):CAST(st + ${Snippets.snippetWords} AS INTEGER)] END AS sw
       |  FROM (SELECT doc_id, ws,
       |          CASE WHEN len(hl) > 0 THEN greatest(0, hl[1] - ${Snippets.snippetWords / 2}) ELSE 0 END AS st
       |        FROM (SELECT doc_id, ws,
       |                list_filter(range(len(ws)), i -> ${snipMatchSql("ws[CAST(i + 1 AS INTEGER)]")}) AS hl
       |              FROM wrds))),
       |snip AS (SELECT doc_id, array_to_string(list_transform(sw,
       |  w -> CASE WHEN ${snipMatchSql("w")} THEN '<b>' || w || '</b>' ELSE w END), ' ') AS snippet
       |  FROM win)
       |SELECT d.doc_id, coalesce(s.snippet, '') AS snippet
       |FROM documents d LEFT JOIN snip s ON d.doc_id = s.doc_id""".stripMargin

  /** multi-fragment twin: rn ≤ 2 keeps idx; per-(doc, idx) window +
    * highlight; fragments re-joined in DOCUMENT order */
  def snippetMultiSql: String =
    s"""WITH sraw AS (SELECT doc_id, regexp_split_to_array(text, '[.!?]\\s*') AS arr FROM documents),
       |sent0 AS (SELECT doc_id, unnest(arr) AS sentence, unnest(range(len(arr))) AS idx FROM sraw),
       |scnt AS (SELECT doc_id, idx, sentence,
       |  len(list_filter(regexp_split_to_array(sentence, '[«»“”[:punct:]\\s]+'),
       |      w -> w <> '' AND ${snipMatchSql("w")})) AS cnt
       |  FROM sent0 WHERE sentence <> ''),
       |best AS (SELECT doc_id, idx, sentence FROM (
       |  SELECT doc_id, idx, sentence,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, idx ASC) AS rn
       |  FROM scnt) WHERE rn <= 2),
       |wrds AS (SELECT doc_id, idx,
       |  list_filter(regexp_split_to_array(sentence, '\\s+'), w -> w <> '') AS ws FROM best),
       |win AS (SELECT doc_id, idx, ws,
       |  CASE WHEN len(ws) < ${Snippets.snippetWords + 1} THEN ws
       |       ELSE ws[CAST(st + 1 AS INTEGER):CAST(st + ${Snippets.snippetWords} AS INTEGER)] END AS sw
       |  FROM (SELECT doc_id, idx, ws,
       |          CASE WHEN len(hl) > 0 THEN greatest(0, hl[1] - ${Snippets.snippetWords / 2}) ELSE 0 END AS st
       |        FROM (SELECT doc_id, idx, ws,
       |                list_filter(range(len(ws)), i -> ${snipMatchSql("ws[CAST(i + 1 AS INTEGER)]")}) AS hl
       |              FROM wrds))),
       |snipf AS (SELECT doc_id, idx, array_to_string(list_transform(sw,
       |  w -> CASE WHEN ${snipMatchSql("w")} THEN '<b>' || w || '</b>' ELSE w END), ' ') AS frag
       |  FROM win),
       |snip AS (SELECT doc_id, array_to_string(list(frag ORDER BY idx), ' … ') AS snippet
       |  FROM snipf GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(s.snippet, '') AS snippet
       |FROM documents d LEFT JOIN snip s ON d.doc_id = s.doc_id""".stripMargin

  // ---- ANN / multimodal oracle twins -----------------------------------
  val embDim = 64

  /** LSH bucket id in SQL: per-plane dot product written as the SAME
    * left-associated chain of double multiply-adds as Ann.bucketCol, with
    * the splitmix64-derived plane constants inlined as literals
    * (Double.toString round-trips, so DuckDB parses the identical double —
    * the sign decisions are bit-identical). */
  def lshBucketSql(v: String, bits: Int = 8): String =
    (0 until bits).map { b =>
      val dot = (0 until embDim)
        .map(d => s"$v[${d + 1}] * (${Ann.planeComponent(b, d)})").mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** squared L2 distance as the same 0.0-seeded left fold as the Scala
    * while-loop in Ann.ivfCentroids/assignUdf */
  def d2Sql(v: String, cv: String): String = d2SqlDim(v, cv, embDim)

  def d2SqlDim(v: String, cv: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range($dim), " +
      s"i -> ($v[CAST(i + 1 AS INTEGER)] - $cv[CAST(i + 1 AS INTEGER)]) * " +
      s"($v[CAST(i + 1 AS INTEGER)] - $cv[CAST(i + 1 AS INTEGER)]))), (acc, x) -> acc + x)"

  /** one Lloyd iteration over an arbitrary (sub-)vector relation — the
    * subspace-parameterized twin of ivfIterSql, for the PQ codebooks */
  def pqIterSql(eRel: String, subDim: Int, prev: String, a: String,
                        m: String, next: String): String =
    s"""$a AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${d2SqlDim("e.v", "c.cv", subDim)} ASC, c.cid ASC) AS rn
       |  FROM $eRel e, $prev c) WHERE rn = 1),
       |$m AS (SELECT cid, i,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list(v[CAST(i + 1 AS INTEGER)] ORDER BY vec_id)), (acc, x) -> acc + x)
       |         / count(*) AS mi
       |       FROM $a, (SELECT unnest(range($subDim)) AS i) GROUP BY cid, i),
       |$next AS (SELECT cid, cv FROM $prev WHERE cid NOT IN (SELECT cid FROM $m)
       |          UNION ALL SELECT cid, list(mi ORDER BY i) AS cv FROM $m GROUP BY cid)""".stripMargin

  /** one Lloyd iteration: assign (ties → lowest cid) + per-dim mean summed
    * in vec_id order (mirrors the sorted accumulation in ivfCentroids);
    * a centroid with no members keeps its previous position. */
  def ivfIterSql(prev: String, a: String, m: String, next: String): String =
    s"""$a AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${d2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM e, $prev c) WHERE rn = 1),
       |$m AS (SELECT cid, i,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list(v[CAST(i + 1 AS INTEGER)] ORDER BY vec_id)), (acc, x) -> acc + x)
       |         / count(*) AS mi
       |       FROM $a, (SELECT unnest(range($embDim)) AS i) GROUP BY cid, i),
       |$next AS (SELECT cid, cv FROM $prev WHERE cid NOT IN (SELECT cid FROM $m)
       |          UNION ALL SELECT cid, list(mi ORDER BY i) AS cv FROM $m GROUP BY cid)""".stripMargin

  /** exact brute-force cosine top-5 twin (composable: used standalone as
    * ann_topk and nested inside ann_recall) */
  def annBfSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |scored AS (SELECT q.query_id, e.vec_id, ${cosSql("q.qv", "e.embedding")} AS cos
       |           FROM embeddings e, q)
       |SELECT query_id, rank, vec_id, cos_r FROM (
       |  SELECT query_id, vec_id, round(cos, 4) AS cos_r,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  def annLshSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |eb AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM eb WHERE vec_id < 5),
       |pr AS (SELECT unnest(ARRAY[${(Seq(0L) ++ (0 until 8).map(b => 1L << b)).mkString(", ")}]) AS p),
       |qp AS (SELECT query_id, xor(qbucket, CAST(p AS BIGINT)) AS bucket FROM q, pr),
       |cand AS (SELECT DISTINCT qp.query_id, eb.vec_id FROM qp JOIN eb USING (bucket)),
       |scored AS (SELECT c.query_id, c.vec_id, ${cosSql("qq.qv", "ee.v")} AS cos
       |           FROM cand c JOIN q qq ON c.query_id = qq.query_id
       |                JOIN eb ee ON c.vec_id = ee.vec_id)
       |SELECT query_id, rank, vec_id, cos_r FROM (
       |  SELECT query_id, vec_id, round(cos, 4) AS cos_r,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** DuckDB twin of the PQ-ADC chain — referenced by BOTH ann_pq_adc and
    ann_pq_recall */
  lazy val annPqSql: String = {
      val sub = 32
      def chain(s: Int) = {
        val e = s"pe$s"
        s"""$e AS (SELECT vec_id, v[${s * sub + 1}:${(s + 1) * sub}] AS v FROM pe),
           |p${s}c0 AS (SELECT vec_id AS cid, v AS cv FROM $e WHERE vec_id < 8),
           |${pqIterSql(e, sub, s"p${s}c0", s"p${s}a1", s"p${s}m1", s"p${s}c1")},
           |${pqIterSql(e, sub, s"p${s}c1", s"p${s}a2", s"p${s}m2", s"p${s}c2")},
           |code$s AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |                            ORDER BY ${d2SqlDim("e.v", "c.cv", sub)} ASC, c.cid ASC) AS rn
           |  FROM $e e, p${s}c2 c) WHERE rn = 1),
           |qd$s AS (SELECT q.vec_id AS query_id, c.cid, ${d2SqlDim("q.v", "c.cv", sub)} AS d
           |         FROM $e q, p${s}c2 c WHERE q.vec_id < 5)""".stripMargin
      }
      s"""WITH pe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${chain(0)},
         |${chain(1)},
         |adc AS (SELECT q1.query_id, c0.vec_id, q1.d + q2.d AS adc
         |        FROM code0 c0 JOIN code1 c1 USING (vec_id)
         |             JOIN qd0 q1 ON q1.cid = c0.cid
         |             JOIN qd1 q2 ON q2.cid = c1.cid AND q2.query_id = q1.query_id)
         |SELECT query_id, rank, vec_id, adc_r FROM (
         |  SELECT query_id, vec_id, round(adc, 4) AS adc_r,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank
         |  FROM adc) WHERE rank <= 5""".stripMargin
    }

  def annIvfSql: String = {
    val iters = (1 to 4).map(t => ivfIterSql(s"c${t - 1}", s"a$t", s"m$t", s"c$t")).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |$iters,
       |fin AS (SELECT vec_id, v, cid AS bucket FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${d2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM e, c4 c) WHERE rn = 1),
       |qp AS (SELECT query_id, qv, bucket FROM (
       |  SELECT qe.vec_id AS query_id, qe.v AS qv, c.cid AS bucket,
       |         row_number() OVER (PARTITION BY qe.vec_id
       |                            ORDER BY ${d2Sql("qe.v", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM e qe, c4 c WHERE qe.vec_id < 5) WHERE rn <= 3),
       |scored AS (SELECT qp.query_id, a.vec_id, ${cosSql("qp.qv", "a.v")} AS cos
       |           FROM fin a JOIN qp ON a.bucket = qp.bucket)
       |SELECT query_id, rank, vec_id, cos_r FROM (
       |  SELECT query_id, vec_id, round(cos, 4) AS cos_r,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  /** SQ8 shared CTE chain: per-dim global (min, step), 0..255 codes, and
    * the dequantized vector relation `dq` (twin of Quantize.sqTrain +
    * sqEncode + dequantize — same double expressions before round, so
    * knife-edge .5 cases agree) plus the raw-double query set `q`. */
  def sq8Ctes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |dims AS (SELECT unnest(range($embDim)) AS d),
       |ex AS (SELECT vec_id, d, v[CAST(d + 1 AS INTEGER)] AS x FROM e, dims),
       |mm AS (SELECT d, min(x) AS lo,
       |         CASE WHEN max(x) > min(x) THEN (max(x) - min(x)) / 255.0 ELSE 0.0 END AS step
       |       FROM ex GROUP BY d),
       |cd AS (SELECT vec_id, d,
       |         CASE WHEN step = 0.0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(least(greatest(round((x - lo) / step), 0.0), 255.0) AS BIGINT)
       |         END AS c, lo, step
       |       FROM ex JOIN mm USING (d)),
       |dq AS (SELECT vec_id, list(lo + c * step ORDER BY d) AS v FROM cd GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5)""".stripMargin

  def annSq8Sql: String =
    s"""WITH $sq8Ctes,
       |scored AS (SELECT q.query_id, dq.vec_id, ${cosSql("q.qv", "dq.v")} AS cos
       |           FROM dq, q)
       |SELECT query_id, rank, vec_id, cos_r FROM (
       |  SELECT query_id, vec_id, round(cos, 4) AS cos_r,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  def annSq8RerankSql: String =
    s"""WITH $sq8Ctes,
       |s1 AS (SELECT q.query_id, dq.vec_id, ${cosSql("q.qv", "dq.v")} AS cos
       |       FROM dq, q),
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM s1) WHERE rank <= 15),
       |s2 AS (SELECT c.query_id, c.vec_id, ${cosSql("qq.qv", "ee.v")} AS cos
       |       FROM cand c JOIN q qq USING (query_id)
       |            JOIN e ee ON c.vec_id = ee.vec_id)
       |SELECT query_id, rank, vec_id, cos_r FROM (
       |  SELECT query_id, vec_id, round(cos, 4) AS cos_r,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM s2)
       |WHERE rank <= 5""".stripMargin

  /** byte-exact checksum twin: blob bytes recovered via hex() so multibyte
    * UTF-8 text hashes identically to the Scala fold over Array[Byte] */
  def mmFeaturesSql: String = {
    val hexval = (c: String) => s"(strpos('0123456789ABCDEF', $c) - 1)"
    val byteAt = s"CAST(${hexval("substring(hx, CAST(2 * i + 1 AS INTEGER), 1)")} * 16 + " +
      s"${hexval("substring(hx, CAST(2 * i + 2 AS INTEGER), 1)")} AS BIGINT)"
    s"""WITH b AS (SELECT doc_id, upper(hex(encode(text))) AS hx FROM documents)
       |SELECT doc_id AS media_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |  (length(hx) // 2)::BIGINT AS n_bytes,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(length(hx) // 2), i -> $byteAt)),
       |    (a, v) -> (a * 31 + v) % 2147483647) AS checksum
       |FROM b""".stripMargin
  }

  /** sequential-fold cosine between two float-list SQL expressions —
    * mirrors Dedup.cosine's left-to-right double accumulation exactly */
  def cosSql(a: String, b: String): String = {
    def fold(products: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $products), (acc, v) -> acc + v)"
    val dot = fold(s"list_transform(range(len($a)), i -> CAST($a[i + 1] AS DOUBLE) * CAST($b[i + 1] AS DOUBLE))")
    val na = s"sqrt(${fold(s"list_transform(range(len($a)), i -> CAST($a[i + 1] AS DOUBLE) * CAST($a[i + 1] AS DOUBLE))")})"
    val nb = s"sqrt(${fold(s"list_transform(range(len($b)), i -> CAST($b[i + 1] AS DOUBLE) * CAST($b[i + 1] AS DOUBLE))")})"
    s"($dot / ($na * $nb))"
  }

  def simhashSql: String =
    s"""WITH ${termsCte},
       |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY doc_id, term),
       |ph0 AS (SELECT doc_id, tf, ${tokenHashSqlInner("term")} AS h0 FROM post),
       |ph AS (SELECT doc_id, tf,
       |         (${TextHash.mixSql(100, "h0")}) + ((${TextHash.mixSql(101, "h0")}) << 31) AS h
       |       FROM ph0),
       |bits AS (SELECT doc_id, j,
       |           CASE WHEN sum(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN tf ELSE -tf END) > 0
       |                THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |         FROM ph, (SELECT unnest(range(${graft.dedup.Dedup.simhashBits})) AS j) GROUP BY doc_id, j)
       |SELECT doc_id, sum(bit * (1::BIGINT << CAST(j AS INTEGER)))::BIGINT AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin
}
