package graft.api

import graft.analyze.{Analyzer, Html}
import graft.index.{IndexWriter, InvertedIndex}
import graft.io.TableIO
import graft.query.{Bm25, BooleanQuery, QueryFrontend, Search, Wand}
import graft.stats.Stats
import graft.streaming.IncrementalIndex
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's API surface (controllers/ApiController.java:21-47) as a
  * Spark-native facade — a user of the reference can switch endpoint by
  * endpoint:
  *
  *   GET  /api/startIndexing  -> startIndexing() / startIndexingPersisted(dir)
  *   POST /api/indexPage      -> indexPage(doc)
  *   GET  /api/search         -> search(query, site, offset, limit)
  *   GET  /api/statistics     -> statistics()
  *   GET  /api/stopIndexing   -> stopIndexing()  (cooperative flag; a
  *                               persisted build aborts at the next bucket-
  *                               group boundary, records FAILED status, and
  *                               a restart resumes from committed buckets)
  *
  * DTO shapes mirror dto/search/SearchResponce.java and the dto/statistics
  * classes (DetailedStatisticsItem carries status/statusTime/error). The
  * 60-second query-result cache replicates
  * SearchServiceImpl.java:40-43,68-85 (off the correctness path).
  *
  * Index maintenance is INCREMENTAL: the facade's live tables are backed by
  * the LSM batch log (IncrementalIndex.ParquetStateStore), so `indexPage`'s
  * index work costs O(page) — tokenize the page, point-read its docs' old
  * rows, append a delta batch — the reference's per-page cost profile
  * (IndexingServiceImpl.java:244-264), never an O(corpus) rebuild. The
  * deltas are computed on the driver (IncrementalIndex.mergePage): at most
  * 10 Spark jobs, none with a shuffle stage. The corpus replace is a lazy
  * filter + local-rows union per upsert, folded into a fresh
  * localCheckpoint every `checkpointEvery` upserts: amortized
  * O(corpus / checkpointEvery) per call, analyzed-plan size bounded by the
  * fold period. Reads reconstruct live tables from the batch log lazily
  * (cached until the next mutation); the log is compacted once its batch
  * fan-in exceeds `compactEvery`.
  *
  * Ingestion runs extract-then-lemmatize (reference: Jsoup text() before
  * Lemmatizator, tools/Lemmatizator.java:1): `indexedView` normalizes HTML
  * content via Html.textOf before tokenization, keeping the index coherent
  * with the htmlAware=true decoration in Search.search. The stored corpus
  * keeps RAW content (reference `page.content` stores the fetched HTML).
  *
  * `clock` supplies statusTime timestamps (driver-side wall clock — the
  * engine itself stays wall-clock-free and deterministic).
  */
class SearchEngine(spark: SparkSession, initialCorpus: DataFrame,
                   stateDir: Option[String] = None,
                   clock: () => Long = () => System.currentTimeMillis(),
                   checkpointEvery: Int = 32,
                   val lexicons: Map[String, Analyzer.Lexicon] = Map.empty) {

  case class SearchItem(site: String, siteName: String, uri: String,
                        title: String, snippet: String, relevance: Double)
  case class SearchResponse(result: Boolean, count: Long, data: Seq[SearchItem], error: String)
  /** reference dto/statistics/DetailedStatisticsItem.java field-for-field
    * (url ≙ site, name ≙ siteName) */
  case class DetailedItem(site: String, siteName: String, status: String,
                          statusTime: Long, error: String, pages: Long, lemmas: Long)
  case class Statistics(sites: Long, pages: Long, lemmas: Long,
                        detailed: Seq[DetailedItem])

  // mutable facade state: writes happen under `synchronized`; the volatile
  // markers keep unsynchronized readers (require-guards, statistics) from
  // seeing stale values on another thread
  @volatile private[graft] var corpus: DataFrame = initialCorpus
  @volatile private var indexed = false
  private val inFlight = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val cancel = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var lastErr: String = null
  @volatile private var indexStatusTime: Long = 0L
  /** upserts since the corpus lineage was last folded into a checkpoint */
  private var sinceCheckpoint = 0
  /** committed compressed index servable via the WAND path; cleared by any
    * mutation (the persisted snapshot is stale once the live LSM moves) */
  @volatile private var persisted: Option[SearchEngine.Persisted] = None
  /** query-independent authority prior (doc_id, pr) + blend β; when set,
    * every search blends it into the ranking (Search.blendScores). Survives
    * corpus mutations by design: docs absent from the prior take pr = 0
    * (rank on relevance alone until the next prior refresh) */
  @volatile private var authorityPrior: Option[(DataFrame, Double)] = None

  // ---- LSM state store backing the live tables -------------------------
  private val baseDir = stateDir.getOrElse(
    java.nio.file.Files.createTempDirectory("graft-engine-state").toString)
  private var runSeq = 0
  private[graft] var store: IncrementalIndex.ParquetStateStore = _
  /** batch fan-in bound before the log is folded into a fresh base */
  val compactEvery = 64

  private def freshStore(): IncrementalIndex.ParquetStateStore = {
    runSeq += 1
    val d = s"$baseDir/run-$runSeq"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    new IncrementalIndex.ParquetStateStore(d)
  }

  /** extract-then-lemmatize view: what the tokenizer sees (HTML stripped,
    * code/plain text passed through) — the stored corpus stays raw. */
  private def indexedView(df: DataFrame): DataFrame =
    df.withColumn("content", Html.textOf(col("content")))

  // ---- lazily reconstructed live tables (invalidated per mutation) -----
  /** The query-independent serve state of one index generation: the live
    * tables, the driver-side term → df dictionary collected once from
    * their cached term stats, and the per-repo doc-id sets that
    * site-scoped WAND queries admit through. Built on first use, dropped
    * together by [[invalidateTables]]. A search holds it (`acquire` /
    * `release`) so a mutation never destroys a site set under a running
    * ranking job: the last holder destroys them instead. */
  private final class Pinned(val tables: InvertedIndex.Tables, corpus: DataFrame) {
    lazy val dictionary: Map[String, Long] =
      tables.termStats.select("term", "df").collect()
        .iterator.map(r => r.getString(0) -> r.getLong(1)).toMap
    /** repo → its ascending doc ids, broadcast; None for a repo with no docs */
    private val sites =
      new java.util.concurrent.ConcurrentHashMap[String, Option[Broadcast[Array[Long]]]]()
    private var users = 0
    private var retired = false

    /** only a holder calls this, so no set is built after the last release */
    def siteDocs(repo: String): Option[Broadcast[Array[Long]]] =
      sites.computeIfAbsent(repo, r => {
        val ids = corpus.filter(col("repo") === r).select("doc_id").collect().map(_.getLong(0))
        if (ids.isEmpty) None
        else {
          val b = spark.sparkContext.broadcast(ids.sorted)
          siteSets.add(b)
          Some(b)
        }
      })

    def acquire(): Unit = synchronized { users += 1 }
    def release(): Unit = synchronized { users -= 1; if (retired && users == 0) dropSites() }
    def retire(): Unit = synchronized {
      tables.postings.unpersist(); tables.termStats.unpersist(); tables.docStats.unpersist()
      retired = true
      if (users == 0) dropSites()
    }
    private def dropSites(): Unit = {
      sites.values.forEach(_.foreach { b => siteSets.remove(b); b.destroy() })
      sites.clear()
    }
  }
  private var live: Option[Pinned] = None
  /** every site-set broadcast not yet destroyed */
  private val siteSets = java.util.concurrent.ConcurrentHashMap.newKeySet[Broadcast[Array[Long]]]()
  private[graft] def liveSiteSets: Set[Broadcast[Array[Long]]] = {
    import scala.jdk.CollectionConverters._
    siteSets.asScala.toSet
  }

  private def invalidateTables(): Unit = {
    live.foreach(_.retire())
    live = None
  }

  private def pinned: Pinned = synchronized {
    live.getOrElse {
      val p = IncrementalIndex.readPostings(store, spark).get
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val ts = IncrementalIndex.readTermStats(store, spark).get.cache()
      val ds = IncrementalIndex.readDocStats(store, spark).get.cache()
      val nDocs = corpus.count() // checkpointed blocks — no source rescan
      val avgRow = ds.agg(avg(col("dl"))).head()
      val avgDl = if (avgRow.isNullAt(0)) 0.0 else avgRow.getDouble(0)
      val pin = new Pinned(InvertedIndex.Tables(p, ts, ds, nDocs, avgDl), corpus)
      live = Some(pin)
      pin
    }
  }

  private[graft] def tables: InvertedIndex.Tables = pinned.tables

  /** full index build — refuses while one is in flight (reference guard,
    * IndexingServiceImpl.java:58-65; the reference answers the start
    * endpoint with an error body while any site is INDEXING). A repeated
    * call rebuilds into a fresh state lineage (the reference's re-crawl). */
  def startIndexing(): Boolean = {
    if (!inFlight.compareAndSet(false, true)) return false
    try synchronized {
      cancel.set(false)
      // HTTP-status gate (reference IndexingServiceImpl.java:135-137):
      // error pages never enter the index
      val gated =
        if (corpus.columns.contains("code")) graft.corpus.Corpus.httpOk(corpus)
        else corpus
      corpus = gated.cache()
      invalidateTables()
      store = freshStore()
      // one whole-corpus batch through the SAME merge path upserts use —
      // the initial build is just the first (big) delta. Raw docs ride
      // along into the durable docs log (reattach + statistics source).
      IncrementalIndex.mergeBatch(store, indexedView(corpus),
        lexicons = lexicons, rawDocs = Some(corpus))
      indexStatusTime = clock()
      lastErr = null
      indexed = true
      sinceCheckpoint = 0
      persisted = None // any previously attached snapshot is superseded
      invalidateResponses() // a rebuilt index invalidates every cached response
      true
    } finally inFlight.set(false)
  }

  /** Full build into a PERSISTED bucket-partitioned index at `tableDir`,
    * committing bucket groups incrementally: a stop (or crash) leaves the
    * committed buckets resumable, and a restart call skips them
    * byte-identically (IndexWriter.write resume contract). Returns false
    * if stopped before completion (FAILED status + lastError recorded —
    * reference IndexingServiceImpl.java:67-83). */
  /** `championsM = Some(m)` additionally persists the champion-list aux
    * artifact (per-term top-m, Champions.persist) and the per-repo term
    * stats beside the bucket index — the snapshot then ships with its
    * derived artifacts and a cold reader gets facets + the champions tier
    * without any recompute. */
  def startIndexingPersisted(tableDir: String, snapshotId: Long = 1L,
                             cfg: IndexWriter.Config = IndexWriter.Config(),
                             groupSize: Int = 4,
                             onGroupCommitted: Int => Unit = _ => (),
                             championsM: Option[Int] = None,
                             priorEdges: Option[DataFrame] = None,
                             priorIters: Int = 3,
                             priorBeta: Double = 0.5): Boolean = {
    if (!inFlight.compareAndSet(false, true)) return false
    try {
      cancel.set(false)
      val gated =
        if (corpus.columns.contains("code")) graft.corpus.Corpus.httpOk(corpus)
        else corpus
      synchronized { corpus = gated.cache() }
      val t = InvertedIndex.build(indexedView(corpus), lexicons = lexicons)
      val shards = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg)
        .persist(StorageLevel.MEMORY_AND_DISK_SER) // encode once across groups
      try {
        val committed0 = TableIO.readCurrent(tableDir).map(_.committed).getOrElse(Set.empty)
        val groups = (0 until cfg.nBuckets).filterNot(committed0).grouped(groupSize).toSeq
        for (g <- groups) {
          if (cancel.get()) {
            // cooperative stop observed at a group boundary: committed
            // buckets stay, FAILED status row records the abort
            lastErr = "Indexing stopped by user"
            TableIO.recordFailure(tableDir, snapshotId, clock(), lastErr)
            return false
          }
          IndexWriter.write(
            shards.filter(col("bucket").isin(g.map(x => x: Any): _*)),
            tableDir, snapshotId, cfg, statusTime = clock())
          // progress callback (status heartbeat analog; also lets tests
          // drive a deterministic mid-build stopIndexing)
          onGroupCommitted(g.size)
        }
        TableIO.writeMeta(tableDir, TableIO.IndexMeta(t.nDocs, t.avgDl))
        // per-repo df derives from the cached postings + the corpus's
        // (doc_id, repo) map — no second tokenization pass
        val tsRepo = t.postings
          .join(corpus.select("doc_id", "repo"), "doc_id")
          .groupBy("repo", "term").agg(count(lit(1)).as("df"))
        // optional derived artifacts ride along with the snapshot (manifest
        // aux lineage): champion lists + the facets/statistics source
        championsM.foreach { m =>
          graft.index.Champions.persist(t.postings, t.docStats, t.avgDl, m, tableDir, cfg)
          Stats.persistRepoTermStats(tsRepo, tableDir): Unit
        }
        // optional authority prior: PageRank over the supplied crawl graph,
        // persisted beside the index (manifest aux lineage, decommitted by
        // postings mutations like any aux artifact) and installed for the
        // serve path in the same breath
        priorEdges.foreach { ed =>
          val pr = graft.corpus.LinkRank.pagerank(
            ed, corpus.select("doc_id"), t.nDocs, priorIters)
          IndexWriter.writeAux(pr, tableDir, "prior")
          setAuthorityPrior(pr, priorBeta)
        }
        // the facade stays fully usable after a persisted build: seed the
        // live LSM store from the tables already in hand (one parquet
        // write, NO second tokenization pass), so search()/statistics()/
        // indexPage() work exactly as after startIndexing()
        synchronized {
          store = freshStore()
          IncrementalIndex.seedBase(store, t, rawDocs = Some(corpus),
            termStatsRepo = Some(tsRepo))
          invalidateTables()
          indexStatusTime = clock()
          lastErr = null
          indexed = true
          sinceCheckpoint = 0
          // the committed compressed index is queryable via the WAND path
          // with its frozen stats (_meta.json, read once here) until the
          // next mutation
          persisted = Some(SearchEngine.Persisted(tableDir, cfg, TableIO.readMeta(tableDir).get))
          invalidateResponses()
        }
        true
      } finally {
        shards.unpersist()
        t.postings.unpersist(): Unit
      }
    } finally inFlight.set(false)
  }

  /** true while search() serves queries from the committed
    * compressed snapshot via block-max WAND; false once a mutation
    * invalidates the snapshot (search falls back to the live LSM tables). */
  def servesFromPersisted: Boolean = persisted.isDefined

  /** GET /api/stopIndexing: arm the cooperative stop flag. Returns false
    * when no indexing run is in flight (the reference's "Индексация не
    * запущена" error body, IndexingServiceImpl.java:67-71). */
  def stopIndexing(): Boolean = {
    if (!inFlight.get()) return false
    cancel.set(true)
    true
  }

  /** single-doc upsert (POST /api/indexPage): a page-sized merge on the
    * driver (IncrementalIndex.mergePage) — one version per doc_id, a
    * delete for each doc whose re-fetch fails the HTTP gate, a
    * tokenize-and-merge for the rest — then replace-by-doc_id in the
    * corpus. The full corpus is never re-tokenized; a frame of more than
    * IncrementalIndex.isinThreshold rows is refused (bulk loads go through
    * startIndexing or IncrementalIndex.start). */
  def indexPage(doc: DataFrame): Boolean = synchronized {
    require(indexed, "index not built")
    // incoming docs get their integrity column recomputed (input_hint
    // invariant), never trusted from the caller
    val doc1 =
      if (corpus.columns.contains("sha256"))
        doc.withColumn("sha256", sha2(col("content"), 256))
      else doc
    // an upserted page was by definition fetched successfully (the caller
    // hands us its content) unless it carries an explicit status
    val doc2 =
      if (corpus.columns.contains("code") && !doc1.columns.contains("code"))
        doc1.withColumn("code", lit(200).cast("int"))
      else doc1
    // HTTP gate on the upsert path too (reference delete+reindex: an error
    // re-fetch REMOVES the old version and indexes nothing,
    // IndexingServiceImpl.java:135-137 via :244-264)
    val keep = if (doc2.columns.contains("code")) graft.corpus.Corpus.okStatus else lit(true)
    // a page the corpus cannot take fails here, before the store moves
    corpus.unionByName(doc2.drop("seq")): Unit
    val page = IncrementalIndex.mergePage(store, doc2, lexicons, Html.textOf, keep)
    if (page.ids.nonEmpty) {
      // corpus replace is a LAZY chain over the last checkpoint: a filter
      // and a union with the page's local rows per upsert, so a later
      // corpus read runs no extra job for it. The chain is folded into a
      // fresh checkpoint every `checkpointEvery` calls, which bounds the
      // analyzed plan by the fold period.
      corpus = corpus.filter(!col("doc_id").isin(page.ids: _*)).unionByName(page.docs)
      sinceCheckpoint += 1
      if (sinceCheckpoint >= checkpointEvery) {
        corpus = corpus.localCheckpoint(true)
        sinceCheckpoint = 0
      }
    }
    // percolate the PAGE ONLY against the stored alert queries, on the
    // driver from its indexed term sets; matches accumulate until
    // drainAlerts()
    val alerts = alertQueries.toSeq.sortBy(_._1)
    for ((d, terms) <- page.terms.toSeq.sortBy(_._1); (id, q) <- alerts if q.forall(terms))
      alertHits += ((id, d))
    // bound read fan-in: fold the log once it grows past compactEvery
    if (store.pointer.exists(p => p._1 - p._2 >= compactEvery))
      IncrementalIndex.compactState(store, spark)
    invalidateTables()
    persisted = None // the compressed snapshot no longer matches the LSM
    invalidateResponses() // cached responses may cite the replaced/deleted doc
    true
  }

  // 60s TTL result cache (reference: SearchServiceImpl.outdated)
  private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Option[String], Int, Int, String), (Long, SearchResponse)]()
  val cacheTtlMs = 60000L
  /** bumped by every mutation, under the engine lock: a search caches its
    * response only if the generation it snapshotted is still current */
  private var generation = 0L
  /** test seam: runs between computing a search response and caching it */
  @volatile private[graft] var beforeCachePut: () => Unit = () => ()
  /** test seam: runs between taking a search's snapshot and searching it */
  @volatile private[graft] var afterSnapshot: () => Unit = () => ()

  /** every mutation calls this under the engine lock */
  private def invalidateResponses(): Unit = {
    generation += 1
    cache.clear()
  }

  /** `lang` picks the query-analysis branch (stoplist/normalizer — "ru"
    * routes through the Cyrillic chain) and must match how the corpus was
    * tokenized, exactly like Search.search's contract. */
  // ---- percolation alerts (reverse search over incoming pages) ----------
  /** stored alert queries: id → analyzed conjunctive terms (the SAME
    * analyzer chain as search, so an alert fires exactly when the search
    * for its query would start matching the page) */
  private val alertQueries = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
  private val alertHits = scala.collection.mutable.Buffer.empty[(Long, Long)]

  /** Register "notify me when a page matching `query` is indexed". Returns
    * false when the query analyzes to nothing (same guard as search). */
  def registerAlert(alertId: Long, query: String, lang: String = "en"): Boolean = {
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    val terms = Analyzer.queryTerms(lang, query, lex)
    if (terms.isEmpty) false
    else { alertQueries.put(alertId, terms.toSeq); true }
  }

  def removeAlert(alertId: Long): Unit = alertQueries.remove(alertId): Unit

  /** (alertId, docId) matches accumulated by indexPage since the last
    * drain — the pull side of the alerting contract. */
  def drainAlerts(): Seq[(Long, Long)] = synchronized {
    val out = alertHits.toSeq
    alertHits.clear()
    out
  }

  /** Install a static authority prior (doc_id, pr) — e.g. `LinkRank
    * .pagerank` over the crawl graph — blended into every subsequent
    * search's ranking: blend = bm25 · (β + (1−β)·pr/max(pr)). The response
    * cache is invalidated (same query, different ranking). */
  def setAuthorityPrior(prior: DataFrame, beta: Double = 0.5): Unit = synchronized {
    authorityPrior.foreach(_._1.unpersist())
    authorityPrior = Some((prior.select(col("doc_id"), col("pr")).cache(), beta))
    invalidateResponses()
  }

  def clearAuthorityPrior(): Unit = synchronized {
    authorityPrior.foreach(_._1.unpersist())
    authorityPrior = None
    invalidateResponses()
  }

  /** Restore a persisted prior (the `prior` aux artifact written by
    * `startIndexingPersisted(priorEdges = …)`) — fails fast if the artifact
    * was decommitted by a postings mutation (IndexWriter.readAux). */
  def loadAuthorityPrior(tableDir: String, beta: Double = 0.5): Unit =
    setAuthorityPrior(IndexWriter.readAux(spark, tableDir, "prior"), beta)

  def search(query: String, site: Option[String] = None,
             offset: Int = 0, limit: Int = 20, lang: String = "en"): SearchResponse = {
    require(indexed, "index not built")
    val key = (query, site, offset, limit, lang)
    val now = System.currentTimeMillis()
    val hit = cache.get(key)
    if (hit != null && now - hit._1 < cacheTtlMs) return hit._2
    // one coherent snapshot: corpus and tables are reassigned together by
    // mutators (under the same lock), so reading them under it prevents a
    // concurrent indexPage from pairing new corpus content with old
    // postings mid-search
    val (corpus, pin, snap, prior, gen) = synchronized {
      val pin = pinned
      pin.acquire()
      (this.corpus, pin, persisted, authorityPrior, generation)
    }
    val resp =
      try { afterSnapshot(); doSearch(corpus, pin, snap, prior, query, site, offset, limit, lang) }
      finally pin.release()
    beforeCachePut()
    // a mutation since the snapshot has made this response stale: it still
    // answers this call, but it must not outlive the mutation in the cache
    synchronized { if (generation == gen) cache.put(key, (now, resp)) }
    resp
  }

  /** Cursor (search-after) deep paging — beyond the reference's offset
    * pager: the page strictly AFTER the (relevance, docId) cursor of the
    * previous page in the deterministic total order (score desc, docId
    * asc), so page 10^4 costs what page 1 costs
    * ([[graft.query.Search.bm25TopKAfter]]). The cursor is the last item
    * of the previous page: its `relevance` and its docId (the numeric
    * tail of `uri` = "doc/<id>"). Serves the pure-BM25 DataFrame path;
    * prior-blended rankings keep paging by offset (a cursor there would
    * need the blended score as its key). `count` carries the total match
    * count, as in [[search]]. */
  def searchAfter(query: String, afterScore: Double, afterDoc: Long,
                  limit: Int = 20, lang: String = "en"): SearchResponse = {
    require(indexed, "index not built")
    val (corpus, pin) = synchronized { (this.corpus, pinned) }
    val t = pin.tables
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    if (Analyzer.queryTerms(lang, query, lex).isEmpty)
      return SearchResponse(result = false, 0, Nil, "Empty search query")
    val plan = QueryFrontend.plan(pin.dictionary, lang, query, lex)
    if (plan.missing.nonEmpty)
      return SearchResponse(result = false, 0, Nil,
        s"No data for words: ${plan.missing.mkString(", ")}, ")
    if (plan.isEmpty) return SearchResponse(result = true, 0, Nil, null)
    val kept = plan.terms.map(_.term)
    val dfs = plan.terms.map(pt => pt.term -> pt.df).toMap
    val total = Search.conjunctive(t.postings, kept).count()
    val top = Search.bm25TopKAfter(t.postings, t.docStats, dfs, t.nDocs,
      t.avgDl, limit, afterScore, afterDoc)
    SearchResponse(result = true, total, items(corpus, pageOf(top), dfs.keySet), null)
  }

  /** Boolean-tree search (AND/OR/NOT, [[graft.query.BooleanQuery]]) —
    * beyond the reference's conjunctive-only search. Every Term leaf is
    * analyzed through the SAME per-lang lexicon as the index; a 1→N leaf
    * becomes an OR of its normal forms — including under NOT, where the
    * expansion correctly WIDENS the exclusion. The tree filters, positive
    * leaves score by BM25; `count` = full candidate-set size. */
  def searchBoolean(tree: BooleanQuery.Node, limit: Int = 20,
                    lang: String = "en"): SearchResponse = {
    require(indexed, "index not built")
    val (corpus, pin) = synchronized { (this.corpus, pinned) }
    val t = pin.tables
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    def leaves(n: BooleanQuery.Node): Seq[String] = n match {
      case BooleanQuery.Term(s) => Seq(s)
      case BooleanQuery.And(qs) => qs.flatMap(leaves)
      case BooleanQuery.Or(qs)  => qs.flatMap(leaves)
      case BooleanQuery.Not(q)  => leaves(q)
    }
    if (leaves(tree).exists(s => Analyzer.queryTerms(lang, s, lex).isEmpty))
      return SearchResponse(result = false, 0, Nil, "Empty search query")
    def analyzed(n: BooleanQuery.Node): BooleanQuery.Node = n match {
      case BooleanQuery.Term(s) =>
        Analyzer.queryTerms(lang, s, lex).toSeq.sorted match {
          case Seq(one) => BooleanQuery.Term(one)
          case many     => BooleanQuery.Or(many.map(BooleanQuery.Term))
        }
      case BooleanQuery.And(qs) => BooleanQuery.And(qs.map(analyzed))
      case BooleanQuery.Or(qs)  => BooleanQuery.Or(qs.map(analyzed))
      case BooleanQuery.Not(q)  => BooleanQuery.Not(analyzed(q))
    }
    val q = analyzed(tree)
    val pos = BooleanQuery.positiveTerms(q).toSeq.sorted
    val dfs = pos.flatMap(tm => pin.dictionary.get(tm).map(tm -> _)).toMap
    val missing = pos.filterNot(dfs.contains)
    if (missing.nonEmpty)
      return SearchResponse(result = false, 0, Nil,
        s"No data for words: ${missing.mkString(", ")}, ")
    val total = BooleanQuery.matches(t.postings, q).count()
    if (total == 0) return SearchResponse(result = true, 0, Nil, null)
    val top = BooleanQuery.topK(t.postings, t.docStats, dfs, t.nDocs, t.avgDl, q, limit)
    SearchResponse(result = true, total, items(corpus, pageOf(top), dfs.keySet), null)
  }

  private def doSearch(corpus: DataFrame, pin: Pinned, snap: Option[SearchEngine.Persisted],
                       prior: Option[(DataFrame, Double)], query: String,
                       site: Option[String], offset: Int, limit: Int,
                       lang: String): SearchResponse = {
    // BOTH sides analyze through the same per-lang lexicon (reference
    // lemmatizes query and index alike: SearcherPage.java:39,
    // IndexingServiceImpl.java:144-155)
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    // empty-after-analysis -> error (reference SearchServiceImpl.java:54-57)
    val qTerms = Analyzer.queryTerms(lang, query, lex)
    // (the reference's messages are Russian — "Задан пустой поисковый
    // запрос" / "Нет данных по словам: …" — kept in English here)
    if (qTerms.isEmpty)
      return SearchResponse(result = false, 0, Nil, "Empty search query")
    // df from the generation's dictionary: no Spark job before ranking
    val plan = QueryFrontend.plan(pin.dictionary, lang, query, lex)
    if (plan.missing.nonEmpty)
      // reference sentinel row lists the missing words (SearcherPage.java:58-79)
      return SearchResponse(result = false, 0, Nil,
        s"No data for words: ${plan.missing.mkString(", ")}, ")
    if (plan.isEmpty) return SearchResponse(result = true, 0, Nil, null)
    val kept = plan.terms.map(_.term)
    val dfs = plan.terms.map(pt => pt.term -> pt.df).toMap
    val t = pin.tables
    lazy val scoped = site match {
      case Some(r) => t.postings.join(
        corpus.filter(col("repo") === r).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => t.postings
    }
    // rank tier: a committed compressed snapshot (startIndexingPersisted,
    // not yet invalidated by a mutation) serves every query through the
    // block-max WAND path with the snapshot's FROZEN stats — rank-identical
    // to the DataFrame aggregate by construction (shared formula +
    // tie-breaks; asserted in SearchEngineSpec). A site-scoped query admits
    // only its repo's docs inside the WAND loop. `rank(k)` is ONE ranking
    // job returning the full match count and the best k rows.
    val rank: Int => Search.TopK = snap match {
      case Some(s) =>
        val admit = site match {
          case None => Wand.admitAll
          case Some(r) => pin.siteDocs(r) match {
            case Some(ids) => Wand.admitSorted(ids)
            // an unknown repo, or one with no docs, matches nothing
            case None => return SearchResponse(result = true, 0, Nil, null)
          }
        }
        val idfs = dfs.map { case (tm, d) => tm -> Bm25.idfS(d, s.meta.nDocs) }
        k => Wand.countTopK(IndexWriter.readForTerms(spark, s.dir, kept, s.cfg), idfs,
          s.meta.avgDl, k, admit)
      case None =>
        k => Search.countTopK(Search.conjunctiveScores(scoped, t.docStats, dfs, t.nDocs, t.avgDl), k)
    }
    // `count` is the FULL result-set size before pagination — the
    // reference's response count is resultSearch.size(), not the page
    // length (SearchServiceImpl.java:90); a UI pager needs the total
    val (total, page) = (prior, snap) match {
      case (None, _) =>
        // the best offset + limit rows: all of them are kept whenever the
        // offset clamp fires, so the last row is present
        val ranked = rank(saturatedAdd(offset, limit))
        val (o, l) = clampPage(offset, limit, ranked.count)
        (ranked.count, ranked.ranked.iterator.drop(o).take(l).map(h => (h.docId, h.score)).toSeq)
      case (Some((p, beta)), Some(_)) =>
        // two-stage ranking: WAND retrieves C candidates by pure BM25 (an
        // upper bound of the blended score, Search.rerankWithPrior doc)
        // with the count, the prior reranks those C rows only. C covers
        // every match whenever the offset clamp fires.
        val cands = rank(math.max(math.min(8L * saturatedAdd(offset, limit), Int.MaxValue.toLong).toInt, 64))
        val (o, l) = clampPage(offset, limit, cands.count)
        import spark.implicits._
        val candDf = cands.ranked.toSeq.map(h => (h.docId, h.score)).toDF("doc_id", "score")
        (cands.count, pageOf(Search.rerankWithPrior(candDf, p, beta, l, o)))
      case (Some((p, beta)), None) =>
        val total = Search.conjunctive(scoped, kept).count()
        val (o, l) = clampPage(offset, limit, total)
        (total, pageOf(Search.blendTopK(scoped, t.docStats, dfs, t.nDocs, t.avgDl, p,
            saturatedAdd(o, l), beta)
          .filter(col("rank") > o)
          .withColumnRenamed("blend", "score")))
    }
    if (total == 0) return SearchResponse(result = true, 0, Nil, null)
    SearchResponse(result = true, total, items(corpus, page, dfs.keySet), null)
  }

  /** the (doc_id, score) rows of a ranked (rank, doc_id, score) frame, in
    * rank order: the ≤ k rows are sorted here, not by a distributed sort */
  private def pageOf(top: DataFrame): Seq[(Long, Double)] =
    top.select(col("rank").cast("long"), col("doc_id"), col("score")).collect()
      .sortBy(_.getLong(0)).map(r => (r.getLong(1), r.getDouble(2))).toSeq

  /** the decorated `page` ((doc_id, score) in rank order): one filtered
    * corpus scan computes title and snippet; rank order and score are
    * attached here, on the driver */
  private def items(corpus: DataFrame, page: Seq[(Long, Double)], terms: Set[String]): Seq[SearchItem] =
    if (page.isEmpty) Nil
    else {
      val rows = Search.decorateIds(corpus, page.map(_._1), terms).collect()
        .iterator.map(r => r.getLong(0) -> r).toMap
      page.flatMap { case (id, score) =>
        rows.get(id).map { r =>
          SearchItem(r.getAs[String]("repo"), r.getAs[String]("repo"),
            r.getAs[String]("path"), r.getAs[String]("title"),
            r.getAs[String]("snippet"), score)
        }
      }
    }

  /** offset + limit clamped to [0, Int.MaxValue]: the heap size a page
    * needs, known before the match count */
  private def saturatedAdd(offset: Int, limit: Int): Int =
    math.max(0L, math.min(offset.toLong + limit, Int.MaxValue.toLong)).toInt

  /** reference quirk (SearchServiceImpl.java:101-118): an offset at or past
    * the end of the result list clamps to the LAST element rather than
    * returning an empty page; the page offset stays below Int.MaxValue so
    * a >2^31-row match count can't overflow it */
  private def clampPage(offset: Int, limit: Int, total: Long): (Int, Int) =
    if (offset > 0 && offset >= total) (math.min(total - 1, Int.MaxValue.toLong - 1).toInt, 1)
    else (offset, limit)

  /** per-repo (repo, pages, lemmas) rows + the ALL total, computed from
    * STORE tables only (docs log + signed per-repo df deltas) — a status
    * poll never re-tokenizes the corpus, mirroring the reference's two
    * COUNT queries over existing tables (StatisticsServiceImpl.java:30-87,
    * PageRepository.countBySite / LemmaRepository.countBySite). Falls back
    * to the tokenize rollup only for legacy stores that never carried raw
    * docs. Exposed for the no-Analyzer-nodes plan assertion in spec. */
  private[graft] def statisticsFrame(): DataFrame = synchronized {
    val fromStore = for {
      docs <- IncrementalIndex.readDocs(store, spark)
      tsr <- IncrementalIndex.readTermStatsRepo(store, spark)
    } yield {
      val pages = docs.groupBy("repo").agg(count(lit(1)).as("pages"))
      val lemmas = tsr.groupBy("repo").agg(count(lit(1)).as("lemmas"))
      val per = pages.join(lemmas, "repo")
      val totalRow = per.agg(coalesce(sum("pages"), lit(0L)).as("pages"),
          coalesce(sum("lemmas"), lit(0L)).as("lemmas"))
        .withColumn("repo", lit("ALL")).select("repo", "pages", "lemmas")
      per.select("repo", "pages", "lemmas").union(totalRow)
    }
    fromStore.getOrElse(Stats.statistics(indexedView(corpus)))
  }

  def statistics(): Statistics = {
    require(indexed, "index not built")
    val rows = statisticsFrame().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val total = rows.find(_._1 == "ALL").getOrElse(("ALL", 0L, 0L))
    // status mirrors the reference Site.status: a recorded error (e.g. a
    // stopped persisted build) reports FAILED with last_error, not a
    // contradictory INDEXED-with-error row
    val status = if (lastErr != null) "FAILED" else "INDEXED"
    val detailed = rows.filterNot(_._1 == "ALL").sortBy(_._1).map { case (site, pages, lemmas) =>
      DetailedItem(site, site, status, indexStatusTime, lastErr, pages, lemmas)
    }
    Statistics(detailed.length.toLong, total._2, total._3, detailed.toSeq)
  }

  /** adopt an already-committed LSM store (the attach path): serve reads
    * immediately; `runSeq` continues the run numbering so a later rebuild
    * never collides with the adopted lineage. */
  private[graft] def adoptStore(st: IncrementalIndex.ParquetStateStore, seq: Int): Unit =
    synchronized {
      store = st
      runSeq = math.max(runSeq, seq)
      invalidateTables()
      indexStatusTime = clock()
      lastErr = null
      indexed = true
      sinceCheckpoint = 0
      invalidateResponses()
    }
}

object SearchEngine {

  /** a committed compressed snapshot the WAND tier serves, with the
    * `_meta.json` stats (nDocs, avgDl) it was encoded with */
  private final case class Persisted(dir: String, cfg: IndexWriter.Config, meta: TableIO.IndexMeta)

  /** Reattach to an existing engine state WITHOUT rebuilding: open the
    * newest committed `run-N` LSM store under `stateDir`, restore the
    * corpus from its durable docs log, and serve queries immediately — the
    * reference survives a restart because MySQL persists its page/lemma/
    * index tables (application.yaml:13-26, `ddl-auto: update`); the LSM
    * batch log is this engine's equivalent. The attached engine runs ZERO
    * tokenization jobs until the next mutation (asserted on the postings
    * plan in SearchEngineSpec). */
  def attach(spark: SparkSession, stateDir: String,
             clock: () => Long = () => System.currentTimeMillis(),
             checkpointEvery: Int = 32,
             lexicons: Map[String, Analyzer.Lexicon] = Map.empty): SearchEngine = {
    val base = java.nio.file.Paths.get(stateDir)
    require(java.nio.file.Files.isDirectory(base), s"no engine state at $stateDir")
    val runRe = "^run-(\\d+)$".r
    val s = java.nio.file.Files.list(base)
    val runs = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).collect {
        case runRe(n) => n.toInt
      }.toSeq.sorted(Ordering[Int].reverse)
    } finally s.close()
    // newest run whose pointer committed AND whose batches carry the docs
    // log (an aborted or legacy run is skipped, not trusted)
    val picked = runs.iterator.map { n =>
      (n, new IncrementalIndex.ParquetStateStore(s"$stateDir/run-$n"))
    }.find { case (_, st) => st.pointer.isDefined && st.batches("docs").nonEmpty }
    require(picked.isDefined, s"no committed run with a docs log under $stateDir")
    val (seq, store) = picked.get
    val corpus = IncrementalIndex.readDocs(store, spark).get
    val e = new SearchEngine(spark, corpus, Some(stateDir), clock, checkpointEvery, lexicons)
    e.adoptStore(store, seq)
    e
  }
}
