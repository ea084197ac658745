package graft.api

import graft.analyze.{Analyzer, Html}
import graft.functions.ByRef
import graft.index.{IndexWriter, InvertedIndex}
import graft.io.TableIO
import graft.query.{Bm25, BooleanQuery, QueryFrontend, Search, Wand}
import graft.stats.Stats
import graft.streaming.IncrementalIndex
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

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
  * deltas are computed on the driver (IncrementalIndex.mergePage): two
  * Spark jobs (the page's token collect and one fused point read), none
  * with a shuffle stage; the batch is written from the driver, with no
  * job. The corpus is one flat patch over a root folded into a fresh
  * localCheckpoint every `checkpointEvery` upserts (amortized O(corpus /
  * checkpointEvery) per call). Values enter plans by reference, so each
  * plan shape compiles once. Reads serve a cached base of live
  * tables read from the batch log plus a driver-side delta of the pages
  * merged since: an upsert advances both without a store read, and only a
  * fold, a compaction or a rebuild reads a new base. The log is compacted
  * once its batch fan-in exceeds `compactEvery`.
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
    * every search blends it into the ranking (Search.blendScores), with
    * the max(pr) blends divide by. Survives
    * corpus mutations by design: docs absent from the prior take pr = 0
    * (rank on relevance alone until the next prior refresh) */
  @volatile private var authorityPrior: Option[(DataFrame, Double, Double)] = None

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

  // ---- serve state: cached base tables plus a driver-side delta --------
  import SearchEngine.{Counts, Delta}

  /** one flat plan whatever the delta's age: `table` minus every key in
    * `keys` (an `InSet`), plus the delta's live rows as a local relation */
  private def patch(table: DataFrame, key: String, keys: Iterable[Any], schema: StructType,
                    rows: Seq[Row]): DataFrame =
    if (keys.isEmpty) table
    else table.filter(!ByRef.inSet(col(key), keys)).unionByName(spark.createDataFrame(rows.asJava, schema))

  /** The lifetime of cached data that searches read: a search holds it, a
    * mutation replaces it, and `drop` runs once it is replaced and its last
    * holder has released it, so no search ever recomputes it from lineage. */
  private class Lease(drop: () => Unit) {
    private var holders = 0
    private var replaced = false
    def hold(): Unit = synchronized { holders += 1 }
    def release(): Unit = synchronized { holders -= 1; if (replaced && holders == 0) drop() }
    def replace(): Unit = synchronized { replaced = true; if (holders == 0) drop() }
  }

  /** The live tables as read from the store (the only way they are built),
    * cached until the next base replaces them. Every generation in between
    * shares them. */
  private final class Base(val postings: DataFrame, val termStats: DataFrame, val docStats: DataFrame)
    extends Lease(() => { postings.unpersist(); termStats.unpersist(); docStats.unpersist() })

  /** The query-independent serve state of one index generation: a base, the
    * delta over it, the driver-side counts, the corpus, and the per-repo
    * doc-id sets that site-scoped WAND queries admit through. An upsert
    * derives the next generation from this one and its page ([[advance]]);
    * a fold, a compaction or a rebuild drops it. A search holds it
    * (`acquire` / `release`), and with it the base and the corpus it reads,
    * so a mutation never drops them or destroys a site set under a running
    * job: the last holder does. */
  private final class Pinned(val base: Base, delta: Delta, counts: Counts,
                             val corpus: DataFrame, corpusRoot: Option[Lease]) {
    def dictionary: Map[String, Long] = counts.dictionary

    private def postings(from: DataFrame, inScope: String => Boolean): DataFrame =
      patch(from, "doc_id", delta.docs.keys, StructType.fromDDL("doc_id BIGINT, term STRING, tf BIGINT"),
        for ((d, Some((r, tf))) <- delta.docs.toSeq if inScope(r); (t, n) <- tf.toSeq) yield Row(d, t, n))

    lazy val tables: InvertedIndex.Tables = InvertedIndex.Tables(
      postings(base.postings, _ => true),
      patch(base.termStats, "term", delta.terms, StructType.fromDDL("term STRING, df BIGINT"),
        delta.terms.toSeq.flatMap(t => dictionary.get(t).map(Row(t, _)))),
      patch(base.docStats, "doc_id", delta.docs.keys, StructType.fromDDL("doc_id BIGINT, dl BIGINT"),
        delta.docs.toSeq.collect { case (d, Some((_, tf))) => Row(d, tf.values.sum) }),
      counts.nDocs, counts.avgDl)

    /** the live postings of `repo`'s docs. The semi-join scopes the base
      * alone and the delta is scoped here: joined above the union, it would
      * be pushed into both branches and broadcast the repo's ids twice. */
    def sitePostings(repo: String): DataFrame = postings(
      base.postings.join(corpus.filter(col("repo") === repo).select("doc_id"), Seq("doc_id"), "left_semi"),
      _ == repo)

    /** the next generation: this one with `page` merged into `next` */
    def advance(page: IncrementalIndex.Page, next: DataFrame): Pinned =
      new Pinned(base, delta + page, counts + page, next, corpusRoot)

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

    def acquire(): Unit = synchronized {
      users += 1; base.hold(); corpusRoot.foreach(_.hold())
    }
    def release(): Unit = synchronized {
      users -= 1; base.release(); corpusRoot.foreach(_.release())
      if (retired && users == 0) dropSites()
    }
    def retire(): Unit = synchronized {
      retired = true
      if (users == 0) dropSites()
    }
    private def dropSites(): Unit = {
      sites.values.forEach(_.foreach { b => siteSets.remove(b); b.destroy() })
      sites.clear()
    }
  }
  private var live: Option[Pinned] = None
  /** the corpus patch's root; the docs replaced since (None: deleted) */
  private var corpusBase: DataFrame = initialCorpus
  private var corpusDelta = Map.empty[Long, Option[Row]]
  /** the lease on a cached or checkpointed `corpusBase`; None for a corpus
    * read back from the docs log (attach) */
  private var corpusRoot: Option[Lease] = None
  /** every site-set broadcast not yet destroyed */
  private val siteSets = java.util.concurrent.ConcurrentHashMap.newKeySet[Broadcast[Array[Long]]]()
  private[graft] def liveSiteSets: Set[Broadcast[Array[Long]]] = siteSets.asScala.toSet

  /** drop the generation and replace its base: the next search reads a new
    * base from the store */
  private def invalidateTables(): Unit = {
    live.foreach { p => p.retire(); p.base.replace() }
    live = None
  }

  private def pinned: Pinned = synchronized {
    live.getOrElse {
      val p = IncrementalIndex.readPostings(store, spark).get
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val ts = IncrementalIndex.readTermStats(store, spark).get.cache()
      val ds = IncrementalIndex.readDocStats(store, spark).get.cache()
      val nDocs = corpus.count() // checkpointed blocks — no source rescan
      val dl = ds.agg(coalesce(sum(col("dl")), lit(0L)), count(lit(1))).head()
      val dictionary = ts.select("term", "df").collect()
        .iterator.map(r => r.getString(0) -> r.getLong(1)).toMap
      val pin = new Pinned(new Base(p, ts, ds), Delta(Map.empty, Set.empty),
        Counts(dictionary, nDocs, dl.getLong(0), dl.getLong(1)), corpus, corpusRoot)
      live = Some(pin)
      pin
    }
  }

  /** `f` on the current generation, held while it runs */
  private def withPinned[T](f: Pinned => T): T = {
    val pin = synchronized { val p = pinned; p.acquire(); p }
    try f(pin) finally pin.release()
  }

  /** `df` cached as the root the corpus patch starts from */
  private def cachedRoot(df: DataFrame): DataFrame = {
    val root = df.cache()
    corpusRoot = Some(new Lease(() => root.unpersist(): Unit))
    corpusBase = root; corpusDelta = Map.empty
    root
  }

  private[graft] def tables: InvertedIndex.Tables = pinned.tables
  private[graft] def dictionary: Map[String, Long] = pinned.dictionary

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
      corpus = cachedRoot(gated)
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
    require(priorBeta >= 0 && priorBeta <= 1, s"beta must be in [0, 1], got $priorBeta")
    if (!inFlight.compareAndSet(false, true)) return false
    try {
      cancel.set(false)
      val gated =
        if (corpus.columns.contains("code")) graft.corpus.Corpus.httpOk(corpus)
        else corpus
      synchronized { corpus = cachedRoot(gated) }
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
    * corpus, one flat patch over its root. The full corpus is never
    * re-tokenized; a frame of more than
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
    // the docs log keeps the corpus's column order, whatever the page's
    val doc3 = doc2.select((corpus.columns.toSeq ++ doc2.columns.filter(_ == "seq")).map(col): _*)
    val page = IncrementalIndex.mergePage(store, doc3, lexicons, Html.textOf, keep)
    var folded = false
    if (page.ids.nonEmpty) {
      // the corpus is ONE flat lazy patch, as the serve tables are: its
      // root minus every doc replaced since the last fold plus their live
      // rows (a local relation's collect: no job), folded into a fresh
      // checkpoint every `checkpointEvery` calls
      val rows = page.docs.select(corpusBase.schema.map(f => col(f.name).cast(f.dataType)): _*).collect()
      corpusDelta ++= page.ids.map(_ -> Option.empty[Row]) ++ rows.map(r => r.getAs[Long]("doc_id") -> Some(r))
      corpus = patch(corpusBase, "doc_id", corpusDelta.keys, corpusBase.schema, corpusDelta.values.flatten.toSeq)
      sinceCheckpoint += 1
      if (sinceCheckpoint >= checkpointEvery) {
        corpus = corpus.localCheckpoint(true)
        // the checkpoint does not read the old root: drop it once unheld.
        // The checkpoint's blocks belong to the RDD under its frame.
        val blocks = corpus.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
        corpusRoot.foreach(_.replace())
        corpusRoot = Some(new Lease(() => blocks.foreach(_.unpersist(false)): Unit))
        corpusBase = corpus; corpusDelta = Map.empty
        sinceCheckpoint = 0
        folded = true
      }
    }
    // percolate the PAGE ONLY against the stored alert queries, on the
    // driver from its indexed term sets; matches accumulate until
    // drainAlerts()
    val alerts = alertQueries.toSeq.sortBy(_._1)
    for ((d, tf) <- page.postings.toSeq.sortBy(_._1); (id, q) <- alerts if q.forall(tf.contains))
      alertHits += ((id, d))
    // bound read fan-in: fold the log once it grows past compactEvery
    val compacted = store.pointer.exists(p => p._1 - p._2 >= compactEvery)
    if (compacted) IncrementalIndex.compactState(store, spark)
    // the serve state follows the page without a store read, except where
    // the corpus or the log was folded: there the next search reads a new
    // base, so a delta spans at most `checkpointEvery` pages
    if (folded || compacted) invalidateTables()
    else if (page.ids.nonEmpty) live = live.map { p => p.retire(); p.advance(page, corpus) }
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
    * search's ranking: blend = bm25 · (β + (1−β)·pr/max(pr)). β ∈ [0, 1]
    * and pr ≥ 0 are required, so that no blend exceeds its BM25 score (the
    * bound the WAND tier's certified rerank rests on; one aggregate checks
    * pr and takes max(pr)). The response cache is invalidated. */
  def setAuthorityPrior(prior: DataFrame, beta: Double = 0.5): Unit = synchronized {
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    val cached = prior.select(col("doc_id"), col("pr")).cache()
    val (prMin, prMax) = Search.priorRange(cached)
    if (prMin < 0) {
      cached.unpersist(); throw new IllegalArgumentException("prior pr must be >= 0")
    }
    authorityPrior.foreach(_._1.unpersist())
    authorityPrior = Some((cached, beta, prMax))
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
    val (pin, snap, prior, gen) = synchronized {
      val pin = pinned
      pin.acquire()
      (pin, persisted, authorityPrior, generation)
    }
    val resp =
      try { afterSnapshot(); doSearch(pin, snap, prior, query, site, offset, limit, lang) }
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
    * asc), so page 10^4 costs what page 1 costs. The cursor is the last
    * item of the previous page: its `relevance` and its docId (the numeric
    * tail of `uri` = "doc/<id>"). One ranking action over the live tables
    * (Search.countTopK with the cursor) counts every match and keeps the
    * best `limit` after the cursor: `count` is the total match count, as
    * in [[search]], past the last match too. Pure BM25 only: a cursor over
    * a prior-blended ranking would need the blended score as its key. */
  def searchAfter(query: String, afterScore: Double, afterDoc: Long,
                  limit: Int = 20, lang: String = "en"): SearchResponse = {
    require(indexed, "index not built")
    withPinned(pin => planned(pin, query, lang).fold(identity, terms => {
      val (dfs, t) = (terms.toMap, pin.tables)
      val top = Search.countTopK(Search.conjunctiveScores(t.postings, t.docStats, dfs, t.nDocs, t.avgDl),
        limit, after = Some(Search.Scored(afterDoc, afterScore)))
      respond(pin.corpus, top.count, top.ranked.toSeq, dfs.keySet)
    }))
  }

  /** Boolean-tree search (AND/OR/NOT, [[graft.query.BooleanQuery]]) —
    * beyond the reference's conjunctive-only search. Every Term leaf is
    * analyzed through the SAME per-lang lexicon as the index; a 1→N leaf
    * becomes an OR of its normal forms — including under NOT, where the
    * expansion correctly WIDENS the exclusion. The tree filters, positive
    * leaves score by BM25: one ranking action over the tree's one
    * aggregate; `count` = full candidate-set size. */
  def searchBoolean(tree: BooleanQuery.Node, limit: Int = 20,
                    lang: String = "en"): SearchResponse = {
    require(indexed, "index not built")
    withPinned(pin => searchBoolean(pin, tree, limit, lang))
  }

  private def searchBoolean(pin: Pinned, tree: BooleanQuery.Node, limit: Int,
                            lang: String): SearchResponse = {
    val t = pin.tables
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    if (BooleanQuery.leafTerms(tree).exists(s => Analyzer.queryTerms(lang, s, lex).isEmpty))
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
    val top = Search.countTopK(BooleanQuery.scores(t.postings, t.docStats, dfs, t.nDocs, t.avgDl, q), limit)
    respond(pin.corpus, top.count, top.ranked.toSeq, dfs.keySet)
  }

  /** The preamble of `search` and `searchAfter`: the query's planned
    * (term, df) pairs from the generation's dictionary (no Spark job), or
    * the response that answers it unranked — an empty query and missing
    * words are errors (reference SearchServiceImpl.java:54-57,
    * SearcherPage.java:58-79; its messages are Russian, kept in English
    * here), an empty plan matches nothing. */
  private def planned(pin: Pinned, query: String,
                      lang: String): Either[SearchResponse, Seq[(String, Long)]] = {
    // BOTH sides analyze through the same per-lang lexicon (reference
    // lemmatizes query and index alike: SearcherPage.java:39,
    // IndexingServiceImpl.java:144-155)
    val lex = lexicons.getOrElse(lang, Analyzer.emptyLexicon)
    lazy val plan = QueryFrontend.plan(pin.dictionary, lang, query, lex)
    if (Analyzer.queryTerms(lang, query, lex).isEmpty)
      Left(SearchResponse(result = false, 0, Nil, "Empty search query"))
    else if (plan.missing.nonEmpty)
      Left(SearchResponse(result = false, 0, Nil, s"No data for words: ${plan.missing.mkString(", ")}, "))
    else if (plan.isEmpty) Left(SearchResponse(result = true, 0, Nil, null))
    else Right(plan.terms.map(pt => pt.term -> pt.df))
  }

  private def doSearch(pin: Pinned, snap: Option[SearchEngine.Persisted],
                       prior: Option[(DataFrame, Double, Double)], query: String,
                       site: Option[String], offset: Int, limit: Int,
                       lang: String): SearchResponse = {
    val terms = planned(pin, query, lang) match { case Left(r) => return r; case Right(ts) => ts }
    val (dfs, t) = (terms.toMap, pin.tables)
    // rank tier: a committed compressed snapshot (startIndexingPersisted,
    // not yet invalidated by a mutation) serves every query through the
    // block-max WAND path with the snapshot's FROZEN stats — rank-identical
    // to the DataFrame aggregate by construction (shared formula +
    // tie-breaks; asserted in SearchEngineSpec). A site-scoped query admits
    // only its repo's docs inside the WAND loop. `rank(k)` is ONE ranking
    // job returning the full match count and the best k rows; `scores()`
    // is the (doc_id, score) relation of every match.
    val (rank, scores): (Int => Search.TopK, () => DataFrame) = snap match {
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
        def shards = IndexWriter.readForTerms(spark, s.dir, terms.map(_._1), s.cfg)
        (k => Wand.countTopK(shards, idfs, s.meta.avgDl, k, admit),
          () => Wand.scores(shards, idfs, s.meta.avgDl, admit))
      case None =>
        val scored = Search.conjunctiveScores(site.fold(t.postings)(pin.sitePostings),
          t.docStats, dfs, t.nDocs, t.avgDl)
        (k => Search.countTopK(scored, k), () => scored)
    }
    // the best offset + limit rows: all of them are kept whenever the
    // offset clamp fires, so the last row is present. `count` is the FULL
    // result-set size before pagination — the reference's response count
    // is resultSearch.size(), not the page length
    // (SearchServiceImpl.java:90); a UI pager needs the total
    val n = saturatedAdd(offset, limit)
    val top = prior match {
      case None => rank(n)
      case Some((p, beta, prMax)) =>
        // the count and the best n of `scored` by blend, in one action
        def blend(scored: DataFrame) = Search.countTopK(Search.blendScores(scored, p, beta, prMax)
          .select(col("doc_id"), col("blend").as("score")), n)
        // the WAND tier first reranks its C best matches by BM25 (two-stage
        // ranking), kept when certified exact: every match is a candidate,
        // or the n-th blend is strictly above the C-th BM25 score (β ∈
        // [0, 1] and pr ≥ 0 keep every blend at or below its BM25 score, so
        // no match outside the C ranks above the n-th). Otherwise, and on
        // the DataFrame tier, every match is blended.
        snap.flatMap { _ =>
          val cands = rank(math.max(math.min(8L * n, Int.MaxValue).toInt, 64))
          val c = cands.ranked
          val top = blend(spark.createDataFrame(c.toSeq).toDF("doc_id", "score"))
          top.count = cands.count
          Some(top).filter(_ => cands.count <= cands.k || top.ranked.lastOption.forall(_.score > c.last.score))
        }.getOrElse(blend(scores()))
    }
    val (o, l) = clampPage(offset, limit, top.count)
    respond(pin.corpus, top.count, top.ranked.toSeq.drop(o).take(l), dfs.keySet)
  }

  /** the response to a ranked page (best first): the match count, and the
    * page decorated — one filtered corpus scan computes title and snippet;
    * rank order and score are attached here, on the driver */
  private def respond(corpus: DataFrame, total: Long, page: Seq[Search.Scored],
                      terms: Set[String]): SearchResponse = {
    val rows = if (page.isEmpty) Map.empty[Long, Row]
      else Search.decorateIds(corpus, page.map(_.docId), terms).collect().map(r => r.getLong(0) -> r).toMap
    SearchResponse(result = true, total, page.flatMap { s =>
      rows.get(s.docId).map { r =>
        SearchItem(r.getAs[String]("repo"), r.getAs[String]("repo"), r.getAs[String]("path"),
          r.getAs[String]("title"), r.getAs[String]("snippet"), s.score)
      }
    }, null)
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

  /** What changed since the base: for each doc_id touched, its repo and
    * live term → tf, or None when it has no live postings (a tombstone:
    * deleted, or no indexed term left); and every term whose df moved. */
  private final case class Delta(docs: Map[Long, Option[(String, Map[String, Long])]], terms: Set[String]) {
    def +(p: IncrementalIndex.Page): Delta =
      Delta(docs ++ p.ids.map(id => id -> p.postings.get(id).map(p.repo(id) -> _)), terms ++ p.termDelta.keys)
  }

  /** A generation's statistics, kept on the driver: the term → df
    * dictionary, the corpus size, and Σdl over the doc_stats rows with their
    * count. Every dl is an integer, so Σdl / count is bit-equal to Spark's
    * avg(dl) over the same rows. */
  private final case class Counts(dictionary: Map[String, Long], nDocs: Long, sumDl: Long, nDl: Long) {
    def avgDl: Double = if (nDl == 0) 0.0 else sumDl.toDouble / nDl
    /** the counts after `p`, from its own numbers: terms whose df reaches 0
      * leave the dictionary, as in IncrementalIndex.readTermStats */
    def +(p: IncrementalIndex.Page): Counts = Counts(
      p.termDelta.foldLeft(dictionary) { case (d, (t, n)) =>
        val df = d.getOrElse(t, 0L) + n
        if (df > 0) d.updated(t, df) else d - t
      },
      nDocs + p.docsDelta,
      sumDl - p.oldDl.values.sum + p.postings.values.map(_.values.sum).sum,
      nDl - p.oldDl.size + p.postings.size)
  }

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
