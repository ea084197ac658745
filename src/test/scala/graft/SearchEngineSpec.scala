package graft

import graft.SparkTestSession.{clearCodegenCache, compiledSourcesOf, compilesOf, jobNamesOf, jobStagesOf, jobsOf}
import graft.api.SearchEngine
import graft.corpus.Corpus
import graft.streaming.IncrementalIndex
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** API-facade behavior: endpoint semantics mirrored from the reference
  * (ApiController paths, SearchResponce shape, error payloads, result
  * cache, upsert visibility). */
class SearchEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def freshEngine(): SearchEngine = {
    val e = new SearchEngine(spark, Corpus.fromDocuments(spark, "/root/testdata/sf0.001"))
    assert(e.startIndexing())
    e
  }
  lazy val engine = freshEngine()

  /** an engine serving global queries from a committed snapshot (WAND tier) */
  lazy val persistedEngine: SearchEngine = persistedFresh("graft-api-persisted")

  /** a new engine serving from a fresh committed snapshot (WAND tier) */
  def persistedFresh(prefix: String): SearchEngine = {
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val e = new SearchEngine(spark, Corpus.fromDocuments(spark, "/root/testdata/sf0.001"))
    assert(e.startIndexingPersisted(dir, 1L, cfg, groupSize = 4))
    assert(e.servesFromPersisted)
    e
  }

  /** count, error and the decorated page agree; scores to 1e-9 (summation
    * order across the two physical paths differs in the last ulp — same
    * gate the DuckDB oracle applies via 4dp rounding) */
  def assertSameResponse(what: String, a: SearchEngine#SearchResponse,
                         b: SearchEngine#SearchResponse): Unit = {
    assert((a.result, a.count, a.error) == (b.result, b.count, b.error),
      s"$what: count ${a.count} vs ${b.count}")
    assert(a.data.map(i => (i.site, i.uri, i.title, i.snippet)) ==
      b.data.map(i => (i.site, i.uri, i.title, i.snippet)), s"$what: page diverged")
    a.data.zip(b.data).foreach { case (x, y) =>
      assert(math.abs(x.relevance - y.relevance) < 1e-9, s"$what: ${x.uri} score diverged")
    }
  }

  /** the repo a zero-match site-scoped search for the rarest term runs in:
    * (term, a repo none of its docs belong to) */
  def zeroMatchSite(e: SearchEngine): (String, String) = {
    import org.apache.spark.sql.functions.{col, collect_set, size}
    val sites = e.corpus.select("doc_id", "repo")
    val rare = e.tables.postings.join(sites, "doc_id").groupBy("term")
      .agg(collect_set(col("repo")).as("repos"))
      .orderBy(size(col("repos")), col("term")).head()
    val other = (sites.select("repo").distinct().collect().map(_.getString(0)).toSet --
      rare.getSeq[String](1)).min
    (rare.getString(0), other)
  }

  /** the separate conjunctive count the facade's ranking pass replaces */
  def conjunctiveCount(e: SearchEngine, q: String, site: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val t = e.tables
    val kept = graft.query.QueryFrontend.plan(t.termStats, "en", q).terms.map(_.term)
    val scoped = site.fold(t.postings)(r => t.postings.join(
      e.corpus.filter(col("repo") === r).select("doc_id"), Seq("doc_id"), "left_semi"))
    graft.query.Search.conjunctive(scoped, kept).count()
  }

  test("search returns decorated, ranked items") {
    val r = engine.search("spark join", limit = 5)
    // count = TOTAL matches (reference resultSearch.size()); data = the page
    assert(r.result && r.data.length == 5 && r.count >= 5)
    assert(r.data.head.relevance >= r.data.last.relevance)
    assert(r.data.forall(i => i.snippet.contains("<b>")))
    assert(r.data.forall(i => i.uri.startsWith("doc/")))
  }

  test("empty query and missing-term error payloads mirror the reference") {
    val empty = engine.search("the a")
    assert(!empty.result && empty.error != null)
    val missing = engine.search("spark warpdrive flux")
    assert(!missing.result)
    assert(missing.error.contains("flux") && missing.error.contains("warpdrive"))
  }

  test("site-scoped search restricts results") {
    val r = engine.search("spark join", site = Some("src3"), limit = 10)
    assert(r.result)
    assert(r.data.forall(_.site == "src3"))
  }

  test("offset past the end clamps to the last result (reference pagination quirk)") {
    // total matches for this query is small; an offset far past it must
    // return the LAST ranked element, not an empty page
    // (SearchServiceImpl.java:101-118)
    val all = engine.search("dup spark", limit = 1000)
    assert(all.result && all.count > 0 && all.count < 900)
    val past = engine.search("dup spark", offset = 5000, limit = 10)
    assert(past.result && past.data.length == 1)
    assert(past.count == all.count) // total is total regardless of the page
    assert(past.data.head.uri == all.data.last.uri)
  }

  test("Search.search ≡ the facade: global, site-scoped, missing, stop-word-only, page 2, offset clamp") {
    val t = engine.tables
    val count = engine.search("dup spark").count
    val cases = Seq(("spark join", None, 0), ("spark join", Some("src3"), 0), ("spark warpdrive", None, 0),
      ("the a", None, 0), ("spark join", None, 10), ("dup spark", None, count.toInt), ("dup spark", None, 5000))
    for ((q, site, offset) <- cases) {
      val what = s"'$q' site=$site offset=$offset"
      val f = engine.search(q, site, offset, limit = 10)
      val v = graft.query.Search.search(engine.corpus, t.postings, t.docStats, t.termStats, t.nDocs, t.avgDl,
        query = q, repoFilter = site, limit = 10, offset = offset).collect()
      assert(v.map(r => (r.getAs[String]("path"), r.getAs[String]("title"), r.getAs[String]("snippet"))).toSeq ==
        f.data.map(i => (i.uri, i.title, i.snippet)), what)
      v.zip(f.data).foreach { case (r, i) => assert(math.abs(r.getAs[Double]("score") - i.relevance) < 1e-9, what) }
      // an offset at or past the count clamps to the last row; ranks count
      // from the page's place in the full ranking
      val clamped = offset > 0 && offset >= f.count
      val first = if (clamped) f.count.toInt else offset + 1
      assert(v.map(_.getAs[Int]("rank")).toSeq == v.indices.map(_ + first), what)
      val empty = q == "spark warpdrive" || q == "the a"
      assert(empty || f.count > 10, what)
      assert(v.length == (if (empty) 0 else if (clamped) 1 else (f.count - offset).min(10).toInt), what)
    }
  }

  test("searchAfter: cursor page ≡ offset page; count stays the total") {
    val p1 = engine.search("spark join", limit = 5)
    assert(p1.result && p1.data.length == 5)
    val cursor = p1.data.last
    val docId = cursor.uri.stripPrefix("doc/").toLong
    val p2 = engine.searchAfter("spark join", cursor.relevance, docId, limit = 5)
    val off = engine.search("spark join", offset = 5, limit = 5)
    assert(p2.result)
    assert(p2.data.map(_.uri) == off.data.map(_.uri),
      s"cursor ${p2.data.map(_.uri)} vs offset ${off.data.map(_.uri)}")
    assert(p2.count == p1.count)
    // a cursor past the last match: an empty page, the count still the total
    val last = engine.search("spark join", limit = p1.count.toInt).data.last
    val past = engine.searchAfter("spark join", last.relevance, last.uri.stripPrefix("doc/").toLong, limit = 5)
    assert(past.result && past.data.isEmpty && past.count == p1.count)
    // error payloads mirror search()
    assert(!engine.searchAfter("the a", 1.0, 0L).result)
    assert(!engine.searchAfter("spark warpdrive", 1.0, 0L).result)
  }

  test("searchBoolean: NOT excludes through the facade; missing positive term errors") {
    import graft.query.BooleanQuery._
    val r = engine.searchBoolean(And(Seq(Term("spark"), Not(Term("dup")))), limit = 10)
    assert(r.result && r.data.nonEmpty)
    val dupUris = engine.search("dup", limit = 1000).data.map(_.uri).toSet
    assert(dupUris.nonEmpty)
    assert(r.data.forall(i => !dupUris.contains(i.uri)), "an excluded doc leaked through NOT")
    // count is the full candidate-set size, not the page size
    assert(r.count >= r.data.length)
    val bad = engine.searchBoolean(And(Seq(Term("spark"), Term("warpdrive"))))
    assert(!bad.result && bad.error.contains("warpdrive"))
    // a wide tree of unknown NOT leaves excludes nothing: it is the term search
    val wide = engine.searchBoolean(And(Term("spark") +: (0 until 150).map(i => Not(Term(s"zz$i")))))
    assertSameResponse("And(spark, Not(zz0..zz149))", wide, engine.search("spark"))
    // OR over the whole vocabulary ≡ a scalar recompute: every doc with a
    // term, scored by the BM25 sum over its terms, best 20
    val t = engine.tables
    val vocab = engine.dictionary
    val or = engine.searchBoolean(Or(vocab.keys.toSeq.sorted.map(Term)))
    val dl = t.docStats.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dl")).toMap
    val want = t.postings.select("doc_id", "term", "tf").collect().toSeq
      .groupBy(_.getLong(0)).toSeq.map { case (d, rows) =>
        d -> rows.map(r => graft.query.Bm25.scoreS(r.getLong(2), vocab(r.getString(1)), dl(d), t.nDocs, t.avgDl)).sum
      }.sortBy { case (d, sc) => (-sc, d) }
    assert(or.result && or.count == want.size, s"OR(vocabulary): count ${or.count} vs ${want.size}")
    assert(or.data.map(_.uri) == want.take(20).map(w => s"doc/${w._1}"), "OR(vocabulary): ranks diverged")
    or.data.zip(want).foreach { case (i, (_, sc)) =>
      assert(math.abs(i.relevance - sc) < 1e-9, s"OR(vocabulary): ${i.uri} score diverged")
    }
  }

  test("result cache: repeated query within TTL returns the same object") {
    val a = engine.search("hash", limit = 3)
    val b = engine.search("hash", limit = 3)
    assert(a eq b) // cache hit returns the identical response instance
  }

  test("statistics mirrors TotalStatistics + detailed items incl. status/statusTime/error") {
    val s = engine.statistics()
    assert(s.sites == 20 && s.pages == 500)
    assert(s.detailed.map(_.pages).sum == s.pages)
    assert(s.lemmas > 0)
    // DetailedStatisticsItem parity: status + heartbeat timestamp + error payload
    assert(s.detailed.forall(d => d.status == "INDEXED" && d.statusTime > 0 && d.error == null))
  }

  test("HTTP-status gate: error pages never enter the index (code > 299)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
      .withColumn("code", when(col("doc_id") === 0L, lit(404)).otherwise(col("code")))
    val word0 = graft.analyze.Analyzer
      .analyze("en", c.filter(col("doc_id") === 0L).select("content").head.getString(0)).head
    val e = new SearchEngine(spark, c)
    assert(e.startIndexing())
    val r = e.search(word0, limit = 1000)
    assert(!r.data.exists(_.uri == "doc/0"), "404 page must not be searchable")
    assert(e.statistics().pages == 499)
  }

  test("indexPage with an error status removes the old version, indexes nothing") {
    import spark.implicits._
    val e = freshEngine()
    // re-fetch of page 0 came back 404: reference deletes the old page and
    // the status gate skips indexing the new fetch
    val doc = Seq((0L, "src0", "doc/0",
      "0000000000000000000000000000000000000000", "en", "error page body", 404))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content", "code")
    assert(e.indexPage(doc))
    assert(e.statistics().pages == 499)
    val r = e.search("error", limit = 10)
    assert(!r.data.exists(_.uri == "doc/0"))
  }

  test("indexPage upsert: new content is searchable, old is gone") {
    import spark.implicits._
    val e = freshEngine()
    val before = e.search("dup", limit = 100)
    val doc = Seq((0L, "src0", "doc/0",
      "0000000000000000000000000000000000000000", "en", "dup dup dup unique999word"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(e.indexPage(doc))
    val after = e.search("unique999word", limit = 10)
    assert(after.result && after.count == 1 && after.data.head.uri == "doc/0")
    val dupAfter = e.search("dup", limit = 100)
    assert(dupAfter.count == before.count + 1 ||
      before.data.exists(_.uri == "doc/0") && dupAfter.count == before.count)
  }

  test("indexPage is O(page): delta batch carries only the doc; no corpus rescan; plan size stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // checkpointEvery = 2: the corpus delta chain must fold back to a flat
    // checkpoint every second upsert (amortized replace, bounded plan)
    val e = new SearchEngine(spark,
      Corpus.fromDocuments(spark, "/root/testdata/sf0.001"), checkpointEvery = 2)
    assert(e.startIndexing())
    def up(id: Long, content: String): Unit = {
      val doc = Seq((id, "src0", s"doc/$id", "0" * 40, "en", content))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")
      assert(e.indexPage(doc))
    }
    up(1L, "alphaone betaone gammaone alphaone")
    // the newest LSM batch holds ONLY this doc's postings (3 distinct terms)
    val latest = e.store.latestBatch.get
    val delta = spark.read.parquet(s"${e.store.dir}/postings/batch=$latest")
    assert(delta.count() == 3)
    assert(delta.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    // plan size right after each fold boundary must be identical — the
    // delta chain may grow BETWEEN folds (by a constant per upsert) but
    // must never grow across them
    up(2L, "deltaone epsilonone") // fold #1
    val nodes2 = e.corpus.queryExecution.analyzed.collect { case p => p }.size
    up(3L, "zetaone etaone")
    val nodes3 = e.corpus.queryExecution.analyzed.collect { case p => p }.size
    up(4L, "thetaone iotaone")    // fold #2
    val nodes4 = e.corpus.queryExecution.analyzed.collect { case p => p }.size
    assert(nodes4 == nodes2, s"corpus plan grew across folds: $nodes2 -> $nodes4")
    assert(nodes3 > nodes2, "between folds the replace must stay a lazy delta chain" +
      s" (got $nodes2 -> $nodes3)") // i.e. no O(corpus) checkpoint per upsert
    // live tables reconstruct from the LSM batch log, never from a corpus
    // re-tokenization: the postings plan reads state parquet only
    val postPlan = e.tables.postings.queryExecution.executedPlan.toString
    assert(!postPlan.contains("documents.parquet"),
      "postings plan must not scan the corpus source")
    // and the merged content is searchable with correct stats
    val r = e.search("epsilonone", limit = 5)
    assert(r.result && r.count == 1 && r.data.head.uri == "doc/2")
    assert(e.statistics().pages == 500) // 4 replaced docs, none added
  }

  test("HTML corpus facade coherence: markup never indexed, body searchable, <title> used") {
    import spark.implicits._
    val c = Seq(
      (0L, "site0", "doc/0", "0" * 40, "en",
        "<html><head><title>Greeting Page</title><style>body { colorvalue: red; }</style></head>" +
          "<body><p>hello zanzibar world</p><script>var scriptsecret = 1;</script></body></html>"),
      (1L, "site0", "doc/1", "0" * 40, "en", "plain text document mentioning zanzibar too"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val e = new SearchEngine(spark, c)
    assert(e.startIndexing())
    // script/style/tag tokens must NOT be indexed (extract-then-lemmatize,
    // matching the reference's Jsoup text() before Lemmatizator)
    assert(!e.search("scriptsecret").result)
    assert(!e.search("colorvalue").result)
    // body text IS searchable; title from <title>; snippet highlights the
    // extracted text — decoration coherent with what was indexed
    val r = e.search("zanzibar", limit = 5)
    assert(r.result && r.count == 2)
    val hit0 = r.data.find(_.uri == "doc/0").get
    assert(hit0.title == "Greeting Page")
    assert(hit0.snippet.contains("<b>zanzibar</b>"))
    assert(!hit0.snippet.contains("scriptsecret"))
    // a plain-text doc keeps path-as-title
    assert(r.data.find(_.uri == "doc/1").get.title == "doc/1")
  }

  test("lang=ru search end-to-end through the facade (Cyrillic analyzer branch)") {
    import spark.implicits._
    val c = Seq(
      (0L, "ru0", "doc/0", "0" * 40, "ru", "Ёлка и дом стоят в лесу"),
      (1L, "ru0", "doc/1", "0" * 40, "ru", "дом у реки"),
      (2L, "ru0", "doc/2", "0" * 40, "ru", "только лес"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val e = new SearchEngine(spark, c)
    assert(e.startIndexing())
    val r = e.search("дом", lang = "ru", limit = 10)
    assert(r.result && r.count == 2, s"got $r")
    assert(r.data.map(_.uri).toSet == Set("doc/0", "doc/1"))
    assert(r.data.forall(_.snippet.contains("<b>дом</b>")))
    // ё-fold: a query spelled with ё matches the indexed fold
    val r2 = e.search("ёлка", lang = "ru", limit = 10)
    assert(r2.result && r2.count == 1 && r2.data.head.uri == "doc/0")
    // ru stopword-only query -> empty-query error, as the reference
    assert(!e.search("и в на", lang = "ru").result)
  }

  test("stopIndexing: abort mid persisted build -> FAILED status; restart resumes byte-identically") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    def fingerprint(dir: String): Map[(String, Int), Long] =
      spark.read.parquet(s"$dir/data")
        .select(col("term"), col("shard"), xxhash64(col("term"), col("shard"), col("bytes")).as("h"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    // uninterrupted reference build
    val refDir = Files.createTempDirectory("graft-api-ref").toString
    assert(new SearchEngine(spark, corpus).startIndexingPersisted(refDir, 1L, cfg, groupSize = 2))
    // interrupted build: the PUBLIC stopIndexing() is driven after the
    // first committed group; the next group boundary observes it
    val dir = Files.createTempDirectory("graft-api-stop").toString
    val e = new SearchEngine(spark, corpus)
    assert(!e.stopIndexing()) // nothing in flight yet -> reference error body
    var stopped = false
    val ok = e.startIndexingPersisted(dir, 1L, cfg, groupSize = 2,
      onGroupCommitted = _ => if (!stopped) { stopped = true; assert(e.stopIndexing()) })
    assert(!ok, "build must report stopped")
    val committed = graft.io.TableIO.readCurrent(dir).get.committed
    assert(committed.nonEmpty && committed.size < cfg.nBuckets,
      s"stop must land mid-build: $committed")
    // FAILED row with the error payload is visible in the status surface
    val failedRows = graft.stats.Stats.runStatus(spark, dir).collect()
      .filter(_.getAs[String]("status") == "FAILED")
    assert(failedRows.nonEmpty)
    assert(failedRows.head.getAs[String]("lastError").contains("stopped by user"))
    assert(failedRows.head.getAs[Long]("statusTime") > 0)
    // while stopped-and-not-resumed, the status surface reports FAILED
    // with the error payload (reference Site.status + last_error)
    // restart resumes the remaining buckets -> identical to uninterrupted
    assert(e.startIndexingPersisted(dir, 2L, cfg, groupSize = 2))
    assert(fingerprint(dir) == fingerprint(refDir))
    val mGot = graft.io.TableIO.readCurrent(dir).get
    val mRef = graft.io.TableIO.readCurrent(refDir).get
    assert(mGot.partitions.map(p => p.partition -> (p.rows, p.bytes, p.hashAgg)).toMap ==
      mRef.partitions.map(p => p.partition -> (p.rows, p.bytes, p.hashAgg)).toMap)
    // ...and the resumed engine is fully live: search + clean statistics
    val r = e.search("spark join", limit = 5)
    assert(r.result && r.data.length == 5)
    assert(e.statistics().detailed.forall(d => d.status == "INDEXED" && d.error == null))
  }

  test("persisted build leaves the facade fully usable: search/statistics/upsert") {
    import spark.implicits._
    import java.nio.file.Files
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = Files.createTempDirectory("graft-api-pers").toString
    val e = new SearchEngine(spark, Corpus.fromDocuments(spark, "/root/testdata/sf0.001"))
    assert(e.startIndexingPersisted(dir, 1L, cfg, groupSize = 4))
    val r = e.search("spark join", limit = 5)
    assert(r.result && r.data.length == 5 && r.data.forall(_.snippet.contains("<b>")))
    val s = e.statistics()
    assert(s.pages == 500 && s.detailed.forall(_.status == "INDEXED"))
    // upserts flow through the same live store the seed created
    val doc = Seq((0L, "src0", "doc/0", "0" * 40, "en", "persistedword only"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(e.indexPage(doc))
    val r2 = e.search("persistedword", limit = 5)
    assert(r2.result && r2.count == 1 && r2.data.head.uri == "doc/0")
  }

  test("persisted build ships aux artifacts: champions + per-repo stats committed with lineage") {
    import java.nio.file.Files
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = Files.createTempDirectory("graft-api-aux").toString
    val e = new SearchEngine(spark, Corpus.fromDocuments(spark, "/root/testdata/sf0.001"))
    assert(e.startIndexingPersisted(dir, 1L, cfg, groupSize = 4, championsM = Some(3)))
    val man = graft.io.TableIO.readCurrent(dir).get
    assert(man.aux.map(_.name).toSet ==
      Set(graft.index.Champions.auxName, graft.stats.Stats.repoTermStatsAux))
    assert(man.aux.forall(a => a.rows > 0 && a.bytes > 0))
    // the cold champions tier answers from the artifact alone
    val ch = graft.index.Champions.readForTerms(spark, dir, Seq("spark", "join"), cfg)
    assert(ch.count() > 0)
    // and the cold facets path needs no tokenization
    val f = graft.stats.Stats.facetsPersisted(spark, dir, k = 2)
    assert(f.count() > 0)
    assert(!f.queryExecution.analyzed.toString.contains("regexp_replace"),
      "cold facets must not tokenize")
  }

  test("query cache cannot serve a doc the upsert path just deleted") {
    import spark.implicits._
    val e = freshEngine()
    val q = "dup"
    val before = e.search(q, limit = 1000)
    assert(before.result && before.count > 0)
    val victim = before.data.head.uri.stripPrefix("doc/").toLong
    // error re-fetch -> delete path removes the doc from corpus and index;
    // the cached response for q must NOT survive the mutation
    val doc = Seq((victim, "src0", s"doc/$victim", "0" * 40, "en", "gone", 404))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content", "code")
    assert(e.indexPage(doc))
    val after = e.search(q, limit = 1000)
    assert(!(after eq before), "mutation must invalidate the result cache")
    assert(!after.data.exists(_.uri == s"doc/$victim"), "deleted doc still served")
  }

  test("count reports the TOTAL match count; data is the page (page 1 and 2)") {
    // reference: count = resultSearch.size() BEFORE pagination
    // (SearchServiceImpl.java:90) — what a UI pager needs
    val total = engine.search("spark join", limit = 1000)
    assert(total.result && total.count == total.data.length && total.count > 20)
    val p1 = engine.search("spark join", offset = 0, limit = 10)
    val p2 = engine.search("spark join", offset = 10, limit = 10)
    assert(p1.data.length == 10 && p2.data.length == 10)
    assert(p1.count == total.count && p2.count == total.count)
    assert(p1.data.map(_.uri).toSet.intersect(p2.data.map(_.uri).toSet).isEmpty)
  }

  test("per-lang lexicon end-to-end: query 'дома' finds docs indexed under 'дом'") {
    import spark.implicits._
    val c = Seq(
      (0L, "ru0", "doc/0", "0" * 40, "ru", "дом стоит в лесу"),   // indexed form: дом
      (1L, "ru0", "doc/1", "0" * 40, "ru", "дома у реки"),        // surface дома -> дом
      (2L, "ru0", "doc/2", "0" * 40, "ru", "только лес"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val e = new SearchEngine(spark, c,
      lexicons = Map("ru" -> graft.analyze.DefaultLexicon.russian))
    assert(e.startIndexing())
    // query side expands дома -> дом; index side indexed doc/1's "дома"
    // under дом — BOTH docs must match (reference lemmatizes both sides)
    val r = e.search("дома", lang = "ru", limit = 10)
    assert(r.result && r.count == 2, s"got $r")
    assert(r.data.map(_.uri).toSet == Set("doc/0", "doc/1"))
    // without the lexicon the same query finds only the literal surface
    val plain = new SearchEngine(spark, c)
    assert(plain.startIndexing())
    val rp = plain.search("дома", lang = "ru", limit = 10)
    assert(rp.count == 1 && rp.data.head.uri == "doc/1")
  }

  test("reattach: a new SearchEngine over an existing stateDir serves without rebuilding") {
    import java.nio.file.Files
    val stateDir = Files.createTempDirectory("graft-reattach").toString
    val e = new SearchEngine(spark,
      Corpus.fromDocuments(spark, "/root/testdata/sf0.001"), stateDir = Some(stateDir))
    assert(e.startIndexing())
    val before = e.search("spark join", limit = 10)
    val statsBefore = e.statistics()
    // drop the object; attach a fresh engine to the surviving state
    val e2 = SearchEngine.attach(spark, stateDir)
    val after = e2.search("spark join", limit = 10)
    assert(after.result && after.count == before.count)
    assert(after.data.map(i => (i.uri, i.title, i.snippet, i.relevance)) ==
      before.data.map(i => (i.uri, i.title, i.snippet, i.relevance)))
    // ZERO tokenization on reattach: the live tables read state parquet
    // only — no Analyzer chain (regexp_replace) and no corpus source scan
    val postPlan = e2.tables.postings.queryExecution.executedPlan.toString
    assert(!postPlan.contains("regexp_replace"), "reattach must not re-tokenize")
    assert(!postPlan.contains("documents.parquet"))
    // statistics agree and also come from store tables only
    val statsAfter = e2.statistics()
    assert(statsAfter.pages == statsBefore.pages && statsAfter.lemmas == statsBefore.lemmas)
    // the attached engine stays fully mutable: an upsert lands in the SAME
    // state lineage and is immediately searchable
    import spark.implicits._
    val doc = Seq((0L, "src0", "doc/0", "0" * 40, "en", "reattachword only"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(e2.indexPage(doc))
    val r2 = e2.search("reattachword", limit = 5)
    assert(r2.result && r2.count == 1 && r2.data.head.uri == "doc/0")
  }

  test("facade serves persisted WAND path when a tableDir is attached, rank-identical to the DataFrame path") {
    import java.nio.file.Files
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = Files.createTempDirectory("graft-api-wandpath").toString
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val pe = new SearchEngine(spark, corpus)
    assert(pe.startIndexingPersisted(dir, 1L, cfg, groupSize = 4))
    assert(pe.servesFromPersisted, "committed snapshot must arm the WAND tier")
    // LSM-only engine = the DataFrame reference path
    val de = new SearchEngine(spark, corpus)
    assert(de.startIndexing())
    assert(!de.servesFromPersisted)
    for (q <- Seq("spark join", "dup hash spark", "hash")) {
      val a = pe.search(q, limit = 10)
      val b = de.search(q, limit = 10)
      assert(a.count == b.count, s"$q: count ${a.count} vs ${b.count}")
      // rank-identical; scores agree to 1e-9 (summation order across the
      // two physical paths differs in the last ulp — same gate the DuckDB
      // oracle applies via 4dp rounding)
      assert(a.data.map(_.uri) == b.data.map(_.uri),
        s"$q: WAND tier rank order diverged from DataFrame tier")
      a.data.zip(b.data).foreach { case (x, y) =>
        assert(math.abs(x.relevance - y.relevance) < 1e-9, s"$q: ${x.uri} score diverged")
      }
    }
    // page 2 through the WAND tier (rank offset semantics shared)
    val p2a = pe.search("spark join", offset = 10, limit = 10)
    val p2b = de.search("spark join", offset = 10, limit = 10)
    assert(p2a.data.map(_.uri) == p2b.data.map(_.uri))
    // site-scoped queries rank on the WAND tier too, the repo admitted
    // inside the WAND loop: every repo, page 1, page 2 and the clamp
    val repos = corpus.select("repo").distinct().collect().map(_.getString(0)).sorted
    assert(repos.length == 20)
    for (r <- repos; q <- Seq("spark join", "dup hash spark"); (o, l) <- Seq((0, 5), (5, 5), (5000, 5))) {
      val a = pe.search(q, site = Some(r), offset = o, limit = l)
      assertSameResponse(s"$q @ $r offset $o", a, de.search(q, site = Some(r), offset = o, limit = l))
      assert(a.data.forall(_.site == r), s"$q @ $r: a doc of another repo")
    }
    assert(pe.search("spark join", site = Some("src3"), offset = 5, limit = 5).data.length == 5,
      "page 2 must be a full page")
    // a zero-match site and an unknown site
    val (rare, other) = zeroMatchSite(pe)
    for (r <- Seq(other, "no-such-site")) {
      val a = pe.search(rare, site = Some(r))
      assert(a.result && a.count == 0 && a.data.isEmpty, s"$rare @ $r: $a")
      assertSameResponse(s"$rare @ $r", a, de.search(rare, site = Some(r)))
    }
    // a mutation invalidates the snapshot: fall back to the live tables
    import spark.implicits._
    val doc = Seq((0L, "src0", "doc/0", "0" * 40, "en", "wandfallbackword"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(pe.indexPage(doc))
    assert(!pe.servesFromPersisted, "mutation must invalidate the persisted tier")
    val r = pe.search("wandfallbackword", limit = 5)
    assert(r.result && r.count == 1)
  }

  test("authority prior: blend across both tiers, persisted restore, graceful staleness") {
    import java.nio.file.Files
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val nDocs = corpus.count()
    val edges = graft.corpus.Crawl.syntheticEdges(corpus, nDocs)

    // DataFrame tier: installing the prior changes scores, clearing restores
    val de = new SearchEngine(spark, corpus)
    assert(de.startIndexing())
    val plain = de.search("spark join", limit = 10)
    val pr = graft.corpus.LinkRank.pagerank(edges, corpus.select("doc_id"), nDocs, iters = 3)
    de.setAuthorityPrior(pr, beta = 0.5)
    val blended = de.search("spark join", limit = 10)
    assert(blended.result && blended.count == plain.count) // candidates unchanged
    assert(blended.data.map(_.relevance) != plain.data.map(_.relevance),
      "blend must rescale scores (factor <= 1)")
    de.clearAuthorityPrior()
    assert(de.search("spark join", limit = 10).data.map(_.uri) == plain.data.map(_.uri))

    // persisted tier: the prior rides the build as an aux artifact and the
    // WAND two-stage rerank must agree with the DataFrame blend tier
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = Files.createTempDirectory("graft-api-prior").toString
    val pe = new SearchEngine(spark, corpus)
    assert(pe.startIndexingPersisted(dir, 1L, cfg, groupSize = 4,
      priorEdges = Some(edges)))
    assert(pe.servesFromPersisted)
    de.setAuthorityPrior(pr, beta = 0.5)
    for (q <- Seq("spark join", "hash")) {
      val a = pe.search(q, limit = 10) // WAND candidates -> rerank
      val b = de.search(q, limit = 10) // exhaustive DataFrame blend
      assert(a.data.map(_.uri) == b.data.map(_.uri),
        s"$q: two-stage rerank diverged from exhaustive blend")
      a.data.zip(b.data).foreach { case (x, y) =>
        assert(math.abs(x.relevance - y.relevance) < 1e-9, s"$q: ${x.uri} score diverged")
      }
    }

    // a fresh engine restores the persisted prior by lineage
    val fe = new SearchEngine(spark, corpus)
    assert(fe.startIndexing())
    fe.loadAuthorityPrior(dir, beta = 0.5)
    val restored = fe.search("spark join", limit = 10)
    assert(restored.data.map(_.uri) == de.search("spark join", limit = 10).data.map(_.uri))

    // a planted prior past the first candidates: the only doc with
    // authority is "spark"'s BM25 rank 348, so it keeps its BM25 score
    // while every other match halves. The WAND tier's first C =
    // max(8·10, 64) = 80 candidates miss it, so their rerank does not
    // certify; both tiers must answer what a blend of every match answers
    import spark.implicits._
    de.clearAuthorityPrior()
    val bm25 = de.search("spark", limit = 1000)
    assert(bm25.count > 348 && bm25.data.length == bm25.count)
    val planted = bm25.data(347)
    val one = Seq((planted.uri.stripPrefix("doc/").toLong, 1.0)).toDF("doc_id", "pr")
    de.setAuthorityPrior(one, beta = 0.5)
    pe.setAuthorityPrior(one, beta = 0.5)
    val top = de.search("spark", limit = 10)
    assertSameResponse("planted prior", pe.search("spark", limit = 10), top)
    val want = bm25.data.map(i => i.uri -> (if (i == planted) i.relevance else 0.5 * i.relevance))
      .sortBy { case (u, sc) => (-sc, u.stripPrefix("doc/").toLong) }.take(10)
    assert(top.count == bm25.count && top.data.map(_.uri) == want.map(_._1) && want.head._1 == planted.uri)
    top.data.zip(want).foreach { case (i, (_, sc)) =>
      assert(math.abs(i.relevance - sc) < 1e-9, s"planted prior: ${i.uri} score diverged")
    }
    // β outside [0, 1] lets a blend exceed its BM25 score: refused
    for (beta <- Seq(1.5, -0.1)) {
      intercept[IllegalArgumentException](de.setAuthorityPrior(one, beta))
      intercept[IllegalArgumentException](fe.loadAuthorityPrior(dir, beta))
      intercept[IllegalArgumentException](new SearchEngine(spark, corpus).startIndexingPersisted(
        Files.createTempDirectory("graft-api-beta").toString, 1L, cfg, priorEdges = Some(edges), priorBeta = beta))
    }
    // so does a negative pr; an all-zero prior carries no authority, so
    // every blend is β·BM25 (not NaN) on both tiers
    val plantedId = planted.uri.stripPrefix("doc/").toLong
    intercept[IllegalArgumentException](de.setAuthorityPrior(Seq((plantedId, -1.0)).toDF("doc_id", "pr")))
    val zero = Seq((plantedId, 0.0)).toDF("doc_id", "pr")
    de.setAuthorityPrior(zero, beta = 0.5)
    pe.setAuthorityPrior(zero, beta = 0.5)
    val z = de.search("spark", limit = 10)
    assertSameResponse("all-zero prior", pe.search("spark", limit = 10), z)
    assert(z.count == bm25.count && z.data.map(_.uri) == bm25.data.take(10).map(_.uri))
    z.data.zip(bm25.data).foreach { case (i, b) =>
      assert(math.abs(i.relevance - 0.5 * b.relevance) < 1e-9, s"all-zero prior: ${i.uri} score diverged")
    }

    // graceful staleness: an upserted page is absent from the prior (pr = 0)
    // yet stays searchable on relevance alone
    val doc = Seq((0L, "src0", "doc/0", "0" * 40, "en", "priorstaleword"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(pe.indexPage(doc))
    val r = pe.search("priorstaleword", limit = 5)
    assert(r.result && r.count == 1)
  }

  test("percolation alerts: registerAlert fires on matching upserts only, drain clears") {
    import spark.implicits._
    val e = freshEngine()
    assert(!e.registerAlert(1L, "the a")) // analyzes to nothing -> refused
    assert(e.registerAlert(2L, "percolword spark"))
    assert(e.registerAlert(3L, "neverseenterm"))
    def page(id: Long, content: String) =
      Seq((id, "src1", s"doc/$id", "0" * 40, "en", content))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    assert(e.indexPage(page(7001L, "percolword spark here")))  // matches 2
    assert(e.indexPage(page(7002L, "spark only, no match")))   // partial ≠ match
    assert(e.drainAlerts() == Seq((2L, 7001L)))
    assert(e.drainAlerts().isEmpty) // drained
    e.removeAlert(2L)
    assert(e.indexPage(page(7003L, "percolword spark again")))
    assert(e.drainAlerts().isEmpty) // removed alerts stay silent
  }

  test("statistics() reads only store tables — no Analyzer nodes, values unchanged") {
    val e = freshEngine()
    val plan = e.statisticsFrame().queryExecution.analyzed.toString
    assert(!plan.contains("regexp_replace"),
      "statistics must not re-tokenize the corpus")
    assert(!plan.toLowerCase.contains("udf"), "statistics must stay store-table reads")
    // values match the tokenize rollup exactly
    val viaStore = e.statistics()
    val rolled = graft.stats.Stats.statistics(e.corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaStore.pages == rolled("ALL")._1 && viaStore.lemmas == rolled("ALL")._2)
    viaStore.detailed.foreach { d =>
      assert((d.pages, d.lemmas) == rolled(d.site), s"repo ${d.site} diverged")
    }
  }

  test("fully gated corpus: persisted build completes empty instead of crashing") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val dir = Files.createTempDirectory("graft-api-allgated").toString
    val c = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
      .withColumn("code", lit(500))
    val e = new SearchEngine(spark, c)
    assert(e.startIndexingPersisted(dir, 1L, cfg, groupSize = 4))
    assert(e.statistics().pages == 0)
  }

  test("one ranking job per search: jobs pinned on both tiers; count ≡ Search.conjunctive") {
    val pe = persistedEngine
    val (rare, other) = zeroMatchSite(pe)
    // warm: the generation's dictionary and two repos' doc sets
    pe.search("hash join", limit = 10)
    pe.search("hash join", site = Some("src3"), limit = 10)
    pe.search("hash join", site = Some(other), limit = 10)
    val (global, gJobs) = jobsOf(pe.search("spark join", offset = 10, limit = 10))
    val (site, sJobs) = jobsOf(pe.search("spark join", site = Some("src3"), limit = 10))
    // a repo's first site-scoped search in a generation also builds its doc set
    val firstRepo = (Set("src5", "src6") - other).min
    val (first, fJobs) = jobsOf(pe.search("spark join", site = Some(firstRepo), limit = 10))
    val (missing, mJobs) = jobsOf(pe.search("spark warpdrive", limit = 10))
    assert(global.result && global.data.length == 10 && site.result && site.data.nonEmpty)
    assert(first.result && first.data.nonEmpty && first.data.forall(_.site == firstRepo))
    assert(!missing.result)
    // rank + decorate (5 global, 7 site-scoped and 1 missing-term job while
    // df, meta and the site filter each cost their own jobs)
    assert(gJobs <= 2, s"global (WAND tier) search ran $gJobs jobs")
    assert(sJobs <= 2, s"site-scoped (WAND tier) search on a warm repo ran $sJobs jobs")
    assert(fJobs <= 3, s"site-scoped (WAND tier) search on a repo's first use ran $fJobs jobs")
    assert(mJobs == 0, s"missing-term search ran $mJobs jobs")
    // site-scoped queries rank through the WAND kernel
    val (_, sNames) = jobNamesOf(pe.search("spark join", site = Some("src3"), limit = 5))
    assert(sNames.exists(_.contains("Wand.scala")), s"site-scoped jobs: $sNames")
    // the kernel's count is the full conjunctive match count: WAND page 2
    assert(global.count == conjunctiveCount(pe, "spark join"))
    assert(site.count == conjunctiveCount(pe, "spark join", Some("src3")))
    // WAND offset-past-end clamp: the count stays the total, the page is
    // the last ranked row
    val all = pe.search("dup spark", limit = 1000)
    val past = pe.search("dup spark", offset = 5000, limit = 10)
    assert(past.count == conjunctiveCount(pe, "dup spark") && past.count == all.count)
    assert(past.data.map(_.uri) == Seq(all.data.last.uri))
    // zero-match site-scoped query: the rarest term, searched in a site
    // none of its docs belong to — ranking only, nothing to decorate
    val (zero, zJobs) = jobsOf(pe.search(rare, site = Some(other)))
    assert(zero.result && zero.count == 0 && zero.data.isEmpty)
    assert(conjunctiveCount(pe, rare, Some(other)) == 0)
    assert(zJobs <= 1, s"zero-match site-scoped search ran $zJobs jobs")
    // a prior-blended search is the tier's one ranking job, the rerank
    // (its prior join's broadcast) and the decoration: 4 jobs when the
    // first C candidates certify; a
    // uniform prior leaves every blend at its BM25 score, so the 10th
    // blend is above the 80th BM25 score and the first pass certifies
    import spark.implicits._
    val uniform = pe.corpus.select($"doc_id", org.apache.spark.sql.functions.lit(1.0).as("pr"))
    pe.setAuthorityPrior(uniform, beta = 0.5)
    pe.search("hash join", limit = 10)
    val (wPrior, wNames) = jobNamesOf(pe.search("spark join", limit = 10))
    pe.clearAuthorityPrior()
    assert(wPrior.count > 80 && wPrior.data.length == 10)
    assert(wNames.count(_.contains("Wand.scala")) == 1, s"prior (WAND tier) jobs: $wNames")
    assert(wNames.size <= 4, s"prior (WAND tier) search ran ${wNames.size} jobs: $wNames")
    // LSM tier, after an upsert: the upsert advanced the generation the
    // first search pinned, so the first search after it only ranks and
    // decorates, as the next one does
    val e = freshEngine()
    assert(e.search("hash join", limit = 10).result)
    // searchAfter and searchBoolean: one ranking action plus decoration
    // (7 and 13 jobs when each counted with a job of its own)
    val p1 = e.search("spark join", limit = 5).data.last
    val (after, aJobs) = jobsOf(e.searchAfter("spark join", p1.relevance, p1.uri.stripPrefix("doc/").toLong, limit = 5))
    assert(after.result && after.data.length == 5)
    assert(aJobs <= 4, s"searchAfter ran $aJobs jobs")
    import graft.query.BooleanQuery.{And, Not, Term}
    val (bool, bJobs) = jobsOf(e.searchBoolean(And(Seq(Term("spark"), Not(Term("dup")))), limit = 10))
    assert(bool.result && bool.data.length == 10)
    assert(bJobs <= 4, s"searchBoolean ran $bJobs jobs")
    // prior-blended on the DataFrame tier
    e.setAuthorityPrior(uniform, beta = 0.5)
    e.search("hash join", limit = 10)
    val (dPrior, dJobs) = jobsOf(e.search("spark join", limit = 10))
    e.clearAuthorityPrior()
    assert(dPrior.result && dPrior.data.length == 10)
    assert(dJobs <= 5, s"prior (DataFrame tier) search ran $dJobs jobs")
    assert(e.indexPage(Seq((3L, "src0", "doc/3", "0" * 40, "en", "lsmpinword spark join"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
    val (pin, pJobs) = jobsOf(e.search("lsmpinword", limit = 10))
    assert(pin.count == 1)
    val (lsm, lJobs) = jobsOf(e.search("spark join", limit = 10))
    assert(lsm.result && lsm.data.length == 10)
    assert(pJobs <= 4, s"first global (LSM tier) search after an upsert ran $pJobs jobs")
    assert(lJobs <= 4, s"global (LSM tier) search after an upsert ran $lJobs jobs")
  }

  test("a plan of a given shape compiles once: searches a generation later, indexPage, a WAND page") {
    import spark.implicits._
    val e = freshEngine()
    def page(id: Long, content: String) = Seq((id, "src0", s"doc/$id", "0" * 40, "en", content))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    // a page's ids are an IN of by-reference literals, one class per page
    // size, so every warm and measured search pair returns full pages
    // warm every shape on an advanced generation: a search pins the
    // generation the upserts advance, then a global and a site-scoped
    // two-term search over a delta, a few of each (adaptive execution
    // numbers stages in completion order; the sources compare without it).
    // The cache starts empty, so `warm` holds every class these shapes run.
    val (_, warm) = compiledSourcesOf {
      clearCodegenCache()
      assert(e.search("join").result)
      assert(e.indexPage(page(9001L, "compilewarm spark join")))
      for (q <- Seq("spark join", "join hash", "spark hash")) {
        assert(e.search(q, limit = 3).data.length == 3, q)
        assert(e.search(q, site = Some("src3"), limit = 2).data.length == 2, q)
      }
    }
    assert(e.indexPage(page(9002L, "compilewarm spark hash")))
    val third = page(9003L, "compilethird spark dup")
    val (ok, upC) = compilesOf(e.indexPage(third))
    assert(ok && upC == 0, s"the third indexPage compiled $upC classes")
    // other terms of the same count, one generation later: every class
    // compiled is a warm one under another stage id, or none
    val ((g, s), fresh) = compiledSourcesOf(
      (e.search("big hash", limit = 3), e.search("big hash", site = Some("src3"), limit = 2)))
    assert(g.data.length == 3 && s.data.length == 2)
    val stray = fresh.filterNot(warm.toSet)
    assert(stray.isEmpty, s"searches one generation later compiled ${stray.size} new classes:\n${stray.take(1).mkString}")
    // the WAND tier ranks without codegen; its page decorates through the
    // stage the warm search of the same page size compiled
    val pe = persistedEngine
    assert(pe.search("spark join", limit = 5).data.length == 5)
    val (w, wC) = compilesOf(pe.search("big hash", limit = 5))
    assert(w.data.length == 5)
    assert(wC == 0, s"a WAND-tier search compiled $wC classes")
  }

  test("the corpus is one flat patch over its root: rows doc for doc, plan size flat across upserts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val e = freshEngine()
    val cols = Seq("doc_id", "repo", "path", "commit", "lang", "content", "code")
    def page(id: Long, content: String, code: Int = 200) =
      Seq((id, "src1", s"doc/$id", "0" * 40, "en", content, code)).toDF(cols: _*)
    // the optimized plan's nodes and its filters' expression nodes (a
    // per-upsert chain adds a local relation to the union and a conjunct
    // to the root's pushed-down filter every upsert)
    def shape = {
      val p = e.corpus.queryExecution.optimizedPlan
      (p.collect { case n => n.nodeName }, p.collect { case f: Filter => f.condition.collect { case x => x }.size }.sum)
    }
    var want = e.corpus.select(cols.map(col): _*).collect().map(r => r.getLong(0) -> r.toSeq).toMap
    def upsert(id: Long, content: String, code: Int = 200): Unit = {
      assert(e.indexPage(page(id, content, code)))
      want = if (code <= 299) want.updated(id, page(id, content, code).head().toSeq) else want - id
    }
    upsert(8001L, "flatnew doc")         // a new doc
    val one = shape
    upsert(5L, "flat replacement")       // a replace
    upsert(6L, "gated away", 500)        // an HTTP-gate delete
    upsert(7L, "first replacement")      // one doc replaced twice
    upsert(7L, "second replacement")
    assert(shape == one, s"corpus plan grew: $one -> $shape")
    val got = e.corpus.select(cols.map(col): _*).collect().map(r => r.getLong(0) -> r.toSeq)
    assert(got.length == want.size && got.toMap == want)
  }

  test("a 500-term query answers on the live tier, equal to the Oracle") {
    import spark.implicits._
    import graft.query.Oracle
    val e = new SearchEngine(spark, Corpus.generateDistributed(spark, 2000L, 8, 11L))
    assert(e.startIndexing() && !e.servesFromPersisted)
    // one page holds all 500 query terms, a second all but the first
    val words = (0 until 500).map(i => s"bulkword$i")
    assert(e.indexPage(Seq(
        (5000L, "repo-00", "doc/5000", "0" * 40, "en", words.mkString(" ")),
        (5001L, "repo-01", "doc/5001", "0" * 40, "en", words.tail.mkString(" ") + " tok1"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
    val q = words.reverse.mkString(" ")
    val got = e.search(q, limit = 10)
    val oracle = new Oracle.Index(e.corpus.select("doc_id", "repo", "lang", "content").collect()
      .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq)
    val p = oracle.plan("en", q)
    val all = oracle.score(p.terms.map(_.term))
    val want = oracle.topK("en", q, 10)
    assert(p.missing.isEmpty && want.map(_.docId) == Seq(5000L))
    assert(got.result && got.error == null && got.count == all.size, s"count ${got.count}")
    val paths = e.corpus.select("doc_id", "path").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.data.map(_.uri) == want.map(h => paths(h.docId)))
    got.data.zip(want).foreach { case (g, h) =>
      assert(math.abs(g.relevance - h.bm25) < 1e-9, s"${g.uri} score ${g.relevance} vs ${h.bm25}")
    }
  }

  test("an upsert is visible at once: new term, moved doc; a rebuild re-derives dictionary and site sets") {
    import spark.implicits._
    val cfg = graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8)
    val e = persistedFresh("graft-api-fresh")
    val moved = e.search("spark join", site = Some("src1"), limit = 1000).data.head.uri
    assert(!e.search("spark join", site = Some("src2"), limit = 1000).data.exists(_.uri == moved))
    assert(!e.search("freshmovedterm").result)
    val sets = e.liveSiteSets
    assert(sets.size == 2, "one doc set per searched repo")
    // the doc moves from src1 to src2 and gains a term the index never saw
    assert(e.indexPage(Seq((moved.stripPrefix("doc/").toLong, "src2", moved, "0" * 40, "en",
      "freshmovedterm spark join")).toDF("doc_id", "repo", "path", "commit", "lang", "content")))
    // the mutation destroyed the generation's site-set broadcasts
    assert(e.liveSiteSets.isEmpty)
    sets.foreach(b => intercept[org.apache.spark.SparkException](b.value))
    def fresh(tier: String): Unit = {
      val r = e.search("freshmovedterm", limit = 10)
      assert(r.result && r.count == 1 && r.data.map(_.uri) == Seq(moved), s"$tier: $r")
      assert(!e.search("spark join", site = Some("src1"), limit = 1000).data.exists(_.uri == moved), tier)
      assert(e.search("spark join", site = Some("src2"), limit = 1000).data.exists(_.uri == moved), tier)
      assert(e.search("freshmovedterm", site = Some("src1")).count == 0, tier)
      assert(e.search("freshmovedterm", site = Some("src2")).count == 1, tier)
    }
    fresh("LSM")
    // a second persisted build serves the WAND tier with a new dictionary
    // and new site sets
    val dir2 = java.nio.file.Files.createTempDirectory("graft-api-fresh2").toString
    assert(e.startIndexingPersisted(dir2, 2L, cfg, groupSize = 4) && e.servesFromPersisted)
    assert(e.liveSiteSets.isEmpty)
    fresh("WAND")
    assert(e.liveSiteSets.size == 2)
  }

  test("a search keeps its snapshot's dictionary, tables and site sets across a mutation") {
    import spark.implicits._
    // force the interleaving: an upsert lands after the search took its
    // snapshot and before it reads the dictionary, builds or uses a site
    // set, ranks or decorates. The response must be the snapshot's own
    // answer: a dictionary from the newer generation would change every
    // score (df of "spark" and "join" grows), newer tables the count.
    for ((tier, e, site) <- Seq(("WAND", persistedFresh("graft-api-interleave"), Some("src4")),
                                ("LSM", freshEngine(), None))) {
      val want = e.search("spark join", site = site, limit = 1000)
      assert(want.result && want.count > 1)
      e.afterSnapshot = () => {
        e.afterSnapshot = () => ()
        assert(e.indexPage(Seq((9101L, "src4", "doc/9101", "0" * 40, "en", "spark join interleaved"))
          .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
      }
      val stale = e.search("spark join", site = site, limit = 999)
      assert(stale.data.map(i => (i.uri, i.relevance)) == want.data.map(i => (i.uri, i.relevance)),
        s"$tier: the snapshot's answer changed")
      assert(stale.count == want.count, s"$tier: count")
      // the retired generation's site sets died with its last search
      assert(e.liveSiteSets.isEmpty, s"$tier: site sets outlived their generation")
      val now = e.search("spark join", site = site, limit = 998)
      assert(now.count == want.count + 1 && now.data.exists(_.uri == "doc/9101"), tier)
    }
  }

  test("a replacement indexPage runs as many jobs at LSM depth 3 as at depth 9") {
    import spark.implicits._
    val e = freshEngine()
    def depth = e.store.pointer.map { case (latest, base, _) => latest - base + 1 }.get
    // a pinned generation, which every upsert advances on the driver
    assert(e.search("hash join", limit = 5).result)
    // upsert k replaces doc k and leaves the log k + 1 batches deep
    val jobsAt = (1L to 8L).map { id =>
      val doc = Seq((id, "src0", s"doc/$id", "0" * 40, "en", s"depthmarker$id spark join"))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")
      val (ok, jobs) = jobStagesOf(e.indexPage(doc))
      assert(ok)
      depth -> jobs
    }.toMap
    assert(jobsAt.keySet == (2L to 9L).toSet)
    assert(jobsAt(3L).size == jobsAt(9L).size,
      s"indexPage jobs by depth: ${jobsAt.toSeq.sortBy(_._1).map(d => d._1 -> d._2.size)}")
    // page-sized work on the driver: one token collect and one point read
    // over the old-state tables; the batch is written from the driver with
    // no job, and nothing shuffles
    for ((d, jobs) <- jobsAt) {
      assert(jobs.size <= 2, s"depth $d: ${jobs.size} jobs: $jobs")
      assert(jobs.forall(_._2 == 1), s"depth $d: a job with a shuffle stage: $jobs")
    }
    val r = e.search("depthmarker8", limit = 5)
    assert(r.result && r.count == 1 && r.data.head.uri == "doc/8")
  }

  test("table rebuild, fresh and site-scoped LSM searches: same jobs at depth 3 as at 9") {
    import spark.implicits._
    val e = freshEngine()
    def depth = e.store.pointer.map { case (latest, base, _) => latest - base + 1 }.get
    // the corpus chain gains a filter and a local union per upsert, which
    // no later corpus read pays for with a job; a generation pinned before
    // the first upsert is advanced by every one of them
    assert(e.search("hash join", limit = 5).result)
    val jobsAt = (1L to 8L).map { id =>
      assert(e.indexPage(Seq((id, "src0", s"doc/$id", "0" * 40, "en", s"chainmarker$id spark join"))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
      val (_, tJobs) = jobsOf(e.tables)
      val (fresh, fJobs) = jobsOf(e.search(s"chainmarker$id", limit = 5))
      assert(fresh.count == 1 && fresh.data.map(_.uri) == Seq(s"doc/$id"))
      val (site, sJobs) = jobsOf(e.search("spark join", site = Some("src3"), limit = 10))
      assert(site.result && site.data.nonEmpty && site.data.forall(_.site == "src3"))
      val (warm, wJobs) = jobsOf(e.search(s"chainmarker$id spark", limit = 5))
      assert(warm.count == 1)
      assert(tJobs == 0, s"depth $depth: the advanced tables ran $tJobs jobs")
      assert(fJobs <= 4 && fJobs <= wJobs, s"depth $depth: first search $fJobs jobs, warm $wJobs")
      assert(sJobs <= 5, s"depth $depth: site-scoped search ran $sJobs jobs")
      depth -> (tJobs, fJobs, sJobs)
    }.toMap
    assert(jobsAt(3L) == jobsAt(9L),
      s"(table rebuild, fresh search, site-scoped search) jobs by depth: ${jobsAt.toSeq.sorted}")
  }

  test("a folding upsert reads a new base and answers as before") {
    import spark.implicits._
    val e = new SearchEngine(spark, engine.corpus, checkpointEvery = 3)
    assert(e.startIndexing())
    val before = e.search("spark join", limit = 1000)
    val tJobs = (1L to 6L).map { id =>
      assert(e.indexPage(Seq((20000L + id, "src0", s"doc/${20000 + id}", "0" * 40, "en",
        s"foldmarker$id spark join")).toDF("doc_id", "repo", "path", "commit", "lang", "content")))
      val (_, jobs) = jobsOf(e.tables)
      val r = e.search(s"foldmarker$id", limit = 5)
      assert(r.count == 1 && r.data.map(_.uri) == Seq(s"doc/${20000 + id}"))
      jobs
    }
    // upserts 3 and 6 fold the corpus chain: the next read builds a base
    assert(tJobs(2) > 0 && tJobs(5) > 0, s"table jobs per upsert: $tJobs")
    assert(Seq(0, 1, 3, 4).forall(tJobs(_) == 0), s"table jobs per upsert: $tJobs")
    val after = e.search("spark join", limit = 1000)
    assert(after.count == before.count + 6)
    assert((1 to 6).forall(i => after.data.exists(_.uri == s"doc/${20000 + i}")))
    assert(e.tables.nDocs == 506 && e.statistics().pages == 506)
  }

  test("a two-version indexPage keeps one version in index, corpus, docs log and attach") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stateDir = java.nio.file.Files.createTempDirectory("graft-two-versions").toString
    def rows(docs: (Long, String)*) = docs.map { case (id, content) =>
      (id, s"s${id % 2}", s"doc/$id", "0" * 40, "en", content)
    }.toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val e = new SearchEngine(spark, rows(1L -> "alpha one", 2L -> "beta two", 3L -> "gamma three"),
      stateDir = Some(stateDir))
    assert(e.startIndexing())
    assert(e.indexPage(rows(3L -> "delta one", 3L -> "epsilon two")))
    // the index keeps one version: its word is found, the other's is not
    val found = Seq("delta" -> "delta one", "epsilon" -> "epsilon two")
      .filter { case (w, _) => e.search(w).result }
    assert(found.size == 1, s"versions found: $found")
    val (word, kept) = found.head
    val hit = e.search(word)
    assert(hit.count == 1 && hit.data.map(_.uri) == Seq("doc/3"))
    assert(hit.data.head.snippet == s"<b>$word</b> ${kept.split(" ")(1)}", s"snippet: ${hit.data}")
    // the corpus, the docs log and a reattached engine hold that version only
    assert(e.tables.nDocs == 3)
    assert(e.statistics().pages == 3)
    def doc3(x: SearchEngine) =
      x.corpus.filter(col("doc_id") === 3L).select("content").collect().map(_.getString(0)).toSeq
    assert(doc3(e) == Seq(kept))
    val a = SearchEngine.attach(spark, stateDir)
    assert(doc3(a) == Seq(kept) && a.statistics().pages == 3)
  }

  test("an indexPage frame the engine cannot take is refused before the store moves") {
    import spark.implicits._
    val before = engine.store.pointer
    // more rows than a page may hold: bulk loads have their own entry points
    val n = graft.streaming.IncrementalIndex.isinThreshold + 1
    val bulk = (0 until n).map(i => (100000L + i, "src0", s"doc/${100000 + i}", "0" * 40, "en", "bulkword"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val err = intercept[IllegalArgumentException](engine.indexPage(bulk))
    assert(err.getMessage.contains("startIndexing") && err.getMessage.contains("IncrementalIndex.start"),
      err.getMessage)
    // a page missing a corpus column
    intercept[org.apache.spark.sql.AnalysisException](engine.indexPage(
      Seq((100000L, "src0", "en", "bulkword")).toDF("doc_id", "repo", "lang", "content")))
    assert(engine.store.pointer == before)
    assert(!engine.search("bulkword").result && engine.statistics().pages == 500)
  }

  test("attach serves a state dir laid out by hand: batch=<id> dirs + a two-field pointer") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import java.nio.file.{Files, Paths}
    // the on-disk contract written without ParquetStateStore: two disjoint
    // batches of every table, the legacy "<latest> <base>" pointer
    val corpus = engine.corpus
    val stateDir = Files.createTempDirectory("graft-handlaid").toString
    val run = s"$stateDir/run-1"
    for (b <- 0 to 1) {
      val half = corpus.filter(col("doc_id") % 2 === b)
      val post = graft.index.InvertedIndex.tokensByLang(
          half.withColumn("content", graft.analyze.Html.textOf(col("content"))), Map.empty)
        .groupBy("doc_id", "repo", "term").agg(count(lit(1)).as("tf"))
      def lay(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.parquet(s"$run/$name/batch=$b")
      lay("postings", post.select("doc_id", "term", "tf"))
      lay("doc_ids", half.select("doc_id"))
      lay("term_stats", post.groupBy("term").agg(count(lit(1)).as("ddf")))
      lay("doc_stats", post.groupBy("doc_id").agg(sum("tf").as("dl")))
      lay("docs", half)
      lay("term_stats_repo", post.groupBy("repo", "term").agg(count(lit(1)).as("ddf")))
    }
    Files.writeString(Paths.get(s"$run/_committed"), "1 0")
    val e = SearchEngine.attach(spark, stateDir)
    assert(e.corpus.columns.toSeq == corpus.columns.toSeq)
    val (want, got) = (engine.search("spark join", limit = 10), e.search("spark join", limit = 10))
    assert(got.result && got.count == want.count)
    assert(got.data.map(i => (i.uri, i.title, i.snippet, i.relevance)) ==
      want.data.map(i => (i.uri, i.title, i.snippet, i.relevance)))
    val (sw, sg) = (engine.statistics(), e.statistics())
    assert(sg.pages == 500 && sg.pages == sw.pages && sg.lemmas == sw.lemmas)
  }

  test("offset = Int.MaxValue clamps to the last result on both tiers, no overflow") {
    for ((tier, e) <- Seq("WAND" -> persistedEngine, "DataFrame" -> engine)) {
      val all = e.search("dup spark", limit = 1000)
      assert(all.result && all.count == all.data.length && all.count > 1)
      val past = e.search("dup spark", offset = Int.MaxValue, limit = 20)
      assert(past.result && past.count == all.count, s"$tier: $past")
      assert(past.data.map(_.uri) == Seq(all.data.last.uri), s"$tier: clamp row")
      // offset + limit past Int.MaxValue saturates: every row after offset 1
      val rest = e.search("dup spark", offset = 1, limit = Int.MaxValue)
      assert(rest.count == all.count)
      assert(rest.data.map(_.uri) == all.data.drop(1).map(_.uri), s"$tier: saturated page")
    }
  }

  test("a mutation between computing a response and caching it is never served from the cache") {
    import spark.implicits._
    val e = freshEngine()
    val q = "dup"
    val doc = Seq((9001L, "src0", "doc/9001", "0" * 40, "en", "dup racemarker"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    // force the interleaving: the upsert lands after the search computed
    // its response on the old snapshot, before that response is cached
    e.beforeCachePut = () => {
      e.beforeCachePut = () => ()
      assert(e.indexPage(doc))
    }
    val stale = e.search(q, limit = 1000)
    assert(!stale.data.exists(_.uri == "doc/9001"))
    val fresh = e.search(q, limit = 1000)
    assert(fresh.count == stale.count + 1, "a response computed before the upsert was cached")
    assert(fresh.data.exists(_.uri == "doc/9001"))
  }

  test("a persisted build keeps a stop-word-only doc in the docs log: statistics, attach, compaction") {
    import spark.implicits._
    import java.nio.file.Files
    val c = Seq((1L, "s0", "doc/1", "alpha beta"), (2L, "s0", "doc/2", "the a"), (3L, "s1", "doc/3", "gamma alpha"))
      .map { case (id, repo, path, content) => (id, repo, path, "0" * 40, "en", content) }
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val live = new SearchEngine(spark, c)
    assert(live.startIndexing() && live.statistics().pages == 3)
    val stateDir = Files.createTempDirectory("graft-stopword-seed").toString
    val e = new SearchEngine(spark, c, stateDir = Some(stateDir))
    assert(e.startIndexingPersisted(Files.createTempDirectory("graft-stopword-tables").toString, 1L,
      graft.index.IndexWriter.Config(docsPerShard = 64, nBuckets = 8), groupSize = 4))
    assert(e.statistics().pages == 3)
    assert(SearchEngine.attach(spark, stateDir).corpus.count() == 3)
    // a compacted log keeps the doc as well, on either build path
    for (st <- Seq(e.store, live.store)) {
      graft.streaming.IncrementalIndex.compactState(st, spark)
      assert(graft.streaming.IncrementalIndex.readDocs(st, spark).get.count() == 3)
    }
  }

  test("cached serve state is dropped by its last holder: no growth over 40 upserts, a held search survives a fold") {
    import spark.implicits._
    val e = new SearchEngine(spark, engine.corpus, checkpointEvery = 8)
    assert(e.startIndexing())
    def up(id: Long, content: String): Unit =
      assert(e.indexPage(Seq((id, s"src${id % 20}", s"doc/$id", "0" * 40, "en", content))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
    def cached = spark.sparkContext.getPersistentRDDs.size
    assert(e.search("spark join", limit = 10).result)
    val first = cached
    // five folds of the corpus chain, each followed by a new base
    for (id <- 1L to 40L) {
      up(id, s"leasemarker$id spark join")
      assert(e.searchAfter(s"leasemarker$id", 1e9, 0L).count == 1)
      assert(e.searchBoolean(graft.query.BooleanQuery.Term(s"leasemarker$id")).count == 1)
      assert(e.search(s"leasemarker$id").count == 1)
      assert(cached <= first, s"upsert $id: $cached cached RDDs, $first after the first search")
    }
    // a search that took its snapshot before eight more upserts, the last
    // of them a fold, answers from that snapshot: its base and its corpus
    // checkpoint stay cached until it releases them
    val want = e.search("spark join", limit = 1000)
    e.afterSnapshot = () => {
      e.afterSnapshot = () => ()
      (1L to 8L).foreach(i => up(30000L + i, "spark join held"))
      assert(cached > first, "the held generation's base and corpus were dropped under it")
    }
    val held = e.search("spark join", limit = 999)
    assert(held.count == want.count)
    assert(held.data.map(i => (i.uri, i.title, i.snippet, i.relevance)) ==
      want.data.map(i => (i.uri, i.title, i.snippet, i.relevance)))
    assert(cached <= first, s"$cached cached RDDs after the held search released, $first before")
    val now = e.search("spark join", limit = 998)
    assert(now.count == want.count + 8)
    assert(cached <= first)
  }

  test("an advanced generation equals a base rebuilt from the store, and the Oracle, step by step") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{avg, col}
    import graft.query.Oracle
    val stateDir = java.nio.file.Files.createTempDirectory("graft-advance-parity").toString
    type D = (Long, String, String, Int)
    def frame(docs: Seq[D], seq: Boolean = false) = {
      val rows = docs.zipWithIndex.map { case ((id, repo, content, code), i) =>
        (id, repo, s"doc/$id", "0" * 40, "en", content, code, i.toLong) }
      val df = rows.toDF("doc_id", "repo", "path", "commit", "lang", "content", "code", "seq")
      if (seq) df else df.drop("seq")
    }
    val initial: Seq[D] = Seq(
      (1L, "s0", "alpha beta gamma", 200), (2L, "s1", "beta gamma delta epsilon", 200),
      (3L, "s2", "gamma delta", 200), (4L, "s0", "alpha alpha beta", 200),
      (5L, "s1", "delta epsilon zeta eta", 200), (6L, "s2", "the a", 200),
      (7L, "s0", "beta zeta", 404))
    val e = new SearchEngine(spark, frame(initial), stateDir = Some(stateDir))
    assert(e.startIndexing())
    assert(e.search("alpha").result) // pins the generation every step advances
    var docs = initial.filter(_._4 <= 299).map(d => d._1 -> d).toMap
    val long = (1 to 24).map(i => s"w$i").mkString(" ")
    val steps: Seq[(String, Seq[D], Boolean)] = Seq(
      ("a new doc with a new term", Seq((10L, "s0", "omega alpha", 200)), false),
      ("a replacement", Seq((2L, "s1", "beta beta theta", 200)), false),
      ("a repo move", Seq((3L, "s0", "gamma delta iota", 200)), false),
      ("a gated 404 delete", Seq((4L, "s0", "alpha gone", 404)), false),
      ("a stop-word-only doc", Seq((11L, "s1", "the of and", 200)), false),
      ("a replacement with no tokens", Seq((5L, "s1", "!!! ???", 200)), false),
      ("a two-version frame", Seq((1L, "s0", "alpha kappa", 200), (1L, "s2", "lambda mu beta", 200)), true),
      ("avgDl up", Seq((12L, "s2", s"alpha $long", 200)), false),
      ("avgDl down", Seq((12L, "s2", "alpha", 200)), false))
    val queries = Seq(("alpha", None), ("beta gamma", None), ("delta", None), ("omega", None),
      ("theta", None), ("alpha beta", None), ("iota", None), ("lambda", None), ("kappa", None),
      ("gamma", Some("s0")), ("beta", Some("s2")), ("w7", None))
    for ((what, page, seq) <- steps) {
      assert(e.indexPage(frame(page, seq)), what)
      // the newest version of each doc wins; a gated one deletes it
      for (d <- page) docs = if (d._4 <= 299) docs.updated(d._1, d) else docs - d._1
      val (t, tJobs) = jobsOf(e.tables)
      assert(tJobs == 0, s"$what: the generation was rebuilt ($tJobs jobs), not advanced")
      val twin = SearchEngine.attach(spark, stateDir)
      val r = twin.tables
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(t.postings) == rows(r.postings), s"$what: postings")
      assert(rows(t.docStats) == rows(r.docStats), s"$what: docStats")
      assert(rows(t.termStats) == rows(r.termStats), s"$what: termStats")
      assert(e.dictionary == twin.dictionary, s"$what: dictionary")
      assert(t.nDocs == r.nDocs && t.nDocs == docs.size, s"$what: nDocs ${t.nDocs} vs ${r.nDocs}")
      val sparkAvg = Option(r.docStats.agg(avg(col("dl"))).head().get(0)).fold(0.0)(_.asInstanceOf[Double])
      assert(t.avgDl == r.avgDl && t.avgDl == sparkAvg, s"$what: avgDl ${t.avgDl} vs ${r.avgDl}, $sparkAvg")
      val oracle = new Oracle.Index(docs.values.toSeq.map(d => Oracle.Doc(d._1, d._2, "en", d._3)))
      assert(t.avgDl == oracle.avgDl, s"$what: Oracle avgDl ${oracle.avgDl}")
      for ((q, site) <- queries) {
        val got = e.search(q, site = site, limit = 20)
        assertSameResponse(s"$what: $q @ $site", got, twin.search(q, site = site, limit = 20))
        val p = oracle.plan("en", q)
        if (p.missing.nonEmpty) assert(!got.result && got.error.contains(p.missing.head), s"$what: $q")
        else {
          val hits = oracle.score(p.terms.map(_.term)).filter(h => site.forall(_ == docs(h.docId)._2))
            .sortBy(h => (-h.bm25, h.docId))
          assert(got.result && got.count == hits.size, s"$what: $q @ $site count ${got.count}")
          assert(got.data.map(_.uri) == hits.take(20).map(h => s"doc/${h.docId}"), s"$what: $q @ $site order")
          got.data.zip(hits).foreach { case (g, h) =>
            assert(math.abs(g.relevance - h.bm25) < 1e-9, s"$what: $q @ $site ${g.uri} score")
          }
        }
      }
    }
  }

  /** the part files of one table batch dir, by name */
  def partFiles(dir: String): Seq[String] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq.sorted
    finally ls.close()
  }

  /** every live table of a store as a set of rows; doc_ids as the set of
    * logged ids */
  def liveTables(s: IncrementalIndex.ParquetStateStore): Map[String, Set[Seq[Any]]] = Map(
    "postings" -> IncrementalIndex.readPostings(s, spark),
    "doc_ids" -> s.readUnion(spark, "doc_ids").map(_.select("doc_id").distinct()),
    "term_stats" -> IncrementalIndex.readTermStats(s, spark),
    "doc_stats" -> IncrementalIndex.readDocStats(s, spark),
    "docs" -> IncrementalIndex.readDocs(s, spark),
    "term_stats_repo" -> IncrementalIndex.readTermStatsRepo(s, spark)
  ).map { case (t, df) => t -> df.get.collect().map(_.toSeq).toSet }

  test("a torn indexPage batch is invisible; re-running the upsert equals an uninterrupted run") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tables = Seq("postings", "doc_ids", "term_stats", "doc_stats", "docs", "term_stats_repo")
    def built(): (SearchEngine, String) = {
      val dir = Files.createTempDirectory("graft-torn").toString
      val e = new SearchEngine(spark, engine.corpus, stateDir = Some(dir))
      assert(e.startIndexing())
      (e, dir)
    }
    def page(id: Long, repo: String, content: String, code: Int = 200) =
      Seq((id, repo, s"doc/$id", "0" * 40, "en", content, code))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content", "code")
    def copyDir(from: String, to: String): Unit = {
      Files.createDirectories(Paths.get(to))
      val ls = Files.list(Paths.get(from))
      try ls.iterator().asScala.foreach(f => Files.copy(f, Paths.get(to).resolve(f.getFileName)))
      finally ls.close()
    }
    /** the batch dirs `twin` wrote for `batch`, copied into `store` with no
      * pointer move: a crash after the table writes, before the commit */
    def tear(twin: SearchEngine, store: IncrementalIndex.ParquetStateStore, batch: Long): Unit =
      for (t <- tables if Files.exists(Paths.get(s"${twin.store.dir}/$t/batch=$batch")))
        copyDir(s"${twin.store.dir}/$t/batch=$batch", s"${store.dir}/$t/batch=$batch")
    val ((main, mainDir), (twin, _)) = (built(), built())
    val before = liveTables(main.store)
    val answer = main.search("spark join", limit = 10)
    // a replacement of doc 1, run uninterrupted on the twin
    val upsert = page(1L, "src3", "tornmarker spark join")
    assert(twin.indexPage(upsert))
    val next = twin.store.latestBatch.get
    assert(main.store.nextBatch == next)
    tear(twin, main.store, next)
    // plus a foreign part file with other rows of the same doc
    val foreign = Files.createTempDirectory("graft-foreign").toString
    Seq((1L, "foreignterm", 7L)).toDF("doc_id", "term", "tf").coalesce(1)
      .write.mode("overwrite").parquet(foreign)
    Files.copy(Paths.get(foreign, partFiles(foreign).head),
      Paths.get(s"${main.store.dir}/postings/batch=$next/part-00001-foreign-c000.snappy.parquet"))
    // readers and a restarted engine serve the pre-upsert state
    assert(main.store.latestBatch.contains(next - 1))
    assert(liveTables(main.store) == before)
    val restarted = SearchEngine.attach(spark, mainDir)
    assert(restarted.store.dir == main.store.dir)
    assert(!restarted.search("tornmarker").result && !restarted.search("foreignterm").result)
    assertSameResponse("attach over a torn batch", restarted.search("spark join", limit = 10), answer)
    assert(restarted.statistics().pages == 500)
    // re-running the upsert leaves every live table equal to the twin's and
    // exactly one part file in each table dir the upsert wrote
    assert(restarted.indexPage(upsert))
    assert(liveTables(restarted.store) == liveTables(twin.store))
    for (t <- tables) {
      val (got, want) = (s"${restarted.store.dir}/$t/batch=$next", s"${twin.store.dir}/$t/batch=$next")
      assert(Files.exists(Paths.get(got)) == Files.exists(Paths.get(want)), t)
      if (Files.exists(Paths.get(got))) assert(partFiles(got).size == 1, s"$t: ${partFiles(got)}")
    }
    assertSameResponse("re-run vs uninterrupted", restarted.search("tornmarker spark", limit = 10),
      twin.search("tornmarker spark", limit = 10))
    // a torn batch of one page under a re-run with ANOTHER page that writes
    // fewer tables (a gated delete of an absent doc writes doc_ids only):
    // none of the torn page's tables is published
    val settled = liveTables(restarted.store)
    assert(twin.indexPage(page(90001L, "src2", "tornnewdoc spark")))
    tear(twin, restarted.store, next + 1)
    assert(restarted.indexPage(page(90002L, "src2", "absent page", 404)))
    assert(restarted.store.latestBatch.contains(next + 1))
    val after = liveTables(restarted.store)
    for (t <- tables if t != "doc_ids") assert(after(t) == settled(t), t)
    assert(after("doc_ids") == settled("doc_ids") + Seq(90002L))
    for (t <- tables if t != "doc_ids")
      assert(!Files.exists(Paths.get(s"${restarted.store.dir}/$t/batch=${next + 1}")), t)
    assert(!SearchEngine.attach(spark, mainDir).search("tornnewdoc").result)
  }

  test("a driver-written page equals a DataFrame write of its rows: footer and parquet schemas") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sha2}
    import org.apache.spark.sql.types.StructType
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-footer").toString
    val e = new SearchEngine(spark, engine.corpus, stateDir = Some(dir))
    assert(e.startIndexing())
    val repoOf = e.corpus.select("doc_id", "repo").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // a new doc, a replacement in place and a repo move, with `code` ahead
    // of `content` (the corpus has it last)
    val page = Seq(
      (90001L, "src1", "doc/90001", "0" * 40, "en", 200, "paritynew spark join"),
      (1L, repoOf(1L), "doc/1", "0" * 40, "en", 200, "parityreplaced hash join"),
      (2L, if (repoOf(2L) == "src0") "src1" else "src0", "doc/2", "0" * 40, "en", 200, "paritymoved spark"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "code", "content")
    assert(e.indexPage(page))
    val b = e.store.latestBatch.get
    // the docs batch: the corpus's columns in its order, the page's types
    val withSha = page.withColumn("sha256", sha2(col("content"), 256))
    val schemas = IncrementalIndex.tableSchemas +
      ("docs" -> StructType(e.corpus.columns.toSeq.map(c => withSha.schema(c))))
    assert(schemas.size == 6)
    def footer(batchDir: String) = {
      val part = partFiles(batchDir)
      assert(part.size == 1, s"$batchDir: $part")
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$batchDir/${part.head}"), spark.sparkContext.hadoopConfiguration))
      val meta = try reader.getFooter finally reader.close()
      (IncrementalIndex.footerSchema(spark, batchDir), meta.getFileMetaData.getSchema,
        meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
    }
    for ((t, schema) <- schemas) {
      val batchDir = s"${e.store.dir}/$t/batch=$b"
      val rows = spark.read.schema(schema).parquet(batchDir).collect()
      assert(rows.nonEmpty, t)
      val viaDf = Files.createTempDirectory(s"graft-footer-$t").toString + "/out"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(viaDf)
      val (got, want) = (footer(batchDir), footer(viaDf))
      assert(got._1 == schema, s"$t: footer schema ${got._1.treeString}")
      assert(got._1 == want._1, s"$t: footer schema\n${got._1.treeString}\nvs\n${want._1.treeString}")
      assert(got._2 == want._2, s"$t: parquet schema\n${got._2}\nvs\n${want._2}")
      assert(got._3 == want._3, s"$t: codecs ${got._3} vs ${want._3}")
      assert(spark.read.parquet(viaDf).collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet, t)
    }
    // the docs log and an attached engine keep the corpus's columns
    assert(IncrementalIndex.readDocs(e.store, spark).get.columns.toSeq == e.corpus.columns.toSeq)
    assert(SearchEngine.attach(spark, dir).corpus.columns.toSeq == e.corpus.columns.toSeq)
  }
}
