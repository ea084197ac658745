package graft

import graft.SparkTestSession.jobsOf
import graft.streaming.IncrementalIndex
import graft.streaming.IncrementalIndex.ParquetStateStore
import graft.corpus.Corpus
import graft.index.InvertedIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Incremental/streaming ingestion over the LSM-style batch log: merge
  * semantics (idempotent re-index, no df drift), per-batch cost shape
  * (delta stats + pushed-down point reads, never an O(index) rewrite),
  * replay/crash contract, compaction, and a real Structured Streaming
  * file-source run end-to-end. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def docsDf(rows: (Long, String, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "repo", "lang", "content")
  }

  def postSet(store: ParquetStateStore) =
    IncrementalIndex.readPostings(store, spark).get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
  def dfMap(store: ParquetStateStore) =
    IncrementalIndex.readTermStats(store, spark).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("mergeBatch: two batches accumulate; stats equal a from-scratch build") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    val b1 = docsDf((0L, "r0", "en", "spark join query"), (1L, "r0", "en", "spark filter"))
    val b2 = docsDf((2L, "r1", "en", "join join plan"))
    IncrementalIndex.mergeBatch(store, b1, 0L)
    IncrementalIndex.mergeBatch(store, b2, 1L)
    val all = docsDf((0L, "r0", "en", "spark join query"), (1L, "r0", "en", "spark filter"),
      (2L, "r1", "en", "join join plan"))
    val wantPost = InvertedIndex.postings(InvertedIndex.tokens(all))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(postSet(store) == wantPost)
    assert(dfMap(store) ==
      Map("spark" -> 2L, "join" -> 2L, "query" -> 1L, "filter" -> 1L, "plan" -> 1L))
    // doc_stats reconstruct too
    val dl = IncrementalIndex.readDocStats(store, spark).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dl == Map(0L -> 3L, 1L -> 2L, 2L -> 3L))
  }

  test("re-indexing the same doc is idempotent (no df drift — reference bug not replicated)") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    val doc = docsDf((0L, "r0", "en", "spark join"))
    IncrementalIndex.mergeBatch(store, doc, 0L)
    val df1 = dfMap(store)
    // reference increments lemma.frequency on every re-index
    // (IndexingServiceImpl.java:171-178 via :244-264); we must NOT
    IncrementalIndex.mergeBatch(store, doc, 1L)
    IncrementalIndex.mergeBatch(store, doc, 2L)
    assert(dfMap(store) == df1)
  }

  test("upsert replaces a doc's old postings (delete + reindex in one path)") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store,
      docsDf((0L, "r0", "en", "alpha beta"), (1L, "r0", "en", "alpha gamma")), 0L)
    IncrementalIndex.upsertDoc(store, docsDf((0L, "r0", "en", "delta")))
    assert(postSet(store).map(p => (p._1, p._2)) ==
      Set((0L, "delta"), (1L, "alpha"), (1L, "gamma")))
    assert(dfMap(store) == Map("delta" -> 1L, "alpha" -> 1L, "gamma" -> 1L))
  }

  test("per-batch work is a DELTA: point-read pushed to parquet, no stats recompute") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store,
      docsDf((0L, "r", "en", "alpha beta"), (1L, "r", "en", "gamma beta"),
        (2L, "r", "en", "alpha gamma")), 0L)
    // the replaced-doc lookup compiles to an In(doc_id,...) filter pushed to
    // the parquet scan — per-batch cost reads the touched docs' row groups,
    // not the whole postings state
    val probe = IncrementalIndex.postingsForDocs(store, spark, Seq(1L)).get
    val plan = probe.queryExecution.executedPlan.toString
    // Catalyst folds a 1-element isin to EqualTo; either way it reaches the scan
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(doc_id") || plan.contains("EqualTo(doc_id")),
      s"expected pushed doc_id filter, plan:\n$plan")
    // and the batch's own term_stats artifact holds signed deltas only
    // (touched terms), not a recomputed full table
    IncrementalIndex.mergeBatch(store, docsDf((1L, "r", "en", "alpha")), 1L)
    val delta1 = spark.read.parquet(s"${store.dir}/term_stats/batch=1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(delta1 == Map("alpha" -> 1L, "gamma" -> -1L, "beta" -> -1L),
      s"expected only touched-term deltas, got $delta1")
    assert(dfMap(store) == Map("alpha" -> 3L, "beta" -> 1L, "gamma" -> 1L))
  }

  test("crash contract: torn batch invisible; replay reproduces identical state") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store, docsDf((0L, "r", "en", "x y z")), 0L)
    // a torn write (data without the pointer flip) is ignored by readers
    docsDf((9L, "r", "en", "orphan")).write.parquet(s"${store.dir}/postings/batch=99")
    assert(!postSet(store).exists(_._1 == 9L))
    // replay AFTER commit (streaming checkpoint lost the ack): same batch id,
    // same input — state must be byte-equal, not cancelled or doubled
    val b1 = docsDf((0L, "r", "en", "x q"))
    IncrementalIndex.mergeBatch(store, b1, 1L)
    val (p1, d1) = (postSet(store), dfMap(store))
    IncrementalIndex.mergeBatch(store, b1, 1L) // replay
    assert(postSet(store) == p1 && dfMap(store) == d1)
    assert(store.latestBatch.contains(1L))
  }

  test("compaction folds the log into one base batch with identical live tables") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store,
      docsDf((0L, "r", "en", "alpha beta"), (1L, "r", "en", "gamma")), 0L)
    IncrementalIndex.mergeBatch(store, docsDf((0L, "r", "en", "beta beta")), 1L)
    val (p0, d0) = (postSet(store), dfMap(store))
    IncrementalIndex.compactState(store, spark)
    assert(postSet(store) == p0 && dfMap(store) == d0)
    // read fan-in is now ONE batch
    assert(store.batches("postings") == Seq(2L))
    // and further merges keep working on top of the new base
    IncrementalIndex.upsertDoc(store, docsDf((1L, "r", "en", "delta")))
    assert(dfMap(store) == Map("beta" -> 1L, "delta" -> 1L))
  }

  /** a store whose log is `depth` batches deep, every batch carrying raw docs */
  def storeAtDepth(depth: Int): ParquetStateStore = {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    for (b <- 0 until depth) {
      val batch = docsDf((b.toLong, s"r${b % 2}", "en", s"alpha beta term$b"),
        (b + 1L, "r0", "en", "alpha gamma"))
      IncrementalIndex.mergeBatch(store, batch, rawDocs = Some(batch))
    }
    store
  }

  test("an LSM table read starts as many Spark jobs at depth 2 as at depth 10") {
    // build + count of each live table: one scan per table, whatever the
    // number of committed batch dirs behind it
    def readJobs(store: ParquetStateStore): Map[String, Int] = Map(
      "postings" -> jobsOf(IncrementalIndex.readPostings(store, spark).get.count())._2,
      "term_stats" -> jobsOf(IncrementalIndex.readTermStats(store, spark).get.count())._2,
      "doc_stats" -> jobsOf(IncrementalIndex.readDocStats(store, spark).get.count())._2,
      "docs" -> jobsOf(IncrementalIndex.readDocs(store, spark).get.count())._2)
    val (shallow, deep) = (storeAtDepth(2), storeAtDepth(10))
    assert(shallow.batches("postings").size == 2 && deep.batches("postings").size == 10)
    val (js, jd) = (readJobs(shallow), readJobs(deep))
    assert(js == jd, s"jobs per read grew with log depth: depth 2 $js, depth 10 $jd")
    // and the deep store still reconstructs the right tables
    assert(IncrementalIndex.readDocs(deep, spark).get.count() == 11)
    assert(dfMap(deep)("alpha") == 11L && dfMap(deep)("gamma") == 1L)
  }

  test("reads skip compacted-away and torn dirs; docs keep the corpus columns") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    val b0 = docsDf((0L, "r0", "en", "alpha beta"), (1L, "r1", "en", "gamma"))
    val b1 = docsDf((0L, "r1", "en", "beta beta"))
    IncrementalIndex.mergeBatch(store, b0, rawDocs = Some(b0))
    IncrementalIndex.mergeBatch(store, b1, rawDocs = Some(b1))
    val (p0, d0) = (postSet(store), dfMap(store))
    IncrementalIndex.compactState(store, spark)
    // the folded batches stay on disk below the new base ...
    val tables = Seq("postings", "doc_ids", "term_stats", "doc_stats", "docs", "term_stats_repo")
    for (t <- tables; b <- Seq(0L, 1L))
      assert(Files.exists(Paths.get(s"${store.dir}/$t/batch=$b")), s"$t/batch=$b")
    // ... and a torn dir with a foreign schema sits above the pointer
    docsDf((9L, "r0", "en", "orphan")).write.parquet(s"${store.dir}/postings/batch=99")
    // every table reads exactly the base; a leaked signed term_stats delta
    // would also show as a doubled df
    for (t <- tables)
      assert(store.readUnion(spark, t).get.select("_b").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(2L), t)
    assert(postSet(store) == p0 && dfMap(store) == d0)
    // the docs log reads back with the corpus's own columns, nothing added
    val docs = IncrementalIndex.readDocs(store, spark).get
    assert(docs.columns.toSeq == b0.columns.toSeq)
    assert(docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet ==
      Set((0L, "r1", "beta beta"), (1L, "r1", "gamma")))
    val repoDf = IncrementalIndex.readTermStatsRepo(store, spark).get
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(repoDf == Map(("r1", "beta") -> 1L, ("r1", "gamma") -> 1L))
  }

  test("stream ids never collide with compaction/upsert batches (separate id spaces)") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store, docsDf((0L, "r", "en", "alpha")), 0L)
    IncrementalIndex.mergeBatch(store, docsDf((1L, "r", "en", "beta")), 1L)
    IncrementalIndex.compactState(store, spark) // folds into base batch 2
    // the stream's NEXT checkpoint id is 2 — storage ids are store-allocated,
    // so this must land in a fresh batch, not overwrite the compacted base
    IncrementalIndex.mergeBatch(store, docsDf((2L, "r", "en", "gamma")), 2L)
    assert(dfMap(store) == Map("alpha" -> 1L, "beta" -> 1L, "gamma" -> 1L))
    // and a stale (already-applied) stream id is skipped entirely
    IncrementalIndex.mergeBatch(store, docsDf((3L, "r", "en", "delta")), 1L)
    assert(!dfMap(store).contains("delta"))
  }

  test("a batch carrying two versions of one doc keeps ONE deterministic version") {
    val b = docsDf((0L, "r", "en", "alpha beta"), (0L, "r", "en", "gamma"))
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store, b)
    val terms = postSet(store).map(_._2)
    assert(terms == Set("alpha", "beta") || terms == Set("gamma"),
      s"must be one version's terms, not a union: $terms")
    // deterministic: a fresh store ingesting the same batch picks the same version
    val store2 = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    IncrementalIndex.mergeBatch(store2, b)
    assert(postSet(store2) == postSet(store))
  }

  test("a seq column orders within-batch last-writer-wins (latest version kept)") {
    import spark.implicits._
    // two sequential updates of doc 0 in ONE micro-batch: the higher seq
    // must win (reference delete+reindex last-write-wins), regardless of
    // the sha tie-break order
    for (swap <- Seq(false, true)) {
      val rows = Seq((0L, "r", "en", "older version one", 1L),
                     (0L, "r", "en", "newest version two", 2L))
      val b = (if (swap) rows.reverse else rows)
        .toDF("doc_id", "repo", "lang", "content", "seq")
      val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
      IncrementalIndex.mergeBatch(store, b)
      val terms = postSet(store).map(_._2)
      assert(terms == Set("newest", "version", "two"), s"swap=$swap kept: $terms")
    }
  }

  test("a gated page deletes a doc O(page): postings masked, df decremented") {
    val store = new ParquetStateStore(Files.createTempDirectory("graft-stream").toString)
    val b = docsDf((0L, "r0", "en", "spark join"), (1L, "r0", "en", "spark filter"))
    IncrementalIndex.mergeBatch(store, b, rawDocs = Some(b))
    // a page whose only version fails the HTTP gate deletes its doc
    def gone(id: Long) = IncrementalIndex.mergePage(store,
      docsDf((id, "r0", "en", "error page")).withColumn("code", lit(404)), keep = Corpus.okStatus)
    gone(0L)
    assert(postSet(store).map(_._1) == Set(1L))
    assert(dfMap(store) == Map("spark" -> 1L, "filter" -> 1L)) // join dropped to 0 -> absent
    // doc_stats row gone too
    val ds = IncrementalIndex.readDocStats(store, spark).get.collect().map(_.getLong(0)).toSet
    assert(ds == Set(1L))
    // the delete batch wrote only the ids + signed term deltas — postings
    // dir for that batch must not exist (no index rewrite)
    val latest = store.latestBatch.get
    assert(!Files.exists(java.nio.file.Paths.get(s"${store.dir}/postings/batch=$latest")))
    // deleting an absent doc is a no-op that stays consistent
    gone(99L)
    assert(postSet(store).map(_._1) == Set(1L))
    assert(dfMap(store) == Map("spark" -> 1L, "filter" -> 1L))
  }

  test("mergePage and mergeBatch leave identical live tables, step by step") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.expressions.Window
    val lex = Map("ru" -> graft.analyze.DefaultLexicon.russian)
    val text = (c: org.apache.spark.sql.Column) => graft.analyze.Html.textOf(c)
    def page(rows: (Long, String, String, String, Int)*): DataFrame =
      rows.toDF("doc_id", "repo", "lang", "content", "code")
    def seqPage(rows: (Long, String, String, String, Int, Long)*): DataFrame =
      rows.toDF("doc_id", "repo", "lang", "content", "code", "seq")
    // the reference pick: mergeBatch's own window order over the raw rows
    def oneVersion(b: DataFrame): DataFrame = {
      val order = (if (b.columns.contains("seq")) Seq(col("seq").desc) else Nil) ++
        Seq(sha2(text(col("content")), 256).desc, col("lang").desc, col("repo").desc)
      b.withColumn("_rn", row_number().over(Window.partitionBy("doc_id").orderBy(order: _*)))
        .filter(col("_rn") === 1).drop("_rn", "seq")
    }
    def merged(store: ParquetStateStore, raw: DataFrame): Unit =
      IncrementalIndex.mergeBatch(store, raw.withColumn("content", text(col("content"))),
        lexicons = lex, rawDocs = Some(raw))
    def tables(store: ParquetStateStore): Map[String, Set[Seq[Any]]] = Map(
      "postings" -> IncrementalIndex.readPostings(store, spark),
      "doc_stats" -> IncrementalIndex.readDocStats(store, spark),
      "term_stats" -> IncrementalIndex.readTermStats(store, spark),
      "term_stats_repo" -> IncrementalIndex.readTermStatsRepo(store, spark),
      "docs" -> IncrementalIndex.readDocs(store, spark)
    ).map { case (t, df) =>
      t -> df.get.select(df.get.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet
    }
    val base = page((0L, "r0", "en", "alpha beta", 200), (1L, "r0", "en", "alpha gamma", 200),
      (2L, "r1", "en", "beta delta", 200))
    val viaPage = new ParquetStateStore(Files.createTempDirectory("graft-parity").toString)
    var viaBatch = new ParquetStateStore(Files.createTempDirectory("graft-parity").toString)
    merged(viaPage, base)
    merged(viaBatch, base)
    // the live raw rows, to rebuild the mergeBatch twin after a delete
    var live: Map[Long, Row] = base.collect().map(r => r.getLong(0) -> r).toMap
    val fullwidth = "\uFF21" // UTF-16 orders it above the emoji, UTF-8 below
    val emoji = "\uD83D\uDE00"
    val steps: Seq[(String, DataFrame)] = Seq(
      "new doc" -> page((3L, "r1", "en", "epsilon zeta", 200)),
      "replacement" -> page((0L, "r0", "en", "alpha eta eta", 200)),
      "moves repo" -> page((1L, "r2", "en", "alpha gamma theta", 200)),
      "gated 404 delete" -> page((2L, "r1", "en", "not found", 404)),
      "stop words only" -> page((4L, "r2", "en", "the a", 200)),
      "two versions, seq" -> seqPage((5L, "r0", "en", "older iota", 200, 1L),
        (5L, "r0", "en", "newer kappa", 200, 2L), (3L, "r1", "en", "lambda", 200, 7L),
        (3L, "r1", "en", "mu", 200, 3L)),
      "two versions, no seq" -> page((6L, "r1", "en", "delta one", 200), (6L, "r1", "en", "epsilon two", 200)),
      "non-ASCII repo tie" -> page((7L, fullwidth, "en", "same words", 200), (7L, emoji, "en", "same words", 200)),
      "html" -> page((8L, "r0", "en",
        "<html><head><title>T</title></head><body><p>hello nu world</p><script>var xi;</script></body></html>", 200)),
      "ru with a lexicon" -> page((9L, "r3", "ru", "дома у реки", 200)))
    for ((step, raw) <- steps) {
      val p = IncrementalIndex.mergePage(viaPage, raw, lex, text, Corpus.okStatus)
      val chosen = oneVersion(raw.filter(Corpus.okStatus))
      val deleted = p.ids.toSet -- chosen.select("doc_id").collect().map(_.getLong(0))
      live = live -- deleted ++ chosen.collect().map(r => r.getLong(0) -> r)
      if (deleted.isEmpty) merged(viaBatch, chosen)
      else {
        // mergeBatch has no delete: its twin is a fresh build of the live docs
        viaBatch = new ParquetStateStore(Files.createTempDirectory("graft-parity").toString)
        merged(viaBatch, spark.createDataFrame(live.values.toSeq.asJava, base.schema))
      }
      val (a, b) = (tables(viaPage), tables(viaBatch))
      for (t <- a.keys) assert(a(t) == b(t), s"$step: $t diverged\npage:  ${a(t)}\nbatch: ${b(t)}")
      assert(p.docs.collect().map(_.toSeq).toSet == chosen.collect().map(_.toSeq).toSet, s"$step: page rows")
    }
    assert(tables(viaPage)("docs").exists(_.contains(emoji)), "Spark's string order picks the emoji repo")
  }

  test("end-to-end Structured Streaming: file source -> foreachBatch -> queryable state") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$dir/incoming"
    val store = new ParquetStateStore(s"$dir/state")
    docsDf((0L, "r0", "en", "spark join query"), (1L, "r0", "en", "hash join"))
      .write.parquet(inDir)
    val schema = docsDf().schema
    val q = IncrementalIndex.start(spark.readStream.schema(schema).parquet(inDir),
      store, s"$dir/ckpt")
    q.awaitTermination(60000)
    assert(dfMap(store) == Map("spark" -> 1L, "join" -> 2L, "query" -> 1L, "hash" -> 1L))
    // second drop of files resumes from the checkpoint without reprocessing
    docsDf((2L, "r1", "en", "plan scan")).write.mode("append").parquet(inDir)
    val q2 = IncrementalIndex.start(spark.readStream.schema(schema).parquet(inDir),
      store, s"$dir/ckpt")
    q2.awaitTermination(60000)
    assert(dfMap(store) == Map("spark" -> 1L, "join" -> 2L, "query" -> 1L, "hash" -> 1L,
      "plan" -> 1L, "scan" -> 1L))
  }
}
