package graft.facadebench

import graft.analyze.Analyzer
import graft.index.{IndexWriter, PostingCodec}
import graft.io.TableIO
import graft.query.{Oracle, QueryFrontend}
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.SparkSession

/** The correctness gate: every answer the benchmark times is compared with
  * the pure-Scala `graft.query.Oracle`. A check returns None when it passes
  * and the reason when it does not.
  */
object Gate {

  /** a search answer reduced to what the gate compares: doc paths in rank
    * order with their scores */
  final case class Answer(result: Boolean, count: Long, items: Seq[(String, Double)], error: String)

  def answerOf(r: graft.api.SearchEngine#SearchResponse): Answer =
    Answer(r.result, r.count, r.data.map(i => (i.uri, i.relevance)), r.error)

  val limit = 20
  val scoreTolerance = 1e-9

  /** Oracle over `docs` plus the doc-id lookups the gate needs */
  final class Truth(val docs: Seq[Inputs.Doc]) {
    val index = new Oracle.Index(docs.map(d => Oracle.Doc(d.id, d.repo, d.lang, d.content)))
    private val byId = docs.map(d => d.id -> d).toMap
    def repoOf(id: Long): String = byId(id).repo
    def pathOf(id: Long): String = byId(id).path
  }

  /** What the facade must answer for `text` (scoped to `site` if given):
    * the facade's error strings, the Oracle's conjunctive BM25 list filtered
    * to the site, ranked by score desc then doc id asc, first page. */
  def expected(t: Truth, text: String, site: Option[String]): Answer = {
    if (Analyzer.queryTerms("en", text).isEmpty) return Answer(false, 0, Nil, "Empty search query")
    val p = t.index.plan("en", text)
    if (p.missing.nonEmpty)
      return Answer(false, 0, Nil, s"No data for words: ${p.missing.mkString(", ")}, ")
    if (p.isEmpty) return Answer(true, 0, Nil, null)
    val hits = t.index.score(p.terms.map(_.term)).filter(s => site.forall(_ == t.repoOf(s.docId)))
    if (hits.isEmpty) Answer(true, 0, Nil, null)
    else Answer(true, hits.size.toLong,
      hits.sortBy(s => (-s.bm25, s.docId)).take(limit).map(s => (t.pathOf(s.docId), s.bm25)), null)
  }

  /** Same flag, count and error; the same docs in the same order with
    * scores within 1e-9. Docs whose expected scores tie within 1e-9 may come
    * in either order (the two sides sum term scores in different orders). */
  def diff(exp: Answer, got: Answer): Option[String] = {
    if (got.result != exp.result) Some(s"result ${got.result}, expected ${exp.result}")
    else if (got.count != exp.count) Some(s"count ${got.count}, expected ${exp.count}")
    else if (got.error != exp.error) Some(s"error '${got.error}', expected '${exp.error}'")
    else if (got.items.size != exp.items.size)
      Some(s"${got.items.size} items, expected ${exp.items.size}")
    else {
      val badScore = got.items.zip(exp.items).indexWhere { case ((_, g), (_, e)) =>
        math.abs(g - e) > scoreTolerance
      }
      if (badScore >= 0)
        Some(s"score at rank ${badScore + 1}: ${got.items(badScore)}, expected ${exp.items(badScore)}")
      else {
        val runs = tieRuns(exp.items.map(_._2))
        val badRun = runs.find { case (from, until) =>
          got.items.slice(from, until).map(_._1).sorted != exp.items.slice(from, until).map(_._1).sorted
        }
        badRun.map { case (from, until) =>
          s"docs at ranks ${from + 1}-$until: ${got.items.slice(from, until).map(_._1)}, " +
            s"expected ${exp.items.slice(from, until).map(_._1)}"
        }
      }
    }
  }

  /** [from, until) index ranges of consecutive scores equal within 1e-9 */
  private def tieRuns(scores: Seq[Double]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var from = 0
    for (i <- 1 to scores.size) {
      if (i == scores.size || math.abs(scores(i) - scores(i - 1)) > scoreTolerance) {
        out += ((from, i)); from = i
      }
    }
    out.result()
  }

  /** A persisted build's files: `_meta.json` carries N and the manifest
    * commits every bucket. */
  def checkManifest(tableDir: String, nDocs: Long): Option[String] = {
    val nBuckets = IndexWriter.Config().nBuckets
    val meta = TableIO.readMeta(tableDir)
    val committed = TableIO.readCurrent(tableDir).map(_.committed).getOrElse(Set.empty)
    if (!meta.exists(_.nDocs == nDocs)) Some(s"meta nDocs ${meta.map(_.nDocs)}, expected $nDocs")
    else if (committed != (0 until nBuckets).toSet)
      Some(s"manifest commits buckets ${committed.toSeq.sorted}, expected 0-${nBuckets - 1}")
    else None
  }

  /** A persisted build: `checkManifest`, and for each sample term the
    * decoded postings read back with `IndexWriter.readForTerms` are the
    * Oracle's posting list. */
  def checkPersisted(spark: SparkSession, tableDir: String, t: Truth,
                     sampleTerms: Seq[String]): Option[String] =
    checkManifest(tableDir, t.index.nDocs).orElse(sampleTerms.iterator.flatMap { term =>
      val got = IndexWriter.readForTerms(spark, tableDir, Seq(term)).collect()
        .flatMap(sp => new PostingCodec.Decoded(sp.bytes).decodeAll().map(_.docId)).toSeq.sorted
      val exp = t.index.postingList(term)
      if (got == exp) None else Some(s"postings of $term: ${got.size} docs, expected ${exp.size}")
    }.nextOption())

  /** A live build's LSM store: one doc-stats row per doc, and the Oracle's
    * df for each sample term. */
  def checkLiveStore(spark: SparkSession, store: IncrementalIndex.ParquetStateStore, t: Truth,
                     sampleTerms: Seq[String]): Option[String] = {
    val nDocs = IncrementalIndex.readDocStats(store, spark).map(_.count()).getOrElse(-1L)
    val dfs = IncrementalIndex.readTermStats(store, spark)
      .map(QueryFrontend.lookupDf(_, sampleTerms.toSet)).getOrElse(Map.empty)
    val exp = sampleTerms.flatMap(term => t.index.df.get(term).map(term -> _)).toMap
    if (nDocs != t.index.nDocs) Some(s"store holds $nDocs docs, expected ${t.index.nDocs}")
    else if (dfs != exp) Some(s"store df $dfs, expected $exp")
    else None
  }

  /** two LSM stores hold the same (term, df) dictionary */
  def sameTermStats(spark: SparkSession, a: IncrementalIndex.ParquetStateStore,
                    b: IncrementalIndex.ParquetStateStore): Option[String] = {
    def dict(st: IncrementalIndex.ParquetStateStore): Set[(String, Long)] =
      IncrementalIndex.readTermStats(st, spark).toSeq
        .flatMap(_.select("term", "df").collect().map(r => (r.getString(0), r.getLong(1)))).toSet
    val (da, db) = (dict(a), dict(b))
    if (da == db) None else Some(s"term dictionaries differ in ${(da diff db).size + (db diff da).size} entries")
  }

  /** the bucket lineage (bucket, rows, hash) a persisted build committed */
  def lineage(tableDir: String): Set[(Int, Long, Long)] =
    TableIO.readCurrent(tableDir).toSeq
      .flatMap(_.partitions.map(p => (p.partition, p.rows, p.hashAgg))).toSet

  /** seeded sample of terms across the Zipf ranks: head, mid and tail */
  def sampleTerms(seed: Long): Seq[String] = {
    val rng = new Inputs.Rng(seed ^ 0x7E57L)
    Seq(rng.between(0, 9), rng.between(10, 99), rng.between(100, 499),
      rng.between(500, 1999), rng.between(2000, 4999)).map(Inputs.tok)
  }
}
