package graft.facadebench

import graft.analyze.{Analyzer, Html}
import graft.api.SearchEngine
import graft.index.{IndexWriter, InvertedIndex}
import graft.io.TableIO
import graft.query.{Bm25, QueryFrontend, Search, Wand}
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The facade's calls rebuilt from the public layer calls, made in the
  * order `SearchEngine` makes them, with a span around each facade call and
  * child spans around each layer call. Only the traced run uses these; it
  * compares every decomposed answer with the facade's answer.
  *
  * A layer whose result the facade consumes lazily (the top-k frames) is
  * collected inside its own span, so its Spark jobs land there and not in
  * the decorate span that would otherwise run them.
  */
object Decomposed {

  private def indexedView(df: DataFrame): DataFrame =
    df.withColumn("content", Html.textOf(col("content")))

  /** `startIndexingPersisted(tableDir)` with default settings and no
    * optional artifacts; seeds the live store in `storeDir` */
  def buildPersisted(tr: Tracer, corpus: DataFrame, tableDir: String, storeDir: String): Unit =
    tr.span("api.startIndexingPersisted") { _ =>
      val cfg = IndexWriter.Config()
      val c = corpus.cache()
      val t = tr.span("index.InvertedIndex.build")(_ => InvertedIndex.build(indexedView(c)))
      val shards = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try {
        for (g <- (0 until cfg.nBuckets).grouped(4))
          tr.span("index.IndexWriter.write") { _ =>
            IndexWriter.write(shards.filter(col("bucket").isin(g.map(x => x: Any): _*)),
              tableDir, 1L, cfg)
          }
        tr.span("io.TableIO.writeMeta")(_ => TableIO.writeMeta(tableDir, TableIO.IndexMeta(t.nDocs, t.avgDl)))
        val tsRepo = t.postings.join(c.select("doc_id", "repo"), "doc_id")
          .groupBy("repo", "term").agg(count(lit(1)).as("df"))
        val store = newStore(storeDir)
        tr.span("streaming.IncrementalIndex.seedBase") { _ =>
          IncrementalIndex.seedBase(store, t, rawDocs = Some(c), termStatsRepo = Some(tsRepo))
        }
      } finally {
        shards.unpersist()
        t.postings.unpersist(): Unit
      }
    }

  /** `startIndexing()`: the whole corpus as the first LSM batch */
  def buildLive(tr: Tracer, corpus: DataFrame, storeDir: String): Unit =
    tr.span("api.startIndexing") { _ =>
      val c = corpus.cache()
      val store = newStore(storeDir)
      tr.span("streaming.IncrementalIndex.mergeBatch") { _ =>
        IncrementalIndex.mergeBatch(store, indexedView(c), rawDocs = Some(c))
      }
    }

  private def newStore(dir: String): IncrementalIndex.ParquetStateStore = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    new IncrementalIndex.ParquetStateStore(dir)
  }

  /** `search(q.text, q.site)` on `engine`: the WAND tier for an unscoped
    * query when `persisted` names the engine's committed table, the
    * DataFrame tier otherwise. `kind` tags the span. */
  def search(tr: Tracer, spark: SparkSession, engine: SearchEngine, persisted: Option[String],
             q: Inputs.Query, kind: String): Gate.Answer =
    tr.span("api.search", kind) { _ =>
      val (corpus, t) = engine.synchronized((engine.corpus, engine.tables))
      val qTerms = tr.span("analyze.Analyzer.queryTerms")(_ => Analyzer.queryTerms("en", q.text))
      lazy val plan = tr.span("query.QueryFrontend.plan")(_ => QueryFrontend.plan(t.termStats, "en", q.text))
      if (qTerms.isEmpty) Gate.Answer(false, 0, Nil, "Empty search query")
      else if (plan.missing.nonEmpty)
        Gate.Answer(false, 0, Nil, s"No data for words: ${plan.missing.mkString(", ")}, ")
      else if (plan.isEmpty) Gate.Answer(true, 0, Nil, null)
      else {
        val kept = plan.terms.map(_.term)
        val dfs = plan.terms.map(pt => pt.term -> pt.df).toMap
        val scoped = q.site match {
          case Some(r) => t.postings.join(
            corpus.filter(col("repo") === r).select("doc_id"), Seq("doc_id"), "left_semi")
          case None => t.postings
        }
        val total = tr.span("query.Search.conjunctive")(_ => Search.conjunctive(scoped, kept).count())
        if (total == 0) Gate.Answer(true, 0, Nil, null)
        else {
          val top = (persisted, q.site) match {
            case (Some(dir), None) =>
              val meta = tr.span("io.TableIO.readMeta")(_ => TableIO.readMeta(dir).get)
              val idfs = dfs.map { case (tm, d) => tm -> Bm25.idfS(d, meta.nDocs) }
              tr.span("query.Wand.topK") { s =>
                collected(spark, s, Wand.topK(IndexWriter.readForTerms(spark, dir, kept), idfs,
                  meta.avgDl, Gate.limit).filter(col("rank") > 0))
              }
            case _ =>
              tr.span("query.Search.bm25TopK") { s =>
                collected(spark, s, Search.bm25TopK(scoped, t.docStats, dfs, t.nDocs, t.avgDl, Gate.limit))
              }
          }
          val rows = tr.span("query.Search.decorate")(_ => Search.decorate(corpus, top, dfs.keySet).collect())
          Gate.Answer(true, total,
            rows.toSeq.map(r => (r.getAs[String]("path"), r.getAs[Double]("score"))), null)
        }
      }
    }

  /** run `df` inside the current span and hand back its rows as a frame */
  private def collected(spark: SparkSession, s: Span, df: DataFrame): DataFrame = {
    val rows = df.collect()
    if (s != null) s.rows = rows.length.toLong
    spark.createDataFrame(java.util.Arrays.asList[Row](rows: _*), df.schema)
  }
}
