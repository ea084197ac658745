package graft

import graft.index.{InvertedIndex, ShardPosting}
import graft.query.Search
import graft.registry._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry runs over the driver-provided parquet tables in
  * `sfDir` (documents/embeddings/...), and every `oracleSql` entry is the
  * ANSI-SQL equivalent DuckDB runs over the same files. Column names are
  * aligned pairwise (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  // ---- shared fixed fixtures (definitions live in registry.Shared) ----
  def q2: Seq[String] = Shared.q2
  def q3: Seq[String] = Shared.q3
  def qMissingInput: String = Shared.qMissingInput
  def qSeg: Seq[String] = Shared.qSeg
  def qLexInput: String = Shared.qLexInput
  def qLexTerms: Seq[String] = Shared.qLexTerms
  def synGroups: Seq[(String, Seq[String])] = Shared.synGroups
  def cmsTerms: Seq[String] = Shared.cmsTerms
  def mixTargets: Map[String, Int] = Shared.mixTargets
  def seedTopics: Map[String, Seq[String]] = Shared.seedTopics
  def batchQ: Seq[(Long, String)] = Shared.batchQ
  def suggestQ: Seq[String] = Shared.suggestQ
  def heapsThresholds: Seq[Long] = Shared.heapsThresholds
  def costQ: Seq[(Long, String)] = Shared.costQ

  // ---- cached per-sfDir builders (definitions live in registry.Shared) --
  def index(spark: SparkSession, sfDir: String): (DataFrame, InvertedIndex.Tables) =
    Shared.index(spark, sfDir)
  def shards(spark: SparkSession, sfDir: String): Dataset[ShardPosting] =
    Shared.shards(spark, sfDir)
  def persistedIndex(spark: SparkSession, sfDir: String): String =
    Shared.persistedIndex(spark, sfDir)
  def persistedAux(s: SparkSession, dir: String): String =
    Shared.persistedAux(s, dir)
  def bm25fEff(s: SparkSession, dir: String): DataFrame = Shared.bm25fEff(s, dir)
  def anchorEff(s: SparkSession, dir: String): DataFrame = Shared.anchorEff(s, dir)
  def lexIndex(s: SparkSession, dir: String): InvertedIndex.Tables =
    Shared.lexIndex(s, dir)
  def mltIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Shared.mltIndex(s, dir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val (corpus, t) = index(spark, "/root/testdata/sf0.001")
    Search.search(corpus, t.postings, t.docStats, t.termStats, t.nDocs, t.avgDl,
      query = "spark join", lang = "en", limit = 10)
  }

  /** The per-module registries (queries + oracle twins live beside their
    * operators under graft.registry; this object stays the driver contract). */
  val registries: Seq[QueryRegistry] = Seq(
    CoreIndexRegistry, RankingRegistry, PhraseSuggestRegistry,
    GraphCrawlRegistry, EvalRegistry, DedupRegistry, AnnRegistry,
    TextRegistry, PipelineRegistry, EventsRegistry)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.iterator.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every key has a twin (RegistrySpec checks
    * that the two key sets match). */
  lazy val oracleSql: Map[String, String] =
    registries.iterator.map(_.oracleSql).reduce(_ ++ _)
}
