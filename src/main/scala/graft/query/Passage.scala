package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Passage retrieval with MaxP aggregation (Callan, SIGIR 1994 "Passage-
  * Level Evidence in Document Retrieval"; the MaxP doc-score rule is the
  * aggregation Dai & Callan 2019 made standard — public literature): long
  * documents are scored by their BEST window, not their whole body, so a
  * 200-page manual with one perfect section outranks a thin page that
  * mentions the query everywhere. Also the retrieval granularity RAG
  * pipelines want — the winning (doc, start) IS the chunk to feed a
  * reader.
  *
  * Passages are sliding windows of `window` ANALYZER token positions every
  * `stride` (window ≥ stride so every token is covered) over the same
  * (doc_id, term, pos) relation the positional index stores — no text
  * re-tokenization, and the DuckDB twin shares the relation exactly.
  *
  * Index half ([[passagePostings]]): each position explodes into its
  * ≤ window/stride covering windows (bounded fan-out), then one
  * (doc, start, term) aggregate. BM25 runs with PASSAGE-level stats
  * (N = #passages, df = passage frequency, avgdl = avg passage length) —
  * self-consistent, and the passage relation is an index artifact built
  * once. Query half ([[maxpTopK]]): one IN-filtered scan of passage
  * postings + a (doc, start) aggregate + two WindowGroupLimit-shaped
  * top-1/top-k cuts. */
object Passage {

  /** (doc_id, s, term, tf): term counts per sliding window [s, s+window),
    * s a multiple of stride. */
  def passagePostings(tokenPos: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, "need window >= stride > 0 (full coverage)")
    tokenPos
      .withColumn("s", explode(sequence(
        expr(s"((greatest(pos - $window + 1, 0L) + $stride - 1) div $stride) * $stride"),
        expr(s"(pos div $stride) * $stride"),
        lit(stride.toLong))))
      .groupBy("doc_id", "s", "term").agg(count(lit(1)).as("tf"))
  }

  /** (doc_id, s, pl): passage lengths (Σtf over the window) */
  def passageLengths(passagePostings: DataFrame): DataFrame =
    passagePostings.groupBy("doc_id", "s").agg(sum("tf").as("pl"))

  /** Materialize the winning chunks' TEXT: join the top-k (doc, start)
    * winners back to the analyzer token arrays and slice the window — the
    * deliverable a RAG reader consumes. Touches k documents' arrays, never
    * the corpus. */
  def chunkText(corpus: DataFrame, winners: DataFrame, window: Int): DataFrame = {
    val arr = graft.index.InvertedIndex.termsForLang(col("content"), col("lang"))
    corpus.select(col("doc_id"), arr.as("arr"))
      .join(winners, "doc_id")
      .select(col("rank"), col("doc_id"), col("s"),
        concat_ws(" ", slice(col("arr"), (col("s") + 1).cast("int"), lit(window)))
          .as("chunk"))
  }

  /** MaxP top-k: score every passage disjunctively with passage-level BM25
    * stats, keep each doc's best passage (ties: smaller start), rank docs.
    * Returns (rank, doc_id, s, score) — the winning window rides along. */
  def maxpTopK(passagePostings: DataFrame, passageLengths: DataFrame,
               dfs: Map[String, Long], nPassages: Long, avgPl: Double,
               k: Int): DataFrame = {
    val scored = Search.docScores(
      Search.termScores(passagePostings.join(passageLengths, Seq("doc_id", "s")), dfs,
        nPassages, avgPl, len = "pl"),
      keys = Seq("doc_id", "s"))
    val best = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("s"))))
      .filter(col("rn") === 1).drop("rn")
    Search.rankTopK(best, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("s"), col("score"))
  }
}
