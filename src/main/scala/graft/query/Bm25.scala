package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BM25 (Robertson/Spärck Jones; k1=1.2, b=0.75) — the north-rule scoring
  * upgrade of the reference's Σtf relevance (/root/reference/src/main/java/
  * searchengine/tools/SearcherPage.java:91-107). Same formula lives in three
  * places that must agree to the rounding tolerance: this Column form, the
  * in-memory scalar oracle (Oracle.scala), and the DuckDB oracle SQL.
  */
object Bm25 {
  val k1 = 1.2
  val b  = 0.75

  def idf(df: Column, nDocs: Long): Column = idf(df, lit(nDocs.toDouble))
  def idf(df: Column, nDocs: Column): Column =
    log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  def tfNorm(tf: Column, dl: Column, avgDl: Double): Column = tfNormDyn(tf, dl, lit(avgDl))

  def score(tf: Column, df: Column, dl: Column, nDocs: Long, avgDl: Double): Column =
    score(tf, df, dl, lit(nDocs.toDouble), lit(avgDl))
  def score(tf: Column, df: Column, dl: Column, nDocs: Column, avgDl: Column): Column = // DOUBLE stats
    idf(df, nDocs) * tfNormDyn(tf, dl, avgDl)

  /** tf normalization with a COLUMN avgdl — for scorers whose document-length
    * statistics are themselves part of the plan (BM25F's field-weighted dl)
    * rather than driver-known scalars. */
  def tfNormDyn(tf: Column, dl: Column, avgDl: Column): Column =
    (tf * lit(k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgDl))

  // scalar form (oracle + WAND block-max upper bounds)
  def idfS(df: Long, nDocs: Long): Double =
    math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
  def tfNormS(tf: Long, dl: Long, avgDl: Double): Double =
    (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgDl))
  def scoreS(tf: Long, df: Long, dl: Long, nDocs: Long, avgDl: Double): Double =
    idfS(df, nDocs) * tfNormS(tf, dl, avgDl)

  /** DuckDB SQL fragments for the same score (column names fixed); `sql`
    * is their product, so explain-style breakdowns stay formula-aligned. */
  def sqlIdf(df: String, n: String): String =
    s"ln((($n - $df + 0.5) / ($df + 0.5)) + 1.0)"
  def sqlTfNorm(tf: String, dl: String, avgdl: String): String =
    s"(($tf * ${k1 + 1.0}) / ($tf + $k1 * (${1.0 - b} + $b * $dl / $avgdl)))"
  def sql(tf: String, df: String, dl: String, n: String, avgdl: String): String =
    s"${sqlIdf(df, n)} * ${sqlTfNorm(tf, dl, avgdl)}"
}
