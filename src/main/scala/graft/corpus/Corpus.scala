package graft.corpus

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the engine's input corpus — the exact `input_hint` shape:
  * an (emulated-)Iceberg table of source-code repositories.
  * Maps the reference's `page` entity (/root/reference/src/main/java/
  * searchengine/model/Page.java:16-36): repo≙site, path≙page.path,
  * content≙page.content.
  */
case class CorpusRow(repo: String, path: String, commit: String, lang: String, content: String)

object Corpus {

  /** splitmix64 — deterministic, allocation-free PRNG step (public-domain
    * algorithm; Vigna 2015). All generator randomness derives from this so
    * the corpus is bit-stable across JVMs/runs. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4A9B479BB655L
    z ^ (z >>> 31)
  }
  /** uniform double in [0,1) from a hash state */
  def u01(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Fixed 5,000-token vocabulary with Zipf(s=1.1) draw — guarantees hot
    * head terms (exercises salting / mean+2σ pruning) and a df=1 tail
    * (rarest-first ordering tests). FIXTURES.md §5. */
  val vocabSize = 5000
  lazy val vocab: IndexedSeq[String] =
    (0 until vocabSize).map(i => s"tok${i}")
  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to vocabSize).map(k => 1.0 / math.pow(k, 1.1)).toArray
    val total = w.sum
    val cdf = new Array[Double](vocabSize)
    var acc = 0.0
    var i = 0
    while (i < vocabSize) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(vocabSize - 1) = 1.0
    cdf
  }
  def zipfToken(u: Double): String = {
    val idx = java.util.Arrays.binarySearch(zipfCdf, u) match {
      case i if i >= 0 => i
      case i           => -i - 1
    }
    vocab(math.min(idx, vocabSize - 1))
  }

  val langs = IndexedSeq("scala", "java", "py")

  /** Pure deterministic generator (seed-addressed; no wall clock, no
    * network). Used by unit tests and the sha256-invariant check. */
  def generateRows(nDocs: Int, nRepos: Int, seed: Long = 42L): IndexedSeq[CorpusRow] = {
    (0 until nDocs).map { i =>
      val repo = f"repo-${i % nRepos}%02d"
      val lang = langs(i % langs.length)
      val ext = lang match { case "py" => "py"; case l => l }
      val path = f"src/main/file_$i%05d.$ext"
      // commit: 40 hex chars, constant per repo, derived from (repo, seed)
      val ch = splitmix64(repo.hashCode.toLong ^ seed)
      val cl = splitmix64(ch)
      val commit = (f"$ch%016x$cl%016x" * 3).take(40)
      val docSeed = splitmix64(seed ^ (i.toLong * 0x9E3779B97F4A7C15L))
      val nTokens = 20 + (math.abs(docSeed) % 80).toInt
      val sb = new StringBuilder
      var h = docSeed
      var t = 0
      while (t < nTokens) {
        h = splitmix64(h)
        if (t > 0) sb.append(if (t % 7 == 0) ";\n" else " ")
        sb.append(zipfToken(u01(h)))
        t += 1
      }
      CorpusRow(repo, path, commit, lang, sb.toString)
    }
  }

  def generate(spark: SparkSession, nDocs: Int, nRepos: Int, seed: Long = 42L): Dataset[CorpusRow] = {
    import spark.implicits._
    spark.createDataset(generateRows(nDocs, nRepos, seed))
  }

  /** one generated row, addressed purely by (i, nRepos, seed) — shared by
    * the local and the distributed generator so both produce identical
    * corpora. */
  def generateRow(i: Long, nRepos: Int, seed: Long): CorpusRow = {
    val repo = f"repo-${i % nRepos}%02d"
    val lang = langs((i % langs.length).toInt)
    val ext = lang match { case "py" => "py"; case l => l }
    val path = f"src/main/file_$i%07d.$ext"
    val ch = splitmix64(repo.hashCode.toLong ^ seed)
    val cl = splitmix64(ch)
    val commit = (f"$ch%016x$cl%016x" * 3).take(40)
    val docSeed = splitmix64(seed ^ (i * 0x9E3779B97F4A7C15L))
    val nTokens = 20 + (math.abs(docSeed) % 80).toInt
    val sb = new StringBuilder
    var h = docSeed
    var t = 0
    while (t < nTokens) {
      h = splitmix64(h)
      if (t > 0) sb.append(if (t % 7 == 0) ";\n" else " ")
      sb.append(zipfToken(u01(h)))
      t += 1
    }
    CorpusRow(repo, path, commit, lang, sb.toString)
  }

  /** Distributed deterministic generator: `spark.range` → per-row synth on
    * executors (no driver-side materialization, no serial fraction) with
    * `doc_id` = range index. Identical content for identical (n, repos,
    * seed) at ANY parallelism — the fixed input of the scaling benchmark. */
  def generateDistributed(spark: SparkSession, nDocs: Long, nRepos: Int,
                          seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).mapPartitions { it =>
      it.map { i =>
        val r = generateRow(i, nRepos, seed)
        (i, r.repo, r.path, r.commit, r.lang, r.content)
      }
    }.toDF("doc_id", "repo", "path", "commit", "lang", "content")
      .withColumn("sha256", sha2(col("content"), 256))
  }

  /** Deterministic derivation from the driver's documents.parquet
    * (FIXTURES.md §1): source→repo, doc_id→path/docId, text→content.
    * `doc_id` is already a dense unique id, so it IS the docId — this keeps
    * the DuckDB oracle joins trivial and avoids a global-sort id assignment.
    * Output columns: doc_id, repo, path, commit, lang, content, sha256.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id"),
        col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        substring(sha2(col("source"), 256), 1, 40).as("commit"),
        col("lang"),
        col("text").as("content"),
        sha2(col("text"), 256).as("sha256"),
        // static corpus: every doc was 'fetched' successfully — a live
        // fetch layer overwrites this with the real response status
        lit(200).cast("int").as("code"))
  }

  /** docId assignment for corpora without an id column — scale-safe variant
    * of `row_number() over (order by repo, path, commit)`: per-repo local
    * row_number (parallel) + driver-computed per-repo base offsets, avoiding
    * the single-partition global sort (SURVEY.md §4.3 / §7.4-3).
    * Produces the same ids as the global order-by because repo is the
    * leading sort key.
    */
  def assignDocIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy("repo").count().orderBy("repo").collect()
    var acc = 0L
    val offsets = counts.map { r => val o = (r.getString(0), acc); acc += r.getLong(1); o }.toMap
    val offsetUdf = udf((repo: String) => offsets(repo))
    val w = Window.partitionBy(col("repo")).orderBy(col("path"), col("commit"))
    df.withColumn("doc_id", row_number().over(w).cast("long") + offsetUdf(col("repo")) - 1L)
  }

  /** HTTP-status gate (reference IndexingServiceImpl.java:135-137: pages
    * with code > 299 are never indexed). `fromDocuments` synthesizes
    * `code` = 200 (static corpus); live fetch layers populate it from the
    * response. NULL status = fetch never completed ⇒ rejected, not
    * silently kept. */
  def httpOk(df: DataFrame): DataFrame = df.filter(okStatus)

  /** the gate's predicate: true iff the row's `code` passes httpOk */
  def okStatus: Column = coalesce(col("code"), lit(Int.MaxValue)) <= 299

  /** Per-row content integrity invariant vs the source (input_hint):
    * recompute sha2(content,256) and compare with the carried column.
    * Returns the number of violating rows (0 == pass). */
  def sha256Violations(df: DataFrame): Long =
    df.filter(sha2(col("content"), 256) =!= col("sha256")).count()
}
