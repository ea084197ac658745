package graft.facadebench

import graft.api.SearchEngine
import graft.corpus.Corpus
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.control.NonFatal

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        docs: Int, repos: Int, workDir: java.nio.file.Path)

/** State one benchmark run shares with its workload: op counters, the
  * correctness findings, the tracer and fresh directories under the work
  * dir. */
final class Run(val spark: SparkSession, val cfg: Config) {
  val tracer = new Tracer(spark.sparkContext, cfg.trace)
  var attempted = 0L
  var failed = 0L
  val wrong = mutable.ArrayBuffer.empty[String]
  private var dirs = 0

  def freshDir(tag: String): String = { dirs += 1; cfg.workDir.resolve(s"$tag-$dirs").toString }

  /** Time one facade operation. A thrown op counts as failed and as
    * +infinity in every latency percentile. */
  def op[T](name: String)(body: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try { val v = body; (Some(v), (System.nanoTime() - t0) / 1e6) }
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[facadebench] $name failed: $e")
        (None, Double.PositiveInfinity)
    }
  }

  def check(op: String, problem: Option[String]): Unit = problem.foreach { p =>
    wrong += s"$op: $p"
    System.err.println(s"[facadebench] WRONG $op: $p")
  }

  /** the driver-side copy of the generated corpus (Oracle input) */
  lazy val docs: IndexedSeq[Inputs.Doc] =
    (0L until cfg.docs.toLong).map(Inputs.corpusDoc(_, cfg.repos, cfg.seed))

  /** generate, cache and materialize the corpus; returns it with its
    * content bytes */
  def corpus(): (DataFrame, Long) = {
    val df = Corpus.generateDistributed(spark, cfg.docs.toLong, cfg.repos, cfg.seed).cache()
    (df, df.agg(sum(length(col("content")))).head().getLong(0))
  }

  def docFrame(d: Inputs.Doc): DataFrame =
    spark.createDataFrame(Seq((d.id, d.repo, d.path, d.commit, d.lang, d.content)))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
      .withColumn("sha256", sha2(col("content"), 256))
}

object Files {
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}

/** One workload: a set-up and a closed-loop round, one client thread. */
trait Workload {
  /** Build the state the rounds run against, warm-up included; returns its
    * seconds. Traced, the index build runs decomposed inside spans, and the
    * facade build the rounds need runs outside the timer. */
  def setup(traced: Boolean): Double
  /** one round; returns the ms of its timed facade calls */
  def round(traced: Boolean): Double
  /** untimed correctness checks of everything since the last set-up */
  def verify(): Unit
  /** bytes of index state on disk / content bytes indexed */
  def diskRatio: Double
  /** per-call figures of the untraced rounds, for the context line */
  def detail: Map[String, Any]
  def minRounds: Int = 1
  def lsmDepth: Long = 0L
}

object Timer {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  def apply(name: String, run: Run): Workload = name match {
    case "serve"        => new ServeWorkload(run)
    case "ingest_mixed" => new IngestWorkload(run)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def pct(xs: Seq[Double], tag: String): Map[String, Any] =
    if (xs.isEmpty) Map(s"${tag}_n" -> 0)
    else {
      val q = Stats.highestSupported(xs.size)
      val hi = if (q > 0.5) Map(s"${tag}_p${math.round(q * 100)}_ms" -> Stats.quantile(xs, q)) else Map.empty
      Map(s"${tag}_n" -> xs.size, s"${tag}_p50_ms" -> Stats.median(xs)) ++ hi
    }
}

/** one timed search of the serve workload */
final case class Sample(q: Inputs.Query, answer: Option[Gate.Answer], ms: Double)

/** Distinct seeded searches on a warm persisted index: unscoped ones on
  * the WAND tier, site-scoped ones on the DataFrame tier. Set-up: the
  * corpus, `startIndexingPersisted` and one warm-up round of the log. */
final class ServeWorkload(run: Run) extends Workload {
  import run._
  private val log = new Inputs.QueryLog(cfg.seed, cfg.docs, cfg.repos)
  private var engine: SearchEngine = _
  private var table: String = _
  private var contentBytes = 1L
  private val pending = mutable.ArrayBuffer.empty[Sample]
  private val untraced = mutable.ArrayBuffer.empty[Sample]
  private var checked, zeroMatch = 0
  private val buildMs = mutable.ArrayBuffer.empty[Double]

  def setup(traced: Boolean): Double = {
    var untimed = 0.0
    val total = Timer.seconds {
      val (corpus, bytes) = run.corpus()
      contentBytes = bytes
      table = freshDir("table")
      engine = new SearchEngine(spark, corpus, Some(freshDir("state")))
      if (traced) {
        val shadow = freshDir("table")
        Decomposed.buildPersisted(tracer, corpus, shadow, s"${freshDir("state")}/run-1")
        untimed = Timer.seconds {
          engine.startIndexingPersisted(table)
          check("decomposed startIndexingPersisted",
            if (Gate.lineage(shadow) == Gate.lineage(table)) None
            else Some("committed other buckets than the facade"))
        }
      } else buildMs += Timer.seconds(engine.startIndexingPersisted(table)) * 1000
      require(engine.servesFromPersisted, "persisted build did not arm the WAND tier")
      // one untimed round of the log warms every query shape on both tiers
      log.round().foreach(q => engine.search(q.text, q.site))
    }
    total - untimed
  }

  private def kindOf(q: Inputs.Query): String =
    if (q.cls == "missing") "missing" else if (q.site.isDefined) "site" else "global"

  def round(traced: Boolean): Double = log.round().map { q =>
    val name = s"search(${q.text}, ${q.site})"
    val (a, ms) = op(name) {
      if (traced) Decomposed.search(tracer, spark, engine, Some(table), q, kindOf(q))
      else Gate.answerOf(engine.search(q.text, q.site))
    }
    if (traced) a.foreach(d =>
      check(s"decomposed $name", Gate.diff(Gate.answerOf(engine.search(q.text, q.site)), d)))
    val s = Sample(q, a, ms)
    pending += s
    if (!traced) untraced += s
    ms
  }.sum

  private lazy val truth = new Gate.Truth(docs)

  def verify(): Unit = {
    check("startIndexingPersisted", Gate.checkPersisted(spark, table, truth, Gate.sampleTerms(cfg.seed)))
    for (s <- pending; a <- s.answer) {
      val exp = Gate.expected(truth, s.q.text, s.q.site)
      checked += 1
      if (exp.result && exp.count == 0) zeroMatch += 1
      check(s"search(${s.q.text}, ${s.q.site})", Gate.diff(exp, a))
    }
    pending.clear()
  }

  def diskRatio: Double = Files.bytesUnder(table).toDouble / contentBytes

  def detail: Map[String, Any] = {
    val n = untraced.size.max(1).toDouble
    val ms = (f: Sample => Boolean) => untraced.filter(f).map(_.ms).toSeq
    Inputs.classes.map(c => s"share_$c" -> untraced.count(_.q.cls == c) / n).toMap ++ Map(
      "share_site_scoped" -> untraced.count(_.q.site.isDefined) / n,
      "query_samples_ms" -> untraced.map(s => f"${s.q.cls}${if (s.q.site.isDefined) "@site" else ""} ${s.ms}%.0f"),
      "share_zero_match" -> zeroMatch / math.max(1, checked).toDouble,
      "index_bytes_per_doc_byte" -> diskRatio,
      "build_persisted_docs_per_s" -> cfg.docs / (Stats.median(buildMs.toSeq) / 1000)) ++
      Workload.pct(ms(_.q.site.isEmpty), "search_global") ++
      Workload.pct(ms(_.q.site.isDefined), "search_site")
  }
}

/** Writes beside reads on the live LSM tier. Each round: one `indexPage`
  * (a seeded replacement, or every 4th round a new doc, carrying a unique
  * marker), one fresh search for that marker, one search from the serve
  * log. Set-up: the corpus, `startIndexing` and two warm-up searches. */
final class IngestWorkload(run: Run) extends Workload {
  import run._
  private val log = new Inputs.QueryLog(cfg.seed, cfg.docs, cfg.repos)
  private val queue = mutable.Queue.empty[Inputs.Query]
  private var engine: SearchEngine = _
  private var stateDir: String = _
  private var cycle = 0
  private var sinceSetup = 0
  /** docs upserted into the current engine, by id */
  private val upserted = mutable.LinkedHashMap.empty[Long, Inputs.Doc]
  private val replayed = mutable.ArrayBuffer.empty[Inputs.Query]
  private var liveBytes = 0L
  private var disk = Double.NaN
  private val upsertMs, freshMs, liveMs, buildMs = mutable.ArrayBuffer.empty[Double]
  /** disk bytes are measured at the end of this round of each phase */
  val snapshotRound = 2

  override def minRounds: Int = snapshotRound

  def setup(traced: Boolean): Double = {
    var untimed = 0.0
    val total = Timer.seconds {
      val (corpus, bytes) = run.corpus()
      liveBytes = bytes
      stateDir = freshDir("state")
      engine = new SearchEngine(spark, corpus, Some(stateDir))
      if (traced) {
        val shadow = new IncrementalIndex.ParquetStateStore(s"${freshDir("state")}/run-1")
        Decomposed.buildLive(tracer, corpus, shadow.dir)
        untimed = Timer.seconds {
          engine.startIndexing()
          check("decomposed startIndexing", Gate.sameTermStats(spark, shadow, engine.store))
        }
      } else buildMs += Timer.seconds(engine.startIndexing()) * 1000
      upserted.clear()
      replayed.clear()
      sinceSetup = 0
      Inputs.warmQueries(cfg.repos).foreach(q => engine.search(q.text, q.site))
    }
    total - untimed
  }

  private def record(d: Inputs.Doc): Unit = {
    val old = upserted.get(d.id).orElse(if (d.id < cfg.docs) Some(docs(d.id.toInt)) else None)
    liveBytes += d.content.length - old.map(_.content.length).getOrElse(0)
    upserted(d.id) = d
  }

  def round(traced: Boolean): Double = {
    val u = Inputs.upsert(cfg.seed, cycle, cfg.docs, cfg.repos)
    val marker = Inputs.marker(cfg.seed, cycle)
    cycle += 1
    val frame = docFrame(u)
    val (_, upMs) = op("indexPage") {
      if (traced) tracer.span("api.indexPage")(_ => engine.indexPage(frame)) else engine.indexPage(frame)
    }
    record(u)
    val mq = Inputs.Query("marker", marker, None)
    val (fresh, fMs) = op(s"search($marker)") {
      if (traced) {
        tracer.span("api.tables")(_ => engine.tables)
        Decomposed.search(tracer, spark, engine, None, mq, "fresh")
      } else Gate.answerOf(engine.search(marker))
    }
    fresh.foreach(a => check(s"search($marker)",
      if (a.count == 1 && a.items.map(_._1) == Seq(u.path)) None
      else Some(s"marker search returned ${a.count} docs ${a.items.map(_._1)}, expected only ${u.path}")))
    if (queue.isEmpty) queue ++= log.round()
    val q = queue.dequeue()
    val (live, lMs) = op(s"search(${q.text}, ${q.site})") {
      if (traced) Decomposed.search(tracer, spark, engine, None, q, "live")
      else Gate.answerOf(engine.search(q.text, q.site))
    }
    if (traced) {
      fresh.foreach(d => check(s"decomposed search($marker)", Gate.diff(Gate.answerOf(engine.search(marker)), d)))
      live.foreach(d => check(s"decomposed search(${q.text}, ${q.site})",
        Gate.diff(Gate.answerOf(engine.search(q.text, q.site)), d)))
    }
    replayed += q
    sinceSetup += 1
    if (sinceSetup == snapshotRound) disk = Files.bytesUnder(stateDir).toDouble / liveBytes
    if (!traced) { upsertMs += upMs; freshMs += fMs; liveMs += lMs }
    upMs + fMs + lMs
  }

  /** replays every log query of the phase against an Oracle over the
    * final corpus */
  def verify(): Unit = {
    val finalDocs = docs.filterNot(d => upserted.contains(d.id)) ++ upserted.values
    val truth = new Gate.Truth(finalDocs)
    for (q <- replayed)
      check(s"replayed search(${q.text}, ${q.site})",
        Gate.diff(Gate.expected(truth, q.text, q.site), Gate.answerOf(engine.search(q.text, q.site))))
  }

  def diskRatio: Double = disk

  override def lsmDepth: Long = engine.store.batches("postings").size.toLong

  def detail: Map[String, Any] = Map("lsm_bytes_per_doc_byte" -> disk,
    "build_live_docs_per_s" -> cfg.docs / (Stats.median(buildMs.toSeq) / 1000)) ++
    Workload.pct(upsertMs.toSeq, "upsert") ++ Workload.pct(freshMs.toSeq, "fresh_search") ++
    Workload.pct(liveMs.toSeq, "live_search")
}
