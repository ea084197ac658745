package graft.facadebench

import org.apache.spark.sql.SparkSession

/** Runs one workload against the `graft.api.SearchEngine` facade and prints
  * a context line, then the result line (last line of stdout):
  *   {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
  * Untraced runs report the end-to-end metrics, traced runs the per-layer
  * metrics plus the tracing overhead. Exits 1 on any wrong answer.
  *
  * Usage: Main --workload serve|ingest_mixed --seed N --seconds S
  *             --trace 0|1 --work DIR
  */
object Main {

  /** seed reserved for confirming a claimed gain; not used while tuning */
  val heldOutSeed = 7919L
  /** corpus: gen:4000 over 20 repos, small enough that the runs of a
    * regression check (4 + 22 per workload, 3,420 s) fit */
  val docs = 4000
  val repos = 20

  def parse(argv: Array[String]): Config = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"--$k is required"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      docs, repos, java.nio.file.Paths.get(get("work")))
  }

  def session(cfg: Config): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"facadebench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.workDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** execute the workload; returns (correct, result line, context line) */
  def execute(spark: SparkSession, cfg: Config): (Boolean, String, String) = {
    val run = new Run(spark, cfg)
    val w = Workload(cfg.workload, run)
    /** closed-loop rounds until `budgetS` has passed; round i is traced
      * when `traced(i)` holds. An alternating loop ends on a traced round. */
    def loop(budgetS: Double, traced: Int => Boolean): Seq[(Boolean, Double)] = {
      val deadline = System.nanoTime() + (budgetS * 1e9).toLong
      val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
      while (out.size < w.minRounds || System.nanoTime() < deadline || (out.nonEmpty && !out.last._1 && traced(out.size))) {
        val t = traced(out.size)
        out += ((t, w.round(t)))
      }
      out.toSeq
    }

    val setupS = w.setup(traced = false)
    val phaseS = if (cfg.trace) cfg.seconds / 2 else cfg.seconds
    val rounds = loop(phaseS, _ => false).map(_._2)
    val verifyS = Timer.seconds(w.verify())
    val e2e = Map(
      "setup_s" -> setupS,
      "round_p50_ms" -> Stats.median(rounds),
      "disk_bytes_per_content_byte" -> w.diskRatio)
    val detail = w.detail

    val (metrics, traceContext) =
      if (!cfg.trace) (e2e, Map.empty[String, Any])
      else {
        // The tracing overhead compares traced and untraced work at the same
        // JVM warmth: a warm untraced set-up against the traced set-up, and
        // untraced against traced rounds alternating on one engine.
        spark.catalog.clearCache()
        val warmSetup = w.setup(traced = false)
        spark.catalog.clearCache()
        val tracedSetup = w.setup(traced = true)
        val mixed = loop(phaseS, _ % 2 == 1)
        w.verify()
        val (spans, agg) = run.tracer.finish()
        val spansFile = cfg.workDir.getParent.resolve("spans")
          .resolve(s"${cfg.workload}-seed${cfg.seed}.jsonl")
        run.tracer.write(spansFile, spans)
        def roundsOf(traced: Boolean) = Stats.median(mixed.filter(_._1 == traced).map(_._2))
        val overhead = Map(
          "setup_s" -> (tracedSetup - warmSetup),
          "round_p50_ms" -> (roundsOf(true) - roundsOf(false)),
          "disk_bytes_per_content_byte" -> (w.diskRatio - e2e("disk_bytes_per_content_byte")))
        (LayerMetrics(spans, agg, w.lsmDepth) ++ overhead.map { case (k, v) => Metrics.overheadPrefix + k -> v },
          Map("spans_file" -> spansFile.toString, "spans" -> spans.size, "untraced" -> e2e,
            "overhead_base" -> Map("warm_setup_s" -> warmSetup, "traced_setup_s" -> tracedSetup,
              "mixed_rounds" -> mixed.map { case (t, ms) => if (t) s"traced $ms" else s"untraced $ms" }),
            "ratio_bases" -> LayerMetrics.bases(spans, agg)))
      }

    val units = (if (cfg.trace) Metrics.perLayer else Metrics.endToEnd).map(d => d.name -> d.unit).toMap
    val correct = run.wrong.isEmpty
    val result = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> units.map { case (n, u) => n -> Map("value" -> metrics(n), "unit" -> u) }))
    val context = Json.obj(Seq("context" -> (Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "held_out_seed" -> heldOutSeed,
      "docs" -> cfg.docs, "repos" -> cfg.repos, "seconds" -> cfg.seconds, "trace" -> cfg.trace,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "client" -> "closed loop, one thread",
      "rounds" -> rounds.size, "round_samples_ms" -> rounds,
      "verify_s" -> verifyS,
      "failed_share" -> run.failed.toDouble / math.max(1L, run.attempted),
      "wrong" -> run.wrong.toSeq, "detail" -> detail) ++ traceContext)))
    (correct, result, context)
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    java.nio.file.Files.createDirectories(cfg.workDir)
    val pre = HostProbe("pre")
    val spark = session(cfg)
    val (correct, result, context) =
      try execute(spark, cfg)
      finally spark.stop()
    val post = HostProbe("post")
    println(Json.obj(Seq("host_probe" -> (pre ++ post))))
    println(context)
    println(result)
    if (!correct) {
      System.err.println("[facadebench] wrong answers; see the context line")
      sys.exit(1)
    }
  }
}
