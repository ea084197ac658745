package graft.facadebench

/** Every metric the benchmark reports, by name and unit. BENCHMARK.json at
  * the repository root lists the same names; MetricsSpec checks that the two
  * agree. Every workload reports every metric of its mode (untraced:
  * `endToEnd`, traced: `perLayer`); a layer a workload never calls reads 0.
  */
object Metrics {

  final case class Def(name: String, unit: String)

  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("round_p50_ms", "ms"),
    Def("disk_bytes_per_content_byte", "ratio"))

  /** (span name, measures); span names are `<package>.<Object>.<call>`
    * under `graft.`, or `api.<facade call>` for the facade spans */
  val layers: Seq[(String, Seq[String])] = Seq(
    "index.InvertedIndex.build" ->
      Seq("ms", "jobs", "task_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes", "task_skew"),
    "index.IndexWriter.write" ->
      Seq("ms", "jobs", "task_cpu_ms", "shuffle_write_bytes", "spill_bytes", "output_bytes", "task_skew"),
    "io.TableIO.writeMeta" -> Seq("ms"),
    "streaming.IncrementalIndex.seedBase" -> Seq("ms", "jobs", "output_bytes"),
    "api.startIndexingPersisted" -> Seq("ms", "self_ms", "jobs"),
    "streaming.IncrementalIndex.mergeBatch" ->
      Seq("ms", "jobs", "task_cpu_ms", "shuffle_write_bytes", "output_bytes"),
    "api.startIndexing" -> Seq("ms", "self_ms", "jobs"),
    "analyze.Analyzer.queryTerms" -> Seq("ms"),
    "query.QueryFrontend.plan" -> Seq("ms", "jobs"),
    "query.Search.conjunctive" -> Seq("ms", "jobs", "tasks"),
    "query.Search.decorate" -> Seq("ms", "jobs"),
    "io.TableIO.readMeta" -> Seq("ms"),
    "query.Wand.topK" ->
      Seq("ms", "jobs", "tasks", "input_bytes", "shuffle_read_bytes", "rows_read_per_result"),
    "query.Search.bm25TopK" -> Seq("ms", "jobs", "tasks", "shuffle_read_bytes"),
    "api.search" -> Seq("ms", "self_ms", "jobs_global", "jobs_site", "jobs_missing", "jobs_live"),
    "api.indexPage" -> Seq("ms", "jobs", "output_bytes", "jobs_growth"),
    "api.tables" -> Seq("ms", "jobs"))

  val lsmDepth = "streaming.lsm_depth"
  val overheadPrefix = "trace_overhead."

  def unitOf(measure: String): String = measure match {
    case m if m.endsWith("ms")                         => "ms"
    case m if m.endsWith("bytes")                      => "bytes"
    case "task_skew" | "rows_read_per_result"          => "ratio"
    case _                                             => "count"
  }

  val perLayer: Seq[Def] =
    layers.flatMap { case (l, ms) => ms.map(m => Def(s"$l.$m", unitOf(m))) } ++
      Seq(Def(lsmDepth, "count")) ++
      endToEnd.map(d => Def(overheadPrefix + d.name, d.unit))
}
