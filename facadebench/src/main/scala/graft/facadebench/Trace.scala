package graft.facadebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spans recorded by the benchmark around its own calls into each layer.
  * A span has a name, start, end, parent and request id (one request per
  * facade call); spans stay in memory until the run ends. While a span is
  * open its id is the `SpanKey` local property of the calling thread, so
  * every Spark job submitted inside it carries the id and `Collector`
  * attributes the job's task metrics to it.
  */
final case class Span(id: Int, parent: Int, request: Int, name: String, kind: String,
                      startNs: Long, var endNs: Long = 0L, var rows: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** task metrics summed over the tasks of one span's jobs */
final class TaskAgg {
  var jobs = 0L
  var tasks = 0L
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Double]

  def add(o: TaskAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; durationsMs ++= o.durationsMs
  }

  /** max task duration / median task duration */
  def skew: Double =
    if (durationsMs.isEmpty) 0.0
    else { val m = Stats.median(durationsMs.toSeq); if (m <= 0) 0.0 else durationsMs.max / m }
}

/** Attributes Spark jobs, stages and tasks to the span open when the job
  * was submitted. Registered only in the traced run. */
final class Collector extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val bySpan = mutable.HashMap.empty[Int, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    span.map(_.toInt).foreach { s =>
      bySpan.getOrElseUpdate(s, new TaskAgg).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(s, new TaskAgg)
      a.tasks += 1
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime.toDouble
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.durationsMs += e.taskInfo.duration.toDouble
    }
  }
}

final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var requests = 0
  private val collector = if (enabled) Some(new Collector) else None
  collector.foreach(sc.addSparkListener)

  /** Run `body` inside a span; a span opened with no span open starts a
    * new request. With tracing off this is just `body`. */
  def span[T](name: String, kind: String = "")(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val parent = open.headOption
      val request = parent.map(_.request).getOrElse { requests += 1; requests }
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), request, name, kind, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body(s)
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** all spans plus each span's task metrics including its descendants'.
    * Waits until the listener bus has delivered every event first. */
  def finish(): (Seq[Span], Map[Int, TaskAgg]) = {
    collector.foreach { c =>
      // SparkContext.listenerBus is package-private in Scala but public in
      // bytecode; draining it makes the task metrics complete
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
      sc.removeSparkListener(c)
    }
    val direct = collector.map(c => c.synchronized(c.bySpan.toMap)).getOrElse(Map.empty)
    val children = spans.groupBy(_.parent)
    def inclusive(s: Span): TaskAgg = {
      val a = new TaskAgg
      direct.get(s.id).foreach(a.add)
      children.getOrElse(s.id, Nil).foreach(c => a.add(inclusive(c)))
      a
    }
    (spans.toSeq, spans.map(s => s.id -> inclusive(s)).toMap)
  }

  /** spans as JSON lines, written when the run ends */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "request" -> s.request, "name" -> s.name,
        "kind" -> s.kind, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "rows" -> s.rows))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "graft.facadebench.span"
}

/** Per-layer metrics from the spans of a traced run. A layer's value is
  * the median over requests of the per-request sum over its spans. */
object LayerMetrics {

  /** spans of `name` (of one of `kinds`, if given) grouped by request,
    * each group with its summed task metrics, in request order */
  private def perRequest(spans: Seq[Span], agg: Map[Int, TaskAgg], name: String,
                         kinds: Set[String] = Set.empty): Seq[(Seq[Span], TaskAgg)] =
    spans.filter(s => s.name == name && (kinds.isEmpty || kinds(s.kind)))
      .groupBy(_.request).toSeq.sortBy(_._1).map { case (_, ss) =>
        val a = new TaskAgg
        ss.foreach(s => a.add(agg(s.id)))
        (ss, a)
      }

  private def medianOf(reqs: Seq[(Seq[Span], TaskAgg)])(f: ((Seq[Span], TaskAgg)) => Double): Double =
    if (reqs.isEmpty) 0.0 else Stats.median(reqs.map(f))

  def apply(spans: Seq[Span], agg: Map[Int, TaskAgg], lsmDepth: Long): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

    def measure(layer: String, m: String): Double = {
      val reqs = perRequest(spans, agg, layer)
      val med = medianOf(reqs) _
      def jobsOf(kind: String): Double = medianOf(perRequest(spans, agg, layer, Set(kind)))(_._2.jobs.toDouble)
      m match {
        case "ms"                  => med(_._1.map(_.ms).sum)
        case "self_ms"             => med(_._1.map(selfMs).sum)
        case "jobs"                => med(_._2.jobs.toDouble)
        case "tasks"               => med(_._2.tasks.toDouble)
        case "task_cpu_ms"         => med(_._2.cpuMs)
        case "gc_ms"               => med(_._2.gcMs)
        case "shuffle_read_bytes"  => med(_._2.shuffleReadBytes.toDouble)
        case "shuffle_write_bytes" => med(_._2.shuffleWriteBytes.toDouble)
        case "spill_bytes"         => med(_._2.spillBytes.toDouble)
        case "input_bytes"         => med(_._2.inputBytes.toDouble)
        case "output_bytes"        => med(_._2.outputBytes.toDouble)
        case "task_skew"           => med(_._2.skew)
        case "rows_read_per_result" =>
          med { case (ss, a) => a.inputRecords.toDouble / math.max(1L, ss.map(_.rows).sum) }
        case "jobs_global"         => jobsOf("global")
        case "jobs_site"           => jobsOf("site")
        case "jobs_missing"        => jobsOf("missing")
        case "jobs_live"           => jobsOf("live")
        case "jobs_growth" =>
          if (reqs.isEmpty) 0.0 else (reqs.last._2.jobs - reqs.head._2.jobs).toDouble
      }
    }

    Metrics.layers.flatMap { case (layer, ms) => ms.map(m => s"$layer.$m" -> measure(layer, m)) }
      .toMap + (Metrics.lsmDepth -> lsmDepth.toDouble)
  }

  /** the base beside each ratio: median task ms for task_skew, rows read
    * and returned for rows_read_per_result */
  def bases(spans: Seq[Span], agg: Map[Int, TaskAgg]): Map[String, Double] = {
    def of(layer: String) = medianOf(perRequest(spans, agg, layer)) _
    val medTask = (r: (Seq[Span], TaskAgg)) =>
      if (r._2.durationsMs.isEmpty) 0.0 else Stats.median(r._2.durationsMs.toSeq)
    Map(
      "index.InvertedIndex.build.task_skew.base_median_task_ms" -> of("index.InvertedIndex.build")(medTask),
      "index.IndexWriter.write.task_skew.base_median_task_ms" -> of("index.IndexWriter.write")(medTask),
      "query.Wand.topK.rows_read_per_result.base_rows_returned" ->
        of("query.Wand.topK")(_._1.map(_.rows).sum.toDouble),
      "query.Wand.topK.rows_read_per_result.base_rows_read" ->
        of("query.Wand.topK")(_._2.inputRecords.toDouble))
  }
}
