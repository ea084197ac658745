package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite JVMs are forked
  * once by sbt; a second builder call returns the same session). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** drain the listener bus (package-private in Scala, public in bytecode) */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
  }

  /** `body`'s result and the number of Spark jobs it started */
  def jobsOf[T](body: => T): (T, Int) = {
    val (v, names) = jobNamesOf(body)
    (v, names.size)
  }

  /** `body`'s result and the number of classes Spark's code generator
    * compiled while it ran (cache hits compile none) */
  def compilesOf[T](body: => T): (T, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    val v = body
    (v, h.getCount - before)
  }

  /** empty Spark's codegen cache (private to Spark; reached by
    * reflection), so the next body compiles every class it runs */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val c = cache.invoke(gen)
    c.getClass.getMethod("invalidateAll").invoke(c): Unit
  }

  /** `body`'s result and the source of every class Spark's code generator
    * compiled while it ran, with its codegen stage id blanked: adaptive
    * execution numbers a plan's stages in the order they complete, so one
    * body can compile again under another stage id, and no per-query value
    * differs between the two. Captured from the generator's DEBUG log. */
  def compiledSourcesOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("compiled-sources", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("/* 001 */")) sources.add(m.replaceAll("CodegenStage\\d+|codegenStageId=\\d+", "<stage>")): Unit
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(name, Level.DEBUG, false) // not additive: nothing reaches the console
    logger.addAppender(appender, Level.DEBUG, null)
    appender.start()
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try {
      val v = body
      import scala.jdk.CollectionConverters._
      (v, sources.asScala.toSeq)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** `body`'s result and the call site ("<action> at <File>.scala:<line>")
    * of every Spark job it started, in start order */
  def jobNamesOf[T](body: => T): (T, Seq[String]) = {
    val (v, jobs) = jobStagesOf(body)
    (v, jobs.map(_._1))
  }

  /** `body`'s result and, for every Spark job it started (in start order),
    * its call site and its number of stages, skipped ones included */
  def jobStagesOf[T](body: => T): (T, Seq[(String, Int)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.maxBy(_.stageId).name, e.stageInfos.size)): Unit
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try {
      val v = body
      drainListenerBus()
      import scala.jdk.CollectionConverters._
      (v, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
