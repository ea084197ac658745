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
