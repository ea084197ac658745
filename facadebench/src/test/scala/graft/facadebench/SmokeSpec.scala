package graft.facadebench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload once at gen:2000, traced (which runs an untraced phase
  * first): the answers pass the gate and every named metric is reported. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = java.nio.file.Files.createTempDirectory("facadebench-smoke")
  private lazy val spark = Main.session(
    Config("smoke", 1L, 1.0, trace = true, 2000, Main.repos, work))

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(work.toString)
  }

  for (w <- Seq("serve", "ingest_mixed")) test(s"$w reports every metric") {
    val cfg = Config(w, 11L, 1.0, trace = true, 2000, Main.repos, work.resolve(w))
    java.nio.file.Files.createDirectories(cfg.workDir)
    val (correct, result, context) = Main.execute(spark, cfg)
    assert(correct, context)
    for (d <- Metrics.perLayer) assert(result.contains(s"\"${d.name}\": {"), d.name)
    val untraced = context.substring(context.indexOf("\"untraced\""))
    for (d <- Metrics.endToEnd) assert(untraced.contains(s"\"${d.name}\": "), d.name)
    assert(result.contains("\"failed\": 0"), result)
  }
}
