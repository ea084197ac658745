package graft

import graft.corpus.Corpus
import graft.index.{IndexWriter, InvertedIndex}
import graft.io.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Snapshot write + lineage + resume-from-checkpoint (FIXTURES.md §6,
  * SURVEY.md §5.2-6): a killed run (simulated by dropping manifest entries
  * and their data files) must resume to a byte-identical final index with
  * complete lineage. */
class IndexWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val cfg = IndexWriter.Config(docsPerShard = 64, nBuckets = 8, saltWidth = 2)

  def tmpDir(): String = Files.createTempDirectory("graft-idx").toString

  def buildShards() = {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus)
    IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg)
  }

  def indexFingerprint(dir: String): Map[(String, Int), Long] =
    spark.read.parquet(s"$dir/data")
      .select(col("term"), col("shard"), xxhash64(col("term"), col("shard"), col("bytes")).as("h"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("shardPostingsAligned ≡ shardPostings: identical ShardPosting rows, byte-exact blobs") {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus)
    def fp(ds: org.apache.spark.sql.Dataset[graft.index.ShardPosting]) =
      ds.collect().map(s => (s.term, s.shard) ->
        (s.bucket, s.numDocs, s.maxTfNorm, s.bytes.toSeq)).toMap
    val base = fp(IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg))
    val aligned = fp(IndexWriter.shardPostingsAligned(t.postings, t.docStats, t.avgDl, cfg))
    assert(aligned.keySet == base.keySet)
    // byte equality per (term, shard): the fused path must be a pure
    // layout optimization, never a semantic one
    aligned.foreach { case (k, v) => assert(v == base(k), s"mismatch at $k") }
  }

  test("preArranged write ≡ exchanged write: same on-disk fingerprint + lineage") {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus)
    val exDir = tmpDir()
    IndexWriter.write(buildShards(), exDir, 1L, cfg)
    val paDir = tmpDir()
    val m = IndexWriter.write(
      IndexWriter.shardPostingsAligned(t.postings, t.docStats, t.avgDl, cfg),
      paDir, 1L, cfg, preArranged = true)
    assert(indexFingerprint(paDir) == indexFingerprint(exDir))
    val want = TableIO.readCurrent(exDir).get
    assert(m.partitions.map(p => (p.partition, p.rows, p.hashAgg)).toSet ==
      want.partitions.map(p => (p.partition, p.rows, p.hashAgg)).toSet)
  }

  test("write commits a manifest with complete per-bucket lineage") {
    val dir = tmpDir()
    val shards = buildShards().cache()
    val m = IndexWriter.write(shards, dir, snapshotId = 1L, cfg)
    assert(m.snapshotId == 1L && m.parentId.isEmpty)
    val onDisk = spark.read.parquet(s"$dir/data")
    val rowsPerBucket = onDisk.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m.partitions.map(p => p.partition -> p.rows).toMap == rowsPerBucket)
    assert(m.partitions.forall(p => p.bytes > 0))
    // manifest roundtrips through its JSON form
    assert(TableIO.parse(TableIO.render(m)) == m)
  }

  test("resume after simulated kill: byte-identical index + complete lineage") {
    val shards = buildShards().cache()
    // full clean run -> reference fingerprint
    val fullDir = tmpDir()
    IndexWriter.write(shards, fullDir, 1L, cfg)
    val wantFp = indexFingerprint(fullDir)
    val wantManifest = TableIO.readCurrent(fullDir).get

    // killed run: write, then drop 3 buckets from manifest AND disk
    val dir = tmpDir()
    IndexWriter.write(shards, dir, 1L, cfg)
    val m = TableIO.readCurrent(dir).get
    val killed = m.partitions.map(_.partition).sorted.take(3).toSet
    TableIO.commit(dir, m.copy(partitions = m.partitions.filterNot(p => killed(p.partition))))
    killed.foreach { b =>
      val p = Path.of(dir, "data", s"bucket=$b")
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    assert(indexFingerprint(dir) != wantFp) // really damaged

    // resume: only the 3 missing buckets are rebuilt
    val m2 = IndexWriter.write(shards, dir, 2L, cfg)
    assert(indexFingerprint(dir) == wantFp)
    assert(m2.partitions.map(p => p.partition -> (p.rows, p.bytes, p.hashAgg)).toMap ==
      wantManifest.partitions.map(p => p.partition -> (p.rows, p.bytes, p.hashAgg)).toMap)
    assert(m2.parentId.contains(1L))
    // snapshots: both the killed and the resumed snapshot are addressable
    assert(TableIO.listSnapshots(dir) == Seq(1L, 2L))
  }

  test("second write with everything committed is a no-op on data") {
    val dir = tmpDir()
    val shards = buildShards().cache()
    IndexWriter.write(shards, dir, 1L, cfg)
    val before = indexFingerprint(dir)
    val filesBefore = Files.walk(Path.of(dir, "data")).iterator().asScala.count(Files.isRegularFile(_))
    IndexWriter.write(shards, dir, 2L, cfg)
    assert(indexFingerprint(dir) == before)
    val filesAfter = Files.walk(Path.of(dir, "data")).iterator().asScala.count(Files.isRegularFile(_))
    assert(filesAfter == filesBefore)
  }

  test("readForTerms prunes to the query terms' buckets and returns their shards") {
    val dir = tmpDir()
    val shards = buildShards().cache()
    IndexWriter.write(shards, dir, 1L, cfg)
    val got = IndexWriter.readForTerms(spark, dir, Seq("spark", "dup"), cfg)
    val terms = got.collect().map(_.term).toSet
    assert(terms == Set("spark", "dup"))
    // the executed scan prunes bucket partitions and pushes the term IN
    // filter into parquet
    val scan = got.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metadata("PartitionFilters").contains("bucket#"), scan.metadata)
    assert(scan.metadata("PushedFilters").contains("In(term"), scan.metadata)
    val buckets = Seq("spark", "dup").map(IndexWriter.bucketOf(_, cfg.nBuckets)).distinct
    assert(scan.metrics("numPartitions").value == buckets.size)
    // and decode sanity: numDocs matches decoded length
    got.collect().foreach { s =>
      assert(new graft.index.PostingCodec.Decoded(s.bytes).numDocs == s.numDocs)
    }
  }

  test("bucketOf (driver) == bucketCol (Column): the upsert pre-filter relies on it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val terms = (0 until 500).map(i => s"tok$i") ++
      Seq("spark", "join", "dup", "Ünïcode", "snake_case", "", "a")
    val got = terms.toDF("term")
      .select(col("term"), IndexWriter.bucketCol(col("term"), 16).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach(t => assert(got(t) == IndexWriter.bucketOf(t, 16), s"term '$t'"))
  }

  test("snapshot upsert: single-doc replacement rebuilds only affected buckets") {
    import spark.implicits._
    val dir = tmpDir()
    val corpus0 = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val t0 = InvertedIndex.build(corpus0, cacheTokens = false)
    IndexWriter.write(IndexWriter.shardPostings(t0.postings, t0.docStats, t0.avgDl, cfg),
      dir, 1L, cfg)
    graft.io.TableIO.writeMeta(dir, graft.io.TableIO.IndexMeta(t0.nDocs, t0.avgDl))
    val before = indexFingerprint(dir)
    val manifestBefore = graft.io.TableIO.readCurrent(dir).get

    // replace doc 0's content; affected terms = old union new
    val oldTerms = graft.analyze.Analyzer.queryTerms("en",
      corpus0.filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
        .select("content").head().getString(0))
    val newContent = "dup dup hash window"
    val newTerms = graft.analyze.Analyzer.queryTerms("en", newContent)
    val corpus1 = corpus0.withColumn("content",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("doc_id") === 0L,
        org.apache.spark.sql.functions.lit(newContent))
        .otherwise(org.apache.spark.sql.functions.col("content")))
    val meta = graft.io.TableIO.readMeta(dir).get
    val t1 = InvertedIndex.build(corpus1, cacheTokens = false, knownNDocs = meta.nDocs)
    IndexWriter.upsertBuckets(t1.postings, t1.docStats, meta.avgDl,
      dir, oldTerms ++ newTerms, 2L, cfg)

    // result == full rebuild of corpus1 at the frozen avgDl
    val fullDir = tmpDir()
    IndexWriter.write(IndexWriter.shardPostings(t1.postings, t1.docStats, meta.avgDl, cfg),
      fullDir, 1L, cfg)
    assert(indexFingerprint(dir) == indexFingerprint(fullDir))
    // unaffected buckets kept their exact lineage rows
    val affectedBuckets = (oldTerms ++ newTerms).map(IndexWriter.bucketOf(_, cfg.nBuckets))
    val manifestAfter = graft.io.TableIO.readCurrent(dir).get
    manifestBefore.partitions.filterNot(p => affectedBuckets(p.partition)).foreach { p =>
      assert(manifestAfter.partitions.find(_.partition == p.partition).contains(p))
    }
    assert(manifestAfter.snapshotId == 2L)
  }

  test("resume after crash that left orphan files: no duplicate rows") {
    val shards = buildShards().cache()
    val fullDir = tmpDir()
    IndexWriter.write(shards, fullDir, 1L, cfg)
    val wantFp = indexFingerprint(fullDir)

    // crash simulation: data files fully written but manifest missing 3
    // buckets (the commit never happened) — files stay ON DISK as orphans
    val dir = tmpDir()
    IndexWriter.write(shards, dir, 1L, cfg)
    val m = TableIO.readCurrent(dir).get
    val killed = m.partitions.map(_.partition).sorted.take(3).toSet
    TableIO.commit(dir, m.copy(partitions = m.partitions.filterNot(p => killed(p.partition))))

    // resume must clear the orphan dirs before re-appending
    IndexWriter.write(shards, dir, 2L, cfg)
    assert(indexFingerprint(dir) == wantFp)
    val rows = spark.read.parquet(s"$dir/data").count()
    val wantRows = spark.read.parquet(s"$fullDir/data").count()
    assert(rows == wantRows, s"duplicate rows after orphan resume: $rows vs $wantRows")
  }

  test("compact: refreshes stats after drifting upserts, single clean snapshot") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val corpus0 = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val t0 = InvertedIndex.build(corpus0, cacheTokens = false)
    IndexWriter.write(IndexWriter.shardPostings(t0.postings, t0.docStats, t0.avgDl, cfg), dir, 1L, cfg)
    graft.io.TableIO.writeMeta(dir, graft.io.TableIO.IndexMeta(t0.nDocs, t0.avgDl))
    // upsert with frozen stats (drift), then compact with a much longer doc
    val newContent = (1 to 200).map(_ => "dup").mkString(" ")
    val corpus1 = corpus0.withColumn("content",
      when(col("doc_id") === 0L, lit(newContent)).otherwise(col("content")))
    val meta0 = graft.io.TableIO.readMeta(dir).get
    val t1 = InvertedIndex.build(corpus1, cacheTokens = false, knownNDocs = meta0.nDocs)
    val affected = graft.analyze.Analyzer.queryTerms("en",
      corpus0.filter(col("doc_id") === 0L).select("content").head.getString(0)) ++ Set("dup")
    IndexWriter.upsertBuckets(t1.postings, t1.docStats, meta0.avgDl,
      dir, affected, 2L, cfg)
    assert(graft.io.TableIO.readMeta(dir).get.avgDl == meta0.avgDl) // frozen
    // compact refreshes
    IndexWriter.compact(corpus1, dir, 3L, cfg)
    val metaC = graft.io.TableIO.readMeta(dir).get
    assert(metaC.avgDl > meta0.avgDl) // doc 0 got much longer
    // index equals a from-scratch build at the fresh stats
    val fullDir = tmpDir()
    val tf = InvertedIndex.build(corpus1, cacheTokens = false)
    IndexWriter.write(IndexWriter.shardPostings(tf.postings, tf.docStats, tf.avgDl, cfg), fullDir, 1L, cfg)
    assert(indexFingerprint(dir) == indexFingerprint(fullDir))
    assert(graft.io.TableIO.readCurrent(dir).get.snapshotId == 3L)
  }

  test("mergeIndexes: two half-corpus indexes merge blob-wise ≡ from-scratch full index") {
    import graft.query.{Bm25, QueryFrontend, Wand}
    val mcfg = IndexWriter.Config(docsPerShard = 128, nBuckets = 16)
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val t = InvertedIndex.build(corpus)
    // distributed-build contract: GLOBAL stats first, partitions encode
    // against them. Split at half the corpus — NOT shard-aligned (250 %
    // 128 != 0), so shard 1 exists on both sides and exercises the concat
    // path while shards 0/2/3 pass through.
    val half = t.nDocs / 2
    val (dirA, dirB, dirM, dirF) = (tmpDir(), tmpDir(), tmpDir(), tmpDir())
    def buildSide(dir: String, pred: org.apache.spark.sql.Column, n: Long): Unit = {
      val p = t.postings.filter(pred)
      val d = t.docStats.filter(pred)
      IndexWriter.write(IndexWriter.shardPostings(p, d, t.avgDl, mcfg), dir, 1L, mcfg)
      TableIO.writeMeta(dir, TableIO.IndexMeta(n, t.avgDl))
    }
    buildSide(dirA, col("doc_id") < half, half)
    buildSide(dirB, col("doc_id") >= half, t.nDocs - half)
    IndexWriter.mergeIndexes(spark, dirA, dirB, dirM, snapshotId = 2L, mcfg)
    IndexWriter.write(
      IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, mcfg), dirF, 1L, mcfg)
    TableIO.writeMeta(dirF, TableIO.IndexMeta(t.nDocs, t.avgDl))
    // merged meta carries the summed corpus size and the shared avgDl
    assert(TableIO.readMeta(dirM).get == TableIO.IndexMeta(t.nDocs, t.avgDl))
    // decoded postings identical per (term, shard) — block layout may
    // differ (concat keeps each side's blocks), decoded content must not
    def decoded(dir: String): Map[(String, Int), Seq[(Long, Int, Int)]] =
      spark.read.parquet(s"$dir/data")
        .select("term", "shard", "bytes").collect()
        .map { r =>
          val posts = new graft.index.PostingCodec.Decoded(r.getAs[Array[Byte]](2)).decodeAll()
          (r.getString(0), r.getInt(1)) -> posts.map(p => (p.docId, p.tf, p.dl)).toSeq
        }.toMap
    val (dm, df2) = (decoded(dirM), decoded(dirF))
    assert(dm.keySet == df2.keySet)
    dm.foreach { case (k, v) => assert(v == df2(k), s"postings diverge at $k") }
    // query equality: WAND top-10 rank+score identical through both indexes
    val q = Seq("join", "spark")
    val dfs = QueryFrontend.lookupDf(t.termStats, q.toSet)
    def wandTop(dir: String) = {
      val meta = TableIO.readMeta(dir).get
      val idfs = dfs.map { case (k2, v) => k2 -> Bm25.idfS(v, meta.nDocs) }
      Wand.topK(IndexWriter.readForTerms(spark, dir, q, mcfg), idfs, meta.avgDl, 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(wandTop(dirM) == wandTop(dirF))
    // avgDl mismatch is refused (stale block-max bounds must not serve)
    TableIO.writeMeta(dirB, TableIO.IndexMeta(t.nDocs - half, t.avgDl + 1.0))
    intercept[IllegalArgumentException] {
      IndexWriter.mergeIndexes(spark, dirA, dirB, tmpDir(), 3L, mcfg)
    }
  }

  test("expireSnapshots keeps the newest K and the current pointer; current survives keep=1") {
    val dir = tmpDir()
    (1L to 5L).foreach { id =>
      TableIO.commit(dir, TableIO.Manifest(id, if (id == 1) None else Some(id - 1), Nil))
    }
    assert(TableIO.listSnapshots(dir) == Seq(1L, 2L, 3L, 4L, 5L))
    val expired = TableIO.expireSnapshots(dir, keep = 2)
    assert(expired == Seq(1L, 2L, 3L))
    assert(TableIO.listSnapshots(dir) == Seq(4L, 5L))
    // current manifest still reads, and its snapshot file survives keep=1
    assert(TableIO.readCurrent(dir).get.snapshotId == 5L)
    assert(TableIO.expireSnapshots(dir, keep = 1) == Seq(4L))
    assert(TableIO.readSnapshot(dir, 5L).isDefined)
    // idempotent on an already-expired table
    assert(TableIO.expireSnapshots(dir, keep = 1).isEmpty)
  }

  // ---- aux artifacts (champion lists, per-repo term stats) ---------------

  def buildIndexed(): (String, InvertedIndex.Tables) = {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus, cacheTokens = false)
    val dir = tmpDir()
    IndexWriter.write(IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg), dir, 1L, cfg)
    (dir, t)
  }

  test("persisted k-gram index: cold wildcard ≡ in-memory path; gram partition pruning reaches the scan") {
    val (dir, t) = buildIndexed()
    graft.query.QueryFrontend.persistKgrams(t.termStats, dir)
    assert(TableIO.readCurrent(dir).get.aux.exists(_.name == graft.query.QueryFrontend.kgramAuxName))
    for (pat <- Seq("s*a*", "*er", "red*", "*a*")) {
      val cold = graft.query.QueryFrontend.wildcardTermsPersisted(spark, dir, pat)
        .collect().map(r => (r.getString(0), r.getLong(1))).toList
      val mem = graft.query.QueryFrontend.wildcardTerms(t.termStats, pat)
        .collect().map(r => (r.getString(0), r.getLong(1))).toList
      assert(cold == mem, s"pattern '$pat'")
    }
    // partition pruning: only the pattern's gram dirs appear in the scan
    val plan = graft.query.QueryFrontend.wildcardTermsPersisted(spark, dir, "s*a*")
      .queryExecution.executedPlan.toString
    assert(plan.contains("gram"), s"expected gram pruning/filter in:\n$plan")
  }

  test("writeAux commits lineage; cold champion read ≡ in-memory build") {
    val (dir, t) = buildIndexed()
    graft.index.Champions.persist(t.postings, t.docStats, t.avgDl, m = 3, dir, cfg)
    val man = TableIO.readCurrent(dir).get
    val lin = man.aux.find(_.name == graft.index.Champions.auxName).get
    val want = graft.index.Champions.build(t.postings, t.docStats, t.avgDl, m = 3)
    assert(lin.rows == want.count() && lin.bytes > 0)
    // manifest with aux rows roundtrips through JSON
    assert(TableIO.parse(TableIO.render(man)) == man)
    // cold read, bucket-pruned to two terms, equals the in-memory relation
    val terms = Seq("spark", "hash")
    val cold = graft.index.Champions.readForTerms(spark, dir, terms, cfg)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val mem = want.filter(col("term").isin(terms: _*))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(cold == mem && cold.nonEmpty)
    // and the pruning reaches the scan: only the terms' bucket dirs are read
    val plan = graft.index.Champions.readForTerms(spark, dir, terms, cfg)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("bucket"),
      s"expected bucket partition pruning in:\n$plan")
  }

  test("writeAux resume: already-committed artifact is not rewritten; resume=false rebuilds") {
    val (dir, t) = buildIndexed()
    graft.index.Champions.persist(t.postings, t.docStats, t.avgDl, m = 3, dir, cfg)
    // sentinel inside the artifact dir: an Overwrite write would delete it,
    // a skipped resume leaves it
    val sentinel = Path.of(dir, "aux", graft.index.Champions.auxName, "_sentinel")
    Files.writeString(sentinel, "x")
    graft.index.Champions.persist(t.postings, t.docStats, t.avgDl, m = 3, dir, cfg)
    assert(Files.exists(sentinel), "resume must skip the committed artifact")
    // forced rebuild (resume=false) rewrites the files
    IndexWriter.writeAux(
      graft.index.Champions.build(t.postings, t.docStats, t.avgDl, m = 3)
        .withColumn("bucket", IndexWriter.bucketCol(col("term"), cfg.nBuckets)),
      dir, graft.index.Champions.auxName, Seq("bucket"), resume = false)
    assert(!Files.exists(sentinel), "resume=false must rewrite the artifact")
    assert(TableIO.readCurrent(dir).get.aux.count(_.name == graft.index.Champions.auxName) == 1)
  }

  test("concurrent writeAux of distinct artifacts loses no lineage row") {
    // persistedAux overlaps the independent aux builds from separate driver
    // threads; the manifest read-modify-commit must serialize, or a slow
    // committer clobbers a fast one's aux row. 8 concurrent writers of
    // distinct names → all 8 lineage rows land, each with its own count.
    import spark.implicits._
    val (dir, _) = buildIndexed()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val names = (1 to 8).map(i => s"conc_art_$i")
    val jobs = names.zipWithIndex.map { case (name, i) =>
      Future {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        IndexWriter.writeAux((0 to i).map(v => (v.toLong, s"row$v")).toDF("k", "v"), dir, name)
      }
    }
    try jobs.foreach(Await.result(_, Duration.Inf))
    finally { pool.shutdown(); () }
    val man = TableIO.readCurrent(dir).get
    names.zipWithIndex.foreach { case (name, i) =>
      val lin = man.aux.find(_.name == name)
      assert(lin.exists(_.rows == i + 1), s"lost or wrong lineage for $name: $lin")
      assert(IndexWriter.readAux(spark, dir, name).count() == i + 1)
    }
  }

  test("persistedAux commits all seven artifacts with cold-read-consistent lineage") {
    // end-to-end over the real concurrent build path: one call must leave
    // the manifest carrying every artifact the serving queries cold-read,
    // each lineage row agreeing with what a cold reader actually scans
    val tableDir = SparkEntry.persistedAux(spark, "/root/testdata/sf0.001")
    val man = TableIO.readCurrent(tableDir).get
    val want = Seq(graft.index.Champions.auxName, graft.stats.Stats.repoTermStatsAux,
      graft.query.QueryFrontend.kgramAuxName, "sq8_codes", "sq8_params",
      "eval_metrics_a", "eval_metrics_b")
    for (name <- want) {
      val lin = man.aux.find(_.name == name)
      assert(lin.nonEmpty, s"artifact '$name' missing from manifest aux rows")
      assert(lin.get.rows > 0 && lin.get.bytes > 0, s"empty lineage for '$name': ${lin.get}")
      assert(IndexWriter.readAux(spark, tableDir, name).count() == lin.get.rows,
        s"cold row count disagrees with lineage for '$name'")
    }
  }

  test("postings mutation decommits aux artifacts; readAux then fails fast") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val corpus0 = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val t0 = InvertedIndex.build(corpus0, cacheTokens = false)
    IndexWriter.write(IndexWriter.shardPostings(t0.postings, t0.docStats, t0.avgDl, cfg), dir, 1L, cfg)
    graft.io.TableIO.writeMeta(dir, graft.io.TableIO.IndexMeta(t0.nDocs, t0.avgDl))
    graft.index.Champions.persist(t0.postings, t0.docStats, t0.avgDl, m = 3, dir, cfg)
    assert(TableIO.readCurrent(dir).get.aux.nonEmpty)
    // upsert one doc — champions derive from the postings, so they decommit
    val corpus1 = corpus0.withColumn("content",
      when(col("doc_id") === 0L, lit("dup dup hash")).otherwise(col("content")))
    val meta = graft.io.TableIO.readMeta(dir).get
    val t1 = InvertedIndex.build(corpus1, cacheTokens = false, knownNDocs = meta.nDocs)
    val affected = graft.analyze.Analyzer.queryTerms("en",
      corpus0.filter(col("doc_id") === 0L).select("content").head.getString(0)) ++
      Set("dup", "hash")
    IndexWriter.upsertBuckets(t1.postings, t1.docStats, meta.avgDl, dir, affected, 2L, cfg)
    assert(TableIO.readCurrent(dir).get.aux.isEmpty, "upsert must decommit aux artifacts")
    val err = intercept[RuntimeException] {
      IndexWriter.readAux(spark, dir, graft.index.Champions.auxName)
    }
    assert(err.getMessage.contains("not committed"))
    // rebuild from the upserted postings recommits
    graft.index.Champions.persist(t1.postings, t1.docStats, meta.avgDl, m = 3, dir, cfg)
    assert(TableIO.readCurrent(dir).get.aux.exists(_.name == graft.index.Champions.auxName))
  }

  test("per-repo term stats artifact: cold facets ≡ in-memory rollup") {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus, cacheTokens = false)
    val dir = tmpDir()
    IndexWriter.write(IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg), dir, 1L, cfg)
    val byRepo = InvertedIndex.termStatsByRepo(InvertedIndex.tokens(corpus))
    graft.stats.Stats.persistRepoTermStats(byRepo, dir)
    val cold = graft.stats.Stats.facetsPersisted(spark, dir, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val mem = graft.stats.Stats.topTermsPerRepo(byRepo, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(cold == mem && cold.nonEmpty)
  }
}
