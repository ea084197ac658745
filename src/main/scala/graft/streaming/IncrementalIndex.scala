package graft.streaming

import graft.functions.ByRef
import graft.index.InvertedIndex
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Streaming ingestion surface. The reference has no streaming (SURVEY.md
  * §2.10) — its analog is the long-running crawl job with cooperative stop
  * and the single-page re-index. This module provides the natural Spark
  * shape for both: a Structured Streaming source of new/changed docs feeding
  * `foreachBatch`, over an LSM-style append-only state:
  *
  *   state/postings/batch=<id>         delta postings of the docs in batch <id>
  *   state/doc_ids/batch=<id>          doc_ids (re)written by batch <id>
  *   state/term_stats/batch=<id>       SIGNED df deltas (+new terms, −replaced)
  *   state/doc_stats/batch=<id>        (doc_id, dl) of the batch docs
  *   state/docs/batch=<id>             raw rows of the batch docs (docs log)
  *   state/term_stats_repo/batch=<id>  SIGNED per-(repo, term) df deltas
  *   state/_committed                  "<latest> <base> <lastAppliedStreamId>" —
  *                                     single atomic pointer (3rd field =
  *                                     highest Structured-Streaming batch
  *                                     id applied)
  *
  * `docs` and `term_stats_repo` exist only in stores whose batches carry
  * raw docs (the facade's always do).
  *
  * Per-batch WRITE cost is O(|batch| + |touched docs|), never O(index): a
  * batch appends its deltas and flips one pointer. The old snapshot design
  * (rewrite old∪delta every batch) cost O(total index) per micro-batch —
  * streaming ingestion degraded linearly with index size. Reads reconstruct
  * live tables with a last-writer-wins mask on doc_id (postings/doc_stats)
  * or a running sum of signed deltas (term_stats — the old-minus-replaced-
  * plus-new shape of SURVEY.md §2.5 A2). `compact` folds all batches into a
  * fresh base so read fan-in stays bounded.
  *
  * Per-table READ cost is one parquet scan over all committed batch dirs
  * with a known schema — O(1) Spark jobs in log depth, so a live-table
  * rebuild or a replaced-doc point-read starts as many jobs at depth 2 as
  * at depth 10 (pinned in StreamingSpec). Past 32 dirs Spark lists them
  * with one parallel-listing job, which is still one at any depth.
  *
  * Crash contract: all six tables are written BEFORE the pointer moves, so
  * a torn batch is invisible; a replay after a crash recomputes the same
  * deterministic deltas into the same batch dir and re-commits — and never
  * reads a path it is overwriting, because reads only consult batches ≤ the
  * committed pointer (< the replayed id). Re-indexed docs replace their old
  * contribution — idempotent, unlike the reference's ever-incrementing df
  * (SURVEY.md §3.3 quirk; IndexingServiceImpl.java:171-193).
  */
object IncrementalIndex {

  /** parquet-dir batch store with one atomic commit pointer.
    *
    * INTERNAL batch ids (dir names, the pointer) are allocated by the store
    * (always latest+1) and are a SEPARATE id space from Structured
    * Streaming's checkpoint batch ids: the pointer's third field records the
    * highest APPLIED streaming id, so replays skip exactly-once WITHOUT the
    * two spaces ever colliding (a streaming id can no longer overwrite a
    * compacted base or an upsert batch). One state dir pairs with ONE
    * streaming checkpoint lineage — reusing the store with a fresh
    * checkpoint (stream ids restarting at 0) requires a fresh state dir,
    * the same pairing rule every foreachBatch sink has. */
  final class ParquetStateStore(val dir: String) {
    private def pointerPath = java.nio.file.Paths.get(s"$dir/_committed")

    /** (latest, base, lastAppliedStreamId) — lastStream = -1 if none yet */
    def pointer: Option[(Long, Long, Long)] = {
      if (!java.nio.file.Files.exists(pointerPath)) None
      else java.nio.file.Files.readString(pointerPath).trim.split("\\s+") match {
        case Array(l, b, s) => Some((l.toLong, b.toLong, s.toLong))
        case Array(l, b)    => Some((l.toLong, b.toLong, -1L))
        case Array(l)       => Some((l.toLong, 0L, -1L))
        case _              => None
      }
    }
    def latestBatch: Option[Long] = pointer.map(_._1)
    def lastStreamId: Long = pointer.map(_._3).getOrElse(-1L)
    /** next internal batch id (store-allocated, never caller-chosen) */
    def nextBatch: Long = latestBatch.map(_ + 1).getOrElse(0L)

    /** committed, visible batch ids in [base, min(latest, before-1)] that
      * exist on disk for `name` (a batch may lack rows for a table).
      * `before` (exclusive) lets an uncommitted batch read only strictly
      * older state — never the dirs it is writing. */
    def batches(name: String, before: Long = Long.MaxValue): Seq[Long] = pointer match {
      case None => Nil
      case Some((latest, base, _)) =>
        (base to math.min(latest, before - 1)).filter(b =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$name/batch=$b")))
    }

    def writeTable(name: String, df: DataFrame, batchId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name/batch=$batchId")

    /** driver-held rows as batch `batchId` of `name`, with no Spark job:
      * the batch dir is replaced (what `writeTable`'s overwrite does), then
      * `rows`, if any, go to ONE part file through Spark's own parquet
      * writer in this JVM — the codec, the parquet schema and the footer's
      * row schema a DataFrame write of `rows` with `schema` would give.
      * No rows leave no dir, so a torn attempt's dir never outlives a
      * replay that writes nothing there. */
    def writeRows(spark: SparkSession, name: String, schema: StructType, rows: Seq[Row],
                  batchId: Long): Unit = {
      val out = new Path(s"$dir/$name/batch=$batchId")
      val job = Job.getInstance(spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
      val fs = out.getFileSystem(job.getConfiguration)
      fs.delete(out, true)
      if (rows.nonEmpty) {
        val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
        val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
        fs.mkdirs(out)
        val writer = factory.newInstance(
          new Path(out, s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
            .toString, schema, ctx)
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
        try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
        finally writer.close()
      }
    }

    /** atomic pointer flip — publishes every table of the batch at once.
      * `streamId >= 0` additionally records the streaming batch as applied. */
    def commit(batchId: Long, base: Long = -1L, streamId: Long = -1L): Unit = {
      val prev = pointer
      val lat = math.max(batchId, prev.map(_._1).getOrElse(Long.MinValue))
      val b = if (base >= 0) base else prev.map(_._2).getOrElse(0L)
      val s = math.max(streamId, prev.map(_._3).getOrElse(-1L))
      val tmp = java.nio.file.Paths.get(s"$dir/_committed.tmp")
      java.nio.file.Files.createDirectories(tmp.getParent)
      java.nio.file.Files.writeString(tmp, s"$lat $b $s")
      java.nio.file.Files.move(tmp, pointerPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    /** union of committed batch dirs for `name`, tagged with `_b`: ONE
      * parquet scan over the explicit list of committed dirs, with `_b` read
      * off the `batch=<id>` partition column. The schema is known up front
      * (fixed shape, or one parquet footer for `docs`), so no
      * schema-inference job runs: a read costs O(1) Spark jobs in log
      * depth. The table root is never listed — torn dirs above the pointer
      * and compacted-away dirs below `base` stay invisible. */
    def readUnion(spark: SparkSession, name: String,
                  before: Long = Long.MaxValue): Option[DataFrame] = {
      val paths = batches(name, before).map(b => s"$dir/$name/batch=$b")
      if (paths.isEmpty) None
      else Some(spark.read.schema(tableSchemas.getOrElse(name, footerSchema(spark, paths.last)))
        .option("basePath", s"$dir/$name").parquet(paths: _*)
        .withColumn("_b", col("batch").cast("long")).drop("batch"))
    }
  }

  /** schemas of the fixed-shape log tables; `docs` carries the corpus's own */
  private[graft] val tableSchemas: Map[String, StructType] = Map(
    "postings" -> "doc_id BIGINT, term STRING, tf BIGINT",
    "doc_ids" -> "doc_id BIGINT",
    "term_stats" -> "term STRING, ddf BIGINT",
    "doc_stats" -> "doc_id BIGINT, dl BIGINT",
    "term_stats_repo" -> "repo STRING, term STRING, ddf BIGINT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** the Spark schema one batch dir was written with, read from a single
    * parquet footer in this JVM (no Spark job) */
  private[graft] def footerSchema(spark: SparkSession, batchDir: String): StructType = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(batchDir))
    val part = try ls.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.findFirst() finally ls.close()
    require(part.isPresent, s"no parquet part file in $batchDir")
    val in = HadoopInputFile.fromPath(new Path(part.get.toUri),
      spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally reader.close()
    require(json != null, s"$batchDir was not written by Spark (no row schema in its footer)")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** last-writer-wins mask: keep rows of `df` (carrying `_b`) whose doc_id
    * was not rewritten by any LATER committed batch (< before) */
  private def lastWins(store: ParquetStateStore, spark: SparkSession, df: DataFrame,
                       before: Long = Long.MaxValue): DataFrame = {
    val ids = store.readUnion(spark, "doc_ids", before).get
      .groupBy("doc_id").agg(max("_b").as("_bmax"))
    df.join(ids, "doc_id").filter(col("_b") === col("_bmax")).drop("_b", "_bmax")
  }

  /** live postings (doc_id, term, tf) reconstructed from the batch log */
  def readPostings(store: ParquetStateStore, spark: SparkSession,
                   before: Long = Long.MaxValue): Option[DataFrame] =
    store.readUnion(spark, "postings", before).map(lastWins(store, spark, _, before))

  /** live doc_stats (doc_id, dl) */
  def readDocStats(store: ParquetStateStore, spark: SparkSession,
                   before: Long = Long.MaxValue): Option[DataFrame] =
    store.readUnion(spark, "doc_stats", before).map(lastWins(store, spark, _, before))

  /** live term_stats (term, df): running sum of the signed per-batch deltas
    * — O(vocabulary + churn) rows, never touches postings */
  def readTermStats(store: ParquetStateStore, spark: SparkSession,
                    before: Long = Long.MaxValue): Option[DataFrame] =
    store.readUnion(spark, "term_stats", before).map(
      _.groupBy("term").agg(sum("ddf").as("df")).filter(col("df") > 0))

  /** live per-repo term stats (repo, term, df): same signed-delta shape as
    * term_stats, keyed (repo, term) — the reference's per-site lemma table
    * (LemmaRepository.countBySite feeds the statistics endpoint). Present
    * only for stores whose batches carried raw docs (the facade always
    * does); O(per-repo vocabulary + churn) rows, never touches postings. */
  def readTermStatsRepo(store: ParquetStateStore, spark: SparkSession,
                        before: Long = Long.MaxValue): Option[DataFrame] =
    store.readUnion(spark, "term_stats_repo", before).map(
      _.groupBy("repo", "term").agg(sum("ddf").as("df")).filter(col("df") > 0))

  /** live RAW document rows (the durable corpus — reference `page` table,
    * persisted across restarts by MySQL): last-writer-wins over the per-
    * batch docs, masked by the same doc_ids log deletes use. This is what
    * lets a new SearchEngine reattach to an existing state dir without
    * re-crawling or re-tokenizing anything. */
  def readDocs(store: ParquetStateStore, spark: SparkSession,
               before: Long = Long.MaxValue): Option[DataFrame] =
    store.readUnion(spark, "docs", before).map(lastWins(store, spark, _, before))

  /** point-read the CURRENT rows of `name` for `ids` only: an `InSet`
    * predicate pushed to the parquet scans — per-batch work reads the
    * touched docs' row groups, not the whole state. */
  private def tableForDocs(store: ParquetStateStore, spark: SparkSession, name: String,
                           ids: Seq[Long], before: Long): Option[DataFrame] =
    store.readUnion(spark, name, before).map { rows =>
      val hit = rows.filter(ByRef.inSet(col("doc_id"), ids))
      lastWins(store, spark, hit, before)
    }

  /** point-read the CURRENT postings of `ids` only. Small id sets (the
    * normal micro-batch case) become an isin predicate pushed to the
    * parquet scans — per-batch work reads the touched docs' row groups,
    * not the whole postings state (asserted on the plan in StreamingSpec). */
  def postingsForDocs(store: ParquetStateStore, spark: SparkSession,
                      ids: Seq[Long], before: Long = Long.MaxValue): Option[DataFrame] =
    tableForDocs(store, spark, "postings", ids, before)

  /** maximum batch size for which replaced-doc lookup uses the pushed-down
    * isin path; larger batches fall back to a semi join. Also the most rows
    * a [[mergePage]] takes. */
  val isinThreshold = 10000

  /** merge one micro-batch of docs (doc_id, repo, lang, content) into the
    * state — exactly what the foreachBatch closure runs. A batch MAY carry
    * a `seq` column (source offset / event timestamp): when present it
    * orders within-batch last-writer-wins, matching the reference's
    * delete+reindex latest-version semantics for sources that do carry
    * ordering (the file stream's modification time, a Kafka offset). */
  /** `lexicons` is the per-lang 1→N normal-form registry (reference
    * lemmatizes the INDEX side with its morphology dictionary,
    * IndexingServiceImpl.java:144-155) — it must match the lexicon the
    * query side analyzes with.
    *
    * `rawDocs` — when supplied, the batch's RAW document rows (one row per
    * doc_id) are persisted in the `docs` log table (the reference's durable
    * `page` table) and the per-repo signed-df deltas are maintained in
    * `term_stats_repo`. CONTRACT: supply rawDocs on EVERY mutation of a
    * store or never — a mixed store would undercount the repo-scoped
    * decrements of docs whose raw rows were never logged. */
  def mergeBatch(store: ParquetStateStore, batch: DataFrame, streamId: Long = -1L,
                 lexicons: Map[String, graft.analyze.Analyzer.Lexicon] = Map.empty,
                 rawDocs: Option[DataFrame] = None): Unit = {
    if (streamId >= 0 && streamId <= store.lastStreamId) return // replay: already applied
    val spark = batch.sparkSession
    val batchId = store.nextBatch // storage id is ALWAYS store-allocated
    // within-batch last-writer-wins: highest `seq` wins when the source
    // carries one; the deterministic sha/lang/repo order is the tie-break
    // (and the whole order when no seq exists), so a batch carrying several
    // versions of one doc keeps ONE replayable version — never a tf/dl
    // union of versions no source ever held
    val orderCols =
      (if (batch.columns.contains("seq")) Seq(col("seq").desc) else Nil) ++
        Seq(sha2(col("content"), 256).desc, col("lang").desc, col("repo").desc)
    val oneVersion = batch.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(orderCols: _*)))
      .filter(col("_rn") === 1).drop("_rn").drop("seq")
    // repo kept through the tf aggregate (it is functionally dependent on
    // doc_id) so the per-repo df deltas need no extra join for the ADDED side
    val deltaPostR = InvertedIndex.tokensByLang(oneVersion, lexicons)
      .groupBy("doc_id", "repo", "term").agg(count(lit(1)).as("tf")).cache()
    val deltaPost = deltaPostR.select("doc_id", "term", "tf")
    val docIds = oneVersion.select("doc_id").distinct().cache()
    // df decrements from the replaced docs' OLD postings (point-read), df
    // increments from the delta — old stats are never recomputed. Reads see
    // only batches < batchId: committed state, never this batch's own dirs
    // (a crashed attempt's orphans stay invisible and get overwritten).
    // Strategy decided from a COUNT — collecting a huge id list is exactly
    // what the fallback branch exists to avoid.
    val nIds = docIds.count()
    lazy val idList = docIds.collect().map(_.getLong(0)).toSeq
    val removed =
      if (store.latestBatch.isEmpty) None
      else if (nIds <= isinThreshold) postingsForDocs(store, spark, idList, batchId)
      else readPostings(store, spark, batchId).map(_.join(docIds, Seq("doc_id"), "left_semi"))
    val added = deltaPost.groupBy("term").agg(count(lit(1)).as("ddf"))
    val termDelta = removed match {
      case Some(old) =>
        old.groupBy("term").agg((-count(lit(1))).as("ddf")).unionByName(added)
          .groupBy("term").agg(sum("ddf").as("ddf")).filter(col("ddf") =!= 0)
      case None => added
    }
    // per-repo df deltas (only for stores carrying raw docs): added side
    // straight off the cached delta; removed side joins the replaced docs'
    // OLD repo from the docs log (a doc may move repos on upsert)
    val termRepoDelta: Option[DataFrame] = rawDocs.map { _ =>
      val addedR = deltaPostR.groupBy("repo", "term").agg(count(lit(1)).as("ddf"))
      val oldRepos =
        if (store.latestBatch.isEmpty) None
        else if (nIds <= isinThreshold)
          tableForDocs(store, spark, "docs", idList, batchId).map(_.select("doc_id", "repo"))
        else readDocs(store, spark, batchId)
          .map(_.select("doc_id", "repo").join(docIds, Seq("doc_id"), "left_semi"))
      (removed, oldRepos) match {
        case (Some(old), Some(or)) =>
          old.select("doc_id", "term").join(or, "doc_id")
            .groupBy("repo", "term").agg((-count(lit(1))).as("ddf"))
            .unionByName(addedR)
            .groupBy("repo", "term").agg(sum("ddf").as("ddf")).filter(col("ddf") =!= 0)
        case _ => addedR
      }
    }
    val docDelta = deltaPost.groupBy("doc_id").agg(sum("tf").as("dl"))
    // write every table, THEN flip the pointer (atomic publish)
    store.writeTable("postings", deltaPost, batchId)
    store.writeTable("doc_ids", docIds, batchId)
    store.writeTable("term_stats", termDelta, batchId)
    store.writeTable("doc_stats", docDelta, batchId)
    rawDocs.foreach(d => store.writeTable("docs", d, batchId))
    termRepoDelta.foreach(t => store.writeTable("term_stats_repo", t, batchId))
    store.commit(batchId, streamId = streamId)
    deltaPostR.unpersist()
    docIds.unpersist(): Unit
  }

  /** What [[mergePage]] merged, and the delta it applied to the live
    * tables, so a reader can advance its own copy of them without a read:
    *  - `docs`: the kept version of each doc as a local frame (the batch's
    *    columns minus `seq`);
    *  - `ids`: every doc_id the page touched, kept or deleted;
    *  - `repo`: the repo of each kept doc;
    *  - `postings`: term → tf of each kept doc with an indexed term; a
    *    touched id absent here has no live postings and no doc_stats row;
    *  - `termDelta`: the signed df change per term, as written to
    *    `term_stats`;
    *  - `oldDl`: the dl each touched doc had before, for those that had
    *    postings;
    *  - `docsDelta`: kept rows minus the docs-log rows they replaced. */
  final case class Page(docs: DataFrame, ids: Seq[Long], repo: Map[Long, String],
                        postings: Map[Long, Map[String, Long]], termDelta: Map[String, Long],
                        oldDl: Map[Long, Long], docsDelta: Long)

  /** Merge one page of docs into a store that carries the docs log — the
    * facade's indexPage. Same live tables as [[mergeBatch]] with `rawDocs`,
    * but page-sized work happens on the driver: one bounded collect of the
    * batch, one collect of its tokens (the same analyzer Column chain), and
    * one collect of a `doc_id` `InSet` point read (compiled once for every
    * page) that unions the old-state tables (doc_ids, postings, docs), with
    * the last-writer-wins mask applied here. Each table's batch is then
    * written from the driver ([[ParquetStateStore.writeRows]]: one part
    * file, no job). That is two
    * Spark jobs, neither with a shuffle stage; the collect of a local batch
    * folds into its local relation and runs none.
    *
    * One version per doc_id, in mergeBatch's order: `seq` desc (when the
    * batch has it), then sha2 of the indexed text desc, then lang, then
    * repo, compared in Spark's order. Rows failing `keep` are gated out
    * before the pick; a doc_id with no kept row is deleted. `text` maps
    * content to the text the tokenizer sees (mergeBatch's callers pass
    * that view as the batch). A batch of more than [[isinThreshold]] rows
    * is refused. */
  def mergePage(store: ParquetStateStore, batch: DataFrame,
                lexicons: Map[String, graft.analyze.Analyzer.Lexicon] = Map.empty,
                text: Column => Column = identity,
                keep: Column = lit(true)): Page = {
    val spark = batch.sparkSession
    val rows = batch.withColumn("_sha", sha2(text(col("content")), 256))
      .withColumn("_keep", coalesce(keep, lit(false)))
      .limit(isinThreshold + 1).collect()
    require(rows.length <= isinThreshold,
      s"a page holds at most $isinThreshold rows: index a larger batch with " +
        "SearchEngine.startIndexing or IncrementalIndex.start")
    val schema = StructType(batch.schema.filterNot(_.name == "seq"))
    val idOf = (r: Row) => r.getAs[Long]("doc_id")
    val key = (r: Row) =>
      (if (batch.columns.contains("seq")) Seq(r.getAs[Any]("seq")) else Nil) ++
        Seq("_sha", "lang", "repo").map(c => r.getAs[Any](c))
    val newest: Ordering[Row] = (a, b) =>
      key(a).zip(key(b)).iterator.map { case (x, y) => sparkOrder(x, y) }.find(_ != 0).getOrElse(0)
    val kept = rows.filter(_.getAs[Boolean]("_keep")).groupBy(idOf)
      .values.map(_.max(newest)).toSeq.sortBy(idOf)
    val docRows = kept.map(r => Row.fromSeq(schema.fieldNames.toSeq.map(c => r.getAs[Any](c))))
    val docs = spark.createDataFrame(docRows.asJava, schema)
    val ids = rows.map(idOf).distinct.sorted.toSeq
    if (ids.isEmpty) return Page(docs, ids, Map.empty, Map.empty, Map.empty, Map.empty, 0L)

    val tokens = InvertedIndex.tokensByLang(docs.withColumn("content", text(col("content"))), lexicons)
      .select("doc_id", "term").collect()
    val tf: Map[Long, Map[String, Long]] = tokens.groupBy(_.getLong(0)).map { case (d, ts) =>
      d -> ts.groupMapReduce(_.getString(1))(_ => 1L)(_ + _)
    }
    val repo = kept.map(r => idOf(r) -> r.getAs[String]("repo")).toMap
    // old state of the page's docs, in one scan: each table's rows of the
    // page's doc_ids, tagged with their table. The newest committed batch
    // that wrote a doc_id holds its live rows (the last-writer-wins mask).
    val batchId = store.nextBatch
    val old = Seq("doc_ids" -> Nil, "postings" -> Seq("term", "tf"), "docs" -> Seq("repo"))
      .flatMap { case (name, cols) =>
        store.readUnion(spark, name, batchId).map(_.filter(ByRef.inSet(col("doc_id"), ids))
          .select((lit(name).as("_t") +: ("doc_id" +: cols :+ "_b").map(col)): _*))
      }.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .fold(Array.empty[Row])(_.collect()).groupBy(_.getAs[String]("_t"))
    def rowsOf(name: String): Seq[Row] = old.getOrElse(name, Array.empty[Row]).toSeq
    val lastB = rowsOf("doc_ids").groupMapReduce(_.getAs[Long]("doc_id"))(_.getAs[Long]("_b"))(math.max)
    def live(name: String): Seq[Row] =
      rowsOf(name).filter(r => lastB.get(r.getAs[Long]("doc_id")).contains(r.getAs[Long]("_b")))
    val removedTf = live("postings").map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("tf")))
    val removed = removedTf.map(r => (r._1, r._2))
    val oldDocs = live("docs")
    val oldRepo = oldDocs.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("repo")).toMap

    val added = for ((d, ts) <- tf.toSeq; (t, n) <- ts) yield (d, t, n)
    def signed[K](plus: Seq[K], minus: Seq[K]): Seq[(K, Long)] =
      (plus.map(_ -> 1L) ++ minus.map(_ -> -1L)).groupMapReduce(_._1)(_._2)(_ + _).toSeq.filter(_._2 != 0)
    val termDelta = signed(added.map(_._2), removed.map(_._2))
    val repoDelta = signed(added.map(p => (repo(p._1), p._2)),
      removed.flatMap { case (d, t) => oldRepo.get(d).map(_ -> t) })
    def write(name: String, rows: Seq[Row]): Unit =
      store.writeRows(spark, name, tableSchemas(name), rows, batchId)
    // every table, THEN the pointer (atomic publish)
    write("postings", added.map { case (d, t, n) => Row(d, t, n) })
    write("doc_ids", ids.map(Row(_)))
    write("term_stats", termDelta.map { case (t, n) => Row(t, n) })
    write("doc_stats", tf.toSeq.map { case (d, ts) => Row(d, ts.values.sum) })
    store.writeRows(spark, "docs", schema, docRows, batchId)
    write("term_stats_repo", repoDelta.map { case ((r, t), n) => Row(r, t, n) })
    store.commit(batchId)
    Page(docs, ids, repo, tf, termDelta.toMap,
      removedTf.groupMapReduce(_._1)(_._3)(_ + _), kept.size.toLong - oldDocs.size)
  }

  /** Spark's ascending order of two collected values, nulls first: strings
    * by their UTF-8 bytes (not UTF-16 units), anything else by its own
    * order */
  private def sparkOrder(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Comparable[Any @unchecked], y) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(s"no order for $a and $b")
  }

  /** fold the whole batch log into a fresh base batch (bounds read fan-in
    * after many micro-batches; the streaming twin of IndexWriter.compact) */
  def compactState(store: ParquetStateStore, spark: SparkSession): Unit =
    readPostings(store, spark) match {
      case None => ()
      case Some(p) =>
        val next = store.nextBatch
        val posts = p.cache()
        val dstats = readDocStats(store, spark).get.cache() // reconstructed ONCE
        // docs / per-repo stats fold only when the store maintains them
        val docs = readDocs(store, spark).map(_.cache())
        store.writeTable("postings", posts, next)
        // a doc with no indexed term is live through its docs row alone
        store.writeTable("doc_ids", (Seq(posts, dstats) ++ docs).map(_.select("doc_id"))
          .reduce(_ unionByName _).distinct(), next)
        store.writeTable("term_stats",
          posts.groupBy("term").agg(count(lit(1)).as("ddf")), next)
        store.writeTable("doc_stats", dstats, next)
        docs.foreach(d => store.writeTable("docs", d, next))
        readTermStatsRepo(store, spark).foreach(t =>
          store.writeTable("term_stats_repo",
            t.select(col("repo"), col("term"), col("df").as("ddf")), next))
        store.commit(next, base = next)
        posts.unpersist()
        dstats.unpersist()
        docs.foreach(_.unpersist()): Unit
    }

  /** seed an EMPTY (or fresh) store with prebuilt tables as its base batch
    * — the persisted-build facade path reuses the InvertedIndex.build
    * output it already has instead of re-tokenizing the whole corpus
    * through mergeBatch. Writes the same shapes compactState produces. */
  def seedBase(store: ParquetStateStore, t: graft.index.InvertedIndex.Tables,
               rawDocs: Option[DataFrame] = None,
               termStatsRepo: Option[DataFrame] = None): Unit = {
    val next = store.nextBatch
    store.writeTable("postings", t.postings, next)
    // the raw docs name every doc, a stop-word-only one included
    store.writeTable("doc_ids", rawDocs.map(_.select("doc_id")).getOrElse(
      t.postings.select("doc_id").unionByName(t.docStats.select("doc_id"))).distinct(), next)
    store.writeTable("term_stats", t.termStats.select(col("term"), col("df").as("ddf")), next)
    store.writeTable("doc_stats", t.docStats, next)
    rawDocs.foreach(d => store.writeTable("docs", d, next))
    termStatsRepo.foreach(r =>
      store.writeTable("term_stats_repo",
        r.select(col("repo"), col("term"), col("df").as("ddf")), next))
    store.commit(next, base = next)
  }

  /** wire a streaming docs source into the merge — file source, rate
    * source, or any readStream DataFrame with the corpus schema. */
  def start(docsStream: DataFrame, state: ParquetStateStore,
            checkpointDir: String,
            lexicons: Map[String, graft.analyze.Analyzer.Lexicon] = Map.empty): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(state, batch, batchId, lexicons)
      }
      .start()

  /** Single-doc upsert (reference POST /api/indexPage,
    * IndexingServiceImpl.java:84-94,244-264) on a store without the docs
    * log: one-row batch through mergeBatch (the facade's indexPage uses
    * mergePage); storage ids are store-allocated, so upserts can
    * interleave freely with streaming batches and compaction. */
  def upsertDoc(state: ParquetStateStore, doc: DataFrame): Unit =
    mergeBatch(state, doc)
}
