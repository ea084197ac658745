package graft.index

import graft.io.TableIO
import graft.query.Bm25
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One encoded posting run: the postings of `term` restricted to docId
  * shard `shard` (shard = docId / docsPerShard). `bucket` is the term-hash
  * write partition the driver prunes on at query time. */
case class ShardPosting(term: String, shard: Int, bucket: Int,
                        numDocs: Int, maxTfNorm: Float, bytes: Array[Byte])

/** Sharded compressed-index construction + snapshot lifecycle.
  *
  * Scale design (SURVEY.md §4.3, north rule):
  *  - **Skew**: groups are (term, shard) with shard = docId / docsPerShard,
  *    so a Zipf-head term with df ≈ N still yields groups of ≤ docsPerShard
  *    postings — the docId-range shard IS the salt, chosen statically so the
  *    per-term runs are disjoint ordered ranges that merge by concatenation
  *    (PostingCodec.concat, no decode). A second-phase salted merge then
  *    combines runs per term without any group exceeding runsPerSalt blobs.
  *  - **Write layout**: partitioned by `bucket` = positive hash(term) %
  *    nBuckets — queries touch ≤ |queryTerms| buckets (partition pruning),
  *    and resume skips whole committed buckets.
  *  - **Lineage**: per-bucket (rows, bytes, order-insensitive hashAgg)
  *    recorded in the snapshot manifest (TableIO), satisfying the
  *    north-rule resumability + lineage requirement.
  */
object IndexWriter {

  /** docsPerShard bounds every encode group (a Zipf-head term's postings
    * within one shard ≤ docsPerShard) — it is the skew-defusing salt. 4096
    * keeps hot-term groups small enough that no stage waits on a straggler,
    * while tail terms (df ≈ 1) still cost one tiny group. */
  case class Config(docsPerShard: Long = 4096, nBuckets: Int = 16, saltWidth: Int = 64)

  def bucketOf(term: String, nBuckets: Int): Int = {
    // must match the Column expression in bucketCol (Murmur3 hash of UTF8 string)
    math.floorMod(org.apache.spark.unsafe.types.UTF8String.fromString(term).hashCode(), nBuckets)
  }
  def bucketCol(term: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(term), lit(nBuckets))

  /** Encode per-(term, shard) runs. Input: postings (doc_id, term, tf)
    * joined with docStats (dl). Group size bounded by docsPerShard — the
    * in-memory sort inside mapGroups is safe at any corpus scale.
    * `buckets` pre-filters on the term-hash bucket BEFORE the join/encode
    * (a codegen'd Column predicate), so a bucket-scoped rebuild never pays
    * the encode of untouched buckets. */
  def shardPostings(postings: DataFrame, docStats: DataFrame, avgDl: Double,
                    cfg: Config = Config(),
                    buckets: Option[Set[Int]] = None): Dataset[ShardPosting] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val dps = cfg.docsPerShard
    val nb = cfg.nBuckets
    val src = buckets match {
      case Some(bs) =>
        postings.filter(bucketCol(col("term"), nb).isin(bs.toSeq.map(x => x: Any): _*))
      case None => postings
    }
    val joined = src.join(docStats, "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("int").as("tf"),
        col("dl").cast("int").as("dl"),
        (col("doc_id") / lit(dps)).cast("int").as("shard"))
      .as[(String, Long, Int, Int, Int)]
    joined.groupByKey(r => (r._1, r._5))
      .mapGroups { (key: (String, Int), rows: Iterator[(String, Long, Int, Int, Int)]) =>
        val (term, shard) = key
        val buf = rows.map { case (_, docId, tf, dl, _) => PostingCodec.Posting(docId, tf, dl) }
          .toArray
        java.util.Arrays.sort(buf, Ordering.by((p: PostingCodec.Posting) => p.docId))
        val bytes = PostingCodec.encode(buf.toIndexedSeq, (tf, dl) => Bm25.tfNormS(tf, dl, avgDl))
        val maxNorm = new PostingCodec.Decoded(bytes).maxTfNorm
        ShardPosting(term, shard, bucketOf(term, nb), buf.length, maxNorm, bytes)
      }
  }

  /** write-placement salt: raises (bucket, salt) key granularity to ~4
    * units/core so the write wave is level (see the layout note in write) */
  def saltKFor(spark: SparkSession, cfg: Config): Int =
    math.max(1, Math.ceil(
      4.0 * spark.sparkContext.defaultParallelism / cfg.nBuckets).toInt)

  /** Fused encode for FULL builds: one exchange instead of three. The rows
    * repartition on (bucket, shard % saltK) — the write's own placement key
    * — BEFORE encoding, sort within each partition on (term, shard,
    * doc_id), and a streaming mapPartitions cuts consecutive (term, shard)
    * groups. Identical ShardPosting rows to [[shardPostings]] (spec-pinned
    * byte equality), but:
    *   - the docStats join satisfies its distribution straight off the
    *     doc_id-partitioned postings cache (no exchange),
    *   - the (term, shard) grouping rides the (bucket, salt) exchange —
    *     every (term, shard) group lands whole because bucket = f(term)
    *     and salt = f(shard),
    *   - the encoded BLOBS never cross the wire: they are born in their
    *     final write placement, so `write(..., preArranged = true)` skips
    *     its post-encode repartition entirely.
    * The within-partition sort is Spark's spillable external sort (the
    * in-memory per-group sort in shardPostings bounds memory by
    * docsPerShard; this bounds it by nothing at all). Skew unchanged: the
    * placement granularity is the same (bucket, salt) key the write used
    * anyway. Used by the full-build path (Bench / buildAndWrite);
    * bucket-scoped upserts keep [[shardPostings]] (they pre-filter buckets
    * before the encode). */
  def shardPostingsAligned(postings: DataFrame, docStats: DataFrame, avgDl: Double,
                           cfg: Config = Config()): Dataset[ShardPosting] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val dps = cfg.docsPerShard
    val nb = cfg.nBuckets
    val saltK = saltKFor(spark, cfg)
    postings.join(docStats, "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("int").as("tf"),
        col("dl").cast("int").as("dl"),
        (col("doc_id") / lit(dps)).cast("int").as("shard"))
      .repartition(nb * saltK, bucketCol(col("term"), nb),
        pmod(col("shard"), lit(saltK)))
      .sortWithinPartitions("term", "shard", "doc_id")
      .as[(String, Long, Int, Int, Int)]
      .mapPartitions { it =>
        val b = it.buffered
        new Iterator[ShardPosting] {
          def hasNext: Boolean = b.hasNext
          def next(): ShardPosting = {
            val head = b.head
            val (term, shard) = (head._1, head._5)
            val buf = scala.collection.mutable.ArrayBuffer.empty[PostingCodec.Posting]
            while (b.hasNext && b.head._1 == term && b.head._5 == shard) {
              val r = b.next()
              buf += PostingCodec.Posting(r._2, r._3, r._4)
            }
            // rows arrive docId-sorted from sortWithinPartitions; encode
            // asserts monotone docIds itself, so no re-sort is needed
            val bytes = PostingCodec.encode(buf.toIndexedSeq,
              (tf, dl) => Bm25.tfNormS(tf, dl, avgDl))
            val maxNorm = new PostingCodec.Decoded(bytes).maxTfNorm
            ShardPosting(term, shard, bucketOf(term, nb), buf.length, maxNorm, bytes)
          }
        }
      }
  }

  /** Two-phase salted merge of per-shard runs into one global posting list
    * per term (north star "merge shards with a salted-key repartition").
    * Phase 1 groups (term, shard/saltWidth) — bounded fan-in concat of
    * ordered runs; phase 2 concatenates the salt-level runs. Blobs are
    * concatenated without decoding (PostingCodec.concat).
    *
    * SCALE CAUTION: phase 2 deliberately materializes ONE blob per term —
    * unbounded for a df≈N head term. It exists for export/df-audit shapes
    * (the `ft_compressed_postings` oracle); the QUERY path never consumes
    * merged blobs (Wand reads bounded per-(term,shard) runs). Keep it that
    * way: a query operator over merged blobs would reintroduce the hot-term
    * skew the sharded layout removes. */
  def mergeShards(shards: Dataset[ShardPosting], cfg: Config = Config()): Dataset[ShardPosting] = {
    val spark = shards.sparkSession
    import spark.implicits._
    val w = cfg.saltWidth
    val phase1 = shards.groupByKey(s => (s.term, s.shard / w))
      .mapGroups { (key: (String, Int), it: Iterator[ShardPosting]) =>
        val runs = it.toArray.sortBy(_.shard)
        val bytes = PostingCodec.concat(runs.map(_.bytes).toSeq)
        ShardPosting(key._1, key._2, runs.head.bucket, runs.map(_.numDocs).sum,
          runs.map(_.maxTfNorm).max, bytes)
      }
    phase1.groupByKey(_.term)
      .mapGroups { (term: String, it: Iterator[ShardPosting]) =>
        val runs = it.toArray.sortBy(_.shard)
        val bytes = PostingCodec.concat(runs.map(_.bytes).toSeq)
        ShardPosting(term, 0, runs.head.bucket, runs.map(_.numDocs).sum,
          runs.map(_.maxTfNorm).max, bytes)
      }
  }

  /** Write the sharded index partitioned by bucket, with per-bucket lineage
    * committed to an (emulated) Iceberg snapshot manifest. `resume = true`
    * skips buckets already in the current manifest — a killed run's
    * committed buckets survive byte-identically (north rule; resume test).
    */
  def write(shards: Dataset[ShardPosting], tableDir: String, snapshotId: Long,
            cfg: Config = Config(), resume: Boolean = true,
            auditLineage: Boolean = false, statusTime: Long = 0L,
            preArranged: Boolean = false): TableIO.Manifest = {
    // sub-phase timer for the scaling diagnosis, on only under BENCH_PHASES
    // (same env gate as Bench.buildIndex's coarse phases)
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      if (sys.env.contains("BENCH_PHASES"))
        System.err.println(f"[phase]   write/$name: ${(now - tPhase) / 1e9}%.2fs")
      tPhase = now
    }
    val spark = shards.sparkSession
    val prev = if (resume) TableIO.readCurrent(tableDir) else None
    val committed = prev.map(_.committed).getOrElse(Set.empty)
    // a crashed previous attempt may have left orphan files in buckets the
    // manifest never committed; the write below APPENDS, so those dirs must
    // be cleared first or their rows would double-count
    val dataDir = java.nio.file.Path.of(tableDir, "data")
    if (java.nio.file.Files.exists(dataDir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dataDir).iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("bucket=") && !committed.contains(n.stripPrefix("bucket=").toInt)
        }
        .foreach { p =>
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
    }
    val todo0 = shards.filter(s => !committed.contains(s.bucket))
    // Lineage strategy: for small bucket counts (the common config) the
    // per-bucket (rows, bytes, hashAgg) triples are computed DURING the
    // write job via Dataset.observe — 3×nBuckets conditional aggregates
    // riding the existing pass, so the encoded blobs are never persisted
    // and no second job runs (measured serial cost at T_4N: cache-serialize
    // every blob + an extra job barrier). Above the threshold (metric-expr
    // count would bloat the plan) fall back to cache + one groupBy pass;
    // at that scale the second pass is fully parallel and amortized.
    // auditLineage always re-reads from disk — the trust-nothing path.
    val uncommitted = (0 until cfg.nBuckets).filterNot(committed)
    val observeLineage = !auditLineage && cfg.nBuckets <= 64 && uncommitted.nonEmpty
    val obs = new org.apache.spark.sql.Observation(s"lineage-$snapshotId")
    // the blob hash and length are PROJECTED ONCE per row before observe:
    // referencing xxhash64(term, bytes) inside each per-bucket metric would
    // hash the (multi-KB) blob once PER BUCKET EXPR per row — no CSE across
    // aggregate expressions (measured: encode+write 21 s -> 45 s at 2 exec)
    val obsExprs: Seq[org.apache.spark.sql.Column] = uncommitted.flatMap { b =>
      val in = col("bucket") === lit(b)
      Seq(
        sum(when(in, lit(1L)).otherwise(lit(0L))).as(s"rows_$b"),
        sum(when(in, col("_blen")).otherwise(lit(0L))).as(s"bytes_$b"),
        bit_xor(when(in, col("_bhash"))).as(s"hash_$b"))
    }
    val todo = if (observeLineage)
      todo0.toDF()
        .withColumn("_blen", length(col("bytes")).cast("long"))
        .withColumn("_bhash", xxhash64(col("term"), col("bytes")))
        .observe(obs, obsExprs.head, obsExprs.tail: _*)
        .drop("_blen", "_bhash")
    else
      todo0.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // hash-repartition on (bucket, shard-salt), no sampling pass
    // (repartitionByRange costs a FULL extra pass over the encoded blobs to
    // sample ranges). Hashing the 16 bare bucket values into 16 partitions
    // is not a bijection — balls-in-bins leaves ~1/e of the write tasks
    // empty and loads others with 2-3 whole buckets, so on 8 cores the
    // write runs as 2 skewed waves (measured: the scaling diag's
    // encode+write phase at 0.71 N→4N efficiency). Salting with
    // pmod(shard, saltK) raises the placement granularity to
    // nBuckets×saltK keys sized to ~4 units/core: the largest task carries
    // ~3 units instead of 3/16 of ALL data, and write parallelism scales
    // with the cluster instead of being capped at nBuckets. Each task still
    // writes only its distinct buckets' files, so total file count stays
    // O(nBuckets×saltK) — at 1000 executors size nBuckets up (e.g. 4096)
    // and saltK stays small.
    phase("setup")
    // preArranged: the rows were repartitioned on the SAME (bucket, salt)
    // key BEFORE the encode (shardPostingsAligned), so the multi-KB blobs
    // are already in their final placement — repeating the exchange here
    // would move every encoded byte through the wire a second time for an
    // identical layout. Non-aligned callers (upserts, ad-hoc shard sets)
    // keep the exchange.
    val placed =
      if (preArranged) todo
      else todo.repartition(cfg.nBuckets * saltKFor(spark, cfg),
        col("bucket"), pmod(col("shard"), lit(saltKFor(spark, cfg))))
    placed.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$tableDir/data")
    phase("encode+shuffle+parquet")
    val lineage: Array[TableIO.PartitionLineage] = if (observeLineage) {
      // harvest the metrics the write job already computed; a bucket with
      // zero rows gets no lineage row (same shape the groupBy path yields)
      // an all-empty write (fully gated corpus) runs zero tasks and fires
      // no metrics event -> empty map; every key defaults to zero/absent
      val m = obs.get
      def longAt(k: String): Long =
        m.get(k).flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L)
      uncommitted.iterator.map { b =>
        TableIO.PartitionLineage(b, longAt(s"rows_$b"), longAt(s"bytes_$b"), longAt(s"hash_$b"))
      }.filter(_.rows > 0L).toArray
    } else {
      // over the cached write set (identical rows); auditLineage re-reads
      // from disk — the slower trust-nothing audit path
      val lineageSrc =
        if (auditLineage)
          spark.read.parquet(s"$tableDir/data")
            .filter(!col("bucket").isin(committed.toSeq.map(x => x: Any): _*))
        else todo
      lineageSrc.groupBy("bucket").agg(
        count(lit(1)).as("rows"),
        sum(length(col("bytes"))).as("bytes"),
        // order-insensitive deterministic aggregate hash of (term, payload)
        coalesce(bit_xor(xxhash64(col("term"), col("bytes"))), lit(0L)).as("hashAgg"))
        .collect()
        .map(r => TableIO.PartitionLineage(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    phase("lineage")
    if (!observeLineage) todo.unpersist()
    val all = (prev.map(_.partitions).getOrElse(Nil) ++ lineage).sortBy(_.partition)
    // aux artifacts of the resumed snapshot stay committed (a resume adds
    // buckets to the SAME logical snapshot); mutation paths drop aux rows
    // BEFORE reaching here (upsertBuckets), so staleness can't leak through
    val m = TableIO.Manifest(snapshotId, prev.map(_.snapshotId), all, statusTime,
      aux = prev.map(_.aux).getOrElse(Nil))
    TableIO.commit(tableDir, m)
    phase("commit")
    m
  }

  /** Incremental snapshot upsert (reference POST /api/indexPage,
    * IndexingServiceImpl.java:84-94,244-264 delete+refetch+reindex;
    * SURVEY.md §7.4): replace `docs` in the corpus and rebuild ONLY the
    * buckets containing terms of the old or new versions of those docs.
    * `postings`/`docStats` are those of the UPDATED corpus; the affected
    * buckets are pre-filtered BEFORE the shard encode (shardPostings'
    * bucket predicate — a typed filter after mapGroups could not skip the
    * encode work), and everything is encoded with the snapshot's FROZEN
    * `frozenAvgDl` (TableIO.readMeta): unaffected buckets' block-max bounds
    * were baked with it, so scoring must keep using it until a full
    * rebuild/compaction refreshes corpus statistics (standard
    * incremental-IR practice). Returns the new manifest; untouched buckets
    * keep their files and lineage byte-identically. */
  def upsertBuckets(postings: DataFrame, docStats: DataFrame, frozenAvgDl: Double,
                    tableDir: String, affectedTerms: Set[String], snapshotId: Long,
                    cfg: Config = Config()): TableIO.Manifest = {
    val affectedBuckets = affectedTerms.map(bucketOf(_, cfg.nBuckets))
    val prev = TableIO.readCurrent(tableDir)
      .getOrElse(sys.error(s"upsert requires an existing committed index at $tableDir"))
    // manifest without the affected buckets == a resumable partial state;
    // write() clears the now-uncommitted bucket dirs itself (its orphan
    // cleanup) and rebuilds exactly those buckets — and ONLY those buckets
    // ever reach the encoder. Aux artifacts (champions, per-repo stats) are
    // derived from the postings, so ANY postings mutation decommits them —
    // readers fail fast instead of serving stale candidates; rebuild via
    // writeAux after the upsert.
    TableIO.commit(tableDir, prev.copy(
      partitions = prev.partitions.filterNot(p => affectedBuckets(p.partition)),
      aux = Nil))
    write(shardPostings(postings, docStats, frozenAvgDl, cfg, Some(affectedBuckets)),
      tableDir, snapshotId, cfg)
  }

  /** Compaction: full rebuild of the index from the current corpus into a
    * new snapshot with REFRESHED corpus statistics (nDocs/avgDl) — the
    * periodic counterpart to upsertBuckets' frozen-stats model. After
    * enough upserts drift the stats, compact restores exact BM25 global
    * statistics. write(resume=false) clears every bucket dir first, so
    * this is also the recovery path from arbitrary index corruption. */
  def compact(corpus: org.apache.spark.sql.DataFrame, tableDir: String,
              snapshotId: Long, cfg: Config = Config()): TableIO.Manifest = {
    val tables = InvertedIndex.build(corpus)
    val shards = shardPostingsAligned(tables.postings, tables.docStats, tables.avgDl, cfg)
    val m = write(shards, tableDir, snapshotId, cfg, resume = false, preArranged = true)
    TableIO.writeMeta(tableDir, TableIO.IndexMeta(tables.nDocs, tables.avgDl))
    tables.postings.unpersist()
    m
  }

  /** Persist a derived index ARTIFACT (champion lists, per-repo term stats,
    * …) beside the bucket index: parquet under `tableDir/aux/name`, lineage
    * (rows, bytes, order-insensitive hash) committed into the CURRENT
    * manifest's aux rows. Contract:
    *  - attaches only to a committed snapshot (artifacts are index
    *    derivatives — there is nothing consistent to derive from mid-build);
    *  - `resume = true` (default) skips the write when the manifest already
    *    carries lineage for `name` — a re-run after a crash between parquet
    *    write and manifest commit simply overwrites the orphan files;
    *  - postings mutations DECOMMIT every aux row (upsertBuckets), so a
    *    cold reader can never see an artifact inconsistent with the
    *    postings it was derived from.
    * `partitionCols` lets term-keyed artifacts keep the same bucket
    * partition pruning as the postings.
    *
    * Concurrency: builders of DISTINCT artifact names may run in parallel
    * (the driver overlaps independent aux jobs — see SparkEntry
    * .persistedAux); the expensive parquet write + lineage scan runs
    * unlocked, and only the manifest read-modify-commit serializes under a
    * per-tableDir lock, re-reading the manifest inside the critical section
    * so no concurrent artifact's lineage row is lost. Two concurrent
    * writers of the SAME name remain a caller bug (they would race the
    * Overwrite of one parquet dir). */
  private val auxCommitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def writeAux(df: DataFrame, tableDir: String, name: String,
               partitionCols: Seq[String] = Nil,
               resume: Boolean = true): TableIO.Manifest = {
    require(name.matches("[a-z0-9_]+"), s"aux artifact name must be [a-z0-9_]+: $name")
    val prev = TableIO.readCurrent(tableDir).getOrElse(sys.error(
      s"aux artifact '$name' attaches to a committed index snapshot; none at $tableDir"))
    if (resume && prev.aux.exists(_.name == name)) return prev
    val dir = s"$tableDir/aux/$name"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    // lineage from the files a cold reader will actually scan (trust the
    // disk, not the in-memory df): order-insensitive xxhash over every
    // column, column order fixed by name so the hash is layout-independent
    val back = df.sparkSession.read.parquet(dir)
    val r = back.agg(
      count(lit(1)).as("rows"),
      coalesce(bit_xor(xxhash64(back.columns.sorted.map(col).toSeq: _*)), lit(0L)).as("h")).head()
    val bytes = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
    }
    val lock = auxCommitLocks.computeIfAbsent(
      java.nio.file.Paths.get(tableDir).toAbsolutePath.normalize.toString,
      _ => new Object)
    lock.synchronized {
      val cur = TableIO.readCurrent(tableDir).getOrElse(sys.error(
        s"index manifest vanished during aux write of '$name' at $tableDir"))
      val m = cur.copy(aux = cur.aux.filterNot(_.name == name) :+
        TableIO.AuxLineage(name, r.getLong(0), bytes, r.getLong(1)))
      TableIO.commit(tableDir, m)
      m
    }
  }

  /** Merge two INDEPENDENTLY BUILT committed indexes into a third without
    * re-encoding posting bodies — the parallel-build-then-merge shape of a
    * distributed index build: a global stats pass fixes (nDocs, avgDl)
    * first, disjoint corpus partitions encode in parallel against those
    * frozen stats (the same frozen-stats contract `upsertBuckets` uses),
    * and the merge concatenates blobs per (term, shard) in ascending docId
    * order — `PostingCodec.concat` is an O(bytes) copy with delta rebase,
    * never a decode.
    *
    * Requirements, both enforced:
    *  - both sides encoded under the SAME avgDl (`_meta.json` equality) —
    *    the float32 block-max BM25 bounds baked into the blobs are upper
    *    bounds only under the avgDl they were computed with, and a merge
    *    must not silently invalidate WAND's pruning certificate;
    *  - ascending docId ranges A-then-B within any shared (term, shard)
    *    group (disjoint corpus partitions; concat's own require trips
    *    otherwise).
    *
    * Scale note: only the BOUNDARY shard of each corpus partition can
    * appear on both sides (shard = docId / docsPerShard, ranges disjoint),
    * so all but O(#terms) groups are single-element pass-throughs; the
    * groupByKey shuffle is dominated by the destination write that follows
    * it either way. Merged meta: nDocs = nA + nB, avgDl = the shared
    * frozen value. */
  def mergeIndexes(spark: SparkSession, dirA: String, dirB: String,
                   dstDir: String, snapshotId: Long,
                   cfg: Config = Config()): TableIO.Manifest = {
    import spark.implicits._
    val ma = TableIO.readMeta(dirA).getOrElse(sys.error(s"no _meta.json at $dirA"))
    val mb = TableIO.readMeta(dirB).getOrElse(sys.error(s"no _meta.json at $dirB"))
    require(ma.avgDl == mb.avgDl,
      "mergeIndexes requires both sides encoded under the SAME frozen avgDl " +
        s"(block-max bounds are avgDl-specific): ${ma.avgDl} vs ${mb.avgDl}")
    def readAll(d: String, side: Int) = spark.read.parquet(s"$d/data")
      .select("term", "shard", "bucket", "numDocs", "maxTfNorm", "bytes")
      .as[ShardPosting].map(sp => (sp, side))
    val merged = readAll(dirA, 0).union(readAll(dirB, 1))
      .groupByKey { case (sp, _) => (sp.term, sp.shard) }
      .mapGroups { (key: (String, Int), it: Iterator[(ShardPosting, Int)]) =>
        val runs = it.toArray.sortBy(_._2).map(_._1)
        if (runs.length == 1) runs(0)
        else ShardPosting(key._1, key._2, runs(0).bucket,
          runs.map(_.numDocs).sum, runs.map(_.maxTfNorm).max,
          PostingCodec.concat(runs.map(_.bytes).toSeq))
      }
    val m = write(merged, dstDir, snapshotId, cfg, resume = false)
    TableIO.writeMeta(dstDir, TableIO.IndexMeta(ma.nDocs + mb.nDocs, ma.avgDl))
    m
  }

  /** Cold-read a committed aux artifact. Fails fast when `name` has no
    * lineage row in the current manifest (never written, or decommitted by
    * a postings mutation) — stale candidate sets must not serve queries. */
  def readAux(spark: SparkSession, tableDir: String, name: String): DataFrame = {
    val man = TableIO.readCurrent(tableDir).getOrElse(sys.error(
      s"no committed index snapshot at $tableDir"))
    if (!man.aux.exists(_.name == name)) sys.error(
      s"aux artifact '$name' is not committed in snapshot ${man.snapshotId} at $tableDir " +
        "(never written, or decommitted by a postings mutation — rebuild via writeAux)")
    spark.read.parquet(s"$tableDir/aux/$name")
  }

  /** Read the index back, pruned to the query's terms: partition pruning on
    * bucket (only |terms| of nBuckets dirs are scanned) + pushed term
    * filter. */
  def readForTerms(spark: SparkSession, tableDir: String, terms: Seq[String],
                   cfg: Config = Config()): Dataset[ShardPosting] = {
    import spark.implicits._
    val buckets = terms.map(bucketOf(_, cfg.nBuckets)).distinct
    // the schema is known: no footer-reading inference job per query
    spark.read.schema(Encoders.product[ShardPosting].schema).parquet(s"$tableDir/data")
      .filter(col("bucket").isin(buckets.map(x => x: Any): _*))
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .select("term", "shard", "bucket", "numDocs", "maxTfNorm", "bytes")
      .as[ShardPosting]
  }
}
