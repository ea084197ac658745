package graft

import graft.SparkTestSession.jobsOf
import graft.corpus.Corpus
import graft.index.{IndexWriter, InvertedIndex, PostingCodec}
import graft.query.{Bm25, Oracle, QueryFrontend, Search, Wand}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WAND path ≡ exhaustive DataFrame path ≡ scalar oracle (SURVEY.md §5.2-5:
  * J5a ≡ J5b ≡ WAND), on both the Zipf generator corpus (hot-term skew) and
  * the driver corpus. */
class WandSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // small docsPerShard so even sf0.001 exercises multi-shard grouping,
  // block skipping across shard boundaries, and the salted merge
  val cfg = IndexWriter.Config(docsPerShard = 64, nBuckets = 8, saltWidth = 2)

  def checkCorpus(corpusName: String, corpus: org.apache.spark.sql.DataFrame,
                  queriesToRun: Seq[String]): Unit = {
    val t = InvertedIndex.build(corpus)
    val shards = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg).cache()
    shards.count() // materialized first, so a query's job count is its own
    val docs = corpus.select("doc_id", "repo", "lang", "content").collect()
      .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val oracle = new Oracle.Index(docs.toIndexedSeq)
    queriesToRun.foreach { q =>
      val p = QueryFrontend.plan(t.termStats, "en", q)
      if (!p.isEmpty) {
        val idfs = p.terms.map(ti => ti.term -> Bm25.idfS(ti.df, t.nDocs)).toMap
        val qShards = shards.filter(s => idfs.contains(s.term))
        val (gotW, jobs) = jobsOf(Wand.topK(qShards, idfs, t.avgDl, 10)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))))
        assert(jobs == 1, s"[$corpusName/$q] Wand.topK ran $jobs jobs")
        // topK is the view of countTopK's ranked rows
        val ranked = Wand.countTopK(qShards, idfs, t.avgDl, 10).ranked
        assert(gotW.toSeq == ranked.toSeq.zipWithIndex.map { case (h, i) => (i + 1, h.docId, h.score) },
          s"[$corpusName/$q] topK vs countTopK.ranked")
        val dfs = p.terms.map(ti => ti.term -> ti.df).toMap
        val gotD = Search.bm25TopK(t.postings, t.docStats, dfs, t.nDocs, t.avgDl, 10)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        val want = oracle.topK("en", q, 10)
        assert(gotW.map(_._2).toSeq == want.map(_.docId),
          s"[$corpusName/$q] WAND docIds ${gotW.map(_._2).toSeq} vs oracle ${want.map(_.docId)}")
        assert(gotD.map(_._2).toSeq == want.map(_.docId), s"[$corpusName/$q] DF path docIds")
        gotW.zip(want).foreach { case ((_, _, s), o) =>
          assert(math.abs(s - o.bm25) < 1e-9, s"[$corpusName/$q] WAND score $s vs ${o.bm25}")
        }
      }
    }
  }

  test("WAND ≡ DataFrame ≡ oracle on the Zipf generator corpus (hot terms)") {
    val corpus = Corpus.assignDocIds(Corpus.generate(spark, nDocs = 400, nRepos = 6).toDF())
    // tok0/tok1 are Zipf-head (hot); tok heavy tail is rare
    checkCorpus("gen", corpus,
      Seq("tok0", "tok0 tok1", "tok1 tok2 tok3", "tok42 tok0", "tok123"))
  }

  test("WAND ≡ DataFrame ≡ oracle on sf0.001 documents corpus") {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    checkCorpus("sf0.001", corpus,
      Seq("dup", "join spark", "hash join sort merge", "dup spark", "scan"))
  }

  test("disjunctive WAND ≡ disjunctive DataFrame ≡ oracle (OR semantics)") {
    Seq(
      ("gen", Corpus.assignDocIds(Corpus.generate(spark, 400, 6).toDF()),
        Seq("tok0 tok1", "tok42 tok123", "tok7 tok99 tok3")),
      ("sf0.001", Corpus.fromDocuments(spark, "/root/testdata/sf0.001"),
        Seq("dup spark", "hash join sort merge"))
    ).foreach { case (name, corpus, qs) =>
      val t = InvertedIndex.build(corpus)
      val shardsDs = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg).cache()
      shardsDs.count()
      val docs = corpus.select("doc_id", "repo", "lang", "content").collect()
        .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      val oracle = new Oracle.Index(docs.toIndexedSeq)
      qs.foreach { q =>
        val p = QueryFrontend.plan(t.termStats, "en", q)
        if (!p.isEmpty) {
          val dfs = p.terms.map(ti => ti.term -> ti.df).toMap
          val idfs = p.terms.map(ti => ti.term -> Bm25.idfS(ti.df, t.nDocs)).toMap
          val want = oracle.topKDisjunctive("en", q, 10)
          val (gotW, wJobs) = jobsOf(Wand.topKDisjunctive(shardsDs.filter(sp => idfs.contains(sp.term)),
              idfs, t.avgDl, 10)
            .collect().map(r => (r.getLong(1), r.getDouble(2))))
          assert(wJobs == 1, s"[$name/$q] topKDisjunctive ran $wJobs jobs")
          val gotD = Search.bm25TopKDisjunctive(t.postings, t.docStats, dfs, t.nDocs, t.avgDl, 10)
            .collect().map(r => (r.getLong(1), r.getDouble(2)))
          assert(gotW.map(_._1).toSeq == want.map(_.docId), s"[$name/$q] WAND-OR docIds")
          assert(gotD.map(_._1).toSeq == want.map(_.docId), s"[$name/$q] DF-OR docIds")
          gotW.zip(want).foreach { case ((_, s), o) =>
            assert(math.abs(s - o.bm25) < 1e-9, s"[$name/$q] score $s vs ${o.bm25}")
          }
          val (gotM, mJobs) = jobsOf(Wand.maxScoreTopK(shardsDs.filter(sp => idfs.contains(sp.term)),
              idfs, t.avgDl, 10)
            .collect().map(r => (r.getLong(1), r.getDouble(2))))
          assert(mJobs == 1, s"[$name/$q] maxScoreTopK ran $mJobs jobs")
          assert(gotM.map(_._1).toSeq == want.map(_.docId), s"[$name/$q] MaxScore docIds")
          gotM.zip(want).foreach { case ((_, s), o) =>
            assert(math.abs(s - o.bm25) < 1e-9, s"[$name/$q] MaxScore score")
          }
        }
      }
    }
  }

  test("BMW pivot extension: same-doc cursors past the pivot index must count (regression)") {
    import spark.implicits._
    // Crafted case: doc 200 sits in the SECOND block of both lists with a
    // small per-term block-max; either cursor's truncated bound is below θ
    // but the two together beat it. A pivot that stops at the first cursor
    // (pre-fix behavior) skips doc 200 and wrongly returns doc 1.
    val avgDl = 50.0
    def norm(tf: Int, dl: Int): Double = Bm25.tfNormS(tf, dl, avgDl)
    def blob(ps: Seq[(Long, Int, Int)]): Array[Byte] =
      PostingCodec.encode(
        ps.map { case (d, tf, dl) => PostingCodec.Posting(d, tf, dl) }.toIndexedSeq,
        (tf, dl) => norm(tf, dl))
    val fillers = (3L to 129L).map(i => (i, 1, 10000)) // 127 tiny-score docs
    val aPost = Seq((2L, 100, 100)) ++ fillers ++ Seq((200L, 5, 5)) // 129 => 2 blocks
    val bPost = Seq((1L, 100, 100)) ++ fillers ++ Seq((200L, 5, 5))
    val w = Bm25.idfS(129, 1000)
    val theta = w * norm(100, 100)
    // preconditions that make the case adversarial
    assert(aPost.size > PostingCodec.blockSize && w * norm(5, 5) < theta && 2 * w * norm(5, 5) > theta)
    val shardsDs = Seq(
      index.ShardPosting("a", 0, 0, aPost.size, norm(100, 100).toFloat, blob(aPost)),
      index.ShardPosting("b", 0, 0, bPost.size, norm(100, 100).toFloat, blob(bPost))).toDS()
    val got = Wand.topKDisjunctive(shardsDs, Map("a" -> w, "b" -> w), avgDl, 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(200L), s"top-1 must be doc 200, got $got")
    assert(math.abs(got.head._2 - 2 * w * norm(5, 5)) < 1e-9)
  }

  test("all-stopword doc: engine avgDl (over docs with postings) ≡ oracle") {
    // a doc that analyzes to ZERO tokens must not drag avgDl down on one
    // side only (the engine averages over docStats, which has no such doc)
    val rows = Seq(
      (0L, "r0", "en", "spark join query plan"),
      (1L, "r0", "en", "the a the a"), // all naturalStop words -> zero tokens
      (2L, "r1", "en", "join hash spark"),
      (3L, "r1", "en", "query scan join spark plan"))
    import spark.implicits._
    val corpus = rows.toDF("doc_id", "repo", "lang", "content")
    checkCorpus("stopdoc", corpus, Seq("spark join", "query", "join"))
  }

  test("merged global posting lists decode to the same postings as the shards") {
    val corpus = Corpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val t = InvertedIndex.build(corpus)
    val shards = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg)
    val merged = IndexWriter.mergeShards(shards, cfg)
    val got = merged.filter(col("term") === "spark").collect()
    assert(got.length == 1) // one global list per term after the salted merge
    val decoded = new PostingCodec.Decoded(got.head.bytes).decodeAll()
    val want = t.postings.filter(col("term") === "spark")
      .join(t.docStats, "doc_id")
      .select("doc_id", "tf", "dl").collect()
      .map(r => PostingCodec.Posting(r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
      .sortBy(_.docId).toIndexedSeq
    assert(decoded == want)
    assert(got.head.numDocs == want.size)
  }

  test("randomized queries: WAND ≡ oracle over 30 seeded random term sets") {
    val corpus = Corpus.assignDocIds(Corpus.generate(spark, 500, 8).toDF())
    val t = InvertedIndex.build(corpus)
    val shardsDs = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg).cache()
    val docs = corpus.select("doc_id", "repo", "lang", "content").collect()
      .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val oracle = new Oracle.Index(docs.toIndexedSeq)
    val vocabDfs = t.termStats.collect().map(r => r.getString(0)).sorted
    var h = 0xC0FFEEL
    (1 to 30).foreach { i =>
      h = graft.corpus.Corpus.splitmix64(h)
      val nTerms = 1 + (math.abs(h) % 3).toInt
      val terms = (0 until nTerms).map { j =>
        h = graft.corpus.Corpus.splitmix64(h)
        vocabDfs((math.abs(h) % vocabDfs.length).toInt)
      }.distinct
      val q = terms.mkString(" ")
      val p = QueryFrontend.plan(t.termStats, "en", q)
      if (!p.isEmpty) {
        val idfs = p.terms.map(ti => ti.term -> Bm25.idfS(ti.df, t.nDocs)).toMap
        val want = oracle.topK("en", q, 10)
        val got = Wand.topK(shardsDs.filter(sp => idfs.contains(sp.term)), idfs, t.avgDl, 10)
          .collect().map(r => (r.getLong(1), r.getDouble(2)))
        assert(got.map(_._1).toSeq == want.map(_.docId), s"[rand-$i '$q'] docIds")
        got.zip(want).foreach { case ((_, sc), o) =>
          assert(math.abs(sc - o.bm25) < 1e-9, s"[rand-$i '$q'] score")
        }
        // disjunctive too — both pruning strategies against the oracle
        val wantOr = oracle.topKDisjunctive("en", q, 10)
        val gotOr = Wand.topKDisjunctive(shardsDs.filter(sp => idfs.contains(sp.term)), idfs, t.avgDl, 10)
          .collect().map(r => r.getLong(1))
        assert(gotOr.toSeq == wantOr.map(_.docId), s"[rand-$i '$q'] OR docIds")
        val gotMs = Wand.maxScoreTopK(shardsDs.filter(sp => idfs.contains(sp.term)), idfs, t.avgDl, 10)
          .collect().map(r => r.getLong(1))
        assert(gotMs.toSeq == wantOr.map(_.docId), s"[rand-$i '$q'] MaxScore docIds")
      }
    }
  }
}
