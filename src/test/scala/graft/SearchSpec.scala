package graft

import graft.corpus.Corpus
import graft.index.InvertedIndex
import graft.query.{Bm25, Oracle, QueryFrontend, Search}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Relevance-ranked output tests (FIXTURES.md §2-3): engine top-k must be
  * rank-identical to the committed in-memory scalar oracle, ties broken by
  * docId asc; plus reference-parity Σtf scoring and the front-end edge
  * paths (missing term, stopword-only query, prune). */
class SearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** reference query set (FIXTURES.md §3) over the documents vocabulary */
  val queries = Seq(
    "q_rare"      -> "dup",                 // rare term
    "q_hot"       -> "scan",                // Zipf-head term
    "q_2term"     -> "join spark",
    "q_4term"     -> "hash join sort merge",
    "q_rare_hot"  -> "dup spark",
    "q_camel"     -> "joinSpark",           // analyzer must split
    "q_dup3"      -> "spark spark join"     // duplicate surface forms collapse
  )

  lazy val (corpus, tables, oracle) = {
    val c = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val t = InvertedIndex.build(c)
    val docs = c.select("doc_id", "repo", "lang", "content").collect()
      .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    (c, t, new Oracle.Index(docs.toIndexedSeq))
  }

  test("oracle index agrees with engine tf/df/dl on sf0.001") {
    val engDf = tables.termStats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(engDf == oracle.df)
    val engDl = tables.docStats.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engDl == oracle.dl)
    assert(tables.nDocs == oracle.nDocs)
    assert(math.abs(tables.avgDl - oracle.avgDl) < 1e-12)
  }

  test("BM25 top-10 rank-identical to oracle for the whole query set") {
    queries.foreach { case (qid, q) =>
      val p = QueryFrontend.plan(tables.termStats, "en", q)
      val want = oracle.topK("en", q, 10)
      if (p.isEmpty) assert(want.isEmpty, s"$qid: engine planned empty but oracle found results")
      else {
        val dfs = p.terms.map(t => t.term -> t.df).toMap
        val got = Search.bm25TopK(tables.postings, tables.docStats, dfs,
            tables.nDocs, tables.avgDl, 10)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        assert(got.length == want.length, s"$qid: size ${got.length} vs ${want.length}")
        got.zip(want).zipWithIndex.foreach { case (((rk, id, sc), o), i) =>
          assert(rk == i + 1, s"$qid rank at $i")
          assert(id == o.docId, s"$qid docId at rank ${i + 1}: got $id want ${o.docId}")
          assert(math.abs(sc - o.bm25) < 1e-9, s"$qid score at rank ${i + 1}: $sc vs ${o.bm25}")
        }
      }
    }
  }

  test("Dirichlet QL top-10 == scalar recompute (disjunctive, zero-tf via the constant)") {
    import graft.query.Lm
    val totalTokens = oracle.dl.values.sum
    Seq("q_2term" -> Seq("join", "spark"), "q_rare_hot" -> Seq("dup", "spark"),
        "q_hot" -> Seq("scan")).foreach { case (qid, terms) =>
      // scalar side, from the oracle's exact tf/dl maps
      val tfByDoc: Map[Long, Map[String, Long]] = tables.postings
        .filter(col("term").isin(terms.map(x => x: Any): _*))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("tf")))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(x => x._2 -> x._3).toMap }
      val cfs = terms.map(t => t -> tfByDoc.valuesIterator.map(_.getOrElse(t, 0L)).sum).toMap
      val want = tfByDoc.toSeq
        .map { case (d, tfs) => (d, Lm.scoreS(tfs, oracle.dl(d), cfs, totalTokens)) }
        .sortBy { case (d, s) => (-s, d) }.take(10)
      val got = Lm.qlTopK(tables.postings, tables.docStats, cfs, totalTokens, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == want.length, s"$qid size")
      got.zip(want).zipWithIndex.foreach { case (((rk, id, sc), (wd, ws)), i) =>
        assert(rk == i + 1, s"$qid rank at $i")
        assert(id == wd, s"$qid docId at rank ${i + 1}: got $id want $wd")
        assert(math.abs(sc - ws) < 1e-9, s"$qid score at rank ${i + 1}: $sc vs $ws")
      }
      // QL semantics: a doc matching ONE hot term can still rank — candidates
      // are disjunctive (unlike bm25TopK's conjunction)
      if (terms.size > 1) {
        val partial = tfByDoc.filter(_._2.size < terms.size)
        assert(partial.nonEmpty, s"$qid: fixture has no partial-match docs")
      }
    }
  }

  test("planCost: dictionary-only estimate; missing term zeroes the candidate bound") {
    import spark.implicits._
    val qlog = Seq((0L, "join"), (0L, "spark"),
      (1L, "spark"), (1L, "warpdrive"), (2L, "dup")).toDF("query_id", "term")
    val got = QueryFrontend.planCost(tables.termStats, qlog).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val dfm = tables.termStats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got(0L) == ((2L, 2L, dfm("join") + dfm("spark"), math.min(dfm("join"), dfm("spark")))))
    // missing term: matched < n_terms and the conjunctive bound is ZERO
    assert(got(1L) == ((2L, 1L, dfm("spark"), 0L)))
    assert(got(2L) == ((1L, 1L, dfm("dup"), dfm("dup"))))
  }

  test("explain: factors multiply to the contribution; contributions sum to the doc score") {
    val p = QueryFrontend.plan(tables.termStats, "en", "join spark")
    val dfs = p.terms.map(t => t.term -> t.df).toMap
    val rows = Search.explain(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    assert(rows.nonEmpty && rows.map(_._2).distinct.length == 3)
    rows.foreach { case (_, _, term, _, df, _, idf, tfn, contrib) =>
      assert(df == dfs(term))
      assert(math.abs(idf * tfn - contrib) < 1e-12, s"$term factors")
    }
    // per-doc contributions reproduce the ranking's scores
    val want = oracle.topK("en", "join spark", 3)
    rows.groupBy(_._2).foreach { case (docId, ts) =>
      val o = want.find(_.docId == docId).get
      assert(math.abs(ts.map(_._9).sum - o.bm25) < 1e-9, s"doc $docId sum")
      assert(ts.map(_._3).toSet == dfs.keySet, s"doc $docId must explain EVERY query term")
    }
  }

  test("recencyTopK: multiplicative half-life decay == scalar recompute; reorders vs pure BM25") {
    val q = "join spark"
    val p = QueryFrontend.plan(tables.termStats, "en", q)
    val dfs = p.terms.map(t => t.term -> t.df).toMap
    val ages = corpus.select(col("doc_id"), (col("doc_id") % 365).as("age_days"))
    val all = oracle.topK("en", q, Int.MaxValue)
    val want = all.map(o => (o.docId, o.bm25 * math.pow(0.5, (o.docId % 365).toDouble / 30.0)))
      .sortBy { case (d, s) => (-s, d) }.take(10)
    val got = Search.recencyTopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, ages, halfLifeDays = 30.0, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case (((rk, id, sc), (wd, ws)), i) =>
      assert(rk == i + 1 && id == wd, s"rank ${i + 1}: got $id want $wd")
      assert(math.abs(sc - ws) < 1e-9)
    }
    // the decay genuinely reorders: a 30-day half-life over 0..364-day ages
    // cannot leave the pure-BM25 order intact on this fixture
    val pure = all.sortBy(o => (-o.bm25, o.docId)).take(10).map(_.docId)
    assert(got.map(_._2).toSeq != pure, "decay should reorder the top-10")
  }

  test("groupedTopK: best m per repo == oracle regroup; WindowGroupLimit plan") {
    val q = "join spark"
    val p = QueryFrontend.plan(tables.termStats, "en", q)
    val dfs = p.terms.map(t => t.term -> t.df).toMap
    val repoOf = corpus.select("doc_id", "repo").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // oracle: all conjunctive candidates with scores, regrouped per repo
    val all = oracle.topK("en", q, Int.MaxValue)
    val want = all.groupBy(o => repoOf(o.docId)).view.mapValues(
      _.sortBy(o => (-o.bm25, o.docId)).take(2)).toMap
    val res = Search.groupedTopK(tables.postings, tables.docStats, corpus,
      dfs, tables.nDocs, tables.avgDl, m = 2)
    val got = res.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == want.keySet)
    want.foreach { case (repo, os) =>
      val g = got(repo).sortBy(_._2)
      assert(g.length == os.length, s"$repo size")
      g.zip(os).zipWithIndex.foreach { case (((_, rk, id, sc), o), i) =>
        assert(rk == i + 1 && id == o.docId, s"$repo rank ${i + 1}: got $id want ${o.docId}")
        assert(math.abs(sc - o.bm25) < 1e-9)
      }
    }
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("Σtf parity scoring matches oracle ordering (int cast)") {
    val p = QueryFrontend.plan(tables.termStats, "en", "join spark")
    val got = Search.sumTfTopK(tables.postings, p.terms.map(_.term), 10)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    val want = oracle.topKSumTf("en", "join spark", 10).map(s => (s.docId, s.sumTf.toInt))
    assert(got.toSeq == want)
  }

  test("conjunctive candidates: count-k form == chained semi-join form (J5a ≡ J5b)") {
    val terms = Seq("join", "spark", "hash")
    val a = Search.conjunctive(tables.postings, terms).collect().map(_.getLong(0)).toSet
    val b = Search.conjunctiveSemi(tables.postings, terms).collect().map(_.getLong(0)).toSet
    assert(a == b)
    // intersection ⊆ every term's posting list
    terms.foreach { t =>
      val pl = oracle.postingList(t).toSet
      assert(a.subsetOf(pl), s"candidates not within posting list of $t")
    }
  }

  test("missing-term query short-circuits with the missing terms listed") {
    val p = QueryFrontend.plan(tables.termStats, "en", "spark warpdrive flux")
    assert(p.terms.isEmpty)
    assert(p.missing == Seq("flux", "warpdrive"))
  }

  test("stopword-only query plans empty (reference empty-query error path)") {
    val p = QueryFrontend.plan(tables.termStats, "en", "the a the")
    assert(p.isEmpty && p.missing.isEmpty)
  }

  test("common-term prune drops hot terms: reference integer semantics") {
    // synthetic dfs with a genuinely prunable outlier
    val infos = Seq(
      QueryFrontend.TermInfo("t1", 5), QueryFrontend.TermInfo("t2", 7),
      QueryFrontend.TermInfo("t3", 6), QueryFrontend.TermInfo("t4", 4),
      QueryFrontend.TermInfo("hot", 100000))
    val (kept, dropped) = QueryFrontend.pruneCommon(infos)
    // avgInt = 100022/5 = 20004; sigma = sqrt(Σ(df-20004)²/4) ≈ 44719.6
    // threshold = 20004 + 2σ ≈ 109443 -> hot kept?? verify exact:
    val avgInt = infos.map(_.df).sum / infos.size
    val sigma = math.sqrt(infos.map(t => math.pow((t.df - avgInt).toDouble, 2)).sum / (infos.size - 1))
    val thr = (avgInt + 2 * sigma).toInt
    assert(kept.map(_.term).toSet == infos.filter(_.df <= thr).map(_.term).toSet)
    assert(dropped.map(_.term).toSet == infos.filter(_.df > thr).map(_.term).toSet)
    // and a case that provably drops: one hot among many equal smalls
    val many = (1 to 20).map(i => QueryFrontend.TermInfo(s"s$i", 10)) :+ QueryFrontend.TermInfo("hot", 10000)
    val (k2, d2) = QueryFrontend.pruneCommon(many)
    assert(d2.map(_.term) == Seq("hot") && k2.size == 20)
  }

  test("prune skipped for single-term query (reference <2 guard)") {
    val (kept, dropped) = QueryFrontend.pruneCommon(Seq(QueryFrontend.TermInfo("x", 999999)))
    assert(kept.size == 1 && dropped.isEmpty)
  }

  test("pagination: offset/limit slice matches oracle slice") {
    val p = QueryFrontend.plan(tables.termStats, "en", "join spark")
    val dfs = p.terms.map(t => t.term -> t.df).toMap
    val got = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, k = 5, offset = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val want = oracle.topK("en", "join spark", 5, offset = 5)
    assert(got.map(_._2).toSeq == want.map(_.docId))
    assert(got.map(_._1).toSeq == (6 to 10))
  }

  test("repo-scoped search returns only that repo's docs (F5)") {
    val res = Search.search(corpus, tables.postings, tables.docStats, tables.termStats,
      tables.nDocs, tables.avgDl, query = "spark join", repoFilter = Some("src3"), limit = 10)
    val repos = res.select("repo").collect().map(_.getString(0)).toSet
    assert(repos == Set("src3") || repos.isEmpty)
    // and it equals the oracle restricted to that repo
    val docsSub = corpus.filter(col("repo") === "src3")
      .select("doc_id", "repo", "lang", "content").collect()
      .map(r => Oracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    // (oracle over sub-corpus has different df/avgdl; here we only check
    //  membership: every hit contains all query terms and is in src3)
    val hitIds = res.select("doc_id").collect().map(_.getLong(0)).toSet
    val inRepo = docsSub.map(_.docId).toSet
    assert(hitIds.subsetOf(inRepo))
  }

  test("collapseByRepo keeps the best result per repo, re-ranked globally") {
    import spark.implicits._
    val pool = Seq(
      (1L, "rA", 9.0), (2L, "rA", 8.0), // rA: doc 1 wins
      (3L, "rB", 8.5),
      (4L, "rC", 8.5), (5L, "rC", 8.5)  // rC tie: lowest doc_id (4) wins
    ).toDF("doc_id", "repo", "score")
    val got = Search.collapseByRepo(pool, perRepo = 1, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(got.toList == List((1, 1L, "rA"), (2, 3L, "rB"), (3, 4L, "rC")))
    // perRepo = 2 keeps two from rC
    val got2 = Search.collapseByRepo(pool, perRepo = 2, k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(got2 == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("prefix expansion: range-probe semantics, ordered, fan-out capped") {
    import spark.implicits._
    val ts = Seq(("spark", 40L), ("spars", 10L), ("split", 40L), ("span", 5L), ("query", 9L))
      .toDF("term", "df")
    val got = QueryFrontend.prefixTerms(ts, "sp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // df desc, term asc; 'split' excluded? no — starts with 'sp' too
    assert(got == List(("spark", 40L), ("split", 40L), ("spars", 10L), ("span", 5L)))
    assert(QueryFrontend.prefixTerms(ts, "sp", maxExpand = 2)
      .collect().map(_.getString(0)).toList == List("spark", "split"))
    assert(QueryFrontend.prefixTerms(ts, "z").count() == 0)
  }

  test("wildcard: k-gram candidates + LIKE post-filter == brute-force LIKE") {
    import spark.implicits._
    val dict = Seq("retired", "red", "redo", "read", "spark", "scan", "small",
      "stream", "filter", "customer", "order", "sort")
    val ts = dict.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }.toDF("term", "df")
    def bruteLike(pat: String): Set[String] = {
      val re = ("^" + pat.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
      dict.filter(t => re.findFirstIn(t).isDefined).toSet
    }
    // IIR's classic false positive: `red*` grams {$r, re, ed} ⊂ "retired"'s
    // gram set, so "retired" is a CANDIDATE — the post-filter must kill it
    assert(QueryFrontend.wildcardGrams("red*").toSet == Set("$r", "re", "ed"))
    for (pat <- Seq("red*", "s*a*", "*er", "f*er", "sp*rk*", "s*am", "*a*", "red")) {
      val got = QueryFrontend.wildcardTerms(ts, pat).collect().map(_.getString(0)).toSet
      assert(got == bruteLike(pat), s"pattern '$pat': got $got want ${bruteLike(pat)}")
    }
    // ordering df desc / term asc, and fan-out cap
    val top = QueryFrontend.wildcardTerms(ts, "*e*", maxExpand = 2)
      .collect().map(_.getString(0)).toList
    val wantTop = dict.zipWithIndex.filter(_._1.contains("e"))
      .sortBy { case (t, i) => (-(i + 1), t) }.map(_._1).take(2)
    assert(top == wantTop)
    // guards: no literal char / illegal chars
    intercept[IllegalArgumentException](QueryFrontend.wildcardTerms(ts, "*"))
    intercept[IllegalArgumentException](QueryFrontend.wildcardTerms(ts, "a%b"))
  }

  test("RRF fusion == scalar recompute; absent docs contribute zero") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = Search.rrfFuse(a, b, k0 = 60, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = Map(10L -> 1.0 / 61, 20L -> (1.0 / 62 + 1.0 / 61),
      30L -> 1.0 / 63, 40L -> 1.0 / 62)
      .toSeq.sortBy { case (d, s) => (-s, d) }
    assert(got.map(_._2).toSeq == want.map(_._1))
    got.zip(want).zipWithIndex.foreach { case (((rk, _, g), (_, w)), i) =>
      assert(rk == i + 1)
      assert(g == w, s"rrf at rank ${i + 1}: $g vs $w") // bit-exact, no tolerance
    }
  }

  test("MMR diversification: demotes the near-duplicate; == scalar recompute on real data") {
    import spark.implicits._
    // crafted pool: A(1) top by tf; B(2) is a near-duplicate of A (shared
    // filler terms, slightly lower tf); C(3) matches less but shares nothing
    // with A. Pure BM25 orders A,B,C — MMR must pick C second.
    val posts = Seq(
      (1L, "q", 5L), (1L, "f1", 1L), (1L, "f2", 1L), (1L, "f3", 1L),
      (2L, "q", 4L), (2L, "f1", 1L), (2L, "f2", 1L), (2L, "f3", 1L),
      (3L, "q", 2L), (3L, "g1", 1L), (3L, "g2", 1L), (3L, "g3", 1L)
    ).toDF("doc_id", "term", "tf")
    val dstats = Seq((1L, 8L), (2L, 7L), (3L, 5L)).toDF("doc_id", "dl")
    val got = Search.mmrTopK(posts, dstats, Map("q" -> 3L), nDocs = 3,
        avgDl = 20.0 / 3, poolSize = 3, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)),
      s"MMR should order A,C,B — got ${got.toSeq}")
    // real-data scalar recompute: pool, pairwise Jaccard, greedy — all redone
    // driver-side from raw collected postings
    val dfs = QueryFrontend.lookupDf(tables.termStats, Set("join", "spark"))
    val pool = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    val ids = pool.map(_._1).toSet
    val termSets = tables.postings.filter(col("doc_id").isin(ids.toSeq.map(x => x: Any): _*))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    def jac(x: Long, y: Long): Double = {
      val i = (termSets(x) intersect termSets(y)).size
      if (i == 0) 0.0 else i.toDouble / (termSets(x).size + termSets(y).size - i)
    }
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val rem = scala.collection.mutable.LinkedHashMap(pool.toSeq: _*)
    while (sel.size < 4 && rem.nonEmpty) {
      val best = rem.map { case (d, s) =>
        val ms = if (sel.isEmpty) 0.0 else sel.iterator.map(t => jac(d, t._1)).max
        (d, 0.5 * s - 0.5 * ms)
      }.minBy { case (d, m) => (-m, d) }
      sel += best; rem -= best._1
    }
    val eng = Search.mmrTopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, poolSize = 10, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(eng.map(_._1).toSeq == sel.map(_._1).toSeq)
    eng.zip(sel).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-9) }
  }

  test("xquadTopK: aspect coverage beats equal-relevance redundancy") {
    import spark.implicits._
    // three docs with IDENTICAL relevance for q; d1,d2 cover aspect A,
    // d3 covers aspect B. Greedy must go d1 (tie→id), then d3 (novel
    // aspect), then d2 — pure relevance would give d1,d2,d3.
    val posts = Seq(
      (1L, "q", 1L), (1L, "a", 1L),
      (2L, "q", 1L), (2L, "a", 1L),
      (3L, "q", 1L), (3L, "b", 1L)
    ).toDF("doc_id", "term", "tf")
    val dstats = Seq((1L, 2L), (2L, 2L), (3L, 2L)).toDF("doc_id", "dl")
    val topics = Map("ta" -> Seq("a"), "tb" -> Seq("b"))
    val got = Search.xquadTopK(posts, dstats, Map("q" -> 3L), nDocs = 3,
        avgDl = 2.0, topics, poolSize = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)),
      s"xQuAD should order d1,d3,d2 — got ${got.toSeq}")
    // closed-form objective pins: rel equal ⇒ obj differences come only
    // from the aspect term. rank-2 d3: 0.5·rel + 0.5·(0.5·1·1) with tb
    // untouched; rank-3 d2: aspect ta exhausted ⇒ obj = 0.5·rel
    val objs = Search.xquadTopK(posts, dstats, Map("q" -> 3L), 3, 2.0, topics,
        poolSize = 3, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rel = graft.query.Bm25.scoreS(1L, 3L, 2L, 3L, 2.0)
    assert(math.abs(objs(1L) - (0.5 * rel + 0.5 * (0.5 * 1.0 * 1.0))) < 1e-12)
    assert(math.abs(objs(2L) - (0.5 * rel + 0.5 * (0.5 * 1.0 * 1.0))) < 1e-12)
    assert(math.abs(objs(3L) - 0.5 * rel) < 1e-12)
  }

  test("pseudo-relevance feedback == scalar recompute of all three stages") {
    val orig = Set("join", "spark")
    val dfs = QueryFrontend.lookupDf(tables.termStats, orig)
    val posts = tables.postings.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dlMap = tables.docStats.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bm25(tf: Long, df: Long, dl: Long) = Bm25.scoreS(tf, df, dl, tables.nDocs, tables.avgDl)
    // stage 1: conjunctive BM25 top-5 feedback docs
    val s0 = posts.filter(p => orig(p._2)).groupBy(_._1).collect {
      case (d, ps) if ps.map(_._2).toSet == orig =>
        d -> ps.map(p => bm25(p._3, dfs(p._2), dlMap(d))).sum
    }
    val fb = s0.toSeq.sortBy { case (d, s) => (-s, d) }.take(5).map(_._1)
    // stage 2: Σtf-weighted expansion terms, orig excluded, ties term asc
    val w = posts.filter(p => fb.contains(p._1) && !orig(p._2))
      .groupBy(_._2).map { case (t, ps) => t -> ps.map(_._3).sum }
    val expWant = w.toSeq.sortBy { case (t, s) => (-s, t) }.take(3).map(_._1)
    val expGot = Search.prfExpansion(tables.postings, fb, orig, 3)
      .collect().map(_.getString(0)).toSeq
    assert(expGot == expWant)
    assert(expGot.nonEmpty && expGot.forall(!orig(_)))
    // stage 3: weighted disjunctive re-rank (orig 2x, expansion 1x)
    val expDfs = QueryFrontend.lookupDf(tables.termStats, expWant.toSet)
    val wdfs = dfs.map { case (t, d) => t -> (d, 2) } ++ expDfs.map { case (t, d) => t -> (d, 1) }
    val all = posts.filter(p => wdfs.contains(p._2)).groupBy(_._1).map { case (d, ps) =>
      d -> ps.map(p => wdfs(p._2)._2 * bm25(p._3, wdfs(p._2)._1, dlMap(d))).sum
    }
    val want = all.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
    val got = Search.prfTopK(tables.postings, tables.docStats, tables.termStats,
        dfs, tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (1 to want.size))
    assert(got.map(_._2).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, _, g), (_, wv)) => assert(math.abs(g - wv) < 1e-9) }
    // recall widened: the weighted-disjunctive pool admits docs outside the
    // original conjunction (score still dominated by 2x original terms)
    val conj = s0.map(_._1).toSet
    assert(all.keySet.exists(!conj(_)))
  }

  test("fuzzy match: deletion-neighborhood candidates == brute-force levenshtein <= 1") {
    import spark.implicits._
    val dict = Seq("spark", "spars", "park", "sparkle", "stark", "spar", "join", "sprk")
    val ts = dict.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }.toDF("term", "df")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (q <- Seq("sprk", "spark", "prak")) {
      val got = QueryFrontend.fuzzyTerms(ts, q).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      // 1-deletion-per-side neighborhoods cover EVERY distance-1 edit
      val want = dict.map(t => t -> lev(t, q).toLong).filter(_._2 <= 1).toMap
      assert(got == want, s"query '$q': got $got want $want")
    }
    // ordering: dist asc, df desc, term asc
    val ordered = QueryFrontend.fuzzyTerms(ts, "sprk").collect().map(_.getString(0)).toList
    assert(ordered.head == "sprk") // exact hit first (dist 0)
    // maxDist = 2: the depth-2 deletion neighborhoods must be COMPLETE too
    // ("spa" from "spark" is reachable only via two deletions)
    for (q <- Seq("spark", "sprk", "spa", "prak")) {
      val got2 = QueryFrontend.fuzzyTerms(ts, q, maxDist = 2).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      val want2 = dict.map(t => t -> lev(t, q).toLong).filter(_._2 <= 2).toMap
      assert(got2 == want2, s"maxDist=2 query '$q': got $got2 want $want2")
    }
  }

  test("adding a non-matching doc never changes top-k (stability property)") {
    val base = (0 until 60).map(i =>
      Oracle.Doc(i.toLong, "r", "en", if (i % 3 == 0) s"alpha beta gamma x$i" else s"alpha delta x$i"))
    val idx1 = new Oracle.Index(base)
    // doc without the query terms joins the corpus -> changes N and avgdl,
    // but NOT the candidate ranking order (scores shift monotonically).
    val idx2 = new Oracle.Index(base :+ Oracle.Doc(999L, "r", "en", "zeta eta theta"))
    val t1 = idx1.topK("en", "alpha beta", 10).map(_.docId)
    val t2 = idx2.topK("en", "alpha beta", 10).map(_.docId)
    assert(t1 == t2)
  }

  test("moreLikeThis matches a scalar TF-IDF cosine oracle; source doc excluded") {
    val maxDfFrac = 0.9
    val k = 10
    val srcDoc = 3L
    val got = Search.moreLikeThis(tables.postings, tables.termStats, tables.nDocs,
        srcDoc, k, maxDfFrac)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // scalar twin over the collected tiny corpus
    val post = tables.postings.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val df = post.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).distinct.size.toLong }
    val n = tables.nDocs.toDouble
    def wt(tf: Long, d: Long): Double = tf * math.log(n / d)
    val vecs = post.groupBy(_._1).map { case (doc, xs) =>
      doc -> xs.map { case (_, t, tf) => t -> wt(tf, df(t)) }.toMap
    }
    val norms = vecs.map { case (doc, v) => doc -> math.sqrt(v.values.map(x => x * x).sum) }
    val qv = vecs(srcDoc).filter { case (t, _) => df(t) <= maxDfFrac * n }
    val want = vecs.keys.filter(_ != srcDoc).flatMap { doc =>
      val dot = vecs(doc).collect { case (t, w) if qv.contains(t) => w * qv(t) }.sum
      if (dot == 0.0) None
      else Some(doc -> BigDecimal(dot / (norms(doc) * norms(srcDoc)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(k)
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case (((rk, id, sc), (wid, wsc)), i) =>
      assert(rk == i + 1L, s"rank at $i")
      assert(id == wid, s"docId at rank ${i + 1}: got $id want $wid")
      assert(math.abs(sc - wsc) < 5e-4, s"score at rank ${i + 1}: $sc vs $wsc")
    }
    assert(!got.exists(_._2 == srcDoc))
    assert(got.forall(r => r._3 > 0.0 && r._3 <= 1.0001))
  }

  test("mltQuery over prebuilt artifacts: pushed term filter, single candidate aggregate, ≡ wrapper") {
    val (w0, norms0) = Search.mltBuild(tables.postings, tables.termStats, tables.nDocs)
    val w = w0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val norms = norms0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      w.count(); norms.count() // materialize the index-side artifacts
      val q = Search.mltQuery(w, norms, tables.nDocs, docId = 3L, k = 10, maxDfFrac = 0.9)
      val plan = q.queryExecution.optimizedPlan.toString
      // the per-query path pushes the source doc's pruned terms into the
      // weighted-postings scan as an IN filter…
      assert(plan.contains(" IN ") || plan.contains("INSET"),
        s"no pushed term filter in plan:\n$plan")
      // …and aggregates ONLY the filtered candidates: exactly one logical
      // Aggregate node (the dot product); norms/weights come from the
      // cached relations (leaf InMemoryRelation), never recomputed per query
      val nAggs = q.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.size
      assert(nAggs == 1, s"per-query path must not re-aggregate the full relation ($nAggs aggs)")
      assert(plan.contains("InMemoryRelation"),
        "query must read the persisted artifacts")
      // result identical to the one-shot wrapper
      val a = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val b = Search.moreLikeThis(tables.postings, tables.termStats, tables.nDocs,
          docId = 3L, k = 10, maxDfFrac = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(a == b)
    } finally { w.unpersist(); norms.unpersist(): Unit }
  }

  test("search-after cursor page ≡ offset page for every multi-page query; pages chain") {
    queries.foreach { case (qid, q) =>
      val p = QueryFrontend.plan(tables.termStats, "en", q)
      if (!p.isEmpty) {
        val dfs = p.terms.map(t => t.term -> t.df).toMap
        val page1 = Search.bm25TopK(tables.postings, tables.docStats, dfs,
            tables.nDocs, tables.avgDl, 5)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        if (page1.length == 5) {
          val (_, cd, cs) = page1.maxBy(_._1)
          val viaCursor = Search.bm25TopKAfter(tables.postings, tables.docStats, dfs,
              tables.nDocs, tables.avgDl, 5, afterScore = cs, afterDoc = cd)
            .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
          val viaOffset = Search.bm25TopK(tables.postings, tables.docStats, dfs,
              tables.nDocs, tables.avgDl, 5, offset = 5)
            .collect().map(r => (r.getInt(0) - 5, r.getLong(1), r.getDouble(2))).toSeq
          assert(viaCursor == viaOffset, s"$qid: cursor $viaCursor vs offset $viaOffset")
        }
      }
    }
  }

  test("phrase boost: β=0 ≡ pure BM25; scores decompose as bm25 + β·ln(1+phrase_tf)") {
    import graft.index.Positional
    val q = Seq("join", "spark")
    val dfs = QueryFrontend.lookupDf(tables.termStats, q.toSet)
    val ph = Positional.phraseMatches(Positional.tokenPositions(corpus), q)
    val phMap = ph.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 100000)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // β = 0: identical ranking and scores
    val zero = Search.bm25PhraseBoost(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, ph, k = 10, beta = 0.0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val pure = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(zero == pure)
    // β = 0.5: every returned score decomposes exactly
    val boosted = Search.bm25PhraseBoost(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, ph, k = 50, beta = 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(boosted.nonEmpty)
    boosted.foreach { case (id, s) =>
      val want = base(id) + 0.5 * math.log(1.0 + phMap.getOrElse(id, 0L).toDouble)
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    // at least one phrase doc exists and got a strictly positive bonus
    assert(boosted.exists { case (id, _) => phMap.contains(id) })
  }

  test("boolean tree: scalar set-algebra recompute; NOT excludes without scoring") {
    import graft.query.BooleanQuery
    import graft.query.BooleanQuery._
    val tree = And(Seq(Or(Seq(Term("join"), Term("merge"))), Term("spark"), Not(Term("dup"))))
    val dfs = Seq("join", "merge", "spark").map(t => t -> oracle.df(t)).toMap
    // top-20 (deeper cuts reach last-ulp score near-ties whose order
    // depends on float summation order — the 4dp-rounded oracle gate is
    // the cross-engine contract; rank-identity is asserted where gaps are
    // real, the same depth the BM25 rank tests use)
    val got = BooleanQuery.topK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, tree, 20)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // scalar recompute: candidates by set algebra, score positive present
    val docsOf = (t: String) => oracle.postingList(t).toSet
    val cand = ((docsOf("join") union docsOf("merge")) intersect docsOf("spark")) diff docsOf("dup")
    val want = cand.toSeq.map { id =>
      val present = Seq("join", "merge", "spark").filter(t => oracle.tf.contains((id, t)))
      id -> present.map(t =>
        graft.query.Bm25.scoreS(oracle.tf((id, t)), oracle.df(t), oracle.dl(id),
          oracle.nDocs, oracle.avgDl)).sum
    }.sortBy { case (id, s) => (-s, id) }.take(20)
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).zipWithIndex.foreach { case (((rk, id, sc), (wid, wsc)), i) =>
      assert(rk == i + 1 && id == wid, s"rank ${i + 1}: ($rk,$id) vs $wid")
      assert(math.abs(sc - wsc) < 1e-9, s"score at ${i + 1}")
    }
    // the excluded docs really are gone
    got.foreach { case (_, id, _) => assert(!docsOf("dup").contains(id)) }
    // pure negation is rejected by construction
    intercept[IllegalArgumentException] {
      BooleanQuery.scores(tables.postings, tables.docStats, dfs, tables.nDocs, tables.avgDl,
        And(Seq(Not(Term("join")))))
    }
    // single-term OR degenerates to the term's doc set, through scores and topK
    val orOne = Or(Seq(Term("dup")))
    val dupDf = Map("dup" -> oracle.df("dup"))
    assert(BooleanQuery.scores(tables.postings, tables.docStats, dupDf, tables.nDocs, tables.avgDl, orOne)
      .collect().map(_.getLong(0)).toSet == docsOf("dup"))
    assert(BooleanQuery.topK(tables.postings, tables.docStats, dupDf, tables.nDocs, tables.avgDl, orOne,
      docsOf("dup").size + 1).collect().map(_.getLong(1)).toSet == docsOf("dup"))
  }

  test("batched BM25: a repeated (query_id, term) row neither double-counts nor changes ranks") {
    import spark.implicits._
    val clean = Seq((1L, "join"), (1L, "spark")).toDF("query_id", "term")
    val dup = Seq((1L, "join"), (1L, "spark"), (1L, "join")).toDF("query_id", "term")
    def run(qs: org.apache.spark.sql.DataFrame) =
      Search.bm25TopKBatch(tables.postings, tables.docStats, tables.termStats,
          qs, tables.nDocs, tables.avgDl, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(dup) == run(clean))
  }

  test("batched BM25 ≡ per-query bm25TopK for every query in the batch") {
    import spark.implicits._
    val batch = Seq(
      (0L, "dup"), (1L, "join"), (1L, "spark"),
      (2L, "hash"), (2L, "join"), (2L, "merge"), (2L, "sort"))
    val qs = batch.toDF("query_id", "term")
    val got = Search.bm25TopKBatch(tables.postings, tables.docStats,
        tables.termStats, qs, tables.nDocs, tables.avgDl, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    batch.groupBy(_._1).foreach { case (qid, qterms) =>
      val dfs = QueryFrontend.lookupDf(tables.termStats, qterms.map(_._2).toSet)
      val want = Search.bm25TopK(tables.postings, tables.docStats, dfs,
          tables.nDocs, tables.avgDl, 10)
        .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2)))
      val g = got.getOrElse(qid, Array.empty).sortBy(_._2)
      assert(g.length == want.length, s"query $qid size")
      g.zip(want).foreach { case ((_, rk, id, sc), (wrk, wid, wsc)) =>
        assert(rk == wrk && id == wid, s"query $qid rank $wrk: ($rk,$id) vs ($wrk,$wid)")
        assert(math.abs(sc - wsc) < 1e-9, s"query $qid score at rank $wrk")
      }
    }
  }

  test("bm25f with empty title field ≡ plain bm25TopK (field weight degenerates)") {
    val q = Seq("join", "spark")
    val fields = corpus.select(col("doc_id"), col("lang"),
      lit("").as("title"), col("content").as("body"))
    val got = Search.bm25fTopK(fields, q, tables.nDocs, k = 10, wTitle = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val dfs = QueryFrontend.lookupDf(tables.termStats, q.toSet)
    val want = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((rk, id, sc), (wrk, wid, wsc)) =>
      assert(rk == wrk && id == wid, s"rank $wrk: ($rk,$id) vs ($wrk,$wid)")
      assert(math.abs(sc - wsc) < 1e-9, s"score at rank $wrk: $sc vs $wsc")
    }
  }

  test("bm25f title weight: a title-hit doc overtakes an equal-body doc") {
    import spark.implicits._
    // two docs, identical bodies; only doc 1's title carries the query term
    val fields = Seq(
      (1L, "en", "alpha guide", "common words here alpha"),
      (2L, "en", "other page", "common words here alpha")
    ).toDF("doc_id", "lang", "title", "body")
    val got = Search.bm25fTopK(fields, Seq("alpha"), nDocs = 2, k = 2, wTitle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).toSeq == Seq(1L, 2L))
  }

  test("blendTopK β=1 ≡ pure BM25; β=0 ranks by relevance×authority; scalar recompute") {
    val q = Seq("join", "spark")
    val dfs = QueryFrontend.lookupDf(tables.termStats, q.toSet)
    val pr = graft.corpus.LinkRank.pagerank(
      graft.corpus.Crawl.syntheticEdges(corpus, tables.nDocs),
      corpus.select("doc_id"), tables.nDocs, iters = 3).cache()
    // β=1: prior must not affect ranking
    val pure = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val b1 = Search.blendTopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, pr, k = 10, beta = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(b1.toSeq == pure.toSeq)
    // β=0.5: exact scalar recompute over ALL conjunctive candidates
    val prMap = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prMax = prMap.values.max.toDouble
    val cands = Search.bm25TopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, k = Int.MaxValue)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    val want = cands.map { case (id, sc) =>
      id -> sc * (0.5 + 0.5 * prMap.getOrElse(id, 0L).toDouble / prMax)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Search.blendTopK(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, pr, k = 10, beta = 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-9) }
    pr.unpersist(): Unit
  }

  test("champion lists: m ≥ nDocs ≡ exhaustive disjunctive BM25; build plan is a group limit") {
    import graft.index.Champions
    val q = Seq("join", "spark")
    val dfs = QueryFrontend.lookupDf(tables.termStats, q.toSet)
    // m covering every posting ⇒ champions are the whole postings relation
    val full = Champions.build(tables.postings, tables.docStats, tables.avgDl,
      m = tables.nDocs.toInt)
    val got = Champions.topK(full, dfs, tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = Search.bm25TopKDisjunctive(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((rk, id, sc), (wrk, wid, wsc)) =>
      assert(rk == wrk && id == wid, s"rank $wrk: ($rk,$id) vs ($wrk,$wid)")
      assert(math.abs(sc - wsc) < 1e-9)
    }
    // small m: candidates are a subset, every returned doc is a champion of
    // some query term, and scores match a scalar recompute over champions
    val ch = Champions.build(tables.postings, tables.docStats, tables.avgDl, m = 3)
    val chRows = ch.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    q.foreach(t => assert(chRows.count(_._1 == t) <= 3))
    val approx = Champions.topK(ch, dfs, tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val scalarScores = chRows.filter(r => q.contains(r._1))
      .groupBy(_._2).view.mapValues(_.map { case (t, _, tf, dl) =>
        Bm25.scoreS(tf, dfs(t), dl, tables.nDocs, tables.avgDl) }.sum)
    approx.foreach { case (id, sc) =>
      assert(math.abs(sc - scalarScores(id)) < 1e-9, s"doc $id")
    }
    val plan = Champions.build(tables.postings, tables.docStats, tables.avgDl, m = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("autocomplete: scalar recompute of per-prefix top-m; WindowGroupLimit plan") {
    val m = 3
    val idx = QueryFrontend.autocompleteBuild(tables.postings, minLen = 2, maxLen = 5, m = m)
    val got = idx.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cf = tables.postings.select("term", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = cf.toSeq.flatMap { case (t, c) =>
      (2 to math.min(t.length, 5)).map(l => (t.substring(0, l), t, c)) }
      .groupBy(_._1).flatMap { case (p, rows) =>
        rows.sortBy { case (_, t, c) => (-c, t) }.take(m).zipWithIndex
          .map { case ((_, t, c), i) => (p, (i + 1).toLong, t, c) }
      }.toSet
    assert(got.toSet == want)
    // every keystroke lookup returns ≤ m rows, rank-consecutive
    val look = QueryFrontend.autocompleteLookup(idx, Seq("sp", "jo")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    look.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("VSM lnc.ltc top-k ≡ scalar recompute (scores, ranks, docId ties)") {
    import graft.query.Vsm
    val q = Seq("join", "spark")
    val dfs = q.map(t => t -> oracle.df(t)).toMap
    val got = Vsm.vsmTopK(tables.postings, Vsm.docNorms(tables.postings),
        dfs, oracle.nDocs, 10)
      .collect().map(r => (r.getAs[Number]("rank").longValue(),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    // scalar: score every doc matching ≥1 query term, sort, take 10
    val cands = q.flatMap(t => oracle.postingList(t)).distinct
    val want = cands.map { id =>
      val docTfs = oracle.terms(id).distinct
        .map(t => t -> oracle.tf((id, t))).toMap
      val qTfs = q.flatMap(t => oracle.tf.get((id, t)).map(t -> _)).toMap
      id -> Vsm.scoreS(qTfs, docTfs, dfs, oracle.nDocs)
    }.sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case (((r, id, sc), (wid, wsc)), i) =>
      assert(r == i + 1)
      assert(id == wid, s"rank ${i + 1}: $id vs $wid")
      assert(math.abs(sc - wsc) < 1e-9)
    }
    // lnc doc weighting has NO idf on the doc side: a doc scoring on the
    // rare term only can still lose to a hot-term doc with a short vector —
    // just sanity-check the top doc matches at least one query term
    assert(cands.contains(got.head._2))
  }

  test("CORI shard selection: scalar belief recompute; every shard ranked once") {
    import graft.index.Shards
    val q = Seq("spark", "join")
    val sts = Shards.shardTermStats(
      tables.postings, corpus.select(col("doc_id"), col("repo").as("shard")))
    val got = Shards.coriScores(sts, q).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // scalar recompute from raw postings + doc→repo map
    val repoOf = corpus.select("doc_id", "repo").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val post = tables.postings.collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2))) // term, doc, tf
    val byShardTerm = post.groupBy { case (t, d, _) => (repoOf(d), t) }
      .map { case (k, rows) => k -> (rows.length.toLong, rows.map(_._3).sum) }
    val cw = byShardTerm.groupBy(_._1._1).view.mapValues(_.values.map(_._2).sum.toDouble).toMap
    val ns = cw.size.toDouble
    val avgcw = cw.values.sum / ns
    val cf = q.map(t => t -> byShardTerm.count(_._1._2 == t).toDouble).toMap
    val want = cw.keys.map { s =>
      val score = q.filter(cf(_) > 0).map { t =>
        val df = byShardTerm.getOrElse((s, t), (0L, 0L))._1.toDouble
        val tt = df / (df + 50.0 + 150.0 * cw(s) / avgcw)
        val ii = math.log((ns + 0.5) / cf(t)) / math.log(ns + 1.0)
        0.4 + 0.6 * tt * ii
      }.sum
      s -> score
    }.toMap
    assert(got.length == cw.size)
    got.foreach { case (s, sc, _) => assert(math.abs(sc - want(s)) < 1e-6, s) }
    val wantRanks = want.toSeq.sortBy { case (s, sc) => (-sc, s) }
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1).toLong }.toMap
    got.foreach { case (s, _, r) => assert(r == wantRanks(s), s"rank $s") }
  }

  test("synonymTopK: scalar pseudo-term recompute; singleton groups ≡ conjunctive bm25TopK") {
    val groups = Seq("join" -> Seq("join", "merge"), "spark" -> Seq("spark"))
    val post = tables.postings.select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val dl = tables.docStats.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gtf = post.flatMap { case (t, d, tf) =>
        groups.find(_._2.contains(t)).map { case (g, _) => ((d, g), tf) } }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val gdf = gtf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val perDoc = gtf.groupBy(_._1._1).filter(_._2.size == groups.size)
      .view.mapValues(_.map { case ((d, g), tf) =>
        Bm25.scoreS(tf, gdf(g), dl(d), tables.nDocs, tables.avgDl) }.sum).toMap
    val want = perDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
    val got = Search.synonymTopK(tables.postings, tables.docStats, groups,
      tables.nDocs, tables.avgDl, 10).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-9) }
    // a doc findable only through the synonym member must surface: every
    // returned doc matches both groups even if "join" itself is absent
    assert(gtf.exists { case ((_, g), _) => g == "join" })
    // singleton groups degenerate to plain conjunctive BM25 exactly
    val dfs = QueryFrontend.lookupDf(tables.termStats, Set("join", "spark"))
    val single = Seq("join" -> Seq("join"), "spark" -> Seq("spark"))
    val gotS = Search.synonymTopK(tables.postings, tables.docStats, single,
      tables.nDocs, tables.avgDl, 10).collect().map(r => (r.getLong(1), r.getDouble(2)))
    val wantS = Search.bm25TopK(tables.postings, tables.docStats, dfs,
      tables.nDocs, tables.avgDl, 10).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(gotS.map(_._1).toSeq == wantS.map(_._1).toSeq)
    gotS.zip(wantS).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-9) }
    // overlapping member sets are a contract violation
    intercept[IllegalArgumentException] {
      Search.synonymTopK(tables.postings, tables.docStats,
        Seq("a" -> Seq("join"), "b" -> Seq("join")), tables.nDocs, tables.avgDl, 1)
    }
  }

  test("tiered retrieval: exact vs exhaustive at any m; certificate fires only when sound") {
    import graft.index.Champions
    val q = Seq("join", "spark")
    val dfs = QueryFrontend.lookupDf(tables.termStats, q.toSet)
    val want = Search.bm25TopKDisjunctive(tables.postings, tables.docStats, dfs,
        tables.nDocs, tables.avgDl, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    def check(got: Array[org.apache.spark.sql.Row]): Unit = {
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, (wrk, wid, wsc)) =>
        assert(g.getInt(0) == wrk && g.getLong(1) == wid)
        assert(math.abs(g.getDouble(2) - wsc) < 1e-9)
      }
    }
    // m covering every posting: every df < m, so every list is "short" —
    // outside bound 0, certificate fires, tier 1 IS the exhaustive ranking
    val mBig = tables.nDocs.toInt + 1
    val full = Champions.build(tables.postings, tables.docStats, tables.avgDl, mBig)
    val (gotF, certF) = Champions.tieredTopK(full, tables.postings, tables.docStats,
      dfs, tables.nDocs, tables.avgDl, mBig, k = 10)
    assert(certF, "certificate must fire when champion lists cover the postings")
    check(gotF.collect())
    // m = 1: the bound is each term's BEST tf-norm — an upper bound on the
    // top-1 score itself, so the 10th score can never exceed it: fallback,
    // and the result is still exactly the exhaustive ranking
    val ch1 = Champions.build(tables.postings, tables.docStats, tables.avgDl, m = 1)
    val (got1, cert1) = Champions.tieredTopK(ch1, tables.postings, tables.docStats,
      dfs, tables.nDocs, tables.avgDl, m = 1, k = 10)
    assert(!cert1, "m=1 bound dominates the k-th score; must fall back")
    check(got1.collect())
    // mid m: whichever branch fires, the contract is exactness
    val ch5 = Champions.build(tables.postings, tables.docStats, tables.avgDl, m = 5)
    val (got5, _) = Champions.tieredTopK(ch5, tables.postings, tables.docStats,
      dfs, tables.nDocs, tables.avgDl, m = 5, k = 10)
    check(got5.collect())
  }

  test("suggestBatch ≡ brute-force levenshtein top-1 per qterm; in-dict term suggests itself") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val dict = tables.termStats.collect().map(r => (r.getString(0), r.getLong(1)))
    val qs = Seq("sprk", "jion", "hash", "window", "zzzzzz")
    val got = QueryFrontend.suggestBatch(tables.termStats, qs, maxDist = 2)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    qs.foreach { q =>
      val cands = dict.map { case (t, df) => (t, lev(t, q).toLong, df) }.filter(_._2 <= 2)
      if (cands.isEmpty) assert(!got.contains(q), s"$q should have no suggestion")
      else {
        val best = cands.minBy { case (t, d, df) => (d, -df, t) }
        assert(got(q) == ((best._1, best._2, best._3)), s"$q: ${got.get(q)} vs $best")
      }
    }
    assert(got("hash")._1 == "hash" && got("hash")._2 == 0L)
    // per-qterm top-1 must be a group-limit, not a full sort per group
    val plan = QueryFrontend.suggestBatch(tables.termStats, qs, maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("relatedTerms ≡ scalar co-occurrence lift over collected postings") {
    val post = tables.postings.collect().map(r => (r.getLong(0), r.getString(1)))
    val dfm = tables.termStats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seed = "spark"
    val seedDocs = post.filter(_._2 == seed).map(_._1).toSet
    val want = post.filter(p => seedDocs(p._1) && p._2 != seed)
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= 2L)
      .map { case (t, c) =>
        (t, c, dfm(t), BigDecimal(c.toDouble / dfm(t)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.sortBy { case (t, c, _, l) => (-l, -c, t) }.take(10)
    val got = Search.relatedTerms(tables.postings, tables.termStats, seed, 10)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == want)
  }

  test("batched BM25 plan: per-query group limit, no full per-query sort") {
    import spark.implicits._
    val qs = Seq((0L, "join"), (0L, "spark"), (1L, "dup")).toDF("query_id", "term")
    val df = Search.bm25TopKBatch(tables.postings, tables.docStats,
      tables.termStats, qs, tables.nDocs, tables.avgDl, k = 10)
    val plan = df.queryExecution.executedPlan.toString
    // the rank<=k filter must push down as a WindowGroupLimit (k-row heap
    // per query group) — the shape that survives a hot query matching
    // millions of docs
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("percolate: conjunctive reverse search ≡ scalar recompute, dup query terms deduped") {
    import spark.implicits._
    val post = Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "a", 1L), (3L, "b", 1L), (3L, "c", 1L))
      .toDF("doc_id", "term", "tf")
    val qs = Seq((10L, "a"), (10L, "b"), (11L, "b"), (12L, "a"), (12L, "z"),
      (13L, "b"), (13L, "b")).toDF("query_id", "term")
    val got = Search.percolate(post, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // scalar truth: q10={a,b} -> doc1; q11={b} -> 1,3; q12={a,z} -> none;
    // q13 dedups to {b} -> 1,3
    assert(got == Set((1L, 10L), (1L, 11L), (3L, 11L), (1L, 13L), (3L, 13L)))
    // plan shape: both query-side joins must be broadcasts — the postings
    // relation is never shuffled by the stored-query table
    val plan = Search.percolate(post, qs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "stored-query joins must not shuffle the postings")
  }

  test("bm25TopKMinMatch: the mm gate spans AND..OR; match counts carried") {
    import spark.implicits._
    // d1 matches a,b,c; d2 matches a,b; d3 matches a
    val post = Seq(("a", 1L, 1L), ("b", 1L, 1L), ("c", 1L, 1L),
      ("a", 2L, 1L), ("b", 2L, 1L), ("a", 3L, 1L)).toDF("term", "doc_id", "tf")
    val ds = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("doc_id", "dl")
    val dfs = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
    def docs(mm: Int) =
      Search.bm25TopKMinMatch(post, ds, dfs, 3L, 2.0, mm, 10)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(docs(1) == Map(1L -> 3L, 2L -> 2L, 3L -> 1L)) // OR
    assert(docs(2) == Map(1L -> 3L, 2L -> 2L))           // middle ground
    assert(docs(3) == Map(1L -> 3L))                     // == conjunctive
    val conj = Search.bm25TopK(post, ds, dfs, 3L, 2.0, 10)
      .collect().map(_.getLong(1)).toSet
    assert(docs(3).keySet == conj)
    // the gate's two ends are the AND and OR rankers, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "doc_id", "score").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    def sameRows(what: String, a: Seq[(Int, Long, Double)], b: Seq[(Int, Long, Double)]): Unit = {
      assert(a.map(r => (r._1, r._2)) == b.map(r => (r._1, r._2)), what)
      a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-9, s"$what: doc ${x._2}") }
    }
    sameRows("minMatch = |q|", rows(Search.bm25TopKMinMatch(post, ds, dfs, 3L, 2.0, dfs.size, 10)),
      rows(Search.bm25TopK(post, ds, dfs, 3L, 2.0, 10)))
    sameRows("minMatch = 1", rows(Search.bm25TopKMinMatch(post, ds, dfs, 3L, 2.0, 1, 10)),
      rows(Search.bm25TopKDisjunctive(post, ds, dfs, 3L, 2.0, 10)))
  }

  test("conjunctiveScores: a 500-term query is one flat CASE, not a stack overflow") {
    import spark.implicits._
    // d1 holds all 500 terms, d2 all but the last
    val terms = (0 until 500).map(i => f"t$i%03d")
    val tfOf = (i: Int) => 1L + i % 3
    val post = (terms.zipWithIndex.map { case (t, i) => (t, 1L, tfOf(i)) } ++
      terms.init.zipWithIndex.map { case (t, i) => (t, 2L, tfOf(i)) }).toDF("term", "doc_id", "tf")
    val dl1 = terms.indices.map(tfOf).sum
    val dl2 = dl1 - tfOf(499)
    val ds = Seq((1L, dl1), (2L, dl2)).toDF("doc_id", "dl")
    val dfs = terms.map(t => t -> (if (t == terms.last) 1L else 2L)).toMap
    val avgDl = (dl1 + dl2) / 2.0
    val got = Search.conjunctiveScores(post, ds, dfs, 2L, avgDl)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = terms.zipWithIndex.map { case (t, i) => Bm25.scoreS(tfOf(i), dfs(t), dl1, 2L, avgDl) }.sum
    assert(got.map(_._1).toSeq == Seq(1L))
    assert(math.abs(got.head._2 - want) < 1e-9, s"score ${got.head._2} vs $want")
  }

  test("termScores: by-reference df, nDocs and avgDl score bit-equal to literal columns") {
    import spark.implicits._
    val dfs = tables.termStats.filter(col("term").isin("spark", "join", "hash")).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfs.size == 3)
    val rows = tables.postings.join(tables.docStats, "doc_id")
    def scores(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select("doc_id", "term", c).collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val got = scores(Search.termScores(rows, dfs, tables.nDocs, tables.avgDl), "term_score")
    val want = scores(rows.join(dfs.toSeq.toDF("term", "df"), "term")
      .withColumn("want", Bm25.score(col("tf"), col("df"), col("dl"), tables.nDocs, tables.avgDl)), "want")
    assert(got.nonEmpty && got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"$k: $v vs ${want(k)}") }
  }

  test("decorateIds: a page's ids skip every cached corpus batch that holds none of them") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, TableCacheQueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the corpus cached in doc_id order, in batches of 100 rows
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    spark.conf.set(key, "100")
    val c = Corpus.fromDocuments(spark, "/root/testdata/sf0.001").orderBy("doc_id").cache()
    val total = try c.count() finally spark.conf.unset(key)
    val ids = c.select("doc_id").collect().map(_.getLong(0)).sorted
    val page = Seq(ids(3), ids(ids.length / 2))
    val dec = Search.decorateIds(c, page, Set("spark"))
    assert(dec.collect().map(_.getLong(0)).toSet == page.toSet)
    val plan = dec.queryExecution.executedPlan match { case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan; case p => p }
    val scanned = plan.collect { case q: TableCacheQueryStageExec => q.plan; case s: InMemoryTableScanExec => s }
      .collect { case s: InMemoryTableScanExec => s.metrics("numOutputRows").value }
    c.unpersist()
    assert(total > 400 && scanned.size == 1 && scanned.head <= 200,
      s"a decorate of 2 ids scanned $scanned of $total cached rows")
  }

  test("segmentQuery: corpus-bigram glue yields [new york][pizza] segments") {
    import spark.implicits._
    val bw = Seq((0L, "new", "york", 5L), (1L, "new", "york", 2L),
      (2L, "york", "pizza", 1L)).toDF("doc_id", "w1", "w2", "tf")
    val got = QueryFrontend.segmentQuery(bw, Seq("new", "york", "pizza"), minCf = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // cf(new,york) = 7 glues; cf(york,pizza) = 1 cuts
    assert(got.toSeq == Seq((0L, "new", 1L, 0L), (1L, "york", 1L, 7L),
      (2L, "pizza", 2L, 1L)))
  }

  test("combMnzFuse: min-max norms, degenerate system -> 1.0, MNZ agreement boost") {
    import spark.implicits._
    // A: 10/5/0 -> norms 1/0.5/0; B: both 2 -> degenerate, both 1.0
    val a = Seq((1L, 10.0), (2L, 5.0), (3L, 0.0)).toDF("doc_id", "score")
    val b = Seq((2L, 2.0), (4L, 2.0)).toDF("doc_id", "score")
    val got = graft.query.Search.combMnzFuse(a, b, k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // d2: (0.5+1)*2 = 3; d1: 1*1; d4: 1*1 (tie -> id); d3: 0
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L))
    assert(got.map(_._2).toSeq == Seq(3.0, 1.0, 1.0, 0.0))
  }

  test("faginTaStudy: stops at the exact TA depth on a closed fixture") {
    import spark.implicits._
    // f = 100b + a: d4 wins (204). tau(1) = f(10,2) = 210 > best(1)=204;
    // tau(2) = f(8,1) = 108 <= best(2)=204 -> d* = 2 of 4 (500 permille)
    val attrs = Seq((1L, 10L, 0L), (2L, 8L, 1L), (3L, 6L, 0L), (4L, 4L, 2L))
      .toDF("doc_id", "a", "b")
    val r = graft.query.Search.faginTaStudy(attrs, wB = 100L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((4L, 2L, 500L, 4L, 204L)))
  }

  test("cascadeTopK: stage-1 cut bounds stage 2; phrase boost only lifts true phrases") {
    import spark.implicits._
    // d1 holds the exact phrase "x y"; d2 has both terms NOT adjacent with
    // higher tf; d3 only x (excluded by nothing — disjunctive, but scores
    // less). n1=3, n2=2: the positional probe sees exactly {d1, d2}.
    val docs = Seq(
      (1L, "en", "x y filler filler"),
      (2L, "en", "x filler y x filler y"),
      (3L, "en", "x filler filler filler")
    ).toDF("doc_id", "lang", "content")
    val tp = graft.index.Positional.tokenPositions(docs)
    val posts = tp.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val ds = tp.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfs = Map("x" -> 3L, "y" -> 2L)
    val got = graft.query.Search.cascadeTopK(posts, ds, tp, dfs, 3L, 14.0 / 3.0,
        Seq("x", "y"), n1 = 3, n2 = 2, k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).toSet == Set(1L, 2L)) // d3 cut at stage 2
    // recompute: stage-2 BM25 scores + phrase boost (d1: 1 phrase, d2: 0)
    def bm(tfx: Long, tfy: Long, dl: Long) =
      graft.query.Bm25.scoreS(tfx, 3L, dl, 3L, 14.0 / 3.0) +
      (if (tfy > 0) graft.query.Bm25.scoreS(tfy, 2L, dl, 3L, 14.0 / 3.0) else 0.0)
    val w1 = bm(1L, 1L, 4L) + 0.5 * math.log(2.0)
    val w2 = bm(2L, 2L, 6L)
    val want = Seq(1L -> w1, 2L -> w2).sortBy { case (d, sc) => (-sc, d) }
    assert(got.map(_._2).toSeq == want.map(_._1))
    got.foreach { case (_, d, sc) =>
      assert(math.abs(sc - want.toMap.apply(d)) < 1e-9, s"doc $d") }
  }

  test("suggestInContext: the bigram prior breaks an edit-distance tie") {
    import spark.implicits._
    val ts = Seq(("sort", 10L), ("part", 20L), ("sport", 5L)).toDF("term", "df")
    // context 'merge' precedes sort 3x, part 1x — sort must win the
    // dist-1 tie even though part has the higher df
    val bw = Seq((1L, "merge", "sort", 2L), (2L, "merge", "sort", 1L),
      (3L, "merge", "part", 1L)).toDF("doc_id", "w1", "w2", "tf")
    val got = graft.query.QueryFrontend.suggestInContext(ts, bw,
        context = "merge", typo = "sart", maxDist = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("sort", 1L, 3L), ("part", 1L, 1L), ("sport", 2L, 0L)))
  }
}
