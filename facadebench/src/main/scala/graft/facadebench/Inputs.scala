package graft.facadebench

import graft.corpus.Corpus

/** Seeded inputs. The corpus is `Corpus.generateDistributed(n, repos, seed)`;
  * the query log and the upsert stream below derive from the seed, the
  * generator's Zipf ranks (`tok<r>` has rank r) and doc ids alone — never
  * from anything the engine returns.
  */
object Inputs {

  /** one document as the benchmark knows it on the driver */
  final case class Doc(id: Long, repo: String, path: String, commit: String,
                       lang: String, content: String)

  /** document `i` of the generated corpus, exactly as generateDistributed
    * produces it (repo of doc i is repo-%02d of i % repos) */
  def corpusDoc(i: Long, repos: Int, seed: Long): Doc = {
    val r = Corpus.generateRow(i, repos, seed)
    Doc(i, r.repo, r.path, r.commit, r.lang, r.content)
  }

  def repoName(i: Long, repos: Int): String = f"repo-${i % repos}%02d"

  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = { s = Corpus.splitmix64(s); s }
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def between(lo: Int, hi: Int): Int = lo + below(hi - lo + 1)
  }

  def tok(rank: Int): String = Corpus.vocab(rank)

  /** query classes by Zipf rank of their terms */
  val classes: IndexedSeq[String] = IndexedSeq("rare1", "mid2", "head3", "missing")

  final case class Query(cls: String, text: String, site: Option[String])

  /** The serve log: distinct (text, site) pairs, so the facade's result
    * cache never answers one. Each round holds every class twice, once
    * unscoped (WAND tier after a persisted build) and once scoped to a
    * seeded repo (DataFrame tier), so every round is the same mix. The terms
    * of a query come from one seeded doc of the generated corpus (of the
    * scoped repo, for a scoped query), so every query but `missing` matches
    * at least that doc and each round does the same kind of work:
    *   rare1   one term of rank >= 500
    *   mid2    two terms of rank 20-499
    *   head3   one term of rank < 10 and two of rank 10-499
    *   missing a head term plus a term absent from the vocabulary */
  final class QueryLog(seed: Long, nDocs: Int, repos: Int) {
    private val rng = new Rng(seed ^ 0x51ED270B5L)
    private val seen = scala.collection.mutable.HashSet.empty[Query]
    private var missingSeq = 0

    def round(): IndexedSeq[Query] =
      for (cls <- classes; scoped <- Seq(false, true)) yield draw(cls, scoped)

    /** `n` distinct ranks in [lo, hi] drawn from the doc's terms */
    private def pick(docRanks: IndexedSeq[Int], n: Int, lo: Int, hi: Int): Option[Seq[Int]] = {
      val in = docRanks.filter(r => r >= lo && r <= hi)
      if (in.size < n) None
      else {
        val out = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (out.size < n) out += in(rng.below(in.size))
        Some(out.toSeq)
      }
    }

    private def draw(cls: String, scoped: Boolean): Query = {
      var q: Query = null
      while (q == null || seen.contains(q)) {
        val repo = rng.below(repos)
        val site = if (scoped) Some(repoName(repo, repos)) else None
        val doc = repo + repos.toLong * rng.below(math.max(1, nDocs / repos))
        val docRanks = corpusDoc(doc, repos, seed).content.split("[ ;\n]+")
          .map(_.stripPrefix("tok").toInt).distinct.toIndexedSeq
        val terms = cls match {
          case "rare1" => pick(docRanks, 1, 500, Corpus.vocabSize - 1)
          case "mid2"  => pick(docRanks, 2, 20, 499)
          case "head3" =>
            for (h <- pick(docRanks, 1, 0, 9); t <- pick(docRanks, 2, 10, 499)) yield h ++ t
          case _ =>
            missingSeq += 1
            Some(Nil)
        }
        q = terms.map { ts =>
          val text =
            if (cls == "missing") s"${tok(rng.between(0, 99))} nohit${missingSeq}x${rng.below(1 << 20)}"
            else ts.map(tok).mkString(" ")
          Query(cls, text, site)
        }.orNull
      }
      seen += q
      q
    }
  }

  /** Cycle `c` of the ingest stream: a seeded replacement of an existing
    * doc (same id, repo and path, new content), or on every 4th cycle
    * (1, 5, 9, ..., so a short run has one) a new doc id. The content ends
    * in a marker token found in no other doc. */
  def upsert(seed: Long, cycle: Int, nDocs: Int, repos: Int): Doc = {
    val rng = new Rng(Corpus.splitmix64(seed ^ (0xC0FFEEL + cycle)))
    val id = if (cycle % 4 == 1) nDocs.toLong + cycle / 4 else rng.below(nDocs).toLong
    val body = corpusDoc(id, repos, rng.next())
    body.copy(content = s"${body.content} ${marker(seed, cycle)}")
  }

  def marker(seed: Long, cycle: Int): String =
    s"mark${cycle}s${java.lang.Long.toString(seed & 0xffffffL, 36)}"

  /** searches set-up makes to warm the query path: four terms, so never in
    * the three-term-at-most serve log */
  def warmQueries(repos: Int): Seq[Query] = Seq(
    Query("warm", Seq(0, 1, 2, 3).map(tok).mkString(" "), None),
    Query("warm", Seq(0, 1, 2, 4).map(tok).mkString(" "), Some(repoName(0, repos))))
}
