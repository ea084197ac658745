package graft.query

import graft.index.{PostingCodec, ShardPosting}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

/** Conjunctive BM25 top-k over the compressed sharded index with block-max
  * pruning — the scale path of the query core (north star: "BM25 top-k with
  * posting-list intersection and block-max WAND pruning").
  *
  * Distribution shape: every top-k entry point runs through ONE shard runner
  * ([[run]]), one Spark job. The query touches |terms| × |shards| blobs; they
  * are grouped by shard (each group = the query's full working set for one
  * docId range, ≤ |terms| blobs), and a per-shard loop — conjunctive
  * ([[intersectShard]]), disjunctive block-max WAND or MaxScore — scores them
  * into a [[Search.TopK]] with zero further shuffle; the tiny per-shard top-k
  * lists (≤ k rows each) merge in a treeAggregate inside the same job. The
  * DataFrame-returning entry points are views of the merged `TopK.ranked`;
  * [[scores]] is the conjunctive loop unpruned, as a relation of every match.
  * Adding executors splits shards, not terms — scaling is embarrassing in the
  * shard dimension, which is why hot terms don't skew this path.
  *
  * Pruning: rarest-first driving list (reference's df-asc ordering,
  * SearcherPage.java:47,201-206) + skipTo on the others (skip blocks are
  * never decoded, PostingCodec.Cursor.skipTo), and a block-max θ check
  * that skips scoring when Σ idf·blockMaxTfNorm of the current blocks
  * cannot beat the k-th best score so far.
  */
object Wand {

  /** Exact conjunctive top-k per shard. `idfs` must be keyed by every query
    * term; `avgDl` must be the value the index was encoded with; returns
    * (rank, doc_id, score) global top-k, ties docId asc. */
  def topK(shards: Dataset[ShardPosting], idfs: Map[String, Double], avgDl: Double, k: Int): DataFrame =
    Search.view(shards.sparkSession, countTopK(shards, idfs, avgDl, k))

  /** The full conjunctive match count AND the global top-k in ONE Spark
    * job: the shard runner with [[intersectShard]] per shard. Only docs
    * `admit` accepts are counted and ranked. Same candidates, scores and
    * rank order as [[topK]] when every doc is admitted. */
  def countTopK(shards: Dataset[ShardPosting], idfs: Map[String, Double],
                avgDl: Double, k: Int, admit: Long => Boolean = admitAll): Search.TopK =
    run(shards, idfs, k)(intersectShard(_, _, avgDl, k, admit))

  /** Every admitted conjunctive match with the score [[countTopK]] ranks
    * it by, as a (doc_id, score) relation: [[intersectShard]] with no
    * bound on the rows kept, so θ never skips a doc — for a ranking that
    * is not BM25 alone (SearchEngine's prior blend). */
  def scores(shards: Dataset[ShardPosting], idfs: Map[String, Double],
             avgDl: Double, admit: Long => Boolean = admitAll): DataFrame =
    shards.sparkSession.createDataFrame(perShard(shards, idfs)(intersectShard(_, _, avgDl, Int.MaxValue, admit))
      .flatMap(_.ranked.map(s => (s.docId, s.score)))).toDF("doc_id", "score")

  /** The shard runner of every top-k entry point, ONE Spark job: each
    * shard's partial from [[perShard]], merged by treeAggregate, so the
    * count comes back in the action's result. */
  private def run(shards: Dataset[ShardPosting], idfs: Map[String, Double], k: Int)(
      f: (Array[ShardPosting], Map[String, Double]) => Search.TopK): Search.TopK =
    perShard(shards, idfs)(f)
      .treeAggregate(new Search.TopK(k))((a, b) => a.merge(b), (a, b) => a.merge(b))

  /** `f` over each shard's blobs: the idfs ride one broadcast, the query's
    * blobs are grouped by shard (one shuffle on the shard key). */
  private def perShard(shards: Dataset[ShardPosting], idfs: Map[String, Double])(
      f: (Array[ShardPosting], Map[String, Double]) => Search.TopK): RDD[Search.TopK] = {
    val idfB = shards.sparkSession.sparkContext.broadcast(idfs)
    shards.rdd.keyBy(_.shard).groupByKey().map { case (_, it) => f(it.toArray, idfB.value) }
  }

  /** the admission predicate that accepts every doc */
  val admitAll: Long => Boolean = _ => true

  /** admits exactly the doc ids in `sortedIds` (ascending), e.g. one
    * repo's docs for a site-scoped query */
  def admitSorted(sortedIds: Broadcast[Array[Long]]): Long => Boolean =
    d => java.util.Arrays.binarySearch(sortedIds.value, d) >= 0

  /** The conjunctive intersection of one shard's blobs. An aligned
    * candidate is first passed to `admit`; only admitted ones are counted
    * and reach the block-max θ check, so `count` is the exact admitted
    * conjunctive count and θ comes from admitted hits only. θ only skips
    * scoring, never alignment. The kept rows are the shard's best `k`. */
  private def intersectShard(blobs: Array[ShardPosting], idf: Map[String, Double],
                             avgDl: Double, k: Int, admit: Long => Boolean): Search.TopK = {
    val acc = new Search.TopK(k)
    // some term absent from shard => no conjunction
    if (blobs.length < idf.size) return acc
    // rarest-first: fewest docs drives the intersection
    val ordered = blobs.sortBy(_.numDocs)
    val cursors = ordered.map(b => (idf(b.term), new PostingCodec.Cursor(new PostingCodec.Decoded(b.bytes))))
    val lead = cursors(0)._2
    while (!lead.exhausted && !cursors.exists(_._2.exhausted)) {
      val cand = lead.docId
      var aligned = true
      var i = 1
      while (aligned && i < cursors.length) {
        val c = cursors(i)._2
        c.skipTo(cand)
        if (c.exhausted) { aligned = false }
        else if (c.docId != cand) {
          // candidate dead; restart from the larger docId
          if (c.docId > cand) lead.skipTo(c.docId)
          aligned = false
        }
        i += 1
      }
      if (aligned) {
        if (admit(cand)) {
          acc.count += 1
          // block-max θ check before exact scoring
          var ub = 0.0
          var j = 0
          while (j < cursors.length) { ub += cursors(j)._1 * cursors(j)._2.blockMaxTfNorm; j += 1 }
          // `>= theta` (not `>`) so equal-score smaller-docId candidates
          // still get scored and can win the tie-break
          if (!acc.full || ub >= acc.theta) {
            var score = 0.0
            j = 0
            while (j < cursors.length) {
              val (w, c) = cursors(j)
              score += w * Bm25.tfNormS(c.tf, c.dl, avgDl)
              j += 1
            }
            acc.keep(cand, score)
          }
        }
        lead.next()
      }
    }
    acc
  }

  /** a query term's cursor: idf weight, posting cursor, and the term-level
    * upper bound idf · maxTfNorm of the whole list */
  private final class TermCursor(val w: Double, val cur: PostingCodec.Cursor, val termUB: Double)

  /** live cursors over one shard's blobs */
  private def cursorsOf(blobs: Array[ShardPosting], idf: Map[String, Double]): Array[TermCursor] =
    blobs.map { b =>
      val dec = new PostingCodec.Decoded(b.bytes)
      new TermCursor(idf(b.term), new PostingCodec.Cursor(dec), idf(b.term) * dec.maxTfNorm)
    }.filter(!_.cur.exhausted)

  /** Classic DISJUNCTIVE block-max WAND (Broder et al. 2003 + block-max
    * refinement, Ding & Suel 2011): OR-semantics top-k — any doc containing
    * ≥1 query term scores. The reference itself is conjunctive-only; this is
    * the standard IR extension a complete engine offers.
    *
    * Per shard: cursors kept docId-sorted; the pivot is the first cursor
    * where the prefix sum of term-level upper bounds (idf·maxTfNorm of the
    * whole list) reaches θ — docs before the pivot cannot enter the top-k
    * and are skipped wholesale via skipTo (never decoded thanks to the
    * block skip list). At the pivot, the tighter block-max bound gets a
    * second chance to skip before exact scoring. Exact w.r.t. ties: prune
    * only when bound < θ strictly (score == θ with smaller docId must
    * still be scored to win the docId tie-break).
    */
  def topKDisjunctive(shards: Dataset[ShardPosting], idfs: Map[String, Double],
                      avgDl: Double, k: Int): DataFrame =
    Search.view(shards.sparkSession, run(shards, idfs, k)(disjunctiveShard(_, _, avgDl, k)))

  /** one shard's disjunctive block-max WAND top-k */
  private def disjunctiveShard(blobs: Array[ShardPosting], idf: Map[String, Double],
                               avgDl: Double, k: Int): Search.TopK = {
    val cursors = scala.collection.mutable.ArrayBuffer.from(cursorsOf(blobs, idf))
    val top = new Search.TopK(k)
    while (cursors.nonEmpty) {
      val sorted = cursors.sortInPlace()(Ordering.by(_.cur.docId))
      // pivot: first index where the prefix UB could reach theta
      var acc = 0.0
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < sorted.length) {
        acc += sorted(i).termUB
        if (!top.full || acc >= top.theta) pivot = i
        i += 1
      }
      if (pivot < 0) {
        cursors.clear() // no remaining doc can reach theta
      } else {
        val pivotDoc = sorted(pivot).cur.docId
        // BMW pivot extension: cursors past the pivot index can sit on the
        // same docId (sorted ⇒ contiguous) and contribute to the exact
        // score, so the block-max bound must include them too — otherwise a
        // doc whose tail cursors push it over θ is wrongly skipped.
        while (pivot + 1 < sorted.length && sorted(pivot + 1).cur.docId == pivotDoc) pivot += 1
        if (sorted(0).cur.docId == pivotDoc) {
          // all cursors at pivotDoc participate; block-max second chance
          var bmUB = 0.0
          var j = 0
          while (j <= pivot) { bmUB += sorted(j).w * sorted(j).cur.blockMaxTfNorm; j += 1 }
          if (!top.full || bmUB >= top.theta) {
            var score = 0.0
            j = 0
            while (j < sorted.length && sorted(j).cur.docId == pivotDoc) {
              val c = sorted(j)
              score += c.w * Bm25.tfNormS(c.cur.tf, c.cur.dl, avgDl)
              j += 1
            }
            top.keep(pivotDoc, score)
          }
          // advance every cursor sitting on pivotDoc
          var j2 = 0
          while (j2 < sorted.length && sorted(j2).cur.docId == pivotDoc) {
            sorted(j2).cur.next(); j2 += 1
          }
        } else {
          // docs before the pivot can't win: jump the leading cursor
          sorted(0).cur.skipTo(pivotDoc)
        }
        cursors.filterInPlace(!_.cur.exhausted)
      }
    }
    top
  }

  /** Disjunctive BM25 top-k via MaxScore pruning (Turtle & Flood 1995,
    * "Query evaluation: strategies and optimizations" — public literature):
    * the THIRD dynamic-pruning strategy beside conjunctive and disjunctive
    * block-max WAND. Lists sit in ascending term-upper-bound order; the
    * current θ splits them into a NON-ESSENTIAL prefix (whose summed upper
    * bounds cannot alone reach θ) and an essential suffix. Candidates are
    * drawn only from essential lists; non-essential lists are skipTo-probed
    * for the exact score with a running remaining-bound early exit.
    *
    * Exactness contract shared with the WAND variants (hash-proven by the
    * shared disjunctive oracle): prune strictly below θ only — a θ-tie
    * with a smaller docId must still be scored to win the docId tie-break,
    * so a prefix whose bound EQUALS θ stays essential and a probe chain
    * whose bound equals θ runs to completion.
    *
    * Scale shape: identical to [[topKDisjunctive]] — the shard runner over
    * ≤ |terms| decoded blobs per shard, zero further shuffle, per-shard
    * top-k lists merged in the same job. The MaxScore advantage at
    * 100 TB: once θ passes a hot term's upper bound, that (longest, lowest-
    * idf) list is never iterated again — only skipTo-probed at candidate
    * docIds, O(candidates · log blocks) on the skip index instead of
    * O(postings). */
  def maxScoreTopK(shards: Dataset[ShardPosting], idfs: Map[String, Double],
                   avgDl: Double, k: Int): DataFrame =
    Search.view(shards.sparkSession, run(shards, idfs, k)(maxScoreShard(_, _, avgDl, k)))

  /** one shard's MaxScore top-k */
  private def maxScoreShard(blobs: Array[ShardPosting], idf: Map[String, Double],
                            avgDl: Double, k: Int): Search.TopK = {
    // static MaxScore layout: ascending term upper bound
    val cs = cursorsOf(blobs, idf).sortBy(_.termUB)
    val live = Array.fill(cs.length)(true)
    val top = new Search.TopK(k)
    val prefixUB = new Array[Double](cs.length + 1)
    var done = cs.isEmpty
    while (!done) {
      var i = 0
      while (i < cs.length) {
        prefixUB(i + 1) = prefixUB(i) + (if (live(i)) cs(i).termUB else 0.0)
        i += 1
      }
      // largest prefix whose total bound is STRICTLY below θ is non-essential
      var firstEss = 0
      if (top.full)
        while (firstEss < cs.length && prefixUB(firstEss + 1) < top.theta) firstEss += 1
      // candidate: min docId across live essential cursors
      var cand = Long.MaxValue
      i = firstEss
      while (i < cs.length) {
        if (live(i) && cs(i).cur.docId < cand) cand = cs(i).cur.docId
        i += 1
      }
      if (cand == Long.MaxValue) {
        done = true // only non-essential lists remain: no doc can reach θ
      } else {
        // exact essential contributions; advance those cursors after
        var score = 0.0
        i = firstEss
        while (i < cs.length) {
          if (live(i) && cs(i).cur.docId == cand) {
            score += cs(i).w * Bm25.tfNormS(cs(i).cur.tf, cs(i).cur.dl, avgDl)
          }
          i += 1
        }
        // probe non-essential lists in descending-UB order, early exit
        // the moment even full credit for the unprobed rest can't reach θ
        var j = firstEss - 1
        var viable = !top.full || score + prefixUB(firstEss) >= top.theta
        while (viable && j >= 0) {
          if (live(j)) {
            if (top.full && score + prefixUB(j + 1) < top.theta) viable = false
            else {
              val c = cs(j)
              c.cur.skipTo(cand)
              if (c.cur.exhausted) live(j) = false
              else if (c.cur.docId == cand)
                score += c.w * Bm25.tfNormS(c.cur.tf, c.cur.dl, avgDl)
            }
          }
          j -= 1
        }
        if (viable) top.keep(cand, score)
        i = firstEss
        while (i < cs.length) {
          if (live(i) && cs(i).cur.docId == cand) {
            cs(i).cur.next()
            if (cs(i).cur.exhausted) live(i) = false
          }
          i += 1
        }
      }
    }
    top
  }
}
