package graft.query

import graft.index.{PostingCodec, ShardPosting}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Conjunctive BM25 top-k over the compressed sharded index with block-max
  * pruning — the scale path of the query core (north star: "BM25 top-k with
  * posting-list intersection and block-max WAND pruning").
  *
  * Distribution shape: the query touches |terms| × |shards| blobs; they are
  * grouped by shard (each group = the query's full working set for one
  * docId range, ≤ |terms| blobs), intersected + scored + top-k'd per group
  * with zero further shuffle, then the tiny per-shard top-k lists (≤ k rows
  * each) meet in a global TakeOrderedAndProject ([[topK]]) or a
  * treeAggregate inside the same job ([[countTopK]]). Adding
  * executors splits shards, not terms — scaling is embarrassing in the
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
  def topK(shards: Dataset[ShardPosting], idfs: Map[String, Double], avgDl: Double, k: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val idfB = spark.sparkContext.broadcast(idfs)
    val hits = shards.groupByKey(_.shard).flatMapGroups { (_, it) =>
      intersectShard(it.toArray, idfB.value, avgDl, k, admitAll).ranked.iterator.map(h => (h.docId, h.score))
    }.toDF("doc_id", "score")
    ranked(hits, k)
  }

  /** The full conjunctive match count AND the global top-k in ONE Spark
    * job: the query's blobs are grouped by shard inside the job (keyBy →
    * groupByKey), each shard's [[intersectShard]] partial is merged with
    * treeAggregate, and the count comes back in the action's result. Only
    * docs `admit` accepts are counted and ranked. Same candidates, scores
    * and rank order as [[topK]] when every doc is admitted. */
  def countTopK(shards: Dataset[ShardPosting], idfs: Map[String, Double],
                avgDl: Double, k: Int, admit: Long => Boolean = admitAll): Search.TopK = {
    val idfB = shards.sparkSession.sparkContext.broadcast(idfs)
    shards.rdd.keyBy(_.shard).groupByKey()
      .map { case (_, it) => intersectShard(it.toArray, idfB.value, avgDl, k, admit) }
      .treeAggregate(new Search.TopK(k))((a, b) => a.merge(b), (a, b) => a.merge(b))
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

  /** global merge of the per-shard top-k lists: TakeOrdered + rank stamp */
  private def ranked(hits: DataFrame, k: Int): DataFrame =
    Search.rankTopK(hits, k, Seq(desc("score"), asc("doc_id")))
      .select(col("rank"), col("doc_id"), col("score"))

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
                      avgDl: Double, k: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val idfB = spark.sparkContext.broadcast(idfs)
    val hits = shards.groupByKey(_.shard).flatMapGroups { (_, it) =>
      val idf = idfB.value
      final class C(val w: Double, val cur: PostingCodec.Cursor, val termUB: Double)
      val cursors = scala.collection.mutable.ArrayBuffer.from(
        it.toArray.map { b =>
          val dec = new PostingCodec.Decoded(b.bytes)
          new C(idf(b.term), new PostingCodec.Cursor(dec), idf(b.term) * dec.maxTfNorm)
        }.filter(!_.cur.exhausted))
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
      top.ranked.iterator.map(h => (h.docId, h.score))
    }.toDF("doc_id", "score")
    ranked(hits, k)
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
    * Scale shape: identical to [[topKDisjunctive]] — per-shard mapGroups
    * over ≤ |terms| decoded blobs, zero further shuffle, per-shard top-k
    * lists meet in one TakeOrderedAndProject. The MaxScore advantage at
    * 100 TB: once θ passes a hot term's upper bound, that (longest, lowest-
    * idf) list is never iterated again — only skipTo-probed at candidate
    * docIds, O(candidates · log blocks) on the skip index instead of
    * O(postings). */
  def maxScoreTopK(shards: Dataset[ShardPosting], idfs: Map[String, Double],
                   avgDl: Double, k: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val idfB = spark.sparkContext.broadcast(idfs)
    val hits = shards.groupByKey(_.shard).flatMapGroups { (_, it) =>
      val idf = idfB.value
      final class C(val w: Double, val cur: PostingCodec.Cursor, val termUB: Double)
      // static MaxScore layout: ascending term upper bound
      val cs = it.toArray.map { b =>
        val dec = new PostingCodec.Decoded(b.bytes)
        new C(idf(b.term), new PostingCodec.Cursor(dec), idf(b.term) * dec.maxTfNorm)
      }.filter(!_.cur.exhausted).sortBy(_.termUB)
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
      top.ranked.iterator.map(h => (h.docId, h.score))
    }.toDF("doc_id", "score")
    ranked(hits, k)
  }
}
