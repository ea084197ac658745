package graft.stats

import graft.textan.TextHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-Min Sketch (Cormode & Muthukrishnan 2005, public literature) over
  * keyed counts — the fixed-memory heavy-hitter / point-estimate structure
  * a streaming ingest keeps when the exact (term, cf) dictionary would not
  * fit an executor: depth×width cells, est(t) = min_i cell(i, h_i(t)), an
  * OVERESTIMATE by construction (collisions only ever add). Complements the
  * HLL df sketch (InvertedIndex.termStatsApprox): HLL answers "how many
  * distinct", CMS answers "how much of key t".
  *
  * Hashes are the cross-engine TextHash mixer family, so the DuckDB twin
  * builds the bit-identical sketch and the driver gate hash-matches the
  * ESTIMATES themselves — proving the sketch construction, not just an
  * error bound (the spec pins est ≥ truth and exactness-at-wide-width
  * separately).
  *
  * Scale shape: the build is one explode(depth) + hash aggregate down to
  * ≤ depth·width rows — CONSTANT memory regardless of vocabulary size, with
  * hot keys absorbed by map-side partial sums. Point queries broadcast a
  * |terms|·depth probe relation against those cells. Shard sketches MERGE
  * by cell-wise addition (the same signed-delta property the LSM term_stats
  * batches rely on), which is what makes CMS the streaming-tier monitor.
  */
object Sketches {
  val depth = 4

  /** Build the sketch: (i, cell, total) = Σ `weightCol` of all rows whose
    * `keyCol` hashes to `cell` under mixer i. Rows out ≤ depth·width. */
  def cmsBuild(items: DataFrame, keyCol: String, weightCol: String,
               width: Int): DataFrame = {
    val rows = (0 until depth).map(i => struct(lit(i).as("i"),
      (TextHash.mixCol(i, TextHash.tokenHashCol(col(keyCol))) % width).as("cell")))
    items.select(explode(array(rows: _*)).as("ic"), col(weightCol).as("w"))
      .groupBy(col("ic.i").as("i"), col("ic.cell").as("cell"))
      .agg(sum("w").as("total"))
  }

  /** K-minimum-values DISTINCT sketch (Bar-Yossef et al., RANDOM 2002 —
    * public literature): keep the k smallest distinct hash values of the
    * stream; if the kth smallest is h₍ₖ₎ over a hash range of P, the
    * distinct count ≈ (k−1)·P/h₍ₖ₎. Unlike HLL++ (engine-private register
    * layout — [[graft.index.InvertedIndex.termStatsApprox]] can only be
    * spec-checked for error bounds), KMV under the cross-engine TextHash
    * is FULLY deterministic, so the DuckDB twin reproduces the estimate
    * bit-for-bit and the driver gate proves the sketch construction.
    * Fewer than k distinct hashes → the sketch IS the exact count.
    * Scale shape: a map-side-partial hash-dedup aggregate (≤ distinct
    * values rows, never stream-sized) + a TakeOrdered k-cut + one 1-row
    * aggregate; k is the whole memory budget. */
  def kmvDistinct(values: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2)
    val h = TextHash.mixCol(5, TextHash.tokenHashCol(col(valueCol)))
    values.select(h.as("h")).distinct()
      .orderBy(asc("h")).limit(k)
      .agg(count(lit(1)).as("k_n"), max("h").as("hk"))
      .select(col("k_n"),
        when(col("k_n") < k, col("k_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(TextHash.P.toDouble)
            / col("hk").cast("double")).as("est"))
  }

  /** GROUPED KMV distinct estimate — the "daily active users" shape: one
    * k-row sketch per group instead of a COUNT(DISTINCT) shuffle of raw
    * ids per group (Bar-Yossef et al. 2002, as [[kmvDistinct]]). Exact
    * below k per group; at k the (k−1)·P/h_k estimator. The per-group
    * k-smallest cut is a rank window (WindowGroupLimit — a k-row heap per
    * group, never a full per-group sort), so the shuffle carries hashes,
    * not ids. Output: (group, k_n, est). */
  def kmvDistinctBy(values: DataFrame, groupCol: String, valueCol: String,
                    k: Int): DataFrame = {
    require(k >= 2)
    val h = graft.textan.TextHash.mixCol(5,
      graft.textan.TextHash.tokenHashCol(col(valueCol)))
    values.select(col(groupCol).as("grp"), h.as("h")).distinct()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy(asc("h"))))
      .filter(col("r") <= k)
      .groupBy("grp").agg(count(lit(1)).as("k_n"), max("h").as("hk"))
      .select(col("grp"), col("k_n"),
        when(col("k_n") < k, col("k_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(graft.textan.TextHash.P.toDouble)
            / col("hk").cast("double")).as("est"))
  }

  /** Point estimates for `terms`: min over the depth probed cells; a cell
    * no key hashed to reads 0. Output (term, est). */
  def cmsEstimate(spark: SparkSession, cms: DataFrame, terms: Seq[String],
                  width: Int): DataFrame = {
    import spark.implicits._
    val probes = terms.flatMap(t => (0 until depth).map(i =>
      (t, i, TextHash.mix(i, TextHash.tokenHash(t)) % width)))
      .toDF("term", "i", "cell")
    broadcast(probes).join(cms, Seq("i", "cell"), "left")
      .na.fill(0L, Seq("total"))
      .groupBy("term").agg(min("total").as("est"))
  }

  /** scalar twin (tests): the whole sketch + estimate in memory */
  /** Bloom-filter membership over a key column (Bloom, CACM 1970 — public
    * literature): the dictionary-existence gate a distributed engine ships
    * to every executor so absent-term probes never touch the index (the
    * same job Lucene's FuzzySet / Parquet's bloom_filter_enabled do).
    * m-bit filter as the RELATION of set bit positions (distinct
    * (position) rows — dictionary-sized ≪ m·vocab since hot bits dedup),
    * kh hash functions from the cross-engine TextHash mixer family.
    *
    * probeBloom returns per probe key: (key, in_bloom, present) — a false
    * positive is in_bloom=1, present=0; a false NEGATIVE cannot occur, and
    * the harness oracle hash-checks that invariant on every run.
    *
    * Scale shape: the build is one explode of keys × kh mixers + distinct
    * (vocabulary-bounded); probes are a broadcast semi-join counting kh
    * hits. The bit-set relation is exactly what the engine would broadcast
    * (m = 2^16 → an 8 KiB bitmap in production; relational here so both
    * engines share the arithmetic). */
  def bloomBits(keys: DataFrame, keyCol: String, m: Int, kh: Int): DataFrame = {
    val h = graft.textan.TextHash.tokenHashCol(col(keyCol))
    (0 until kh).map(i =>
        keys.select((graft.textan.TextHash.mixCol(i, h) % m).as("bit")))
      .reduce(_ unionByName _).distinct()
  }

  def probeBloom(bits: DataFrame, probes: DataFrame, keyCol: String,
                 m: Int, kh: Int): DataFrame = {
    val h = graft.textan.TextHash.tokenHashCol(col(keyCol))
    val pb = (0 until kh).map(i =>
        probes.select(col(keyCol), (graft.textan.TextHash.mixCol(i, h) % m).as("bit")))
      .reduce(_ unionByName _).distinct()
    val hits = pb.join(bits, "bit").groupBy(keyCol).agg(count(lit(1)).as("hits"))
    val need = pb.groupBy(keyCol).agg(count(lit(1)).as("need"))
    need.join(hits, Seq(keyCol), "left")
      .select(col(keyCol),
        (coalesce(col("hits"), lit(0L)) === col("need")).cast("long").as("in_bloom"))
  }

  def cmsEstimateS(counts: Map[String, Long], term: String, width: Int): Long =
    (0 until depth).map { i =>
      val cell = TextHash.mix(i, TextHash.tokenHash(term)) % width
      counts.collect { case (k, w)
        if TextHash.mix(i, TextHash.tokenHash(k)) % width == cell => w }.sum
    }.min
}
