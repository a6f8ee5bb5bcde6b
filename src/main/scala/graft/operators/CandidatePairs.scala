package graft.operators

import graft.G
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate-pair engine behind every banded near-dup family: a
  * family computes its signatures and band rows `(id, keys…)`; the engine
  * caps hot buckets ([[capBuckets]]), self-joins on bucket equality into
  * distinct ordered pairs ([[bucketPairs]]), and verifies them exactly
  * against a payload joined back onto both sides ([[verifyPairs]]). The
  * same partition → candidate → verify skeleton with pluggable signatures
  * that distributed similarity search systems use (PAPERS.md: REPOSE,
  * streaming time-series similarity search).
  *
  * Each caller keeps its own cache/broadcast placement: a frame it caches
  * (or broadcasts) before passing it in is read that way by the join.
  */
object CandidatePairs {

  /** Skew guard for LSH band buckets: drop buckets holding more than
    * `maxBucketSize` rows before the bucket-equality self-join. A hot bucket
    * (popular boilerplate text, a degenerate hyperplane cell) contributes
    * O(size²) candidate pairs — one 10M-row bucket at 100 TB is 10¹⁴ pairs
    * in a single straggler task, which no AQE skew-split saves because the
    * blowup is in the JOIN OUTPUT, not the input partition. Dropping the
    * bucket is the standard LSH mitigation (near-dups that collide there
    * still collide in the other bands/tables with high probability).
    * Results are unchanged for uniform data: no bucket reaches the cap and
    * the filter keeps every row.
    *
    * Implemented as a window count, not groupBy-count + join-back: one
    * shuffle on the bucket key, the banded frame is computed once, and the
    * output stays hash-partitioned by `keys` — which is exactly the
    * distribution the LSH self-join needs next, so Catalyst plans no
    * further exchange for it. */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String],
      maxBucketSize: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    banded.withColumn("__bucket_n", count(lit(1)).over(w))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
  }

  /** Distinct id pairs `(a, b)` with `a < b` that share at least one
    * bucket of `banded` (rows `(id, keys…)`, already capped). A pair that
    * collides in several bands comes out once. */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String],
      id: String = "doc_id", a: String = "doc_a",
      b: String = "doc_b"): DataFrame =
    bandSide(banded, id, a, keys).join(bandSide(banded, id, b, keys), keys)
      .filter(col(a) < col(b))
      .select(col(a), col(b))
      .distinct()

  /** Distinct `(a, b)` pairs sharing a bucket between the band rows
    * (doc_id, keys…) of two different corpora — an index probe, so every
    * cross pair counts and no ordering filter applies. A small side is
    * broadcast by the caller. */
  private[graft] def probePairs(left: DataFrame, right: DataFrame,
      keys: Seq[String], a: String, b: String): DataFrame =
    bandSide(left, "doc_id", a, keys).join(bandSide(right, "doc_id", b, keys), keys)
      .select(col(a), col(b))
      .distinct()

  private def bandSide(banded: DataFrame, id: String, n: String,
      keys: Seq[String]): DataFrame =
    banded.select((col(id).as(n) +: keys.map(col)): _*)

  /** Hamming-banded pairs of the bit-signature families: distinct
    * `(doc_a < doc_b)` sharing a bucket of the capped `banded` rows
    * (doc_id, sig, keys…) whose signatures differ in at most `maxDist`
    * bits. The signature rides through the bucket join so the hamming
    * filter runs BEFORE the distinct: false-positive collisions are pruned
    * map-side and the dedup exchange carries survivors only. */
  private[graft] def hammingPairs(banded: DataFrame, keys: Seq[String],
      sig: String, maxDist: Int): DataFrame = {
    def side(n: String, s: String) =
      banded.select((col("doc_id").as(n) +: col(sig).as(s) +: keys.map(col)): _*)
    side("doc_a", "sig_a").join(side("doc_b", "sig_b"), keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** `payload` (id column first) as one pair side: the id renamed `n`,
    * every other column `c` renamed `c + s`. */
  private def sideOf(payload: DataFrame, n: String, s: String): DataFrame = {
    val id +: cols = payload.columns.toSeq
    payload.select((col(id).as(n) +: cols.map(c => col(c).as(c + s))): _*)
  }

  /** `pairs` (two id columns) with `payload` (id column first) joined onto
    * both sides: payload column `c` arrives as `c + "a"` for the first id
    * and `c + "b"` for the second. */
  private[graft] def withSides(pairs: DataFrame, payload: DataFrame)
      : DataFrame = {
    val Array(a, b) = pairs.columns
    pairs.join(sideOf(payload, a, "a"), Seq(a))
      .join(sideOf(payload, b, "b"), Seq(b))
  }

  /** Brute-force candidates of a small bounded window (the verify kernels
    * and sample truths): every `(a < b)` pair of `window`'s rows with
    * both payloads, named as in [[withSides]]. The cross join broadcasts
    * side b and streams side a, and the window is one scan split, so the
    * per-pair kernel would otherwise run as ONE task while the other cores
    * idle (measured in round 11): side a is repartitioned to the session
    * width — a numbered repartition, which AQE never coalesces. Row set
    * unchanged. */
  private[graft] def allPairs(window: DataFrame, a: String = "doc_a",
      b: String = "doc_b"): DataFrame =
    sideOf(window, a, "a").repartition(G.shuffleWidth(window.sparkSession))
      .crossJoin(sideOf(window, b, "b"))
      .filter(col(a) < col(b))

  /** Exact verify: [[withSides]], then the similarity `sim` (name, value
    * over the side columns) added and kept where it clears `tau` through
    * `G.simFilter`. */
  private[graft] def verifyPairs(pairs: DataFrame, payload: DataFrame,
      sim: (String, Column), tau: Double): DataFrame =
    withSides(pairs, payload)
      .withColumn(sim._1, sim._2)
      .filter(G.simFilter(col(sim._1), lit(tau)))

  /** Set Jaccard of two array columns. */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** The planted near-dup corpus: every `every`-th doc of `base`
    * (doc_id, text) with its first token dropped, re-keyed `+offset`. */
  private[graft] def perturbed(base: DataFrame, offset: Long, every: Int)
      : DataFrame =
    base.filter(col("doc_id") % every === 0)
      .select((col("doc_id") + offset).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, '\\\\s+'), 2, 100000))")
          .as("text"))
}
