package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Size-derived blocking dials for the candidate-pair operators.
  *
  * The problem (measured, BENCH_DETAIL_sf10.json round 14): with a
  * FIXED blocking resolution, in-block occupancy grows linearly with
  * the corpus and in-block candidate pairs quadratically — q45's
  * n_chars width 500 and q57's 4 sign bits gave time exponents of
  * ~1.5 and ~1.7 over sf1→sf10 (186 s / 98 s at sf10). The remedy
  * every production blocking scheme uses is to scale the RESOLUTION
  * with the corpus so per-block occupancy stays ~constant: blocks
  * then number Θ(n), occupancy Θ(1), and total candidate volume —
  * hence runtime — Θ(n).
  *
  * Contract that keeps the dial oracle-checkable:
  *  - The derivation is a PURE INTEGER function of cheap corpus
  *    stats (row count; max length). Any engine computing the same
  *    stats derives the same dial, so a DuckDB oracle reproduces the
  *    derivation in a params CTE and the hash gate still applies —
  *    the dial is part of the declared query semantics, not a hidden
  *    engine knob.
  *  - The dial is BLOCKING-ONLY: it decides which pairs are
  *    *compared*, never changes a compared pair's score or its
  *    threshold outcome (pinned in PropertySpec: the narrow-dial
  *    result equals the wide-dial result filtered to narrow-dial
  *    co-blocked pairs).
  *  - Resolution is the recall trade: pairs straddling a block
  *    boundary are the loss, measured per-scale by
  *    [[graft.ScaleKnobs]] and recorded in PLANS.md.
  *
  * Float-safety: both formulas below use one correctly-rounded IEEE
  * double division + ceil on integer-valued operands — bit-identical
  * across engines — and the sign-bit count is a pure bit-length, so
  * no log2 rounding can diverge between JVM and C++.
  */
object BlockDials {

  /** Target docs per length band of [[lengthBucketWidth]]. */
  private val DocsPerBlock = 1250L

  /** Width of the n_chars length-bucket for [[Dedup.jaccardPairs]]-
    * style blocking: split the corpus into `ceil(n / DocsPerBlock)`
    * equal-width length bands over [0, maxLen]. At the reference
    * data's distribution this holds per-(lang, band) occupancy near
    * `DocsPerBlock × langShare` at every scale.
    */
  def lengthBucketWidth(n: Long, maxLen: Long): Int = {
    require(n >= 0 && maxLen >= 0, "stats must be non-negative")
    if (n == 0) return math.max(1, maxLen + 1).toInt
    val k = math.ceil(n / DocsPerBlock.toDouble).toLong
    math.max(1L, math.ceil((maxLen + 1) / k.toDouble).toLong).toInt
  }

  /** Target vectors per sign bucket of [[signBits]]. */
  private val TargetOccupancy = 750L
  /** Upper clamp of [[signBits]]: axis-aligned sign projections only
    * exist up to the embedding dimension, and past ~16 bits bucket
    * population is too sparse to pay for.
    */
  private val MaxBits = 16

  /** Sign-projection bit count for
    * [[Similarity.cosinePairsBlocked]]: the smallest `b` with
    * `2^b >= ceil(n / TargetOccupancy)` — the bit length of
    * `ceil(n / TargetOccupancy) - 1` (exactly
    * `GREATEST(1, LENGTH(BIN(k - 1)))` in DuckDB SQL, so the oracle
    * derives the identical value with no floating log2). Clamped to
    * `[1, MaxBits]`.
    */
  def signBits(n: Long): Int = {
    require(n >= 0, "count must be non-negative")
    val k = math.ceil(n / TargetOccupancy.toDouble).toLong
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, k - 1))
    math.min(MaxBits, math.max(1, bits))
  }

  /** Target vectors per IVF list of [[ivfLists]]. */
  private val TargetList = 500L
  /** Floor of [[ivfLists]]. */
  private val MinLists = 4

  /** IVF list count for [[Similarity.cosineTopKIndexed]]-style indexed
    * mining: `max(MinLists, ceil(n / TargetList))` — lists scale with
    * the corpus so per-list occupancy stays ~`TargetList` and the
    * probe-join candidate volume is Θ(n · nprobe · TargetList), i.e.
    * linear in n by construction (unlike sign buckets, whose FIXED
    * axis-aligned projections concentrate a clustered corpus into few
    * hot buckets no matter how many bits the dial adds — k-means
    * centroids follow the data and split hot regions). Pure integer
    * derivation (`GREATEST(4, CAST(CEIL(n / 500.0) AS BIGINT))` in
    * DuckDB), same oracle contract as the other dials.
    */
  def ivfLists(n: Long): Int = {
    require(n >= 0, "count must be non-negative")
    math.min(Int.MaxValue.toLong, math.max(MinLists.toLong,
      math.ceil(n / TargetList.toDouble).toLong)).toInt
  }

  /** Per-list occupancy cap for [[Similarity.writeIvfIndex]]'s
    * overflow rebalancing: `2 × ceil(n / c)` — twice the average
    * occupancy. k-means lists are balanced in expectation, not by
    * guarantee; on clustered corpora (or under the cheap 2-iter
    * sampled training) hot lists outgrow the average and the indexed
    * miners' candidate volume Σ|la|×|lb| picks up a superlinear term
    * (measured exponent 1.16 sf1→sf10 before the cap — PLANS.md r17).
    * Items ranked past the cap overflow to their second-nearest
    * centroid (one deterministic round, no cascade), restoring
    * candidates ≈ Θ(n · nprobe · cap). Pure integer derivation
    * (`2 * CAST(CEIL(n / CAST(c AS DOUBLE)) AS BIGINT)` in DuckDB),
    * same oracle contract as the other dials.
    */
  def ivfListCap(n: Long, c: Int): Int = {
    require(n >= 0, "count must be non-negative")
    require(c >= 1, "list count must be >= 1")
    // clamp before .toInt: at giant n/c the Long product would wrap to
    // a negative/small cap via silent Int truncation (r19 advice)
    math.min(Int.MaxValue.toLong,
      math.max(1L, 2L * math.ceil(n / c.toDouble).toLong)).toInt
  }

  /** The two corpus stats the dials need, via one column-pruned agg
    * job (count + max over a single int column — parquet footer
    * statistics feed the max, and the scan never touches text or
    * embedding bytes). One tiny driver action per query is the price
    * of a data-derived dial; at 100 TB this is a metadata-bounded
    * pass, not a data pass.
    */
  def countAndMax(df: DataFrame, lenCol: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), max(lenCol.cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
