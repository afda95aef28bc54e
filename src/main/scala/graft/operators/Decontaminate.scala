package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination: per corpus document, how many of its
  * distinct word n-grams also appear anywhere in an evaluation set.
  * This is the standard pre-training hygiene pass — before training,
  * every document sharing n-grams with held-out benchmarks is flagged
  * (and usually dropped) so eval scores measure generalization, not
  * memorization.
  *
  * Scale shape: the eval side (benchmark suites) is tiny relative to
  * the corpus, so its distinct n-gram hash set is BROADCAST; the
  * corpus is one scan — shingle, hash, broadcast-hash-join, then a
  * per-document aggregation on the document's own key (map-side
  * combinable, no hot-key skew: the corpus never shuffles on the
  * n-gram). N-grams travel as md5 hex (fixed 32 bytes), never as raw
  * text, so the broadcast and the join rows stay compact at 100 TB.
  */
object Decontaminate {

  /** One row per corpus document: distinct n-gram count, how many of
    * those n-grams hit the eval set, and the contamination flag.
    * Documents shorter than `n` tokens surface with n_grams = 0
    * (explode_outer keeps them; the null gram row counts as nothing).
    *
    * Shingle+hash runs through the one-pass ShingleMd5 expression
    * (why: see the TokenWindows kernel's docs).
    */
  def overlap(corpus: DataFrame, evalSet: DataFrame, id: String,
              text: String, n: Int): DataFrame = {
    val grams =
      graft.functions.expressions.ShingleMd5
        .shingleMd5(TextFunctions.tokens(col(text)), n)
    val evalGrams = evalSet
      .select(explode(grams).as("egram"))
      .distinct()
    val corpusGrams = corpus
      .select(col(id), explode_outer(grams).as("cgram"))
    corpusGrams
      .join(broadcast(evalGrams), col("cgram") === col("egram"), "left")
      .groupBy(col(id))
      .agg(count(col("cgram")).as("n_grams"),
           count(col("egram")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Bloom-filter decontamination — the scale path for [[overlap]]
    * when the eval side outgrows a comfortable broadcast of its full
    * n-gram hash set. The filter is DETERMINISTIC and engine-neutral:
    * each distinct eval n-gram md5 sets `numHashes` bit positions,
    * the j-th position being `hex[8j..8j+8) mod mBits` (independent
    * 32-bit slices of the same md5 — k-of-one-hash blooming, Kirsch &
    * Mitzenmacher-style), so DuckDB replays the exact same filter and
    * the output is hash-gated, not rows-only.
    *
    * A corpus gram "bloom-hits" when ALL `numHashes` of its positions
    * are set; a doc is flagged when any of its grams bloom-hits. By
    * construction this can only OVER-flag relative to [[overlap]]
    * (no false negatives — pinned as a law in TrainingDataOpsSpec):
    * the bloom pass is the cheap first stage whose survivors a
    * second exact pass (or nothing, if the false-positive rate is
    * acceptable) re-checks.
    *
    * Scale shape (100 TB): the joined side is the DISTINCT SET BIT
    * table, bounded by `mBits` ROWS REGARDLESS OF EVAL-SET SIZE —
    * that bound is the whole point of the sketch (a 10-billion-gram
    * eval suite still reduces to at most mBits ints ≈ a few hundred
    * KB), where overlap's broadcast grows linearly with the eval set.
    * The corpus side is one scan; each of the `numHashes` membership
    * tests is a separate equi-join against the same bit table (AQE
    * broadcasts it; identical broadcast subplans are reused), so the
    * corpus never shuffles and no pair/bitmap state lives on the
    * driver. The final per-doc aggregation is map-side combinable on
    * the corpus's own key.
    */
  def bloomOverlap(corpus: DataFrame, evalSet: DataFrame, id: String,
                   text: String, n: Int, mBits: Int,
                   numHashes: Int = 2): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4,
      s"numHashes must be in [1,4] (8 hex chars per position of one " +
        s"md5), got $numHashes")
    require(mBits >= 2, s"mBits must be >= 2, got $mBits")
    val grams =
      graft.functions.expressions.ShingleMd5
        .shingleMd5(TextFunctions.tokens(col(text)), n)
    def pos(g: Column, j: Int): Column =
      pmod(conv(substring(g, 1 + 8 * j, 8), 16, 10).cast("bigint"),
           lit(mBits.toLong))
    val evalBits = evalSet
      .select(explode(grams).as("g"))
      .select(explode(
        array((0 until numHashes).map(j => pos(col("g"), j)): _*))
        .as("bit"))
      .distinct()
    val corpusGrams = corpus
      .select(col(id), explode_outer(grams).as("cgram"))
    // explicit broadcast, like overlap's: the set-bit table is
    // mBits-capped by construction, but Catalyst's ESTIMATE of a
    // freshly-aggregated frame can exceed autoBroadcastJoinThreshold
    // at large mBits dials, silently degrading every membership test
    // to a SortMergeJoin that shuffles the corpus gram stream — the
    // exact cost the sketch exists to avoid (r20 advisor).
    // r22 (r21 advisor): the hint is GATED on the mBits bound itself —
    // a saturated 1<<24-bit filter is ~16M long rows, and a forced
    // broadcast would bypass AQE's size check to risk an executor/
    // driver OOM per membership join where the unhinted plan degrades
    // to a (slow but safe) shuffle. Below the gate the row bound is
    // ≤ 2M longs (~16 MB data), a safe relation on any executor.
    val forceBroadcast = mBits <= (1 << 21)
    val probed = (0 until numHashes).foldLeft(corpusGrams) { (df, j) =>
      val bits = evalBits.withColumnRenamed("bit", s"b$j")
      df.join(if (forceBroadcast) broadcast(bits) else bits,
              pos(col("cgram"), j) === col(s"b$j"), "left")
    }
    val allSet = (0 until numHashes)
      .map(j => col(s"b$j").isNotNull)
      .reduce(_ && _)
    probed
      .groupBy(col(id))
      .agg(count(col("cgram")).as("n_grams"),
           count(when(allSet, lit(1))).as("n_bloom_hits"))
      .withColumn("bloom_flagged", col("n_bloom_hits") > 0)
  }
}
