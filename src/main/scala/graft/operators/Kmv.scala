package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (K-minimum-values) sketch building block: the K smallest
  * DISTINCT hash values, per group — the measurable core of q76/q117.
  *
  * The naive formulation (`distinct()` then top-K) shuffles EVERY
  * distinct value before discarding all but K: at sf10 that is a
  * 60 M-row exchange feeding a 256-row answer (measured 8.8 s,
  * BENCH_DETAIL_sf10.json). A KMV sketch is a bounded mergeable
  * summary, so the scalable shape is the one every production sketch
  * library uses: a BOUNDED partial sketch per input partition (at most
  * K values per group per partition, kept in a capped ordered set),
  * then a merge over |partitions| × |groups| × K rows — thousands,
  * not tens of millions. This is a legitimate `mapPartitions` use:
  * no built-in computes a bounded DISTINCT top-K without first paying
  * the full distinct exchange (TakeOrderedAndProject's partial top-K
  * keeps duplicates, which can crowd the real K-th distinct value
  * out of the partial).
  *
  * Exactness: the K smallest distinct values of a union are always
  * contained in the union of each part's K smallest distinct values —
  * the same merge property q117 pins for per-GROUP sketches applies
  * per PARTITION. Pinned against the literal distinct→sort→limit in
  * `OperatorsSpec`.
  */
object Kmv {

  /** K smallest distinct `hv` per `group`, as rows (g, hv).
    * Output is exact and deterministic; the only exchange carries the
    * partial sketches (≤ K rows per group per input partition).
    *
    * Memory bound: the per-partition state is `#groups-in-partition ×
    * K` longs — bounded in ROWS per group but NOT in groups. A
    * mis-aimed call with a high-cardinality group column (a doc id, a
    * join key) would grow the map without limit, and the failure mode
    * would be an opaque executor OOM mid-task. `maxGroups` (default
    * 1 M ≈ ≤2 GB of task state at K=256, far past any legitimate
    * sketch-dimension cardinality) turns that into a loud, named
    * error the moment a partition exceeds it; raise it only if the
    * group dimension is genuinely that wide — past that, a bounded
    * sketch per group is the wrong plan and the generic
    * distinct→rank path (what `OperatorsSpec` pins this against)
    * is the honest fallback.
    */
  def kSmallestDistinctByGroup(df: DataFrame, group: Column, hv: Column,
                               k: Int, maxGroups: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val partial = keyed(df, group, hv, k, maxGroups)
      .mapPartitions { it =>
        val sketches = new Sketches(k, maxGroups)
        it.foreach { case (g, v) => sketches.insert(g, v) }
        sketches.rows
      }
      .toDF("g", "hv")
    merge(partial, k)
  }

  /** One-pass dual sketch: the per-GROUP K-smallest-distinct sketches
    * AND the GLOBAL (ungrouped) one, from a SINGLE scan of the input —
    * for callers like q117 that need both and would otherwise scan
    * (and re-hash) the table twice. The global sketch is maintained by
    * its own independent capped set fed by every row — NOT derived
    * from the group sketches — so a merge-vs-recompute comparison
    * downstream stays a real recompute; only the scan is shared.
    *
    * The partial rows are eagerly `localCheckpoint`ed before fan-out:
    * they are sketch-sized by construction (≤ K rows per group per
    * partition, + K global rows per partition), so the materialization
    * is bounded at any corpus size, and without it each of the two
    * returned frames would re-run the scan the method exists to share.
    * Cluster caveat (r21 advisor): `localCheckpoint` blocks are NOT
    * recoverable on executor loss — fine for the single-JVM local
    * engine; a cluster deployment of this shape would persist the
    * bounded partials to reliable storage (`checkpoint()` with a
    * checkpoint dir, or a parquet round-trip) instead.
    *
    * Returns (perGroup, global): (g, hv) rows exactly equal to
    * [[kSmallestDistinctByGroup]], and (hv) rows exactly equal to
    * [[kSmallestDistinctByGroup]] over one constant group (pinned in
    * OperatorsSpec).
    */
  def kSmallestDistinctByGroupWithGlobal(df: DataFrame, group: Column,
                                         hv: Column, k: Int,
                                         maxGroups: Int = 1 << 20)
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val partial = keyed(df, group, hv, k, maxGroups)
      .mapPartitions { it =>
        val perGroup = new Sketches(k, maxGroups)
        val global = new Sketches(k, 1)
        it.foreach { case (g, v) =>
          perGroup.insert(g, v)
          global.insert(null, v)
        }
        perGroup.rows.map { case (g, v) => (false, g, v) } ++
          global.rows.map { case (g, v) => (true, g, v) }
      }
      .toDF("is_global", "g", "hv")
      .localCheckpoint()
    val perGroup = merge(
      partial.filter(!col("is_global")).select(col("g"), col("hv")), k)
    val global = merge(
      partial.filter(col("is_global")).select(lit("_").as("g"), col("hv")), k)
      .select(col("hv"))
    (perGroup, global)
  }

  /** The (g, hv) rows both sketches read, once the dials are checked. */
  private def keyed(df: DataFrame, group: Column, hv: Column, k: Int,
                    maxGroups: Int): Dataset[(String, Long)] = {
    require(k >= 1, "k must be >= 1")
    require(maxGroups >= 1, "maxGroups must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(group.cast("string").as("g"), hv.cast("long").as("hv"))
      .as[(String, Long)]
  }

  /** One partition's capped sketches, one per group key: the K
    * smallest distinct values seen per key, with at most `maxGroups`
    * keys.
    */
  private final class Sketches(k: Int, maxGroups: Int) {
    private val sets = scala.collection.mutable.Map.empty[
      String, java.util.TreeSet[java.lang.Long]]

    def insert(g: String, v: Long): Unit = {
      val s = sets.getOrElseUpdate(g, {
        if (sets.size >= maxGroups)
          throw new IllegalStateException(
            s"Kmv: more than $maxGroups distinct groups in one partition " +
              "— the group column looks high-cardinality, so the bounded " +
              "per-partition sketch would OOM; use the generic " +
              "distinct->rank path or raise maxGroups")
        new java.util.TreeSet[java.lang.Long]
      })
      // capped insert: only track a value while it can still be
      // among the K smallest distinct seen in this partition
      if (s.size < k) s.add(v)
      else if (v < s.last) { s.add(v); if (s.size > k) s.pollLast() }
    }

    def rows: Iterator[(String, Long)] = sets.iterator.flatMap {
      case (g, s) =>
        val b = Seq.newBuilder[(String, Long)]
        s.forEach(v => b += ((g, v.longValue())))
        b.result().iterator
    }
  }

  /** Merge (g, hv) partial sketches into each group's K smallest
    * distinct values: the partials are tiny (≤ K × partitions per
    * group), so the distinct + rank runs over thousands of rows.
    */
  private def merge(partial: DataFrame, k: Int): DataFrame =
    partial.distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("hv"))))
      .filter(col("rn") <= k)
      .select(col("g"), col("hv"))
}
