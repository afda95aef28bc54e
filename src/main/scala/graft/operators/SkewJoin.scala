package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit key salting for skewed aggregations.
  *
  * AQE's skew-join splits hot join partitions at run time, but a
  * distinct aggregation still funnels every row of a hot key through
  * one task; salting spreads the key over `salts` partial groups
  * first (q35).
  */
object SkewJoin {

  /** Two-phase skew-proof count per key: partial count on (key, salt),
    * then re-aggregate on key — the shuffle carries `salts` rows per
    * hot key instead of all of them. (groupBy already does map-side
    * partial aggregation; this is the explicit form for cases where
    * the partials themselves are the scale problem, e.g. distinct-agg.)
    */
  def saltedDistinctCount(df: DataFrame, key: String, distinctCol: String,
                          salts: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(col(distinctCol)), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(distinctCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("n_distinct"))
}
