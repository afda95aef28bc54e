package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** Range (theta) containment join with first-match semantics
  * (SURVEY.md §2.4 J3/J4).
  *
  * The reference hand-rolls this as an O(n·m) per-row dict scan with a
  * first-match break (/root/reference/etl_cid10.py:296-313). Spark-first
  * design: a left BroadcastNestedLoopJoin on the containment predicate
  * (the ranges side is always small — broadcast it), then
  * row_number() == 1 per left key in `rangeOrder` to reproduce
  * first-match when ranges overlap. [[firstMatchDisjoint]] drops that
  * window for a catalog-sized ranges side by resolving first-match on
  * the driver.
  *
  * Scale: the probe side streams at full parallelism; the build side is
  * broadcast once per executor. For a large ranges side this would be
  * rewritten as a prefix-equi join (bucket ranges by a coarse prefix of
  * the key, equi-join on the bucket, then filter) — see
  * [[RangeJoin.bucketed]].
  */
object RangeJoin {

  /** Left-joins `left` to `ranges` where lo <= value <= hi; when several
    * ranges match, keeps the first under `rangeOrder`. Unmatched left
    * rows survive with nulls (their single null-extended row ranks 1).
    *
    * Duplicate left rows are preserved (the reference maps per row):
    * the dedup window partitions on a generated per-row id, not on a
    * user key — `leftKey` remains only as the shuffle hint for plans
    * that want key-partitioned output downstream.
    */
  def firstMatch(
      left: DataFrame,
      ranges: DataFrame,
      value: Column,
      lo: Column,
      hi: Column,
      leftKey: Seq[String],
      rangeOrder: Column): DataFrame = {
    val withId = left.withColumn("__row_id", monotonically_increasing_id())
    val joined = withId.join(
      broadcast(ranges), value >= lo && value <= hi, "left")
    val w = Window.partitionBy(col("__row_id"))
      .orderBy(rangeOrder.asc_nulls_first)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__row_id")
  }

  /** Map-only first-match for a CATALOG-SIZED ranges side: the ranges
    * are collected (same size contract as a broadcast build side) and
    * first-match in the order of `ordCol` (a non-null long) is resolved
    * on the driver into disjoint pieces. Every distinct bound becomes a
    * closed point and every gap between two neighbouring bounds an open
    * interval (sorted with Catalyst's ordering for the bounds' type, the
    * ordering the join condition compares with); each piece takes the
    * lowest-order range covering it, neighbouring pieces with the same
    * range merge, and pieces no range covers drop. The pieces, carrying
    * every column of their range (`ordCol` included), are broadcast and
    * left-joined on `value` against their bounds.
    *
    * A probe row lies in at most one piece, so unlike [[firstMatch]]
    * the probe side is never shuffled (no per-row dedup window), and
    * the generated code does not grow with the number of ranges (no
    * per-range CASE branch). A range with a null bound or `lo > hi`
    * contains no value and is ignored; unmatched and null-valued probe
    * rows survive with nulls.
    */
  def firstMatchDisjoint(
      left: DataFrame,
      ranges: DataFrame,
      value: Column,
      lo: String,
      hi: String,
      ordCol: String): DataFrame = {
    val schema = ranges.schema
    val boundType = schema(lo).dataType
    require(schema(hi).dataType == boundType,
      s"range bounds $lo and $hi differ in type: $boundType vs ${schema(hi).dataType}")
    val (loIdx, hiIdx, ordIdx) =
      (schema.fieldIndex(lo), schema.fieldIndex(hi), schema.fieldIndex(ordCol))
    // Bounds compare as Catalyst values, with the ordering the join
    // condition uses.
    val byBound = Ordering.by[Any, Any](
      CatalystTypeConverters.createToCatalystConverter(boundType))(
      PhysicalDataType.ordering(boundType))

    val live = ranges.collect()
      .filter(r => !r.isNullAt(loIdx) && !r.isNullAt(hiIdx) &&
        byBound.lteq(r.get(loIdx), r.get(hiIdx)))
      .sortBy(_.getLong(ordIdx))
    val bounds = live.flatMap(r => Seq(r.get(loIdx), r.get(hiIdx))).sorted(byBound)
    val keys = (bounds.take(1) ++ bounds.sliding(2).collect {
      case Array(a, b) if byBound.lt(a, b) => b
    }).toIndexedSeq
    def keyIndex(v: Any): Int = keys.search(v)(byBound).insertionPoint

    // Element 2i is the point keys(i), element 2i+1 the open gap
    // (keys(i), keys(i+1)). Ranges paint the elements they cover in
    // ord order; `next` skips already-painted runs (union-find with
    // path compression), so the paint is near-linear in the elements.
    val owner = Array.fill(math.max(2 * keys.length - 1, 0))(-1)
    val next = Array.tabulate(owner.length + 1)(identity)
    def unpainted(i: Int): Int = {
      var root = i
      while (next(root) != root) root = next(root)
      var j = i
      while (j != root) { val n = next(j); next(j) = root; j = n }
      root
    }
    live.indices.foreach { k =>
      val last = 2 * keyIndex(live(k).get(hiIdx))
      var e = unpainted(2 * keyIndex(live(k).get(loIdx)))
      while (e <= last) {
        owner(e) = k
        next(e) = e + 1
        e = unpainted(e + 1)
      }
    }

    val pieces = ArrayBuffer.empty[Row]
    var e = 0
    while (e < owner.length) {
      if (owner(e) < 0) e += 1
      else {
        val first = e
        while (e + 1 < owner.length && owner(e + 1) == owner(first)) e += 1
        val (pieceHi, hiIncl) =
          if (e % 2 == 0) (keys(e / 2), true) else (keys(e / 2 + 1), false)
        pieces += Row.fromSeq(
          Seq(keys(first / 2), first % 2 == 0, pieceHi, hiIncl) ++
            live(owner(first)).toSeq)
        e += 1
      }
    }
    val pieceSchema = StructType(Seq(
      StructField("__piece_lo", boundType), StructField("__piece_lo_incl", BooleanType),
      StructField("__piece_hi", boundType), StructField("__piece_hi_incl", BooleanType)) ++
      schema.fields)
    val piecesDf = ranges.sparkSession.createDataFrame(pieces.asJava, pieceSchema)
    val (pLo, pHi) = (col("__piece_lo"), col("__piece_hi"))
    val inPiece =
      (value > pLo || (col("__piece_lo_incl") && value === pLo)) &&
        (value < pHi || (col("__piece_hi_incl") && value === pHi))
    left.join(broadcast(piecesDf), inPiece, "left")
      .drop("__piece_lo", "__piece_lo_incl", "__piece_hi", "__piece_hi_incl")
  }

  /** Scale path for a ranges side too large to broadcast: both sides are
    * expanded to coarse buckets (every bucket a range overlaps), then
    * equi-joined on the bucket and filtered by the exact containment
    * predicate — turning a nested-loop join into a shuffled hash join.
    *
    * `bucketOf(c)` must map a point to its bucket id; `bucketsOf(lo,hi)`
    * must enumerate every bucket id the range touches (as an array
    * column). Duplicate matches across buckets are impossible because a
    * point lives in exactly one bucket.
    */
  def bucketed(
      left: DataFrame,
      ranges: DataFrame,
      value: Column,
      lo: Column,
      hi: Column,
      bucketOf: Column => Column,
      bucketsOf: (Column, Column) => Column): DataFrame = {
    val l = left.withColumn("__bucket", bucketOf(value))
    val r = ranges.withColumn("__bucket", explode(bucketsOf(lo, hi)))
    l.join(r, Seq("__bucket"), "inner")
      .filter(value >= lo && value <= hi)
      .drop("__bucket")
  }
}
