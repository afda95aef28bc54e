package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Per-dimension decimal-exact (sum, count) of an `array<double>`
  * column in ONE aggregation pass — the vector-sum Lloyd step of
  * `Similarity.trainCentroids`.
  *
  * Replaces the r21 shape `posexplode → groupBy(centroid, dim)
  * decimal-sum → groupBy(centroid) collect_list`, which paid TWO
  * exchanges per k-means iteration and materialized an n×dims row
  * explosion in front of the first partial aggregate. This aggregate
  * runs inside ObjectHashAggregate with map-side PARTIAL aggregation:
  * each map partition ships one (dims × 16-byte-ish) buffer per
  * centroid, the merge is element-wise exact decimal addition, and the
  * whole Lloyd step needs exactly ONE exchange of k sketch-sized rows
  * (guide §2 — aggregate before you shuffle / remove shuffles
  * outright).
  *
  * EXACTNESS (the property the cross-engine oracle gates): each element
  * is converted double → decimal(38,18) by the same arithmetic as
  * Spark's `Cast` (`java.math.BigDecimal.valueOf(d).setScale(18,
  * HALF_UP)` — shortest-repr conversion then HALF_UP to scale 18, the
  * exact steps of `Decimal.set(Double)` + `changePrecision`), summed
  * with exact `BigDecimal.add` (order-independent, like Spark's decimal
  * `sum`), and evaluated to `(sum.doubleValue, count)` — `doubleValue`
  * is what `Cast(decimal → double)` calls. The caller divides and
  * rounds in Catalyst (`round(s / c, 9)`), so the division/rounding
  * arithmetic is bit-identical to the r21 per-dim form; the equality is
  * property-tested (`SimilaritySpec`) and oracled end-to-end by
  * q54/q122/q124/q125/q127's unrolled-CTE replays.
  *
  * Null handling mirrors the exploded form: a null array contributes to
  * no dimension; a null element contributes to neither sum nor count of
  * its dimension. The result has one entry per dimension up to the
  * longest array seen (posexplode emits 0..len-1 for every row, null
  * elements included). A dimension with no non-null value evaluates to
  * `(null, 0)`, wherever it sits, so `s / c` is NULL there — the
  * exploded form's `sum(NULL) / count = NULL` — rather than a
  * division by zero. A group with no valid rows evaluates to an empty
  * array.
  */
case class VectorMeanParts(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMeanParts.SumBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "vector_mean_parts"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("s", DoubleType, nullable = true),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<double> input, got ${other.sql}")
    }

  override def createAggregationBuffer(): VectorMeanParts.SumBuffer =
    new VectorMeanParts.SumBuffer

  override def update(buf: VectorMeanParts.SumBuffer,
                      input: InternalRow): VectorMeanParts.SumBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      buf.ensure(n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          // double -> decimal(38,18) exactly as Cast does: shortest
          // decimal representation, then HALF_UP to scale 18
          buf.add(i, JBigDecimal.valueOf(arr.getDouble(i))
            .setScale(18, RoundingMode.HALF_UP))
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: VectorMeanParts.SumBuffer,
                     other: VectorMeanParts.SumBuffer)
      : VectorMeanParts.SumBuffer = {
    buf.ensure(other.dims)
    var i = 0
    while (i < other.dims) {
      if (other.counts(i) > 0) buf.addMany(i, other.sums(i), other.counts(i))
      i += 1
    }
    buf
  }

  override def eval(buf: VectorMeanParts.SumBuffer): Any = {
    val out = new Array[Any](buf.dims)
    var i = 0
    while (i < buf.dims) {
      // Cast(decimal -> double) is BigDecimal.doubleValue; a dim with
      // no non-null value has a NULL sum, like sum() over all nulls
      val s = if (buf.counts(i) == 0) null else buf.sums(i).doubleValue()
      out(i) = InternalRow(s, buf.counts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: VectorMeanParts.SumBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.dims)
    var i = 0
    while (i < buf.dims) {
      out.writeLong(buf.counts(i))
      // BigDecimal round-trips exactly through its string form
      out.writeUTF(buf.sums(i).toString)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VectorMeanParts.SumBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new VectorMeanParts.SumBuffer
    val n = in.readInt()
    buf.ensure(n)
    var i = 0
    while (i < n) {
      val c = in.readLong()
      val s = new JBigDecimal(in.readUTF())
      if (c > 0) buf.addMany(i, s, c)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorMeanParts =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMeanParts =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMeanParts =
    copy(child = newChildren(0))
}

object VectorMeanParts {

  /** Growable per-dimension exact accumulator. */
  final class SumBuffer {
    var sums: Array[JBigDecimal] = Array.empty
    var counts: Array[Long] = Array.empty
    def dims: Int = sums.length

    def ensure(n: Int): Unit =
      if (n > sums.length) {
        val s = new Array[JBigDecimal](n)
        val c = new Array[Long](n)
        System.arraycopy(sums, 0, s, 0, sums.length)
        System.arraycopy(counts, 0, c, 0, counts.length)
        var i = sums.length
        while (i < n) { s(i) = JBigDecimal.ZERO; i += 1 }
        sums = s
        counts = c
      }

    def add(i: Int, v: JBigDecimal): Unit = {
      sums(i) = sums(i).add(v)
      counts(i) += 1
    }

    def addMany(i: Int, v: JBigDecimal, c: Long): Unit = {
      sums(i) = sums(i).add(v)
      counts(i) += c
    }
  }
}
