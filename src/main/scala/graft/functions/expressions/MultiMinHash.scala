package graft.functions.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** All `numHashes` MinHash digests over the word `shingleLen`-gram
  * shingles of a token array, in ONE pass: per seed `s`,
  * `array_min(transform(shinglesOf(t, n), x -> md5(concat(s, ':', x))))`
  * (`TextFunctions.minhashHex ∘ shinglesOf`). Each shingle is built
  * once by the [[TokenWindows]] kernel and hashed per seed with one
  * reused MessageDigest; minima compare raw digest bytes (hex order ==
  * unsigned byte order, so the min is identical).
  *
  * Output: array<string> of `numHashes` hex minima (null iff the token
  * array is null; fewer than `shingleLen` tokens → array of nulls,
  * matching array_min(empty) = null per seed).
  */
case class MultiMinHash(child: Expression, numHashes: Int, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {

  TokenWindows.requirePositive("numHashes", numHashes)
  TokenWindows.requirePositive("shingleLen", shingleLen)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)

  override def prettyName: String = "multi_min_hash"

  @transient private lazy val seedPrefixes: Array[Array[Byte]] =
    (0 until numHashes)
      .map(s => s"$s:".getBytes(StandardCharsets.UTF_8)).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](numHashes)
    TokenWindows.walk(input.asInstanceOf[ArrayData], shingleLen, 1,
        partialTail = false) { (_, buf, len) =>
      var s = 0
      while (s < numHashes) {
        md.reset()
        md.update(seedPrefixes(s))
        md.update(buf, 0, len)
        val digest = md.digest()
        if (mins(s) == null || unsignedLess(digest, mins(s)))
          mins(s) = digest
        s += 1
      }
    }
    new GenericArrayData(mins.map { d =>
      if (d == null) null else TokenWindows.hex(d)
    }.asInstanceOf[Array[Any]])
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMinHash =
    copy(child = newChild)
}

object CustomExpressions {
  /** Column wrapper: all k minhash digests over the shingles of a
    * token array column. */
  def multiMinHash(tokens: Column, numHashes: Int, shingleLen: Int): Column =
    toColumn(MultiMinHash(toExpression(tokens), numHashes, shingleLen))

  /** Column wrapper: k-bounded top-k aggregate over (score, id) —
    * evaluates to array<struct<score,id>> best-first. Map-side partial
    * aggregation bounds the shuffle at k entries per group per
    * partition (see [[BoundedTopK]]).
    */
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    toColumn(BoundedTopK(toExpression(score), toExpression(id), k)
      .toAggregateExpression())

  /** Column wrapper: per-dimension decimal-exact (sum, count) of an
    * array<double> column in one aggregation pass — evaluates to
    * array<struct<s: double, c: bigint>> (see [[VectorMeanParts]]).
    */
  def vectorMeanParts(vec: Column): Column =
    toColumn(VectorMeanParts(toExpression(vec)).toAggregateExpression())
}
