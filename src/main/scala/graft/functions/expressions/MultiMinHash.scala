package graft.functions.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** All `numHashes` MinHash digests over the word `shingleLen`-gram
  * shingles of a token array, in ONE pass.
  *
  * Semantically identical to composing shingles(tokens, n) with
  * `(0 until k).map(s => array_min(transform(sh, x => md5(concat(s,":",x)))))`
  * — the shingle string is the " "-joined token window, the digest
  * input is "<seed>:<shingle>" UTF-8, the result per seed is the
  * lexicographic-min lowercase-hex digest — but an order of magnitude
  * faster: the composed form materializes every shingle string and
  * re-walks the array per seed with interpreted higher-order lambdas,
  * while this builds each shingle's bytes once in a reused buffer,
  * reuses one MessageDigest, and compares raw digest bytes (hex order
  * == unsigned byte order, so the min is identical).
  *
  * Output: array<string> of `numHashes` hex minima (null iff the token
  * array is null; fewer than `shingleLen` tokens → array of nulls,
  * matching array_min(empty) = null per seed).
  */
case class MultiMinHash(child: Expression, numHashes: Int, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)

  override def prettyName: String = "multi_min_hash"

  @transient private lazy val seedPrefixes: Array[Array[Byte]] =
    (0 until numHashes)
      .map(s => s"$s:".getBytes(StandardCharsets.UTF_8)).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill[Array[Byte]](numHashes)(null)
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) Array.emptyByteArray
                else arr.getUTF8String(i).getBytes
      i += 1
    }
    val buf = new java.io.ByteArrayOutputStream(256)
    i = 0
    while (i <= n - shingleLen) {
      buf.reset()
      var w = 0
      while (w < shingleLen) {
        if (w > 0) buf.write(' ')
        buf.write(toks(i + w), 0, toks(i + w).length)
        w += 1
      }
      val shingle = buf.toByteArray
      var s = 0
      while (s < numHashes) {
        md.reset()
        md.update(seedPrefixes(s))
        md.update(shingle)
        val digest = md.digest()
        if (mins(s) == null || unsignedLess(digest, mins(s)))
          mins(s) = digest
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map { d =>
      if (d == null) null else UTF8String.fromString(hex(d))
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

  private def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < bytes.length) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
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
