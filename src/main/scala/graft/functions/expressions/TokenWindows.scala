package graft.functions.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one token-window kernel behind [[ShingleMd5]], [[WindowMd5]],
  * [[ChunkMd5]] and [[MultiMinHash]]: walk a token array in windows
  * of `width` tokens starting every `stride` tokens, join each window
  * with " " into a reused buffer, and hand the bytes to the caller.
  *
  * Why the expressions exist at all: the composed built-in forms
  * (`transform(sequence(…), i -> concat_ws(' ', slice(t, i+1, n)))`,
  * then `md5` per element) evaluate their higher-order lambda
  * interpreted, per element, and on an `explode` path that dominates
  * the scan — measured 3.5 s vs 0.27 s for a plain-array explode over
  * sf0.1 documents (~13×). The kernel gathers each token's bytes once
  * and builds every window in place, so the generator receives a plain
  * materialized array. Each expression is value-identical to its
  * composition (pinned in `CustomExpressionsSpec` and `PropertySpec`).
  *
  * Window joining follows `concat_ws`: a null element is skipped and
  * gets no separator, so `["a", null, "b"]` joins to `"a b"`; an empty
  * string is an element like any other. A null token array never
  * reaches the kernel: the expressions are null-intolerant, so a NULL
  * array gives NULL, where the built-in compositions give `[]` (and
  * `[NULL, …]`, one per seed, for the min-hash). Callers that explode
  * the result (`explode_outer`) or pick one element (`element_at`) see
  * the same rows either way; `PropertySpec` pins both results.
  */
private[expressions] object TokenWindows {

  /** Called once per window with its ordinal `k` (0-based) and its
    * joined bytes in `buf[0, len)`; `buf` is reused by the next window.
    * A trait, not a `Function3`, so the per-window call boxes no `Int`.
    */
  trait Visit { def apply(k: Int, buf: Array[Byte], len: Int): Unit }

  /** A window width or seed count below 1 is a caller error: fail when
    * the expression is built, naming the parameter, instead of
    * dividing by zero or emitting md5("") per document at run time.
    */
  def requirePositive(param: String, v: Int): Unit =
    require(v >= 1, s"$param must be >= 1, got $v")

  /** Windows over `n` tokens: full windows only, or also the partial
    * tail window that starts before the end.
    */
  private def count(n: Int, width: Int, stride: Int,
                    partialTail: Boolean): Int =
    if (n == 0 || (!partialTail && n < width)) 0
    else if (partialTail) (n - 1) / stride + 1
    else (n - width) / stride + 1

  /** Walk the windows of `arr` in order, calling `visit` on each. */
  def walk(arr: ArrayData, width: Int, stride: Int, partialTail: Boolean)(
      visit: Visit): Unit = {
    val n = arr.numElements()
    val windows = count(n, width, stride, partialTail)
    if (windows == 0) return
    val toks = new Array[Array[Byte]](n) // null slot = null element
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    var buf = new Array[Byte](256)
    var k = 0
    while (k < windows) {
      val start = k * stride
      val end = math.min(start + width, n)
      var len = 0
      var wrote = false
      i = start
      while (i < end) {
        val t = toks(i)
        if (t != null) {
          val need = len + t.length + 1
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, 2 * buf.length))
          if (wrote) { buf(len) = ' '; len += 1 }
          System.arraycopy(t, 0, buf, len, t.length)
          len += t.length
          wrote = true
        }
        i += 1
      }
      visit(k, buf, len)
      k += 1
    }
  }

  /** md5 of `bytes[0, len)` as lowercase hex, like Spark's `md5`. */
  def md5Hex(md: MessageDigest, bytes: Array[Byte], len: Int): UTF8String = {
    md.reset()
    md.update(bytes, 0, len)
    hex(md.digest())
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** Lowercase hex of a digest; hex order == unsigned byte order. */
  def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](2 * digest.length)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** md5 hex of every window, in order, duplicates kept. */
  def md5Each(input: Any, width: Int, stride: Int,
              partialTail: Boolean): GenericArrayData = {
    val arr = input.asInstanceOf[ArrayData]
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](count(arr.numElements(), width, stride, partialTail))
    walk(arr, width, stride, partialTail)((k, buf, len) =>
      out(k) = md5Hex(md, buf, len))
    new GenericArrayData(out)
  }
}

/** md5 hex digests of the DISTINCT word `shingleLen`-gram shingles of
  * a token array, first-occurrence order: `transform(array_distinct(
  * shinglesOf(t, n)), g -> md5(g))`. Distinct applies to the gram
  * strings before hashing, like the composition and the DuckDB oracle.
  * Fewer than `shingleLen` tokens → empty array.
  */
case class ShingleMd5(child: Expression, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {

  TokenWindows.requirePositive("shingleLen", shingleLen)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "shingle_md5"

  override protected def nullSafeEval(input: Any): Any = {
    val grams = new java.util.LinkedHashSet[UTF8String]()
    TokenWindows.walk(input.asInstanceOf[ArrayData], shingleLen, 1,
        partialTail = false)((_, buf, len) =>
      grams.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))))
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](grams.size)
    val it = grams.iterator()
    var i = 0
    while (it.hasNext) {
      val g = it.next().getBytes
      out(i) = TokenWindows.md5Hex(md, g, g.length)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5 =
    copy(child = newChild)
}

object ShingleMd5 {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

  def shingleMd5(tokens: Column, n: Int): Column =
    toColumn(ShingleMd5(toExpression(tokens), n))
}

/** md5 hex digests of EVERY sliding word `windowLen`-gram of a token
  * array — one digest per window POSITION, duplicates kept, document
  * order: `transform(shinglesOf(t, n), g -> md5(g))`. The positional
  * sibling of [[ShingleMd5]]: span-level dedup needs window
  * multiplicity, because a span repeated WITHIN one document is still
  * a duplicated span (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better", arXiv:2107.06499 — their ExactSubstr
  * dedup; this is its fixed-granularity relational form).
  * Fewer than `windowLen` tokens → empty array.
  */
case class WindowMd5(child: Expression, windowLen: Int)
    extends UnaryExpression with CodegenFallback {

  TokenWindows.requirePositive("windowLen", windowLen)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "window_md5"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.md5Each(input, windowLen, 1, partialTail = false)

  override protected def withNewChildInternal(newChild: Expression): WindowMd5 =
    copy(child = newChild)
}

object WindowMd5 {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

  def windowMd5(tokens: Column, n: Int): Column =
    toColumn(WindowMd5(toExpression(tokens), n))
}

/** md5 hex digests of fixed-width non-overlapping token chunks
  * (stride = chunkLen, the partial tail chunk included, duplicates
  * kept — chunk multiplicity is the boilerplate signal): q78's
  * `transform(sequence(0, floor((n-1)/W)), i -> md5(concat_ws(' ',
  * slice(t, i*W+1, W))))` on non-empty arrays. Empty array → empty.
  */
case class ChunkMd5(child: Expression, chunkLen: Int)
    extends UnaryExpression with CodegenFallback {

  TokenWindows.requirePositive("chunkLen", chunkLen)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "chunk_md5"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.md5Each(input, chunkLen, chunkLen, partialTail = true)

  override protected def withNewChildInternal(newChild: Expression): ChunkMd5 =
    copy(child = newChild)
}

object ChunkMd5 {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

  def chunkMd5(tokens: Column, w: Int): Column =
    toColumn(ChunkMd5(toExpression(tokens), w))
}
