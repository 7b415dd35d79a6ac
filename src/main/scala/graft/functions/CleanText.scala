package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native body of `clean_text_for_nlp` (transformation.py:278-291) over
  * an already-lowered string: byte-identical to the Java-regex chain
  *
  * {{{
  *   trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  *     regexp_replace(s, "<[^>]+>", ""), "http\\S+|www\\S+|https\\S+", ""),
  *     "\\[\\+\\d+ chars\\]", ""), "[^\\w\\s.!?]", ""), "\\s+", " "))
  * }}}
  *
  * it replaces (TransformsSpec compares the two on 120k adversarial
  * strings). Why a custom Expression: that chain was the largest piece
  * of compute in a daily load — five regex passes, each a UTF-8 →
  * UTF-16 → UTF-8 round trip — where three linear byte scans compute
  * the same result.
  *
  * Every pattern is ASCII (default-mode Java `\w`, `\s`, `\d` are
  * ASCII classes; U+0085 and U+00A0 are not `\s`), and a UTF-8
  * continuation or lead byte is never ASCII, so the scans run on the
  * UTF-8 bytes: a multi-byte character is only ever copied whole
  * (steps 1–2) or dropped whole (step 4).
  */
case class CleanText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    CleanText.compute(input.asInstanceOf[UTF8String])

  /** One static call per row, staying inside whole-stage codegen (same
    * shape as [[JaroWinkler]]). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_clean_text"
}

object CleanText {

  /** Java's default `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Java's default `\w` plus `.!?`: the bytes step 4 keeps besides `\s`. */
  private def isKept(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_' || b == '.' || b == '!' || b == '?'

  private def startsWith(s: Array[Byte], n: Int, i: Int, p: String): Boolean = {
    if (i + p.length > n) return false
    var k = 0
    while (k < p.length) {
      if (s(i + k) != p.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val a = new Array[Byte](in.length)
    val n1 = stripTags(in, in.length, a)
    val b = new Array[Byte](n1)
    val n2 = stripUrls(a, n1, b)
    UTF8String.fromBytes(a, 0, filterAndCollapse(b, n2, a))
  }

  /** Step 1, `<[^>]+>`: a `<` whose next byte is not `>` starts a tag
    * that ends at the first `>` after it. With no `>` left, no later
    * `<` can close either, so the rest is copied as is — which keeps
    * the scan linear on a run of unclosed `<`. */
  private def stripTags(src: Array[Byte], n: Int, dst: Array[Byte]): Int = {
    var i = 0
    var o = 0
    while (i < n) {
      if (src(i) == '<' && i + 1 < n && src(i + 1) != '>') {
        var j = i + 1
        while (j < n && src(j) != '>') j += 1
        if (j == n) {
          System.arraycopy(src, i, dst, o, n - i)
          return o + n - i
        }
        i = j + 1
      } else {
        dst(o) = src(i); o += 1; i += 1
      }
    }
    o
  }

  /** Step 2, `http\S+|www\S+|https\S+`: `http` or `www` with at least
    * one non-`\s` byte after it is removed through the end of its
    * non-`\s` run (the `https` branch is a case of `http`). */
  private def stripUrls(src: Array[Byte], n: Int, dst: Array[Byte]): Int = {
    var i = 0
    var o = 0
    while (i < n) {
      val m = if (startsWith(src, n, i, "http")) 4
        else if (startsWith(src, n, i, "www")) 3
        else 0
      if (m > 0 && i + m < n && !isSpace(src(i + m))) {
        i += m + 1
        while (i < n && !isSpace(src(i))) i += 1
      } else {
        dst(o) = src(i); o += 1; i += 1
      }
    }
    o
  }

  /** End (exclusive) of a `[+<ASCII digits> chars]` marker at `i`, or -1. */
  private def truncMarkerEnd(s: Array[Byte], n: Int, i: Int): Int = {
    if (!startsWith(s, n, i, "[+")) return -1
    var j = i + 2
    while (j < n && s(j) >= '0' && s(j) <= '9') j += 1
    if (j == i + 2 || !startsWith(s, n, j, " chars]")) -1 else j + 7
  }

  /** Steps 3–5 in one pass, each a left-to-right transducer of the one
    * before: drop `[+N chars]` markers, drop every byte outside
    * `[\w\s.!?]` (so every non-ASCII character), and join what is left
    * with single spaces where a `\s` run was, with none at the ends
    * (`\s+` → " ", then `trim`). */
  private def filterAndCollapse(src: Array[Byte], n: Int, dst: Array[Byte]): Int = {
    var i = 0
    var o = 0
    var gap = false
    while (i < n) {
      val c = src(i)
      val end = if (c == '[') truncMarkerEnd(src, n, i) else -1
      if (end >= 0) i = end
      else {
        if (isSpace(c)) gap = true
        else if (isKept(c)) {
          if (gap && o > 0) { dst(o) = ' '; o += 1 }
          gap = false
          dst(o) = c; o += 1
        }
        i += 1
      }
    }
    o
  }
}
