package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a hashes of the lowercased whitespace-split tokens of a text
  * column, in one pass over the UTF-8 bytes — the fused form of
  * `word_gram_hashes(filter(split(lower(text), "\\s+"), x -> x != ''), 1)`
  * with no intermediate lowered string, no regex, and no token-array
  * materialization (reference tokenizer surface: string_split + lower,
  * /root/reference/duckdb-6.cpp string functions).
  *
  * Semantics pinned to the regex form: a separator is exactly the Java
  * `\s` class ([ \t\n\x0B\f\r] — ASCII-only without
  * UNICODE_CHARACTER_CLASS, and ASCII bytes never occur inside UTF-8
  * multi-byte sequences, so the byte-level scan is exact); empty tokens
  * vanish (`\s+` runs collapse); case folds per Unicode `lower()` —
  * ASCII inline, with a per-token UTF8String.toLowerCase slow path the
  * moment a high byte appears, so non-ASCII text keeps the oracle's
  * lower() grouping. Engine-internal keys only: like
  * [[WordGramHashes]], results are count-identical to string tokens
  * unless two distinct tokens collide in 64 bits, and the DuckDB oracle
  * replays the string form, so a collision surfaces as a verification
  * diff, not silently.
  */
case class WsTokenHashes(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ws_token_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    new GenericArrayData(WsTokenHashes.tokenHashes(s))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = WsTokenHashes.getClass.getName.stripSuffix("$")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.tokenHashes($s));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WsTokenHashes =
    copy(child = newChild)
}

object WsTokenHashes {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** One pass: split on `\s`, ASCII-fold + FNV-1a each token; a token
    * containing a high byte re-hashes through UTF8String.toLowerCase
    * (full Unicode folding — the rare path on prose corpora). */
  def tokenHashes(s: UTF8String): Array[Long] = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var out = new Array[Long](8)
    var cnt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        var h = FnvOffset
        var hi = false
        var b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
        while (i < n && !isWs(b)) {
          if ((b & 0x80) != 0) hi = true
          val f = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          h ^= (f & 0xffL)
          h *= FnvPrime
          i += 1
          if (i < n) b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
        }
        if (hi) {
          // Unicode slow path: copy the token, lower() it properly,
          // hash the lowered bytes — matches the oracle's grouping for
          // non-ASCII case pairs the inline fold can't see
          val bytes = new Array[Byte](i - start)
          var j = 0
          while (j < i - start) {
            bytes(j) = org.apache.spark.unsafe.Platform.getByte(base, off + start + j)
            j += 1
          }
          h = WordGramHashes.fnv64(UTF8String.fromBytes(bytes).toLowerCase)
        }
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(cnt) = h
        cnt += 1
      }
    }
    if (cnt == out.length) out else java.util.Arrays.copyOf(out, cnt)
  }

  val builder: Seq[Expression] => Expression = args => WsTokenHashes(args(0))
}
