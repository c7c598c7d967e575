package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit hashes of the word n-grams of a token array: one FNV-1a hash
  * per token, combined per gram by a rolling polynomial (multiplier P,
  * natural 2^64 wraparound). `tokens` with fewer than `n` entries yield
  * an empty array; output position i is the hash of tokens[i..i+n-1].
  *
  * This replaces `array_join(slice(w, i, n))` gram materialization on
  * the decontamination path (reference n-gram surface:
  * /root/reference/duckdb-6.cpp string split + list fns): per gram the
  * string form allocates an ~n·wordlen char key that is then hashed by
  * the join anyway, while this expression hashes each token ONCE and
  * emits 8-byte keys — the whole-corpus gram pass carries no string
  * allocations at all, and the eval-set broadcast map shrinks ~6x.
  * Engine-internal keys only: results are count-identical to string
  * grams unless two distinct grams collide in 64 bits (P ≈ G²/2⁶⁵ —
  * ~1e-7 at a billion distinct grams), and the DuckDB oracle replays
  * the STRING form, so a collision would surface as a verification
  * diff, not silently.
  */
case class WordGramHashes(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_gram_hashes"

  override def nullSafeEval(toks: Any, nv: Any): Any = new GenericArrayData(
    WordGramHashes.compute(toks.asInstanceOf[ArrayData], nv.asInstanceOf[Int]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, nv) =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.plans.WordGramHashes.compute($a, $nv))")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): WordGramHashes =
    copy(left = newLeft, right = newRight)
}

/** The rolling stage of [[WordGramHashes]] over PRE-HASHED tokens
  * (array<long>, e.g. [[WsTokenHashes]] output): position i is the
  * polynomial combination of hashes[i..i+n-1] with the same multiplier
  * P, so `gram_roll_hashes(ws_token_hashes(text), n)` produces values
  * IDENTICAL to `word_gram_hashes(filter(split(lower(text), "\\s+"),
  * x -> x != ''), n)` — callers can swap the fused tokenizer in without
  * changing any downstream key. */
case class GramRollHashes(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_roll_hashes"

  override def nullSafeEval(hs: Any, nv: Any): Any = new GenericArrayData(
    GramRollHashes.compute(hs.asInstanceOf[ArrayData], nv.asInstanceOf[Int]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, nv) =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.plans.GramRollHashes.compute($a, $nv))")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): GramRollHashes =
    copy(left = newLeft, right = newRight)
}

object GramRollHashes {
  val builder: Seq[Expression] => Expression = args => GramRollHashes(args(0), args(1))

  def compute(a: ArrayData, n: Int): Array[Long] =
    if (n <= 0 || a.numElements() < n) Array.emptyLongArray
    else WordGramHashes.roll(a.toLongArray(), n)
}

object WordGramHashes {
  /** Polynomial multiplier: odd, high bit diffusion (same constant
    * family as FNV's prime, distinct from it so token and gram mixing
    * don't telescope). */
  final val P = 0x9E3779B97F4A7C15L

  /** Hash of a null token: FNV-1a of zero bytes (= the offset basis). */
  final val EmptyHash = 0xcbf29ce484222325L

  def compute(a: ArrayData, n: Int): Array[Long] = {
    val len = a.numElements()
    if (n <= 0 || len < n) return Array.emptyLongArray
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      // null tokens hash as the empty string (the FNV offset basis) —
      // the declared element type admits containsNull, and SQL callers
      // can pass array('a', NULL); internal callers pre-filter empties
      th(i) = if (a.isNullAt(i)) EmptyHash else fnv64(a.getUTF8String(i))
      i += 1
    }
    roll(th, n)
  }

  /** Position i is the polynomial combination of th[i..i+n-1], for
    * 0 < n <= th.length: the initial window, then a rolling update
    * that drops th[i]·P^(n-1), shifts and adds the next hash. */
  private[plans] def roll(th: Array[Long], n: Int): Array[Long] = {
    val len = th.length
    val out = new Array[Long](len - n + 1)
    var pn = 1L // P^(n-1)
    var j = 1
    while (j < n) { pn *= P; j += 1 }
    var h = 0L
    j = 0
    while (j < n) { h = h * P + th(j); j += 1 }
    out(0) = h
    var i = 1
    while (i <= len - n) {
      h = (h - th(i - 1) * pn) * P + th(i + n - 1)
      out(i) = h
      i += 1
    }
    out
  }

  /** FNV-1a over the UTF-8 bytes of a token, read in place. */
  def fnv64(s: UTF8String): Long = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) {
      h ^= (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  val builder: Seq[Expression] => Expression = args => WordGramHashes(args(0), args(1))
}
