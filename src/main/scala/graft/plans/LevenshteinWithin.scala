package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** levenshtein_within(a, b, k): true iff edit distance ≤ k, computed with
  * a banded DP that early-exits — O(k·min(n,m)) instead of O(n·m).
  *
  * The reference's levenshtein (duckdb-6.cpp:5993) is unbounded; for
  * threshold-style fuzzy dedup (the dominant use at corpus scale) the
  * banded form does a fraction of the work. Codegen emits a static call —
  * no row-at-a-time interpreter overhead, stays inside the whole-stage
  * pipeline.
  */
case class LevenshteinWithin(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "levenshtein_within"

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    LevenshteinWithin.compute(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.plans.LevenshteinWithin.compute($a.toString(), $b.toString(), $k);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): LevenshteinWithin =
    copy(first = f, second = s, third = t)
}

object LevenshteinWithin {
  val builder: Seq[Expression] => Expression =
    args => LevenshteinWithin(args(0), args(1), args(2))

  /** Banded Levenshtein: true iff distance ≤ k. */
  def compute(a: String, b: String, k: Int): Boolean = {
    if (k < 0) return false
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length; val m = t.length
    if (m - n > k) return false
    if (n == 0) return m <= k
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      cur(lo - 1) = inf
      if (lo > 1) cur(lo - 2) = inf
      cur(0) = if (i <= k) i else inf
      var best = inf
      j = lo
      while (j <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        if (del < v) v = del
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (best >= inf) return false // whole band exceeded k — early exit
      if (hi < m) cur(hi + 1) = inf // seal the band edge (stale cell)
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(m) <= k
  }
}
