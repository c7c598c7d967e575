package graft

/** Recursive-descent SELECT-statement SPINE parser over [[SqlLex]]
  * tokens (r13 — retires the QUALIFY / DISTINCT ON / star-modifier
  * regex splicers; the structural debt two verdicts flagged).
  *
  * Deliberately NOT a full grammar: clause bodies (expressions, join
  * trees, window specs) stay raw text slices — the reference vendors an
  * entire Postgres grammar for those (duckdb-libpg_query.cpp,
  * Parser::ParseQuery duckdb-8.cpp:7252); graft needs exactly the
  * statement spine (WITH chain, set-op terms, clause boundaries,
  * projection items), because that is where the dialect's structural
  * rewrites live. Subqueries inside any raw slice are located by a
  * quote-aware paren scan and recursively parsed, so the transforms
  * apply at every nesting depth — the tree-shaped replacement for the
  * old bottom-up `rewriteNested` text recursion.
  *
  * What the tree buys over the splicers (each was a live bug class):
  *   - `a * exclude(x)` is multiplication by a function call, not a
  *     star modifier — the old `\*\s+EXCLUDE\(` regex mangled it;
  *     here EXCLUDE/REPLACE bind only when the projection ITEM is a
  *     (qualified) star.
  *   - QUALIFY binds to the select CORE that carries it (the
  *     reference's SelectNode shape), not to "everything left of the
  *     keyword" — a set-op member with QUALIFY now wraps only itself.
  *   - DISTINCT ON + trailing LIMIT: the limit applies AFTER the
  *     distinct (outer query), instead of being swallowed into the
  *     window's ORDER BY text.
  */
private[graft] object SqlSelect {

  import SqlLex._

  // ---- model -----------------------------------------------------------

  private sealed trait Item
  /** A (qualified) star projection with optional duck modifiers.
    * `prefixText` is the verbatim original text up to and including the
    * `*` ("`*`", "`t.*`", …). EXCLUDE and Spark-native EXCEPT both land
    * in `exclude` (identical semantics; rendered as EXCEPT). */
  private final case class Star(prefixText: String, exclude: Seq[String],
                                replace: Seq[(String, String)]) extends Item
  private final case class RawItem(text: String) extends Item

  /** One SELECT core; clause strings hold the content AFTER the clause
    * keyword, already recursively rewritten. */
  private final case class Core(
    distinct: Boolean, distinctOnKeys: Option[String], items: Seq[Item],
    from: Option[String], where: Option[String], groupBy: Option[String],
    having: Option[String], window: Option[String], qualify: Option[String],
    orderBy: Option[String], limit: Option[String], offset: Option[String])

  private sealed trait Term
  private final case class CoreTerm(c: Core) extends Term
  /** A parenthesized body — interior already rewritten. `winNames`
    * bubbles the interior's STATEMENT-scope window names up to the
    * enclosing set-op scope (duck-probed: a parenthesized member's
    * WINDOW name collides with a sibling member's; a FROM subquery's
    * or CTE body's does not). */
  private final case class ParenTerm(inner: String,
                                     winNames: Seq[String] = Nil) extends Term
  /** VALUES …, TABLE …, or anything else body-shaped we keep verbatim
    * (interior subqueries rewritten). */
  private final case class RawTerm(text: String) extends Term

  /** terms.length == ops.length + 1; `tail` is a trailing raw region
    * (set-op-level ORDER BY / LIMIT, or anything unparsed). */
  private final case class Body(terms: Seq[Term], ops: Seq[String],
                                tail: Option[String])

  // ---- entry -----------------------------------------------------------

  /** Rewrite a statement: parse the select spine wherever one starts,
    * apply the tree transforms, render. Non-select prefixes (INSERT
    * INTO …, EXPLAIN …) pass through verbatim with their first
    * depth-0 SELECT/WITH suffix parsed as a statement. */
  def rewrite(q: String): String = {
    val toks = tokenize(q)
    if (toks.isEmpty) return q
    val head = toks.head
    val selectHead = head.kind == LParen ||
      (head.kind == Ident && Set("select", "with", "values")(head.lower))
    if (selectHead) parseRender(q)
    else {
      val si = keywordIndex(toks, "select")
      val wi = keywordIndex(toks, "with")
      val idx = Seq(si, wi).filter(_ >= 0).sorted.headOption.getOrElse(-1)
      if (idx < 0) rewriteRawRegion(q)
      else rewriteRawRegion(q.substring(0, idx)) + parseRender(q.substring(idx))
    }
  }

  /** Recursively rewrite select statements INSIDE a raw region: every
    * depth-0 paren group whose interior starts with SELECT / WITH /
    * VALUES is a subquery (parse + transform + render); other groups
    * recurse for deeper subqueries. Text outside parens is untouched. */
  private def rewriteRawRegion(text: String): String = {
    val toks = tokenize(text)
    val sb = new StringBuilder
    var last = 0
    var k = 0
    while (k < toks.length) {
      val close = if (toks(k).kind == LParen) closeOf(toks, k) else -1
      if (close > k) {
        val interior = text.substring(toks(k).end, toks(close).start)
        val isSub = toks(k + 1).kind == Ident &&
          Set("select", "with", "values")(toks(k + 1).lower)
        sb.append(text.substring(last, toks(k).start)).append('(')
          .append(if (isSub) parseRender(interior) else rewriteRawRegion(interior))
          .append(')')
        last = toks(close).end
        k = close + 1
      } else k += 1
    }
    sb.append(text.substring(last)).toString
  }

  // ---- parser ----------------------------------------------------------

  private def parseRender(q: String): String =
    parseRenderNames(q, null)

  /** Like [[parseRender]], additionally appending the statement's
    * window names to `names` (non-null only when called for a set-op
    * member, whose names share the enclosing statement scope). */
  private def parseRenderNames(
      q: String, names: scala.collection.mutable.Buffer[String]): String = {
    val (wp, rest) = splitWithPrefix(q)
    val prefix = if (wp.isEmpty) "" else rewriteRawRegion(wp) + " "
    val body = parseBody(rest)
    if (names != null) names ++= statementWindowNames(body)
    prefix + renderBody(body, prefix)
  }

  /** Window names declared at this statement's set-op scope: each
    * core's WINDOW clause plus parenthesized members' bubbled names
    * (FROM subqueries and CTE bodies are separate scopes and do not
    * contribute — duck-probed). */
  private def statementWindowNames(b: Body): Seq[String] = b.terms.flatMap {
    case CoreTerm(c) => coreWindowNames(c)
    case ParenTerm(_, ns) => ns
    case _ => Nil
  }

  /** Names in one WINDOW clause (`name AS (spec), …`). */
  private def coreWindowNames(c: Core): Seq[String] =
    c.window.toSeq.flatMap(w => SqlDialect.splitTopLevel(w).flatMap { el =>
      tokenize(el).headOption.map(t => barename(el, t)).filter(_ != null)
    })

  /** The reference scopes WINDOW names per STATEMENT: the same name
    * defined by two sibling set-op members (or twice in one clause) is
    * a parse error — `window "w" is already defined`
    * (duck-probed r14; Spark scopes per member, a benign superset the
    * fuzz generator had to derive-wrap around). Default ON for oracle
    * parity; `SET spark.graft.strictWindowScope=false` restores the
    * Spark-native per-member scope. */
  private def strictWindowScope: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .forall(s => java.lang.Boolean.parseBoolean(
        s.conf.get("spark.graft.strictWindowScope", "true")))

  /** Projection-position three-valued logic (r16 — the last known
    * silent-divergence class; reference MARK joins,
    * `/root/reference/duckdb.hpp:13906-13911`): in a SELECT item,
    * `x IN (subquery)` yields NULL on the reference when unmatched and
    * either x is NULL or the subquery produced a NULL, but FALSE under
    * Spark's ExistenceJoin. Predicate positions (WHERE/HAVING/ON)
    * filter identically — NULL and FALSE are both falsy — so only
    * projection ITEMS rewrite. The IN keeps Spark's fast existence
    * probe as CASE branch 1; the NULL corrections attach as
    * UNCORRELATED scalar stats over the same subquery text (count and
    * has-null), which Spark plans as 1-row broadcasts. Quantified
    * comparisons arrive here already rendered by
    * [[SqlDialect.rewriteQuantified]] as EXISTS forms carrying the
    * __qany/__qall alias markers and get the analogous CASE. A
    * row-value left operand `(a, b) IN (sub)` raises a named error
    * (the stats alias list is single-column by construction).
    * `SET spark.graft.projection3vl=false` restores the plain probes.
    * All branch values duck-probed (r16): TRUE on match; FALSE on an
    * EMPTY subquery even for NULL x; NULL when unmatched with x NULL
    * or a NULL member; ALL is TRUE on empty, FALSE the moment any
    * comparison is false (even with NULLs present). */
  private def projection3vl: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .forall(s => java.lang.Boolean.parseBoolean(
        s.conf.get("spark.graft.projection3vl", "true")))

  private[graft] def rewrite3vl(item0: String): String = {
    if (!projection3vl) return item0
    val toks = tokenize(item0)
    def close(open: Int): Int = {
      var d = 0; var j = open
      while (j < toks.length) {
        if (toks(j).kind == LParen) d += 1
        else if (toks(j).kind == RParen) { d -= 1; if (d == 0) return j }
        j += 1
      }
      -1
    }
    def subHead(open: Int): Boolean = open + 1 < toks.length && {
      val h = toks(open + 1)
      h.kind == Ident && Set("select", "with", "values")(h.lower)
    }
    def isW(j: Int, w: String): Boolean =
      j >= 0 && j < toks.length && toks(j).kind == Ident && toks(j).lower == w
    def txt(a: Int, b: Int): String = item0.substring(toks(a).start, toks(b).end)
    // NULL-branch stats over the subquery: empty-set and has-null, each
    // an uncorrelated 1-row scalar
    def stats(sub: String, l: String) = (
      s"(SELECT count(*) FROM ($sub) __q3c) = 0",
      s"($l) IS NULL OR (SELECT count(*) > count(__q3v) FROM ($sub) __q3n(__q3v))")

    val out = new StringBuilder
    var emitted = 0
    var k = 0
    def emit(a: Int, b: Int, rep: String): Unit = {
      out.append(item0.substring(emitted, toks(a).start)).append(rep)
      emitted = toks(b).end
      k = b + 1
    }
    while (k < toks.length) {
      val t = toks(k)
      if (t.kind == Ident && t.lower == "in" && k + 1 < toks.length &&
        toks(k + 1).kind == LParen && subHead(k + 1)) {
        val c = close(k + 1)
        val neg = isW(k - 1, "not")
        val opEnd = if (neg) k - 2 else k - 1
        val ls = SqlLex.operandStart(toks, opEnd)
        if (c > 0 && ls >= 0) {
          val l = txt(ls, opEnd)
          if (toks(ls).kind == LParen && close(ls) == opEnd && {
            // row-value left operand: top-level comma inside the group
            var d = 0; var j = ls; var comma = false
            while (j <= opEnd) {
              if (toks(j).kind == LParen) d += 1
              else if (toks(j).kind == RParen) d -= 1
              else if (d == 1 && toks(j).kind == Punct && toks(j).lower == ",")
                comma = true
              j += 1
            }
            comma
          }) throw new UnsupportedOperationException(
            "row-value IN (subquery) in projection position is not supported " +
              "(single-column operands only); rewrite as a conjunction or SET " +
              "spark.graft.projection3vl=false for the two-valued probe")
          val sub = item0.substring(toks(k + 1).end, toks(c).start)
          val (empty, nullish) = stats(sub, l)
          val (hit, miss) = if (neg) ("FALSE", "TRUE") else ("TRUE", "FALSE")
          emit(ls, c,
            s"(CASE WHEN $l IN ($sub) THEN $hit WHEN $empty THEN $miss " +
              s"WHEN $nullish THEN CAST(NULL AS BOOLEAN) ELSE $miss END)")
        } else k += 1
      } else if (t.kind == Ident && t.lower == "exists" && k + 1 < toks.length &&
        toks(k + 1).kind == LParen && isW(k + 2, "select") &&
        k + 4 < toks.length && isW(k + 4, "from") &&
        toks(k + 5).kind == LParen && {
          val sc = close(k + 5)
          sc > 0 && (isW(sc + 1, "__qany") || isW(sc + 1, "__qall"))
        }) {
        // a rewriteQuantified marker: EXISTS (SELECT 1 FROM (sub)
        // __qany(__qv) WHERE (l) op __qv) — or the __qall NOT-EXISTS
        // dual whose WHERE is NOT ((l) op __qv) OR ... null clauses
        val existsEnd = close(k + 1)
        val subClose = close(k + 5)
        val isAll = isW(subClose + 1, "__qall")
        val whereIdx = subClose + 5 // alias ( __qv ) WHERE
        val sub = item0.substring(toks(k + 5).end, toks(subClose).start)
        var ok = existsEnd > 0 && isW(whereIdx, "where")
        var l = ""; var op = ""
        if (ok && isAll && isW(whereIdx + 1, "not") &&
          toks(whereIdx + 2).kind == LParen) {
          // interior: (l) op __qv
          val g = whereIdx + 2
          val lOpen = g + 1
          if (toks(lOpen).kind == LParen) {
            val lClose = close(lOpen)
            val gClose = close(g)
            if (lClose > 0 && gClose > lClose + 1) {
              l = item0.substring(toks(lOpen).end, toks(lClose).start)
              op = item0.substring(toks(lClose).end, toks(gClose - 1).start).trim
            } else ok = false
          } else ok = false
        } else if (ok && !isAll && toks(whereIdx + 1).kind == LParen) {
          val lOpen = whereIdx + 1
          val lClose = close(lOpen)
          if (lClose > 0 && lClose + 1 < existsEnd) {
            l = item0.substring(toks(lOpen).end, toks(lClose).start)
            op = item0.substring(toks(lClose).end, toks(existsEnd - 1).start).trim
          } else ok = false
        } else ok = false
        if (ok && l.nonEmpty && op.nonEmpty) {
          val (empty, nullish) = stats(sub, l)
          val start = if (isAll && isW(k - 1, "not")) k - 1 else k
          val rep = if (!isAll)
            s"(CASE WHEN EXISTS (SELECT 1 FROM ($sub) __qany(__qv) " +
              s"WHERE ($l) $op __qv) THEN TRUE WHEN $empty THEN FALSE " +
              s"WHEN $nullish THEN CAST(NULL AS BOOLEAN) ELSE FALSE END)"
          else
            s"(CASE WHEN EXISTS (SELECT 1 FROM ($sub) __qall(__qv) " +
              s"WHERE NOT (($l) $op __qv)) THEN FALSE WHEN $empty THEN TRUE " +
              s"WHEN $nullish THEN CAST(NULL AS BOOLEAN) ELSE TRUE END)"
          emit(start, existsEnd, rep)
        } else {
          // not a marker shape after all — skip the EXISTS group whole
          k = if (existsEnd > 0) existsEnd + 1 else k + 1
        }
      } else if (t.kind == LParen && subHead(k)) {
        // a nested subquery NOT behind IN/EXISTS — its own projection
        // was handled recursively; its predicates must stay two-valued
        val c = close(k)
        k = if (c > 0) c + 1 else k + 1
      } else k += 1
    }
    if (emitted == 0) item0
    else { out.append(item0.substring(emitted)); out.toString }
  }

  private final class P(val q: String, val toks: Vector[Tok]) {
    var k = 0
    def peek: Tok = if (k < toks.length) toks(k) else null
    def peekAt(j: Int): Tok = if (j < toks.length) toks(j) else null
    def atEnd: Boolean = k >= toks.length
    def isIdent(t: Tok, w: String): Boolean =
      t != null && t.kind == Ident && t.lower == w
    /** Depth-0 scan is the caller's job — the parser only ever looks at
      * depth-0 tokens by skipping balanced groups whole. */
    def skipGroup(): Unit = { // toks(k) is LParen
      var depth = 0
      while (k < toks.length) {
        toks(k).kind match {
          case LParen => depth += 1
          case RParen => depth -= 1; if (depth == 0) { k += 1; return }
          case _ => ()
        }
        k += 1
      }
    }
  }

  private val setOps = Set("union", "intersect", "except")
  // clause keywords that end the previous clause at depth 0
  private val coreStops = Set("from", "where", "group", "having", "window",
    "qualify", "order", "limit", "offset") ++ setOps

  /** Is the CURRENT token a depth-0 clause stop? (GROUP/ORDER require a
    * following BY to count — protects identifiers that merely spell a
    * keyword; a dot-qualified name like `t.from` never counts.) */
  private def isStop(p: P, stops: Set[String]): Boolean = {
    val t = p.peek
    if (t == null || t.kind != Ident || !stops(t.lower)) return false
    if (p.k > 0 && p.toks(p.k - 1).kind == Punct && p.toks(p.k - 1).lower == ".")
      return false
    t.lower match {
      case "group" | "order" => p.isIdent(p.peekAt(p.k + 1), "by")
      case "from" =>
        // `IS [NOT] DISTINCT FROM` is a comparison operator at depth 0,
        // not the clause boundary (r14b — the fuzz's IS-DISTINCT shape
        // caught the item scan stopping inside the operator and losing
        // the projection tail to a phantom FROM clause)
        !(p.k >= 2 && p.toks(p.k - 1).kind == Ident &&
          p.toks(p.k - 1).lower == "distinct" &&
          p.toks(p.k - 2).kind == Ident &&
          (p.toks(p.k - 2).lower == "is" || p.toks(p.k - 2).lower == "not"))
      case _ => true
    }
  }

  private def parseBody(text: String): Body = {
    val p = new P(text, tokenize(text))
    val terms = Vector.newBuilder[Term]
    val ops = Vector.newBuilder[String]
    var done = false
    terms += parseTerm(p)
    while (!done) {
      val t = p.peek
      if (t != null && t.kind == Ident && setOps(t.lower)) {
        val opStart = t.start
        p.k += 1
        // optional ALL | DISTINCT, optional BY NAME — kept verbatim
        if (p.isIdent(p.peek, "all") || p.isIdent(p.peek, "distinct")) p.k += 1
        if (p.isIdent(p.peek, "by") && p.isIdent(p.peekAt(p.k + 1), "name"))
          p.k += 2
        val opEnd = p.toks(p.k - 1).end
        ops += text.substring(opStart, opEnd)
        terms += parseTerm(p)
      } else done = true
    }
    val tail =
      if (p.atEnd) None
      else Some(rewriteRawRegion(text.substring(p.peek.start)))
    val body = Body(terms.result(), ops.result(), tail)
    if (strictWindowScope) {
      val names = statementWindowNames(body)
      names.diff(names.distinct).distinct.headOption.foreach { n =>
        throw new IllegalArgumentException(
          s"""graft: window "$n" is already defined — the reference scopes""" +
            " WINDOW names per statement, not per set-op member" +
            " (duckdb-libpg_query window clause binding); SET" +
            " spark.graft.strictWindowScope=false for per-member scope")
      }
    }
    body
  }

  private def parseTerm(p: P): Term = {
    val t = p.peek
    if (t == null) return RawTerm("")
    if (t.kind == LParen) {
      val open = t.start
      p.skipGroup()
      val close = p.toks(p.k - 1).start // the matching RParen's offset
      val interior = p.q.substring(open + 1, close)
      val ht = tokenize(interior).headOption
      if (ht.exists(h => h.kind == Ident &&
        Set("select", "with", "values")(h.lower))) {
        val names = scala.collection.mutable.Buffer.empty[String]
        ParenTerm(parseRenderNames(interior, names), names.toSeq)
      } else ParenTerm(rewriteRawRegion(interior))
    } else if (p.isIdent(t, "select")) {
      CoreTerm(parseCore(p))
    } else {
      // VALUES (…), TABLE t, … — scan to the next depth-0 set op;
      // trailing ORDER/LIMIT stay inside (rendered verbatim in place)
      val start = t.start
      while (!p.atEnd && !(p.peek.kind == Ident && setOps(p.peek.lower) &&
        !(p.k > 0 && p.toks(p.k - 1).kind == Punct && p.toks(p.k - 1).lower == "."))) {
        if (p.peek.kind == LParen) p.skipGroup() else p.k += 1
      }
      val end = if (p.atEnd) p.q.length else p.peek.start
      RawTerm(rewriteRawRegion(p.q.substring(start, end)))
    }
  }

  /** Slice the clause content from the current position to the next
    * depth-0 stop (or end); recursively rewrite its subqueries. */
  private def clauseSlice(p: P, stops: Set[String]): String = {
    val start = if (p.atEnd) p.q.length else p.peek.start
    while (!p.atEnd && !isStop(p, stops)) {
      if (p.peek.kind == LParen) p.skipGroup() else p.k += 1
    }
    val end = if (p.atEnd) p.q.length else p.peek.start
    rewriteRawRegion(p.q.substring(start, end))
  }

  private def parseCore(p: P): Core = {
    p.k += 1 // past SELECT
    var distinct = false
    var donKeys: Option[String] = None
    if (p.isIdent(p.peek, "all")) p.k += 1
    else if (p.isIdent(p.peek, "distinct")) {
      distinct = true
      p.k += 1
      if (p.isIdent(p.peek, "on") && p.peekAt(p.k + 1) != null &&
        p.peekAt(p.k + 1).kind == LParen) {
        p.k += 1
        val open = p.peek.start
        p.skipGroup()
        donKeys = Some(p.q.substring(open + 1, p.toks(p.k - 1).start))
        distinct = false // DISTINCT ON is its own construct, not DISTINCT
      }
    }
    val items = parseItems(p)
    var from, where, groupBy, having, window, qualify = Option.empty[String]
    var orderBy, limit, offset = Option.empty[String]
    var done = false
    while (!done && !p.atEnd) {
      val t = p.peek
      if (t.kind == Ident && setOps(t.lower)) done = true
      else if (isStop(p, coreStops)) t.lower match {
        case "from" => p.k += 1; from = Some(clauseSlice(p, coreStops))
        case "where" => p.k += 1; where = Some(clauseSlice(p, coreStops))
        case "group" => p.k += 2; groupBy = Some(clauseSlice(p, coreStops))
        case "having" => p.k += 1; having = Some(clauseSlice(p, coreStops))
        case "window" => p.k += 1; window = Some(clauseSlice(p, coreStops))
        case "qualify" => p.k += 1; qualify = Some(clauseSlice(p, coreStops))
        case "order" => p.k += 2; orderBy = Some(clauseSlice(p, coreStops))
        case "limit" => p.k += 1; limit = Some(clauseSlice(p, coreStops))
        case "offset" => p.k += 1; offset = Some(clauseSlice(p, coreStops))
        case _ => done = true
      } else done = true // unexpected depth-0 token after clauses — stop
    }
    Core(distinct, donKeys, items, from, where, groupBy, having, window,
      qualify, orderBy, limit, offset)
  }

  /** Projection list: items split on depth-0 commas, each item either a
    * (qualified) star with optional EXCLUDE/EXCEPT/REPLACE modifier
    * groups, or a raw expression slice. `except` ends the clause (set
    * op) ONLY when it is not a star modifier — the item-shape decides,
    * which is exactly what the old regex could not see. */
  private def parseItems(p: P): Seq[Item] = {
    val items = Vector.newBuilder[Item]
    var done = false
    while (!done) {
      items += parseItem(p)
      if (p.peek != null && p.peek.kind == Punct && p.peek.lower == ",") p.k += 1
      else done = true
    }
    items.result()
  }

  private def parseItem(p: P): Item = {
    val startK = p.k
    // try the star shape: (ident '.')* '*' [modifier groups]
    var j = p.k
    while (p.peekAt(j) != null &&
      (p.peekAt(j).kind == Ident || p.peekAt(j).kind == QIdent) &&
      p.peekAt(j + 1) != null && p.peekAt(j + 1).kind == Punct &&
      p.peekAt(j + 1).lower == ".") j += 2
    val starTok = p.peekAt(j)
    if (starTok != null && starTok.kind == Punct && starTok.lower == "*") {
      val prefixText = p.q.substring(p.toks(startK).start, starTok.end)
      p.k = j + 1
      var exclude = Vector.empty[String]
      var replace = Vector.empty[(String, String)]
      var malformed = false
      var more = true
      while (more && !malformed) {
        val t = p.peek
        // EXCEPT followed by '(' is a star MODIFIER only when the paren
        // interior is not itself a query — `SELECT * EXCEPT (SELECT …)`
        // is the set operation (duck-probed: binder sees the left member
        // as `SELECT *`), the same head test parseTerm applies
        val exceptAsSetOp = t != null && t.lower == "except" && {
          val h = p.peekAt(p.k + 2)
          h != null && h.kind == Ident &&
            Set("select", "with", "values")(h.lower)
        }
        val isMod = t != null && t.kind == Ident &&
          Set("exclude", "except", "replace")(t.lower) && !exceptAsSetOp &&
          p.peekAt(p.k + 1) != null && p.peekAt(p.k + 1).kind == LParen
        if (isMod) {
          val kw = t.lower
          p.k += 1
          val open = p.peek.start
          p.skipGroup()
          val args = SqlDialect.splitTopLevel(
            p.q.substring(open + 1, p.toks(p.k - 1).start))
          if (kw == "replace") args.foreach { item =>
            val ai = item.toUpperCase.lastIndexOf(" AS ")
            if (ai <= 0) malformed = true
            else replace :+= (item.substring(0, ai).trim, item.substring(ai + 4).trim)
          } else exclude ++= args.map(_.trim)
        } else more = false
      }
      if (!malformed) return Star(prefixText, exclude, replace)
      p.k = startK // malformed modifier — fall through to a raw slice
    } else p.k = startK
    // raw item: to the next depth-0 comma or clause stop
    val start = if (p.atEnd) p.q.length else p.peek.start
    while (!p.atEnd && !isStop(p, coreStops) &&
      !(p.peek.kind == Punct && p.peek.lower == ",")) {
      if (p.peek.kind == LParen) p.skipGroup() else p.k += 1
    }
    val end = if (p.atEnd) p.q.length else p.peek.start
    RawItem(rewrite3vl(rewriteRawRegion(p.q.substring(start, end))))
  }

  // ---- transforms + render --------------------------------------------

  /** Output-alias map of a projection: items shaped `expr AS name`
    * (last depth-0 AS, alias is the item's final token). The reference
    * binds OUTPUT aliases inside DISTINCT ON keys and ORDER BY — probed:
    * `SELECT -k AS k … ORDER BY k` orders by the ALIAS value, and
    * `ORDER BY kk + 1` resolves an alias inside an expression — but the
    * spliced row_number window and `__oN` sort keys live INSIDE the
    * select, where Spark does not resolve same-select aliases in window
    * specs. Bare alias tokens are therefore substituted with the
    * parenthesized defining expression before splicing. */
  private def aliasMap(itemTexts: Seq[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    itemTexts.foreach { it =>
      val toks = tokenize(it)
      if (toks.length >= 3) {
        var depth = 0
        var asIdx = -1
        var i = 0
        while (i < toks.length) {
          toks(i).kind match {
            case LParen => depth += 1
            case RParen => depth -= 1
            case Ident if depth == 0 && toks(i).lower == "as" => asIdx = i
            case _ => ()
          }
          i += 1
        }
        if (asIdx > 0 && asIdx == toks.length - 2) {
          val a = toks.last
          val name = barename(it, a)
          if (name != null) {
            val expr = it.substring(toks.head.start, toks(asIdx - 1).end)
            if (expr.trim.toLowerCase != name) out += name -> expr
          }
        }
      }
    }
    out.result()
  }

  /** Normalized identifier text of an Ident/QIdent token, null for
    * other kinds (the reference matches identifiers case-insensitively
    * whether quoted or not). */
  private def barename(text: String, t: Tok): String = t.kind match {
    case Ident => t.lower
    case QIdent => text.substring(t.start + 1, math.max(t.start + 1, t.end - 1))
      .toLowerCase
    case _ => null
  }

  /** Replace bare output-alias tokens in `text` with the parenthesized
    * defining expression. Dot-qualified names (`t.kk`), qualifier
    * positions (`kk.x`), and call names (`kk(…)`) are not alias
    * references and stay untouched. */
  private def substAliases(text: String, am: Map[String, String]): String = {
    if (am.isEmpty) return text
    val toks = tokenize(text)
    val sb = new StringBuilder
    var last = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val name = barename(text, t)
      val hit = name != null && am.contains(name) &&
        !(i > 0 && toks(i - 1).kind == Punct && toks(i - 1).lower == ".") &&
        !(i + 1 < toks.length && (toks(i + 1).kind == LParen ||
          (toks(i + 1).kind == Punct && toks(i + 1).lower == ".")))
      if (hit) {
        sb.append(text.substring(last, t.start))
          .append('(').append(am(name)).append(')')
        last = t.end
      }
      i += 1
    }
    sb.append(text.substring(last))
    sb.toString
  }

  /** Split one ORDER BY element into (expression, " modifiers") where
    * modifiers are the trailing ASC/DESC/NULLS FIRST/LAST words (with a
    * leading space), "" when absent. */
  private def splitOrderElem(e: String): (String, String) = {
    val toks = tokenize(e)
    if (toks.isEmpty) return (e, "")
    var end = toks.length
    while (end > 1 && toks(end - 1).kind == Ident &&
      Set("asc", "desc", "nulls", "first", "last")(toks(end - 1).lower)) end -= 1
    if (end == toks.length) (e, "")
    else (e.substring(toks.head.start, toks(end - 1).end),
      " " + e.substring(toks(end).start))
  }

  private def renderItem(it: Item): String = it match {
    case RawItem(t) => t.trim
    case Star(prefix, excl, repl) =>
      if (excl.isEmpty && repl.isEmpty) prefix
      else {
        val names = excl ++ repl.map(_._2)
        s"$prefix EXCEPT (${names.mkString(", ")})" +
          repl.map { case (e, a) => s", $e AS $a" }.mkString
      }
  }

  /** A bare VALUES member names its columns col0..colN-1 in the
    * reference; Spark names them col1..colN (duck-probed r14b: the
    * FIRST set-op member decides the statement's names). Wrap the rows
    * in an aliased subquery; trailing clauses (ORDER BY / LIMIT) stay
    * OUTSIDE so ordinals and limits keep their statement-level
    * meaning. Non-VALUES text passes through untouched. */
  private def renderValuesTerm(text: String): String = {
    val toks = tokenize(text)
    if (toks.isEmpty || toks.head.kind != Ident || toks.head.lower != "values")
      return text.trim
    var k = 1
    var lastEnd = -1
    var arity = -1
    var more = true
    while (more && k < toks.length && toks(k).kind == LParen) {
      val open = k
      var depth = 0
      var close = -1
      while (close < 0 && k < toks.length) {
        toks(k).kind match {
          case LParen => depth += 1
          case RParen => depth -= 1; if (depth == 0) close = k
          case _ => ()
        }
        k += 1
      }
      if (close < 0) return text.trim // malformed - leave for the parser
      if (arity < 0) arity = SqlDialect.splitTopLevel(
        text.substring(toks(open).end, toks(close).start)).length
      lastEnd = toks(close).end
      if (k < toks.length && toks(k).kind == Punct && toks(k).lower == ",") k += 1
      else more = false
    }
    if (lastEnd < 0 || arity <= 0) return text.trim
    val rows = text.substring(toks.head.start, lastEnd)
    val tail = text.substring(lastEnd)
    val cols = (0 until arity).map(i => s"col$i").mkString(", ")
    s"SELECT * FROM ($rows) __v($cols)$tail".trim
  }

  private def renderBody(b: Body, withPrefix: String = ""): String = {
    val head = b.terms.head match {
      case RawTerm(text) => renderValuesTerm(text)
      case t => renderTerm(t)
    }
    val members0 = head +: b.terms.tail.map(renderTerm)
    val members =
      if (b.ops.isEmpty) members0
      else coerceSetOpMembers(withPrefix, members0, b.ops)
    val parts = new StringBuilder(members.head)
    b.ops.zip(members.tail).foreach { case (op, m) =>
      parts.append(' ').append(op).append(' ').append(m)
    }
    b.tail.foreach(t => parts.append(' ').append(t.trim))
    parts.toString
  }

  /** The reference's set-operation member coercion, imposed at rewrite
    * time (r17 — closes the last documented semantic-difference class
    * on the shared surface). The reference's binder unifies member
    * column types over its OWN lattice (duckdb-9.cpp set-op bind),
    * which differs from Spark's in direction: `INT UNION VARCHAR` →
    * VARCHAR (Spark casts the string side to the numeric and errors on
    * non-numeric text), `BOOL UNION INT` → INTEGER (Spark refuses),
    * `DECIMAL UNION FLOAT` → FLOAT (Spark would pick DOUBLE).
    *
    * Each rendered member is BOUND against the active session (with the
    * statement's WITH prefix so CTE references resolve); per-position
    * types fold through [[duckSetOpType]] — the full duck pair matrix
    * probed r17 (BATTERY7) — and any member whose column differs from
    * the unified type is wrapped in an explicit cast projection
    * (`duck_str` for VARCHAR targets, so doubles render with the
    * reference's shortest-round-trip format). Fallbacks are silent and
    * safe: no active session / a member that does not bind standalone
    * (correlated subqueries) / BY NAME ops / an UNPROBED type pair →
    * members pass through untouched, and Spark's native coercion (or
    * its loud error) stands, exactly the pre-r17 behavior.
    * `SET spark.graft.setopCoerce=false` disables the pass. */
  private def coerceSetOpMembers(withPrefix: String, members: Seq[String],
                                 ops: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types._
    val sessOpt = org.apache.spark.sql.SparkSession.getActiveSession
    if (sessOpt.isEmpty) return members
    val spark = sessOpt.get
    if (spark.conf.get("spark.graft.setopCoerce", "true") != "true")
      return members
    // UNION BY NAME matches columns by NAME, not position — the
    // positional diff below does not apply; native handling stands
    if (ops.exists(_.toLowerCase.split("\\s+").contains("by"))) return members
    // A trailing depth-0 ORDER BY / LIMIT / OFFSET on the LAST member
    // belongs to the SET-OP scope (both engines' grammar), not to the
    // member: split it off so the member binds standalone and the cast
    // wrap does not swallow the statement-level ordering.
    val (lastCore, lastTail) = splitTrailingSetopTail(members.last)
    val cores = members.init :+ lastCore
    val schemas = cores.map { m =>
      scala.util.Try(
        spark.sql(s"${withPrefix}SELECT * FROM ( $m ) __graft_sob").schema)
    }
    if (schemas.exists(_.isFailure)) return members
    val fields = schemas.map(_.get.fields)
    if (fields.map(_.length).distinct.length != 1)
      // both engines error here; raise the REFERENCE's text
      // (r17 BATTERY7 d01 message parity)
      throw new IllegalArgumentException(
        "Binder Error: Set operations can only apply to expressions " +
          "with the same number of result columns")
    val unified: Seq[Option[DataType]] = fields.head.indices.map { c =>
      fields.map(f => Option(f(c).dataType): Option[DataType]).reduce {
        (oa, ob) => for (a <- oa; b <- ob; u <- duckSetOpType(a, b)) yield u
      }
    }
    // act only when every position unifies AND at least one member
    // needs a cast (an unprobed pair anywhere → native behavior)
    if (unified.exists(_.isEmpty)) return members
    // a member with duplicate output column names (legal in Spark set
    // ops) cannot be re-projected by name — the wrap would raise an
    // ambiguous-reference error on a statement that ran fine uncoerced
    // (r17 advice); native coercion stands
    if (fields.exists(fs =>
        fs.map(_.name.toLowerCase).distinct.length != fs.length))
      return members
    val anyCast = fields.exists(fs =>
      fs.zip(unified).exists { case (f, u) => !sameType(f.dataType, u.get) })
    if (!anyCast) return members
    val out = cores.zip(fields).zipWithIndex.map { case ((m, fs), i) =>
      if (fs.zip(unified).forall { case (f, u) => sameType(f.dataType, u.get) }) m
      else {
        val cols = fs.zip(unified).map { case (f, u) =>
          val qn = "`" + f.name.replace("`", "``") + "`"
          if (sameType(f.dataType, u.get)) qn
          else u.get match {
            case StringType => s"duck_str($qn) AS $qn"
            case t => s"CAST($qn AS ${t.sql}) AS $qn"
          }
        }
        s"SELECT ${cols.mkString(", ")} FROM ( $m ) __graft_soc$i"
      }
    }
    if (lastTail.isEmpty) out
    else out.init :+ (out.last + " " + lastTail)
  }

  /** Split a rendered set-op member into (core, trailing set-op-scope
    * clause text): the first depth-0 `ORDER BY` / `LIMIT` / `OFFSET`
    * token run at the member's top level starts the tail (""), if none.
    * SQL grammar puts these only at the end, so a depth-0 hit is
    * always the statement-scope tail. */
  private def splitTrailingSetopTail(m: String): (String, String) = {
    val toks = tokenize(m)
    var depth = 0
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      t.kind match {
        case LParen => depth += 1
        case RParen => depth -= 1
        case Ident if depth == 0 =>
          val dotted = k > 0 && toks(k - 1).kind == Punct &&
            toks(k - 1).lower == "."
          // `AS limit` / a trailing bare `limit` with nothing after it
          // is a column ALIAS, not the clause (r17 advice): the clause
          // keyword always has an operand after it
          val aliased = k > 0 && toks(k - 1).kind == Ident &&
            toks(k - 1).lower == "as"
          val hasOperand = k + 1 < toks.length
          if (!dotted && !aliased &&
            ((hasOperand && (t.lower == "limit" || t.lower == "offset")) ||
            (t.lower == "order" && k + 1 < toks.length &&
              toks(k + 1).kind == Ident && toks(k + 1).lower == "by")))
            return (m.substring(0, t.start).trim, m.substring(t.start).trim)
        case _ => ()
      }
      k += 1
    }
    (m, "")
  }

  private def sameType(a: org.apache.spark.sql.types.DataType,
                       b: org.apache.spark.sql.types.DataType): Boolean =
    a == b

  /** The reference's set-op type-unification lattice over the SHARED
    * representable types, probed pairwise against the oracle r17
    * (15×15 matrix, tools/battery7 set-op tranche): BOOLEAN loses to
    * every numeric; the integer ladder widens TINYINT→…→HUGEINT
    * (HUGEINT rides graft's documented DECIMAL(38,0) encoding and
    * falls out of the decimal rule); FLOAT beats ints AND DECIMAL
    * (duck: `DECIMAL ∪ FLOAT` → FLOAT); DOUBLE beats everything
    * numeric; DECIMAL∪int widens precision by the int's decimal width
    * (BIGINT=19 digits → DECIMAL(20,1) with scale 1, capped at 38);
    * VARCHAR beats everything probed EXCEPT BLOB (`VARCHAR ∪ BLOB` →
    * BLOB); DATE∪TIMESTAMP → TIMESTAMP. Unprobed / non-unifiable pairs
    * (temporal↔numeric, INTERVAL, nested types, TIME's long encoding)
    * → None, leaving Spark's native coercion or loud error in place. */
  private def duckSetOpType(
      a0: org.apache.spark.sql.types.DataType,
      b0: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def intWidth(dt: DataType): Int = dt match {
      case ByteType => 3; case ShortType => 5
      case IntegerType => 10; case LongType => 19; case _ => -1
    }
    def isInt(dt: DataType) = intWidth(dt) > 0
    def isNum(dt: DataType) = isInt(dt) || dt == FloatType ||
      dt == DoubleType || dt.isInstanceOf[DecimalType]
    def stringy(dt: DataType) = isNum(dt) || dt == BooleanType ||
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    def decWithInt(d: DecimalType, w: Int): DecimalType =
      DecimalType(math.min(38, math.max(d.precision - d.scale, w) + d.scale),
        d.scale)
    (a0, b0) match {
      case (a, b) if a == b => Some(a)
      case (NullType, o) => Some(o)
      case (o, NullType) => Some(o)
      case (StringType, BinaryType) | (BinaryType, StringType) =>
        Some(BinaryType)
      case (StringType, o) if stringy(o) => Some(StringType)
      case (o, StringType) if stringy(o) => Some(StringType)
      case (BooleanType, o) if isNum(o) => Some(o)
      case (o, BooleanType) if isNum(o) => Some(o)
      case (DoubleType, o) if isNum(o) => Some(DoubleType)
      case (o, DoubleType) if isNum(o) => Some(DoubleType)
      case (FloatType, o) if isNum(o) => Some(FloatType)
      case (o, FloatType) if isNum(o) => Some(FloatType)
      case (da: DecimalType, db: DecimalType) =>
        val s = math.max(da.scale, db.scale)
        Some(DecimalType(math.min(38,
          math.max(da.precision - da.scale, db.precision - db.scale) + s), s))
      case (d: DecimalType, o) if isInt(o) => Some(decWithInt(d, intWidth(o)))
      case (o, d: DecimalType) if isInt(o) => Some(decWithInt(d, intWidth(o)))
      case (x, y) if isInt(x) && isInt(y) =>
        Some(if (intWidth(x) >= intWidth(y)) x else y)
      case (DateType, TimestampType) | (TimestampType, DateType) =>
        Some(TimestampType)
      case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
        Some(TimestampNTZType)
      // nested types recurse (probed r17: [1]∪['a'] → VARCHAR[],
      // fieldwise-POSITIONAL structs — same names required, duck's
      // Mismatch error otherwise — and key/value-wise maps). One
      // guard: a float/double unifying to a NESTED string can't ride
      // duck_str (it is a top-level cast), and Spark's element cast
      // renders exponents differently — unprobed → native behavior.
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        duckSetOpType(ea, eb).filterNot(u =>
          u == StringType && (isFloaty(ea) || isFloaty(eb)))
          .map(ArrayType(_, containsNull = true))
      case (sa: StructType, sb: StructType) =>
        // duck RAISES on mismatched field sets here (Spark would
        // silently union by position — a silent-divergence class,
        // caught by this round's spec); same names → fieldwise unify
        def duckName(st: StructType): String = st.fields
          .map(f => s"${f.name} ${f.dataType.sql}")
          .mkString("STRUCT(", ", ", ")")
        if (sa.length != sb.length ||
          !sa.fieldNames.map(_.toLowerCase).sameElements(
            sb.fieldNames.map(_.toLowerCase)))
          throw new IllegalArgumentException(
            s"Mismatch Type Error: Type ${duckName(sb)} does not match " +
              s"with ${duckName(sa)}. Cannot cast STRUCTs" +
              (if (sa.length != sb.length) " of different size" else ""))
        val unified = sa.fields.zip(sb.fields).map { case (fa, fb) =>
          duckSetOpType(fa.dataType, fb.dataType).filterNot(u =>
            u == StringType &&
              (isFloaty(fa.dataType) || isFloaty(fb.dataType)))
            .map(u => StructField(fa.name, u))
        }
        if (unified.exists(_.isEmpty)) None
        else Some(StructType(unified.map(_.get)))
      case (MapType(ka, va, _), MapType(kb, vb, _)) =>
        for {
          k <- duckSetOpType(ka, kb)
          v <- duckSetOpType(va, vb)
          if !(k == StringType && (isFloaty(ka) || isFloaty(kb)))
          if !(v == StringType && (isFloaty(va) || isFloaty(vb)))
        } yield MapType(k, v, valueContainsNull = true)
      case _ => None
    }
  }

  private def isFloaty(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.FloatType ||
      dt == org.apache.spark.sql.types.DoubleType

  private def renderTerm(t: Term): String = t match {
    case ParenTerm(inner, _) => s"($inner)"
    case RawTerm(text) => text.trim
    case CoreTerm(c) => renderCore(c)
  }

  private def renderCore(c: Core): String = {
    val itemTexts = c.items.map(renderItem)
    val distinctKw = if (c.distinct) "DISTINCT " else ""
    def tail(parts: Option[String]*): String =
      parts.flatten.map(" " + _).mkString
    val fromTail = tail(
      c.from.map("FROM " + _.trim), c.where.map("WHERE " + _.trim),
      c.groupBy.map("GROUP BY " + _.trim), c.having.map("HAVING " + _.trim),
      c.window.map("WINDOW " + _.trim))

    // DISTINCT ON keys / order elements, alias-substituted (the spliced
    // columns live INSIDE the select, where Spark does not resolve
    // same-select output aliases — see aliasMap)
    val am = if (c.distinctOnKeys.isDefined)
      aliasMap(c.items.collect { case RawItem(t) => t.trim })
    else Map.empty[String, String]
    val keysRaw = c.distinctOnKeys.map(_.trim)
    val ordText = keysRaw.map(kr =>
      substAliases(c.orderBy.map(_.trim).getOrElse(kr), am))
    val ordKeysAll: Seq[(String, String)] = ordText.toSeq.flatMap(o =>
      SqlDialect.splitTopLevel(o).map(e => splitOrderElem(e.trim)))
    val limited = c.limit.isDefined || c.offset.isDefined

    // stage 1: the core without QUALIFY / DISTINCT ON / ORDER / LIMIT,
    // possibly qualify-wrapped (reference clause order: WHERE → GROUP →
    // HAVING → WINDOW → QUALIFY → DISTINCT → ORDER → LIMIT). QUALIFY
    // filters BEFORE the dedup (duck-probed: SELECT DISTINCT s … QUALIFY
    // keeps every projection value whose row survives the filter), so
    // DISTINCT moves OUTSIDE the qualify wrap, over the original
    // projection only — never over the spliced __qN window columns.
    var sql: String = null
    // qualify + DISTINCT ON: the row_number window rides the WRAPPED
    // output, where pre-projection source columns no longer resolve —
    // so every partition key and sort key is computed as a hidden
    // __kN/__oN column in the INNERMOST select (where the source scope
    // still exists) and flows through the wrap (duck-probed:
    // SELECT DISTINCT ON (s) k FROM t QUALIFY … ORDER BY n LIMIT 3
    // resolves s and n against the source)
    val qualifyDon = c.qualify.isDefined && c.distinctOnKeys.isDefined
    val keyItems = if (qualifyDon)
      SqlDialect.splitTopLevel(keysRaw.get).map(_.trim).zipWithIndex
        .map { case (kx, i) => s"${substAliases(kx, am)} AS __k$i" }
    else Nil
    val donHidden = if (qualifyDon)
      keyItems ++ ordKeysAll.zipWithIndex.map { case ((e, _), i) => s"$e AS __o$i" }
    else Nil
    if (c.qualify.isDefined) {
      var pred = c.qualify.get.trim
      val winExprs = SqlDialect.extractWindowExprs(pred)
      require(c.from.isDefined, "QUALIFY rewrite needs a FROM clause")
      val aliased = winExprs.zipWithIndex.map { case (we, i) =>
        pred = pred.replace(we, s"__q$i")
        s"$we AS __q$i"
      }
      val drop = if (winExprs.isEmpty) "*"
      else s"* EXCEPT (${winExprs.indices.map(i => s"__q$i").mkString(", ")})"
      val inner =
        s"SELECT ${(itemTexts ++ donHidden ++ aliased).mkString(", ")}$fromTail"
      sql = s"SELECT $distinctKw$drop FROM ($inner) __qualify WHERE ($pred)"
    } else {
      sql = s"SELECT $distinctKw${itemTexts.mkString(", ")}$fromTail"
    }

    // stage 2: DISTINCT ON — row_number over the keys, outer keeps the
    // first row per key group; the core's ORDER BY feeds the window
    // (that is what "first" means in the reference), LIMIT/OFFSET stay
    // OUTSIDE so they apply after the distinct
    if (c.distinctOnKeys.isDefined) {
      val keys =
        if (qualifyDon) keyItems.indices.map(i => s"__k$i").mkString(", ")
        else substAliases(keysRaw.get, am)
      val ordSpec =
        if (qualifyDon) ordKeysAll.zipWithIndex
          .map { case ((_, sfx), i) => s"__o$i$sfx" }.mkString(", ")
        else ordText.get
      val rn = s"row_number() OVER (PARTITION BY $keys ORDER BY $ordSpec) AS __rn"
      // with a LIMIT/OFFSET the output order is load-bearing (it decides
      // WHICH rows survive) — the reference's ORDER BY does double duty,
      // picking the per-key representative AND ordering the result. The
      // outer query cannot see pre-projection columns, so each sort key
      // is computed as a hidden __oN column INSIDE the select (where the
      // source scope still exists) and the outer ORDER BY references the
      // aliases with the original ASC/DESC/NULLS modifiers. Without a
      // limit the order is presentation-only and stays off (cheaper
      // plan; the compare is order-insensitive). In the qualify path the
      // __oN columns are always spliced (the window itself needs them).
      val ordKeys: Seq[(String, String)] =
        if (limited || qualifyDon) ordKeysAll else Nil
      val ordItems =
        if (qualifyDon) Nil // already spliced into the innermost select
        else ordKeys.zipWithIndex.map { case ((e, _), i) => s"$e AS __o$i" }
      val inner =
        if (c.qualify.isDefined)
          s"SELECT *${(ordItems :+ rn).map(", " + _).mkString} FROM ($sql) __don"
        else
          s"SELECT ${(itemTexts ++ ordItems :+ rn).mkString(", ")}$fromTail"
      val dropCols = (keyItems.indices.map(i => s"__k$i") ++
        ordKeys.indices.map(i => s"__o$i") :+ "__rn").mkString(", ")
      val outerOrd =
        if (limited) Some(ordKeys.zipWithIndex.map { case ((_, sfx), i) =>
          s"__o$i$sfx" }.mkString(", "))
        else None
      sql = s"SELECT * EXCEPT ($dropCols) FROM ( $inner ) WHERE __rn = 1" +
        tail(outerOrd.map("ORDER BY " + _), c.limit.map("LIMIT " + _.trim),
          c.offset.map("OFFSET " + _.trim))
    } else {
      sql = sql + tail(
        c.orderBy.map("ORDER BY " + _.trim), c.limit.map("LIMIT " + _.trim),
        c.offset.map("OFFSET " + _.trim))
    }
    sql
  }
}
