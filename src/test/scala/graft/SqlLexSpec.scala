package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared dialect lexer (r11): clause classification, keyword
  * lookup, and WITH-chain splitting on one token stream. Pins the two
  * blind spots the old char-walkers had — nested CASE must RESTORE the
  * enclosing clause on END, and quoted identifiers must never act as
  * clause keywords. */
class SqlLexSpec extends AnyFunSuite {

  private def ctxAtMarker(sql: String): String = {
    val pos = sql.indexOf("@")
    SqlLex.clauseAt(sql.replace("@", " "), pos)
  }

  test("basic clause classification") {
    assert(ctxAtMarker("SELECT a, @b FROM t") == "select")
    assert(ctxAtMarker("SELECT a FROM t WHERE @x = 1") == "pred")
    assert(ctxAtMarker("SELECT a FROM t ORDER BY @x") == "sort")
    assert(ctxAtMarker("SELECT a FROM t GROUP BY @x") == "group")
    assert(ctxAtMarker("SELECT sum(@x) FROM t") == "func")
    assert(ctxAtMarker("SELECT a, row_number() OVER (PARTITION BY @k) FROM t") == "sort")
  }

  test("nested CASE restores the ENCLOSING clause on END (old machine reset to select)") {
    // after the inner and outer END, a WHERE stays a predicate
    assert(ctxAtMarker(
      "SELECT a FROM t WHERE CASE WHEN x THEN CASE WHEN y THEN 1 ELSE 2 END ELSE 3 END = 1 AND @z") == "pred")
    // and a projection stays a projection
    assert(ctxAtMarker(
      "SELECT CASE WHEN x THEN CASE WHEN y THEN 1 END END AS c, @d FROM t") == "select")
    // inside THEN it is a value position
    assert(ctxAtMarker("SELECT a FROM t WHERE CASE WHEN x THEN @v ELSE w END = 1") == "select")
    // a simple-CASE operand is a matching position
    assert(ctxAtMarker("SELECT CASE @x WHEN 1 THEN 'a' END FROM t") == "pred")
  }

  test("quoted identifiers and dotted references never act as keywords") {
    assert(ctxAtMarker("SELECT a AS \"order\", @b FROM t") == "select")
    assert(ctxAtMarker("SELECT a AS \"group by\", @b FROM t") == "select")
    assert(ctxAtMarker("SELECT t.order, @b FROM t") == "select")
    assert(SqlLex.keywordIndex("SELECT \"from\" FROM t", "FROM") ==
      "SELECT \"from\" ".length)
    assert(SqlLex.keywordIndex("SELECT t.from_x, u.from FROM t", "FROM") ==
      "SELECT t.from_x, u.from ".length)
  }

  test("keywordIndex is depth-0 and quote-aware") {
    assert(SqlLex.keywordIndex("SELECT (SELECT x FROM u) FROM t", "FROM") ==
      "SELECT (SELECT x FROM u) ".length)
    assert(SqlLex.keywordIndex("SELECT ' FROM trap ' FROM t", "FROM") ==
      "SELECT ' FROM trap ' ".length)
    assert(SqlLex.keywordIndex("SELECT a FROM t", "QUALIFY") == -1)
  }

  test("splitWithPrefix is token-structural") {
    // identifier ending in as: name, not the AS keyword
    val (p1, r1) = SqlLex.splitWithPrefix(
      "WITH atlas (a, b) AS (SELECT 1, 2) SELECT * FROM atlas")
    assert(p1.trim == "WITH atlas (a, b) AS (SELECT 1, 2)")
    assert(r1.trim == "SELECT * FROM atlas")
    // chained CTEs
    val (p2, r2) = SqlLex.splitWithPrefix(
      "WITH a AS (SELECT 1), b AS (SELECT * FROM a) SELECT * FROM b")
    assert(p2.contains("b AS") && r2.trim == "SELECT * FROM b")
    // quoted CTE name with a space
    val (p3, r3) = SqlLex.splitWithPrefix(
      "WITH \"c 1\" AS (SELECT 1) SELECT * FROM \"c 1\"")
    assert(p3.contains("\"c 1\"") && r3.trim.startsWith("SELECT"))
    // not a WITH chain
    assert(SqlLex.splitWithPrefix("SELECT 1") == ("", "SELECT 1"))
    // WITH RECURSIVE
    val (p4, _) = SqlLex.splitWithPrefix(
      "WITH RECURSIVE r AS (SELECT 1 UNION ALL SELECT 2) SELECT * FROM r")
    assert(p4.contains("RECURSIVE"))
    // a CTE literally NAMED recursive: `recursive as (` means the name
    // was recursive, not the keyword (r12 — was the nested-WITH fallback)
    val (p5, r5) = SqlLex.splitWithPrefix(
      "WITH recursive AS (SELECT 1 AS x) SELECT * FROM recursive")
    assert(p5.trim == "WITH recursive AS (SELECT 1 AS x)")
    assert(r5.trim == "SELECT * FROM recursive")
    // quoted form, and keyword+name both present still split
    val (p6, r6) = SqlLex.splitWithPrefix(
      "WITH \"recursive\" AS (SELECT 1) SELECT * FROM \"recursive\"")
    assert(p6.contains("\"recursive\"") && r6.trim.startsWith("SELECT"))
    val (p7, _) = SqlLex.splitWithPrefix(
      "WITH RECURSIVE recursive AS (SELECT 1 UNION ALL SELECT 2) SELECT 1")
    assert(p7.toLowerCase.contains("recursive recursive"))
    // name `recursive` WITH a column list (r13 — the dialect's quoting
    // skip loop used to overshoot the list and never quote the name)
    val (p8, r8) = SqlLex.splitWithPrefix(
      "WITH recursive (k) AS (SELECT 1) SELECT k FROM recursive")
    assert(p8.trim == "WITH recursive (k) AS (SELECT 1)")
    assert(r8.trim == "SELECT k FROM recursive")
  }

  test("tokenize survives traps: doubled quotes, operators; brackets stay LIST syntax") {
    val toks = SqlLex.tokenize("SELECT 'it''s', \"a\"\"b\", w[i], x||y, a<=b FROM t")
    assert(toks.count(_.kind == SqlLex.Str) == 1)
    assert(toks.count(_.kind == SqlLex.QIdent) == 1)
    assert(toks.exists(t => t.kind == SqlLex.Punct && t.lower == "||"))
    assert(toks.exists(t => t.kind == SqlLex.Punct && t.lower == "<="))
    // brackets are punctuation (duck list literals / indexing), never
    // identifiers — a bracket-ident rule would mangle [1,2,3] and w[i]
    val lst = SqlLex.tokenize("SELECT [1,2,3] AS l, names=['a','b'] FROM t")
    assert(lst.count(_.kind == SqlLex.QIdent) == 0)
    assert(lst.count(_.kind == SqlLex.Str) == 2)
    // a signed exponent belongs to its number; hex, identifiers and a
    // plain minus do not take the sign
    def lexed(s: String) = SqlLex.tokenize(s).map(t => s.substring(t.start, t.end))
    assert(lexed("1e-1 2.5E+3 1E-1") == Seq("1e-1", "2.5E+3", "1E-1"))
    assert(lexed("0x1e-1") == Seq("0x1e", "-", "1"))
    assert(lexed("x1e-1") == Seq("x1e", "-", "1"))
    assert(lexed("x-1") == Seq("x", "-", "1"))
    // multi-character operators are one token each; `>>>` is not `>>`
    for (op <- Seq("//", "**", "<<", ">>", ">>>"))
      assert(lexed(s"a${op}b") == Seq("a", op, "b"))
    assert(lexed("j->'k'") == Seq("j", "->", "'k'"))
    assert(lexed("j->>'k'") == Seq("j", "->>", "'k'"))
  }
}
