package graft.plans

/** `QUALIFY` clause support (DuckDB/Snowflake/BigQuery's post-window
  * filter, absent from Spark SQL), as pure parser sugar on top of the
  * [[AsOfSyntax]] lexer — no analyzer involvement at all:
  *
  * {{{
  *   SELECT s FROM t QUALIFY <cond> [ORDER ...]
  * }}}
  * becomes
  * {{{
  *   SELECT * EXCEPT (__graft_q) FROM (
  *     SELECT s, (<cond>) AS __graft_q FROM t
  *   ) WHERE __graft_q [ORDER ...]
  * }}}
  *
  * The condition (window functions included) moves INTO the select
  * list of its own scope — where Spark happily evaluates windows —
  * and the outer query filters on the materialized boolean, then
  * drops it with star-EXCEPT. ORDER BY / LIMIT / set operators stay
  * OUTSIDE the wrap, so they run after the filter, exactly the
  * standard QUALIFY evaluation order (... → WINDOW → QUALIFY →
  * ORDER BY → LIMIT).
  *
  * Not supported (loud failures, not silent misreads):
  * `SELECT DISTINCT ... QUALIFY` (the added flag column would change
  * the distinct), and QUALIFY outside a SELECT with a FROM.
  */
object QualifySyntax {

  private[plans] val WrapTerm = Set("ORDER", "LIMIT", "OFFSET", "UNION",
    "EXCEPT", "INTERSECT", "MINUS", "FETCH", ";")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"QUALIFY syntax: $msg")

  def rewrite(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("QUALIFY"))
      return sql
    val toks = AsOfSyntax.lex(sql)
    import SqlEdits.Edit
    val edits = List.newBuilder[Edit]
    var k = 0
    while (k < toks.length) {
      val q = toks(k)
      if (q.up == "QUALIFY") {
        val d = q.depth
        // the enclosing SELECT: scan back at the same depth without
        // leaving the scope
        var i = k - 1
        var selIdx = -1
        while (selIdx < 0 && i >= 0) {
          val t = toks(i)
          if (t.depth < d) i = -1
          else {
            if (t.depth == d && t.up == "SELECT") selIdx = i else i -= 1
          }
        }
        if (selIdx < 0) fail("QUALIFY outside a SELECT")
        if (toks(selIdx + 1).up == "DISTINCT")
          fail("SELECT DISTINCT with QUALIFY is not supported " +
            "(the rewrite adds a column); QUALIFY first, DISTINCT above")
        var f = selIdx + 1
        var fromIdx = -1
        while (fromIdx < 0 && f < k) {
          if (toks(f).depth == d && toks(f).up == "FROM") fromIdx = f
          else f += 1
        }
        if (fromIdx < 0) fail("QUALIFY requires a FROM clause")
        // condition extent = wrap end: the next clause of this select
        var e = k + 1
        var end = sql.length
        var stop = false
        while (!stop && e < toks.length) {
          val t = toks(e)
          if (t.up == ")" && t.depth < d) { end = t.start; stop = true }
          else if (t.depth == d && WrapTerm(t.up)) { end = t.start; stop = true }
          else e += 1
        }
        val cond = sql.substring(q.end, end).trim
        if (cond.isEmpty) fail("empty QUALIFY condition")
        edits += Edit(toks(selIdx).start, 0,
          "SELECT * EXCEPT (__graft_q) FROM (")
        edits += Edit(toks(fromIdx).start, 0, s", ($cond) AS __graft_q ")
        edits += Edit(q.start, end - q.start, "")
        edits += Edit(end, 0, ") WHERE __graft_q ")
      }
      k += 1
    }
    SqlEdits(sql, edits.result())
  }
}

/** `SELECT DISTINCT ON (keys) ...` (Postgres/DuckDB): one row per
  * distinct key — the FIRST under the query's ORDER BY. This is the
  * reference's latest-per-key operator as grammar, and it lowers by
  * pure text composition: `DISTINCT ON (k)` is removed and a
  * `QUALIFY row_number() OVER (PARTITION BY k ORDER BY <the query's
  * ORDER BY list>) = 1` is inserted, which [[QualifySyntax]] (next
  * in the parser's sugar chain) then rewrites into the wrapped
  * filter.
  *
  * Determinism is required, not optional: a DISTINCT ON without an
  * ORDER BY (where engines pick an arbitrary row) fails loudly, and
  * the ORDER BY should be total. The outer ORDER BY must reference
  * selected columns only (the wrap hides the source relation's
  * other columns — same constraint QUALIFY itself has).
  */
object DistinctOnSyntax {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"DISTINCT ON syntax: $msg")

  def rewrite(sql: String): String = {
    val up = sql.toUpperCase(java.util.Locale.ROOT)
    if (!up.contains("DISTINCT") || !up.contains("ON")) return sql
    val toks = AsOfSyntax.lex(sql)
    import SqlEdits.Edit
    val edits = List.newBuilder[Edit]
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      if (t.up == "DISTINCT" && k > 0 && toks(k - 1).up == "SELECT" &&
          k + 1 < toks.length && toks(k + 1).up == "ON") {
        val d = t.depth
        val on = toks(k + 1)
        // the key list: from the '(' after ON to the first ')' that
        // returns to this depth (keys themselves sit at depth d+1)
        var p = on.end
        while (p < sql.length && Character.isWhitespace(sql.charAt(p))) p += 1
        if (p >= sql.length || sql.charAt(p) != '(')
          fail("expected ( after DISTINCT ON")
        var c = k + 2
        var closeIdx = -1
        while (closeIdx < 0 && c < toks.length) {
          if (toks(c).up == ")" && toks(c).depth == d) closeIdx = c
          else c += 1
        }
        if (closeIdx < 0) fail("unclosed DISTINCT ON key list")
        val keys = sql.substring(p + 1, toks(closeIdx).start).trim
        if (keys.isEmpty) fail("empty key list")
        // this select's ORDER BY (required) and any prior QUALIFY
        var e = closeIdx + 1
        var orderIdx = -1
        var stop = false
        while (!stop && e < toks.length) {
          val u = toks(e)
          if (u.up == ")" && u.depth < d) stop = true
          else if (u.depth == d && u.up == "QUALIFY")
            fail("cannot combine with an explicit QUALIFY in the " +
              "same SELECT; fold the key filter into the QUALIFY")
          else if (u.depth == d && u.up == "ORDER") { orderIdx = e; stop = true }
          else if (u.depth == d && QualifySyntax.WrapTerm(u.up)) stop = true
          else e += 1
        }
        if (orderIdx < 0) fail("requires an ORDER BY (the pick per key " +
          "is the FIRST row under it; without one the row is arbitrary)")
        // ORDER BY list extent (stays in place; also reused in OVER)
        var o = orderIdx + 1
        if (o < toks.length && toks(o).up == "BY") o += 1
        val listStart = if (o < toks.length) toks(o).start
          else fail("dangling ORDER BY")
        var end = sql.length
        var stop2 = false
        while (!stop2 && o < toks.length) {
          val u = toks(o)
          if (u.up == ")" && u.depth < d) { end = u.start; stop2 = true }
          else if (u.depth == d && u.up != "ORDER" && u.up != "BY" &&
              QualifySyntax.WrapTerm(u.up)) { end = u.start; stop2 = true }
          else o += 1
        }
        val orderList = sql.substring(listStart, end).trim
        edits += Edit(t.start, toks(closeIdx).end - t.start, "")
        edits += Edit(toks(orderIdx).start, 0,
          s"QUALIFY row_number() OVER (PARTITION BY $keys " +
            s"ORDER BY $orderList) = 1 ")
      }
      k += 1
    }
    SqlEdits(sql, edits.result())
  }
}
