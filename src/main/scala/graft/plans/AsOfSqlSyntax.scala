package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, DataType}

/** First-class `ASOF JOIN` SQL syntax (the last
  * `SparkSessionExtensions` hook this library exercises:
  * `injectParser`), accepting the same text DuckDB parses natively:
  *
  * {{{
  *   FROM p ASOF JOIN e      ON p.key = e.key AND p.ts >= e.ts
  *   FROM p ASOF LEFT JOIN e ON p.key = e.key AND p.ts >= e.ts
  * }}}
  *
  * The heavy lifting stays in the delegate parser: [[AsOfSyntax]] is
  * a quote/comment/paren-aware lexer that (1) drops the `ASOF`
  * keyword and (2) wraps the join's ON condition in the marker
  * function `asof_cond(...)`; Spark's own ANTLR grammar then parses
  * the result as a stock join. [[RewriteSqlAsOfJoin]] fires at
  * resolution, splits the marked condition into its key equality and
  * its as-of inequality — direction-checked: only backward-looking
  * `left.ts >= right.ts` (or the mirrored `right.ts <= left.ts`)
  * matches the merge exec's semantics — and lowers it straight to
  * [[AsOfJoinPlan]], the same rule and side resolver as `asof_on`.
  * `ASOF JOIN` (inner) adds `IsNotNull(right key)` above the
  * left-outer merge: unmatched rows null the whole right side, and
  * null keys or timestamps never match, so the null-extended rows are
  * exactly the unmatched ones.
  *
  * Like DuckDB, a relation actually NAMED `asof` in join position is
  * ambiguous; the lexer leaves `ASOF` alone when it directly follows
  * `FROM`, `,`, `AS` or an opening paren (where it can only be a
  * relation name or alias).
  */
object AsOfSyntax {

  private[plans] final case class Tok(up: String, start: Int, end: Int,
      depth: Int)

  /** Tokens that always end an ON condition at the same paren depth. */
  private val HardTerm = Set("JOIN", "WHERE", "GROUP", "HAVING", "WINDOW",
    "QUALIFY", "ORDER", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT",
    "MINUS", "FETCH", "SORT", "CLUSTER", "DISTRIBUTE", "PIVOT", "UNPIVOT",
    ",", ";")

  /** Tokens that end it only when introducing a join (`LEFT JOIN`,
    * `CROSS LATERAL`, ...) — `left(s, 2)` the FUNCTION must not.
    */
  private val JoinPrefix = Set("LEFT", "RIGHT", "FULL", "INNER", "CROSS",
    "NATURAL", "ASOF", "ANTI", "SEMI", "LATERAL")

  private def terminates(toks: Vector[Tok], i: Int, depth: Int): Boolean = {
    val t = toks(i)
    if (t.depth != depth) false
    else if (HardTerm(t.up)) true
    else if (JoinPrefix(t.up)) {
      val nxt = if (i + 1 < toks.length) toks(i + 1).up else ""
      // any join-prefix chain terminates (NATURAL INNER JOIN, CROSS
      // LATERAL, ...), as does LATERAL VIEW — a lone prefix word
      // followed by '(' is a function call (left(s, 2)) and must not
      nxt == "JOIN" || nxt == "OUTER" || nxt == "SEMI" || nxt == "ANTI" ||
        nxt == "VIEW" || JoinPrefix(nxt)
    } else false
  }

  /** Word / paren / comma tokens with positions and paren depth;
    * strings ('' and \ escapes), quoted identifiers, `--` and
    * (nested) bracketed comments are skipped.
    */
  private[plans] def lex(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    var depth = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        i += 2
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        var d = 1
        i += 2
        while (i < n && d > 0) {
          if (i + 1 < n && sql.charAt(i) == '/' && sql.charAt(i + 1) == '*') {
            d += 1; i += 2
          } else if (i + 1 < n && sql.charAt(i) == '*' &&
              sql.charAt(i + 1) == '/') {
            d -= 1; i += 2
          } else i += 1
        }
      } else if (c == '\'' || c == '"' || c == '`') {
        i += 1
        var open = true
        while (open && i < n) {
          val x = sql.charAt(i)
          if (x == '\\' && c != '`' && i + 1 < n) i += 2
          else if (x == c && i + 1 < n && sql.charAt(i + 1) == c) i += 2
          else if (x == c) { i += 1; open = false }
          else i += 1
        }
      } else if (c == '(') {
        depth += 1; i += 1
      } else if (c == ')') {
        depth -= 1
        out += Tok(")", i, i + 1, depth) // depth AFTER closing
        i += 1
      } else if (c == ',' || c == ';') {
        out += Tok(c.toString, i, i + 1, depth)
        i += 1
      } else if (Character.isLetter(c) || c == '_') {
        val s = i
        while (i < n && (Character.isLetterOrDigit(sql.charAt(i)) ||
            sql.charAt(i) == '_')) i += 1
        out += Tok(sql.substring(s, i).toUpperCase(java.util.Locale.ROOT),
          s, i, depth)
      } else i += 1
    }
    out.result()
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ASOF JOIN syntax: $msg")

  /** Rewrite every `ASOF [LEFT] JOIN ... ON cond` into
    * `[LEFT] JOIN ... ON asof_cond(cond)`; text without a relevant
    * `ASOF` token is returned untouched (zero overhead for the
    * overwhelmingly common case).
    */
  def rewrite(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("ASOF")) return sql
    val toks = lex(sql)
    import SqlEdits.Edit
    val edits = List.newBuilder[Edit]
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      val nxt = if (k + 1 < toks.length) toks(k + 1).up else ""
      val prev = if (k > 0) toks(k - 1).up else "FROM"
      // "directly follows (": the lexer emits no '(' token, so the
      // open paren shows up as a DEPTH STEP against the previous
      // token — comparing prev's text to "(" was dead code and let
      // a relation named asof in subquery-join position be mangled
      val afterOpenParen = k > 0 && t.depth > toks(k - 1).depth
      val isAsofJoin = t.up == "ASOF" &&
        (nxt == "JOIN" ||
          (nxt == "LEFT" && k + 2 < toks.length && toks(k + 2).up == "JOIN"))
      // relation-name positions (FROM x / , x / ( x / AS x): ASOF
      // there can only be a table/alias named asof — leave it alone
      if (isAsofJoin && prev != "FROM" && prev != "," && prev != "AS" &&
          !afterOpenParen) {
        // locate this join's ON at the same depth
        var m = k + (if (nxt == "LEFT") 3 else 2)
        var onIdx = -1
        while (onIdx < 0 && m < toks.length) {
          val u = toks(m)
          if (u.up == ")" && u.depth < t.depth) fail("missing ON clause")
          else if (u.depth == t.depth && u.up == "USING")
            fail("USING is not supported; spell the condition with ON")
          else if (u.depth == t.depth && u.up == "ON") onIdx = m
          else if (terminates(toks, m, t.depth))
            fail("requires an immediate ON clause")
          else m += 1
        }
        if (onIdx < 0) fail("missing ON clause")
        val on = toks(onIdx)
        var e = onIdx + 1
        var condEnd = sql.length
        var stop = false
        while (!stop && e < toks.length) {
          val u = toks(e)
          if (u.up == ")" && u.depth < on.depth) { condEnd = u.start; stop = true }
          else if (terminates(toks, e, on.depth)) { condEnd = u.start; stop = true }
          else e += 1
        }
        edits += Edit(t.start, t.end - t.start, "")
        edits += Edit(on.end, 0, " asof_cond(")
        edits += Edit(condEnd, 0, ") ")
      }
      k += 1
    }
    SqlEdits(sql, edits.result())
  }
}

/** Bundles the whole parsed ON condition of an `ASOF JOIN` until
  * resolution can tell which side each column belongs to. Unevaluable
  * for the same reason as [[AsOfOnMarker]]: if a plan somehow retains
  * one, planning fails loudly instead of silently mis-joining.
  */
case class AsOfCondMarker(cond: Expression)
    extends Expression with Unevaluable {
  override def children: Seq[Expression] = Seq(cond)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AsOfCondMarker = copy(cond = c.head)
}

/** Delegating parser: the sugar passes ([[AsOfSyntax]],
  * [[StarModifierSyntax]], [[DistinctOnSyntax]], [[QualifySyntax]])
  * on plan-level entry points, everything else passes straight
  * through. Injected via `GraftExtensions` (`injectParser`).
  */
class GraftSqlParser(
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  private def sugar(sqlText: String): String =
    QualifySyntax.rewrite(DistinctOnSyntax.rewrite(
      StarModifierSyntax.rewrite(AsOfSyntax.rewrite(sqlText))))

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(sugar(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sugar(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)

  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}
