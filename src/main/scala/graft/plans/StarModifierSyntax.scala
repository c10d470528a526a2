package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, Expression, UnaryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** DuckDB/Snowflake star modifiers, parsed in one text pass:
  *
  *  - `SELECT * EXCLUDE (cols)` — DuckDB's spelling of Spark's
  *    `* EXCEPT (cols)`: a pure token rename (qualified `t.*` too).
  *  - `SELECT * REPLACE (expr AS col, ...)` — expand the star but
  *    substitute `expr` for column `col` IN PLACE (same position,
  *    same output name).
  *  - `SELECT * RENAME (col AS newname, ...)` — expand the star but
  *    give `col` the name `newname` at its position, keeping the value.
  *
  * A text rewrite of REPLACE/RENAME to `* EXCEPT (col), ... AS col`
  * would move the column to the end, so those two take two stages:
  *
  *  1. parse sugar ([[rewrite]]): the list leaves the star as trailing
  *     marker items — `*, graft_replace(expr) AS __graft_r_col` (a name
  *     that cannot collide; the expr resolves against the child scope,
  *     exactly DuckDB's REPLACE scoping) or `*, graft_rename(col) AS
  *     newname` (the REAL new name, so `ORDER BY newname` and outer
  *     selects resolve during analysis, before the rule runs);
  *  2. one resolution rule ([[RewriteStarModifiers]]) swaps the
  *     star-expanded attribute for a fresh alias in place and drops
  *     the trailing marker.
  *
  * A modifier applies only at a star-expansion site: the `*` follows
  * SELECT, DISTINCT, ALL, a comma, `(` or a qualifying `.` — not the
  * multiplication operator, so `price * exclude` with `exclude` an
  * ordinary column (or a `replace(...)` call) survives untouched.
  *
  * Loud failures: qualified-star REPLACE/RENAME (`t.* REPLACE`),
  * REPLACE/RENAME on a call-argument star (`struct(* REPLACE (...))`;
  * EXCLUDE there is Spark's valid `struct(* EXCEPT (a))`), a modifier
  * list followed by another modifier (`* EXCLUDE (a) REPLACE (...)`),
  * an item without `AS`, and a target column that does not exist in
  * the star expansion.
  */
object StarModifierSyntax {

  private[plans] val Prefix = "__graft_r_"
  private val Modifiers = Set("EXCLUDE", "REPLACE", "RENAME")
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"

  private def fail(kind: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"star-$kind syntax: $msg")

  def rewrite(sql: String): String = {
    val up = sql.toUpperCase(java.util.Locale.ROOT)
    if (!Modifiers.exists(up.contains)) return sql
    val toks = AsOfSyntax.lex(sql)
    def prevNonWs(p0: Int): Int = {
      var p = p0
      while (p >= 0 && Character.isWhitespace(sql.charAt(p))) p -= 1
      p
    }
    // is the `*` at starPos a star expansion? None = no (not a `*`,
    // or multiplication); else the character before it: '.' for a
    // qualified `t.*`, '(' for a call argument, ' ' for a select-list
    // star (after SELECT, DISTINCT, ALL or a comma)
    def starSite(starPos: Int): Option[Char] =
      if (starPos < 0 || sql.charAt(starPos) != '*') None
      else {
        val q = prevNonWs(starPos - 1)
        if (q < 0) Some(' ')
        else sql.charAt(q) match {
          case c @ ('.' | '(') => Some(c)
          case ',' => Some(' ')
          case c if Character.isJavaIdentifierPart(c) =>
            var w = q
            while (w >= 0 && Character.isJavaIdentifierPart(sql.charAt(w)))
              w -= 1
            val word = sql.substring(w + 1, q + 1)
              .toUpperCase(java.util.Locale.ROOT)
            if (word == "SELECT" || word == "DISTINCT" || word == "ALL")
              Some(' ')
            else None
          case _ => None
        }
      }
    // the parenthesized list after the modifier at toks(ti): where its
    // `(` is and the `)` token closing it (the first `)` back at the
    // keyword's depth; the lexer emits `)` with the depth AFTER
    // closing), or None when no `(` follows
    def list(ti: Int): Option[(Int, AsOfSyntax.Tok)] = {
      val t = toks(ti)
      var openPos = t.end
      while (openPos < sql.length &&
        Character.isWhitespace(sql.charAt(openPos))) openPos += 1
      if (openPos >= sql.length || sql.charAt(openPos) != '(') None
      else Some(openPos -> toks.drop(ti + 1)
        .find(x => x.up == ")" && x.depth == t.depth)
        .getOrElse(fail(t.up, s"unclosed ${t.up} list")))
    }
    // `(a AS b, ...)` after the modifier at toks(ti) → (text before
    // AS, text after AS) per item, split on commas at the list's own
    // depth; plus the list's end
    def items(ti: Int, usage: String): (Seq[(String, String)], Int) = {
      val t = toks(ti)
      val kind = t.up
      val (openPos, closeTok) = list(ti).getOrElse(
        fail(kind, s"$kind must be followed by a parenthesized list"))
      val inner = toks.filter(x => x.start > openPos &&
        x.end <= closeTok.start && x.depth == t.depth + 1)
      val cuts = inner.filter(_.up == ",")
      val bounds = ((openPos + 1) +: cuts.map(_.end))
        .zip(cuts.map(_.start) :+ closeTok.start)
      val pairs = bounds.map { case (s0, e0) =>
        val as = inner.filter(x => x.up == "AS" && x.start >= s0 &&
          x.end <= e0).lastOption.getOrElse(fail(kind,
            s"$kind item needs '$usage': " + sql.substring(s0, e0).trim))
        (sql.substring(s0, as.start).trim, sql.substring(as.end, e0).trim)
      }
      (pairs, closeTok.end)
    }
    import SqlEdits.Edit
    val edits = List.newBuilder[Edit]
    toks.indices.filter(ti => Modifiers(toks(ti).up)).foreach { ti =>
      val t = toks(ti)
      val starPos = prevNonWs(t.start - 1)
      starSite(starPos).foreach { site =>
        // one modifier per star: a second one after the list would
        // reach Spark's parser as DuckDB-only grammar
        list(ti).foreach { case (_, close) =>
          if (toks.find(_.start >= close.end).exists(x => Modifiers(x.up)))
            fail(t.up, "chained star modifiers are not supported")
        }
        if (t.up == "EXCLUDE")
          edits += Edit(t.start, t.end - t.start, "EXCEPT")
        else {
          if (site == '.') fail(t.up,
            s"qualified-star ${t.up} (t.* ${t.up}) is not supported")
          // the markers are consumed only in a select list
          if (site == '(') fail(t.up,
            s"${t.up} on a star inside a function call " +
              s"(f(* ${t.up} ...)) is not supported")
          val replace = t.up == "REPLACE"
          val (pairs, end) =
            items(ti, if (replace) "expr AS col" else "col AS newname")
          val markers = pairs.map { case (l, r) =>
            if (replace) {
              if (l.isEmpty || r.isEmpty || !r.matches(Ident)) fail(t.up,
                s"REPLACE target must be a plain identifier, got '$r'")
              s", graft_replace($l) AS $Prefix$r"
            } else {
              if (!l.matches(Ident) || !r.matches(Ident)) fail(t.up,
                s"RENAME sides must be plain identifiers, got '$l AS $r'")
              s", graft_rename($l) AS $r"
            }
          }
          // drop `REPLACE|RENAME ( ... )`, append markers after the star
          edits += Edit(t.start, end - t.start, "")
          edits += Edit(starPos + 1, 0, markers.mkString)
        }
      }
    }
    SqlEdits(sql, edits.result())
  }
}

/** Marker carrying a REPLACE (`rename = false`) or RENAME item
  * through analysis. [[RewriteStarModifiers]] consumes it in a
  * select-list Project; the rewrite rejects a call-argument star, and
  * a marker left anywhere else (a hand-written `graft_replace(...)`)
  * is Unevaluable, so it fails the query instead of returning an
  * extra field.
  */
case class StarModifierMarker(child: Expression, rename: Boolean)
    extends UnaryExpression with Unevaluable {
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def withNewChildInternal(c: Expression)
      : StarModifierMarker = copy(child = c)
}

/** Stage 2 of star-REPLACE and star-RENAME (see [[StarModifierSyntax]]).
  *
  * Each swapped column gets a FRESH exprId (reusing the replaced
  * attribute's id would make the projection item self-referential —
  * `a#1 * 2 AS a#1` — which the optimizer rightly collapses as a
  * no-op), so every reference to the old attribute ABOVE the Project
  * (ORDER BY, outer selects) is remapped to the new attribute during
  * one bottom-up walk. That remap also propagates a replaced column's
  * possibly-NEW data type to its consumers.
  *
  * Divergence, documented: engines with native RENAME reject
  * references to the OLD name above the select; here they still
  * resolve (they bound during analysis, before the rename) and are
  * remapped to the renamed column — a lenient superset, so any query
  * valid on the native grammar behaves identically.
  */
object RewriteStarModifiers extends Rule[LogicalPlan] {
  import StarModifierSyntax.Prefix

  private type Remap = Map[ExprId, Attribute]

  private def isReplace(e: Expression): Boolean = e match {
    case Alias(StarModifierMarker(_, false), n) => n.startsWith(Prefix)
    case _ => false
  }
  private def isRename(e: Expression): Boolean = e match {
    case Alias(StarModifierMarker(_, true), _) => true
    case _ => false
  }
  private def hasMarker(p: Project): Boolean =
    p.projectList.exists(e => isReplace(e) || isRename(e))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val any = plan.exists {
      case p: Project => hasMarker(p) && p.resolved
      case _ => false
    }
    if (!any) plan else rewriteUp(plan)._1
  }

  /** Bottom-up: rewrite marker Projects, carry oldId→newAttr maps to
    * every ancestor so their references re-bind.
    */
  private def rewriteUp(p: LogicalPlan): (LogicalPlan, Remap) = {
    val done = p.children.map(rewriteUp)
    val remap = done.flatMap(_._2).toMap
    var node =
      if (p.children.isEmpty) p else p.withNewChildren(done.map(_._1))
    if (remap.nonEmpty)
      node = node.transformExpressions {
        case a: AttributeReference if remap.contains(a.exprId) =>
          remap(a.exprId)
      }
    node match {
      case proj: Project if proj.resolved && hasMarker(proj) =>
        // each swap is a no-op on a list without its markers
        val (replaced, r1) = replace(proj)
        val (renamed, r2) = rename(replaced)
        (renamed, remap ++ r1 ++ r2)
      case other => (other, remap)
    }
  }

  private def replace(proj: Project): (Project, Remap) = {
    val markers = proj.projectList.collect {
      case Alias(StarModifierMarker(e, false), n) if n.startsWith(Prefix) =>
        n.stripPrefix(Prefix) -> e
    }
    val used = scala.collection.mutable.Set.empty[String]
    val added = scala.collection.mutable.Map.empty[ExprId, Attribute]
    val newList = proj.projectList.flatMap {
      case m if isReplace(m) => None
      case attr: Attribute
          if markers.exists(m => conf.resolver(m._1, attr.name)) =>
        val (name, e) = markers.find(m => conf.resolver(m._1, attr.name)).get
        if (used.contains(name))
          throw new IllegalArgumentException(
            s"star-REPLACE: ambiguous target column '$name' " +
              "(matches more than one star-expanded column)")
        used += name
        val fresh = Alias(e, attr.name)()
        added += attr.exprId -> fresh.toAttribute
        Some(fresh)
      case other => Some(other)
    }
    markers.collect { case (n, _) if !used.contains(n) => n } match {
      case Seq() => ()
      case missing => throw new IllegalArgumentException(
        s"star-REPLACE: no such column(s) in the star expansion: " +
          missing.mkString(", "))
    }
    (proj.copy(projectList = newList), added.toMap)
  }

  private def rename(proj: Project): (Project, Remap) = {
    // markers: new name + the resolved source attribute + the marker
    // item's own output id (bound by new-name references)
    val markers = proj.projectList.collect {
      case al @ Alias(StarModifierMarker(src: AttributeReference, true), n) =>
        (n, src.exprId, al.exprId)
      case Alias(StarModifierMarker(other, true), n) =>
        throw new IllegalArgumentException(
          s"star-RENAME: '$n' must rename a plain column, got: $other")
    }
    // "renamed twice" is a property of the RENAME list (two items
    // targeting one source column), not of the projectList:
    // `SELECT * RENAME (a AS x), a` re-references the renamed column —
    // the explicit `a` shares the star-expanded attribute's exprId —
    // and per the lenient-superset contract it passes through
    // untouched (still named `a`, same value); only the FIRST
    // (star-expanded) occurrence is re-aliased.
    markers.groupBy(_._2).collect {
      case (_, ms) if ms.size > 1 => ms.map(_._1)
    }.headOption.foreach { names =>
      throw new IllegalArgumentException(
        "star-RENAME: column renamed twice: " +
          names.map(n => s"'$n'").mkString(", "))
    }
    val used = scala.collection.mutable.Set.empty[ExprId]
    val added = scala.collection.mutable.Map.empty[ExprId, Attribute]
    val srcRemap = scala.collection.mutable.Map.empty[ExprId, Attribute]
    val newList = proj.projectList.flatMap {
      case m if isRename(m) => None
      case attr: Attribute
          if markers.exists(_._2 == attr.exprId) && !used.contains(attr.exprId) =>
        val (newName, srcId, markerId) = markers.find(_._2 == attr.exprId).get
        used += srcId
        val fresh = Alias(attr, newName)()
        srcRemap += srcId -> fresh.toAttribute
        added += markerId -> fresh.toAttribute
        Some(fresh)
      case other => Some(other)
    }
    // old-id → renamed-attribute redirection exists for OUTER
    // references whose column was consumed by the rename — but when
    // the explicit re-reference keeps the source attribute in the
    // output (`SELECT * RENAME (a AS x), a`), that id is still a live
    // column and redirecting it would silently rename the outer
    // query's `a` to `x`. Only ids that vanished from the output get
    // remapped.
    val outIds = newList.collect { case attr: Attribute => attr.exprId }.toSet
    srcRemap.foreach { case (srcId, at) =>
      if (!outIds.contains(srcId)) added += srcId -> at
    }
    markers.collect { case (n, id, _) if !used.contains(id) => n } match {
      case Seq() => ()
      case missing => throw new IllegalArgumentException(
        "star-RENAME: no such column(s) in the star expansion: " +
          missing.mkString(", "))
    }
    (proj.copy(projectList = newList), added.toMap)
  }
}
