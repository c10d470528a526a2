package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The build brief's preference-(c) showcase: as-of join as a
  * first-class operator — custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan` — rather than the union+window composition in
  * [[graft.operators.AsOfJoin.asOf]] (which remains the (a)-tier
  * reference implementation; JoinExtSpec asserts the two agree).
  *
  * Why a whole-operator plan node earns its keep here: the
  * composition must union both sides into one row shape (null
  * padding + a side column + a payload struct), shuffle and sort the
  * UNION, and post-filter the right rows back out. The native
  * operator shuffles/sorts each side in its own (narrower) shape and
  * streams a single merge pass per partition with O(1) state — no
  * padding, no filter, and the planner knows the output's
  * partitioning (left's), so a downstream groupBy on the key reuses
  * the exchange instead of re-shuffling.
  *
  * Semantics (matching the composition and DuckDB `ASOF LEFT JOIN`):
  * for each left row, the LAST right row in (ts, arrival) order with
  * `right.ts <= left.ts` in the same key group; unmatched left rows
  * keep null payload; null keys/timestamps never match.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute) extends BinaryNode {

  // the merge compares keys/timestamps with an ordering built from
  // the LEFT type only — a mismatched right type (int vs long,
  // timestamp vs long) would otherwise surface as a ClassCastException
  // mid-execution; fail at plan construction instead (covers both the
  // DataFrame helper and the SQL rewrite, which both build this node)
  require(leftKey.dataType == rightKey.dataType,
    s"as-of join key types must match: left ${leftKey.name}: " +
      s"${leftKey.dataType} vs right ${rightKey.name}: ${rightKey.dataType}" +
      " — cast one side before joining")
  require(leftTs.dataType == rightTs.dataType,
    s"as-of join timestamp types must match: left ${leftTs.name}: " +
      s"${leftTs.dataType} vs right ${rightTs.name}: ${rightTs.dataType}" +
      " — cast one side before joining")

  /** Stock left-outer-join shape: `left.* ++ right.*` with the right
    * side nullable (no-match rows null-extend it, matched rows carry
    * the matched right row INCLUDING its key/ts). Keeping the right
    * key/ts in the output — rather than dropping them as
    * "duplicates" of the left's — is what lets the SQL rewrite be a
    * pure node swap with no alias shims: every downstream reference
    * (`SELECT e.ts`, an inner-asof IsNotNull filter) keeps resolving
    * to the same attribute ids a stock Join would expose. (An earlier
    * duplicate-alias design broke under `RemoveRedundantAliases`
    * once the rewrite moved to resolution time.)
    */
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfMergeJoinExec]]. Injected via
  * `GraftExtensions` (spark.sql.extensions).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Column pruning through [[AsOfJoinPlan]]. Catalyst's built-in
  * `ColumnPruning` only understands the stock operators, so a
  * custom binary node is a pruning barrier: `asOfMerge(wideL,
  * wideR).select("one_col")` would read every column of both scans.
  * This rule pushes the parent Project's references (plus each
  * side's key/ts, which the merge itself consumes) into child
  * Projects, from where the stock rules carry the pruning all the
  * way into the parquet scan's ReadSchema. Registered via
  * `GraftExtensions.injectOptimizerRule`. No-op at fixed point
  * (children already minimal), so the optimizer's idempotence check
  * is safe.
  */
object PruneAsOfJoinColumns
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, aj @ AsOfJoinPlan(l, r, lk, rk, lt, rt)) =>
      val needed = p.references
      val lNeeded = l.output.filter(a => needed.contains(a) ||
        a.exprId == lk.exprId || a.exprId == lt.exprId)
      val rNeeded = r.output.filter(a => needed.contains(a) ||
        a.exprId == rk.exprId || a.exprId == rt.exprId)
      if (lNeeded.size < l.output.size || rNeeded.size < r.output.size)
        p.copy(child = aj.copy(
          left = if (lNeeded.size < l.output.size) Project(lNeeded, l) else l,
          right = if (rNeeded.size < r.output.size) Project(rNeeded, r) else r))
      else p
  }
}

/** Predicate pushdown through [[AsOfJoinPlan]]. Like column pruning,
  * the custom node is a barrier to the stock `PushDownPredicates` —
  * `asOfMerge(facts, dims).filter(left-side predicate)` would
  * otherwise join the FULL left side and filter after. The as-of
  * join is 1:1 left-preserving (every left row produces exactly one
  * output row carrying its left columns unchanged), so any
  * deterministic conjunct referencing only left-side columns filters
  * the same rows on either side of the join — push it below, from
  * where the stock rules carry it into the scan (partition pruning,
  * parquet PushedFilters). Conjuncts touching the null-extended
  * right payload stay above (a no-match row must be filterable on
  * its nulls). No-op at fixed point: pushed conjuncts no longer
  * appear above the node.
  */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoinPlan) =>
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic &&
          p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        if (kept.isEmpty) pushed else Filter(kept.reduce(And), pushed)
      }
  }
}

/** SQL-surface marker for the as-of join: `l LEFT JOIN r ON
  * asof_on(l.key = r.key, l.ts, r.ts)`. The predicate itself is
  * never evaluated — [[RewriteSqlAsOfJoin]] replaces the whole Join
  * before any execution path could see it — so it is Unevaluable; if
  * a plan somehow retains one (e.g. `asof_on` used outside a join
  * condition), Spark fails loudly at planning rather than silently
  * mis-joining. (The `ASOF JOIN` parser syntax leaves
  * [[AsOfCondMarker]] instead, which the same rule lowers.)
  */
case class AsOfOnMarker(eq: Expression, leftTs: Expression,
    rightTs: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Expression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def children: Seq[Expression] = Seq(eq, leftTs, rightTs)
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AsOfOnMarker =
    copy(eq = newChildren(0), leftTs = newChildren(1),
      rightTs = newChildren(2))
}

/** Rewrites `Join(l, r, LeftOuter, asof_on(eq, lts, rts))` and the
  * `ASOF JOIN` sugar's `Join(l, r, LeftOuter, asof_cond(cond))`
  * ([[AsOfSyntax]]) into [[AsOfJoinPlan]] — the pure-SQL doorway to
  * the native operator. A pure node swap: the node's output is
  * attribute-for-attribute the stock left-outer join's (`l.* ++ r.*`,
  * right side nullable), so no reference above needs patching.
  * Injected by `GraftExtensions` as a resolution rule, so every later
  * analyzer and optimizer rule sees the final node.
  */
object RewriteSqlAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EqualTo, GreaterThanOrEqual, IsNotNull, LessThanOrEqual}
  import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}

  private type Pair = (Attribute, Attribute)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Inner is matched too: `ASOF JOIN` and a direct `INNER JOIN ...
    // ON asof_on(...)` get the as-of LEFT result plus an
    // IsNotNull(right key) filter, which IS the inner as-of
    // (unmatched rows carry an all-null right side, and null keys or
    // timestamps never match).
    case j @ Join(l, r, jt, Some(m @ (_: AsOfOnMarker | _: AsOfCondMarker)), _)
        if j.resolved && (jt == LeftOuter || jt == Inner) =>
      val ((lk, rk), (lts, rts)) = m match {
        case on: AsOfOnMarker => asofOn(j, on)
        case cond: AsOfCondMarker => asofCond(j, cond)
      }
      val asOf = AsOfJoinPlan(l, r, lk, rk, lts, rts)
      if (jt == Inner) Filter(IsNotNull(rk), asOf) else asOf
  }

  /** The side resolver: the (left, right) columns of a pair naming
    * one plain column from each side of `j`, and whether the pair was
    * written right-first.
    */
  private def sides(j: Join, a: Expression, b: Expression)
      : Option[(Pair, Boolean)] = (a, b) match {
    case (x: Attribute, y: Attribute)
        if j.left.outputSet.contains(x) && j.right.outputSet.contains(y) =>
      Some(((x, y), false))
    case (x: Attribute, y: Attribute)
        if j.left.outputSet.contains(y) && j.right.outputSet.contains(x) =>
      Some(((y, x), true))
    case _ => None
  }

  /** `asof_on(eq, lts, rts)`: the (key, ts) column pairs. */
  private def asofOn(j: Join, m: AsOfOnMarker): (Pair, Pair) = {
    def fromSides(a: Expression, b: Expression, what: String): Pair =
      sides(j, a, b).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"asof_on: $what must be one plain column from each side, got ($a, $b)"))
    val keys = m.eq match {
      case EqualTo(a, b) => fromSides(a, b, "the key equality")
      case other => throw new IllegalArgumentException(
        s"asof_on: first argument must be left.key = right.key, got $other")
    }
    (keys, fromSides(m.leftTs, m.rightTs, "the timestamps"))
  }

  /** `asof_cond(cond)`: the ON clause's key equality and its as-of
    * inequality, direction-checked — the merge exec implements
    * backward-looking `left.ts >= right.ts` only.
    */
  private def asofCond(j: Join, m: AsOfCondMarker): (Pair, Pair) = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"ASOF JOIN: $msg")
    val (ineqs, eqs) = splitConjunctivePredicates(m.cond).partition {
      case _: GreaterThanOrEqual | _: LessThanOrEqual => true
      case _ => false
    }
    if (ineqs.isEmpty) err(
      "the ON clause needs one as-of inequality (left.ts >= right.ts); " +
        "for a plain equi join drop the ASOF keyword")
    if (ineqs.size > 1) err(s"exactly one as-of inequality, got $ineqs")
    val ineq = ineqs.head.asInstanceOf[BinaryComparison]
    val ts = (ineq, sides(j, ineq.left, ineq.right)) match {
      case (_: GreaterThanOrEqual, Some((pair, false))) => pair
      case (_: LessThanOrEqual, Some((pair, true))) => pair
      case (_: GreaterThanOrEqual, Some(_)) => err(
        "forward-looking as-of (right.ts >= left.ts) is not supported; " +
          "the merge matches the last right row at or before left.ts")
      case (_: LessThanOrEqual, Some(_)) => err(
        "forward-looking as-of (left.ts <= right.ts) is not supported")
      case _ => err("the as-of inequality must compare one plain " +
        s"timestamp column from each side, got $ineq")
    }
    val keys = eqs match {
      case Seq() => err("the ON clause needs a key equality " +
        "(left.key = right.key) next to the as-of inequality")
      case Seq(EqualTo(a, b)) if sides(j, a, b).isDefined =>
        sides(j, a, b).get._1
      case other => err("exactly one single-column key equality is " +
        s"supported (pack composite keys into a struct), got $other")
    }
    (keys, ts)
  }
}

/** Sort-merge as-of join. Requires both children clustered by key and
  * sorted by (key, ts) — EnsureRequirements inserts the exchanges and
  * sorts — then merges each co-partition pair in one streaming pass:
  * the right cursor only ever advances, and the only retained state
  * is the latest matching payload (one projected row) per current
  * key. Memory is O(1) per partition regardless of group sizes — the
  * property the naive range-join + argmax formulation lacks.
  */
case class AsOfMergeJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) :: Nil

  // merge preserves the left side's row order and partitioning: a
  // downstream aggregate on the key reuses this exchange
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyOrd >= 0 && lTsOrd >= 0 && rKeyOrd >= 0 && rTsOrd >= 0,
      "as-of key/ts columns must come from the respective child")
    val keyDt = leftKey.dataType
    val tsDt = leftTs.dataType
    val rightSchema = right.output
    val leftSchema = left.output
    val outSchema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyCmp = TypeUtils.getInterpretedOrdering(keyDt)
      val tsCmp = TypeUtils.getInterpretedOrdering(tsDt)
      // bind against the NULLABLE view of the right side: no-match
      // rows are null-extended, and a non-nullable binding would
      // codegen away the null checks (nulls would read as zeros)
      val outProj = UnsafeProjection.create(outSchema,
        leftSchema ++ rightSchema.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightSchema.length)
      new Iterator[InternalRow] {
        // lookahead right row — an UNCOPIED reference into the child
        // iterator's reused buffer. Safe because the buffer only
        // mutates on rIter.next(), and the `if (rCur == null)` guard
        // means we never call next() while rCur is live. Only the
        // row that must OUTLIVE the lookahead (lastMatch) is copied,
        // so the merge pays one copy per retained match instead of
        // one per right row (most right rows are skipped: passed key
        // groups, null keys, future timestamps).
        private var rCur: InternalRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey: Any = _
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = if (l.isNullAt(lKeyOrd)) null else l.get(lKeyOrd, keyDt)
          val lTs = if (l.isNullAt(lTsOrd)) null else l.get(lTsOrd, tsDt)
          if (lKey != null && lTs != null) {
            var scan = true
            while (scan && (rCur != null || rIter.hasNext)) {
              if (rCur == null) rCur = rIter.next()
              val rKey =
                if (rCur.isNullAt(rKeyOrd)) null else rCur.get(rKeyOrd, keyDt)
              if (rKey == null) {
                rCur = null // null keys never match
              } else {
                val kc = keyCmp.compare(rKey, lKey)
                if (kc < 0) rCur = null // key group already passed
                else if (kc > 0) scan = false // right is ahead: stop
                else {
                  val rTs = if (rCur.isNullAt(rTsOrd)) null
                    else rCur.get(rTsOrd, tsDt)
                  if (rTs == null) rCur = null
                  else if (tsCmp.compare(rTs, lTs) <= 0) {
                    // newest-so-far match for this key — the ONE
                    // place a right row outlives the lookahead, so
                    // the ONE place that pays a copy
                    lastMatch = rCur.copy()
                    lastMatchKey = InternalRow.copyValue(rKey)
                    rCur = null
                  } else scan = false // future right row: keep for later
                }
              }
            }
          }
          val matched = lKey != null && lastMatchKey != null &&
            keyCmp.compare(lastMatchKey, lKey) == 0
          outProj(joined(l, if (matched) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinNative {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** DataFrame API for the native operator. Key and ts column names
    * must exist on both sides; the result is left.* plus the right's
    * remaining columns as nullable payload. Needs a session built
    * with `spark.sql.extensions=graft.GraftExtensions`, as every graft
    * SQL feature does: the extension supplies the planner strategy
    * and the pruning/pushdown rules for the node built here.
    */
  def asOfMerge(left: DataFrame, right: DataFrame,
      key: String, ts: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // self-join hygiene: if the right side shares attribute ids with
    // the left (both derived from the same scan), re-alias it so the
    // custom node never carries ambiguous references
    val rightClean =
      if (right.queryExecution.analyzed.outputSet
          .intersect(lPlan.outputSet).nonEmpty)
        right.toDF(right.columns: _*)
      else right
    val rPlan = rightClean.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column $n"))
    val rk = attr(rPlan, key, "right")
    val rts = attr(rPlan, ts, "right")
    val aj = AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, key, "left"), rk, attr(lPlan, ts, "left"), rts)
    // helper contract: left.* ++ right payload — project away the
    // right key/ts (the left side already carries both names)
    val keep = aj.output.filterNot(a =>
      a.exprId == rk.exprId || a.exprId == rts.exprId)
    ColumnBridge.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.Project(keep, aj))
  }
}
