package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{CosineSimExpr, MinHashSigExpr, SimHash64Expr, ShinglesExpr}

/** Session-extension entry point, and the only way graft registers
  * functions, rules and strategies in a session:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * — the idiomatic deployment path for a Spark library (no code
  * changes in the host application, works from spark-sql / JDBC /
  * notebooks). Every session the repo builds sets it
  * ([[graft.LocalSession]], `graft.Serve`); the DataFrame helpers
  * that build graft plan nodes (`AsOfJoinNative.asOfMerge`) need it
  * too, and register nothing themselves.
  *
  * Functions (all native expressions, no UDFs):
  *   - `cosine_sim(a, b)`      — fused double-precision cosine of two
  *     numeric arrays; null when either side or an element is null,
  *     the lengths differ, or either norm is zero
  *   - `simhash64(arr)`        — portable 60-bit SimHash
  *   - `minhash_sig(arr, k)`   — portable MinHash signature
  *   - `word_shingles(s, n)`   — word n-gram shingles
  *   - `asof_on(lk = rk, lts, rts)` — as-of join marker (join ON only)
  *   - `asof_cond`, `graft_replace`, `graft_rename` — parser-internal
  *     markers for `ASOF JOIN` and star REPLACE / RENAME
  *
  * Planner strategy: [[graft.plans.AsOfJoinStrategy]] — plans the
  * whole-operator [[graft.plans.AsOfJoinPlan]] to its sort-merge exec.
  *
  * Optimizer rules: [[graft.plans.PruneAsOfJoinColumns]],
  * [[graft.plans.PushFilterThroughAsOfJoin]] and the conf-gated
  * [[graft.plans.AutoBloomJoin]].
  *
  * Resolution rules: [[graft.plans.RewriteSqlAsOfJoin]] (`asof_on`
  * and `ASOF JOIN`, both lowered to the as-of node in one step) and
  * [[graft.plans.RewriteStarModifiers]] (star REPLACE / RENAME).
  *
  * Parser: [[graft.plans.GraftSqlParser]], the text sugar for
  * `ASOF JOIN`, star EXCLUDE / REPLACE / RENAME, `DISTINCT ON` and
  * `QUALIFY`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
      usage, "", "", "", "", "", "", "built-in")

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - double cosine similarity"),
      (es: Seq[Expression]) => CosineSimExpr(es.head, es(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(arr) - portable 60-bit simhash"),
      (es: Seq[Expression]) => SimHash64Expr(es.head)))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(arr, k) - portable minhash"),
      (es: Seq[Expression]) => MinHashSigExpr(es.head, intArg(es(1)))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(s, n) - word n-grams"),
      (es: Seq[Expression]) => ShinglesExpr(es.head, intArg(es(1)))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // column pruning + left-side predicate pushdown through the
    // custom as-of node (a barrier to the stock ColumnPruning /
    // PushDownPredicates rules otherwise)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsOfJoinColumns)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // conf-gated automatic bloom-filter join pruning (off by default;
    // spark.graft.autoBloom.enabled=true)
    ext.injectOptimizerRule(_ => graft.plans.AutoBloomJoin)
    // SQL surface for the native as-of join:
    //   l LEFT JOIN r ON asof_on(l.key = r.key, l.ts, r.ts)
    ext.injectFunction((FunctionIdentifier("asof_on"),
      info("asof_on",
        "asof_on(lk = rk, lts, rts) - as-of join marker (join ON only)"),
      (es: Seq[Expression]) => graft.plans.AsOfOnMarker(es.head, es(1), es(2))))
    // lowers asof_on and asof_cond (below) to the as-of node
    ext.injectResolutionRule(_ => graft.plans.RewriteSqlAsOfJoin)
    // first-class `ASOF [LEFT] JOIN ... ON ...` syntax: a delegating
    // parser wraps the ON condition in asof_cond(...), which resolves
    // through this marker function
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectFunction((FunctionIdentifier("asof_cond"),
      info("asof_cond",
        "asof_cond(cond) - ASOF JOIN condition marker (parser-internal)"),
      (es: Seq[Expression]) => graft.plans.AsOfCondMarker(es.head)))
    // `SELECT * REPLACE (expr AS col)` / `SELECT * RENAME (col AS new)`
    // — star expansion with in-place substitution or rename (parser
    // sugar + marker + one resolution swap)
    ext.injectFunction((FunctionIdentifier("graft_replace"),
      info("graft_replace",
        "graft_replace(e) - star-REPLACE item marker (parser-internal)"),
      (es: Seq[Expression]) =>
        graft.plans.StarModifierMarker(es.head, rename = false)))
    ext.injectFunction((FunctionIdentifier("graft_rename"),
      info("graft_rename",
        "graft_rename(col) - star-RENAME item marker (parser-internal)"),
      (es: Seq[Expression]) =>
        graft.plans.StarModifierMarker(es.head, rename = true)))
    ext.injectResolutionRule(_ => graft.plans.RewriteStarModifiers)
  }
}
