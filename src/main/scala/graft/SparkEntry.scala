package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 appears as a named
  * entry in [[queries]]; entries with SQL-expressible semantics also
  * carry equivalent DuckDB SQL in [[oracleSql]] (the driver
  * hash-compares both at sf0.01). Non-SQL-expressible operators
  * (streaming state, approx sketches) are verified by ScalaTest
  * instead and appear rows-only here.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole poll dataflow: retention + latest-per-key +
    * CoT transform (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.defs ++ PipelineQueries.defs ++
      FunctionQueries.defs ++ TextQueries.defs ++ VectorQueries.defs ++
      StreamQueries.defs ++ SourceQueries.defs ++ JoinExtQueries.defs ++
      ClusterQueries.defs ++ GeoQueries.defs ++ QualityQueries.defs ++
      AnalyticsQueries.defs ++ StatsQueries.defs ++
      SequenceQueries.defs ++ OpsQueries.defs ++ GraphQueries.defs

  /** The query names a comma-separated filter selects (Verify's
    * third argument, Bench's SPARK_GRAFT_ONLY, PlanDump's name list):
    * in the given order, each once, blanks ignored. Fails on a name
    * `known` lacks, listing every unknown name, and on a filter that
    * names nothing — a typo must not run part of the corpus and
    * report it as the whole.
    */
  def selectNames(csv: String, known: collection.Set[String]): Seq[String] = {
    val names = csv.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no query names in filter '$csv'")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ PipelineQueries.oracles ++
      FunctionQueries.oracles ++ TextQueries.oracles ++
      VectorQueries.oracles ++ StreamQueries.oracles ++
      SourceQueries.oracles ++ JoinExtQueries.oracles ++
      ClusterQueries.oracles ++ GeoQueries.oracles ++
      QualityQueries.oracles ++ AnalyticsQueries.oracles ++
      StatsQueries.oracles ++ SequenceQueries.oracles ++
      OpsQueries.oracles ++ GraphQueries.oracles
}
