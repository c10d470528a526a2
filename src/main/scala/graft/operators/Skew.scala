package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: two-stage salted aggregation.
  *
  * A plain `groupBy(key).agg(...)` sends every row of a hot key to
  * one reducer. Salting splits each key into `salts` sub-keys for a
  * partial aggregate, then combines — the hot key's work spreads over
  * `salts` reducers and the final stage only sees `salts` rows per
  * key. Only decomposable aggregates (sum/count/min/max + those
  * derivable from them, e.g. avg = sum/count) can be salted this way.
  *
  * Note Spark's map-side partial aggregation already covers skew for
  * these aggregates when upstream data is spread across partitions;
  * explicit salting matters when the input is ALREADY partitioned by
  * the hot key (e.g. after a join on it) or for high-cardinality
  * intermediate state. AQE's skew-join handling covers the join case;
  * this operator covers the aggregation case.
  */
object Skew {

  /** groupBy(key) with sum/count decomposed through a salt stage.
    * Result is identical to the unsalted aggregate (oracle-checked
    * by q_salted_agg) for any salt source — decomposable aggregates
    * are reassociation-free by definition.
    *
    * The default salt spreads by ROW (monotonically_increasing_id:
    * partition id ‖ row-in-partition), not by value: the common hot
    * key carries FEW DISTINCT VALUES (constant price, count-style
    * v=1), and a value-derived salt would put all its rows in one
    * bucket — silently un-mitigating exactly the skew the operator
    * exists for, with no correctness signal (the result stays
    * right, only the distribution regresses). Pass `saltSrc` to pin
    * a deterministic per-row source (an id column) when plan-stable
    * salting matters.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      salts: Int, saltSrc: Option[Column] = None): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(saltSrc.getOrElse(monotonically_increasing_id())),
        lit(salts)))
    val partial = salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial.groupBy(col(key))
      .agg(sum(col("__psum")).as("sum_v"), sum(col("__pcnt")).as("cnt"))
  }

  /** Skew-replicated equi-join: the fact side gets a deterministic
    * salt in [0, salts), the dim side is replicated once per salt
    * value, and the join runs on (key, salt) — a hot fact key's rows
    * spread over `salts` reducers instead of one. Result is
    * row-identical to the plain join (oracle-checked by
    * q_join_skew_salted; SkewSpec measures the max-task-rows cut on
    * a planted-skew fixture).
    *
    * This is the MANUAL form of what AQE skew-join does at runtime —
    * use it when the skew is known ahead of time (so the exchange is
    * right-sized from the first attempt, not after a re-plan) or when
    * AQE is off. Cost: the dim side shuffles `salts`× its size;
    * right-size `salts` to the measured skew factor (q_skew_audit).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      factSaltSrc: Column, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(factSaltSrc), lit(salts)))
    val expanded = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(expanded, Seq(key, "__salt")).drop("__salt")
  }
}
