package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.plans.NearestCellsExpr

/** The one cosine kernel (`CosineSimExpr`) under each of its names —
  * `cosine_sim`, `VectorFunctions.cosine` and the IVF cell ranking —
  * on the interpreted and the generated-code path alike: numbers on
  * float and double vectors, null on degenerate input, and bit for
  * bit the composed `dot / sqrt(na * nb)` the DuckDB oracles replay.
  */
class CosineSimSpec extends SparkSpec {

  /** `cols` over the one-row table (a, b) of two SQL array literals:
    * first over an inline table (evaluated by the optimizer,
    * interpreted), then over a parquet copy of it (whole-stage
    * codegen, with no fallback to the interpreted path).
    */
  private def onBothPaths(a: String, b: String, cols: Column*): Seq[Any] = {
    def eval(df: DataFrame) = {
      val r = df.select(cols: _*).collect().head
      cols.indices.map(r.get)
    }
    val values = spark.sql(s"SELECT a, b FROM VALUES ($a, $b) t(a, b)")
    val dir = Files.createTempDirectory("graft-cosine").toString + "/t"
    values.write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val plan = scan.select(expr("cosine_sim(a, b)"))
        .queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), plan)
      eval(values) ++ eval(scan)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `cosine_sim(a, b)` and `VectorFunctions.cosine(a, b)`, on both
    * paths. */
  private def scores(a: String, b: String): Seq[Option[Double]] =
    onBothPaths(a, b, expr("cosine_sim(a, b)"),
      VectorFunctions.cosine(col("a"), col("b")))
      .map(v => Option(v).map(_.asInstanceOf[Double]))

  test("cosine_sim accepts array<double>") {
    assert(scores("array(1.0D, 2.0D, 3.0D)", "array(1.0D, 2.0D, 3.0D)") ==
      Seq.fill(4)(Some(1.0)))
    assert(scores("array(1.0D, 0.0D)", "array(0.0D, 2.0D)") ==
      Seq.fill(4)(Some(0.0)))
  }

  test("cosine_sim is null on a null element") {
    assert(scores("array(1.0F, null)", "array(1.0F, 5.0F)") ==
      Seq.fill(4)(None))
    assert(scores("array(1.0F, 5.0F)", "array(1.0F, CAST(NULL AS FLOAT))") ==
      Seq.fill(4)(None))
  }

  test("cosine_sim is null on a length mismatch") {
    assert(scores("array(1.0F, 0.0F, 9.0F)", "array(1.0F, 0.0F)") ==
      Seq.fill(4)(None))
  }

  test("degenerate input scores null on every kernel, IVF cell ranking included") {
    // (a, b, b as an IVF centroid when it has no null element,
    // expected cosine)
    val cases = Seq[(String, String, Option[Array[Double]], Option[Double])](
      ("array(0.0F, 0.0F)", "array(1.0F, 2.0F)", Some(Array(1.0, 2.0)), None),
      ("array(1.0F, 2.0F)", "array(0.0F, 0.0F)", Some(Array(0.0, 0.0)), None),
      ("array(0.0D, 0.0D)", "array(1.0D, 2.0D)", Some(Array(1.0, 2.0)), None),
      ("CAST(array() AS array<float>)", "CAST(array() AS array<float>)",
        Some(Array.empty[Double]), None),
      ("array(1.0F, null)", "array(1.0F, 5.0F)", Some(Array(1.0, 5.0)), None),
      ("array(1.0F, 5.0F)", "array(1.0F, CAST(NULL AS FLOAT))", None, None),
      ("array(1.0F, 0.0F, 9.0F)", "array(1.0F, 0.0F)", Some(Array(1.0, 0.0)),
        None),
      ("array(1.0F, 2.0F, 2.0F)", "array(2.0F, 4.0F, 4.0F)",
        Some(Array(2.0, 4.0, 4.0)), Some(1.0)),
      ("array(1.0D, 0.0D)", "array(0.0D, 2.0D)", Some(Array(0.0, 2.0)),
        Some(0.0)))
    cases.foreach { case (a, b, cent, want) =>
      assert(scores(a, b) == Seq.fill(4)(want), s"cosine($a, $b)")
      // ranked against b alone, a joins cell 0 iff the score is a number
      cent.foreach { c =>
        val cells = onBothPaths(a, b,
          NearestCellsExpr.nearest_cells(col("a"), Array(c)))
          .map(v => Option(v).map(_.asInstanceOf[collection.Seq[Int]].toSeq))
        assert(cells == Seq.fill(2)(want.map(_ => Seq(0))),
          s"nearest_cells($a, [$b])")
      }
    }
  }

  test("cosine_sim refuses non-numeric arrays at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine_sim(array('a'), array('b'))").collect())
    assert(e.getMessage.contains("expects arrays of numeric elements"),
      e.getMessage)
  }

  test("equal-length, null-free float vectors score bit-identically on both kernels") {
    val emb = Tables(spark, sf(), "embeddings")
    val (a, b) = (col("a.embedding"), col("b.embedding"))
    // the oracle's shape: three separate folds, dot / sqrt(na * nb)
    val reference = VectorFunctions.dot(a, b) /
      sqrt(VectorFunctions.dot(a, a) * VectorFunctions.dot(b, b))
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") === col("b.vec_id") * 3 % 17)
      .select(expr("cosine_sim(a.embedding, b.embedding)"),
        VectorFunctions.cosine(a, b), reference)
      .collect()
    assert(pairs.length > 10)
    pairs.foreach { r =>
      val bits = (0 to 2).map(i =>
        java.lang.Double.doubleToLongBits(r.getDouble(i)))
      assert(bits.distinct.size == 1, r)
    }
  }
}
