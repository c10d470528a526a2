package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** `cosine_sim` (the fused `CosineSimExpr`) agrees with
  * `VectorFunctions.cosine` (three `DotExpr` folds) on every input:
  * double elements, null elements and a length mismatch, on the
  * interpreted and the generated-code path alike, and bit for bit on
  * equal-length, null-free float vectors.
  */
class CosineSimSpec extends SparkSpec {

  /** `cosine_sim(a, b)` and `VectorFunctions.cosine(a, b)` for two SQL
    * array literals: first over an inline table (evaluated by the
    * optimizer, interpreted), then over a parquet copy of it (whole-
    * stage codegen, with no fallback to the interpreted path).
    */
  private def scores(a: String, b: String): Seq[Option[Double]] = {
    def both(df: DataFrame) = {
      val r = df.select(expr("cosine_sim(a, b)"),
        VectorFunctions.cosine(col("a"), col("b"))).collect().head
      Seq(0, 1).map(i => Option(r.get(i)).map(_.asInstanceOf[Double]))
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
      both(values) ++ both(scan)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

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

  test("cosine_sim refuses non-numeric arrays at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine_sim(array('a'), array('b'))").collect())
    assert(e.getMessage.contains("expects arrays of numeric elements"),
      e.getMessage)
  }

  test("equal-length, null-free float vectors score bit-identically on both kernels") {
    val emb = Tables(spark, sf(), "embeddings")
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") === col("b.vec_id") * 3 % 17)
      .select(expr("cosine_sim(a.embedding, b.embedding)"),
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .collect()
    assert(pairs.length > 10)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r)
    }
  }
}
