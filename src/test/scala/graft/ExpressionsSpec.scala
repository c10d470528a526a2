package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.Sketches

/** Native Catalyst expressions vs reference formulations written out
  * in the spec (higher-order-function folds, composed dot products). */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables(spark, sf(), "embeddings")
  private lazy val docs = Tables(spark, sf(), "documents")

  test("native cosine is bit-identical to the HOF reference (and the oracle)") {
    // the oracle's shape: three separate folds, dot / sqrt(na * nb)
    val (a, b) = (col("a.embedding"), col("b.embedding"))
    val reference = VectorFunctions.dot(a, b) /
      sqrt(VectorFunctions.dot(a, a) * VectorFunctions.dot(b, b))
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(VectorFunctions.cosine(a, b).as("native"),
        reference.as("hof"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h), s"$n != $h")
    }
  }

  test("native cosine participates in whole-stage codegen") {
    val p = withoutAqe {
      emb.as("a").join(emb.as("b"),
          col("a.vec_id") + 1 === col("b.vec_id"))
        .select(VectorFunctions.cosine(col("a.embedding"),
          col("b.embedding")).as("c"))
        .queryExecution
        .explainString(org.apache.spark.sql.execution.CodegenMode)
    }
    // the generated code must contain our fused loop (not a
    // CodegenFallback reflective call)
    assert(p.contains("WholeStageCodegen"), p.take(500))
    assert(p.contains("Math.sqrt"), s"fused loop not generated:\n${p.take(800)}")
  }

  test("sketch expressions are deterministic across evaluations") {
    def sketchRun(): Map[Long, (Long, Seq[Long])] =
      docs.select($"doc_id",
        Sketches.simhash64(TextFunctions.wordShingles($"text", 3)).as("sh"),
        Sketches.minhashSignature(
          TextFunctions.wordShingles($"text", 3), 16).as("mh"))
        .as[(Long, Long, Seq[Long])].collect()
        .map { case (id, sh, mh) => id -> (sh, mh) }.toMap
    val r1 = sketchRun()
    val r2 = sketchRun()
    assert(r1 == r2)
    assert(r1.nonEmpty)
    // signatures vary across docs (the hash family isn't degenerate)
    assert(r1.values.map(_._1).toSet.size > r1.size / 2)
  }

  test("native shingles == HOF reference shingles on the corpus") {
    val cmp = docs.select(
      TextFunctions.wordShingles($"text", 3).as("native"),
      TextFunctions.wordShinglesHof($"text", 3).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    assert(cmp.nonEmpty)
    cmp.foreach { case (n, h) => assert(n == h) }
    // short-input edge: fewer than n tokens → empty
    val edge = Seq("a b", "", "one two three").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 3).as("s"),
        TextFunctions.wordShinglesHof(col("text"), 3).as("h"))
      .as[(Seq[String], Seq[String])].collect()
    edge.foreach { case (n, h) => assert(n == h) }
    assert(edge(2)._1 == Seq("one two three"))
  }

  test("minhash signature slot count and empty-input behavior") {
    val sig = Seq(("a b", 0)).toDF("text", "pad")
      .select(Sketches.minhashSignature(
        TextFunctions.wordShingles(col("text"), 3), 8).as("sig"))
      .as[Seq[Long]].head()
    // "a b" has <3 tokens → empty shingle set → MaxValue slots
    assert(sig == Seq.fill(8)(Long.MaxValue))
  }

  test("native dot/l2Sq are bit-identical to the HOF folds (incl. mixed " +
      "element types and null semantics)") {
    def hofDot(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b,
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    def hofL2(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, x) => acc + x)
    // float × float over the real corpus
    val cmp = emb.as("a").join(emb.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        VectorFunctions.dot(col("a.embedding"), col("b.embedding"))
          .as("nd"),
        hofDot(col("a.embedding"), col("b.embedding")).as("hd"),
        VectorFunctions.l2Sq(col("a.embedding"), col("b.embedding"))
          .as("nl"),
        hofL2(col("a.embedding"), col("b.embedding")).as("hl"))
      .as[(Double, Double, Double, Double)].collect()
    assert(cmp.nonEmpty)
    cmp.foreach { case (nd, hd, nl, hl) =>
      assert(java.lang.Double.doubleToLongBits(nd) ==
        java.lang.Double.doubleToLongBits(hd), s"dot $nd != $hd")
      assert(java.lang.Double.doubleToLongBits(nl) ==
        java.lang.Double.doubleToLongBits(hl), s"l2 $nl != $hl")
    }
    // mixed float × double (the annPq sub/centroid shape), empty
    // arrays (0.0, both forms), length mismatch and null element
    // (null, both forms — zip_with padding / poisoning semantics)
    val mixed = emb.limit(5)
      .select(col("embedding").as("f"),
        transform(col("embedding"), x => x.cast("double") + 0.25)
          .as("d"))
      .select(VectorFunctions.l2Sq(col("f"), col("d")).as("n"),
        hofL2(col("f"), col("d")).as("h"))
      .as[(Double, Double)].collect()
    mixed.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h)) }
    val edges = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0), Seq(1.0)),
      (Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .withColumn("b2", when(size(col("b")) === 2,
        array(col("b")(0), lit(null).cast("double"))).otherwise(col("b")))
      .select(
        VectorFunctions.dot(col("a"), col("b")).as("nd"),
        hofDot(col("a"), col("b")).as("hd"),
        VectorFunctions.dot(col("a"), col("b2")).as("nn"),
        hofDot(col("a"), col("b2")).as("hn"))
      .as[(Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect()
    edges.foreach { case (nd, hd, nn, hn) =>
      assert(nd == hd, s"dot $nd != $hd")
      assert(nn == hn, s"null-elem dot $nn != $hn")
    }
  }

  test("native dot/l2Sq compile under codegen with NON-NULLABLE children " +
      "and stay nullable (length mismatch)") {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    // Literal-array children are non-nullable. Pre-fix, nullSafeCodeGen's
    // non-nullable branch never declared ev.isNull, the `${ev.isNull} =
    // true` writes referenced an undeclared name, and generate() threw a
    // Janino CompileException (in a query plan that surfaced as a silent
    // interpreted fallback — q_embed_power_iteration's dotexpr stage).
    val a = CreateArray(Seq(Literal(1.0), Literal(2.0)))
    val b = CreateArray(Seq(Literal(3.0), Literal(4.0)))
    val short = CreateArray(Seq(Literal(5.0)))
    val dot = graft.plans.DotExpr(a, b)
    val l2m = graft.plans.L2SqExpr(a, short)
    assert(dot.nullable && l2m.nullable,
      "vec folds can return null (mismatch/null element) regardless of " +
        "child nullability")
    val proj = GenerateUnsafeProjection.generate(Seq(dot, l2m)) // throws pre-fix
    val row = proj(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(row.getDouble(0) == 11.0)
    assert(row.isNullAt(1), "length mismatch must null the fold")
  }

  test("pair_combos emits the HOF combination sequence exactly") {
    val hof = (c: String) => expr(
      s"flatten(transform($c, (x, i) -> " +
        s"transform(slice($c, i + 2, size($c)), " +
        "y -> struct(x AS x, y AS y))))")
    // long arrays of assorted sizes (0, 1, n) from the corpus
    val arrs = docs.limit(50)
      .select(slice(transform(TextFunctions.wordShingles($"text", 3),
        s => xxhash64(s)), 1, 7).as("xs"))
    val cmp = arrs.select(
        graft.plans.PairCombosExpr.pair_combos(col("xs")).as("n"),
        hof("xs").as("h"))
      .as[(Seq[(Long, Long)], Seq[(Long, Long)])].collect()
    assert(cmp.exists(_._1.size > 1))
    cmp.foreach { case (n, h) => assert(n == h) }
    // struct elements (the supportedPairs/jaccard posting shape)
    val structs = docs.limit(20)
      .select(col("doc_id"),
        slice(TextFunctions.wordShingles($"text", 3), 1, 5).as("sh"))
      .select(sort_array(transform(col("sh"),
        s => struct(xxhash64(s).as("id"), length(s).cast("long")
          .as("n_sh")))).as("ds"))
    val scmp = structs.select(
        graft.plans.PairCombosExpr.pair_combos(col("ds")).as("n"),
        expr("flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(x AS x, y AS y))))").as("h"))
      .as[(Seq[((Long, Long), (Long, Long))],
           Seq[((Long, Long), (Long, Long))])].collect()
    assert(scmp.exists(_._1.nonEmpty))
    scmp.foreach { case (n, h) => assert(n == h) }
  }

  test("nearest_centroid == the aggregate() argmin fold, bit for bit") {
    // the HOF reference the r14 kernel replaced: strict-< first-min
    // over cid-ascending centroids from (MaxValue, -1)
    def hofBest(vec: org.apache.spark.sql.Column,
        cents: org.apache.spark.sql.Column) =
      aggregate(cents,
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("cid")),
        (acc, ct) => {
          val d = VectorFunctions.l2Sq(vec, ct.getField("c"))
          when(d < acc.getField("d"),
            struct(d.as("d"), ct.getField("cid").as("cid")))
            .otherwise(acc)
        })
    // centroid literal from the corpus itself (float→double cast,
    // like the kmeans seeds), k = 7
    val cents = emb.orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(7).select($"vec_id", $"embedding").collect()
      .zipWithIndex.map { case (r, i) =>
        (i + 1, r.getSeq[Float](1).map(_.toDouble))
      }
    val centLit = array(cents.map { case (cid, c) =>
      struct(lit(cid).as("cid"), typedLit(c).as("c")) }: _*)
    // corpus float vectors + edge rows: null vec, null element,
    // length mismatch (all must keep the (MaxValue, -1) init or skip
    // the offending centroid exactly like the HOF's null d)
    val edge = Seq(
      (900001L, null.asInstanceOf[Seq[Float]]),
      (900002L, Seq(1.0f, null.asInstanceOf[Float])),
      (900003L, Seq(0.25f, -1.5f))) // wrong dim vs 64-dim centroids
      .toDF("vec_id", "embedding")
    val both = emb.limit(100).select($"vec_id", $"embedding")
      .unionByName(edge)
      .select(
        VectorFunctions.nearestCentroid($"embedding", centLit)
          .as("n"),
        hofBest($"embedding", centLit).as("h"))
      .as[((Double, Int), (Double, Int))].collect()
    assert(both.length == 103)
    both.foreach { case ((nd, nc), (hd, hc)) =>
      assert(nc == hc, s"cid $nc != $hc")
      assert(java.lang.Double.doubleToLongBits(nd) ==
        java.lang.Double.doubleToLongBits(hd), s"$nd != $hd")
    }
    // null centroid table (the PQ element_at-on-missing-key shape)
    // nulls the result like aggregate(NULL, ...)
    val nullCents = emb.limit(3).select(
      VectorFunctions.nearestCentroid($"embedding",
        element_at(map(lit(99), centLit), lit(1))).as("n"))
    assert(nullCents.filter($"n".isNotNull).count() == 0)
  }
}
