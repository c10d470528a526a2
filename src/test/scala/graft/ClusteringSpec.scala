package graft

import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** Gates for the deterministic k-means family. The embeddings corpus
  * is isotropic-random (label structure is NOT geometrically
  * recoverable — same-label mean cosine ≈ 0.0016 vs 0.0003 across
  * labels), so there is no purity gate; what k-means must guarantee
  * regardless of data is Lloyd's monotone objective descent,
  * bit-determinism, and the map-side assignment plan.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables(spark, sf("0.01"), "embeddings")

  private def meanDist(iters: Int): Double =
    Clustering.kmeansAssign(emb, "vec_id", "embedding", k = 10,
        iters = iters)
      .agg(avg($"dist")).as[Double].head()

  test("Lloyd iterations monotonically decrease the objective") {
    val d0 = meanDist(0) // assignment to raw seeds
    val d1 = meanDist(1)
    val d2 = meanDist(2)
    assert(d1 <= d0 + 1e-12 && d2 <= d1 + 1e-12,
      s"objective must not increase: iters0=$d0 iters1=$d1 iters2=$d2")
    assert(d1 < d0, s"first update step should improve on raw seeds ($d0 -> $d1)")
  }

  test("assignment is bit-deterministic across invocations") {
    def run() = Clustering.kmeansAssign(emb, "vec_id", "embedding",
        k = 10, iters = 2)
      .select($"id", $"cid", $"dist").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("every row is assigned exactly once, to a live cluster") {
    val a = Clustering.kmeansAssign(emb, "vec_id", "embedding",
      k = 10, iters = 2)
    assert(a.count() == emb.count())
    assert(a.select($"id").distinct().count() == emb.count())
    val k = a.select($"cid").distinct().count()
    assert(k >= 2 && k <= 10, s"implausible live-cluster count $k")
  }

  test("clusterSample: at most perCluster rows, contiguous ranks from 1") {
    val s = Clustering.clusterSample(emb, "vec_id", "embedding",
      k = 10, iters = 2, perCluster = 5)
    val byCluster = s.groupBy($"cid")
      .agg(count(lit(1)).as("n"), min($"rank").as("lo"),
        max($"rank").as("hi"))
      .as[(Int, Long, Int, Int)].collect()
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (cid, n, lo, hi) =>
      assert(n <= 5 && lo == 1 && hi == n,
        s"cluster $cid: n=$n ranks [$lo,$hi]")
    }
  }

  test("semDedupPrune: threshold extremes bracket the behavior") {
    // threshold above any cosine keeps everything; threshold below
    // every cosine keeps exactly the min-id row of each cluster
    val keepAll = Clustering.semDedupPrune(emb, "vec_id", "embedding",
      threshold = 2.0)
    assert(keepAll.filter(!$"kept").count() == 0)
    val keepFirst = Clustering.semDedupPrune(emb, "vec_id", "embedding",
      threshold = -2.0)
    val keptPerCluster = keepFirst.filter($"kept")
      .groupBy($"cid").agg(count(lit(1)).as("n"), min($"id").as("mn"))
    assert(keptPerCluster.filter($"n" =!= 1).count() == 0,
      "min threshold must keep exactly one row per cluster")
    // and that survivor is the cluster's min id
    val firsts = keepFirst.groupBy($"cid").agg(min($"id").as("first_id"))
      .withColumnRenamed("cid", "c2")
    val bad = keepFirst.filter($"kept")
      .join(firsts, $"cid" === $"c2" && $"id" === $"first_id", "left_anti")
    assert(bad.count() == 0, "survivor must be the cluster min id")
  }

  test("semDedupPrune: a zero vector scores null and prunes nothing") {
    // id -1 is the earliest id, so it is the "b" side of every pair in
    // its cluster; a NaN or exception there would prune or fail
    val base = Tables(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      Seq((-1L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val verdict = Clustering.semDedupPrune(corpus, "vec_id", "embedding")
      .as[(Long, Int, Boolean)].collect()
      .map { case (id, cid, kept) => id -> (cid, kept) }.toMap
    assert(verdict.size == 501 && verdict(-1L)._2, verdict.get(-1L))
    // recompute every verdict from the clusters, leaving the zero
    // vector out: same left-to-right double sums as the kernel
    val vecs = base.as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val byCid = vecs.keys.groupBy(id => verdict(id)._1)
    vecs.keys.foreach { a =>
      val dropped = byCid(verdict(a)._1).exists(b =>
        b < a && cos(vecs(a), vecs(b)) >= 0.35)
      assert(verdict(a)._2 == !dropped, s"id $a")
    }
  }

  test("stateless centroid routing == batch assignment, zero state ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents = Clustering.centroidTable(emb, "vec_id", "embedding")
      .as[(Int, Seq[Double])].collect()
      .map { case (cid, c) => (cid, c.toArray) }.toSeq
    val batch = Clustering.kmeansAssign(emb, "vec_id", "embedding")
      .select($"id", $"cid").as[(Long, Int)].collect().toMap
    val rows = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val routed = input.toDS().toDF("vec_id", "embedding")
      .select($"vec_id",
        Clustering.assignToCentroids($"embedding", cents).as("cid"))
    val q = routed.writeStream.format("memory").queryName("t_route")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(100): _*)
      q.processAllAvailable()
      val got = spark.table("t_route").as[(Long, Int)].collect().toMap
      assert(got.size == 100)
      got.foreach { case (id, cid) =>
        assert(cid == batch(id), s"vec $id routed to $cid, batch says ${batch(id)}")
      }
      // the routing plan is map-only: no state store in the query
      assert(q.lastProgress.stateOperators.isEmpty,
        "stateless routing must not create a state operator")
    } finally q.stop()
  }

  test("assignment plan: map-only literal fold — no join, no exchange") {
    // r14: assignment folds a literal centroid array per row; the
    // plan must carry NO join of any strategy and NO exchange beyond
    // the fanOut repartition of the cached vector table itself.
    val plan = Clustering.kmeansAssign(emb, "vec_id", "embedding",
        k = 10, iters = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"assignment must not join the centroid table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"row stream must never shuffle for a join:\n$plan")
  }
}
