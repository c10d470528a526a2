package graft

import graft.plans.Sketches

/** The native expressions GraftExtensions injects into the SQL
  * front-end (`injectFunction`), on the suite session that
  * `spark.sql.extensions=graft.GraftExtensions` builds.
  */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim / simhash64 / minhash_sig callable from spark.sql") {
    Tables.registerViews(spark, sf())
    val cos = spark.sql("""
      SELECT cosine_sim(a.embedding, b.embedding) AS c
      FROM embeddings a JOIN embeddings b
        ON a.vec_id = 1 AND b.vec_id = 2""").as[Double].head()
    assert(cos > -1.0 && cos < 1.0 && !cos.isNaN)
    val (sh, mh) = spark.sql("""
      SELECT simhash64(split(text, ' ')) AS sh,
             minhash_sig(split(text, ' '), 4) AS mh
      FROM documents WHERE doc_id = 0""")
      .as[(Long, Seq[Long])].head()
    assert(mh.size == 4)
    assert(sh != 0L)
    // SQL results agree with the Column API
    import org.apache.spark.sql.functions._
    val viaApi = Tables(spark, sf(), "documents")
      .filter(col("doc_id") === 0)
      .select(Sketches.simhash64(split(col("text"), " ")))
      .as[Long].head()
    assert(sh == viaApi)
  }

  test("GraftExtensions injects the functions via spark.sql.extensions") {
    // a genuinely new session wired through the extensions mechanism.
    // `spark.sql.extensions` is a STATIC conf read at SparkContext
    // creation, so inside the suite JVM (shared context) we exercise
    // the same injection through the public builder.withExtensions
    // hook. getOrCreate() would reuse the suite session, so clear the
    // default/active slots first and restore after (same SparkContext
    // underneath; do NOT stop s2 — that would kill it).
    import org.apache.spark.sql.SparkSession
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-spec")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val row = s2.sql("""
        SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
               simhash64(array('a b c', 'b c d')) AS sh,
               minhash_sig(array('a b c'), 4) AS mh,
               word_shingles('a b c d', 3) AS ws""").collect().head
      assert(row.getDouble(0) == 1.0)
      assert(row.getLong(1) != 0L)
      assert(row.getSeq[Long](2).size == 4)
      assert(row.getSeq[String](3) == Seq("a b c", "b c d"))
      // asof_on marker: the injected RESOLUTION rule rewrites the
      // LEFT JOIN into the native merge
      val asof = s2.sql("""
        WITH l AS (SELECT * FROM VALUES
            (1, 10L, 'x1'), (1, 20L, 'x2'), (2, 5L, 'y') AS l(k, ts, lv)),
          r AS (SELECT * FROM VALUES
            (1, 8L, 'a'), (1, 15L, 'b'), (2, 9L, 'c') AS r(k, ts, rv))
        SELECT l.k, l.ts, r.rv FROM l LEFT JOIN r
          ON asof_on(l.k = r.k, l.ts, r.ts)
        ORDER BY l.k, l.ts""")
      assert(asof.queryExecution.executedPlan.toString
        .contains("AsOfMergeJoin"))
      assert(asof.collect().map(x =>
          (x.getInt(0), x.getLong(1), x.getString(2))).toSeq ==
        Seq((1, 10L, "a"), (1, 20L, "b"), (2, 5L, null)))
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
