package graft

import graft.plans.QualifySyntax

/** The injected QUALIFY sugar: rewrite mechanics, semantic agreement
  * with the explicit subquery formulation, clause ordering (ORDER
  * BY/LIMIT run after the filter), nesting, and loud failures.
  */
class QualifySpec extends SparkSpec {
  import spark.implicits._

  test("rewrite shape: wrap, flag column, clauses stay outside") {
    val got = QualifySyntax.rewrite(
      "SELECT a, b FROM t QUALIFY row_number() OVER (ORDER BY b) <= 2 ORDER BY a LIMIT 5")
    assert(got === "SELECT * EXCEPT (__graft_q) FROM (SELECT a, b , " +
      "(row_number() OVER (ORDER BY b) <= 2) AS __graft_q FROM t " +
      ") WHERE __graft_q ORDER BY a LIMIT 5")
  }

  test("rewrite leaves QUALIFY-free text and strings untouched") {
    val s1 = "SELECT 'QUALIFY' AS q FROM t -- QUALIFY rn <= 2"
    assert(QualifySyntax.rewrite(s1) === s1)
  }

  test("QUALIFY == explicit subquery + filter") {
    Tables.registerViews(spark, sf())
    val q = spark.sql("""
      SELECT o_orderstatus, o_orderkey
      FROM orders
      QUALIFY rank() OVER (PARTITION BY o_orderstatus
        ORDER BY o_totalprice DESC) <= 2
      ORDER BY o_orderstatus, o_orderkey""").collect()
    val manual = spark.sql("""
      SELECT o_orderstatus, o_orderkey FROM (
        SELECT o_orderstatus, o_orderkey,
          rank() OVER (PARTITION BY o_orderstatus
            ORDER BY o_totalprice DESC) AS rnk
        FROM orders) WHERE rnk <= 2
      ORDER BY o_orderstatus, o_orderkey""").collect()
    assert(q.sameElements(manual))
    assert(q.nonEmpty)
  }

  test("LIMIT applies after the qualify filter") {
    Tables.registerViews(spark, sf())
    val rows = spark.sql("""
      SELECT o_orderkey FROM orders
      QUALIFY row_number() OVER (ORDER BY o_orderkey) <= 10
      ORDER BY o_orderkey LIMIT 4""").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(0)).toSeq ==
      spark.sql("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 4")
        .collect().map(_.getLong(0)).toSeq)
  }

  test("QUALIFY in a subquery wraps only that scope") {
    Tables.registerViews(spark, sf())
    val n = spark.sql("""
      SELECT count(*) AS n FROM (
        SELECT o_orderstatus FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_orderstatus
          ORDER BY o_orderkey) = 1)""").head().getLong(0)
    val statuses = spark.sql(
      "SELECT count(DISTINCT o_orderstatus) FROM orders").head().getLong(0)
    assert(n == statuses)
  }

  test("works over aggregates (post-GROUP BY window)") {
    Tables.registerViews(spark, sf())
    val top = spark.sql("""
      SELECT o_orderstatus, count(*) AS cnt FROM orders
      GROUP BY o_orderstatus
      QUALIFY rank() OVER (ORDER BY count(*) DESC) = 1""").collect()
    assert(top.length >= 1)
    val maxCnt = spark.sql(
      "SELECT count(*) c FROM orders GROUP BY o_orderstatus ORDER BY c DESC")
      .head().getLong(0)
    assert(top.forall(_.getLong(1) == maxCnt))
  }

  test("DISTINCT ON == groupBy max_by (latest-per-key grammar)") {
    Tables.registerViews(spark, sf())
    val got = spark.sql("""
      SELECT DISTINCT ON (user_id) user_id, event_id, value
      FROM events
      ORDER BY user_id, value DESC, event_id""").collect()
    val want = spark.sql("""
      SELECT user_id,
        min_by(event_id, struct(-value, event_id)) AS event_id,
        max(value) AS value
      FROM events GROUP BY user_id
      ORDER BY user_id, value DESC, event_id""").collect()
    assert(got.length == want.length)
    // per-key pick agrees with the aggregate formulation
    assert(got.map(r => (r.getLong(0), r.getLong(1)))
      .sameElements(want.map(r => (r.getLong(0), r.getLong(1)))))
  }

  test("DISTINCT ON without ORDER BY fails loudly") {
    val e = intercept[IllegalArgumentException](
      graft.plans.DistinctOnSyntax.rewrite(
        "SELECT DISTINCT ON (k) k, v FROM t"))
    assert(e.getMessage.contains("ORDER BY"))
    // plain DISTINCT (no ON) is untouched
    val s = "SELECT DISTINCT a FROM t ORDER BY a"
    assert(graft.plans.DistinctOnSyntax.rewrite(s) === s)
  }

  test("star-EXCLUDE maps to star-EXCEPT; identifiers untouched") {
    assert(graft.plans.StarModifierSyntax.rewrite(
      "SELECT * EXCLUDE (a, b) FROM t") ===
      "SELECT * EXCEPT (a, b) FROM t")
    assert(graft.plans.StarModifierSyntax.rewrite(
      "SELECT t.* EXCLUDE (a) FROM t") ===
      "SELECT t.* EXCEPT (a) FROM t")
    // a column named exclude stays a column
    val s = "SELECT exclude FROM t WHERE exclude > 1"
    assert(graft.plans.StarModifierSyntax.rewrite(s) === s)
    // ...including as a MULTIPLICATION operand after '*'
    val m = "SELECT price * exclude FROM t"
    assert(graft.plans.StarModifierSyntax.rewrite(m) === m)
    val m2 = "SELECT (a + b) * exclude FROM t"
    assert(graft.plans.StarModifierSyntax.rewrite(m2) === m2)
    // star positions that MUST rewrite: after SELECT, ',', and '.'
    assert(graft.plans.StarModifierSyntax.rewrite(
      "SELECT a, * EXCLUDE (b) FROM t") ===
      "SELECT a, * EXCEPT (b) FROM t")
    assert(graft.plans.StarModifierSyntax.rewrite(
      "SELECT DISTINCT * EXCLUDE (b) FROM t") ===
      "SELECT DISTINCT * EXCEPT (b) FROM t")
    Tables.registerViews(spark, sf())
    val cols = spark.sql(
      "SELECT * EXCLUDE (o_totalprice, o_orderdate) FROM orders LIMIT 1")
      .columns.toSeq
    assert(!cols.contains("o_totalprice") && !cols.contains("o_orderdate")
      && cols.contains("o_orderkey"))
  }

  test("unsupported shapes fail loudly") {
    val dis = intercept[IllegalArgumentException](QualifySyntax.rewrite(
      "SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"))
    assert(dis.getMessage.contains("DISTINCT"))
    val noFrom = intercept[IllegalArgumentException](QualifySyntax.rewrite(
      "SELECT 1 QUALIFY x = 1"))
    assert(noFrom.getMessage.contains("FROM"))
  }

  test("star-REPLACE keeps position, name, and the rest of the row") {
    Tables.registerViews(spark, sf())
    val replaced = spark.sql(
      """SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
         FROM orders ORDER BY o_orderkey LIMIT 20""")
    val plain = spark.sql("SELECT * FROM orders ORDER BY o_orderkey LIMIT 20")
    // identical schema: same names, same ORDER (replace is in-place)
    assert(replaced.columns.toSeq == plain.columns.toSeq)
    val idx = replaced.columns.indexOf("o_totalprice")
    replaced.collect().zip(plain.collect()).foreach { case (r, p) =>
      assert(r.getDouble(idx) == p.getDouble(idx) * 2)
      r.toSeq.zip(p.toSeq).zipWithIndex.foreach { case ((a, b), i) =>
        if (i != idx) assert(a == b, s"column $i changed")
      }
    }
  }

  test("star-REPLACE: ORDER BY a replaced column sees the replaced value") {
    Tables.registerViews(spark, sf())
    val flipped = spark.sql(
      """SELECT * REPLACE (0 - o_totalprice AS o_totalprice)
         FROM orders ORDER BY o_totalprice LIMIT 5""")
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    // ordering by the negated price ascending == original descending
    val expect = spark.sql(
      """SELECT o_orderkey FROM orders
         ORDER BY o_totalprice DESC LIMIT 5""")
      .collect().map(_.getLong(0)).toSeq
    assert(flipped == expect)
  }

  test("star-REPLACE can change a column's type in place") {
    Tables.registerViews(spark, sf())
    val df = spark.sql(
      """SELECT * REPLACE (CAST(o_orderkey AS STRING) AS o_orderkey)
         FROM orders LIMIT 3""")
    assert(df.schema("o_orderkey").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(df.columns.head == "o_orderkey" ||
      df.columns.indexOf("o_orderkey") ==
        spark.table("orders").columns.indexOf("o_orderkey"))
  }

  test("star-REPLACE failures are loud") {
    Tables.registerViews(spark, sf())
    val noCol = intercept[Exception](spark.sql(
      "SELECT * REPLACE (1 AS nope) FROM orders").collect())
    assert(noCol.getMessage.contains("no such column"),
      s"got: ${noCol.getMessage}")
    val noAs = intercept[Exception](spark.sql(
      "SELECT * REPLACE (o_orderkey + 1) FROM orders").collect())
    assert(noAs.getMessage.contains("AS"), s"got: ${noAs.getMessage}")
    val qual = intercept[Exception](spark.sql(
      "SELECT o.* REPLACE (1 AS o_orderkey) FROM orders o").collect())
    assert(qual.getMessage.contains("qualified"), s"got: ${qual.getMessage}")
    // a column named replace is untouched
    assert(graft.plans.StarModifierSyntax.rewrite(
      "SELECT replace FROM t WHERE replace > 1") ===
      "SELECT replace FROM t WHERE replace > 1")
  }

  test("star modifiers after SELECT DISTINCT / ALL") {
    Tables.registerViews(spark, sf())
    val src = "(SELECT o_orderstatus, o_orderpriority FROM orders)"
    val replaced = spark.sql(
      s"""SELECT DISTINCT * REPLACE (lower(o_orderstatus) AS o_orderstatus)
          FROM $src""")
    val byHand = spark.sql(
      s"""SELECT DISTINCT lower(o_orderstatus) AS o_orderstatus,
                 o_orderpriority FROM $src""")
    assert(replaced.columns.toSeq == byHand.columns.toSeq)
    assert(replaced.count() == byHand.count() &&
      replaced.exceptAll(byHand).isEmpty && byHand.exceptAll(replaced).isEmpty)
    // RENAME keeps the column's position and value
    val renamed = spark.sql(
      s"SELECT DISTINCT * RENAME (o_orderstatus AS status) FROM $src")
    val plain = spark.sql(s"SELECT DISTINCT * FROM $src")
    assert(renamed.columns.toSeq == Seq("status", "o_orderpriority"))
    assert(renamed.exceptAll(plain).isEmpty && plain.exceptAll(renamed).isEmpty)
    val all = spark.sql(
      s"SELECT ALL * REPLACE (lower(o_orderstatus) AS o_orderstatus) FROM $src")
    assert(all.columns.toSeq == byHand.columns.toSeq &&
      all.count() == spark.sql(s"SELECT * FROM $src").count())
  }

  test("star REPLACE inside a function call fails loudly") {
    Tables.registerViews(spark, sf())
    // the marker is consumed only in a select list; inside struct(...)
    // the rewrite must refuse it, not add a __graft_r_ field
    val e = intercept[IllegalArgumentException](spark.sql(
      "SELECT struct(* REPLACE (o_orderkey + 1 AS o_orderkey)) AS s " +
        "FROM orders").collect())
    assert(e.getMessage.contains(
      "star-REPLACE syntax: REPLACE on a star inside a function call"),
      s"got: ${e.getMessage}")
    val r = intercept[IllegalArgumentException](spark.sql(
      "SELECT struct(* RENAME (o_orderkey AS k)) AS s FROM orders"))
    assert(r.getMessage.contains("star-RENAME syntax: RENAME on a star " +
      "inside a function call"), s"got: ${r.getMessage}")
    // EXCLUDE there is Spark's own struct(* EXCEPT (...))
    val kept = spark.sql(
      "SELECT struct(* EXCLUDE (o_orderstatus)) AS s FROM orders")
    assert(kept.schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      spark.table("orders").columns.toSeq.filter(_ != "o_orderstatus"))
  }

  test("chained star modifiers fail with a graft message") {
    Tables.registerViews(spark, sf())
    for ((sql, kind) <- Seq(
        "SELECT * REPLACE (o_orderkey + 1 AS o_orderkey) " +
          "RENAME (o_custkey AS c) FROM orders" -> "REPLACE",
        "SELECT * EXCLUDE (o_orderstatus) " +
          "REPLACE (o_orderkey + 1 AS o_orderkey) FROM orders" -> "EXCLUDE")) {
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.contains(
        s"star-$kind syntax: chained star modifiers are not supported"),
        s"got: ${e.getMessage}")
    }
  }

  test("star-RENAME keeps position and value; new name orders") {
    Tables.registerViews(spark, sf())
    val df = spark.sql(
      """SELECT * RENAME (o_totalprice AS price)
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 5""")
    val base = spark.table("orders")
    assert(df.columns.indexOf("price") ==
      base.columns.indexOf("o_totalprice"),
      s"rename moved the column: ${df.columns.mkString(",")}")
    assert(!df.columns.contains("o_totalprice"))
    val expected = base
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .limit(5).select("o_totalprice")
      .collect().map(_.getDouble(0)).toSeq
    assert(df.select("price").collect().map(_.getDouble(0)).toSeq
      == expected)
  }

  test("star-RENAME failures are loud") {
    Tables.registerViews(spark, sf())
    val noCol = intercept[Exception](spark.sql(
      "SELECT * RENAME (nope AS x) FROM orders").collect())
    assert(noCol.getMessage.toLowerCase.contains("nope"),
      s"got: ${noCol.getMessage}")
    val noAs = intercept[Exception](spark.sql(
      "SELECT * RENAME (o_orderkey) FROM orders").collect())
    assert(noAs.getMessage.contains("AS"), s"got: ${noAs.getMessage}")
    val qual = intercept[Exception](spark.sql(
      "SELECT o.* RENAME (o_orderkey AS x) FROM orders o").collect())
    assert(qual.getMessage.contains("qualified"),
      s"got: ${qual.getMessage}")
    // ALTER-style RENAME text (no star) is untouched
    assert(graft.plans.StarModifierSyntax.rewrite(
      "ALTER TABLE t RENAME COLUMN a TO b") ===
      "ALTER TABLE t RENAME COLUMN a TO b")
  }

  test("star-RENAME: re-referencing the renamed column is lenient") {
    Tables.registerViews(spark, sf())
    // The explicit o_totalprice shares the star-expanded attribute's
    // exprId; per the lenient-superset contract it passes through as
    // its own column while the star occurrence is renamed.
    val df = spark.sql(
      """SELECT * RENAME (o_totalprice AS price), o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 3""")
    assert(df.columns.count(_ == "price") == 1)
    assert(df.columns.last == "o_totalprice",
      s"got: ${df.columns.mkString(",")}")
    val rows = df.select("price", "o_totalprice").collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r.getDouble(0) == r.getDouble(1)))
    // renaming the SAME column twice in one list is still loud
    val twice = intercept[Exception](spark.sql(
      "SELECT * RENAME (o_totalprice AS a, o_totalprice AS b) " +
        "FROM orders").collect())
    assert(twice.getMessage.contains("renamed twice"),
      s"got: ${twice.getMessage}")
  }

  test("star-RENAME: outer references to an explicitly kept column stay on it") {
    Tables.registerViews(spark, sf())
    // the kept o_totalprice is still a live output column of the
    // subquery, so the outer reference must bind to IT — not be
    // silently redirected (and renamed) to the renamed attribute
    val df = spark.sql(
      """SELECT o_totalprice FROM (
           SELECT * RENAME (o_totalprice AS price), o_totalprice
           FROM orders) ORDER BY o_totalprice LIMIT 3""")
    assert(df.columns.toSeq == Seq("o_totalprice"),
      s"outer column renamed: ${df.columns.mkString(",")}")
    assert(df.count() == 3)
    // and when the source column was CONSUMED by the rename, outer
    // references to the NEW name work through the remap
    val consumed = spark.sql(
      """SELECT price FROM (
           SELECT * RENAME (o_totalprice AS price) FROM orders)
         ORDER BY price LIMIT 3""")
    assert(consumed.columns.toSeq == Seq("price") && consumed.count() == 3)
  }
}
