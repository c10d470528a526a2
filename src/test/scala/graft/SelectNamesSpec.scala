package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.selectNames`, the query-name filter of Verify, Bench
  * and PlanDump — pure, so no Spark session. */
class SelectNamesSpec extends AnyFunSuite {

  private val known = Set("q_a", "q_b", "q_c")

  test("keeps the given order, drops repeats and blanks") {
    assert(SparkEntry.selectNames("q_c, q_a,,q_c ,q_b", known) ==
      Seq("q_c", "q_a", "q_b"))
  }

  test("an unknown name fails, naming every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectNames("q_a,q_typo,q_b,q_other", known))
    assert(e.getMessage.contains("q_typo, q_other"), e.getMessage)
    assert(!e.getMessage.contains("q_a"), e.getMessage)
  }

  test("a filter that names nothing fails") {
    intercept[IllegalArgumentException](SparkEntry.selectNames(" , ", known))
    intercept[IllegalArgumentException](SparkEntry.selectNames("", known))
  }

  test("the real query map resolves its own names") {
    val names = SparkEntry.queries.keySet
    val pick = names.toSeq.sorted.take(3).reverse
    assert(SparkEntry.selectNames(pick.mkString(","), names) == pick)
  }
}
