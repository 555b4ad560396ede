package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shape of the gate registry ([[SparkEntry.registry]]), checked without a
  * Spark session: building the registry runs no query. */
class GateRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("registry names are distinct") {
    // a Map literal keeps the last of two duplicate keys without a word;
    // the registry is a Seq, so a duplicate shows up here
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("registry holds the 135 gate queries") {
    assert(names.size == 135)
  }

  test("every name has the qNN_snake_case form") {
    val bad = names.filterNot(_.matches("""q\d+_[a-z0-9_]+"""))
    assert(bad.isEmpty, s"malformed gate names: ${bad.mkString(", ")}")
  }

  test("no oracle SQL is blank") {
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("selected: a known subset, a loud unknown name, unset = all") {
    val sub = SparkEntry.selected(Some(" q04_difference,q26_acf, ,"))
    assert(sub.map(_.name).toSet == Set("q04_difference", "q26_acf"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q04_difference,q04_diff")))
    assert(e.getMessage.contains("q04_diff") && !e.getMessage.contains("q04_difference"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
    assert(SparkEntry.selected(None).size == 135)
  }

  test("queries and oracleSql views cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
