package perfbench

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

class QueryNamesSpec extends AnyFunSuite {
  import QueryBench.Names

  test("every measured query is in the suite and has oracle SQL") {
    assert(Names.distinct == Names)
    assert(Names.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(Names.filterNot(SparkEntry.oracleSql.contains).isEmpty)
  }

  test("every family of the suite is measured") {
    assert(Names.map(_.head).toSet == SparkEntry.queries.keySet.map(_.head))
  }
}
