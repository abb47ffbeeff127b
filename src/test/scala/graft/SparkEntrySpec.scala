package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the query registry: every query carries its DuckDB oracle
  * by construction (a missing oracle would silently downgrade the result
  * check to rows-only), so what is left to pin is that no name is declared
  * twice and that the derived maps drop nothing.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("registry names are unique and both derived maps keep every entry") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"names declared more than once: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
    assert(SparkEntry.oracleSql.size == SparkEntry.registry.size)
  }

  test("oracle SQL strings are non-empty and mention a table or literal source") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
      assert(sql.toUpperCase.contains("SELECT"), s"$name oracle has no SELECT")
    }
  }
}
