package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("entry returns rows on a PLAIN session (the driver's t1 smoke contract)") {
    // newSession(): fresh session state with NONE of graft's registered
    // functions — entry must not depend on any extension being installed
    val spark = SparkSpec.session.newSession()
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every headline name resolves to a query, exactly once") {
    // both derive from SparkEntry.keys, so this holds by construction;
    // it still guards: Bench.run silently skips unknown names, and a
    // duplicated key name would collapse two keys into one map entry
    val unknown = Bench.headline.toSet.diff(Bench.benchQueries.keySet)
    assert(unknown.isEmpty, s"headline without query: $unknown")
    val dups = Bench.headline.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicated headline entries: $dups")
  }
}
