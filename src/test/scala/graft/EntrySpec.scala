package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns rows, every query has its
  * oracle aliases consistent, the harness maps stay in sync, and every
  * query returns rows (from the shared [[QuerySweep]]).
  */
class EntrySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("t1 smoke: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
    assert(q.subsetOf(o), s"queries without oracles: ${q.diff(o)}")
  }

  test("every query runs and returns at least one row at sf0.001") {
    // q31/q32/q40 near-dup pair sets may legitimately be empty at the
    // smallest SF; everything else must produce rows
    val allowedEmpty = Set("q31_neardup_minhash", "q32_ngram_jaccard",
      "q40_embedding_neardup", "q41_simhash_dedup")
    assert(QuerySweep.empties.toSet.subsetOf(allowedEmpty),
      s"unexpected empty results: ${QuerySweep.empties}")
  }
}

/** One execution of every registered query at sf0.001, shared by the
  * suites that guard its results: EntrySpec reads the empty results,
  * PlanShapeSpec the cartesian plans. All suites run in one forked JVM,
  * so the sweep runs once per test run.
  */
object QuerySweep {
  final case class Result(empties: Seq[String], cartesian: Seq[String])

  private lazy val result: Result = {
    val spark = TestSpark.session
    val empties = Seq.newBuilder[String]
    val cartesian = Seq.newBuilder[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, "/root/testdata/sf0.001")
      if (df.count() == 0) empties += name
      // the AQE final plan, driven by the count above
      if (df.queryExecution.executedPlan.toString.contains("CartesianProduct")) cartesian += name
      graft.queries.releasePersisted()
      spark.catalog.clearCache()
    }
    Result(empties.result(), cartesian.result())
  }

  def empties: Seq[String] = result.empties
  def cartesian: Seq[String] = result.cartesian
}
