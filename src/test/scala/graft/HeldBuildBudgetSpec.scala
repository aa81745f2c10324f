package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Ivf, TowerMemo}

/** The held ANN artifacts build within fixed Spark-job budgets.
  *
  * Each held build is dispatch-bound at test scale (a trivial job costs
  * ~0.1 s on a 4-core box), so its job count is its cost model: the
  * Lloyd trainers run one map-only job per iteration against state held
  * on the driver, and each corpus-sized output is materialized once.
  * The budgets are the perfbench per-artifact ceilings (`memo.tower`
  * ≤ 15, `memo.tower_old` ≤ 15, `memo.edge` ≤ 10, `memo.graph_old`
  * ≤ 24) less the 2-job `count()` the benchmark adds to each build;
  * `oldEdgeAssigned` gets graph_old's ceiling less its other parts
  * (`oldCellPairs` 2, the diversified edges 14).
  */
class HeldBuildBudgetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  // the benchmark's byte copy of the sf0.01 tables (500 vectors), from
  // the repository root the suite runs in
  val d = "perfbench/data/sf0.01"

  test("a fresh session builds the held ANN artifacts within their job budgets") {
    // a new session is a fresh memo key: nothing is held yet
    val s = spark.newSession()
    val budgets = Seq(
      ("ivfadcShortlist", 13, () => TowerMemo.ivfadcShortlist(s, d)),
      ("oldIvfadcShortlist", 13, () => TowerMemo.oldIvfadcShortlist(s, d)),
      ("cellPairs", 8, () => TowerMemo.cellPairs(s, d)),
      ("oldEdgeAssigned", 8, () => TowerMemo.oldEdgeAssigned(s, d)))
    val jobs = budgets.map { case (name, _, build) =>
      name -> TestJobs.submittedWhile(s)(build()) }
    info(jobs.map { case (n, j) => s"$n $j" }.mkString(", "))
    for (((name, budget, _), (_, j)) <- budgets.zip(jobs))
      assert(j <= budget, s"$name built in $j jobs, over its budget of $budget")
    // every build did run: a held artifact's first build needs jobs
    assert(jobs.forall(_._2 > 0), s"a build submitted no job: $jobs")
    // and a second call is a memo hit
    assert(TestJobs.submittedWhile(s)(TowerMemo.ivfadcShortlist(s, d)) === 0)
    s.catalog.clearCache()
  }

  test("a cell count above the driver-held cap throws before any job is submitted") {
    val emb = Ivf.prep(Tables.embeddings(spark, d))
    var thrown: Throwable = null
    val jobs = TestJobs.submittedWhile(spark) {
      thrown = intercept[IllegalArgumentException](Ivf.trainCells(emb, k = Ivf.MaxCells + 1))
    }
    assert(jobs === 0)
    assert(thrown.getMessage.contains(s"${Ivf.MaxCells}"))
  }
}
