package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Round-17: q176's serving and readout invariants, pinned at birth
  * (measured invariants pinned as the query lands, not after a
  * regeneration blunts them): the compacted index serves live vectors
  * only (independent LCG hash model), the per-query recall columns are
  * exactly the row-flag sums, and the stale columns agree with q171's own
  * output (the two queries share the stale arm through one factored
  * helper — this catches the helper drifting from the registered q171
  * path).
  */
class IndexCompactSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def dead(id: Long): Boolean =
    ((id * 1103515245L + 12345L) % TextQueries.PriorityMod) < TextQueries.DeleteBound

  test("q176 serves live-only; recall columns are the flag sums; stale arm agrees with q171") {
    val rows = TextQueries.q176IndexCompact(spark, d).collect()
    assert(rows.length == 25, "5 probes x top-5 expected")
    rows.foreach { r =>
      assert(!dead(r.getAs[Long]("vec_id")), s"q176 served a tombstoned vector: $r")
    }
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    for ((q, rs) <- byQ) {
      val hc = rs.map(_.getAs[Long]("hits_compact")).distinct
      val hs = rs.map(_.getAs[Long]("hits_stale")).distinct
      assert(hc.length == 1 && hs.length == 1, s"per-query counts not constant for $q")
      assert(hc.head == rs.map(_.getAs[Int]("exact_hit").toLong).sum,
        s"hits_compact is not the exact_hit sum for $q")
      assert(rs.forall(r => r.getAs[Long]("compact_gain") == hc.head - hs.head),
        s"compact_gain is not hits_compact - hits_stale for $q")
    }
    // the stale columns must be q171's OWN serving (shared helper):
    // stale_hit marks exactly the compact rows q171 also serves, and
    // hits_stale is q171's per-query exact_hit sum
    val q171 = TextQueries.q171IndexDelete(spark, d).collect()
    val staleServed = q171.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    rows.foreach { r =>
      val expect = staleServed.contains((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      assert(r.getAs[Int]("stale_hit") == (if (expect) 1 else 0),
        s"stale_hit disagrees with q171's served set in $r")
    }
    val q171Hits = q171.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Int]("exact_hit").toLong).sum }
    for ((q, rs) <- byQ)
      assert(rs.head.getAs[Long]("hits_stale") == q171Hits(q),
        s"hits_stale disagrees with q171's exact-hit count for $q")
    // the readout is two-sided on this corpus (measured -3..+2 at
    // sf0.01) — a regeneration that makes compaction a no-op table
    // should go red here, same rationale as RerankPairsSpec
    assert(byQ.values.exists(_.head.getAs[Long]("compact_gain") != 0L),
      "compact_gain is zero everywhere — the rebuild decision table went vacuous")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
