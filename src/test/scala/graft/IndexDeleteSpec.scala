package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** q171's measured serving invariants, PINNED — the r16 scaladoc records
  * "the shortlist REFILLS live-only" and "no tombstoned vector is served"
  * as measurements; a testdata regeneration could blunt the delete slice
  * (kill no served vector) and the hash gate would still pass. This spec
  * goes red instead. The tombstone set is re-derived with plain Scala
  * long arithmetic (the seeded LCG mod 2³¹−1), independent of the Column
  * expression.
  */
class IndexDeleteSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def dead(id: Long): Boolean =
    ((id * 1103515245L + 12345L) % TextQueries.PriorityMod) < TextQueries.DeleteBound

  test("q171 serves live vectors only, and the shortlist refill engages") {
    val served = TextQueries.q171IndexDelete(spark, d).collect()
    assert(served.nonEmpty)
    // no tombstoned vec_id is ever served (independent hash model)
    served.foreach { r =>
      assert(!dead(r.getAs[Long]("vec_id")),
        s"q171 served a tombstoned vector: $r")
    }
    // the slice is non-vacuous on this corpus: dead queries exist
    // (deleted vectors keep querying — the q152 convention) ...
    assert(served.exists(_.getAs[Int]("q_dead") == 1),
      "no tombstoned query in the probe set — delete slice went vacuous")
    // ... and the delete MOVES the serving: vs the pre-delete q91 top-5,
    // (a) some pre-delete served vector died, so (b) the live serving
    // admits at least one vector q91 never served for that query — the
    // refill, which is what makes live-only serving more than a
    // post-filter of the old top-5
    val pre = TextQueries.q91IvfadcAnn(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    assert(pre.exists { case (_, v) => dead(v) },
      "no pre-delete served vector is tombstoned — the slice cannot move the lists")
    val preByQ = pre.groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val refilled = served.filter { r =>
      !preByQ(r.getAs[Long]("query_id")).contains(r.getAs[Long]("vec_id"))
    }
    assert(refilled.nonEmpty,
      "live-only serving equals a post-filter of the pre-delete top-5 — refill never engaged")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
