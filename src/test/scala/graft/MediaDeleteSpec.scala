package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral guard for q173 (media pair state under DELETE). The
  * oracle proves the delta law (held − dead ∪ released births ≡ full
  * recompute) at every SF, and the born branch is corpus-live at
  * sf0.1 — this spec pins all three wave effects at spec scale with a
  * cap the fixture can actually saturate (cap = 2), through the same
  * [[graft.queries.TextQueries.mediaDeleteCore]] plan:
  *   1. a pair with a dead endpoint dies,
  *   2. an untouched under-cap pair passes through born = 0,
  *   3. a death releases an over-cap bucket and BIRTHS the surviving
  *      pair (born = 1) — the cap-flip of rolling re-crawl waves,
  *      deterministic here,
  * and asserts the whole output equals a from-scratch recompute over
  * the survivor signatures driven through the identical core.
  */
class MediaDeleteSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("delete wave: endpoint death, passthrough, and a cap-release birth; delta ≡ recompute") {
    import spark.implicits._
    // (media_id, a0..a3): docs 1/2/3 share the band-0 bucket key 5
    // (occ 3 > cap 2 — suppressed while all three live); 1 and 2 are
    // within verify radius (dist 0+1+1+1 = 3) but share NO other
    // bucket. 4/5 are identical (held pair, untouched). 6/7 are a held
    // pair whose endpoint 7 dies. 3 and 7 die.
    val sig = Seq(
      (1L, 5L, 8L, 0L, 0L),
      (2L, 5L, 9L, 2L, 4L),
      (3L, 5L, 16L, 32L, 48L),
      (4L, 7L, 10L, 1L, 1L),
      (5L, 7L, 10L, 1L, 1L),
      (6L, 11L, 12L, 13L, 14L),
      (7L, 11L, 12L, 13L, 15L))
      .toDF("media_id", "a0", "a1", "a2", "a3")
    val deadP = col("media_id").isin(3L, 7L)
    val noHold = (df: org.apache.spark.sql.DataFrame) => df

    val got = graft.queries.TextQueries
      .mediaDeleteCore(sig, deadP, noHold, cap = 2)
      .select(col("ma"), col("mb"), col("dist"), col("born"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))

    assert(got === Seq((1L, 2L, 3, 1), (4L, 5L, 0, 0)),
      "delta output wrong: expected the cap-release birth (1,2) and the passthrough (4,5)")

    // delta ≡ from-scratch recompute: run the same core over the
    // SURVIVOR signatures with an empty wave — its held-pair set IS
    // the post-delete truth
    val want = graft.queries.TextQueries
      .mediaDeleteCore(sig.filter(!deadP), lit(false), noHold, cap = 2)
      .select(col("ma"), col("mb"), col("dist"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2, t._3)) === want,
      "delta law diverged from the from-scratch recompute")

    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
