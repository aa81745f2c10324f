package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** q174's measured label-geometry invariants, PINNED — the round-16
  * scaladoc records them as measurements (pos∩neg disjoint, margins
  * strictly positive, both branches live), but a testdata regeneration
  * could silently blunt the slice (shrink the candidate lists below
  * RerankNegMin, or tie teacher scores) and the oracle hash gate would
  * still pass on the blunted rows. This spec goes red instead. The
  * teacher side is re-derived against an INDEPENDENT Scala model (the
  * q112 discipline): plain while-loop float→double dot products straight
  * off the embeddings parquet, bit-equal to the DotFold expression by the
  * fixed left-to-right accumulation order.
  */
class RerankPairsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  test("q174 label geometry holds and the teacher matches an independent model") {
    val rows = TextQueries.q174RerankPairs(spark, d).collect()
    assert(rows.nonEmpty,
      "q174 emitted no training pairs — the mining slice went vacuous " +
        "(re-measure RerankPosK/RerankNegMin against the regenerated corpus)")

    // per-row: margins strictly positive and exactly pos_cos − neg_cos
    rows.foreach { r =>
      val m = r.getAs[Double]("margin")
      assert(m > 0.0, s"non-positive margin in $r")
      assert(m == r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"),
        s"margin is not the score difference in $r")
    }

    // per-query: disjoint label sets, complete bounded product, strict
    // score separation (every positive outranks every negative)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size > 1, "only one query emitted pairs — slice too thin to pin")
    for ((q, rs) <- byQ) {
      val pos = rs.map(r => r.getAs[Long]("pos_id") -> r.getAs[Double]("pos_cos")).distinct
      val neg = rs.map(r => r.getAs[Long]("neg_id") -> r.getAs[Double]("neg_cos")).distinct
      assert(pos.map(_._1).toSet.intersect(neg.map(_._1).toSet).isEmpty,
        s"query $q labels a doc both positive and negative")
      assert(rs.length == pos.length * neg.length,
        s"query $q pair set is not the full pos × neg product")
      assert(pos.length <= TextQueries.RerankPosK,
        s"query $q has more positives than RerankPosK")
      assert(pos.map(_._2).min > neg.map(_._2).max,
        s"query $q: a negative outranks a positive (teacher order broken)")
    }

    // independent teacher model: recompute every referenced cosine from
    // the raw parquet floats (left-to-right double accumulation — the
    // DotFold order), and require BIT equality
    val need = rows.flatMap(r => Seq(r.getAs[Long]("qid"),
      r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"))).toSet
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .filter(r => need.contains(r.getLong(0)))
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    rows.foreach { r =>
      val qv = vecs(r.getAs[Long]("qid"))
      assert(cos(qv, vecs(r.getAs[Long]("pos_id"))) == r.getAs[Double]("pos_cos"),
        s"teacher pos_cos drifted from the independent model in $r")
      assert(cos(qv, vecs(r.getAs[Long]("neg_id"))) == r.getAs[Double]("neg_cos"),
        s"teacher neg_cos drifted from the independent model in $r")
    }
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
