package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingGraph, StreamingIndex}

/** AS-OF serving for the two ANN index services (labelsAt/liveCorpusAt
  * closed audit time travel for labels and corpus rows; this closes the
  * third stateful store). For each service: searchAt(b) over a lifecycle
  * of two append waves + one delete wave must equal a REFERENCE TWIN
  * index built with only the waves ≤ b (twin = a separate on-disk index,
  * so the comparison is between two independent materializations, not a
  * replay); after compaction the horizon is recorded, points below it
  * throw, and the horizon point itself still serves exactly the live
  * search.
  */
class AsOfServeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("StreamingIndex.searchAtTopK: as-of ≡ twin; horizon guards after compact") {
    import spark.implicits._
    val idx = Files.createTempDirectory("asof_idx").toString
    val twinA = Files.createTempDirectory("asof_idxA").toString
    val twinB = Files.createTempDirectory("asof_idxB").toString
    val cut = StreamingIndex.buildFrozen(spark, d, idx)
    StreamingIndex.buildFrozen(spark, d, twinA)
    StreamingIndex.buildFrozen(spark, d, twinB)
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tail = emb.filter(col("vec_id") >= cut)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val (w0, w1) = tail.splitAt(tail.length / 2)

    StreamingIndex.appendBatch(idx)(w0.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamingIndex.appendBatch(idx)(w1.toSeq.toDF("vec_id", "embedding"), 1L)
    // delete a vector the full index genuinely serves
    val served = StreamingIndex.searchTopK(spark, d, idx).collect()
      .map(_.getAs[Long]("vec_id")).filter(_ >= cut)
    assert(served.nonEmpty, "no appended vector served — vacuous lifecycle")
    StreamingIndex.deleteBatch(idx)(Seq(served.max).toDF("vec_id"), 2L)

    // twins: A = waves ≤ 0, B = waves ≤ 1 (no delete)
    StreamingIndex.appendBatch(twinA)(w0.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamingIndex.appendBatch(twinB)(w0.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamingIndex.appendBatch(twinB)(w1.toSeq.toDF("vec_id", "embedding"), 1L)

    assert(rows(StreamingIndex.searchAtTopK(spark, d, idx, 0L)) ===
      rows(StreamingIndex.searchTopK(spark, d, twinA)),
      "searchAt(0) diverged from the wave-0 twin")
    assert(rows(StreamingIndex.searchAtTopK(spark, d, idx, 1L)) ===
      rows(StreamingIndex.searchTopK(spark, d, twinB)),
      "searchAt(1) diverged from the pre-delete twin")
    assert(rows(StreamingIndex.searchAtTopK(spark, d, idx, 2L)) ===
      rows(StreamingIndex.searchTopK(spark, d, idx)),
      "searchAt(latest) diverged from the live search")
    // the delete wave is visible exactly at its batch, not before
    assert(rows(StreamingIndex.searchAtTopK(spark, d, idx, 1L)) !=
      rows(StreamingIndex.searchAtTopK(spark, d, idx, 2L)),
      "the delete wave changed nothing — vacuous as-of point")

    StreamingIndex.compact(spark, idx)
    assert(StreamingIndex.compactionHorizon(spark, idx) === Some(2L))
    intercept[IllegalArgumentException] {
      StreamingIndex.searchAtTopK(spark, d, idx, 1L).collect()
    }
    assert(rows(StreamingIndex.searchAtTopK(spark, d, idx, 2L)) ===
      rows(StreamingIndex.searchTopK(spark, d, idx)),
      "the horizon point stopped serving after compaction")

    for (dir <- Seq(idx, twinA, twinB))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("StreamingGraph.searchAt: as-of ≡ twin; horizon guards after compact") {
    import spark.implicits._
    val g = Files.createTempDirectory("asof_g").toString
    val gA = Files.createTempDirectory("asof_gA").toString
    val cut = graft.ops.TowerMemo.oldCut(spark, d).collect()(0).getLong(0)
    StreamingGraph.buildFrozen(spark, d, g)
    StreamingGraph.buildFrozen(spark, d, gA)
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tail = emb.filter(col("vec_id") >= cut)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val (w0, w1) = tail.splitAt(tail.length / 2)

    StreamingGraph.appendBatch(d, g)(w0.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamingGraph.appendBatch(d, g)(w1.toSeq.toDF("vec_id", "embedding"), 1L)
    val servedG = StreamingGraph.search(spark, d, g).collect()
      .map(_.getAs[Long]("vec_id")).filter(_ >= cut)
    assert(servedG.nonEmpty, "no attached vector served — vacuous lifecycle")
    StreamingGraph.deleteBatch(g)(Seq(servedG.max).toDF("vec_id"), 2L)

    StreamingGraph.appendBatch(d, gA)(w0.toSeq.toDF("vec_id", "embedding"), 0L)

    assert(rows(StreamingGraph.searchAt(spark, d, g, 0L)) ===
      rows(StreamingGraph.search(spark, d, gA)),
      "graph searchAt(0) diverged from the wave-0 twin")
    assert(rows(StreamingGraph.searchAt(spark, d, g, 2L)) ===
      rows(StreamingGraph.search(spark, d, g)),
      "graph searchAt(latest) diverged from the live search")
    assert(rows(StreamingGraph.searchAt(spark, d, g, 1L)) !=
      rows(StreamingGraph.searchAt(spark, d, g, 2L)),
      "the graph delete wave changed nothing — vacuous as-of point")

    StreamingGraph.compact(spark, d, g)
    assert(StreamingGraph.compactionHorizon(spark, g) === Some(2L))
    intercept[IllegalArgumentException] {
      StreamingGraph.searchAt(spark, d, g, 1L).collect()
    }
    assert(rows(StreamingGraph.searchAt(spark, d, g, 2L)) ===
      rows(StreamingGraph.search(spark, d, g)),
      "the graph horizon point stopped serving after compaction")

    for (dir <- Seq(g, gA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
