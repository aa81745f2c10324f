package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingCorpus, StreamingGraph, StreamingIndex,
  StreamingLabels, StreamingLm, StreamingPipeline}

/** The PIPELINE-level wave commit marker, and the cross-store consistent
  * reader built on it. CrossComponentCrashSpec proves whole-wave retry
  * CONVERGES; this spec closes what a READER sees mid-wave: a consistent
  * reader ([[StreamingPipeline.current]]) is driven at EVERY
  * inter-component kill point of the composed corpus → labels → index →
  * graph → LM wave and must observe exactly the previous whole-wave state
  * in all five stores — component commits are invisible until the
  * pipeline's single `_WAVE` marker lands (the StreamingLm single-root
  * rule, one level up). After the commit, the same entry point replays
  * BOTH waves' states historically at their wave ids — the cross-store
  * as-of audit (#6): one wave id, five stores, mutually consistent.
  */
class PipelineWaveSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  test("reader sees only whole-wave states at every kill point; both waves replay as-of") {
    import spark.implicits._
    val out = Files.createTempDirectory("pw_corpus").toString
    val labelDir = Files.createTempDirectory("pw_labels").toString
    val idxDir = Files.createTempDirectory("pw_index").toString
    val gDir = Files.createTempDirectory("pw_graph").toString
    val lmDir = Files.createTempDirectory("pw_lm").toString
    val pipeDir = Files.createTempDirectory("pw_pipe").toString
    val stores = StreamingPipeline.Stores(out, labelDir, idxDir, gDir, lmDir)

    // ---- pick the wave's vectors from a reference index (the
    // CrossComponentCrashSpec model: delete vOld + append vNew) ----
    val refIdx = Files.createTempDirectory("pw_refidx").toString
    val cutRef = StreamingIndex.buildFrozen(spark, d, refIdx)
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    StreamingIndex.appendBatch(refIdx)(emb.filter(col("vec_id") >= cutRef), 0L)
    val refServed = StreamingIndex.searchTopK(spark, d, refIdx).collect()
      .map(_.getAs[Long]("vec_id")).distinct.sorted
    val vNew = refServed.filter(_ >= cutRef).last
    val vOld = refServed.filter(v => v != vNew).last
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(refIdx))

    // ---- wave 0 in all five stores, then the PIPELINE commit ----
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    StreamingCorpus.updateBatch(out)(docs, 0L)
    val pairs0 = graft.queries.TextQueries.dupPairs(spark, d)
    StreamingLabels.mergeBatch(labelDir)(pairs0, 0L)
    val cut = StreamingIndex.buildFrozen(spark, d, idxDir)
    StreamingIndex.appendBatch(idxDir)(
      emb.filter(col("vec_id") >= cut && col("vec_id") =!= vNew), 0L)
    val gCut = StreamingGraph.buildFrozen(spark, d, gDir)
    StreamingGraph.appendBatch(d, gDir)(emb.filter(col("vec_id") >= gCut), 0L)
    StreamingLm.updateBatch(lmDir)(docs.select(col("doc_id"), col("text")), 0L)

    // components committed but NO pipeline wave yet: the consistent
    // reader refuses to serve anything
    assert(StreamingPipeline.current(spark, pipeDir, stores).isEmpty,
      "reader served state before the first whole-wave commit")
    StreamingPipeline.commitWave(spark, pipeDir, 0L)

    // ---- snapshot the five wave-0 readouts through the reader ----
    def corpusMap(v: StreamingPipeline.PipelineAt) =
      v.corpus.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def labelMap(v: StreamingPipeline.PipelineAt) =
      v.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def searchIds(v: StreamingPipeline.PipelineAt) =
      v.search(d).collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq
    def graphIds(v: StreamingPipeline.PipelineAt) =
      v.graphSearch(d).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val live0 = corpusMap(StreamingPipeline.current(spark, pipeDir, stores).get)
    val v0 = StreamingPipeline.current(spark, pipeDir, stores).get
    assert(v0.wave === 0L)
    val lbl0 = labelMap(v0)
    val srch0 = searchIds(v0)
    val gsrch0 = graphIds(v0)
    val vOldG = gsrch0.map(_._3).distinct.max // a graph-served victim

    // ---- the composed wave 1: re-crawl A → B's text; replace vOld
    // with vNew in the PQ index; tombstone vOldG in the graph; fold the
    // re-crawled row into the LM ----
    val pairedIds = pairs0.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val corpusIds = live0.keySet.toSeq.sorted
    val a = corpusIds.find(i => !pairedIds.contains(i)).get
    val b = corpusIds.find(i => i != a && !pairedIds.contains(i) &&
      live0(i) != live0(a)).get
    val donorText = live0(b)
    // LM probe = the donor text: the wave folds those exact grams again,
    // so the live scoring MUST move while the reader's must not
    val probe = Seq((999999L, donorText)).toDF("doc_id", "text")
    val lm0 = v0.lmScore(probe).collect().toSeq
    val aRow = docs.filter(col("doc_id") === a).collect()(0)
    val docsU = Tables.documents(spark, d).select(col("doc_id"),
      when(col("doc_id") === a, donorText).otherwise(col("text")).as("text"))
    val wavePairs = graft.queries.TextQueries.simhash64PairsOf(docsU)
      .select(col("da"), col("db"))
      .filter(col("da") === a || col("db") === a)
      .localCheckpoint(true)
    val steps: Seq[(String, () => Unit)] = Seq(
      "corpus" -> (() => StreamingCorpus.updateBatch(out)(
        Seq((a, aRow.getString(1), aRow.getString(2), donorText))
          .toDF("doc_id", "source", "lang", "text"), 1L)),
      "labels" -> (() => StreamingLabels.updateBatch(labelDir)(
        Seq(a).toDF("id"), wavePairs, 1L)),
      "index" -> (() => {
        StreamingIndex.deleteBatch(idxDir)(Seq(vOld).toDF("vec_id"), 1L)
        StreamingIndex.appendBatch(idxDir)(
          emb.filter(col("vec_id") === vNew), 1L)
      }),
      "graph" -> (() => StreamingGraph.deleteBatch(gDir)(
        Seq(vOldG).toDF("vec_id"), 1L)),
      "lm" -> (() => StreamingLm.updateBatch(lmDir)(
        Seq((a, donorText)).toDF("doc_id", "text"), 1L)))

    // ---- at EVERY kill point: the reader still serves wave 0 in the
    // cheap stores; the full five-store readout is re-checked at the
    // first window (the classic corpus/labels divergence) and at the
    // last (everything committed but the wave) ----
    for (((name, step), i) <- steps.zipWithIndex) {
      step()
      val v = StreamingPipeline.current(spark, pipeDir, stores).get
      assert(v.wave === 0L, s"pipeline horizon moved mid-wave after $name")
      assert(corpusMap(v) === live0, s"reader saw a torn corpus after $name")
      assert(labelMap(v) === lbl0, s"reader saw torn labels after $name")
      if (i == 0 || i == steps.length - 1) {
        assert(searchIds(v) === srch0, s"reader saw a torn PQ index after $name")
        assert(graphIds(v) === gsrch0, s"reader saw a torn graph after $name")
        assert(v.lmScore(probe).collect().toSeq === lm0,
          s"reader saw a torn LM state after $name")
      }
    }
    // the kill windows are REAL: the live views already diverge from
    // what the reader serves (non-vacuity of the invisibility claim)
    assert(StreamingCorpus.liveCorpus(spark, out)
        .filter(col("doc_id") === a).collect()(0).getString(3) === donorText,
      "wave 1 corpus content never landed — the windows are vacuous")
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq !== lm0,
      "wave 1 LM fold did not change the probe scoring — LM window vacuous")

    // ---- the whole-wave commit flips the reader to wave 1 ----
    StreamingPipeline.commitWave(spark, pipeDir, 1L)
    val v1 = StreamingPipeline.current(spark, pipeDir, stores).get
    assert(v1.wave === 1L)
    val live1 = corpusMap(v1)
    assert(live1(a) === donorText, "committed wave's corpus not served")
    val lbl1 = labelMap(v1)
    assert(lbl1(a) === math.min(a, b) && lbl1(b) === math.min(a, b),
      "committed wave's labels not served")
    // mutual consistency: labels ≡ CC(livePairs) at the same wave
    val cc1 = graft.ops.Dedup.fromPairs(v1.livePairs.localCheckpoint(true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl1 === cc1, "labels ≢ CC(livePairs) at the committed wave")
    val srch1 = searchIds(v1)
    assert(!srch1.exists(_._3 == vOld) && srch1.exists(_._3 == vNew),
      "committed wave's index replacement not served")
    val gsrch1 = graphIds(v1)
    assert(!gsrch1.exists(_._3 == vOldG),
      "committed wave's graph tombstone not applied")
    assert(v1.lmScore(probe).collect().toSeq ===
      StreamingLm.score(spark, lmDir, probe).collect().toSeq,
      "reader's LM view diverged from the live fold at the horizon")

    // ---- historical replay: wave 0 still reconstructs EXACTLY in all
    // five stores at its wave id (the #6 cross-store as-of audit) ----
    val v0r = StreamingPipeline.at(spark, pipeDir, stores, 0L)
    assert(corpusMap(v0r) === live0, "wave-0 corpus history drifted")
    assert(labelMap(v0r) === lbl0, "wave-0 labels history drifted")
    assert(searchIds(v0r) === srch0, "wave-0 PQ search history drifted")
    assert(graphIds(v0r) === gsrch0, "wave-0 graph search history drifted")
    assert(v0r.lmScore(probe).collect().toSeq === lm0,
      "wave-0 LM scoring history drifted")
    // an uncommitted wave id is refused loudly
    intercept[IllegalArgumentException] {
      StreamingPipeline.at(spark, pipeDir, stores, 7L)
    }

    for (dir <- Seq(out, labelDir, idxDir, gDir, lmDir, pipeDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
