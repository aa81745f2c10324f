package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingLm

/** [[StreamingLm]] — the q155 admission-LM state maintained as a
  * service. Proves, across three waves with a genuine
  * stream restart and a crash-window replay:
  *
  *  - SERVE ≡ ORACLE: after folding the q155 train slice as two
  *    streamed waves, the service's scorer over its held state returns
  *    row-for-row the oracled q155 output (same grams, same integer
  *    surprisal, same flag — shared code, and this asserts it stays
  *    shared);
  *  - FOLD ≡ RETRAIN: after wave 3 the folded state scores identically
  *    to a from-scratch batch retrain over the union corpus (q156's
  *    merge law, now through the on-disk service);
  *  - idempotent replay (marker skip), crash-before-commit replay
  *    (vocab generation lost → wave re-lands), and digest-certified
  *    compaction that changes nothing a reader can see;
  *  - the vocabulary merge is genuinely non-additive on this corpus
  *    (|V∪| < Σ|Vᵢ| — the law's non-trivial half is exercised).
  */
class StreamingLmSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  test("three waves + restart + crash replay: serve ≡ q155, fold ≡ batch retrain") {
    import spark.implicits._
    val lmDir = Files.createTempDirectory("slm").toString
    val ckpt = Files.createTempDirectory("slm_ckpt").toString

    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val n = docs.count()
    val k0 = n * 2 / 5
    val cut = n * 4 / 5
    val rows = docs.as[(Long, String)].collect().sortBy(_._1)
    val wave0 = rows.filter(_._1 < k0)
    val wave1 = rows.filter(r => r._1 >= k0 && r._1 < cut)
    val wave2 = rows.filter(_._1 >= cut)

    // ---- waves 0 and 1 through the STREAM, with a restart between ----
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def startQ() = StreamingLm.start(
      source.toDS().toDF("doc_id", "text"), lmDir, ckpt)
    var q = startQ()
    source.addData(wave0: _*)
    q.processAllAvailable(); q.stop()
    q = startQ() // restart from the checkpoint
    try {
      source.addData(wave1: _*)
      q.processAllAvailable()
    } finally q.stop()

    // ---- serve ≡ the oracled q155 (train = the same 4n/5 slice) ----
    val got = StreamingLm.score(spark, lmDir,
      docs.filter(col("doc_id") >= cut)).collect().toSeq
    val want = SparkEntry.queries("q155_surprisal_filter")(spark, d)
      .collect().toSeq
    assert(got === want,
      "service scorer over folded state diverged from the oracled q155")
    assert(got.exists(_.getAs[Int]("flagged") == 1) &&
      got.exists(_.getAs[Int]("flagged") == 0),
      "gate vacuous: the threshold flags everything or nothing")

    // vocabulary non-additivity is exercised (the law's non-trivial half)
    val vUnion = StreamingLm.state(spark, lmDir)._3.count()
    val vSum = Seq(wave0, wave1).map(w =>
      graft.queries.PipelineQueries.lmTrigrams(w.toSeq.toDF("doc_id", "text"))
        .select(col("w")).distinct().count()).sum
    assert(vUnion < vSum, s"wave vocabularies disjoint (v=$vUnion sum=$vSum) — " +
      "the distinct-union half of the merge law is vacuous on this split")

    // ---- replay idempotence: a committed wave re-lands as a no-op ----
    StreamingLm.updateBatch(lmDir)(wave1.toSeq.toDF("doc_id", "text"), 1L)
    val gotReplay = StreamingLm.score(spark, lmDir,
      docs.filter(col("doc_id") >= cut)).collect().toSeq
    assert(gotReplay === got, "committed wave replay changed the state")

    // ---- wave 2 with a crash BEFORE its commit marker, then replay ----
    StreamingLm.updateBatch(lmDir)(wave2.toSeq.toDF("doc_id", "text"), 2L)
    assert(new java.io.File(s"$lmDir/waves/gen=2/_WAVE")
      .delete()) // the commit point is lost
    StreamingLm.updateBatch(lmDir)(wave2.toSeq.toDF("doc_id", "text"), 2L)

    // ---- fold ≡ from-scratch batch retrain over the union corpus ----
    val probe = docs.filter(col("doc_id") >= cut)
    val gotAll = StreamingLm.score(spark, lmDir, probe).collect().toSeq
    val triAll = graft.queries.PipelineQueries.lmTrigrams(docs).persist()
    val wantAll = graft.queries.PipelineQueries.lmScoreOver(
        graft.queries.PipelineQueries.lmTrigrams(probe),
        triAll.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("cb")),
        triAll.groupBy(col("ctx")).agg(count(lit(1)).as("cu")),
        triAll.select(col("w")).distinct().count())
      .orderBy(col("doc_id")).collect().toSeq
    triAll.unpersist(false)
    assert(gotAll === wantAll,
      "folded state after 3 waves diverged from the batch retrain")

    // ---- as-of scoring: points reconstruct exactly while the
    // generations are uncompacted ----
    assert(StreamingLm.scoreAt(spark, lmDir,
        docs.filter(col("doc_id") >= cut), 1L).collect().toSeq === got,
      "scoreAt(1) diverged from the wave-0+1 scoring")
    assert(StreamingLm.scoreAt(spark, lmDir, probe, 2L).collect().toSeq === gotAll,
      "scoreAt(latest) diverged from the live scoring")

    // ---- the TORN-WAVE × COMPACTION window (round-14 review finding):
    // a wave whose cb/cu landed but whose commit point (the vocab
    // marker) did not must be INVISIBLE to readers and to compaction —
    // otherwise compaction folds the torn partials and the replay
    // re-lands them on top, double-counting cb and cu equally
    // (invariant-invisible, permanent). Tear wave 3, compact, replay,
    // and assert the state still equals the batch retrain.
    val extra = Seq((100000L, "alpha beta gamma delta epsilon zeta"))
    StreamingLm.updateBatch(lmDir)(extra.toDF("doc_id", "text"), 3L)
    assert(new java.io.File(s"$lmDir/waves/gen=3/_WAVE")
      .delete()) // the commit point is lost
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === gotAll,
      "a torn wave's partials are visible to readers")
    StreamingLm.compactLm(spark, lmDir) // must NOT fold the torn wave
    StreamingLm.updateBatch(lmDir)(extra.toDF("doc_id", "text"), 3L) // replay
    val tornDocs = docs.unionByName(extra.toDF("doc_id", "text")).persist()
    val triT = graft.queries.PipelineQueries.lmTrigrams(tornDocs).persist()
    val wantTorn = graft.queries.PipelineQueries.lmScoreOver(
        graft.queries.PipelineQueries.lmTrigrams(probe),
        triT.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("cb")),
        triT.groupBy(col("ctx")).agg(count(lit(1)).as("cu")),
        triT.select(col("w")).distinct().count())
      .orderBy(col("doc_id")).collect().toSeq
    triT.unpersist(false); tornDocs.unpersist(false)
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === wantTorn,
      "torn wave double-counted across a pre-replay compaction")

    // ---- compaction: invisible to readers, bounds the generations ----
    StreamingLm.compactLm(spark, lmDir)
    assert(StreamingLm.compactionHorizon(spark, lmDir) === Some(3L))
    intercept[IllegalArgumentException] {
      StreamingLm.scoreAt(spark, lmDir, probe, 2L).collect()
    }
    assert(StreamingLm.scoreAt(spark, lmDir, probe, 3L).collect().toSeq === wantTorn,
      "the horizon point stopped scoring after compaction")
    assert(new java.io.File(s"$lmDir/waves/gen=-1").exists() &&
      new java.io.File(s"$lmDir/waves").listFiles().count(_.getName.startsWith("gen=")) == 1,
      "compaction did not fold the generations")
    val gotCompact = StreamingLm.score(spark, lmDir, probe).collect().toSeq
    assert(gotCompact === wantTorn, "compaction changed what the scorer sees")

    // ---- replay of a FOLDED wave (committed on disk, stream
    // checkpoint lost, compaction ran before the restart): the marker
    // is gone with its generation, so the horizon guard is what stops
    // the double-count (round-14 review finding #2)
    StreamingLm.updateBatch(lmDir)(wave2.toSeq.toDF("doc_id", "text"), 2L)
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === gotCompact,
      "a folded wave's replay re-landed its counts past the horizon guard")

    for (dir <- Seq(lmDir, ckpt))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("mid-swap crash: an updateBatch-first restart recovers waves_old instead of destroying it") {
    import spark.implicits._
    val lmDir = Files.createTempDirectory("slm_swap").toString
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val rws = docs.as[(Long, String)].collect().sortBy(_._1)
    val (w0, w1) = rws.splitAt(rws.length / 2)
    StreamingLm.updateBatch(lmDir)(w0.toSeq.toDF("doc_id", "text"), 0L)
    StreamingLm.updateBatch(lmDir)(w1.toSeq.toDF("doc_id", "text"), 1L)
    val probe = w1.take(20).toSeq.toDF("doc_id", "text")
    val pre = StreamingLm.score(spark, lmDir, probe).collect().toSeq

    // hard crash between compactLm's two renames: waves renamed aside,
    // replacement not yet in place
    assert(new java.io.File(s"$lmDir/waves")
      .renameTo(new java.io.File(s"$lmDir/waves_old")))
    // the at-least-once stream replays a COMMITTED wave first (its
    // checkpoint was lost with the crash). Pre-fix (r14 advice) this
    // recreated a fresh waves/ root — the marker check and the horizon
    // read both miss with waves/ gone — and the next compactLm then saw
    // waves exists, skipped rename-back, and DELETED waves_old: all
    // pre-crash LM state silently destroyed.
    StreamingLm.updateBatch(lmDir)(w1.toSeq.toDF("doc_id", "text"), 1L)
    assert(!new java.io.File(s"$lmDir/waves_old").exists(),
      "updateBatch entry did not run the rename-back recovery")
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === pre,
      "post-recovery state diverged (wave double-landed or state lost)")
    StreamingLm.compactLm(spark, lmDir)
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === pre,
      "compaction after the recovered crash changed reader-visible state")

    // the read path recovers too: crash again, then serve
    assert(new java.io.File(s"$lmDir/waves")
      .renameTo(new java.io.File(s"$lmDir/waves_old")))
    assert(StreamingLm.score(spark, lmDir, probe).collect().toSeq === pre,
      "score() served empty state in the mid-swap window")
    assert(!new java.io.File(s"$lmDir/waves_old").exists())

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lmDir))
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
