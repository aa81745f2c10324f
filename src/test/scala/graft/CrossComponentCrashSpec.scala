package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingCorpus, StreamingIndex, StreamingLabels}

/** A crash BETWEEN components of one composed wave, driven — not argued.
  * One re-crawl wave (batchId 1) spans three stores: the corpus row
  * (updateBatch), the dedup labels (updateBatch), and the ANN index
  * (delete old vec + append its replacement — the documented index-update
  * model). The driver's recovery contract is at-least-once whole-wave
  * re-drive: each component skips-or-applies idempotently on its own
  * commit marker. This spec kills the pipeline at BOTH inter-component
  * windows:
  *
  *  - KILL A — corpus committed, labels not: the corpus already serves
  *    the re-crawled text while the labels still reflect the old
  *    content (asserted observable — the cross-store invariant holds
  *    only at composed-wave boundaries, the updateBatch scaladoc
  *    contract). The whole-wave retry must skip the corpus write
  *    byte-identically and land the labels.
  *  - KILL B — corpus and labels committed, index not: the retry must
  *    skip BOTH earlier components byte-identically and land the index
  *    wave.
  *
  * After the second retry completes the wave, the standing invariants
  * must hold: labels ≡ CC(livePairs); the corpus serves the new text;
  * the duplicate the re-crawl introduced is detectable from exactly
  * the state the system holds; search serves the replacement vector
  * and never the tombstoned one.
  */
class CrossComponentCrashSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  test("whole-wave retry converges from a kill at either inter-component window") {
    import spark.implicits._
    val out = Files.createTempDirectory("xcc_corpus").toString
    val labelDir = Files.createTempDirectory("xcc_labels").toString
    val idxDir = Files.createTempDirectory("xcc_index").toString

    // ---- the index-update model: searches rerank from the
    // corpus embedding table, so a re-crawl's replacement vector must be
    // an id that exists there — delete(old vec) + append(new vec). Pick
    // the wave's vectors from a fully-built REFERENCE index: vNew = a
    // SERVED appended vector (held OUT of wave 0 below, appended by the
    // composed wave), vOld = another served vector (tombstoned by it).
    val refIdx = Files.createTempDirectory("xcc_refidx").toString
    val cutRef = StreamingIndex.buildFrozen(spark, d, refIdx)
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    StreamingIndex.appendBatch(refIdx)(emb.filter(col("vec_id") >= cutRef), 0L)
    val refServed = StreamingIndex.searchTopK(spark, d, refIdx).collect()
      .map(_.getAs[Long]("vec_id")).distinct.sorted
    val vNew = refServed.filter(_ >= cutRef).last
    val vOld = refServed.filter(v => v != vNew).last
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(refIdx))

    // ---- wave 0: initial state in all three stores (vNew held out —
    // it is the composed wave's replacement vector) ----
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    StreamingCorpus.updateBatch(out)(docs, 0L)
    val pairs0 = graft.queries.TextQueries.dupPairs(spark, d)
    StreamingLabels.mergeBatch(labelDir)(pairs0, 0L)
    val cut = StreamingIndex.buildFrozen(spark, d, idxDir)
    StreamingIndex.appendBatch(idxDir)(
      emb.filter(col("vec_id") >= cut && col("vec_id") =!= vNew), 0L)

    def liveCorpusMap() = StreamingCorpus.liveCorpus(spark, out)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def labelMap() = StreamingLabels.labels(spark, labelDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // ---- the composed re-crawl: doc A re-crawls to doc B's text
    // (introducing verified pair (A,B)); A's vector re-crawls as a new
    // vec_id carrying a served vector's embedding ----
    val live0 = liveCorpusMap()
    val lbl0 = labelMap()
    val pairedIds = pairs0.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    // A, B: both corpus-served, NOT already near-dups of each other
    // (B unpaired entirely, so the introduced pair is genuinely new)
    val corpusIds = live0.keySet.toSeq.sorted
    val a = corpusIds.find(i => !pairedIds.contains(i)).get
    val b = corpusIds.find(i => i != a && !pairedIds.contains(i) &&
      live0(i) != live0(a)).get
    val donorText = live0(b)
    val aRow = docs.filter(col("doc_id") === a).collect()(0)

    val docsU = Tables.documents(spark, d).select(col("doc_id"),
      when(col("doc_id") === a, donorText).otherwise(col("text")).as("text"))
    val wavePairs = graft.queries.TextQueries.simhash64PairsOf(docsU)
      .select(col("da"), col("db"))
      .filter(col("da") === a || col("db") === a)
      .localCheckpoint(true)
    assert(wavePairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .contains((math.min(a, b), math.max(a, b))),
      "re-crawl did not introduce the (A,B) pair — vacuous setup")

    val vNewRow = emb.filter(col("vec_id") === vNew)

    // the three components of wave 1, exactly as a serving driver
    // re-drives them (each idempotent on its own marker)
    def corpusStep(): Unit = StreamingCorpus.updateBatch(out)(
      Seq((a, aRow.getString(1), aRow.getString(2), donorText))
        .toDF("doc_id", "source", "lang", "text"), 1L)
    def labelsStep(): Unit = StreamingLabels.updateBatch(labelDir)(
      Seq(a).toDF("id"), wavePairs, 1L)
    def indexStep(): Unit = {
      StreamingIndex.deleteBatch(idxDir)(Seq(vOld).toDF("vec_id"), 1L)
      StreamingIndex.appendBatch(idxDir)(vNewRow, 1L)
    }

    // ---- KILL A: corpus commits, the process dies before labels ----
    corpusStep()
    val liveA = liveCorpusMap()
    assert(liveA(a) === donorText, "corpus did not serve the re-crawled text")
    assert(labelMap() === lbl0,
      "labels moved before their component ran — kill point A is not real")
    // the cross-store divergence IS observable mid-wave (the documented
    // boundary-only guarantee): corpus serves A=B's text, labels have
    // no (A,B) component yet
    assert(labelMap().get(a).isEmpty || labelMap()(a) != math.min(a, b),
      "mid-wave state already coherent — kill window vacuous")

    // whole-wave retry: corpus must skip byte-identically, labels land
    corpusStep()
    assert(liveCorpusMap() === liveA, "committed corpus step re-applied non-idempotently")
    labelsStep()
    val lblB = labelMap()
    assert(lblB(a) === math.min(a, b) && lblB(b) === math.min(a, b),
      "labels did not fold the re-crawl pair on retry")

    // ---- KILL B: die before the index step; retry the whole wave ----
    corpusStep()
    labelsStep()
    assert(liveCorpusMap() === liveA, "corpus changed on second retry")
    assert(labelMap() === lblB, "committed labels step re-applied non-idempotently")
    indexStep()

    // ---- converged invariants across all three stores ----
    val livePairs = StreamingLabels.livePairs(spark, labelDir)
    val ccNow = graft.ops.Dedup.fromPairs(livePairs.localCheckpoint(true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap() === ccNow, "labels ≢ CC(livePairs) after the composed wave")
    // the duplicate the re-crawl introduced is detectable from held state
    val liveIds = liveCorpusMap().keySet
    val violations = livePairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => liveIds(p._1) && liveIds(p._2))
    assert(violations.contains((math.min(a, b), math.max(a, b))),
      "the introduced duplicate is not detectable from held state")
    // index: the tombstoned vector never serves; its replacement does
    val post = StreamingIndex.searchTopK(spark, d, idxDir).collect()
    assert(post.forall(_.getAs[Long]("vec_id") != vOld),
      "tombstoned vector served after the composed wave")
    assert(post.exists(_.getAs[Long]("vec_id") == vNew),
      "replacement vector not served after the composed wave")

    for (dir <- Seq(out, labelDir, idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }
}
