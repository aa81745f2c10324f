package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingCorpus, StreamingGraph, StreamingIndex, StreamingLabels}

/** A hard crash between a compaction's two renames leaves `<t>_old`
  * without `<t>`. The at-least-once stream's restart replays a batch
  * write first: it must heal that state before writing (a write that
  * recreates a fresh `<t>` root hands the next compaction a "stale"
  * `<t>_old` to delete — every pre-crash generation lost), and a read in
  * the window must serve the pre-crash state. One case per store, in the
  * StreamingLmSpec mid-swap pattern (which pins the LM's), plus the
  * corpus's folded-wave replay guard.
  */
class TornSwapSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  /** The crash state: `<t>` renamed aside, no replacement in place. */
  private def tear(dir: String, t: String): Unit =
    assert(new File(s"$dir/$t").renameTo(new File(s"$dir/${t}_old")), s"could not tear $t")

  private def assertHealed(dir: String, t: String, when: String): Unit = {
    assert(new File(s"$dir/$t").exists(), s"$t missing $when")
    assert(!new File(s"$dir/${t}_old").exists(), s"${t}_old left behind $when")
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def cleanup(dirs: String*): Unit = {
    dirs.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(new File(p)))
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  private def docs: DataFrame = Tables.documents(spark, d)
    .select(col("doc_id"), col("source"), col("lang"), col("text"))

  test("corpus: a write-first restart after a torn swap keeps every pre-crash row") {
    val out = Files.createTempDirectory("graft_torn_corpus").toString
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length - 10)
    StreamingCorpus.updateBatch(out)(docs.filter(col("doc_id") < cut), 0L)
    StreamingCorpus.compactCorpus(spark, out)
    def live() = rowSet(StreamingCorpus.liveCorpus(spark, out))
    val pre = live()
    assert(pre.nonEmpty)

    tear(out, "corpus")
    val wave = docs.filter(col("doc_id") >= cut)
    StreamingCorpus.updateBatch(out)(wave, 1L)
    assertHealed(out, "corpus", "after the first write")
    val want = pre ++ rowSet(
      wave.filter(graft.queries.PipelineQueries.qualityGate(col("text"))))
    assert(want.size > pre.size, "no wave row passes the gate — the case is vacuous")
    assert(live() === want, "pre-crash rows lost or the wave missing after a write-first restart")
    StreamingCorpus.compactCorpus(spark, out)
    assertHealed(out, "corpus", "after compaction")
    assert(live() === want, "compaction after the torn swap lost pre-crash rows")

    // the read path heals too
    tear(out, "corpus")
    assert(live() === want, "liveCorpus served the torn store")
    assertHealed(out, "corpus", "after a read")
    cleanup(out)
  }

  test("corpus: replays of folded update and delete waves are skipped") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_corpus_replay").toString
    val passing = docs.filter(graft.queries.PipelineQueries.qualityGate(col("text")))
      .orderBy(col("doc_id")).as[(Long, String, String, String)].collect()
    assert(passing.length >= 20)
    val (orig, donors) = (passing.take(10), passing.slice(10, 20))
    val revised = orig.zip(donors).map { case (o, dn) => (o._1, o._2, o._3, dn._4) }
    def wave(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    val victim = orig.head._1
    StreamingCorpus.updateBatch(out)(wave(orig.toSeq), 0L)
    StreamingCorpus.updateBatch(out)(wave(revised.toSeq), 1L)
    StreamingCorpus.deleteBatch(out)(Seq(victim).toDF("doc_id"), 2L)
    StreamingCorpus.updateBatch(out)(wave(revised.take(1).toSeq), 3L) // revive
    def live() = rowSet(StreamingCorpus.liveCorpus(spark, out))
    val want = revised.map(r => Seq[Any](r._1, r._2, r._3, r._4)).toSet
    assert(live() === want)
    StreamingCorpus.compactCorpus(spark, out)
    assert(StreamingCorpus.compactionHorizon(spark, out) === Some(3L))
    assert(live() === want)

    // the stream lost its checkpoint after the compaction: waves 0 and 2
    // replay, their commit markers gone with their generations
    StreamingCorpus.updateBatch(out)(wave(orig.toSeq), 0L)
    assert(live() === want, "a folded update wave's replay served its old text again")
    StreamingCorpus.deleteBatch(out)(Seq(victim).toDF("doc_id"), 2L)
    assert(live() === want, "a folded delete wave's replay killed a revived doc")
    assert(!new File(s"$out/tombs").exists(), "a folded wave's tombstones re-landed")
    cleanup(out)
  }

  test("labels: a write-first restart after a torn pair-log swap keeps the pre-crash pairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_torn_labels").toString
    StreamingLabels.mergeBatch(dir)(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db"), 0L)
    StreamingLabels.compactPairLog(spark, dir)
    def pairs() = rowSet(StreamingLabels.livePairs(spark, dir))
    val pre = pairs()
    assert(pre.size === 3)

    tear(dir, "pairlog")
    StreamingLabels.mergeBatch(dir)(Seq((20L, 21L)).toDF("da", "db"), 1L)
    assertHealed(dir, "pairlog", "after the first write")
    val want = pre + Seq[Any](20L, 21L)
    assert(pairs() === want, "pre-crash pairs lost after a write-first restart")
    StreamingLabels.compactPairLog(spark, dir)
    assertHealed(dir, "pairlog", "after compaction")
    assert(pairs() === want, "compaction after the torn swap lost pre-crash pairs")
    assert(StreamingLabels.compactionHorizon(spark, dir) === Some(1L))

    tear(dir, "pairlog")
    assert(StreamingLabels.compactionHorizon(spark, dir) === Some(1L),
      "the horizon read missed on the torn store")
    assertHealed(dir, "pairlog", "after a read")
    cleanup(dir)
  }

  test("labels: replays of folded merge, delete and update waves are skipped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_labels_replay").toString
    def merge(b: Long) = StreamingLabels.mergeBatch(dir)(Seq((1L, 2L), (2L, 3L)).toDF("da", "db"), b)
    def delete(b: Long) = StreamingLabels.deleteBatch(dir)(Seq(2L).toDF("id"), b)
    def update(b: Long) =
      StreamingLabels.updateBatch(dir)(Seq(2L).toDF("id"), Seq((2L, 3L)).toDF("da", "db"), b)
    merge(0L); delete(1L); update(2L)
    def pairs() = StreamingLabels.livePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def labels() = StreamingLabels.labels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(when: String): Unit = {
      val p = pairs()
      assert(p === Set((2L, 3L)), s"live pairs wrong $when")
      val cc = graft.ops.Dedup.fromPairs(p.toSeq.toDF("da", "db"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels() === cc, s"labels diverged from the live pair log's components $when")
    }
    check("before compaction")
    StreamingLabels.compactPairLog(spark, dir)
    assert(StreamingLabels.compactionHorizon(spark, dir) === Some(2L))
    check("after compaction")

    // the stream lost its checkpoint after the compaction: every wave
    // replays, its pair-log, tombstone and revive markers gone with the fold
    for ((what, replay, b) <- Seq(("merge", merge _, 0L), ("delete", delete _, 1L),
        ("update", update _, 2L))) {
      replay(b)
      check(s"after the folded $what wave's replay")
      for (t <- Seq("tombs", "revives"))
        assert(!new File(s"$dir/$t").exists(), s"the folded $what wave re-landed $t")
      assert(!new File(s"$dir/pairlog/gen=$b").exists(), s"the folded $what wave re-landed its pairs")
    }
    cleanup(dir)
  }

  test("index: a write-first restart after a torn codes swap keeps the frozen codes") {
    val dir = Files.createTempDirectory("graft_torn_index").toString
    val cut = StreamingIndex.buildFrozen(spark, d, dir)
    StreamingIndex.compact(spark, dir)
    def codes() = rowSet(StreamingIndex.liveCodes(spark, dir))
    def ids() = StreamingIndex.liveCodes(spark, dir).select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val pre = codes()
    val preIds = ids()
    assert(preIds.nonEmpty && preIds.forall(_ < cut))

    tear(dir, "codes")
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    StreamingIndex.appendBatch(dir)(emb.filter(col("vec_id") >= cut), 0L)
    assertHealed(dir, "codes", "after the first write")
    val newIds = emb.filter(col("vec_id") >= cut).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty)
    def check(when: String): Unit = {
      assert(pre.subsetOf(codes()), s"frozen codes lost $when")
      assert(ids() === preIds ++ newIds, s"served vec_ids wrong $when")
    }
    check("after a write-first restart")
    StreamingIndex.compact(spark, dir)
    assertHealed(dir, "codes", "after compaction")
    check("after compaction")
    cleanup(dir)
  }

  test("graph: a write-first restart after a torn swap of edges, asg or members keeps the frozen graph") {
    val dir = Files.createTempDirectory("graft_torn_graph").toString
    val cut = StreamingGraph.buildFrozen(spark, d, dir)
    StreamingGraph.compact(spark, d, dir)
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    def edges() = rowSet(StreamingGraph.liveEdges(spark, dir))
    def asg() = rowSet(StreamingGraph.liveAsg(spark, dir))
    def members() = StreamingGraph.liveMembers(spark, dir).collect().map(_.getLong(0)).toSet
    for ((t, batch) <- Seq("edges", "asg", "members").zipWithIndex) {
      val (e0, a0, m0) = (edges(), asg(), members())
      assert(e0.nonEmpty && a0.nonEmpty && m0.nonEmpty)
      tear(dir, t)
      val wave = emb.filter(col("vec_id") >= cut + 5 * batch && col("vec_id") < cut + 5 * batch + 5)
      val waveIds = wave.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(waveIds.size === 5)
      StreamingGraph.appendBatch(d, dir)(wave, batch.toLong)
      assertHealed(dir, t, "after the first write")
      def check(when: String): Unit = {
        assert(e0.subsetOf(edges()), s"pre-crash edges lost ($t torn) $when")
        assert(asg() === a0, s"pre-crash assignment lost ($t torn) $when")
        assert(members() === m0 ++ waveIds, s"members wrong ($t torn) $when")
      }
      check("after a write-first restart")
      StreamingGraph.compact(spark, d, dir)
      assertHealed(dir, t, "after compaction")
      check("after compaction")
    }
    cleanup(dir)
  }
}
