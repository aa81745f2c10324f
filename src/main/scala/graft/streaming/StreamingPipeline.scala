package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PIPELINE-level wave atomicity + the consistent cross-store reader.
  *
  * The composed re-crawl wave spans up to five stores — corpus rows,
  * dedup labels, the PQ index, the graph index, the LM state — each
  * with its own per-component commit marker. Whole-wave retry CONVERGES
  * (CrossComponentCrashSpec), but a reader sampling the LIVE views
  * mid-wave can still observe corpus-committed/labels-uncommitted state
  * (the StreamingLabels.updateBatch scaladoc honestly enumerates the
  * three pre-commit windows). StreamingLm solved this WITHIN a service
  * with one `waves/gen=N/_WAVE` root; this object is the same rule ONE
  * LEVEL UP: the wave driver calls [[commitWave]] as its LAST act, and
  * consistent readers enter through [[at]]/[[current]], which resolve
  * every store AS OF the same committed wave id via the stores' own
  * as-of readers — so no reader ever sees a torn composed wave, crash
  * or no crash. (The live per-store views stay available for the
  * serving paths that tolerate boundary-only consistency; this is the
  * reader for everything that does not.)
  *
  * [[PipelineAt]] is also the cross-store AUDIT entry point the r14
  * verdict asked for: one wave id, all five stores, with the mutual-
  * consistency laws exposed where they are not already true by
  * construction (labels ≡ CC(livePairs) IS by construction —
  * StreamingLabels.labelsAt derives from the pair log; what needs
  * asserting across stores is that the SAME wave's deletes/updates are
  * visible in every store at that wave and invisible below it —
  * PipelineWaveSpec drives exactly that at every kill point).
  *
  * Layout: `pipeDir/waves/gen=<batchId>/_WAVE` — marker-only
  * generations (the components own their data; the pipeline owns only
  * the commit points). Idempotent on the marker; replays of committed
  * waves skip in each component already, so a re-driven wave ends with
  * a harmless re-create of an existing marker.
  *
  * At scale: one marker file per wave; [[at]] adds no reads beyond the
  * stores' own as-of plans.
  */
object StreamingPipeline {

  private val WaveMarker = "_WAVE"

  private def hfs(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())

  /** Commit wave `batchId` — the wave driver's LAST act, after every
    * component's own commit landed. Idempotent.
    */
  def commitWave(s: SparkSession, pipeDir: String, batchId: Long): Unit = {
    val f = hfs(s, pipeDir)
    val gen = new org.apache.hadoop.fs.Path(s"$pipeDir/waves/gen=$batchId")
    f.mkdirs(gen)
    f.create(new org.apache.hadoop.fs.Path(gen, WaveMarker), true).close()
  }

  /** Committed pipeline wave ids, ascending. */
  def committedWaves(s: SparkSession, pipeDir: String): Seq[Long] =
    GenStore.open(s, pipeDir).gens("waves", WaveMarker)

  /** The highest whole-wave commit — what every consistent reader
    * gates on. None before the first committed wave.
    */
  def horizon(s: SparkSession, pipeDir: String): Option[Long] =
    committedWaves(s, pipeDir).lastOption

  /** The store roots one composed pipeline writes. Optional stores are
    * null when the pipeline does not run them.
    */
  final case class Stores(corpusDir: String, labelDir: String,
      indexDir: String = null, graphDir: String = null, lmDir: String = null)

  /** Every store AS OF the same committed wave — the consistent reader
    * and the cross-store audit point. Frames are lazy; each store's own
    * as-of reader enforces its compaction horizon (throws below it).
    */
  final class PipelineAt private[StreamingPipeline] (s: SparkSession,
      stores: Stores, val wave: Long) {
    /** liveCorpusAt(wave). */
    def corpus: DataFrame = StreamingCorpus.liveCorpusAt(s, stores.corpusDir, wave)
    /** labelsAt(wave) — ≡ CC(livePairs at the wave) by construction. */
    def labels: DataFrame = StreamingLabels.labelsAt(s, stores.labelDir, wave)
    /** The live pair log at the wave (labels' source of truth). */
    def livePairs: DataFrame =
      StreamingLabels.livePairsAsOf(s, stores.labelDir, Some(wave + 1))
    /** PQ-index search at the wave. */
    def search(sfDir: String, k: Int = 5): DataFrame =
      StreamingIndex.searchAtTopK(s, sfDir, stores.indexDir, wave, k)
    /** Graph-index search at the wave. */
    def graphSearch(sfDir: String): DataFrame =
      StreamingGraph.searchAt(s, sfDir, stores.graphDir, wave)
    /** LM scoring of `docs` under the state at the wave. */
    def lmScore(docs: DataFrame): DataFrame =
      StreamingLm.scoreAt(s, stores.lmDir, docs, wave)
  }

  /** The consistent reader at an explicit wave: refuses an uncommitted
    * wave id loudly (a reader given a mid-wave id must fail, not serve
    * a torn composite).
    */
  def at(s: SparkSession, pipeDir: String, stores: Stores,
      wave: Long): PipelineAt = {
    if (!committedWaves(s, pipeDir).contains(wave))
      throw new IllegalArgumentException(
        s"pipeline wave $wave is not committed (committed: " +
          s"${committedWaves(s, pipeDir).mkString(",")}) — a consistent " +
          "reader must not observe a torn composed wave")
    new PipelineAt(s, stores, wave)
  }

  /** The consistent CURRENT view: everything as of the last whole-wave
    * commit — mid-wave component commits are invisible here by
    * construction. None before the first committed wave.
    */
  def current(s: SparkSession, pipeDir: String,
      stores: Stores): Option[PipelineAt] =
    horizon(s, pipeDir).map(new PipelineAt(s, stores, _))
}
