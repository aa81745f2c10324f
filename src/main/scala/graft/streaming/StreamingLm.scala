package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Streaming maintenance of the q155 admission-LM state — the service
  * twin q156 proved the fold law for (VERDICT r13 #4: every other
  * maintained artifact had one; the LM folded in-query only). The held
  * state is exactly q156's generation partials: trigram conditional
  * counts `cb(ctx, w)`, context counts `cu(ctx)`, and the vocabulary —
  * counts ADD across waves, the vocabulary merges as a DISTINCT UNION
  * (|V| does NOT add — the non-trivial half of the merge law). Each
  * micro-batch commits one generation under `lmDir/waves/gen=<batchId>`
  * holding ALL THREE partial tables plus a wave-level `_WAVE` marker
  * written last; reads fold the committed generations algebraically
  * (merge-on-read, the StreamingSketch discipline lifted to disk so the
  * state survives restarts), and [[compactLm]] periodically folds them
  * into one generation with a certified [[GenStore]] fold-and-swap so
  * the read cost stays bounded.
  *
  * Why ONE generation root instead of three parallel table roots (the
  * round-14 review's finding): a wave spans three tables, so both its
  * commit and its compaction must be atomic ACROSS them. The `_WAVE`
  * marker is the single commit point (a crash between the sub-writes
  * leaves partials nothing reads and nothing compacts — the replay
  * completes the wave; gating each table on its own `_SUCCESS` would
  * let a pre-replay compaction fold a torn wave and the replay then
  * double-count it, equally in cb and cu where the mass digest cannot
  * see it), and compaction swaps the ONE `waves` root (three parallel
  * roots swapped sequentially left a mid-swap crash window where vocab
  * still listed wave ids whose cb/cu dirs were already folded away —
  * readers went silently empty and a re-compaction could certify and
  * destroy the state at 0 == 0).
  *
  * Serve point = q155's scorer over the live state: [[score]] reuses
  * [[graft.queries.PipelineQueries.lmScoreOver]] and
  * [[graft.queries.PipelineQueries.lmTrigrams]] — the SAME gram
  * derivation and integer add-V surprisal expression as the oracled
  * queries, so the service cannot drift from them (StreamingLmSpec
  * proves wave-folded state ≡ batch retrain across 3 waves with a
  * crash + replay, plus the torn-wave × compaction window).
  *
  * Replay/crash safety: a replayed batch skips on the `_WAVE` marker
  * OR on `batchId ≤` the compaction horizon — the marker alone is not
  * enough, because compaction DELETES the folded generation dirs: a
  * wave committed on disk whose STREAM checkpoint had not yet
  * committed would replay after a compaction, find no marker, and
  * re-land its counts on top of the fold (the same double-count class;
  * batchIds are monotone per table, so `≤ horizon` identifies exactly
  * the replays of folded waves). All sub-writes are overwrite-mode and
  * derive deterministically from the batch, so a crash between them
  * replays into identical bytes.
  *
  * At scale: partials are gram-domain-sized (vocabulary² worst case,
  * never corpus-sized), the per-wave fold is one map-side-combining
  * hash agg per table, and scoring joins the wave on (ctx, w) equi-keys
  * — q155's shuffle shape.
  */
object StreamingLm {

  /** The wave-level commit marker (see the scaladoc: the single commit
    * point for a three-table wave).
    */
  private val WaveMarker = "_WAVE"

  /** The LM store, healed ([[GenStore.open]]): one swapped root, `waves`. */
  private def store(s: SparkSession, lmDir: String) = GenStore.open(s, lmDir, "waves")

  /** Fold one wave of documents `(doc_id, text)` into the LM state:
    * derive the wave's trigram partials and commit them as generation
    * `batchId`. Idempotent on the `_WAVE` marker and on the compaction
    * horizon (a folded wave's replay must skip even though compaction
    * deleted its marker).
    */
  def updateBatch(lmDir: String)(docs: DataFrame, batchId: Long): Unit = {
    val st = store(docs.sparkSession, lmDir)
    val genDir = s"$lmDir/waves/gen=$batchId"
    if (st.committed("waves", batchId, WaveMarker) || st.folded(batchId)) return
    val tri = graft.queries.PipelineQueries.lmTrigrams(
      docs.select(col("doc_id"), col("text"))).persist()
    try {
      tri.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("cb"))
        .write.mode("overwrite").parquet(s"$genDir/cb")
      tri.groupBy(col("ctx")).agg(count(lit(1)).as("cu"))
        .write.mode("overwrite").parquet(s"$genDir/cu")
      tri.select(col("w")).distinct()
        .write.mode("overwrite").parquet(s"$genDir/vocab")
    } finally tri.unpersist(false)
    st.mark(s"waves/gen=$batchId/$WaveMarker")
  }

  /** The live LM state folded across committed generations:
    * `(cb(ctx, w, cb), cu(ctx, cu), vocab(w))` — counts summed, the
    * vocabulary distinct-unioned. Empty-schema frames before the first
    * wave.
    */
  def state(s: SparkSession, lmDir: String): (DataFrame, DataFrame, DataFrame) =
    stateFor(s, lmDir, store(s, lmDir).gens("waves", WaveMarker))

  /** The folded state over an explicit committed-wave set — the single
    * fold body [[state]], [[scoreAt]], and [[compactLm]] share, so the
    * compactor can never fold a different generation set than it
    * records as its horizon (the single-listing rule).
    */
  private def stateFor(s: SparkSession, lmDir: String,
      gens: Seq[Long]): (DataFrame, DataFrame, DataFrame) = {
    def dirs(sub: String) = gens.map(g => s"$lmDir/waves/gen=$g/$sub")
    val cb =
      if (gens.isEmpty)
        s.range(0).select(lit("").as("ctx"), lit("").as("w"), col("id").as("cb"))
      else Tables.parquet(s, dirs("cb")).groupBy(col("ctx"), col("w"))
        .agg(sum(col("cb")).as("cb"))
    val cu =
      if (gens.isEmpty) s.range(0).select(lit("").as("ctx"), col("id").as("cu"))
      else Tables.parquet(s, dirs("cu")).groupBy(col("ctx"))
        .agg(sum(col("cu")).as("cu"))
    val vocab =
      if (gens.isEmpty) s.range(0).select(lit("").as("w"))
      else Tables.parquet(s, dirs("vocab")).select(col("w")).distinct()
    (cb, cu, vocab)
  }

  /** q155's serve point over the live state: score a wave of documents
    * `(doc_id, text)` — per doc `(n_tri, total_bits, n_unseen,
    * mbits_per_tri, flagged)`, the exact read-out (same scorer, same
    * gram derivation — [[graft.queries.PipelineQueries.lmScoreOver]]).
    */
  def score(s: SparkSession, lmDir: String, docs: DataFrame): DataFrame = {
    val (cb, cu, vocab) = state(s, lmDir)
    graft.queries.PipelineQueries.lmScoreOver(
      graft.queries.PipelineQueries.lmTrigrams(
        docs.select(col("doc_id"), col("text"))),
      cb, cu, vocab.count())
      .orderBy(col("doc_id"))
  }

  /** The compaction horizon (highest wave folded by [[compactLm]]), or
    * None if never compacted. As-of reads below it are
    * unreconstructible; wave replays at or below it are skipped.
    */
  def compactionHorizon(s: SparkSession, lmDir: String): Option[Long] =
    store(s, lmDir).horizon()

  /** AUDIT-grade as-of scoring: [[score]]'s exact plan over the LM
    * state as of the END of wave `batchId` (generation partials at or
    * below it). Exact at or above the compaction horizon; throws below
    * it — compaction folds the per-wave partials into one generation,
    * so older points are gone.
    */
  def scoreAt(s: SparkSession, lmDir: String, docs: DataFrame,
      batchId: Long): DataFrame = {
    val st = store(s, lmDir)
    st.refuseBelow("scoreAt", batchId)
    val (cb, cu, vocab) = stateFor(s, lmDir,
      st.gens("waves", WaveMarker).filter(_ <= batchId))
    graft.queries.PipelineQueries.lmScoreOver(
      graft.queries.PipelineQueries.lmTrigrams(
        docs.select(col("doc_id"), col("text"))),
      cb, cu, vocab.count())
      .orderBy(col("doc_id"))
  }

  /** Certified compaction: fold every committed generation into one
    * (`gen=-1`, below any future batchId) and swap the SINGLE `waves`
    * root through [[GenStore]]'s fold-and-swap (one root means no
    * cross-table mid-swap window). The LM has no row digest: certify by
    * total trigram mass (Σcb ≡ Σcu — both count every wave trigram once)
    * and vocabulary size read back from the sink's files. Counts only add
    * and nothing tombstones, so compaction is pure re-aggregation; the
    * recorded horizon serves [[scoreAt]] (which cannot reconstruct
    * per-wave points once the partials fold) and the replay guard in
    * [[updateBatch]]. Runs BETWEEN waves (maybeCompact's serving-loop
    * slot).
    */
  def compactLm(s: SparkSession, lmDir: String): Unit = {
    val st = store(s, lmDir)
    // ONE committed-wave listing feeds BOTH the fold and the horizon
    // (the single-listing rule): a generation is folded iff it is in
    // this list, and the horizon claims exactly these ids.
    val gens = st.gens("waves", WaveMarker)
    if (gens.isEmpty) return
    val (cb, cu, vocab) = stateFor(s, lmDir, gens)
    def mass(df: DataFrame, c: String): Long =
      df.agg(coalesce(sum(col(c)), lit(0L))).collect()(0).getLong(0)
    val (mb, mu, nv) = (mass(cb, "cb"), mass(cu, "cu"), vocab.count())
    if (mb != mu)
      throw new IllegalStateException(
        s"LM state inconsistent before compaction: sum(cb)=$mb != sum(cu)=$mu")
    val next = st.compacting("waves")
    st.foldAndSwap(Seq("_HORIZON" -> gens)) {
      cb.write.mode("overwrite").parquet(s"$next/gen=-1/cb")
      cu.write.mode("overwrite").parquet(s"$next/gen=-1/cu")
      vocab.write.mode("overwrite").parquet(s"$next/gen=-1/vocab")
      st.mark(s"waves_compacting/gen=-1/$WaveMarker")
      s.catalog.refreshByPath(next)
      val backMb = mass(Tables.parquet(s, s"$next/gen=-1/cb"), "cb")
      val backNv = Tables.parquet(s, s"$next/gen=-1/vocab").count()
      if (backMb != mb || backNv != nv)
        throw new IllegalStateException(
          s"LM compaction digest mismatch: mass $mb->$backMb vocab $nv->$backNv")
    }
  }

  /** Start the LM maintainer over a streaming document frame
    * `(doc_id, text)` — one generation per micro-batch.
    */
  def start(docs: DataFrame, lmDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        updateBatch(lmDir)(b.toDF(), id); ()
      }
      .start()
}
