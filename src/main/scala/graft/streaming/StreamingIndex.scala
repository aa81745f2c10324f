package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Ivf, Pq, TowerMemo}

/** Streaming freshness twin of q92 (frozen-quantizer index append):
  * q92 proves IN BATCH that appending a new generation to an IVFADC
  * index under FROZEN quantizers yields exactly the search results of
  * re-encoding the full corpus — this object is the serving-side
  * counterpart, where the new vectors arrive as a STREAM and
  * `foreachBatch` appends their codes to the on-disk index while the
  * old generation's codes never change (the freshness path every
  * vector store runs between full rebuilds).
  *
  * Why row-locality makes the twin exact: given frozen centroids and
  * codebooks, a vector's cell assignment, residual, and PQ codes are
  * pure per-row functions — batch boundaries cannot change them, so a
  * stream that appends each micro-batch's codes produces a codes table
  * IDENTICAL (as a set) to the batch q92 tower's, and the search over
  * it reproduces q92's rows bit-for-bit (integer centroid/codebook
  * state round-trips parquet losslessly — the [[graft.ops.Ivf.buildIndex]]
  * argument; StreamingIndexSpec asserts equality outright).
  *
  * Restart safety (the StreamingCorpus discipline applied to the
  * index): `foreachBatch` is at-least-once, so each micro-batch writes
  * its codes under its own `gen=<batchId>` partition dir with
  * overwrite semantics and a replayed batch that already has its
  * `_SUCCESS` marker is skipped — appends are idempotent, and the old
  * generation (`gen=-1`) is never opened for write after the build.
  *
  * The lifecycle's other half: [[deleteBatch]]/[[deleteStream]]
  * tombstone vec_ids (codes stay immutable; search anti-joins the
  * tombstones via [[liveCodes]]) and [[compact]] rewrites the codes
  * table to exactly its live rows with an order-independent row digest
  * certified against the re-read files before the old dirs are
  * swapped out — build → append → delete → compact, each step
  * spec-proven.
  *
  * Scale shape: the build is q92's train-once path; each append reads
  * the centroid and 512-row codebook tables onto the driver once
  * ([[graft.ops.Ivf.local]]) and encodes the micro-batch in one
  * map-only pass ([[graft.ops.Pq.ivfadcRows]], the build's encoder);
  * the search reads the same two states once, codes, and
  * shortlist-sized vector fetches — [[graft.ops.Pq.probeTopK]]'s
  * serving shape.
  */
object StreamingIndex {

  /** Train both quantizers on the ⌊4n/5⌋ old generation (q92's cut),
    * persist the frozen index (integer centroid/codebook state —
    * lossless in parquet), and write the old generation's
    * `(vec_id, m, cid, cell)` code rows under `codes/gen=-1`.
    * Returns the cut.
    */
  def buildFrozen(s: SparkSession, sfDir: String, indexDir: String): Long = {
    store(s, indexDir)
    val cut = TowerMemo.generationCut(s, sfDir)
    val old = Ivf.prep(Tables.embeddings(s, sfDir)).filter(col("vec_id") < cut).persist()
    val cent = Ivf.trainCells(old)
    cent.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val cb = Pq.trainCodebooks(Pq.residualsUnder(old, cent))
    cb.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    Pq.codeRows(Pq.ivfadcRows(old, cent, cb))
      .write.mode("overwrite").parquet(s"$indexDir/codes/gen=-1")
    old.unpersist(false)
    cut
  }

  /** The index store, healed ([[GenStore.open]]): `codes` is the
    * swapped table and carries the horizons.
    */
  private def store(s: SparkSession, indexDir: String) =
    GenStore.open(s, indexDir, "codes")

  /** The frozen centroid and codebook states read onto the driver
    * ([[graft.ops.Ivf.local]]), the two collects run concurrently —
    * the operands of every append and search.
    */
  private def frozenStates(s: SparkSession, indexDir: String): (DataFrame, DataFrame) = {
    var cent, cb: DataFrame = null
    graft.queries.parDrive(
      () => cent = Ivf.local(Tables.parquet(s, s"$indexDir/centroids")),
      () => cb = Ivf.local(Tables.parquet(s, s"$indexDir/codebooks")))
    (cent, cb)
  }

  /** Encode one micro-batch of `(vec_id, embedding)` rows through the
    * FROZEN quantizers and write its codes under `codes/gen=<batchId>`.
    * Idempotent: a replayed batch whose `_SUCCESS` marker exists is
    * skipped; a marker-less crash leftover is overwritten.
    */
  def appendBatch(indexDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val st = store(s, indexDir)
    if (st.committed("codes", batchId)) return
    // a FOLDED wave's replay (committed on disk, stream checkpoint
    // lost, compaction ran before the restart) finds no marker —
    // compaction deleted its generation — and would re-land DUPLICATE
    // code rows (doubling ADC sums). The append stream's batchIds are
    // monotone within THEIR OWN sequence (deletes run a separate
    // stream/sequence), so the guard compares against the highest
    // folded CODES generation, never the mixed as-of horizon
    // (round-14 review + the spec's independent-sequence lesson).
    if (st.folded(batchId, "_HORIZON_APPEND")) return
    val (cent, cb) = frozenStates(s, indexDir)
    Pq.codeRows(Pq.ivfadcRows(Ivf.prep(batch), cent, cb))
      .write.mode("overwrite").parquet(s"$indexDir/codes/gen=$batchId")
  }

  /** Start the appender over a streaming `(vec_id, embedding)` frame. */
  def appendStream(vecs: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        appendBatch(indexDir)(b.toDF(), id); ()
      }
      .start()

  /** Tombstone one micro-batch of deleted `vec_id`s under
    * `tombs/gen=<batchId>` — the DELETE half of the index lifecycle
    * (GDPR erasure, dedup-retraction): codes are immutable on disk, so
    * deletion is an anti-join marker until [[compact]] rewrites.
    * Idempotent exactly like [[appendBatch]].
    */
  def deleteBatch(indexDir: String)(ids: DataFrame, batchId: Long): Unit = {
    val st = store(ids.sparkSession, indexDir)
    if (st.committed("tombs", batchId)) return
    // folded-wave replay guard for the DELETE sequence (round-15): the
    // "replayed tombstone of an erased id is a no-op" algebra holds only
    // while vec_ids are never re-appended — tombstones apply as an
    // unordered distinct anti-join, not generation-ordered against
    // appends (unlike the corpus store's revive machinery), so a
    // post-compaction replay of an old delete wave would kill a
    // re-admitted vector with the same vec_id. Delete batchIds are
    // monotone within their own sequence; compact records the folded
    // tombstone high-water mark as _HORIZON_DELETE.
    if (st.folded(batchId, "_HORIZON_DELETE")) return
    ids.select(col("vec_id")).write.mode("overwrite")
      .parquet(s"$indexDir/tombs/gen=$batchId")
  }

  /** Start the deletion appender over a streaming `(vec_id)` frame. */
  def deleteStream(ids: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        deleteBatch(indexDir)(b.toDF(), id); ()
      }
      .start()

  /** Code rows over an explicit committed-generation list — the single
    * read body [[liveCodes]], [[searchAtTopK]], and [[compact]] share.
    * COMMITTED dirs only (round-15, the r14 advice): a marker-less
    * crash leftover holds partial part-files that nothing guards — if a
    * raw read folded them into `gen=-1`, the wave's replay (which the
    * horizon does NOT skip: the torn gen never entered
    * `_HORIZON_APPEND`, having no `_SUCCESS`) would re-land the full
    * wave on top — permanent duplicate code rows.
    */
  private def codesOver(s: SparkSession, indexDir: String,
      gens: Seq[Long]): DataFrame =
    if (gens.isEmpty)
      s.range(0).select(col("id").as("vec_id"),
        col("id").cast("int").as("m"), col("id").cast("int").as("cid"),
        col("id").cast("int").as("cell"))
    else Tables.parquet(s, gens.map(g => s"$indexDir/codes/gen=$g"),
      Some(s"$indexDir/codes"))
      .select(col("vec_id"), col("m"), col("cid"), col("cell"))

  /** Distinct tombstoned ids over an explicit committed-generation
    * list, or None when there are none (same committed-only rule: a
    * torn tombstone wave must not half-apply — its replay completes it).
    */
  private def tombsOver(s: SparkSession, indexDir: String,
      gens: Seq[Long]): Option[DataFrame] =
    if (gens.isEmpty) None
    else Some(Tables.parquet(s, gens.map(g => s"$indexDir/tombs/gen=$g"),
      Some(s"$indexDir/tombs"))
      .select(col("vec_id")).distinct())

  private def minusTombs(codes: DataFrame, t: Option[DataFrame]): DataFrame =
    t.fold(codes)(tt => codes.join(tt, Seq("vec_id"), "left_anti"))

  /** The index's LIVE code rows: every COMMITTED appended generation
    * minus the COMMITTED tombstoned ids (a dup-free anti-join —
    * tombstones are vec_id-grained, codes are (vec_id, m)-grained).
    */
  def liveCodes(s: SparkSession, indexDir: String): DataFrame = {
    val st = store(s, indexDir)
    minusTombs(codesOver(s, indexDir, st.gens("codes")),
      tombsOver(s, indexDir, st.gens("tombs")))
  }

  // ---- AS-OF serving: the labelsAt / liveCorpusAt pattern over code
  // generations — the index's state as of the END of wave `batchId`,
  // exact at or above the compaction horizon, failing loudly below it
  // (compaction materializes the live set and drops the tombstones, so
  // older points are gone).

  /** The compaction horizon (highest wave folded by [[compact]]), or
    * None if never compacted. As-of reads below it are
    * unreconstructible.
    */
  def compactionHorizon(s: SparkSession, indexDir: String): Option[Long] =
    store(s, indexDir).horizon()

  /** AUDIT-grade as-of search: [[searchTopK]]'s exact plan over the
    * index state as of the END of wave `batchId`. Exact at or above
    * the compaction horizon; throws below it (the generations and
    * tombstones needed to reconstruct the point were folded away — an
    * audit must fail loudly, not serve a silently-wrong index).
    */
  def searchAtTopK(s: SparkSession, sfDir: String, indexDir: String,
      batchId: Long, k: Int = 5): DataFrame = {
    val st = store(s, indexDir)
    st.refuseBelow("searchAtTopK", batchId)
    // committed code generations ≤ batchId (the compacted `gen=-1` sorts
    // below any wave) minus ids tombstoned at or below it
    val codes = minusTombs(
      codesOver(s, indexDir, st.gens("codes").filter(_ <= batchId)),
      tombsOver(s, indexDir, st.gens("tombs").filter(_ <= batchId)))
    searchOver(s, sfDir, codes, indexDir, k)
  }

  /** Digest-certified compaction: rewrite the codes table to exactly
    * its live rows (dropping tombstoned ids and collapsing the
    * generation dirs), prove the rewrite lost nothing — an
    * order-independent row digest of the live set BEFORE must equal
    * the digest of the compacted files READ BACK (attesting the sink's
    * actual bytes, the q57 manifest discipline) — then swap dirs and
    * drop the tombstones. Throws (leaving the original index intact)
    * on any digest mismatch.
    */
  def compact(s: SparkSession, indexDir: String): Unit = {
    val st = store(s, indexDir)
    // ONE committed-generation listing feeds the fold, the digest, the
    // write, AND the horizons (the single-listing rule: a re-listing
    // could claim a concurrently committed wave as folded, or fold one
    // it does not claim). The `live` frame resolves its file index from
    // exactly these dirs at creation and both actions reuse it.
    val foldedCodes = st.gens("codes")
    val foldedTombs = st.gens("tombs")
    val live = minusTombs(codesOver(s, indexDir, foldedCodes),
      tombsOver(s, indexDir, foldedTombs))
    // three horizons: the mixed as-of one searchAtTopK enforces, and one
    // per INDEPENDENT batchId sequence for the replay guards — appends
    // (appendBatch) and deletes (deleteBatch: tombstones apply as an
    // unordered distinct anti-join, so a post-compaction replay of an old
    // delete wave would kill a re-admitted vector with the same vec_id)
    st.foldAndSwap(Seq("_HORIZON" -> (foldedCodes ++ foldedTombs),
        "_HORIZON_APPEND" -> foldedCodes, "_HORIZON_DELETE" -> foldedTombs),
        drop = Seq("tombs")) {
      GenStore.certifiedWrite("index", live, s"${st.compacting("codes")}/gen=-1")
    }
  }

  /** Compaction scheduling policy — the storage half of the rebuild
    * decision (q144's refresh audit is the recall half; this is "when
    * do I pay the rewrite"). Compaction is DUE when either
    *  - tombstoned ids reach `maxTombRatio` of the appended code ids
    *    (each live search anti-joins that dead mass per query), or
    *  - the codes table has accumulated more than `maxGens` generation
    *    dirs (per-probe file-listing and small-file overhead — each
    *    micro-batch appends its own dir, so a long-running stream
    *    fragments without a bound).
    * Both probes read metadata-scale state only: one listing and
    * two distinct-counts (tombstone population vs code ids — bounded by
    * the id populations, never the (id × m) code mass).
    */
  def compactionDue(s: SparkSession, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    // the post-crash mid-swap state (codes renamed aside, replacement
    // not yet in place) reports DUE, so a serving loop driving recovery
    // purely through maybeCompact reaches compact; probed before
    // anything opens (and so heals) the store
    if (GenStore.torn(s, indexDir, "codes")) return true
    val st = store(s, indexDir)
    if (!st.exists("codes")) return false // nothing built
    val codeGens = st.gens("codes")
    if (codeGens.size > maxGens) return true
    // committed generations only (the liveCodes rule): a marker-less
    // crash leftover may hold no readable parquet at all
    val nTomb = tombsOver(s, indexDir, st.gens("tombs")).fold(0L)(_.count())
    if (nTomb == 0) return false
    val nIds = codesOver(s, indexDir, codeGens)
      .select(col("vec_id")).distinct().count()
    // an all-tombstoned index (nIds counts pre-delete appends, so it is
    // never 0 when nTomb > 0) compacts unconditionally
    nTomb.toDouble >= maxTombRatio * nIds.toDouble
  }

  /** Run [[compact]] iff [[compactionDue]]; returns whether it fired —
    * the call a serving loop makes after each delete/append wave.
    */
  def maybeCompact(s: SparkSession, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    val due = compactionDue(s, indexDir, maxTombRatio, maxGens)
    if (due) compact(s, indexDir)
    due
  }

  /** q92-shaped search over the on-disk index (frozen quantizers +
    * streamed codes, minus tombstones):
    * `(query_id, rank, cell, vec_id, is_new, adc, d2)`
    * — bit-identical to the batch q92 rows once every new vector has
    * been appended (and none deleted).
    */
  def searchTopK(s: SparkSession, sfDir: String, indexDir: String,
      k: Int = 5): DataFrame =
    searchOver(s, sfDir, liveCodes(s, indexDir), indexDir, k)

  /** The q92-shaped search over an arbitrary code frame — shared by
    * the live path ([[searchTopK]]) and the as-of path
    * ([[searchAtTopK]]) so the two can never drift.
    */
  private def searchOver(s: SparkSession, sfDir: String, codes: DataFrame,
      indexDir: String, k: Int): DataFrame = {
    val (cent, cb) = frozenStates(s, indexDir)
    val emb = Ivf.prep(Tables.embeddings(s, sfDir))
    val probes = Ivf.probes(
      emb.filter(col("vec_id") < Ivf.ProbeN).withColumnRenamed("vec_id", "query_id"), cent)
    val dts = Pq.queryResidualTables(probes, cent, cb)
    val sl = Pq.ivfAdcShortlist(
      codes.select(col("vec_id"), col("m"), col("cid"), col("cell")), dts)
    Pq.rerankTopK(sl, emb, k = k, extra = Seq("cell"))
      .withColumn("is_new", col("vec_id") >= lit(TowerMemo.generationCut(s, sfDir)))
      .select(col("query_id"), col("rank"), col("cell"), col("vec_id"),
        col("is_new"), col("adc"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }
}
