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
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/codes/gen=$batchId")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) return
    // a FOLDED wave's replay (committed on disk, stream checkpoint
    // lost, compaction ran before the restart) finds no marker —
    // compaction deleted its generation — and would re-land DUPLICATE
    // code rows (doubling ADC sums). The append stream's batchIds are
    // monotone within THEIR OWN sequence (deletes run a separate
    // stream/sequence), so the guard compares against the highest
    // folded CODES generation, never the mixed as-of horizon
    // (round-14 review + the spec's independent-sequence lesson).
    if (batchId <= GenStore.readHorizon(
        s, s"$indexDir/codes/_HORIZON_APPEND").getOrElse(-1L)) return
    val (cent, cb) = frozenStates(s, indexDir)
    Pq.codeRows(Pq.ivfadcRows(Ivf.prep(batch), cent, cb))
      .write.mode("overwrite").parquet(dir.toString)
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
    val s = ids.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/tombs/gen=$batchId")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) return
    // folded-wave replay guard for the DELETE sequence (round-15): the
    // "replayed tombstone of an erased id is a no-op" algebra holds only
    // while vec_ids are never re-appended — tombstones apply as an
    // unordered distinct anti-join, not generation-ordered against
    // appends (unlike the corpus store's revive machinery), so a
    // post-compaction replay of an old delete wave would kill a
    // re-admitted vector with the same vec_id. Delete batchIds are
    // monotone within their own sequence; compact records the folded
    // tombstone high-water mark as _HORIZON_DELETE.
    if (batchId <= GenStore.readHorizon(
        s, s"$indexDir/codes/_HORIZON_DELETE").getOrElse(-1L)) return
    ids.select(col("vec_id")).write.mode("overwrite").parquet(dir.toString)
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

  private def tombsExist(s: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/tombs")
    p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }

  /** Code rows over an explicit committed-generation list — the single
    * read body [[liveCodes]], [[codesAsOf]], and [[compact]] share.
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
  def liveCodes(s: SparkSession, indexDir: String): DataFrame =
    minusTombs(
      codesOver(s, indexDir, GenStore.completeGenIds(s, s"$indexDir/codes")),
      tombsOver(s, indexDir, GenStore.completeGenIds(s, s"$indexDir/tombs")))

  // ---- AS-OF serving (round-14, VERDICT r13 #7): the labelsAt /
  // liveCorpusAt pattern over code generations — the index's state as
  // of the END of wave `batchId`, exact at or above the compaction
  // horizon, failing loudly below it (compaction materializes the live
  // set and drops the tombstones, so older points are gone).

  /** Code rows as of the END of wave `batchId`: committed code
    * generations ≤ batchId (the compacted `gen=-1` sorts below any
    * wave) minus ids tombstoned at or below it.
    */
  private def codesAsOf(s: SparkSession, indexDir: String,
      batchId: Long): DataFrame =
    minusTombs(
      codesOver(s, indexDir,
        GenStore.completeGenIds(s, s"$indexDir/codes").filter(_ <= batchId)),
      tombsOver(s, indexDir,
        GenStore.completeGenIds(s, s"$indexDir/tombs").filter(_ <= batchId)))

  /** The compaction horizon (highest wave folded by [[compact]]), or
    * None if never compacted. As-of reads below it are
    * unreconstructible.
    */
  def compactionHorizon(s: SparkSession, indexDir: String): Option[Long] =
    GenStore.readHorizon(s, s"$indexDir/codes/_HORIZON")

  /** AUDIT-grade as-of search: [[searchTopK]]'s exact plan over the
    * index state as of the END of wave `batchId`. Exact at or above
    * the compaction horizon; throws below it (the generations and
    * tombstones needed to reconstruct the point were folded away — an
    * audit must fail loudly, not serve a silently-wrong index).
    */
  def searchAtTopK(s: SparkSession, sfDir: String, indexDir: String,
      batchId: Long, k: Int = 5): DataFrame = {
    compactionHorizon(s, indexDir).foreach { h =>
      if (batchId < h)
        throw new IllegalArgumentException(
          s"searchAtTopK($batchId) is below the compaction horizon $h: " +
            "the code/tombstone history needed to reconstruct it was compacted away")
    }
    searchOver(s, sfDir, codesAsOf(s, indexDir, batchId), indexDir, k)
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
    // recover a prior hard crash inside the swap window (codes renamed
    // aside, replacement not yet in place): restore the old table and
    // fall through to a fresh compaction. Runs before any read below.
    locally {
      val conf0 = s.sessionState.newHadoopConf()
      val codes0 = new org.apache.hadoop.fs.Path(s"$indexDir/codes")
      val fs0 = codes0.getFileSystem(conf0)
      val old0 = new org.apache.hadoop.fs.Path(s"$indexDir/codes_old")
      if (!fs0.exists(codes0) && fs0.exists(old0)) fs0.rename(old0, codes0)
    }
    // coalesce: an index whose every vector was tombstoned has an EMPTY
    // live set — sum() is null there, and the empty-to-empty compaction
    // must still certify (0 == 0), not NPE. The sum runs through
    // decimal(38,0) reduced mod 2^60 — a raw BIGINT sum of 32-bit hashes
    // would overflow-THROW under ANSI mode at ~2^32 rows (the wrapping-
    // digest discipline every other digest in the repo follows).
    def digest(df: DataFrame): Long = df
      .agg(coalesce(
        pmod(
          sum(hash(col("vec_id"), col("m"), col("cid"), col("cell"))
            .cast("decimal(38,0)")),
          lit(1152921504606846976L).cast("decimal(38,0)")).cast("long"),
        lit(0L)))
      .collect()(0).getLong(0)
    // ONE committed-generation listing feeds the fold, the digest, the
    // write, AND the horizon (single-listing rule, round-15: the r14
    // code listed gens once for the horizon but built liveCodes twice —
    // digest and write — each with its own file listing, so a wave
    // committed concurrently could be claimed-but-not-folded or
    // folded-but-not-claimed). Compaction runs BETWEEN waves —
    // maybeCompact's slot in a serving loop — so this listing is the
    // complete fold set; the `live` frame below resolves its file index
    // from exactly these dirs at creation and both actions reuse it.
    val foldedCodes = GenStore.completeGenIds(s, s"$indexDir/codes")
    val foldedTombs = GenStore.completeGenIds(s, s"$indexDir/tombs")
    val foldedGens = foldedCodes ++ foldedTombs
    val live = minusTombs(codesOver(s, indexDir, foldedCodes),
      tombsOver(s, indexDir, foldedTombs))
    val before = digest(live)
    val newDir = s"$indexDir/codes_compacting/gen=-1"
    live.write.mode("overwrite").parquet(newDir)
    // the same scratch path is re-read across successive compacts in
    // one session — drop any stale FileStatusCache listing first
    s.catalog.refreshByPath(newDir)
    // the compaction HORIZON rides the compacting dir so the swap
    // carries it atomically (the StreamingLabels discipline): highest
    // wave folded in — code gens, tombstone gens, any prior horizon.
    // searchAtTopK refuses points below it.
    GenStore.writeHorizon(s, s"$indexDir/codes_compacting/_HORIZON",
      (foldedGens ++ compactionHorizon(s, indexDir)).foldLeft(-1L)(math.max))
    // the APPEND sequence's own high-water mark (appendBatch's replay
    // guard — the sequences are independent, so the mixed as-of horizon
    // must not gate appends); same captured listing, single-listing rule
    GenStore.writeHorizon(s, s"$indexDir/codes_compacting/_HORIZON_APPEND",
      (foldedCodes ++ GenStore.readHorizon(s, s"$indexDir/codes/_HORIZON_APPEND"))
        .foldLeft(-1L)(math.max))
    // and the DELETE sequence's (deleteBatch's replay guard — round-15,
    // the r14 advice: a replayed tombstone of a compacted-away id is a
    // no-op only while that vec_id is never re-APPENDED; tombstones
    // apply as an unordered distinct anti-join, so a post-compaction
    // replay of an old delete wave would kill a re-admitted vector with
    // the same vec_id. Same captured listing — single-listing rule.)
    GenStore.writeHorizon(s, s"$indexDir/codes_compacting/_HORIZON_DELETE",
      (foldedTombs ++ GenStore.readHorizon(s, s"$indexDir/codes/_HORIZON_DELETE"))
        .foldLeft(-1L)(math.max))
    val after = digest(Tables.parquet(s, newDir))
    if (before != after)
      throw new IllegalStateException(
        s"compaction digest mismatch: $before before, $after read back")
    val conf = s.sessionState.newHadoopConf()
    val codes = new org.apache.hadoop.fs.Path(s"$indexDir/codes")
    val fs = codes.getFileSystem(conf)
    // crash-recoverable swap: rename the live table aside, rename the
    // certified replacement into place, THEN delete. Every rename is
    // CHECKED — Hadoop FileSystem.rename signals failure by returning
    // false, and an unchecked first rename would cascade into deleting
    // the tombstones under the UN-compacted codes (deleted vectors
    // resurrecting). A failed second rename rolls the first back, so an
    // exception path always leaves a live codes dir; a hard CRASH
    // between the renames leaves codes_old + codes_compacting, which
    // the recovery at the top of the next compact() restores.
    def renameOrThrow(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path, rollback: => Unit = ()): Unit =
      if (!fs.rename(from, to)) {
        rollback
        throw new IllegalStateException(s"compaction swap: rename $from -> $to failed")
      }
    val codesOld = new org.apache.hadoop.fs.Path(s"$indexDir/codes_old")
    fs.delete(codesOld, true) // stale leftover from a prior crashed swap
    renameOrThrow(codes, codesOld)
    renameOrThrow(new org.apache.hadoop.fs.Path(s"$indexDir/codes_compacting"), codes,
      rollback = fs.rename(codesOld, codes))
    fs.delete(codesOld, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/tombs"), true)
    // the old codes path was read this session — drop the FileStatusCache
    // entry so the next read sees the swapped files (round-6 lesson)
    s.catalog.refreshByPath(s"$indexDir/codes")
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
    * Both probes read metadata-scale state only: one dir listing and
    * two distinct-counts (tombstone population vs code ids — bounded by
    * the id populations, never the (id × m) code mass).
    */
  def compactionDue(s: SparkSession, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    val codes = new org.apache.hadoop.fs.Path(s"$indexDir/codes")
    val fs = codes.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(codes)) {
      // codes missing is EITHER "nothing built" (no codes_old either →
      // nothing to compact) OR the post-crash mid-swap state (codes
      // renamed aside, replacement not yet in place). The latter must
      // report DUE so a serving loop driving recovery purely through
      // maybeCompact reaches compact()'s rename-back recovery — without
      // this branch the index would stay unreadable until someone
      // called compact() directly (round-10 advice, spec-driven).
      return fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/codes_old"))
    }
    val gens = fs.listStatus(codes)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
    if (gens > maxGens) return true
    if (!tombsExist(s, indexDir)) return false
    // committed generations only (the liveCodes rule): a marker-less
    // crash leftover may hold no readable parquet at all
    val nTomb = tombsOver(s, indexDir,
      GenStore.completeGenIds(s, s"$indexDir/tombs")).fold(0L)(_.count())
    if (nTomb == 0) return false
    val nIds = codesOver(s, indexDir,
      GenStore.completeGenIds(s, s"$indexDir/codes"))
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
