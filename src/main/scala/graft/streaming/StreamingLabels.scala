package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Rolling duplicate-group labels at INGEST — the serving-side
  * counterpart of the batch q56 components and the maintenance twin of
  * q146: [[StreamingDedup]] emits verified near-dup pairs per
  * micro-batch, and this sink folds each wave into an on-disk label
  * table with [[graft.ops.Dedup.mergeLabels]] — compute bounded by the
  * WAVE (the reduced representative graph), never a full recompute.
  * This is the loop a rolling 100 TB dedup actually runs: q146 proves
  * the merge law once against a from-scratch oracle; here the same
  * operator runs wave-after-wave under streaming's at-least-once
  * delivery.
  *
  * Storage is PARTITIONED so the write is wave-bounded too (round-10's
  * one named 100 TB gap — the merge compute was already delta-sized but
  * every wave rewrote the whole table): ids hash into `P` fixed buckets
  * (`pmod(id, P)`, pinned in `_partitions` at first write so a caller
  * changing the default cannot split the table), and each wave writes
  * `gen=<batchId>/part=<b>/` for ONLY the buckets holding a changed or
  * fresh id — an untouched bucket's files are not reopened, not
  * rewritten, byte-identical across the wave (spec-asserted). The
  * current table is, per bucket, the newest COMPLETE generation
  * carrying that bucket; a generation dir without its `_SUCCESS` marker
  * is a crashed or in-flight write and stays invisible. Replayed
  * batches are skipped on the marker (and would be a no-op anyway:
  * merging pairs already inside one component relabels nothing — merge
  * is idempotent on replay, the StreamingIndex discipline).
  *
  * Superseded generations retire in TWO steps (the lazy-reader grace
  * window): a generation whose every bucket has a newer complete copy
  * is first stamped `_RETIRED` by the wave that finds it superseded and
  * only DELETED by a later wave — so a lazy `labels()` frame obtained
  * before wave W stays readable until wave W+1 completes, and callers
  * that hold results across more than one wave must materialize them
  * (localCheckpoint/collect) — documented contract, spec-driven.
  * Generations that remain latest-for-some-bucket are never touched, so
  * at most P generations are live at once plus the one-wave retirement
  * tail.
  *
  * The DELETE half ([[deleteBatch]]): every merge wave also appends its
  * pairs to an on-disk pair log, so a deletion wave can re-propagate
  * the affected components' surviving pairs
  * ([[graft.ops.Dedup.deleteLabels]] — the q149 operator) and rewrite
  * only the buckets it touched, tombstoning the deleted ids for the
  * log. Merge + delete + bucket-partitioned rewrite is the full rolling
  * lifecycle; StreamingLoopSpec drives it end-to-end with a restart.
  */
object StreamingLabels {

  /** Default id-bucket count. At 100 TB this would be thousands; the
    * value only shapes write granularity (pinned per table on first
    * write), never results.
    */
  val DefaultParts: Int = 16

  private def hfs(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())

  private def path(parts: String*) =
    new org.apache.hadoop.fs.Path(parts.mkString("/"))

  /** The label store, healed ([[GenStore.open]]): the pair log is the
    * swapped table and carries the horizon. Label generations live at
    * the root (table ""), the pair log, tombstones and revives under
    * their own tables. COMPLETE generations only — a dir without its
    * `_SUCCESS` marker is a crashed or in-flight write (overwrite mode
    * even empties the dir first), and exposing it would hand readers a
    * partial table; they fall back to the last complete generation.
    */
  private def store(s: SparkSession, labelDir: String) =
    GenStore.open(s, labelDir, "pairlog")

  /** Generation ids strictly before `before` (all when empty). */
  private def below(gens: Seq[Long], before: Option[Long]): Seq[Long] =
    gens.filter(g => before.forall(g < _))

  private def genPaths(labelDir: String, sub: String, gens: Seq[Long]) =
    gens.map(g => s"$labelDir/$sub/gen=$g")

  private def partsOf(s: SparkSession, labelDir: String, g: Long): Seq[String] = {
    val f = hfs(s, labelDir)
    f.listStatus(path(labelDir, s"gen=$g")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
      .map(_.getPath.getName)
  }

  private def emptyLabels(s: SparkSession): DataFrame =
    s.range(0).select(col("id"), col("id").as("lbl"))

  /** The label table as of the complete generations strictly before
    * `before` (all of them when `before` is empty): per bucket, the
    * newest generation carrying it. Reading the `part=` leaf dirs
    * directly keeps the schema at `(id, lbl)` — no partition column is
    * inferred for the roots themselves.
    */
  private def labelsAsOf(s: SparkSession, st: GenStore.Store, labelDir: String,
      before: Option[Long]): DataFrame = {
    // newest gen per bucket: ascending fold, later gens overwrite. An
    // EMPTY part dir (a delete wave that emptied the bucket) still
    // claims "latest" — it masks the older copy — but contributes no
    // read path (parquet cannot infer schema from zero files).
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    for (g <- below(st.gens(""), before); p <- partsOf(s, labelDir, g)) latest(p) = g
    val readable = latest.toSeq.map { case (p, g) => s"gen=$g/$p" }.filter(st.holdsData)
    if (readable.isEmpty) emptyLabels(s)
    else Tables.parquet(s, readable.map(d => s"$labelDir/$d")).select(col("id"), col("lbl"))
  }

  /** The current label table `(id, lbl)` — per bucket, the newest
    * complete generation; empty before the first wave lands. The frame
    * is lazy over the current files: it stays readable across the NEXT
    * wave (retirement is two-step), but callers holding it longer must
    * materialize it first.
    */
  def labels(s: SparkSession, labelDir: String): DataFrame =
    labelsAsOf(s, store(s, labelDir), labelDir, None)

  /** Per-id LATEST tombstone generation over `tombGens` — empty-schema
    * `(id, tgen)` frame when there are none.
    */
  private def latestTombs(s: SparkSession, labelDir: String,
      tombGens: Seq[Long]): DataFrame =
    if (tombGens.isEmpty)
      s.range(0).select(col("id"), col("id").as("tgen"))
    else Tables.parquet(s, genPaths(labelDir, "tombs", tombGens), Some(s"$labelDir/tombs"))
      .select(col("id"), col("gen").cast("long").as("tgen"))
      .groupBy(col("id")).agg(max(col("tgen")).as("tgen"))

  /** Ids that are dead AS OF `before` for INGESTION purposes: latest
    * tombstone not superseded by a later-or-same-wave revive
    * ([[updateBatch]] writes both at one batchId — a re-crawled doc is
    * tombstoned for its OLD pairs yet alive for new ones). A plain
    * delete history has no revives, so this is exactly the old
    * "any tombstoned id" set there.
    */
  private def deadIdsAsOf(s: SparkSession, st: GenStore.Store, labelDir: String,
      before: Option[Long]): DataFrame = {
    val revGens = below(st.gens("revives"), before)
    val tombs = latestTombs(s, labelDir, below(st.gens("tombs"), before))
    if (revGens.isEmpty) tombs.select(col("id"))
    else {
      val rev = Tables.parquet(s, genPaths(labelDir, "revives", revGens),
          Some(s"$labelDir/revives"))
        .select(col("id"), col("gen").cast("long").as("rgen"))
        .groupBy(col("id")).agg(max(col("rgen")).as("rgen"))
      tombs.join(rev, Seq("id"), "left")
        .filter(col("rgen").isNull || col("rgen") < col("tgen"))
        .select(col("id"))
    }
  }

  /** The verified-pair LOG as of generations strictly before `before` —
    * the state that makes DELETE waves possible: [[graft.ops.Dedup.deleteLabels]]
    * must re-propagate the affected components' surviving pairs, and
    * labels alone cannot reconstruct connectivity, so every merge wave
    * also appends its pairs here (wave-bounded append, the reason a
    * production dedup service keeps its edge log). Tombstoned endpoints
    * filter out at read time (the StreamingIndex liveCodes discipline);
    * the log itself is immutable per generation; [[compactPairLog]]
    * periodically folds the generations into one and drops the
    * tombstones so the anti-join's dead side stays bounded.
    */
  private[streaming] def livePairsAsOf(s: SparkSession, labelDir: String,
      before: Option[Long]): DataFrame = {
    val st = store(s, labelDir)
    pairsOver(s, labelDir, below(st.gens("pairlog"), before),
      below(st.gens("tombs"), before))
  }

  /** The live pair log over explicit pair-log and tombstone generations
    * — the single fold body the reads and [[compactPairLog]] share.
    */
  private def pairsOver(s: SparkSession, labelDir: String, logGens: Seq[Long],
      tombGens: Seq[Long]): DataFrame = {
    if (logGens.isEmpty)
      return s.range(0).select(col("id").as("da"), col("id").as("db"))
    // pair liveness is GENERATION-ORDERED: a pair written at gen g dies
    // iff an endpoint was tombstoned STRICTLY LATER (t > g). A delete
    // history is unchanged by the ordering (merge waves pre-filter
    // against the dead set, so a logged pair always predates any
    // tombstone naming it); the strictness is what lets an update wave
    // co-commit tombstones (killing the old content's pairs) and the
    // re-crawled content's pairs at ONE batchId.
    val pairs = Tables.parquet(s, genPaths(labelDir, "pairlog", logGens),
        Some(s"$labelDir/pairlog"))
      .select(col("da"), col("db"), col("gen").cast("long").as("pgen"))
    val tombs = latestTombs(s, labelDir, tombGens)
    pairs
      .join(tombs.select(col("id").as("da"), col("tgen").as("ta")), Seq("da"), "left")
      .join(tombs.select(col("id").as("db"), col("tgen").as("tb")), Seq("db"), "left")
      .filter((col("ta").isNull || col("ta") <= col("pgen")) &&
        (col("tb").isNull || col("tb") <= col("pgen")))
      .select(col("da"), col("db")) // using-joins float the key column first
  }

  /** The current live pair log (every appended pair minus those
    * touching a tombstoned id).
    */
  def livePairs(s: SparkSession, labelDir: String): DataFrame =
    livePairsAsOf(s, labelDir, None)

  /** The compaction horizon: the highest batchId folded into the
    * compacted generation, or None if the log was never compacted.
    * As-of reads below the horizon are unreconstructible — compaction
    * MATERIALIZES the liveness filter and drops the tombstones, so the
    * history needed to replay an older point is gone.
    */
  def compactionHorizon(s: SparkSession, labelDir: String): Option[Long] =
    store(s, labelDir).horizon()

  /** AUDIT-grade time travel: the label table as of the END of wave
    * `batchId`, recomputed from the pair log (one closure over
    * `livePairsAsOf` — derived state, so the log is the source of
    * truth; direct generation reads are NOT used because superseded
    * generations retire). Exact for any point at or above the
    * compaction horizon; throws below it (the history is gone — an
    * audit must fail loudly, not return a silently-wrong table).
    */
  def labelsAt(s: SparkSession, labelDir: String, batchId: Long): DataFrame = {
    store(s, labelDir).refuseBelow("labelsAt", batchId)
    graft.ops.Dedup.fromPairs(livePairsAsOf(s, labelDir, Some(batchId + 1)))
  }

  /** Digest-certified pair-log compaction through [[GenStore]]'s
    * fold-and-swap: fold every generation into one (`gen=-1`, which
    * sorts below any future batchId), MATERIALIZE the tombstone filter
    * into it, certify it against the files read back, swap, then drop
    * the tombstone and revive dirs — this is what bounds the per-wave
    * anti-join, which otherwise grows with the whole delete history. One
    * captured listing feeds the fold, its digest, its write and the
    * horizon (the highest wave folded: pairs, tombs or revives — a
    * deletion is history too). Call BETWEEN waves (the serving loop's
    * maybeCompact slot): committed waves never replay (their markers
    * skip), so dropping the tombstones cannot resurrect anything a
    * replay could reintroduce; a pair naming a compacted-away id that
    * arrives AFTER compaction is a genuinely new observation (the
    * document re-entering the corpus) and is admitted as such.
    */
  def compactPairLog(s: SparkSession, labelDir: String): Unit = {
    val st = store(s, labelDir)
    if (!st.exists("pairlog")) return
    val Seq(log, tombs, revives) = Seq("pairlog", "tombs", "revives").map(st.gens(_))
    val live = pairsOver(s, labelDir, log, tombs)
    st.foldAndSwap(Seq("_HORIZON" -> (log ++ tombs ++ revives)),
        drop = Seq("tombs", "revives")) {
      GenStore.certifiedWrite("pair-log", live, s"${st.compacting("pairlog")}/gen=-1")
    }
  }

  /** EXACT changed-row bucket derivation WITHOUT a table×table join —
    * the round-14 probe fix. `candIds` must be a superset of every row
    * that differs between `oldT` and `newT` (the per-wave callers build
    * it from the delta witness [[graft.ops.Dedup.mergeLabelsDelta]] /
    * [[graft.ops.Dedup.deleteLabelsDelta]] already computed — it is
    * wave/component-bounded, hence broadcastable). Both tables are
    * sliced by one BROADCAST semi-join each (scan-linear over the
    * persisted frames, no shuffle of a table-sized side), and the slices
    * compare through one small hash aggregation — changed iff present on
    * one side only or labels differ. At 100 TB this is the difference
    * between a per-wave cost proportional to the delta and a full-table
    * shuffle per wave; ProbeShapeSpec asserts the plan carries no
    * SortMergeJoin/ShuffledHashJoin and that the derived part set equals
    * the old full-outer formulation's.
    */
  private[graft] def changedParts(oldT: DataFrame, newT: DataFrame,
      candIds: DataFrame, p: Int): DataFrame = {
    val c = broadcast(candIds.select(col("id")).distinct())
    val oldSlice = oldT.select(col("id"), col("lbl"))
      .join(c, Seq("id"), "left_semi")
      .select(col("id"), col("lbl"))
    val newSlice = newT.select(col("id"), col("lbl"))
      .join(c, Seq("id"), "left_semi")
      .select(col("id"), col("lbl"))
    oldSlice.union(newSlice).groupBy(col("id"))
      .agg(count(lit(1)).as("n"), min(col("lbl")).as("l1"), max(col("lbl")).as("l2"))
      .filter(col("n") === 1L || col("l1") =!= col("l2"))
      .select(pmod(col("id"), lit(p.toLong)).as("part")).distinct()
  }

  /** Merge-wave candidate ids: every wave-pair endpoint (covers fresh
    * rows) ∪ old rows whose label is a changed representative (covers
    * relabels — one broadcast semi-join, scan-linear).
    */
  private[graft] def mergeCandIds(old: DataFrame, wave: DataFrame,
      changedReps: DataFrame): DataFrame =
    wave.select(col("da").as("id")).union(wave.select(col("db").as("id")))
      .union(old.join(broadcast(changedReps.select(col("rep").as("lbl"))),
        Seq("lbl"), "left_semi").select(col("id")))

  /** Delete-wave candidate ids: old rows of components holding a
    * deleted vertex (every dropped or relabeled row lives there).
    */
  private[graft] def deleteCandIds(old: DataFrame,
      deadLbls: DataFrame): DataFrame =
    old.join(broadcast(deadLbls.select(col("lbl"))), Seq("lbl"), "left_semi")
      .select(col("id"))

  /** The table's pinned bucket count: written once by the first wave,
    * read back (ignoring the caller's value) ever after — two writers
    * disagreeing on P must not split one table across two bucketings.
    */
  private def pinnedParts(s: SparkSession, labelDir: String, want: Int): Int = {
    val f = hfs(s, labelDir)
    val meta = path(labelDir, "_partitions")
    if (f.exists(meta)) {
      val in = f.open(meta)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    } else {
      f.mkdirs(path(labelDir))
      val out = f.create(meta, true)
      try out.write(s"$want\n".getBytes("UTF-8")) finally out.close()
      want
    }
  }

  /** Fold one wave of verified pairs `(da, db)` into the label table:
    * merge against the per-bucket-latest generations STRICTLY BEFORE
    * `batchId` (a replayed batch must not merge into its own output),
    * write ONLY the buckets holding a changed or fresh id under
    * `gen=<batchId>/part=<b>`, then retire fully-superseded
    * generations (two-step, see the scaladoc). Idempotent on the
    * `_SUCCESS` marker exactly like [[StreamingIndex.appendBatch]].
    */
  def mergeBatch(labelDir: String, parts: Int = DefaultParts)(
      pairs: DataFrame, batchId: Long): Unit = {
    val s = pairs.sparkSession
    val st = store(s, labelDir)
    if (st.committed("", batchId)) return
    val p = pinnedParts(s, labelDir, parts)
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame) = { locals += df.persist(); df }
    val old = hold(labelsAsOf(s, st, labelDir, Some(batchId)))
    // drop pairs naming a CURRENTLY-dead doc: a duplicate/replayed
    // emission must not resurrect a tombstoned vertex's membership. An
    // id whose latest tombstone was co-committed with a revive (an
    // update wave) is alive again — its new pairs are legit arrivals.
    val dead = deadIdsAsOf(s, st, labelDir, Some(batchId))
    val wave = hold(pairs.select(col("da"), col("db"))
      .join(dead.select(col("id").as("da")), Seq("da"), "left_anti")
      .join(dead.select(col("id").as("db")), Seq("db"), "left_anti")
      .select(col("da"), col("db"))) // using-joins float the key column first
    // pair-log append FIRST (it feeds future delete waves; writing it
    // before the label gen keeps the label marker the commit point — a
    // crash between the two replays into a log-skip + label recompute)
    if (!st.committed("pairlog", batchId))
      wave.write.mode("overwrite").parquet(s"$labelDir/pairlog/gen=$batchId")
    // persisted: the touched-bucket probe and the bucket-filtered write
    // both read the merged table (invariant 6)
    val md = graft.ops.Dedup.mergeLabelsDelta(old, wave, track = hold)
    val merged = hold(md.labels
      .withColumn("part", pmod(col("id"), lit(p.toLong))))
    // buckets that must rewrite: any holding a fresh id or a relabel —
    // derived from the merge's own delta witness (broadcast semi-joins,
    // never a table×table join; see changedParts). Driver-side list is
    // bounded by P (a scalar per bucket, not rows).
    val touched = changedParts(old, merged,
        mergeCandIds(old, wave, md.changedReps), p)
      .collect().map(_.getLong(0)).sorted
    // a whole touched bucket rewrites (files are immutable — unchanged
    // rows sharing the bucket ride along); untouched buckets are never
    // read by this write, never reopened, never rewritten
    merged.filter(if (touched.isEmpty) lit(false)
        else col("part").isin(touched.map(java.lang.Long.valueOf): _*))
      .write.mode("overwrite").partitionBy("part").parquet(s"$labelDir/gen=$batchId")
    locals.foreach(_.unpersist(false))
    retireSuperseded(s, st, labelDir, batchId)
  }

  /** Fold one wave of document DELETIONS into the label table: affected
    * components re-propagate from their surviving pairs
    * ([[graft.ops.Dedup.deleteLabels]] — deletion can split a
    * component, so the pair log is the input, not the labels), buckets
    * holding a dropped/relabeled/deleted row rewrite under
    * `gen=<batchId>/part=<b>`, then the tombstone generation commits
    * the wave. Merge and delete waves share ONE monotone `batchId`
    * sequence per table (two independent streams must interleave their
    * ids — e.g. even/odd — or drive batches directly as the composed
    * spec does).
    *
    * Replay/crash safety: the wave's commit point is the TOMBSTONE
    * marker (checked first). A crash after the label gen but before the
    * tombstones replays into an identical recompute — `labelsAsOf`
    * reads strictly below `batchId`, so the half-written wave's own
    * output never feeds its replay — and the label write is
    * overwrite-idempotent.
    */
  def deleteBatch(labelDir: String, parts: Int = DefaultParts)(
      ids: DataFrame, batchId: Long): Unit = {
    val s = ids.sparkSession
    val st = store(s, labelDir)
    if (st.committed("tombs", batchId)) return
    val f = hfs(s, labelDir)
    val p = pinnedParts(s, labelDir, parts)
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame) = { locals += df.persist(); df }
    val del = hold(ids.select(col("id")))
    val old = hold(labelsAsOf(s, st, labelDir, Some(batchId)))
    val dd = graft.ops.Dedup.deleteLabelsDelta(
      old, livePairsAsOf(s, labelDir, Some(batchId)), del, track = hold)
    val live = hold(dd.labels
      .withColumn("part", pmod(col("id"), lit(p.toLong))))
    // touched buckets: any old row that is gone (deleted or dropped
    // pairless) or relabeled — all such rows live in the delete's
    // affected components (deadLbls), so the probe is delta-bounded
    // (changedParts — no table×table join). A touched bucket's rewrite
    // EXCLUDES the gone rows by construction (it writes live rows only).
    val touched = changedParts(old, live, deleteCandIds(old, dd.deadLbls), p)
      .collect().map(_.getLong(0)).sorted
    live.filter(if (touched.isEmpty) lit(false)
        else col("part").isin(touched.map(java.lang.Long.valueOf): _*))
      .write.mode("overwrite").partitionBy("part")
      .parquet(path(labelDir, s"gen=$batchId").toString)
    // a bucket the delete EMPTIED writes no dir under partitionBy — an
    // explicit empty part dir must mask the older copy or its rows
    // would resurrect from the previous generation (readers skip
    // file-less part dirs; retirement counts them as superseding)
    for (b <- touched) {
      val pd = path(labelDir, s"gen=$batchId", s"part=$b")
      if (!f.exists(pd)) f.mkdirs(pd)
    }
    del.write.mode("overwrite").parquet(s"$labelDir/tombs/gen=$batchId")
    locals.foreach(_.unpersist(false))
    retireSuperseded(s, st, labelDir, batchId)
  }

  /** Fold one wave of document UPDATES (the re-crawl — q157's operator
    * as the service runs it): each id in `ids` changed content in
    * place, so its OLD pairs die and `pairs` (the detector re-run over
    * the new content — every pair must touch an updated id) admit it
    * back, all at ONE batchId. Composition of the two proven halves:
    * [[graft.ops.Dedup.deleteLabels]] retracts the slice (components
    * may split), [[graft.ops.Dedup.mergeLabels]] folds the new
    * observations in; buckets holding any dropped/relabeled/fresh row
    * rewrite under `gen=<batchId>/part=<b>`.
    *
    * On-disk, the wave co-commits `tombs/gen=<batchId>` (kills the old
    * pairs under the generation-ordered liveness rule — strictly-older
    * pairs only, so the wave's own pairlog entries survive) and
    * `revives/gen=<batchId>` (marks the ids alive again for future
    * merge waves' ingestion filter). New pairs naming a doc that is
    * currently dead and NOT in this wave's ids still drop — an update
    * cannot resurrect a third party.
    *
    * Replay/crash safety: the commit point is the REVIVES marker
    * (checked first — the last write). Every earlier write replays
    * idempotently: `labelsAsOf`/`livePairsAsOf` read strictly below
    * `batchId`, so the crashed attempt's own gens never feed its
    * replay, and all writes are overwrite-mode. THREE pre-commit crash
    * windows have observable intermediate state, each healed by the
    * replay: (1) pairlog committed, label gen not — `livePairs` sees
    * the wave's new pairs ALONGSIDE the old pairs they should kill
    * (tombs are not yet written), so `labelsAt(batchId)` over-merges
    * until replay; (2) label gen committed, tombs not — served
    * `labels` already reflect delete+merge while `livePairs`/`labelsAt`
    * still count the old pairs, so labels ≢ CC(livePairs) transiently;
    * (3) tombs committed, revives not — pair liveness and labels are
    * both correct, but NEW arrivals for the updated ids are suppressed
    * at the ingestion filter. The standing invariant
    * labels ≡ CC(livePairs) is therefore guaranteed only at WAVE
    * BOUNDARIES after replay, never mid-wave — callers that read both
    * stores must read between waves (RollingPipelineSpec's discipline).
    */
  def updateBatch(labelDir: String, parts: Int = DefaultParts)(
      ids: DataFrame, pairs: DataFrame, batchId: Long): Unit = {
    val s = ids.sparkSession
    val st = store(s, labelDir)
    if (st.committed("revives", batchId)) return
    val f = hfs(s, labelDir)
    val p = pinnedParts(s, labelDir, parts)
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame) = { locals += df.persist(); df }
    val upd = hold(ids.select(col("id")))
    val old = hold(labelsAsOf(s, st, labelDir, Some(batchId)))
    // third-party guard: drop new pairs whose OTHER endpoint is dead
    // and not being revived by this very wave
    val dead = deadIdsAsOf(s, st, labelDir, Some(batchId))
      .join(upd, Seq("id"), "left_anti")
    val wave = hold(pairs.select(col("da"), col("db"))
      .join(dead.select(col("id").as("da")), Seq("da"), "left_anti")
      .join(dead.select(col("id").as("db")), Seq("db"), "left_anti")
      .select(col("da"), col("db")))
    // pair-log append FIRST (the mergeBatch discipline — the revives
    // marker is the commit point, everything earlier replays)
    if (!st.committed("pairlog", batchId))
      wave.write.mode("overwrite").parquet(s"$labelDir/pairlog/gen=$batchId")
    // held: mergeLabels reads its `old` side three times (invariant 6)
    val dd = graft.ops.Dedup.deleteLabelsDelta(
      old, livePairsAsOf(s, labelDir, Some(batchId)), upd, track = hold)
    val afterDel = hold(dd.labels)
    val md = graft.ops.Dedup.mergeLabelsDelta(afterDel, wave, track = hold)
    val merged = hold(md.labels
      .withColumn("part", pmod(col("id"), lit(p.toLong))))
    // touched buckets: any row gone, fresh, or relabeled between old
    // and merged. Every such row is a candidate from one of the two
    // halves' delta witnesses — gone/delete-relabeled rows live in the
    // delete's affected components, merge-relabeled rows carry an
    // afterDel label in changedReps, fresh rows are wave endpoints —
    // so the probe is delta-bounded (changedParts; the r13 version
    // full-outer-joined two label-table-sized frames here).
    val cand = deleteCandIds(old, dd.deadLbls)
      .union(mergeCandIds(afterDel, wave, md.changedReps))
    val touched = changedParts(old, merged, cand, p)
      .collect().map(_.getLong(0)).sorted
    merged.filter(if (touched.isEmpty) lit(false)
        else col("part").isin(touched.map(java.lang.Long.valueOf): _*))
      .write.mode("overwrite").partitionBy("part")
      .parquet(path(labelDir, s"gen=$batchId").toString)
    // a bucket the update EMPTIED writes no dir under partitionBy — the
    // explicit empty part dir masks the older copy (deleteBatch rule)
    for (b <- touched) {
      val pd = path(labelDir, s"gen=$batchId", s"part=$b")
      if (!f.exists(pd)) f.mkdirs(pd)
    }
    upd.write.mode("overwrite").parquet(
      path(labelDir, s"tombs/gen=$batchId").toString)
    upd.write.mode("overwrite").parquet(s"$labelDir/revives/gen=$batchId")
    locals.foreach(_.unpersist(false))
    retireSuperseded(s, st, labelDir, batchId)
  }

  /** Two-step retirement: a complete generation whose every bucket has
    * a newer complete copy is stamped `_RETIRED` on the first wave that
    * observes it superseded, and deleted by any LATER wave that finds
    * the stamp — never the stamping wave itself, so lazy readers from
    * before the superseding wave get one full wave to materialize.
    */
  private def retireSuperseded(s: SparkSession, st: GenStore.Store,
      labelDir: String, batchId: Long): Unit = {
    val f = hfs(s, labelDir)
    val gs = st.gens("")
    val newerParts = scala.collection.mutable.HashSet.empty[String]
    // walk newest→oldest; a gen is superseded iff all its parts appear
    // in strictly newer complete gens (an empty no-op gen is trivially
    // superseded)
    for (g <- gs.reverse) {
      val ps = partsOf(s, labelDir, g)
      val superseded = ps.forall(newerParts.contains)
      if (superseded) {
        val stamp = path(labelDir, s"gen=$g", "_RETIRED")
        if (!f.exists(stamp)) {
          val out = f.create(stamp, true)
          try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
        } else {
          val in = f.open(stamp)
          val by = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
            finally in.close()
          if (by < batchId) f.delete(path(labelDir, s"gen=$g"), true)
        }
      }
      ps.foreach(newerParts.add)
    }
  }

  /** Start the label maintainer over a streaming verified-pair frame
    * (e.g. [[StreamingDedup.pairs]]' output).
    */
  def start(pairs: DataFrame, labelDir: String, checkpoint: String,
      parts: Int = DefaultParts)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        mergeBatch(labelDir, parts)(b.toDF(), id); ()
      }
      .start()
}
