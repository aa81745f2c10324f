package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.Tables
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.streaming.StreamingDedup.DocSig

/** Streaming corpus materialization — the ONLINE twin of the q57 batch
  * funnel, i.e. the ingest service shape: documents arrive as a stream,
  * each is admitted or rejected against everything seen so far
  * (first-wins near-dup dedup), admitted docs pass the same quality
  * gate ([[graft.queries.PipelineQueries.qualityGate]] — scalar score
  * AND repetition, shared with the batch funnel so the two paths can
  * never gate differently) and deterministic stratified sample as q57,
  * and survivors append incrementally to lang-partitioned parquet.
  *
  * Online dedup semantics (deliberately different from batch q56, which
  * sees the whole graph): a document is REJECTED if any of its four
  * SimHash band buckets already holds a signature within Hamming ≤
  * [[graft.queries.TextQueries.SimhashMaxDist]]. Every arriving
  * signature joins its buckets (cap-bounded) whether admitted or not —
  * a rejected doc still WITNESSES its near-dup cluster, so later
  * members of the same cluster keep getting rejected even though the
  * doc that represents the cluster on disk arrived earlier (standard
  * online-clustering behavior; the transitive radius grows by one
  * verify distance per witness hop). Batches process each bucket's
  * arrivals in doc_id order, so a batch's outcome is independent of
  * shuffle order, and the whole stream's outcome equals a sequential
  * greedy scan in arrival order (StreamingCorpusSpec proves that
  * against a plain-Scala model).
  *
  * Restart safety: `foreachBatch` is at-least-once — a crash between
  * the parquet write and the checkpoint commit re-executes the batch on
  * restart. The sink is therefore IDEMPOTENT per batch: each micro-batch
  * writes to its own `batch_id=<id>` subdirectory (a partition column
  * for readers of `outDir/corpus`), skipped when that directory already
  * carries a `_SUCCESS` commit marker and OVERWRITTEN (not appended)
  * when a partial, marker-less write is left behind. Replayed batches
  * are bit-identical, which rests on two ordering guarantees — the
  * state store rewinds to the batch's start version, and admission
  * within the batch is deterministic because [[AdmitProcessor
  * .handleInputRows]] sorts each bucket's arrivals by doc_id before
  * scanning (Spark does NOT guarantee the group iterator's row order
  * across replays) and `ListState` preserves insertion order — so
  * skip-or-overwrite both land the exact committed content
  * (StreamingCorpusSpec kills the query after an uncommitted write and
  * asserts the restarted corpus has no duplicate doc_ids).
  *
  * At scale: one stateful shuffle keyed by (band, key) — the same key
  * the batch band join uses — with RocksDB-backed, cap-bounded bucket
  * state; the quality/sample predicates and the partitioned append are
  * stateless per-row work. Over an unbounded stream the number of live
  * buckets grows with distinct signatures: pass `stateTtl` to evict
  * buckets idle longer than the TTL (bounding state to the active
  * signature working set, at the cost of re-admitting a dup whose
  * cluster went idle past the TTL — the standard freshness/size trade;
  * PLANS.md round 4 states the bound).
  */
object StreamingCorpus {

  /** One banded observation carrying the doc payload (the payload rides
    * the single stateful shuffle ×4 bands — same volume class as the
    * batch pipeline's banded explode).
    */
  case class AdmitObs(band: Int, key: Long, doc_id: Long,
      b0: Long, b1: Long, b2: Long, b3: Long,
      source: String, lang: String, text: String)
  /** Per-band admit verdict with the payload passed through. */
  case class BandVerdict(doc_id: Long, band: Int, dup: Boolean,
      source: String, lang: String, text: String)

  private def dist(a: DocSig, b: DocSig): Int =
    java.lang.Long.bitCount(a.b0 ^ b.b0) + java.lang.Long.bitCount(a.b1 ^ b.b1) +
      java.lang.Long.bitCount(a.b2 ^ b.b2) + java.lang.Long.bitCount(a.b3 ^ b.b3)

  /** Bucket admitter: flags an arrival as dup iff its bucket cohort
    * already holds a near signature; appends the signature regardless
    * (witness semantics), bounded by the occupancy cap. `ttlMs > 0`
    * ages bucket members out of state (requires processing-time mode).
    */
  class AdmitProcessor(ttlMs: Long = 0L)
      extends StatefulProcessor[(Int, Long), AdmitObs, BandVerdict] {
    @transient private var members: ListState[DocSig] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[DocSig](
        "members", Encoders.product[DocSig],
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[AdmitObs],
        timers: TimerValues): Iterator[BandVerdict] = {
      val cap = graft.queries.TextQueries.BandOccCap
      val cohort = scala.collection.mutable.ArrayBuffer.empty[DocSig]
      members.get().foreach(cohort += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[BandVerdict]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[DocSig]
      // sort is load-bearing for replay determinism: the group
      // iterator's row order is NOT guaranteed stable across replays
      rows.toArray.sortBy(_.doc_id).iterator.foreach { o =>
        val sig = DocSig(o.doc_id, o.b0, o.b1, o.b2, o.b3)
        val dup = cohort.exists(m => m.doc_id != sig.doc_id &&
          dist(m, sig) <= graft.queries.TextQueries.SimhashMaxDist)
        out += BandVerdict(o.doc_id, o.band, dup, o.source, o.lang, o.text)
        if (cohort.size < cap) { cohort += sig; fresh += sig }
      }
      if (fresh.nonEmpty) members.appendList(fresh.toArray)
      out.iterator
    }
  }

  /** Per-band admit verdicts for a `(doc_id, source, lang, text)`
    * document stream. `stateTtl` bounds bucket state on an unbounded
    * stream (switches the query to processing-time mode, which TTL
    * state requires); None keeps state forever — fine for bounded
    * replays and the correctness specs.
    */
  def verdicts(docs: DataFrame,
      stateTtl: Option[java.time.Duration] = None): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    import graft.queries.TextQueries.{simhashBands, simhashSig}
    simhashBands(
        simhashSig(docs, carry = Seq("doc_id", "source", "lang", "text")),
        carry = Seq("doc_id", "source", "lang", "text", "b0", "b1", "b2", "b3"))
      .as[AdmitObs]
      .groupByKey(o => (o.band, o.key))
      .transformWithState(new AdmitProcessor(stateTtl.map(_.toMillis).getOrElse(0L)),
        if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Start the ingest: admitted docs (no band flagged dup) that pass
    * the shared quality gate and stratified sample land under
    * `outDir/corpus` as `batch_id=<n>/lang=<l>` parquet — the
    * idempotent per-batch commit described above. Returns the running
    * query. `onBatchCommitted` fires after a batch's files are in place
    * but before Spark commits the checkpoint (test seam for the
    * crash-between-write-and-commit window).
    */
  def ingest(docs: DataFrame, outDir: String, checkpoint: String,
      stateTtl: Option[java.time.Duration] = None,
      onBatchCommitted: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    verdicts(docs, stateTtl).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[BandVerdict], batchId: Long) =>
        // all four band verdicts of a doc are produced in the same
        // micro-batch (stateless explode → one stateful op), so this
        // per-batch aggregation is complete for every doc it sees
        val admitted = batch.toDF()
          .groupBy(col("doc_id"))
          .agg(max(col("dup").cast("int")).as("any_dup"),
            first(col("source")).as("source"), first(col("lang")).as("lang"),
            first(col("text")).as("text"))
          .filter(col("any_dup") === 0)
          .filter(graft.queries.PipelineQueries.qualityGate(col("text")))
          .filter(graft.queries.TextQueries.sampleHash < graft.queries.TextQueries.sampleRateBp)
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
        val st = store(batch.sparkSession, outDir)
        val dir = s"$outDir/corpus/$Rows$batchId"
        if (st.committed("corpus", batchId, prefix = Rows) || st.folded(batchId))
          // replayed batch already committed on disk, or folded by a
          // compaction (which deleted its marker): skip the rewrite, but
          // still drive the stateful plan — the state stores must advance
          // to this batch's version (Spark validates every batch commits
          // its state)
          batch.foreachPartition((it: Iterator[BandVerdict]) => it.foreach(_ => ()))
        else {
          // a marker-less leftover from a crash mid-write is overwritten
          admitted.write.mode("overwrite").partitionBy("lang").parquet(dir)
          stampIfEmpty(st, s"corpus/$Rows$batchId")
        }
        onBatchCommitted(batchId)
        ()
      }
      .start()
  }

  // ---- row lifecycle: the corpus TABLE's delete (takedown/GDPR) and
  // update (re-crawl) paths — the "separate pipeline stage" the index
  // components defer corpus takedown to. Same semantics as
  // StreamingLabels: generation-ordered liveness (a row written at
  // batch b dies only to a STRICTLY LATER tombstone, t > b), so one
  // batchId can co-commit an update's tombstones and its replacement
  // rows, and the latest surviving version wins per doc. Ingest waves
  // and lifecycle waves share ONE monotone batchId sequence per table
  // (the StreamingLabels contract).

  /** The corpus store, healed ([[GenStore.open]]): `corpus` is the
    * swapped table and carries the horizon; ingest and lifecycle waves
    * share its one monotone batchId sequence, so one `_HORIZON` guards
    * all three writers.
    */
  private def store(s: org.apache.spark.sql.SparkSession, outDir: String) =
    GenStore.open(s, outDir, "corpus")

  /** Row batches are `batch_id=<id>` dirs — a partition column for
    * readers of `outDir/corpus`.
    */
  private val Rows = "batch_id="

  /** Marker a writer stamps on a committed batch dir that holds NO data
    * files (an all-rejected wave): readers skip it on one exists()
    * probe instead of walking the partition tree.
    */
  private val NoDataMarker = "_NODATA"

  /** Stamp `_NODATA` if the just-written batch dir carries no data file
    * (one shallow walk over a dir the writer just produced — commit-time
    * cost, so every future read skips the walk).
    */
  private def stampIfEmpty(st: GenStore.Store, sub: String): Unit =
    if (st.exists(sub) && !st.holdsData(sub)) st.mark(s"$sub/$NoDataMarker")

  /** The LIVE corpus view: per doc, the newest committed version that
    * no strictly-later tombstone kills — `(doc_id, source, lang, text)`.
    * A table with no lifecycle waves reads exactly as the plain
    * append-only view did (every doc has one version, no tombstones).
    *
    * At scale this is merge-on-read: one per-doc argmax (invariant-8
    * struct-max, map-side partial) over the committed batches plus a
    * broadcast-sized tombstone join; [[compactCorpus]] materializes it
    * back to one generation so the read cost stays bounded between
    * compactions.
    */
  def liveCorpus(s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val st = store(s, outDir)
    liveOver(s, st, outDir, st.gens("corpus", prefix = Rows), st.gens("tombs"))
  }

  /** The corpus view over explicit committed row batches and tombstone
    * generations — the single fold body the live, as-of and compaction
    * paths share (the compactor's one captured listing feeds it).
    */
  private def liveOver(s: org.apache.spark.sql.SparkSession, st: GenStore.Store,
      outDir: String, batches: Seq[Long], tombGens: Seq[Long]): DataFrame = {
    // an update wave whose every row failed the gate commits a FILE-LESS
    // batch dir (its tombstones still count) — parquet cannot infer a
    // schema from it, so readers skip it (the labelsAsOf discipline).
    // Writers stamp such dirs `_NODATA` at commit time so readers skip
    // them on one exists() probe instead of a recursive walk; the walk
    // remains as the fallback for pre-marker tables, and tolerates a dir
    // retired concurrently.
    val dirs = batches.map(b => s"corpus/$Rows$b").filter(d =>
      !st.exists(s"$d/$NoDataMarker") && st.holdsData(d))
    if (dirs.isEmpty)
      return s.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), lit("").as("lang"), lit("").as("text"))
    val rows = Tables.parquet(s, dirs.map(d => s"$outDir/$d"), Some(s"$outDir/corpus"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("batch_id").cast("long").as("b"))
    val alive = if (tombGens.isEmpty) rows else {
      val tombs = Tables.parquet(s, tombGens.map(g => s"$outDir/tombs/gen=$g"),
          Some(s"$outDir/tombs"))
        .select(col("doc_id"), col("gen").cast("long").as("tgen"))
        .groupBy(col("doc_id")).agg(max(col("tgen")).as("tgen"))
      rows.join(tombs, Seq("doc_id"), "left")
        .filter(col("tgen").isNull || col("tgen") <= col("b"))
        .select(col("doc_id"), col("source"), col("lang"), col("text"), col("b"))
    }
    alive.groupBy(col("doc_id"))
      .agg(max(struct(col("b"), col("source"), col("lang"), col("text"))).as("v"))
      .select(col("doc_id"), col("v.source").as("source"),
        col("v.lang").as("lang"), col("v.text").as("text"))
  }

  /** The corpus compaction horizon (highest wave folded by
    * [[compactCorpus]]), or None if never compacted.
    */
  def compactionHorizon(s: org.apache.spark.sql.SparkSession,
      outDir: String): Option[Long] =
    store(s, outDir).horizon()

  /** AUDIT-grade time travel: the served corpus view as of the END of
    * wave `batchId` (batches and tombstones at or below it). Exact at
    * or above the compaction horizon; throws below it — compaction
    * materializes the latest-wins view and erases the history an older
    * point needs, and an audit must fail loudly rather than return a
    * silently-wrong corpus.
    */
  def liveCorpusAt(s: org.apache.spark.sql.SparkSession, outDir: String,
      batchId: Long): DataFrame = {
    val st = store(s, outDir)
    st.refuseBelow("liveCorpusAt", batchId)
    liveOver(s, st, outDir, st.gens("corpus", prefix = Rows).filter(_ <= batchId),
      st.gens("tombs").filter(_ <= batchId))
  }

  /** Tombstone one wave of doc_ids (takedown / GDPR erasure): rows of
    * every strictly-older batch stop serving at the next [[liveCorpus]]
    * read; bytes leave the disk at [[compactCorpus]]. Idempotent on the
    * `_SUCCESS` marker and on the compaction horizon: compaction deleted
    * a folded wave's marker, and its replay would kill every compacted
    * row (`batch_id=-1` sorts below any tombstone), revived docs included.
    */
  def deleteBatch(outDir: String)(ids: DataFrame, batchId: Long): Unit = {
    val st = store(ids.sparkSession, outDir)
    if (st.committed("tombs", batchId) || st.folded(batchId)) return
    ids.select(col("doc_id")).write.mode("overwrite")
      .parquet(s"$outDir/tombs/gen=$batchId")
  }

  /** Fold one wave of RE-CRAWLED rows `(doc_id, source, lang, text)` in
    * at one batchId: tombstones kill every older version, the new rows
    * land in the same wave — and the shared quality gate applies to the
    * NEW content, so an update whose re-crawled text fails the gate
    * degrades to a takedown (its tombstone lands, no replacement row —
    * the old, passing version must NOT resurface as latest). Commit
    * point = the tombstone marker (last write); the row write before it
    * replays idempotently. A folded wave's replay (at or below the
    * horizon) skips: its tombstones would kill the compacted rows.
    */
  def updateBatch(outDir: String)(rows: DataFrame, batchId: Long): Unit = {
    val st = store(rows.sparkSession, outDir)
    if (st.committed("tombs", batchId) || st.folded(batchId)) return
    val wave = rows.select(col("doc_id"), col("source"), col("lang"), col("text"))
      .persist()
    wave.filter(graft.queries.PipelineQueries.qualityGate(col("text")))
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"$outDir/corpus/$Rows$batchId")
    stampIfEmpty(st, s"corpus/$Rows$batchId")
    wave.select(col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/tombs/gen=$batchId")
    wave.unpersist(false)
    ()
  }

  /** Digest-certified corpus compaction: materialize the live view into
    * ONE generation (`batch_id=-1`, below any future wave) through
    * [[GenStore]]'s certified fold-and-swap, then drop the tombstones —
    * bounding the merge-on-read cost and physically erasing tombstoned
    * bytes (the GDPR half a lazy delete defers). One captured listing
    * feeds the fold, its digest, its write and the horizon.
    */
  def compactCorpus(s: org.apache.spark.sql.SparkSession, outDir: String): Unit = {
    val st = store(s, outDir)
    if (!st.exists("corpus")) return
    val batches = st.gens("corpus", prefix = Rows)
    val tombGens = st.gens("tombs")
    val live = liveOver(s, st, outDir, batches, tombGens)
    st.foldAndSwap(Seq("_HORIZON" -> (batches ++ tombGens)), drop = Seq("tombs")) {
      GenStore.certifiedWrite("corpus", live, s"${st.compacting("corpus")}/$Rows-1",
        partitionBy = Seq("lang"))
    }
  }
}
