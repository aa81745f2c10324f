package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** Online near-duplicate detection at INGEST — the streaming twin of the
  * batch q51 pipeline, for the "is this new document a dup of anything
  * we already took?" path an LLM-data ingest service needs. Same
  * signature scheme (four 16-bit SimHash families = one 64-bit
  * fingerprint), same banding (band = one family), same exact Hamming
  * verify (≤ [[graft.queries.TextQueries.SimhashMaxDist]]) — but the
  * band buckets live in keyed streaming state
  * ([[org.apache.spark.sql.streaming.ListState]] per (band, key) on the
  * RocksDB store), so each arriving document compares against ONLY its
  * bucket cohort, exactly like the batch band join.
  *
  * Semantics vs batch q51:
  *  - a pair sharing several bands is emitted once per sharing band
  *    (the batch plan's `distinct` on candidates has no streaming
  *    analog without a second stateful stage); downstream dedups on
  *    (da, db) — the spec does, and asserts set-equality with q51;
  *  - the occupancy cap is PROSPECTIVE: a bucket stops absorbing new
  *    members at [[graft.queries.TextQueries.BandOccCap]] (a stream
  *    cannot retract already-emitted pairs the way the batch cap drops
  *    a saturated bucket retroactively). Below the cap the two
  *    formulations agree exactly.
  *
  * At scale: state is sharded by (band, key) — the same key the batch
  * join shuffles on — and bounded by cap · #live-buckets; RocksDB holds
  * it off-heap.
  */
object StreamingDedup {

  /** A document's 64-bit signature as its four 16-bit family words. */
  case class DocSig(doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)
  /** One banded observation of a signature. */
  case class BandObs(band: Int, key: Long, doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)
  /** A verified near-dup pair (da < db), tagged with the emitting band. */
  case class DupPair(da: Long, db: Long, dist: Int, band: Int)

  private def dist(a: DocSig, b: DocSig): Int =
    java.lang.Long.bitCount(a.b0 ^ b.b0) + java.lang.Long.bitCount(a.b1 ^ b.b1) +
      java.lang.Long.bitCount(a.b2 ^ b.b2) + java.lang.Long.bitCount(a.b3 ^ b.b3)

  /** Per-bucket processor: each arriving signature is verified against
    * its bucket cohort, then joins it (until the bucket hits the cap).
    * `ttlMs > 0` ages members out of state (processing-time mode), so
    * an unbounded stream's bucket count tracks the ACTIVE signature
    * working set instead of growing forever — the trade is that a dup
    * of a cluster idle past the TTL is re-reported as new (state ≤
    * cap × |buckets active within the TTL|).
    */
  class BucketProcessor(ttlMs: Long = 0L)
      extends StatefulProcessor[(Int, Long), BandObs, DupPair] {
    @transient private var members: ListState[DocSig] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[DocSig](
        "members", Encoders.product[DocSig],
        if (ttlMs > 0)
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandObs],
        timers: TimerValues): Iterator[DupPair] = {
      val cap = graft.queries.TextQueries.BandOccCap
      val cohort = scala.collection.mutable.ArrayBuffer.empty[DocSig]
      members.get().foreach(cohort += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[DocSig]
      // shuffle iterator order is nondeterministic — process a batch's
      // arrivals in doc_id order so cap-boundary behavior is stable
      rows.toArray.sortBy(_.doc_id).iterator.foreach { o =>
        val sig = DocSig(o.doc_id, o.b0, o.b1, o.b2, o.b3)
        if (cohort.size < cap) {
          for (m <- cohort; if m.doc_id != sig.doc_id) {
            val d = dist(m, sig)
            if (d <= graft.queries.TextQueries.SimhashMaxDist)
              out += DupPair(math.min(m.doc_id, sig.doc_id),
                math.max(m.doc_id, sig.doc_id), d, key._1)
          }
          cohort += sig
          fresh += sig
        } // saturated bucket: prospective cap — absorb and emit nothing
      }
      if (fresh.nonEmpty) members.appendList(fresh.toArray)
      out.iterator
    }
  }

  /** Banded signature stream for a `(doc_id, text)` document stream —
    * the same native SimHash16 projection the batch q51 scan computes.
    */
  def bandObs(docs: DataFrame): Dataset[BandObs] = {
    import docs.sparkSession.implicits._
    import graft.queries.TextQueries.{simhashBands, simhashSig}
    simhashBands(simhashSig(docs),
      carry = Seq("doc_id", "b0", "b1", "b2", "b3"))
      .as[BandObs]
  }

  /** The full ingest-dedup stream: documents in, verified near-dup
    * pairs out (per sharing band; dedup (da, db) downstream).
    * `stateTtl` bounds bucket state on an unbounded stream (switches
    * to processing-time mode, which TTL state requires); None keeps
    * state forever — fine for bounded replays and the specs.
    */
  def pairs(docs: DataFrame,
      stateTtl: Option[java.time.Duration] = None): Dataset[DupPair] = {
    import docs.sparkSession.implicits._
    bandObs(docs)
      .groupByKey(o => (o.band, o.key))
      .transformWithState(new BucketProcessor(stateTtl.map(_.toMillis).getOrElse(0L)),
        if (stateTtl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }
}
