package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The one store protocol behind the five wave-maintained stores
  * ([[StreamingCorpus]], [[StreamingLabels]], [[StreamingIndex]],
  * [[StreamingGraph]], [[StreamingLm]]), kept in one module so a fix to
  * it reaches every store at once. This module alone decides:
  *  - what a COMMITTED generation is: a `<prefix><id>` dir (`gen=` by
  *    default) carrying its commit marker — parquet's own `_SUCCESS`,
  *    or, for a MULTI-table wave, its single wave-level marker (the
  *    StreamingLm `_WAVE` rule: gating each table on its own `_SUCCESS`
  *    lets a torn wave be read or compacted);
  *  - how a torn swap heals (below);
  *  - how a compaction is certified ([[certifiedWrite]]: a wrapping row
  *    digest of the fold before the write must equal the digest of the
  *    files read back) and swapped ([[Store.foldAndSwap]]: checked
  *    renames with rollback);
  *  - how the compaction horizon is written (a one-line `_HORIZON*`
  *    file inside the first swapped table's compacting dir, so the swap
  *    carries it atomically) and enforced: a replay at or below it skips
  *    ([[Store.folded]] — compaction deleted the folded generations and
  *    their markers), an as-of read below it throws ([[Store.refuseBelow]]).
  *
  * HEAL AT EVERY ENTRY POINT. A compaction swaps each table `<t>` by two
  * checked renames, `<t>` → `<t>_old` then `<t>_compacting` → `<t>`. A
  * hard crash between them leaves `<t>_old` without `<t>`. On restart the
  * at-least-once stream replays a batch write FIRST; run before the heal,
  * that write recreates a fresh `<t>` root (and its replay guard misses,
  * `<t>/_HORIZON` being gone, so even folded waves re-land); the next
  * compaction then finds `<t>` present, skips the rename-back and deletes
  * `<t>_old` as a stale leftover — every pre-crash generation destroyed.
  * Reads in that window serve an empty store. So every entry point (each
  * batch write, each live or as-of read, each compaction) reaches its
  * store only through [[open]], which renames `<t>_old` back first. The
  * listing, horizon and swap calls live on the [[Store]] handle `open`
  * returns, so a new entry point cannot reach them without healing. The
  * heal tolerates two readers racing: a rename-back that loses the race
  * finds `<t>` in place afterwards, which is success.
  *
  * Contract shared by every consumer: compaction runs BETWEEN waves (the
  * serving loop's maybeCompact slot), so the generation listing a
  * compactor captures at entry is the complete fold set. The fold, its
  * digest, its write and the horizon all come from THAT listing, never
  * from a re-listing after the fold was materialized (a concurrently
  * committed wave would be claimed folded and destroyed). The same rule
  * makes the heal's rename safe: it never races a writer.
  */
private[streaming] object GenStore {

  /** The store rooted at `dir`, healed. `swapped` names the tables its
    * compaction swaps; the first carries the horizon markers.
    */
  def open(s: SparkSession, dir: String, swapped: String*): Store = {
    val st = new Store(s, dir, swapped)
    for (t <- swapped if st.torn(t))
      if (!st.f.rename(st.p(s"${t}_old"), st.p(t)) && !st.f.exists(st.p(t)))
        throw new IllegalStateException(s"heal: rename ${t}_old -> $t under $dir failed")
    st
  }

  /** Whether a crash mid-swap left one of `swapped` torn, probed WITHOUT
    * healing — a compaction policy reports this state as due, so a loop
    * that drives recovery only through maybeCompact reaches the heal.
    */
  def torn(s: SparkSession, dir: String, swapped: String*): Boolean =
    swapped.exists(new Store(s, dir, swapped).torn)

  final class Store private[GenStore] (s: SparkSession, dir: String,
      swapped: Seq[String]) {
    private[GenStore] val f: FileSystem =
      new Path(dir).getFileSystem(s.sessionState.newHadoopConf())
    /** `dir` joined with the non-empty `parts` (a store may keep
      * generations directly under its root: table "").
      */
    private[GenStore] def p(parts: String*) =
      new Path((dir +: parts.filter(_.nonEmpty)).mkString("/"))
    private[GenStore] def torn(t: String) =
      !f.exists(p(t)) && f.exists(p(s"${t}_old"))

    def exists(sub: String): Boolean = f.exists(p(sub))

    /** Whether `sub` holds a data file at any depth (`_`/`.` names are
      * markers, not data). A dir retired concurrently holds none.
      */
    def holdsData(sub: String): Boolean = {
      def walk(q: Path): Boolean = {
        val st = try f.listStatus(q) catch {
          case _: java.io.FileNotFoundException => return false
        }
        st.exists(x => x.isFile && !x.getPath.getName.startsWith("_") &&
          !x.getPath.getName.startsWith(".")) ||
          st.exists(x => x.isDirectory && walk(x.getPath))
      }
      walk(p(sub))
    }

    /** Create the empty marker file `sub` (overwrite). */
    def mark(sub: String): Unit = f.create(p(sub), true).close()

    /** Committed generation ids of table `sub`, ascending. */
    def gens(sub: String, marker: String = "_SUCCESS",
        prefix: String = "gen="): Seq[Long] =
      if (!f.exists(p(sub))) Seq.empty
      else f.listStatus(p(sub)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          f.exists(new Path(st.getPath, marker)))
        .map(_.getPath.getName.stripPrefix(prefix).toLong).sorted

    /** Whether generation `id` of table `sub` is committed. */
    def committed(sub: String, id: Long, marker: String = "_SUCCESS",
        prefix: String = "gen="): Boolean =
      f.exists(p(sub, s"$prefix$id", marker))

    /** The horizon marker `name` of the first swapped table, or None if
      * never compacted.
      */
    def horizon(name: String = "_HORIZON"): Option[Long] = {
      val m = p(swapped.head, name)
      if (!f.exists(m)) None
      else {
        val in = f.open(m)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      }
    }

    /** Whether batch `id` is at or below horizon `name`: its replay must
      * skip even though compaction deleted its commit marker.
      */
    def folded(id: Long, name: String = "_HORIZON"): Boolean =
      id <= horizon(name).getOrElse(-1L)

    /** The as-of guard: `what(batchId)` below the horizon throws — the
      * history needed to reconstruct it was compacted away, and an audit
      * must fail loudly rather than read a silently-wrong state.
      */
    def refuseBelow(what: String, batchId: Long): Unit =
      horizon().foreach { h =>
        if (batchId < h)
          throw new IllegalArgumentException(
            s"$what($batchId) is below the compaction horizon $h: " +
              "the history needed to reconstruct it was compacted away")
      }

    /** Where compaction materializes swapped table `t`. */
    def compacting(t: String): String = s"$dir/${t}_compacting"

    /** The fold-and-swap. `write` materializes (and certifies) every
      * swapped table `t` under [[compacting]]`(t)`. Each of `horizons`
      * — a marker name and the generation ids the caller's ONE captured
      * listing folded — is then written as the max of those ids and the
      * marker's prior value into the first table's compacting dir. Each
      * table then swaps by checked renames: an unchecked failed first
      * rename would cascade into dropping tombstones under the
      * un-compacted table (deleted rows resurrecting); a failed second
      * rename rolls the first back, so an exception always leaves a live
      * table. Finally the `drop` roots (tombstones the fold
      * materialized) are deleted.
      */
    def foldAndSwap(horizons: Seq[(String, Seq[Long])], drop: Seq[String] = Nil)(
        write: => Unit): Unit = {
      swapped.foreach(t => f.delete(new Path(compacting(t)), true))
      write
      for ((name, ids) <- horizons) {
        val out = f.create(new Path(s"${compacting(swapped.head)}/$name"), true)
        val h = (ids ++ horizon(name)).foldLeft(-1L)(math.max)
        try out.write(s"$h\n".getBytes("UTF-8")) finally out.close()
      }
      for (t <- swapped) {
        val (live, old, next) = (p(t), p(s"${t}_old"), new Path(compacting(t)))
        f.delete(old, true)
        if (!f.rename(live, old))
          throw new IllegalStateException(s"compaction swap: rename $live -> $old failed")
        if (!f.rename(next, live)) {
          f.rename(old, live)
          throw new IllegalStateException(s"compaction swap: rename $next -> $live failed")
        }
        f.delete(old, true)
        // the live path was read this session: drop its cached listing
        s.catalog.refreshByPath(live.toString)
      }
      drop.foreach(d => f.delete(p(d), true))
    }
  }

  /** Order-independent row digest over every column of `df`: Σ hash
    * through decimal(38,0) reduced mod 2^60 (a raw BIGINT sum of 32-bit
    * hashes overflow-THROWS under ANSI mode at ~2^32 rows); coalesced so
    * an empty fold certifies 0 == 0.
    */
  private def digest(df: DataFrame, cols: Seq[String]): Long = df
    .agg(coalesce(
      pmod(
        sum(hash(cols.map(col): _*).cast("decimal(38,0)")),
        lit(1152921504606846976L).cast("decimal(38,0)")).cast("long"),
      lit(0L)))
    .collect()(0).getLong(0)

  /** Write `df` to `dest` (overwrite, partitioned by `partitionBy`) and
    * certify it: the digest of `df` before the write must equal the
    * digest of the files READ BACK — the sink's actual bytes, the q57
    * manifest discipline. Throws (nothing swapped yet, the live store
    * intact) on a mismatch.
    */
  def certifiedWrite(what: String, df: DataFrame, dest: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val s = df.sparkSession
    val before = digest(df, df.columns.toSeq)
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dest)
    // the same scratch path is re-read across successive compactions in
    // one session: drop any stale listing first
    s.catalog.refreshByPath(dest)
    val after = digest(Tables.parquet(s, dest), df.columns.toSeq)
    if (before != after)
      throw new IllegalStateException(
        s"$what compaction digest mismatch: $before before, $after read back")
  }
}
