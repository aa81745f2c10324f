package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The graph-ANN index as a SERVED artifact — [[StreamingIndex]]'s
  * twin for the NSW family, completing the serving-tier parity the
  * tower family already has: a frozen base generation, append-only
  * attach waves, lazy vec_id tombstones, and a digest-certified
  * compaction that IS the q152/q154 repair. The on-disk state is
  * topology only (adjacency + the frozen cell assignment); vectors
  * stay in the corpus table — the graph index's payload is edges, not
  * codes, so unlike PQ there is nothing to re-encode per wave.
  *
  * Layout under `indexDir`:
  *  - `edges/gen=-1`      the frozen diversified base (q151's old graph)
  *  - `edges/gen=<b>`     one attach wave per micro-batch (append-only)
  *  - `asg/gen=-1`        the frozen (vec_id, cell) edge-quantizer map
  *  - `members/gen=*`     the indexed vec_id universe (frozen + waves) —
  *                        the INDEX owns its member set: after a
  *                        compaction drops the tombstones, this is what
  *                        keeps deleted vectors out of the entry point,
  *                        the beam corpus, and the exact-truth side even
  *                        though the corpus TABLE still holds their rows
  *                        (corpus takedown is a separate pipeline stage)
  *  - `tombs/gen=<b>`     tombstoned vec_ids (lazy — filtered at serve)
  *
  * Serving reads live topology (both endpoints un-tombstoned) and
  * elects min LIVE vec_id per cell as the upper-layer rep, so search
  * after any wave sequence never returns a deleted vector. Compaction
  * runs the FOLD-SCORED repair ([[graft.queries.TextQueries.repairFold]]
  * with the on-disk tombstone table) over the combined adjacency,
  * certifies the rewrite by an order-independent digest of the
  * repaired edge set read BACK from the sink, swaps all three tables
  * through [[GenStore]]'s fold-and-swap (which also heals a torn swap
  * at every entry point), and drops the tombstones — after which
  * [[search]] is bit-identical to the batch q154 rows
  * (StreamingGraphSpec asserts it).
  */
object StreamingGraph {

  /** Build and persist the frozen generation: the q151 substrate
    * (old-4/5-trained √n_old edge quantizer + heuristic-2 edges).
    * Returns the generation cut id.
    */
  def buildFrozen(s: SparkSession, sfDir: String, indexDir: String): Long = {
    import graft.ops.TowerMemo
    store(s, indexDir)
    val cut = TowerMemo.generationCut(s, sfDir)
    TowerMemo.oldEdgeAssigned(s, sfDir).select(col("vec_id"), col("cell"))
      .write.mode("overwrite").parquet(s"$indexDir/asg/gen=-1")
    TowerMemo.oldEdgeAssigned(s, sfDir).select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/members/gen=-1")
    graft.queries.TextQueries.oldDivEdges(s, sfDir)
      .write.mode("overwrite").parquet(s"$indexDir/edges/gen=-1")
    cut
  }

  /** The tables compaction swaps; `edges` carries the horizons. */
  private val Swapped = Seq("edges", "asg", "members")

  /** The graph store, healed ([[GenStore.open]]). */
  private def store(s: SparkSession, indexDir: String) =
    GenStore.open(s, indexDir, Swapped: _*)

  /** Attach one micro-batch of `(vec_id, embedding)` rows to the HELD
    * frozen graph (q151's per-node beam + heuristic-2 prune) and write
    * its kept out-edges under `edges/gen=<batchId>`. Idempotent like
    * [[StreamingIndex.appendBatch]]: a replayed batch whose `_SUCCESS`
    * exists is skipped.
    */
  def appendBatch(sfDir: String, indexDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val st = store(s, indexDir)
    if (st.committed("edges", batchId)) return
    // folded-wave replay guard (the StreamingIndex rule): compaction
    // deleted the folded generations' markers, so an attach wave whose
    // stream checkpoint was lost would re-land duplicate member/edge
    // rows. Attach batchIds are monotone within THEIR OWN sequence
    // (deletes run a separate stream), so the guard compares against
    // the highest folded EDGES generation, not the mixed as-of horizon.
    if (st.folded(batchId, "_HORIZON_APPEND")) return
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { locals += df.persist(); df }
    // membership BEFORE edges: the edges `_SUCCESS` marker gates the
    // replay check, so a crash between the two writes replays both
    batch.select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/members/gen=$batchId")
    val kept = graft.queries.TextQueries.attachEdges(s, sfDir, hold,
      wave = graft.ops.Ivf.prep(batch))
    kept.write.mode("overwrite").parquet(s"$indexDir/edges/gen=$batchId")
    locals.foreach(_.unpersist(false))
  }

  /** Start the attach appender over a streaming `(vec_id, embedding)`
    * frame.
    */
  def appendStream(vecs: DataFrame, sfDir: String, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        appendBatch(sfDir, indexDir)(b.toDF(), id); ()
      }
      .start()

  /** Tombstone one micro-batch of deleted `vec_id`s — lazy deletion:
    * adjacency on disk is immutable, serving filters, [[compact]]
    * repairs. Idempotent via the `_SUCCESS` marker.
    */
  def deleteBatch(indexDir: String)(ids: DataFrame, batchId: Long): Unit = {
    val st = store(ids.sparkSession, indexDir)
    if (st.committed("tombs", batchId)) return
    // folded-wave replay guard for the DELETE sequence (round-15): the
    // "replayed tombstone of a repaired-away id is a no-op" algebra
    // holds only while vec_ids are never re-appended — a post-compaction
    // replay would kill a re-admitted vector with the same vec_id.
    // Delete batchIds are monotone within their own sequence; compact
    // records the folded tombstone high-water mark as _HORIZON_DELETE.
    if (st.folded(batchId, "_HORIZON_DELETE")) return
    ids.select(col("vec_id")).write.mode("overwrite")
      .parquet(s"$indexDir/tombs/gen=$batchId")
  }

  /** Rows of table `t` over an explicit committed-generation list —
    * COMMITTED dirs only (round-15, the r14 advice): a marker-less
    * crash leftover holds partial part-files; if a raw read folded them
    * (or served them), the wave's replay — which `_HORIZON_APPEND` does
    * NOT skip, the torn gen never having committed — would re-land the
    * full wave on top: permanent duplicate edge rows.
    */
  private def genRows(s: SparkSession, indexDir: String, t: String,
      gens: Seq[Long], cols: Seq[String]): Option[DataFrame] =
    if (gens.isEmpty) None
    else Some(Tables.parquet(s, gens.map(g => s"$indexDir/$t/gen=$g"),
      Some(s"$indexDir/$t")).select(cols.map(col): _*))

  private def edgesOver(s: SparkSession, indexDir: String,
      gens: Seq[Long]): DataFrame =
    genRows(s, indexDir, "edges", gens, Seq("src", "dst")).getOrElse(
      s.range(0).select(col("id").as("src"), col("id").as("dst")))

  private def asgOver(s: SparkSession, indexDir: String,
      gens: Seq[Long]): DataFrame =
    genRows(s, indexDir, "asg", gens, Seq("vec_id", "cell")).getOrElse(
      s.range(0).select(col("id").as("vec_id"), col("id").cast("int").as("cell")))

  /** Member ids of the waves whose EDGES generation committed: a wave
    * spans two tables (members written first, edges last), so its commit
    * point is the edges marker — a torn wave's members must neither
    * serve (ghost ids with no adjacency in the entry point, beam corpus,
    * and exact-truth side) nor be folded by compaction (round-14 review).
    */
  private def membersOver(s: SparkSession, st: GenStore.Store,
      indexDir: String, edgeGens: Seq[Long]): DataFrame =
    genRows(s, indexDir, "members",
      edgeGens.filter(g => st.exists(s"members/gen=$g")), Seq("vec_id"))
      .getOrElse(s.range(0).select(col("id").as("vec_id")))

  /** The index state as of the END of wave `upTo` (every committed wave
    * when None) — `(edges, asg, members)`, each minus the tombstones
    * committed at or below it (an edge dies with either endpoint). The
    * single read body of the live and the as-of paths.
    */
  private def stateAt(s: SparkSession, indexDir: String,
      upTo: Option[Long]): (DataFrame, DataFrame, DataFrame) = {
    val st = store(s, indexDir)
    def gens(t: String) = st.gens(t).filter(g => upTo.forall(g <= _))
    val t = genRows(s, indexDir, "tombs", gens("tombs"), Seq("vec_id"))
      .map(_.distinct())
    def minus(df: DataFrame, key: String): DataFrame = t.fold(df)(tt =>
      df.join(tt.select(col("vec_id").as(key)), Seq(key), "left_anti"))
    val edgeGens = gens("edges")
    (minus(minus(edgesOver(s, indexDir, edgeGens), "src"), "dst")
        .select(col("src"), col("dst")),
      minus(asgOver(s, indexDir, gens("asg")), "vec_id"),
      minus(membersOver(s, st, indexDir, edgeGens), "vec_id"))
  }

  /** The index's live adjacency: every COMMITTED generation's edges
    * minus any row with a tombstoned endpoint.
    */
  def liveEdges(s: SparkSession, indexDir: String): DataFrame =
    stateAt(s, indexDir, None)._1

  /** Live frozen-cell assignment (rep election input). */
  def liveAsg(s: SparkSession, indexDir: String): DataFrame =
    stateAt(s, indexDir, None)._2

  /** The index's live member universe: every COMMITTED wave's ids minus
    * the tombstones — what bounds the entry point, the beam corpus, and
    * the exact-truth side at serve time.
    */
  def liveMembers(s: SparkSession, indexDir: String): DataFrame =
    stateAt(s, indexDir, None)._3

  /** q154-shaped search over the on-disk index: the q135 two-layer
    * beam over live adjacency with live reps, entry = min live corpus
    * id, exact-top-5 audit over live vectors —
    * `(query_id, rank, vec_id, is_new, cos, in_exact_topk)`.
    * Bit-identical to the batch q154 rows once the appended wave is
    * attached, the tombstone wave landed, and [[compact]] has repaired
    * (before compaction the adjacency is filtered but unrepaired —
    * still live-only, weaker recall).
    */
  def search(s: SparkSession, sfDir: String, indexDir: String): DataFrame =
    searchOver(s, sfDir, stateAt(s, indexDir, None))

  private def searchOver(s: SparkSession, sfDir: String,
      state: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (edges, asg, members) = state
    val corp = graft.ops.TowerMemo.prep(s, sfDir)
      .join(members, Seq("vec_id"), "left_semi")
    graft.queries.TextQueries.graphBeamSearch(s, sfDir, edges,
      repAsg = asg, withIsNew = true, corpus = corp)
  }

  // ---- AS-OF serving (round-14, VERDICT r13 #7): the labelsAt /
  // liveCorpusAt pattern over the edge/member generations — exact at or
  // above the compaction horizon, failing loudly below it (compaction
  // IS the repair: it rewrites the adjacency and drops the tombstones,
  // so older points are unreconstructible).

  /** The compaction horizon (highest wave folded by [[compact]]), or
    * None if never compacted.
    */
  def compactionHorizon(s: SparkSession, indexDir: String): Option[Long] =
    store(s, indexDir).horizon()

  /** AUDIT-grade as-of search: [[search]]'s exact plan over the index
    * state as of the END of wave `batchId` — attach waves and
    * tombstones at or below it, everything later invisible. Exact at or
    * above the compaction horizon; throws below it.
    */
  def searchAt(s: SparkSession, sfDir: String, indexDir: String,
      batchId: Long): DataFrame = {
    store(s, indexDir).refuseBelow("searchAt", batchId)
    searchOver(s, sfDir, stateAt(s, indexDir, Some(batchId)))
  }

  /** Repair-as-compaction: run the fold-scored neighborhood repair
    * (q152/q154's operator) over the combined adjacency with the
    * on-disk tombstones, certify the repaired edge set by the digest
    * read BACK from the sink, rewrite the assignment and members minus
    * tombstones, swap all three tables through [[GenStore]]'s
    * fold-and-swap, and drop the tombstone dirs. Throws (original index
    * intact) on digest mismatch.
    */
  def compact(s: SparkSession, sfDir: String, indexDir: String): Unit = {
    val st = store(s, indexDir)
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { locals += df.persist(); df }
    // ONE committed-generation listing feeds the fold AND the horizon
    // (the single-listing rule: a re-listing could claim a concurrently
    // committed wave as folded, or fold one it does not claim, and a raw
    // read could fold a torn wave's partials). The frames below resolve
    // their file index from exactly these dirs at creation. Edge-committed
    // ids cover the members (two-table wave, edges = commit point); tombs
    // are single-table waves with their own marker.
    val foldedEdges = st.gens("edges")
    val foldedTombs = st.gens("tombs")
    val t = hold(genRows(s, indexDir, "tombs", foldedTombs, Seq("vec_id"))
      .map(_.distinct())
      .getOrElse(s.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0)))
    val repaired = hold(graft.queries.TextQueries.repairFold(
      s, sfDir, edgesOver(s, indexDir, foldedEdges), hold, tombstones = t))
    // the mixed as-of horizon searchAt enforces, plus one per independent
    // batchId sequence for the replay guards: attaches (appendBatch) and
    // deletes (deleteBatch — tombstones apply as an unordered distinct
    // anti-join, so a post-compaction replay of an old delete wave would
    // kill a re-admitted vector with the same vec_id)
    st.foldAndSwap(Seq("_HORIZON" -> (foldedEdges ++ foldedTombs),
        "_HORIZON_APPEND" -> foldedEdges, "_HORIZON_DELETE" -> foldedTombs),
        drop = Seq("tombs")) {
      GenStore.certifiedWrite("graph", repaired, s"${st.compacting("edges")}/gen=-1")
      asgOver(s, indexDir, st.gens("asg")).join(t, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"${st.compacting("asg")}/gen=-1")
      membersOver(s, st, indexDir, foldedEdges).join(t, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"${st.compacting("members")}/gen=-1")
      locals.foreach(_.unpersist(false))
    }
  }

  /** [[StreamingIndex.compactionDue]]'s policy for the graph: due when
    * tombstoned ids reach `maxTombRatio` of the indexed ids, when the
    * edge table fragments past `maxGens` wave dirs, or in the
    * post-crash mid-swap state (a swapped table's `_old` without the
    * table — compact() heals it). Metadata-scale probes only.
    */
  def compactionDue(s: SparkSession, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    if (GenStore.torn(s, indexDir, Swapped: _*)) return true
    val st = store(s, indexDir)
    if (!st.exists("edges")) return false // nothing built
    if (st.gens("edges").size > maxGens) return true
    val nTomb = genRows(s, indexDir, "tombs", st.gens("tombs"), Seq("vec_id"))
      .fold(0L)(_.distinct().count())
    if (nTomb == 0) return false
    val nIds = genRows(s, indexDir, "asg", st.gens("asg"), Seq("vec_id"))
      .fold(0L)(_.select(col("vec_id")).distinct().count())
    nTomb.toDouble >= maxTombRatio * nIds.toDouble
  }

  /** Run [[compact]] iff [[compactionDue]]; returns whether it fired. */
  def maybeCompact(s: SparkSession, sfDir: String, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    val due = compactionDue(s, indexDir, maxTombRatio, maxGens)
    if (due) compact(s, sfDir, indexDir)
    due
  }
}
