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
  * repaired edge set read BACK from the sink, swaps with checked
  * renames (crash window recovered exactly like [[StreamingIndex]]),
  * and drops the tombstones — after which [[search]] is bit-identical
  * to the batch q154 rows (StreamingGraphSpec asserts it).
  */
object StreamingGraph {

  /** Build and persist the frozen generation: the q151 substrate
    * (old-4/5-trained √n_old edge quantizer + heuristic-2 edges).
    * Returns the generation cut id.
    */
  def buildFrozen(s: SparkSession, sfDir: String, indexDir: String): Long = {
    import graft.ops.TowerMemo
    val cut = TowerMemo.generationCut(s, sfDir)
    TowerMemo.oldEdgeAssigned(s, sfDir).select(col("vec_id"), col("cell"))
      .write.mode("overwrite").parquet(s"$indexDir/asg/gen=-1")
    TowerMemo.oldEdgeAssigned(s, sfDir).select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/members/gen=-1")
    graft.queries.TextQueries.oldDivEdges(s, sfDir)
      .write.mode("overwrite").parquet(s"$indexDir/edges/gen=-1")
    cut
  }

  /** Attach one micro-batch of `(vec_id, embedding)` rows to the HELD
    * frozen graph (q151's per-node beam + heuristic-2 prune) and write
    * its kept out-edges under `edges/gen=<batchId>`. Idempotent like
    * [[StreamingIndex.appendBatch]]: a replayed batch whose `_SUCCESS`
    * exists is skipped.
    */
  def appendBatch(sfDir: String, indexDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/edges/gen=$batchId")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) return
    // folded-wave replay guard (the StreamingIndex rule): compaction
    // deleted the folded generations' markers, so an attach wave whose
    // stream checkpoint was lost would re-land duplicate member/edge
    // rows. Attach batchIds are monotone within THEIR OWN sequence
    // (deletes run a separate stream), so the guard compares against
    // the highest folded EDGES generation, not the mixed as-of horizon.
    if (batchId <= GenStore.readHorizon(
        s, s"$indexDir/edges/_HORIZON_APPEND").getOrElse(-1L)) return
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { locals += df.persist(); df }
    // membership BEFORE edges: the edges `_SUCCESS` marker gates the
    // replay check, so a crash between the two writes replays both
    batch.select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/members/gen=$batchId")
    val kept = graft.queries.TextQueries.attachEdges(s, sfDir, hold,
      wave = graft.ops.Ivf.prep(batch))
    kept.write.mode("overwrite").parquet(dir.toString)
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
    val s = ids.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/tombs/gen=$batchId")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) return
    // folded-wave replay guard for the DELETE sequence (round-15): the
    // "replayed tombstone of a repaired-away id is a no-op" algebra
    // holds only while vec_ids are never re-appended — a post-compaction
    // replay would kill a re-admitted vector with the same vec_id.
    // Delete batchIds are monotone within their own sequence; compact
    // records the folded tombstone high-water mark as _HORIZON_DELETE.
    if (batchId <= GenStore.readHorizon(
        s, s"$indexDir/edges/_HORIZON_DELETE").getOrElse(-1L)) return
    ids.select(col("vec_id")).write.mode("overwrite").parquet(dir.toString)
  }

  private def tombsExist(s: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/tombs")
    p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }

  /** Rows over an explicit committed-generation list of `root` —
    * COMMITTED dirs only (round-15, the r14 advice): a marker-less
    * crash leftover holds partial part-files; if a raw read folded them
    * (or served them), the wave's replay — which `_HORIZON_APPEND` does
    * NOT skip, the torn gen never having committed — would re-land the
    * full wave on top: permanent duplicate edge rows.
    */
  private def genRows(s: SparkSession, root: String, gens: Seq[Long],
      cols: Seq[String]): Option[DataFrame] =
    if (gens.isEmpty) None
    else Some(Tables.parquet(s, gens.map(g => s"$root/gen=$g"), Some(root))
      .select(cols.map(col): _*))

  private def committedTombs(s: SparkSession, indexDir: String): Option[DataFrame] =
    genRows(s, s"$indexDir/tombs",
      GenStore.completeGenIds(s, s"$indexDir/tombs"), Seq("vec_id"))
      .map(_.distinct())

  private def tombs(s: SparkSession, indexDir: String): DataFrame =
    committedTombs(s, indexDir).getOrElse(
      s.range(0).select(col("id").as("vec_id")))

  private def edgesOver(s: SparkSession, indexDir: String,
      gens: Seq[Long]): DataFrame =
    genRows(s, s"$indexDir/edges", gens, Seq("src", "dst")).getOrElse(
      s.range(0).select(col("id").as("src"), col("id").as("dst")))

  /** The index's live adjacency: every COMMITTED generation's edges
    * minus any row with a tombstoned endpoint.
    */
  def liveEdges(s: SparkSession, indexDir: String): DataFrame = {
    val edges = edgesOver(s, indexDir,
      GenStore.completeGenIds(s, s"$indexDir/edges"))
    committedTombs(s, indexDir).fold(edges) { t =>
      edges
        .join(t.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .join(t.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
    }
  }

  /** Live frozen-cell assignment (rep election input). */
  def liveAsg(s: SparkSession, indexDir: String): DataFrame = {
    val asg = genRows(s, s"$indexDir/asg",
      GenStore.completeGenIds(s, s"$indexDir/asg"), Seq("vec_id", "cell"))
      .getOrElse(s.range(0).select(col("id").as("vec_id"),
        col("id").cast("int").as("cell")))
    committedTombs(s, indexDir).fold(asg)(t =>
      asg.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Member dirs of COMMITTED waves: a wave spans two tables (members
    * written first, edges last), so its commit point is the EDGES
    * marker — a torn wave's members must neither serve (ghost ids with
    * no adjacency in the entry point, beam corpus, and exact-truth
    * side) nor be folded by compaction (round-14 review). `upTo` bounds
    * the as-of reads.
    */
  private def committedMemberDirs(s: SparkSession, indexDir: String,
      upTo: Option[Long] = None): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sessionState.newHadoopConf())
    GenStore.completeGenIds(s, s"$indexDir/edges")
      .filter(g => g <= upTo.getOrElse(Long.MaxValue))
      .map(g => s"$indexDir/members/gen=$g")
      .filter(d => f.exists(new org.apache.hadoop.fs.Path(d)))
  }

  /** The index's live member universe: every COMMITTED wave's ids minus
    * the tombstones — what bounds the entry point, the beam corpus, and
    * the exact-truth side at serve time.
    */
  def liveMembers(s: SparkSession, indexDir: String): DataFrame = {
    val dirs = committedMemberDirs(s, indexDir)
    val m =
      if (dirs.isEmpty) s.range(0).select(col("id").as("vec_id"))
      else Tables.parquet(s, dirs, Some(s"$indexDir/members"))
        .select(col("vec_id"))
    if (!tombsExist(s, indexDir)) m
    else m.join(tombs(s, indexDir), Seq("vec_id"), "left_anti")
  }

  /** q154-shaped search over the on-disk index: the q135 two-layer
    * beam over live adjacency with live reps, entry = min live corpus
    * id, exact-top-5 audit over live vectors —
    * `(query_id, rank, vec_id, is_new, cos, in_exact_topk)`.
    * Bit-identical to the batch q154 rows once the appended wave is
    * attached, the tombstone wave landed, and [[compact]] has repaired
    * (before compaction the adjacency is filtered but unrepaired —
    * still live-only, weaker recall).
    */
  def search(s: SparkSession, sfDir: String, indexDir: String): DataFrame = {
    val corp = graft.ops.TowerMemo.prep(s, sfDir)
      .join(liveMembers(s, indexDir), Seq("vec_id"), "left_semi")
    graft.queries.TextQueries.graphBeamSearch(s, sfDir,
      liveEdges(s, indexDir),
      repAsg = liveAsg(s, indexDir), withIsNew = true, corpus = corp)
  }

  // ---- AS-OF serving (round-14, VERDICT r13 #7): the labelsAt /
  // liveCorpusAt pattern over the edge/member generations — exact at or
  // above the compaction horizon, failing loudly below it (compaction
  // IS the repair: it rewrites the adjacency and drops the tombstones,
  // so older points are unreconstructible).

  private def readGens(s: SparkSession, root: String, upTo: Long,
      cols: Seq[String]): Option[DataFrame] = {
    val dirs = GenStore.completeGenDirs(s, root, Some(upTo))
    if (dirs.isEmpty) None
    else Some(Tables.parquet(s, dirs, Some(root))
      .select(cols.map(col): _*))
  }

  private def tombsAsOf(s: SparkSession, indexDir: String,
      upTo: Long): Option[DataFrame] =
    readGens(s, s"$indexDir/tombs", upTo, Seq("vec_id")).map(_.distinct())

  /** The compaction horizon (highest wave folded by [[compact]]), or
    * None if never compacted.
    */
  def compactionHorizon(s: SparkSession, indexDir: String): Option[Long] =
    GenStore.readHorizon(s, s"$indexDir/edges/_HORIZON")

  /** AUDIT-grade as-of search: [[search]]'s exact plan over the index
    * state as of the END of wave `batchId` — attach waves and
    * tombstones at or below it, everything later invisible. Exact at or
    * above the compaction horizon; throws below it.
    */
  def searchAt(s: SparkSession, sfDir: String, indexDir: String,
      batchId: Long): DataFrame = {
    compactionHorizon(s, indexDir).foreach { h =>
      if (batchId < h)
        throw new IllegalArgumentException(
          s"searchAt($batchId) is below the compaction horizon $h: " +
            "the edge/tombstone history needed to reconstruct it was compacted away")
    }
    val t = tombsAsOf(s, indexDir, batchId)
    def minus(df: DataFrame, key: String): DataFrame = t.fold(df)(tt =>
      df.join(tt.select(col("vec_id").as(key)), Seq(key), "left_anti"))
    val edges = readGens(s, s"$indexDir/edges", batchId, Seq("src", "dst"))
      .getOrElse(s.range(0).select(col("id").as("src"), col("id").as("dst")))
    val asg = readGens(s, s"$indexDir/asg", batchId, Seq("vec_id", "cell"))
      .getOrElse(s.range(0).select(col("id").as("vec_id"), col("id").cast("int").as("cell")))
    // members gate on the wave's commit point (the edges marker), same
    // as liveMembers — a torn wave's members are as-of-invisible too
    val mDirs = committedMemberDirs(s, indexDir, Some(batchId))
    val members =
      if (mDirs.isEmpty) s.range(0).select(col("id").as("vec_id"))
      else Tables.parquet(s, mDirs, Some(s"$indexDir/members"))
        .select(col("vec_id"))
    val corp = graft.ops.TowerMemo.prep(s, sfDir)
      .join(minus(members, "vec_id"), Seq("vec_id"), "left_semi")
    graft.queries.TextQueries.graphBeamSearch(s, sfDir,
      minus(minus(edges, "src"), "dst").select(col("src"), col("dst")),
      repAsg = minus(asg, "vec_id"), withIsNew = true, corpus = corp)
  }

  /** Repair-as-compaction: run the fold-scored neighborhood repair
    * (q152/q154's operator) over the combined adjacency with the
    * on-disk tombstones, certify the repaired edge set by an
    * order-independent digest read BACK from the sink, swap with
    * checked renames (the [[StreamingIndex.compact]] crash-window
    * machinery), rewrite the assignment minus tombstones, and drop the
    * tombstone dirs. Throws (original index intact) on digest mismatch.
    */
  def compact(s: SparkSession, sfDir: String, indexDir: String): Unit = {
    // recover a prior hard crash inside the swap window
    locally {
      val conf0 = s.sessionState.newHadoopConf()
      for (t <- Seq("edges", "asg", "members")) {
        val live0 = new org.apache.hadoop.fs.Path(s"$indexDir/$t")
        val fs0 = live0.getFileSystem(conf0)
        val old0 = new org.apache.hadoop.fs.Path(s"$indexDir/${t}_old")
        if (!fs0.exists(live0) && fs0.exists(old0)) fs0.rename(old0, live0)
      }
    }
    def digest(df: DataFrame): Long = df
      .agg(coalesce(
        pmod(
          sum(hash(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(1152921504606846976L).cast("decimal(38,0)")).cast("long"),
        lit(0L)))
      .collect()(0).getLong(0)
    val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { locals += df.persist(); df }
    // ONE committed-generation listing feeds the fold AND the horizon
    // (single-listing rule, round-15: the r14 code read the edge table
    // raw BEFORE listing the gens — a concurrently-committed wave could
    // be claimed-but-not-folded or folded-but-not-claimed, and a torn
    // wave's partials could fold. The frames below resolve their file
    // index from exactly these dirs at creation.) Compaction runs
    // BETWEEN waves — maybeCompact's serving-loop slot — so this
    // listing is the complete fold set. Edge-committed ids cover the
    // members (two-table wave, edges = commit point); tombs are
    // single-table waves with their own marker.
    val foldedEdges = GenStore.completeGenIds(s, s"$indexDir/edges")
    val foldedTombs = GenStore.completeGenIds(s, s"$indexDir/tombs")
    val foldedAsg = GenStore.completeGenIds(s, s"$indexDir/asg")
    val foldedGens = foldedEdges ++ foldedTombs
    val t = hold(genRows(s, s"$indexDir/tombs", foldedTombs, Seq("vec_id"))
      .map(_.distinct())
      .getOrElse(s.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0)))
    val combined = edgesOver(s, indexDir, foldedEdges)
    val repaired = hold(graft.queries.TextQueries.repairFold(
      s, sfDir, combined, hold, tombstones = t))
    val before = digest(repaired)
    val newEdges = s"$indexDir/edges_compacting/gen=-1"
    repaired.write.mode("overwrite").parquet(newEdges)
    s.catalog.refreshByPath(newEdges)
    // the compaction HORIZON rides the compacting dir so the swap
    // carries it atomically (the StreamingLabels discipline): highest
    // wave folded — edge/member/tombstone gens, any prior horizon.
    // searchAt refuses points below it.
    GenStore.writeHorizon(s, s"$indexDir/edges_compacting/_HORIZON",
      (foldedGens ++ compactionHorizon(s, indexDir)).foldLeft(-1L)(math.max))
    // the ATTACH sequence's own high-water mark (appendBatch's replay
    // guard; same captured listing — single-listing rule)
    GenStore.writeHorizon(s, s"$indexDir/edges_compacting/_HORIZON_APPEND",
      (foldedEdges ++ GenStore.readHorizon(s, s"$indexDir/edges/_HORIZON_APPEND"))
        .foldLeft(-1L)(math.max))
    // and the DELETE sequence's (deleteBatch's replay guard — round-15:
    // tombstones apply as an unordered distinct anti-join, so a
    // post-compaction replay of an old delete wave would kill a
    // re-admitted vector with the same vec_id; same captured listing)
    GenStore.writeHorizon(s, s"$indexDir/edges_compacting/_HORIZON_DELETE",
      (foldedTombs ++ GenStore.readHorizon(s, s"$indexDir/edges/_HORIZON_DELETE"))
        .foldLeft(-1L)(math.max))
    val after = digest(Tables.parquet(s, newEdges))
    if (before != after)
      throw new IllegalStateException(
        s"graph compaction digest mismatch: $before before, $after read back")
    // asg/members rewrites read the SAME captured listings (single-
    // listing rule — liveAsg/liveMembers would re-list at write time)
    val fhdfs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sessionState.newHadoopConf())
    genRows(s, s"$indexDir/asg", foldedAsg, Seq("vec_id", "cell"))
      .getOrElse(s.range(0).select(col("id").as("vec_id"),
        col("id").cast("int").as("cell")))
      .join(t, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$indexDir/asg_compacting/gen=-1")
    locally {
      val mDirs = foldedEdges.map(g => s"$indexDir/members/gen=$g")
        .filter(dd => fhdfs.exists(new org.apache.hadoop.fs.Path(dd)))
      val m = if (mDirs.isEmpty) s.range(0).select(col("id").as("vec_id"))
        else Tables.parquet(s, mDirs, Some(s"$indexDir/members"))
          .select(col("vec_id"))
      m.join(t, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$indexDir/members_compacting/gen=-1")
    }
    locals.foreach(_.unpersist(false))
    val conf = s.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(conf)
    def renameOrThrow(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path, rollback: => Unit = ()): Unit =
      if (!fs.rename(from, to)) {
        rollback
        throw new IllegalStateException(s"graph compaction swap: $from -> $to failed")
      }
    for (tname <- Seq("edges", "asg", "members")) {
      val live = new org.apache.hadoop.fs.Path(s"$indexDir/$tname")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir/${tname}_old")
      fs.delete(old, true)
      renameOrThrow(live, old)
      renameOrThrow(new org.apache.hadoop.fs.Path(s"$indexDir/${tname}_compacting"), live,
        rollback = fs.rename(old, live))
      fs.delete(old, true)
      s.catalog.refreshByPath(s"$indexDir/$tname")
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/tombs"), true)
  }

  /** [[StreamingIndex.compactionDue]]'s policy for the graph: due when
    * tombstoned ids reach `maxTombRatio` of the indexed ids, when the
    * edge table fragments past `maxGens` wave dirs, or in the
    * post-crash mid-swap state (edges_old without edges — compact()
    * self-heals). Metadata-scale probes only.
    */
  def compactionDue(s: SparkSession, indexDir: String,
      maxTombRatio: Double = 0.25, maxGens: Int = 8): Boolean = {
    val edges = new org.apache.hadoop.fs.Path(s"$indexDir/edges")
    val fs = edges.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(edges))
      return fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/edges_old"))
    val gens = fs.listStatus(edges)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
    if (gens > maxGens) return true
    if (!tombsExist(s, indexDir)) return false
    val nTomb = tombs(s, indexDir).count()
    if (nTomb == 0) return false
    val nIds = genRows(s, s"$indexDir/asg",
      GenStore.completeGenIds(s, s"$indexDir/asg"), Seq("vec_id"))
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
