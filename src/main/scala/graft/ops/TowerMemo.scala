package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Session-scoped memo of the deterministic trained ANN towers.
  *
  * Eight queries (q42/q76/q82/q91/q92/q93/q115/q118) embed the SAME
  * IVF (and often PQ) training pass in-plan so the DuckDB oracle can
  * replay it bit-exactly. Training is integer-quantized and seeded
  * from the first k vector ids ([[Ivf.K]] doc), so for a fixed
  * (session, sfDir) every one of those towers is bit-identical — a
  * bench/verify session that runs the whole suite pays for the same
  * deterministic computation ~8×. This memo materializes each stage
  * once per (session, sfDir) via an eager `localCheckpoint` and hands
  * every later query the checkpointed frame.
  *
  * Why localCheckpoint and not persist(): `spark.catalog.clearCache()`
  * (Bench/Verify run it between queries) drops CacheManager entries
  * but not RDD-level checkpoint blocks, so the memo survives the
  * per-query cache hygiene; the blocks are freed when the session
  * stops (or [[clear]] drops the references for the ContextCleaner).
  *
  * Correctness is untouched by construction: the checkpoint stores the
  * exact rows the in-plan tower produces, and every downstream plan is
  * unchanged from the un-memoized version — IvfRecallSpec/PqSpec's
  * bit-for-bit probe-vs-in-plan assertions still hold. At 100 TB this
  * memo is NOT the serving path (that is [[Ivf.buildIndex]] /
  * [[Pq.buildIndex]] — train once, persist parquet); it only removes
  * redundant in-plan retraining within one analytic session.
  */
object TowerMemo {

  /** Keyed by the session itself (identity semantics — SparkSession
    * doesn't override equals), so two sessions can never alias (the
    * identityHashCode-string keying this replaced could collide). The
    * WeakHashMap does NOT make stopped sessions collectable: the cached
    * DataFrames strongly reference their SparkSession
    * (Dataset.sparkSession), which is the map key — the classic
    * value-refers-to-key cycle — so JVM exit is the only reclamation
    * path. Harmless for the one-session Bench/Verify processes this
    * serves.
    */
  private val memo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, java.util.concurrent.FutureTask[DataFrame]]]()

  /** Get-or-build (reentrant — builders call each other; explicit
    * get/put rather than getOrElseUpdate because a nested build inserts
    * other keys mid-evaluation).
    */
  private def get(s: SparkSession, d: String, what: String)(build: => DataFrame): DataFrame =
    memoize(s, d, what)(build)

  /** The generic get-or-build, open to other deterministic in-plan
    * derivations in the repo (the CC labels under q56/q79/q108/q114 use
    * it via [[graft.queries.TextQueries.dupLabels]]).
    * `checkpoint = false` stores the built frame as-is — for builders
    * whose result already reads only checkpointed state (re-checkpointing
    * would copy the data a second time); such builders must ensure the
    * returned plan does NOT reference frames they unpersist on the way
    * out.
    *
    * Locking (round-19, guide §2.6): the global lock guards only the
    * map get/put; each key's build runs in a per-key FutureTask OUTSIDE
    * it, so INDEPENDENT artifacts can build concurrently (parDrive
    * callers — the cc_memo_build line overlaps its two CC loops).
    * Reentrancy is preserved: a nested memoize() from inside a build
    * finds the nested key's task NEW and runs it inline on the calling
    * thread (FutureTask.run is a no-op unless NEW, so a key is only
    * ever built once); a second thread asking for an in-flight key
    * blocks on get() until the builder finishes — the same
    * double-checked semantics as the old whole-build lock, minus the
    * false serialization across keys. A failed build is removed from
    * the map (retry semantics unchanged) and its cause rethrown.
    */
  private[graft] def memoize(
      s: SparkSession, d: String, what: String, checkpoint: Boolean = true)(
      build: => DataFrame): DataFrame = {
    val k = s"$d|$what"
    val task = this.synchronized {
      val perSession = {
        val e = memo.get(s)
        if (e != null) e
        else {
          val n = scala.collection.mutable.Map
            .empty[String, java.util.concurrent.FutureTask[DataFrame]]
          memo.put(s, n); n
        }
      }
      perSession.get(k) match {
        case Some(t) => t
        case None =>
          val t = new java.util.concurrent.FutureTask[DataFrame](
            new java.util.concurrent.Callable[DataFrame] {
              override def call(): DataFrame = {
                val built = build
                if (checkpoint) built.localCheckpoint(true) else built
              }
            })
          perSession.put(k, t); t
      }
    }
    task.run() // runs iff NEW — inline on this thread; no-op otherwise
    try task.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        this.synchronized {
          val per = memo.get(s)
          if (per != null && per.get(k).contains(task)) per.remove(k)
        }
        throw e.getCause
    }
  }

  /** [[Ivf.prep]] of the corpus embeddings. */
  def prep(s: SparkSession, d: String): DataFrame =
    get(s, d, "prep")(Ivf.prep(Tables.embeddings(s, d)))

  /** Full-corpus IVF centroid state (the q42 training tower). */
  def cent(s: SparkSession, d: String): DataFrame =
    get(s, d, "cent")(Ivf.trainCells(prep(s, d)))

  /** Full-corpus cell assignment (vec_id, cell, v, nrm). */
  def assigned(s: SparkSession, d: String): DataFrame =
    get(s, d, "assigned")(Ivf.assignAll(prep(s, d), cent(s, d)))

  /** Residual subvectors (the IVFADC PQ training input). */
  def residualSub(s: SparkSession, d: String): DataFrame =
    get(s, d, "rsub")(Pq.subvectors(Pq.residuals(assigned(s, d), cent(s, d))))

  /** Residual PQ codebooks (the q91/q93 tower). */
  def residualCodebooks(s: SparkSession, d: String): DataFrame =
    get(s, d, "rcb")(Pq.trainCodebooks(residualSub(s, d)))

  /** Residual PQ codes for the whole corpus. */
  def residualCodes(s: SparkSession, d: String): DataFrame =
    get(s, d, "rcodes")(Pq.encode(residualSub(s, d), residualCodebooks(s, d)))

  /** √n-cell EDGE quantizer centroids (the q126/q135 k-NN graph
    * substrate). The fixed-[[Ivf.K]] tower keeps within-cell pair mass
    * at n²/K — quadratic under growth — which is fine for probe-style
    * consumers (candidates per QUERY stay occupancy-sized) but is the
    * scale-killer for the all-SOURCES edge derivation, whose pair mass
    * is Σ|cell|². This trainer scales the cell count with the corpus:
    * k = ⌈√n⌉ cells → occupancy ≈ √n → pair mass ≈ n^1.5 (the √n-cells
    * rule), and the rule survives exact-duplicate pileup too (replicas
    * multiply n, not any one cell disproportionately — the ×10
    * replica stress shape). One collected count() over the
    * checkpointed prep picks k; the DuckDB oracle computes the same k
    * as CAST(ceil(sqrt(count(*))) AS BIGINT) in-query, so the dynamic
    * cell count needs no interpolated constant (fixed SQL, any SF).
    */
  def edgeCent(s: SparkSession, d: String): DataFrame =
    get(s, d, "edge_cent") {
      val p = prep(s, d)
      val k = math.ceil(math.sqrt(p.count().toDouble)).toInt
      Ivf.trainCells(p, k = k)
    }

  /** Edge-quantizer cell assignment (vec_id, cell, v, nrm) — the
    * within-cell pair domain for [[graft.queries.TextQueries]]'s
    * knnEdges (q126 centrality, q135 graph search).
    */
  def edgeAssigned(s: SparkSession, d: String): DataFrame =
    get(s, d, "edge_assigned")(Ivf.assignAll(prep(s, d), edgeCent(s, d)))

  /** All scored within-cell ordered pairs `(src, dst, cos)` over the
    * edge quantizer — the shared candidate domain of the k-NN graph
    * consumers (q126 centrality, q135 graph search, q143 diversified
    * edges). Each used to re-derive this n^1.5 DotFold scoring pass on
    * top of [[edgeAssigned]]; at ×10 that is 3× a 3.0M-row job for
    * bit-identical rows, so the pair table itself memoizes (the scores
    * are deterministic per (session, sfDir): fixed-order DotFold over
    * the checkpointed assignment). The checkpoint stores only
    * (long, long, double) rows — occupancy-bounded n^1.5 mass, the same
    * envelope the consumers already materialize transiently.
    */
  def cellPairs(s: SparkSession, d: String): DataFrame =
    get(s, d, "cell_pairs") {
      val asg = edgeAssigned(s, d)
      val a = asg.select(col("cell"), col("vec_id").as("src"),
        col("v").as("va"), col("nrm").as("na"))
      val b = asg.select(col("cell"), col("vec_id").as("dst"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cell"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          (graft.functions.DotFold(col("va"), col("vb")) /
            (col("na") * col("nb"))).as("cos"))
    }

  /** OLD-generation √n_old-cell edge-quantizer assignment — q151's
    * frozen-graph substrate (trained AND assigned on the ⌊4n/5⌋ old
    * generation only). In production this IS the held index, built
    * once per corpus generation and served across waves — so the bench
    * charges it (and [[oldCellPairs]] / the diversified old edges) as
    * the `graph_memo_build_old` line and q151's timed run shows the
    * RECURRING per-wave cost: attach + search (the cc_memo/q146
    * accounting discipline).
    */
  def oldEdgeAssigned(s: SparkSession, d: String): DataFrame =
    get(s, d, "old_edge_assigned") {
      val p = prep(s, d)
      val cut = p.count() * 4 / 5
      val old = p.filter(col("vec_id") < cut)
      val k = math.ceil(math.sqrt(cut.toDouble)).toInt
      Ivf.assignAll(old, Ivf.trainCells(old, k = k))
    }

  /** Scored within-cell ordered pairs over the OLD edge quantizer —
    * [[cellPairs]] restricted to the frozen generation.
    */
  def oldCellPairs(s: SparkSession, d: String): DataFrame =
    get(s, d, "old_cell_pairs") {
      val asg = oldEdgeAssigned(s, d)
      asg.select(col("cell"), col("vec_id").as("src"),
          col("v").as("va"), col("nrm").as("na"))
        .join(asg.select(col("cell"), col("vec_id").as("dst"),
          col("v").as("vb"), col("nrm").as("nb")), Seq("cell"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          (graft.functions.DotFold(col("va"), col("vb")) /
            (col("na") * col("nb"))).as("cos"))
    }

  /** The standard 5-query probe set over the full-corpus centroids. */
  def probes5(s: SparkSession, d: String): DataFrame =
    get(s, d, "probes5")(Ivf.probeCells(
      prep(s, d).filter(col("vec_id") < Ivf.ProbeN).withColumnRenamed("vec_id", "query_id"),
      cent(s, d)))

  /** IVFADC shortlist for the standard 5-query probe set (shared tail
    * of q91 and q93 — everything up to the exact re-rank).
    */
  def ivfadcShortlist(s: SparkSession, d: String): DataFrame =
    get(s, d, "adcsl") {
      val dts = Pq.queryResidualTables(probes5(s, d), cent(s, d), residualCodebooks(s, d))
      Pq.ivfAdcShortlist(residualCodes(s, d),
        assigned(s, d).select(col("vec_id"), col("cell")), dts)
    }

  // ---- q92's frozen-generation towers -------------------------------
  // The index-append query trains BOTH quantizers on the first ⌊4n/5⌋
  // vectors only (the frozen index generation) — a cut that is
  // deterministic per sfDir, so the old-only tower memoizes exactly
  // like the full-corpus one. Unlike the main chain, the intermediates
  // (old-assignment, old-residuals, old-codes) have exactly ONE
  // consumer — q92's shortlist — so they are NOT memoized per stage
  // (eager per-stage checkpoints would materialize frames nothing
  // reuses; measured +2.5 s over the fused build): the whole pipeline
  // runs fused once and only the final shortlist is kept.

  /** The ⌊4n/5⌋ generation cut as a 1-row frame (integer-exact both
    * engines — the q92 oracle replays it as `count(*) * 4 // 5`).
    */
  def oldCut(s: SparkSession, d: String): DataFrame =
    get(s, d, "old_cut")(prep(s, d).agg(expr("count(1) * 4 div 5").as("cut")))

  /** IVFADC shortlist for the standard 5-query probe set through the
    * frozen-generation towers (the shared tail of q92): one fused
    * build — multi-consumer frames persist locally for the build and
    * drain before return (the dupLabels pattern; the trainers'
    * per-iteration checkpoints truncate lineage), then the shortlist
    * checkpoints eagerly inside the build and is stored as-is.
    */
  def oldIvfadcShortlist(s: SparkSession, d: String): DataFrame =
    memoize(s, d, "old_adcsl", checkpoint = false) {
      val locals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def hold(df: DataFrame): DataFrame = { locals += df.persist(); df }
      val emb = prep(s, d)
      def oldOnly(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(oldCut(s, d)))
          .filter(col("vec_id") < col("cut")).drop("cut")
      val cent = Ivf.trainCells(hold(oldOnly(emb)), hold)
      val assigned = hold(Ivf.assignAll(emb, cent))
      val rsub = hold(Pq.subvectors(Pq.residuals(assigned, cent)))
      val cb = Pq.trainCodebooks(oldOnly(rsub), hold)
      val codes = Pq.encode(rsub, cb)
      val probes = Ivf.probeCells(
        emb.filter(col("vec_id") < Ivf.ProbeN).withColumnRenamed("vec_id", "query_id"), cent)
      val dts = Pq.queryResidualTables(probes, cent, cb)
      val sl = Pq.ivfAdcShortlist(codes,
        assigned.select(col("vec_id"), col("cell")), dts)
        .localCheckpoint(true)
      locals.foreach(_.unpersist(false))
      sl
    }
}
