package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Session-scoped memo of the deterministic trained ANN towers.
  *
  * Eight queries (q42/q76/q82/q91/q92/q93/q115/q118) read the SAME
  * IVF (and often PQ) tower, and the DuckDB oracle replays its
  * training bit-exactly. Training is integer-quantized and seeded from
  * the first k vector ids ([[Ivf.K]] doc), so for a fixed
  * (session, sfDir) every one of those towers is bit-identical — a
  * bench/verify session that runs the whole suite would otherwise pay
  * for the same deterministic computation ~8×. This memo builds each
  * artifact once per (session, sfDir).
  *
  * What is held, and how:
  *  - trained quantizer state (IVF cells, PQ codebooks) is k rows of
  *    integer (S, n) sums — bounded by k, never by the corpus, and
  *    capped at [[Ivf.MaxCells]] — so it stays on the driver as a
  *    local frame ([[Ivf.trainCells]], [[Pq.trainCodebooks]]): no
  *    checkpoint, no lineage;
  *  - each corpus-sized output is materialized once, by an eager
  *    `localCheckpoint`: the prep, the full tower's fused rows (cell,
  *    vector payload and residual codes in one pass, [[Pq.ivfadcRows]])
  *    whose projections are [[assigned]] and [[residualCodes]], the
  *    edge assignments and pair tables, and the shortlists;
  *  - corpus-sized state with no k bound (the CC labels memoized
  *    through [[memoize]], BPE merges) stays distributed, checkpointed
  *    per loop step.
  *
  * Why localCheckpoint and not persist(): `spark.catalog.clearCache()`
  * (Bench/Verify run it between queries) drops CacheManager entries
  * but not RDD-level checkpoint blocks, so the memo survives the
  * per-query cache hygiene; the blocks are freed when the session
  * stops.
  *
  * Correctness is untouched by construction: every held frame holds
  * the exact rows the un-memoized tower produces — IvfRecallSpec/
  * PqSpec's bit-for-bit probe-vs-in-plan assertions still hold. At
  * 100 TB this memo is NOT the serving path (that is
  * [[Ivf.buildIndex]] / [[Pq.buildIndex]] — train once, persist
  * parquet); it only removes redundant retraining within one analytic
  * session.
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
    * `checkpoint = false` stores the built frame as-is — for a local
    * frame (trained state held on the driver) and for builders whose
    * result already reads only checkpointed state (re-checkpointing
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

  /** The corpus size n, counted once per (session, sfDir)
    * ([[graft.Tables.rowCount]]). The edge quantizer's ⌈√n⌉ cells, the
    * ⌊4n/5⌋ generation cut and its ⌈√cut⌉ cells all derive from it.
    */
  private def corpusSize(s: SparkSession, d: String): Long =
    Tables.rowCount(s, d, "embeddings")

  /** ⌈√x⌉ cells — the √n-cells rule; the DuckDB oracle computes the
    * same k as CAST(ceil(sqrt(count(*))) AS BIGINT) in-query.
    */
  private def sqrtCells(x: Long): Int = math.ceil(math.sqrt(x.toDouble)).toInt

  /** The ⌊4n/5⌋ generation cut: vectors below it are the frozen old
    * generation (integer-exact both engines — the q92 oracle replays it
    * as `count(*) * 4 // 5`).
    */
  def generationCut(s: SparkSession, d: String): Long = corpusSize(s, d) * 4 / 5

  /** [[generationCut]] as a 1-row local frame `cut`. */
  def oldCut(s: SparkSession, d: String): DataFrame =
    s.createDataFrame(Seq(Tuple1(generationCut(s, d)))).toDF("cut")

  /** The standard probe set's query vectors (query_id, v, vq, nrm). */
  private def probeQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < Ivf.ProbeN).withColumnRenamed("vec_id", "query_id")

  /** Full-corpus IVF centroid state (the q42 training tower). */
  def cent(s: SparkSession, d: String): DataFrame =
    memoize(s, d, "cent", checkpoint = false)(Ivf.trainCells(prep(s, d)))

  /** Residual PQ codebooks (the q91/q93 tower), trained on the whole
    * corpus's residual subvectors under [[cent]].
    */
  def residualCodebooks(s: SparkSession, d: String): DataFrame =
    memoize(s, d, "rcb", checkpoint = false)(
      Pq.trainCodebooks(Pq.residualsUnder(prep(s, d), cent(s, d))))

  /** The full tower's corpus-sized output, materialized once:
    * (vec_id, cell, v, nrm, codes).
    */
  private def rows(s: SparkSession, d: String): DataFrame =
    get(s, d, "rows")(Pq.ivfadcRows(prep(s, d), cent(s, d), residualCodebooks(s, d)))

  /** Full-corpus cell assignment (vec_id, cell, v, nrm). */
  def assigned(s: SparkSession, d: String): DataFrame =
    rows(s, d).select(col("vec_id"), col("cell"), col("v"), col("nrm"))

  /** Residual PQ codes for the whole corpus (vec_id, m, cid, cell). */
  def residualCodes(s: SparkSession, d: String): DataFrame = Pq.codeRows(rows(s, d))

  /** The standard 5-query probe set over the full-corpus centroids — a
    * map-only projection of the prep, computed where it is read.
    */
  def probes5(s: SparkSession, d: String): DataFrame =
    Ivf.probes(probeQueries(prep(s, d)), cent(s, d))

  /** IVFADC shortlist for the standard 5-query probe set (shared tail
    * of q91 and q93 — everything up to the exact re-rank).
    */
  def ivfadcShortlist(s: SparkSession, d: String): DataFrame =
    get(s, d, "adcsl")(Pq.ivfAdcShortlist(residualCodes(s, d),
      Pq.queryResidualTables(probes5(s, d), cent(s, d), residualCodebooks(s, d))))

  /** √n-cell EDGE quantizer centroids (the q126/q135 k-NN graph
    * substrate). The fixed-[[Ivf.K]] tower keeps within-cell pair mass
    * at n²/K — quadratic under growth — which is fine for probe-style
    * consumers (candidates per QUERY stay occupancy-sized) but is the
    * scale-killer for the all-SOURCES edge derivation, whose pair mass
    * is Σ|cell|². This trainer scales the cell count with the corpus:
    * k = ⌈√n⌉ cells → occupancy ≈ √n → pair mass ≈ n^1.5 (the √n-cells
    * rule), and the rule survives exact-duplicate pileup too (replicas
    * multiply n, not any one cell disproportionately — the ×10
    * replica stress shape). n is the session's one [[corpusSize]], so
    * the dynamic cell count needs no interpolated constant (fixed SQL,
    * any SF).
    */
  def edgeCent(s: SparkSession, d: String): DataFrame =
    memoize(s, d, "edge_cent", checkpoint = false)(
      Ivf.trainCells(prep(s, d), k = sqrtCells(corpusSize(s, d))))

  /** Edge-quantizer cell assignment (vec_id, cell, v, nrm) — the
    * within-cell pair domain for [[graft.queries.TextQueries]]'s
    * knnEdges (q126 centrality, q135 graph search).
    */
  def edgeAssigned(s: SparkSession, d: String): DataFrame =
    get(s, d, "edge_assigned")(Ivf.assign(prep(s, d), edgeCent(s, d)))

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
      val cut = generationCut(s, d)
      val old = prep(s, d).filter(col("vec_id") < cut)
      Ivf.assign(old, Ivf.trainCells(old, k = sqrtCells(cut)))
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

  /** IVFADC shortlist for the standard 5-query probe set through the
    * frozen-generation towers (the shared tail of q92): both quantizers
    * train on the ⌊4n/5⌋ old generation only — a cut that is
    * deterministic per sfDir, so the old-only tower memoizes exactly
    * like the full-corpus one — and the whole corpus is assigned and
    * encoded under them. The tower's rows have one consumer, this
    * shortlist, so they are not held: they stream through the
    * shortlist's scoring scan and only the shortlist is kept.
    */
  def oldIvfadcShortlist(s: SparkSession, d: String): DataFrame =
    get(s, d, "old_adcsl") {
      val emb = prep(s, d)
      val old = emb.filter(col("vec_id") < generationCut(s, d))
      val cent = Ivf.trainCells(old)
      val cb = Pq.trainCodebooks(Pq.residualsUnder(old, cent))
      Pq.ivfAdcShortlist(Pq.codeRows(Pq.ivfadcRows(emb, cent, cb)),
        Pq.queryResidualTables(Ivf.probes(probeQueries(emb), cent), cent, cb))
    }
}
