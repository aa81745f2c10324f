package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DotFold
import LoopScope.CkptOps

/** Trained-IVF ANN index: integer-quantized Lloyd's training, cell
  * assignment, multi-probe search. q42 composes these pieces IN-PLAN
  * (training embedded in the query DAG so the DuckDB oracle can replay
  * it bit-exactly); [[buildIndex]]/[[probeTopK]] compose the same
  * pieces the way a 100 TB deployment would — train ONCE, persist the
  * centroid and assignment tables as parquet, and serve queries from a
  * probe-only plan whose explain() contains no training pass at all.
  * Because training quantizes to integers (see [[K]] doc), the
  * persisted (S, n) longs round-trip parquet losslessly and the
  * probe-only top-k matches the in-plan q42 rows bit-for-bit
  * (IvfRecallSpec proves it).
  *
  * Shapes: every fact-table pass is MAP-ONLY — the centroid table
  * broadcasts as one array row and [[graft.functions.NearestCell]]
  * computes the argmin per vector in a single codegen loop (no n·k
  * intermediate rows, no argmin shuffle, no window); the only windows
  * run over query×[[K]] and candidate rows.
  */
object Ivf {

  /** k cells / Lloyd iterations / probed cells per query. Training is
    * cross-engine bit-exact because the only order-sensitive step —
    * summing member vectors — happens in integers: vq = floor(v·10⁶)
    * per component, Σvq as longs (order-independent), centroid
    * component = CAST(Σ AS DOUBLE) / (10⁶·n) with the identical
    * expression in both engines. Distances then compare equal bitwise,
    * so assignments (argmin by (d2, cid)) agree exactly.
    */
  val K = 16
  val Iters = 2
  val Probes = 2

  /** THE standard probe-set size: every ANN query/serving/audit draws
    * its query vectors as `vec_id < ProbeN` (round-17, r16 ADVICE:
    * q171's exact audit hardcoded the 5 separately from the memoized
    * serving probes — one constant now feeds every Spark-side draw, so
    * serve and audit cannot silently diverge on the probe set; the
    * oracle SQL generators keep their literal 5s as part of the fixed
    * oracle text — a probe-set change is a deliberate both-sides edit).
    */
  val ProbeN = 5

  /** Embedding prep: double vector, 10⁶-quantized long vector, L2 norm. */
  def prep(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("vq", transform(col("v"), x => floor(x * lit(1000000.0))))
      .withColumn("nrm", sqrt(DotFold(col("v"), col("v"))))

  /** Centroid table (cid, S, n) → (cid, cv) double centroids. */
  private def centv(c: DataFrame): DataFrame = c.select(col("cid"),
    transform(col("S"), q => q.cast("double") / (lit(1000000.0) * col("n"))).as("cv"))

  /** The whole centroid table as ONE row `cents:
    * array<struct<cid, cv>>`, cid-ascending (array_sort on a struct
    * array orders by the first field) — the broadcast operand of the
    * [[graft.functions.NearestCell]] map-only argmin.
    */
  private def centsRow(c: DataFrame): DataFrame =
    centv(c).agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))

  /** Squared distance of every base row to every centroid (broadcast). */
  private def withD2(base: DataFrame, c: DataFrame): DataFrame =
    base.crossJoin(broadcast(centv(c)))
      .withColumn("d2", DotFold(col("v"), col("v"))
        - lit(2.0) * DotFold(col("v"), col("cv")) + DotFold(col("cv"), col("cv")))

  /** [[Iters]] Lloyd iterations from the first `k` vectors by id
    * (default [[K]]); returns the integer centroid state
    * (cid, S: array<long>, n). `k` is a plain Int so callers that scale
    * the cell count with corpus size (the √n-cells rule — see
    * [[graft.ops.TowerMemo.edgeCent]]) pay one driver-side count and
    * keep the training plan itself unchanged.
    */
  def trainCells(emb: DataFrame, track: DataFrame => DataFrame = identity,
      k: Int = K): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fixed [[Iters]]-step unrolled trainer with per-iteration eager
    // checkpoints over a k-row state table: the assign pass is map-only
    // (broadcast NearestCell) and the update join is k-row
    var cent: DataFrame = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("vq").as("S"), lit(1L).as("n"))
    for (_ <- 1 to Iters) {
      // map-only argmin ([[graft.functions.NearestCell]] against the
      // 1-row broadcast centroid array): the relational
      // crossJoin → min(struct(d2, cid)) form materializes n·k
      // intermediate rows whose payload is the vector arrays — with
      // the √n-cell edge quantizer that is n^1.5 rows of ~0.5 KB each
      // and it dominated the build at stress scale (measured round 9:
      // the ×10 q135 stress point went 32.8 s → 7.0 s across this
      // rewrite, and the ×10/×4 ratio is now 1.4×).
      // Same bits by construction: NearestCell replays the exact
      // DotFold d2 expression and the (d2, cid) tie order.
      val asg = emb.select(col("vec_id"), col("v"), col("vq"))
        .crossJoin(broadcast(centsRow(cent)))
        .select(graft.functions.NearestCell(col("v"), col("cents")).as("cid"),
          col("vq"))
      // one typed-aggregator pass (order-independent long sums — the
      // DuckDB oracle's unnest+sum grouping produces identical values)
      val sums = asg.as[(Int, Seq[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(Aggregators.LongVecSum.toColumn)
        .toDF("cid", "sn")
        .select(col("cid"), col("sn._1").as("S"), col("sn._2").as("n"))
      // cells that attracted no vectors keep their previous (S, n).
      // localCheckpoint truncates the lineage each round — without it
      // every downstream consumer's logical plan embeds the whole
      // training tower (multiplied per iteration by this self-join),
      // and in stacked towers like IVFADC the PLANNING cost dwarfs the
      // compute (measured: q91's 5k-row stages took seconds each on
      // 4 MiB task binaries before; the 16-row checkpoint is free)
      // track() wraps the CHECKPOINTED frame — safe because loopCkpt
      // strips dangling layout claims before the persist can cache
      // them (the round-15 InMemoryRelation.withOutput hazard: under
      // non-adaptive execution the update join plans as an SMJ whose
      // sort ordering the checkpoint would capture against a
      // pre-projection attribute), and persisting the scan of
      // already-materialized checkpoint blocks is nearly free. No
      // broadcast hint on the k-row side: forcing it routed the
      // corpus-wide sums aggregate through a broadcast-collect every
      // iteration (measured ~+1 s per tower build) — AQE already
      // makes the right call at runtime.
      cent = track((cent.as("p")
          .join(sums.as("u"), col("p.cid") === col("u.cid"), "left")
          .select(col("p.cid").as("cid"), coalesce(col("u.S"), col("p.S")).as("S"),
            coalesce(col("u.n"), col("p.n")).as("n")))
        .loopCkpt)
    }
    cent
  }

  /** Nearest trained cell for every vector: (vec_id, cell, v, nrm).
    * Map-only ([[trainCells]]'s NearestCell argmin): one pass, no
    * intermediate n·k rows, no shuffle.
    */
  def assignAll(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("v"), col("nrm"))
      .crossJoin(broadcast(centsRow(cent)))
      .select(col("vec_id"),
        graft.functions.NearestCell(col("v"), col("cents")).as("cell"),
        col("v"), col("nrm"))

  /** The [[Probes]] nearest cells per query vector:
    * (query_id, cell, qv, qnrm).
    */
  def probeCells(queries: DataFrame, cent: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cid"))
    withD2(queries, cent)
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= Probes)
      .select(col("query_id"), col("cid").as("cell"), col("v").as("qv"),
        col("nrm").as("qnrm"))
  }

  /** Exact cosine top-k inside the probed cells only. */
  def topk(assigned: DataFrame, probes: DataFrame, k: Int = 5): DataFrame = {
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("cell"), col("vec_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Train once and persist the index: `indexDir/centroids` holds the
    * INTEGER centroid state (lossless in parquet), `indexDir/assignments`
    * the inverted lists WITH the vector payload (vec_id, cell, v, nrm —
    * doubles round-trip parquet losslessly), so serving never re-reads
    * or re-preps the raw embeddings. The at-scale shape: both writes
    * happen once per corpus version; queries never pay for training and
    * probes touch exactly one corpus-sized table.
    */
  def buildIndex(s: SparkSession, sfDir: String, indexDir: String): Unit = {
    val emb = prep(Tables.embeddings(s, sfDir)).persist()
    // per-iteration centroid persists (each iteration's table feeds both
    // the next update's sums and its carry-forward join — invariant 6);
    // released once the index is on disk
    val iterCents = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cent = trainCells(emb, df => { iterCents += df.persist(); df })
    cent.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val centBack = Tables.parquet(s, s"$indexDir/centroids")
    assignAll(emb, centBack)
      .write.mode("overwrite").parquet(s"$indexDir/assignments")
    iterCents.foreach(_.unpersist(false))
    emb.unpersist()
  }

  /** Probe-only search against a persisted index: same output contract
    * as q42, no training in the plan, and ZERO reads of the raw
    * embeddings parquet — query vectors and corpus vectors both come
    * from the assignments table's stored (v, nrm) payload.
    */
  def probeTopK(s: SparkSession, sfDir: String, indexDir: String, k: Int = 5): DataFrame = {
    val cent = Tables.parquet(s, s"$indexDir/centroids")
    val assigned = Tables.parquet(s, s"$indexDir/assignments")
    val probes = probeCells(
      assigned.filter(col("vec_id") < Ivf.ProbeN)
        .select(col("vec_id").as("query_id"), col("v"), col("nrm")), cent)
    topk(assigned, probes, k)
  }
}
