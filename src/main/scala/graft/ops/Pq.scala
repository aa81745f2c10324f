package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DotFold
import LoopScope.CkptOps

/** Product-quantization ANN (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  * 64-dim embedding into [[M]] subvectors, train a tiny codebook per
  * subspace with the SAME integer-quantized Lloyd's the IVF path uses
  * ([[Ivf.K]] doc — floor(x·10⁶) longs, order-independent sums, one
  * identical centroid expression per engine), and encode every vector
  * as [[M]] small codes. Queries never touch the encoded vectors'
  * floats again: asymmetric-distance (ADC) search precomputes a
  * query×[[M]]×[[KSub]] distance table, quantizes each entry to a
  * floor(d²·10⁸) long, and scores a candidate as the SUM of its codes'
  * table entries — an integer sum, so scores are order-independent and
  * replay bit-exactly in any engine (the q42 oracle discipline applied
  * to the other classic ANN index).
  *
  * Why this is the 100 TB path: IVF (q42) prunes WHICH vectors a query
  * scans; PQ compresses WHAT is scanned — 64 floats (256 B) become
  * [[M]] 4-bit codes (16 B at this geometry, 16×), so the candidate
  * scan is a codes⋈broadcast-table integer join with no vector I/O,
  * and only the [[Shortlist]]-sized exact re-rank ever touches a full
  * vector again. IVF and PQ compose (IVF lists of PQ codes) exactly
  * as in the paper; here each is exercised separately against the
  * same oracle gate.
  *
  * Plan shapes: training broadcasts the codebook as [[M]] array rows
  * and argmins MAP-ONLY per subvector row
  * ([[graft.functions.NearestCell]] — no ×[[KSub]] fan-out, no argmin
  * shuffle, never a window over n·k rows); encoding is the same
  * argmin; serving joins
  * the codes table to a broadcast queries×[[M]]×[[KSub]] distance
  * table, hash-aggregates the per-candidate sum, and re-ranks the
  * shortlist exactly. No driver collect anywhere.
  */
object Pq {

  /** Subspaces × dims-per-subspace must equal the embedding dim (64).
    * Geometry was MEASURED before wiring (the vacuity rule): on this
    * corpus coarse subspaces barely rank (8×8-dim / 8 codes: recall@5
    * 0.20 even with exact ADC), because the synthetic embeddings have
    * little per-subspace cluster structure — so the shipped shape is
    * the production one: FINE subspaces (32 × 2-dim, 16 codes = 4
    * bits each, 16 B/vector — 16× compression), ADC selects a
    * [[Shortlist]] of 20, and exact L2 re-ranks the shortlist to the
    * top-5 (the IVFADC-with-re-ranking deployment from the PQ paper).
    * Measured recall@5 vs exact L2: 0.84 at sf0.001, 0.92 at sf0.01
    * (PqSpec pins the floor).
    */
  val M = 32
  val SubDim = 2
  val KSub = 16
  val Iters = 2
  val Shortlist = 20

  /** One row per (vec_id, m): the m-th subvector as doubles and as the
    * 10⁶-quantized longs training sums. Input is [[Ivf.prep]] output.
    */
  def subvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        explode(array((0 until M).map(m => struct(lit(m).as("m"),
          slice(col("v"), m * SubDim + 1, SubDim).as("sv"),
          slice(col("vq"), m * SubDim + 1, SubDim).as("svq"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"),
        col("s.svq").as("svq"))

  /** Integer codebook state (m, cid, S, n) → (m, cid, cv) doubles —
    * the [[Ivf]] centroid expression, verbatim, per subspace.
    */
  private def centv(c: DataFrame): DataFrame = c.select(col("m"), col("cid"),
    transform(col("S"), q => q.cast("double") / (lit(1000000.0) * col("n"))).as("cv"))

  /** Squared distance of every subvector row to every code of its
    * subspace (the codebook broadcasts — 64 rows total). Used where
    * the FULL distance table is the product (ADC query tables); the
    * corpus-grain argmins use [[centsByM]] + NearestCell instead.
    */
  private def withD2(base: DataFrame, c: DataFrame): DataFrame =
    base.join(broadcast(centv(c)), Seq("m"))
      .withColumn("d2", DotFold(col("sv"), col("sv"))
        - lit(2.0) * DotFold(col("sv"), col("cv")) + DotFold(col("cv"), col("cv")))

  /** Per-subspace codebook as ONE array row each (m, cents) —
    * cid-ascending (array_sort orders by the leading struct field),
    * the broadcast-hash-join operand of the
    * [[graft.functions.NearestCell]] map-only argmin: the corpus-grain
    * encode/train passes join 1:1 on `m` instead of fanning every
    * subvector row out ×[[KSub]] through the relational min-struct
    * (same bits — NearestCell replays the withD2 expression and the
    * (d2, cid) tie order; the [[graft.ops.Ivf]] round-9 lesson applied
    * to the subspace argmin).
    */
  private def centsByM(c: DataFrame): DataFrame =
    centv(c).groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))

  /** [[Iters]] Lloyd rounds per subspace, all subspaces trained in ONE
    * plan (the subspace id is just another grouping key); seeded from
    * the first [[KSub]] vectors' subvectors. Returns (m, cid, S, n).
    */
  def trainCodebooks(sub: DataFrame, track: DataFrame => DataFrame = identity): DataFrame = {
    val spark = sub.sparkSession
    import spark.implicits._
    // fixed-iteration trainer over a 512-row state table, per-round
    // eager checkpoints
    var cent: DataFrame = sub.filter(col("vec_id") < KSub)
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        col("svq").as("S"), lit(1L).as("n"))
    for (_ <- 1 to Iters) {
      val asg = sub.join(broadcast(centsByM(cent)), Seq("m"))
        .select(col("m"),
          graft.functions.NearestCell(col("sv"), col("cents")).as("cid"),
          col("svq"))
      val sums = asg.as[(Int, Int, Seq[Long])]
        .groupByKey(t => (t._1, t._2)).mapValues(_._3)
        .agg(Aggregators.LongVecSum.toColumn)
        .toDF("key", "sn")
        .select(col("key._1").as("m"), col("key._2").as("cid"),
          col("sn._1").as("S"), col("sn._2").as("n"))
      // localCheckpoint per round, as in Ivf.trainCells — the 512-row
      // checkpoint is free and keeps downstream plans (encode, ADC,
      // IVFADC stacking) from embedding the whole training tower.
      // track-the-checkpoint, no broadcast hint: the Ivf.trainCells
      // rationale (loopCkpt strips dangling layout, so the persist is
      // safe; a forced broadcast routes the sums aggregate through a
      // broadcast-collect every iteration)
      cent = track((cent.as("p")
          .join(sums.as("u"),
            col("p.m") === col("u.m") && col("p.cid") === col("u.cid"), "left")
          .select(col("p.m").as("m"), col("p.cid").as("cid"),
            coalesce(col("u.S"), col("p.S")).as("S"), coalesce(col("u.n"), col("p.n")).as("n")))
        .loopCkpt)
    }
    cent
  }

  /** PQ codes: nearest code per (vec_id, subspace) — (vec_id, m, cid).
    * Map-only (the [[centsByM]] NearestCell argmin): one 1:1 broadcast
    * join on m, no ×[[KSub]] fan-out, no argmin shuffle.
    */
  def encode(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(centsByM(cent)), Seq("m"))
      .select(col("vec_id"), col("m"),
        graft.functions.NearestCell(col("sv"), col("cents")).as("cid"))

  /** The ADC distance table for a set of query vectors: one
    * floor(d²·10⁸) long per (query, subspace, code) — queries×[[M]]×
    * [[KSub]] rows, built from the queries' own subvectors against the
    * broadcast codebook.
    */
  def distanceTables(querySub: DataFrame, cent: DataFrame): DataFrame =
    withD2(querySub.select(col("vec_id").as("query_id"), col("m"), col("sv")), cent)
      .select(col("query_id"), col("m"), col("cid"),
        floor(col("d2") * lit(1e8)).cast("long").as("qdt"))

  /** ADC shortlist: candidates scored ONLY through their codes — the
    * codes table joins the broadcast distance table and the
    * per-candidate integer sum ranks them; the top [[Shortlist]] per
    * query survive (WindowGroupLimit pre-trims map-side). `adc` ≈
    * 10⁸ · squared L2 distance.
    */
  def adcShortlist(codes: DataFrame, dts: DataFrame, shortlist: Int = Shortlist): DataFrame = {
    val scored = codes.join(broadcast(dts), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdt")).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    scored.withColumn("rs", row_number().over(w))
      .filter(col("rs") <= shortlist)
      .select(col("query_id"), col("vec_id"), col("adc"))
  }

  /** Exact re-rank of the ADC shortlist: only shortlist-sized fetches
    * of the full vectors (`emb` is [[Ivf.prep]] output), exact squared
    * L2, top-k. Output: (query_id, rank, vec_id, adc, d2).
    */
  def rerankTopK(shortlisted: DataFrame, emb: DataFrame, k: Int = 5,
      extra: Seq[String] = Nil): DataFrame = {
    val exact = shortlisted
      .join(emb.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .withColumn("d2", DotFold(col("qv"), col("qv"))
        - lit(2.0) * DotFold(col("qv"), col("v")) + DotFold(col("v"), col("v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq(col("query_id"), col("rank").cast("int").as("rank"))
        ++ extra.map(col) ++ Seq(col("vec_id"), col("adc"), col("d2"))): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- IVFADC

  /** Residual encoding for IVFADC (the PQ paper's full system, §IV):
    * each vector is re-expressed relative to its IVF cell's centroid,
    * r = v − c(cell), and PQ codebooks are trained on the RESIDUALS —
    * quantizing what the coarse quantizer missed, which is where PQ's
    * precision actually goes at scale. Input is [[Ivf.assignAll]]
    * output (vec_id, cell, v, nrm) plus the INTEGER centroid state;
    * the centroid double is the one canonical expression (S/10⁶n), so
    * both engines subtract bit-identical values and the residual —
    * and everything trained on it — replays exactly. Output has the
    * [[subvectors]] input contract (v = residual, vq = floor(r·10⁶))
    * with `cell` carried for the serving join.
    */
  def residuals(assigned: DataFrame, cent: DataFrame): DataFrame = {
    val cv = cent.select(col("cid").as("cell"),
      transform(col("S"), q => q.cast("double") / (lit(1000000.0) * col("n"))).as("ccv"))
    assigned.join(broadcast(cv), Seq("cell"))
      .withColumn("r", zip_with(col("v"), col("ccv"), (a, b) => a - b))
      .select(col("vec_id"), col("cell"), col("r").as("v"),
        transform(col("r"), x => floor(x * lit(1000000.0))).as("vq"))
  }

  /** Per-probed-cell ADC distance tables: the query's residual is
    * DIFFERENT in each probed cell (r_q = q − c(cell)), so the table
    * is keyed (query_id, cell, m, cid) — queries × [[Ivf.Probes]] ×
    * [[M]] × [[KSub]] rows, still broadcast-sized. Input `probes` is
    * [[Ivf.probeCells]] output (query_id, cell, qv, qnrm).
    */
  def queryResidualTables(probes: DataFrame, cent: DataFrame, cb: DataFrame): DataFrame = {
    val cv = cent.select(col("cid").as("cell"),
      transform(col("S"), q => q.cast("double") / (lit(1000000.0) * col("n"))).as("ccv"))
    val qsub = probes.join(broadcast(cv), Seq("cell"))
      .withColumn("r", zip_with(col("qv"), col("ccv"), (a, b) => a - b))
      .select(col("query_id"), col("cell"),
        explode(array((0 until M).map(m => struct(lit(m).as("m"),
          slice(col("r"), m * SubDim + 1, SubDim).as("sv"))): _*)).as("s"))
      .select(col("query_id"), col("cell"), col("s.m").as("m"), col("s.sv").as("sv"))
    qsub.join(broadcast(centv(cb)), Seq("m"))
      .withColumn("d2", DotFold(col("sv"), col("sv"))
        - lit(2.0) * DotFold(col("sv"), col("cv")) + DotFold(col("cv"), col("cv")))
      .select(col("query_id"), col("cell"), col("m"), col("cid"),
        floor(col("d2") * lit(1e8)).cast("long").as("qdt"))
  }

  /** IVFADC shortlist: candidates are only the vectors living in a
    * probed cell (the inverted-list cut — the scan IVF saves), scored
    * through their residual codes against the broadcast per-cell
    * distance table (the I/O PQ saves). `cells` is the (vec_id, cell)
    * assignment; at scale it IS the inverted-list table and this join
    * is the list lookup.
    */
  def ivfAdcShortlist(codes: DataFrame, cells: DataFrame, dts: DataFrame,
      shortlist: Int = Shortlist): DataFrame = {
    val scored = codes.join(cells, Seq("vec_id"))
      .join(broadcast(dts), Seq("cell", "m", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cell"), col("vec_id"))
      .agg(sum(col("qdt")).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    scored.withColumn("rs", row_number().over(w))
      .filter(col("rs") <= shortlist)
      .select(col("query_id"), col("cell"), col("vec_id"), col("adc"))
  }

  /** Train once and persist: `indexDir/codebooks` holds the INTEGER
    * codebook state (lossless in parquet, like the IVF centroids) and
    * `indexDir/codes` the 4-bit-per-subspace code table — the entire
    * ADC-searchable corpus at 16 B/vector. Serving reads these two
    * plus shortlist-sized vector fetches for the re-rank.
    */
  def buildIndex(s: SparkSession, sfDir: String, indexDir: String): Unit = {
    val sub = subvectors(Ivf.prep(Tables.embeddings(s, sfDir))).persist()
    val iterCents = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cent = trainCodebooks(sub, df => { iterCents += df.persist(); df })
    cent.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    val centBack = Tables.parquet(s, s"$indexDir/codebooks")
    encode(sub, centBack).write.mode("overwrite").parquet(s"$indexDir/codes")
    iterCents.foreach(_.unpersist(false))
    sub.unpersist()
  }

  /** Probe-only ADC search against a persisted index: the ADC pass
    * reads the codebooks (512 rows) and the codes table — never the
    * corpus vectors — and the re-rank fetches full vectors for the
    * shortlist only (the id-addressed lookup a serving tier does).
    * Query vectors come from the raw embeddings (queries are the live
    * side of an ANN service; re-prepping 5 rows is free).
    */
  def probeTopK(s: SparkSession, sfDir: String, indexDir: String, k: Int = 5): DataFrame = {
    val cent = Tables.parquet(s, s"$indexDir/codebooks")
    val codes = Tables.parquet(s, s"$indexDir/codes")
    val emb = Ivf.prep(Tables.embeddings(s, sfDir))
    val qsub = subvectors(emb.filter(col("vec_id") < Ivf.ProbeN))
    rerankTopK(adcShortlist(codes, distanceTables(qsub, cent)), emb, k)
  }
}
