package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NearestCell

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
  * Plan shapes: the codebook is [[M]] × [[KSub]] integer state rows
  * held on the driver ([[trainCodebooks]]); training and encoding argmin
  * MAP-ONLY per subvector ([[graft.functions.NearestCell]] against the
  * subspace's codebook, inlined as a literal — no ×[[KSub]] fan-out, no
  * argmin shuffle, never a window over n·k rows); serving joins the
  * codes table to a broadcast queries×[[M]]×[[KSub]] distance table,
  * hash-aggregates the per-candidate sum, and re-ranks the shortlist
  * exactly. The only driver collects are of that bounded state: the
  * trainer's seed and per-iteration sums, and a codebook or centroid
  * table read once to become a literal ([[Ivf.local]]).
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
          slot(col("v"), m).as("sv"), slot(col("vq"), m).as("svq"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"),
        col("s.svq").as("svq"))

  /** Integer codebook state (m, cid, S, n) → (m, cid, cv) doubles —
    * the [[Ivf]] centroid expression, verbatim, per subspace.
    */
  private def centv(c: DataFrame): DataFrame =
    c.select(col("m"), col("cid"), Ivf.centroid(col("S"), col("n")).as("cv"))

  /** Squared distance of every subvector row to every code of its
    * subspace (the codebook broadcasts — 512 rows total) — the
    * [[distanceTables]] join, which keeps a persisted codebook table in
    * the serving plan; the corpus-grain argmins use [[bookLit]] +
    * NearestCell instead.
    */
  private def withD2(base: DataFrame, c: DataFrame): DataFrame =
    base.join(broadcast(centv(c)), Seq("m"))
      .withColumn("d2", Ivf.d2(col("sv"), col("cv")))

  /** A codebook state as a literal indexed by subspace: element m is
    * subspace m's codes as `array<struct<cid, cv>>`, cid-ascending —
    * the NearestCell operand of the corpus-grain argmins (the same bits
    * as a per-subspace broadcast join: NearestCell replays the d2
    * expression and the (d2, cid) tie order).
    */
  private def bookLit(cb: DataFrame): Column = {
    val byM = centv(cb).collect()
      .groupMap(_.getInt(0))(r => Ivf.Cell(r.getInt(1), r.getSeq[Double](2)))
    typedLit((0 until M).map(m => byM.getOrElse(m, Array.empty[Ivf.Cell]).sortBy(_.cid).toSeq))
  }

  /** The m-th [[SubDim]]-wide slice of a vector column. */
  private def slot(v: Column, m: Int): Column = slice(v, m * SubDim + 1, SubDim)

  /** [[Iters]] Lloyd rounds per subspace, all [[M]] subspaces trained
    * in ONE fold per round (the subspace id is part of the state key);
    * seeded from the first [[KSub]] vectors' subvectors. Input is vector
    * rows (vec_id, v, vq) — [[Ivf.prep]] output or [[residuals]] — so a
    * round reads n rows, not n × [[M]]: each row's [[M]] codes come from
    * one projection and [[Ivf.lloydStep]] sums each subvector into its
    * (m, cid) cell. Returns the state (m, cid, S, n) as a local frame:
    * [[M]] × [[KSub]] rows held on the driver, each round one map-only
    * job.
    */
  def trainCodebooks(vecs: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var state = vecs.filter(col("vec_id") < KSub)
      .select(col("vec_id").cast("int"), col("vq")).as[(Int, Array[Long])].collect()
      .flatMap { case (cid, vq) => (0 until M).map(m =>
        ((m.toLong << 32) | cid) -> (vq.slice(m * SubDim, m * SubDim + SubDim), 1L)) }
      .toMap
    def frame = state.toSeq.sortBy(_._1)
      .map { case (k, (s, n)) => ((k >>> 32).toInt, k.toInt, s, n) }.toDF("m", "cid", "S", "n")
    for (_ <- 1 to Iters if state.nonEmpty)
      state = Ivf.lloydStep(state, vecs.select(codes(col("v"), bookLit(frame)), col("vq")))
    frame
  }

  /** The [[M]] codes of a vector column against a codebook literal. */
  private def codes(v: Column, book: Column): Column =
    array((0 until M).map(m => NearestCell(slot(v, m), book(m))): _*)

  /** PQ codes: nearest code per (vec_id, subspace) — (vec_id, m, cid).
    * Map-only: the codebook rides as a literal (no ×[[KSub]] fan-out,
    * no argmin shuffle, no exchange).
    */
  def encode(sub: DataFrame, cent: DataFrame): DataFrame = {
    val book = bookLit(cent)
    sub.select(col("vec_id"), col("m"), NearestCell(col("sv"), book(col("m"))).as("cid"))
  }

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
      .withColumn("d2", Ivf.d2(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq(col("query_id"), col("rank").cast("int").as("rank"))
        ++ extra.map(col) ++ Seq(col("vec_id"), col("adc"), col("d2"))): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- IVFADC

  /** A centroid state (cid, S, n) as a literal map cid → centroid
    * doubles ([[Ivf.centroid]]), for the residual subtraction.
    */
  private def ccvLit(cent: DataFrame): Column =
    typedLit(cent.select(col("cid"), Ivf.centroid(col("S"), col("n"))).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap)

  /** r = v − c(cell), component-wise. */
  private def residual(v: Column, cell: Column, ccv: Column): Column =
    zip_with(v, element_at(ccv, cell), (a, b) => a - b)

  /** Residual encoding for IVFADC (the PQ paper's full system, §IV):
    * each vector is re-expressed relative to its IVF cell's centroid,
    * r = v − c(cell), and PQ codebooks are trained on the RESIDUALS —
    * quantizing what the coarse quantizer missed, which is where PQ's
    * precision actually goes at scale. Input is an assignment
    * (vec_id, cell, v, nrm) plus the INTEGER centroid state; the
    * centroid double is the one canonical expression (S/10⁶n), so
    * both engines subtract bit-identical values and the residual —
    * and everything trained on it — replays exactly. Output has the
    * [[subvectors]] input contract (v = residual, vq = floor(r·10⁶))
    * with `cell` carried for the serving join.
    */
  def residuals(assigned: DataFrame, cent: DataFrame): DataFrame =
    assigned.withColumn("r", residual(col("v"), col("cell"), ccvLit(cent)))
      .select(col("vec_id"), col("cell"), col("r").as("v"), Ivf.quantize(col("r")).as("vq"))

  /** The residuals of `emb` under a driver-held IVF state — the
    * codebook trainer's input, a lazy map-only projection.
    */
  def residualsUnder(emb: DataFrame, cent: DataFrame): DataFrame =
    residuals(Ivf.assign(emb, cent), cent)

  /** The held IVFADC tower's n-row output in ONE map-only pass against
    * the driver-held states: (vec_id, cell, v, nrm, codes), where
    * `codes(m)` is subspace m's residual code. Assignment, residual and
    * encoding fuse into one projection, so a held tower materializes
    * its corpus-sized rows once (no per-stage checkpoints, no n × [[M]]
    * subvector rows). Same bits as [[residuals]] + [[encode]]: the
    * same centroid doubles, the same slices, the same NearestCell.
    */
  def ivfadcRows(emb: DataFrame, cent: DataFrame, cb: DataFrame): DataFrame =
    Ivf.assign(emb, cent)
      .withColumn("r", residual(col("v"), col("cell"), ccvLit(cent)))
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"),
        codes(col("r"), bookLit(cb)).as("codes"))

  /** [[ivfadcRows]] as code rows (vec_id, m, cid, cell) — the layout
    * of a persisted IVFADC codes table.
    */
  def codeRows(rows: DataFrame): DataFrame =
    rows.select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")), col("cell"))

  /** Per-probed-cell ADC distance tables: the query's residual is
    * DIFFERENT in each probed cell (r_q = q − c(cell)), so the table
    * is keyed (query_id, cell, m, cid) — queries × [[Ivf.Probes]] ×
    * [[M]] × [[KSub]] rows, still broadcast-sized. Input `probes` is
    * (query_id, cell, qv, qnrm) ([[Ivf.probes]]/[[Ivf.probeCells]]);
    * both states ride as literals, so the table is a projection. Each
    * literal collects its state frame: pass driver-held frames (trained,
    * or read once with [[Ivf.local]]), not persisted tables.
    */
  def queryResidualTables(probes: DataFrame, cent: DataFrame, cb: DataFrame): DataFrame = {
    val book = bookLit(cb)
    probes.withColumn("r", residual(col("qv"), col("cell"), ccvLit(cent)))
      .select(col("query_id"), col("cell"),
        explode(array((0 until M).map(m =>
          struct(lit(m).as("m"), slot(col("r"), m).as("sv"))): _*)).as("s"))
      .select(col("query_id"), col("cell"), col("s.m").as("m"), col("s.sv").as("sv"))
      .select(col("query_id"), col("cell"), col("m"), col("sv"), explode(book(col("m"))).as("c"))
      .select(col("query_id"), col("cell"), col("m"), col("c.cid").as("cid"),
        floor(Ivf.d2(col("sv"), col("c.cv")) * lit(1e8)).cast("long").as("qdt"))
  }

  /** IVFADC shortlist: candidates are only the vectors living in a
    * probed cell (the inverted-list cut — the scan IVF saves), scored
    * through their residual codes against the broadcast per-cell
    * distance table (the I/O PQ saves). `codes` rows (vec_id, m, cid,
    * cell) carry their vector's cell, as a persisted codes table does,
    * so the list lookup is the distance-table join itself.
    */
  def ivfAdcShortlist(codes: DataFrame, dts: DataFrame,
      shortlist: Int = Shortlist): DataFrame = {
    val scored = codes.join(broadcast(dts), Seq("cell", "m", "cid"))
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
    val emb = Ivf.prep(Tables.embeddings(s, sfDir)).persist()
    trainCodebooks(emb).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    val centBack = Tables.parquet(s, s"$indexDir/codebooks")
    encode(subvectors(emb), centBack).write.mode("overwrite").parquet(s"$indexDir/codes")
    emb.unpersist()
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
