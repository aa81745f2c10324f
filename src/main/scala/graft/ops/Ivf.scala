package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{DotFold, NearestCell}

/** Trained-IVF ANN index: integer-quantized Lloyd's training, cell
  * assignment, multi-probe search. q42 composes these pieces over the
  * session's held tower ([[TowerMemo]]); [[buildIndex]]/[[probeTopK]]
  * compose the same pieces the way a 100 TB deployment would — train
  * ONCE, persist the centroid and assignment tables as parquet, and
  * serve queries from a probe-only plan whose explain() contains no
  * training pass at all. Because training quantizes to integers (see
  * [[K]] doc), the persisted (S, n) longs round-trip parquet losslessly
  * and the probe-only top-k matches q42's rows bit-for-bit
  * (IvfRecallSpec proves it).
  *
  * Driver-held state: a trained quantizer is k rows of (cid, S, n) —
  * k × dim longs, bounded by k and never by the corpus — so the
  * trainers keep it on the driver ([[trainCells]], capped at
  * [[MaxCells]]) and return it as a local frame; [[local]] reads a
  * persisted state table into one. Operators whose centroid side is
  * such a state ([[assign]], [[probes]], the Lloyd folds) inline it as
  * a literal: the pass is map-only and needs no exchange job.
  * [[assignAll]]/[[probeCells]] take any centroid frame (a persisted
  * index table, kept in the serving plan) and join it as a broadcast.
  * Assignment is [[graft.functions.NearestCell]] per vector in one
  * loop whatever the operand: no n·k intermediate rows, no argmin
  * shuffle; the only window ranks query × cell rows in [[probeCells]].
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

  /** The most cells a trainer holds on the driver. The √n edge
    * quantizer's k grows with the corpus (k = 1024 at n ≈ 1M vectors);
    * above the cap [[trainCells]] throws before any job runs. The state
    * is k × dim longs on the driver and its centroids ride in every
    * assignment task as a literal: 1024 × 64 doubles is 512 KiB, under
    * Spark's 1 MiB large-task-binary warning. A fold's result bytes are
    * ⌈√partitions⌉ partial states ([[lloydStep]]): at the cap and 10⁶
    * partitions, 1000 × 512 KiB, inside the default 1 GiB
    * `spark.driver.maxResultSize`.
    */
  val MaxCells = 1024

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
      .withColumn("vq", quantize(col("v")))
      .withColumn("nrm", sqrt(DotFold(col("v"), col("v"))))

  /** floor(x·10⁶) per component: the integers Lloyd's sums. */
  private[ops] def quantize(v: Column): Column =
    transform(v, x => floor(x * lit(1000000.0)))

  /** The double centroid of an integer state row: CAST(S AS DOUBLE) /
    * (10⁶·n) per component, the one expression both engines use.
    */
  private[ops] def centroid(s: Column, n: Column): Column =
    transform(s, q => q.cast("double") / (lit(1000000.0) * n))

  /** Squared L2 distance |a|² − 2a·b + |b|² in [[DotFold]]s — the d2
    * that NearestCell replays and the oracle computes.
    */
  private[ops] def d2(a: Column, b: Column): Column =
    DotFold(a, a) - lit(2.0) * DotFold(a, b) + DotFold(b, b)

  /** Centroid table (cid, S, n) → (cid, cv) double centroids. */
  private def centv(c: DataFrame): DataFrame =
    c.select(col("cid"), centroid(col("S"), col("n")).as("cv"))

  /** One cell of a centroid operand (the struct NearestCell reads). */
  private[ops] case class Cell(cid: Int, cv: Seq[Double])

  /** A state frame (cid, S, n) as NearestCell's operand: a literal
    * `array<struct<cid, cv>>` in cid order. The [[centroid]] projection
    * of a local frame evaluates on the driver without a job.
    */
  private[ops] def centsLit(cent: DataFrame): Column =
    typedLit(centv(cent).collect()
      .map(r => Cell(r.getInt(0), r.getSeq[Double](1))).sortBy(_.cid).toSeq)

  /** A persisted state table (cid, S, n) or (m, cid, S, n) read into a
    * driver-held local frame: one collect job, after which every
    * literal built from it ([[assign]], [[probes]], [[Pq.ivfadcRows]],
    * [[Pq.queryResidualTables]]) is free.
    */
  def local(state: DataFrame): DataFrame =
    state.sparkSession.createDataFrame(
      java.util.Arrays.asList(state.collect(): _*), state.schema)

  /** A centroid frame as ONE row `cents: array<struct<cid, cv>>`,
    * cid-ascending (array_sort on a struct array orders by the first
    * field) — the broadcast operand of [[assignAll]].
    */
  private def centsRow(c: DataFrame): DataFrame =
    centv(c).agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))

  /** The [[Probes]] cells nearest to `v`, by (d2, cid): array_sort
    * orders the (d2, cid) structs as [[probeCells]]' window (and the
    * oracle's row_number) orders its rows, so it selects the same cells
    * without a shuffle.
    */
  private def nearestCells(v: Column, cents: Column): Column =
    transform(
      slice(array_sort(transform(cents, c =>
        struct(d2(v, c.getField("cv")).as("d2"), c.getField("cid").as("cid")))), 1, Probes),
      c => c.getField("cid"))

  /** [[Iters]] Lloyd iterations from the first `k` vectors by id
    * (default [[K]], at most [[MaxCells]]); returns the integer
    * centroid state (cid, S: array<long>, n) as a local frame. `k` is
    * a plain Int so callers that scale the cell count with corpus size
    * (the √n-cells rule — see [[graft.ops.TowerMemo.edgeCent]]) pick it
    * on the driver.
    *
    * The state lives on the driver: the seed is one collect of ≤ k
    * rows, and each iteration is one job — NearestCell against the
    * state inlined as a literal, then [[lloydStep]]'s per-partition
    * long sums merged by a tree aggregate. No checkpoint, no lineage:
    * the returned frame is the k rows themselves.
    */
  def trainCells(emb: DataFrame, k: Int = K): DataFrame = {
    require(k <= MaxCells, s"trainCells: $k cells exceed the driver-held cap of $MaxCells")
    val spark = emb.sparkSession
    import spark.implicits._
    var state = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("vq")).as[(Int, Array[Long])].collect()
      .map { case (cid, vq) => cid.toLong -> (vq, 1L) }.toMap
    def frame = state.toSeq.sortBy(_._1)
      .map { case (cid, (s, n)) => (cid.toInt, s, n) }.toDF("cid", "S", "n")
    for (_ <- 1 to Iters if state.nonEmpty)
      state = lloydStep(state,
        emb.select(array(NearestCell(col("v"), centsLit(frame))), col("vq")))
    frame
  }

  /** One Lloyd update of a driver-held state. `asg` rows are
    * (codes: array<int>, vq: array<long>): code m of a row is the cell
    * of vq's m-th slice (of vq.length / codes.length components), and
    * the state key is (m << 32) | cell — a single code for an IVF cell,
    * one per subspace for a PQ codebook. Each partition folds its rows
    * into per-key long sums with [[Aggregators.LongVecSum]]'s
    * arithmetic (order-independent), and a tree aggregate merges the
    * partials — one job, and the driver receives at most ⌈√partitions⌉
    * partials of ≤ k × dim longs each (a level of executor-side merging
    * runs first when the partitions are many). Keys that attracted no
    * rows keep their previous (S, n).
    */
  private[ops] def lloydStep(state: Map[Long, (Array[Long], Long)], asg: DataFrame)
      : Map[Long, (Array[Long], Long)] = {
    val spark = asg.sparkSession
    import spark.implicits._
    val sum = Aggregators.LongVecSum
    type Sums = scala.collection.mutable.HashMap[Long, (Array[Long], Long)]
    val sums = asg.as[(Array[Int], Array[Long])].rdd.treeAggregate(new Sums)(
      { case (acc, (codes, vq)) =>
        val w = vq.length / codes.length
        for (m <- codes.indices) {
          val key = (m.toLong << 32) | codes(m)
          acc(key) = sum.reduce(acc.getOrElse(key, sum.zero), vq.slice(m * w, m * w + w))
        }
        acc
      },
      { (a, b) =>
        b.foreach { case (key, p) => a(key) = a.get(key).fold(p)(sum.merge(_, p)) }
        a
      })
    state.map { case (key, old) => key -> sums.getOrElse(key, old) }
  }

  /** (vec_id, cell, v, nrm): each vector's nearest cell in `cents`. */
  private def nearest(emb: DataFrame, cents: Column): DataFrame =
    emb.select(col("vec_id"), NearestCell(col("v"), cents).as("cell"), col("v"), col("nrm"))

  /** Nearest cell for every vector against a driver-held state (a
    * trained or [[local]] frame): (vec_id, cell, v, nrm), map-only,
    * with the centroids inlined as a literal.
    */
  def assign(emb: DataFrame, cent: DataFrame): DataFrame = nearest(emb, centsLit(cent))

  /** The [[Probes]] nearest cells per query vector against a
    * driver-held state: (query_id, cell, qv, qnrm), map-only.
    */
  def probes(queries: DataFrame, cent: DataFrame): DataFrame =
    queries.select(col("query_id"), explode(nearestCells(col("v"), centsLit(cent))).as("cell"),
      col("v").as("qv"), col("nrm").as("qnrm"))

  /** [[assign]] against a centroid frame read from anywhere (a
    * persisted index table): the frame joins as a broadcast one-row
    * operand, so the pass stays map-only and the plan scans the table.
    */
  def assignAll(emb: DataFrame, cent: DataFrame): DataFrame =
    nearest(emb.select(col("vec_id"), col("v"), col("nrm")).crossJoin(broadcast(centsRow(cent))),
      col("cents"))

  /** [[probes]] against a centroid frame read from anywhere (a
    * persisted index table): the centroids broadcast and a window over
    * query × cell rows ranks them by (d2, cid), the order
    * [[nearestCells]] sorts by. The serving plan stays free of
    * aggregates — the one-row operand [[assignAll]] builds is a
    * `collect_list` aggregate — so it holds only scans of the index.
    */
  def probeCells(queries: DataFrame, cent: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cid"))
    queries.crossJoin(broadcast(centv(cent)))
      .withColumn("d2", d2(col("v"), col("cv")))
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
    trainCells(emb).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val centBack = Tables.parquet(s, s"$indexDir/centroids")
    assignAll(emb, centBack)
      .write.mode("overwrite").parquet(s"$indexDir/assignments")
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
