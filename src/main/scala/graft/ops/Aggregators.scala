package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed Aggregators (SURVEY.md §2.10/§7.3): last-wins keyed state for
  * the streaming route table and a vector centroid for embedding ops.
  */
object Aggregators {

  /** One observed write: event time + tiebreak sequence + value. */
  case class Stamped(ts: Long, seq: Long, value: Int)

  /** OP-33 — last-wins merge as a typed Aggregator: newest (ts, seq)
    * wins; commutative and associative, so partial aggregation (map-side
    * combine) is safe — the property ScalaCheck exercises.
    */
  object LastWins extends Aggregator[Stamped, Stamped, Int] {
    private val none = Stamped(Long.MinValue, Long.MinValue, Int.MinValue)
    def zero: Stamped = none
    def reduce(b: Stamped, a: Stamped): Stamped = merge(b, a)
    def merge(a: Stamped, b: Stamped): Stamped =
      if (b.ts > a.ts || (b.ts == a.ts && b.seq > a.seq)) b else a
    def finish(r: Stamped): Int = r.value
    def bufferEncoder: Encoder[Stamped] = Encoders.product[Stamped]
    def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** Element-wise long-vector sum + member count, dimension inferred from
    * the first vector — the integer-exact centroid accumulator behind the
    * trained IVF (q42): long sums are order-independent, so partial
    * aggregation is always safe and the result is bit-reproducible in any
    * engine.
    */
  object LongVecSum extends Aggregator[Seq[Long], (Array[Long], Long), (Seq[Long], Long)] {
    def zero: (Array[Long], Long) = (Array.empty[Long], 0L)
    def reduce(b: (Array[Long], Long), v: Seq[Long]): (Array[Long], Long) =
      if (b._1.isEmpty) (v.toArray, b._2 + 1)
      else {
        var i = 0
        while (i < b._1.length) { b._1(i) += v(i); i += 1 }
        (b._1, b._2 + 1)
      }
    def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) =
      if (a._1.isEmpty) b
      else if (b._1.isEmpty) a
      else {
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    def finish(r: (Array[Long], Long)): (Seq[Long], Long) = (r._1.toSeq, r._2)
    def bufferEncoder: Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
    def outputEncoder: Encoder[(Seq[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Long], Long)]()
  }

  /** q83's KMV sketch as a typed Aggregator: the k smallest DISTINCT
    * values seen, kept sorted. `merge` IS the KMV union (min-k of two
    * min-ks = min-k of the union — commutative, associative, bounded at
    * k elements), so partial aggregation gives the distributed sketch
    * merge natively and the same aggregator maintains the sketch over a
    * stream in complete mode with no custom state. The buffer never
    * exceeds k longs; the saturated-and-larger fast path makes the
    * common post-warmup insert O(1).
    */
  /** The k rows with the LARGEST (priority DESC, doc_id ASC) order —
    * the priority-sampling reservoir (q89's streaming twin). As with
    * [[MinK]], `merge` IS the sample-union law of the sketch: two
    * reservoirs over disjoint streams merge into the reservoir of the
    * union, so map-side partials and per-wave streaming states combine
    * exactly as the batch global top-k does. Duplicate doc_ids are
    * dropped (idempotent under re-delivery). Rows are (priority,
    * doc_id, n_tokens).
    */
  case class TopPriority(k: Int)
      extends Aggregator[(Double, Long, Long), Seq[(Double, Long, Long)], Seq[(Double, Long, Long)]] {
    require(k >= 1)
    private val ord: Ordering[(Double, Long, Long)] =
      Ordering.by((t: (Double, Long, Long)) => (-t._1, t._2))
    def zero: Seq[(Double, Long, Long)] = Vector.empty
    private def insert(b: Seq[(Double, Long, Long)], v: (Double, Long, Long)): Seq[(Double, Long, Long)] =
      if (b.length == k && ord.lteq(b.last, v)) b
      else if (b.exists(_._2 == v._2)) b // O(k), k is small by construction
      else {
        val s = (b :+ v).sorted(ord)
        if (s.length > k) s.take(k) else s
      }
    def reduce(b: Seq[(Double, Long, Long)], v: (Double, Long, Long)): Seq[(Double, Long, Long)] =
      insert(b, v)
    def merge(a: Seq[(Double, Long, Long)], b: Seq[(Double, Long, Long)]): Seq[(Double, Long, Long)] =
      b.foldLeft(a)(insert)
    def finish(r: Seq[(Double, Long, Long)]): Seq[(Double, Long, Long)] = r
    def bufferEncoder: Encoder[Seq[(Double, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long, Long)]]()
    def outputEncoder: Encoder[Seq[(Double, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long, Long)]]()
  }

  /** q119's HDR/DDSketch bin math, ONE definition for the SQL
    * expression form (PipelineQueries.q119HdrQuantile mirrors this
    * integer-for-integer), the typed [[HdrHist]] aggregator, and the
    * spec models — bit-length × sub + linear sub-bucket, all shifts
    * and truncating division.
    */
  object HdrBins {
    /** Bin id of a positive value: bl·sub + ((v − 2^(bl−1))·sub) div
      * 2^(bl−1). Domain: 1 ≤ v < 2⁵⁹ (the (v−lo)·sub product must stay
      * under 2⁶³ — ANSI Spark throws on overflow); money-cents and
      * token counts sit ~40 bits below the bound.
      */
    def binOf(v: Long, sub: Int): Int = {
      require(v >= 1 && v < (1L << 59), "HDR bins are defined for 1 <= v < 2^59")
      val bl = 64 - java.lang.Long.numberOfLeadingZeros(v)
      val lo = 1L << (bl - 1)
      (bl * sub + ((v - lo) * sub) / lo).toInt
    }
    /** Guaranteed lower bound of a bin (relative error ≤ 1/(2·sub)). */
    def binLo(bin: Int, sub: Int): Long = {
      val lo = 1L << (bin / sub - 1)
      lo + (bin % sub).toLong * lo / sub
    }
    /** p-th percentile lower bound from a sketch (ceil-rank, as q119). */
    def quantileLo(counts: Seq[(Int, Long)], p: Int, sub: Int): Long = {
      require(counts.nonEmpty, "quantileLo of an empty sketch is undefined")
      val sorted = counts.sortBy(_._1)
      val n = sorted.map(_._2).sum
      val rank = (n * p + 99) / 100
      // explicit loop: the accumulation must not live inside a
      // PartialFunction guard (collectFirst's applyOrElse evaluates
      // guards once per element today, but an isDefinedAt+apply
      // implementation would double-increment)
      var cum = 0L
      var i = 0
      var bin = sorted.last._1
      var found = false
      while (!found && i < sorted.length) {
        cum += sorted(i)._2
        if (cum >= rank) { bin = sorted(i)._1; found = true }
        i += 1
      }
      binLo(bin, sub)
    }
  }

  /** The q119 mergeable quantile sketch as a typed Aggregator: a sparse
    * (bin → count) map over [[HdrBins]]. `merge` IS the sketch union
    * (bin-count addition — commutative, associative, state bounded by
    * sub·64 entries), so map-side partials and complete-mode streaming
    * wave states combine exactly as the batch sketch does
    * (StreamingSketchSpec proves wave ≡ batch; QuantileSketchSpec pins
    * the error bound and the merge law itself).
    */
  case class HdrHist(sub: Int) extends Aggregator[Long, Map[Int, Long], Seq[(Int, Long)]] {
    require(sub >= 1)
    def zero: Map[Int, Long] = Map.empty
    def reduce(b: Map[Int, Long], v: Long): Map[Int, Long] =
      if (v < 1) b
      else { val k = HdrBins.binOf(v, sub); b.updated(k, b.getOrElse(k, 0L) + 1L) }
    def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
      b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    def finish(r: Map[Int, Long]): Seq[(Int, Long)] = r.toSeq.sortBy(_._1)
    def bufferEncoder: Encoder[Map[Int, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Int, Long]]()
    def outputEncoder: Encoder[Seq[(Int, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Int, Long)]]()
  }

  case class MinK(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    require(k >= 1)
    def zero: Seq[Long] = Vector.empty
    private def insert(b: Seq[Long], v: Long): Seq[Long] =
      if (b.length == k && v >= b.last) b
      else if (b.contains(v)) b // O(k), k is small by construction
      else {
        val s = (b :+ v).sorted
        if (s.length > k) s.take(k) else s
      }
    def reduce(b: Seq[Long], v: Long): Seq[Long] = insert(b, v)
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = b.foldLeft(a)(insert)
    def finish(r: Seq[Long]): Seq[Long] = r
    def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
}
