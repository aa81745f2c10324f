package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Remaining general-purpose surface: JSON extraction, pivot, exact
  * percentiles — operators a reference user reaches for that none of
  * q01–q42 exercised.
  */
object MiscQueries {

  /** JSON scalar extraction over events.props (`{"k": n}`): per-k stats.
    * Demonstrates get_json_object/from_json against DuckDB json_extract.
    */
  val q43JsonProps: Q = (s, d) => {
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / lit(100.0)).as("total"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("k"))
  }

  /** Pivot: per-user event counts spread across event-type columns
    * (fixed pivot value list keeps the schema static — the scalable form;
    * dynamic pivots need a driver-side distinct pass).
    */
  val q44PivotEvents: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  /** Exact percentiles (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the type-7 definition): order-value
    * quartiles per priority.
    */
  val q45Percentiles: Q = (s, d) => {
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("median"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bag-semantics set op: multiset intersection of the order-key
    * populations of two lineitem slices (intersectAll keeps duplicate
    * multiplicity — min of the two sides' counts).
    */
  val q46IntersectAll: Q = (s, d) => {
    val hi = lineitem(s, d).filter(col("l_quantity") >= 25)
      .select(pmod(col("l_orderkey"), lit(100)).as("k"))
    val lo = lineitem(s, d).filter(col("l_quantity") < 25)
      .select(pmod(col("l_orderkey"), lit(100)).as("k"))
    hi.intersectAll(lo)
      .groupBy(col("k")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("k"))
  }

  /** Custom as-of join operator (graft.plans.AsOfJoin — logical node,
    * planner strategy, sort-merge exec): every purchase gets the user's
    * newest signup snapshot at-or-before its time. Oracle: DuckDB's
    * native ASOF JOIN.
    */
  val q47AsofJoin: Q = (s, d) => {
    val purchases = events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val snapshots = events(s, d).filter(col("event_type") === "signup")
      .select(col("user_id").as("suser"), col("ts_us").as("sts"), col("value").as("sval"))
    graft.ops.AsOf.asofJoin(purchases, snapshots, "user_id", "ts_us", "suser", "sts")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("sts"), col("sval"))
      .orderBy(col("event_id"))
  }

  /** Analytic window functions not yet exercised: lead/lag deltas and
    * ntile quartiles over each customer's order history.
    */
  val q48LeadLagNtile: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od_us"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), tsUs(col("o_orderdate")).as("od_us"),
        col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_gap_us", lead(col("od_us"), 1).over(w) - col("od_us"))
      .withColumn("quartile", ntile(4).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("od_us"),
        col("prev_price"), col("next_gap_us"), col("quartile"))
      .orderBy(col("o_custkey"), col("od_us"), col("o_orderkey"))
  }

  /** Bag-semantics EXCEPT ALL: lineitem order-key population minus one
    * occurrence per high-quantity row.
    */
  val q49ExceptAll: Q = (s, d) => {
    val all = lineitem(s, d).select(pmod(col("l_orderkey"), lit(100)).as("k"))
    val hi = lineitem(s, d).filter(col("l_quantity") >= 40)
      .select(pmod(col("l_orderkey"), lit(100)).as("k"))
    all.exceptAll(hi)
      .groupBy(col("k")).agg(count(lit(1)).as("remaining"))
      .orderBy(col("k"))
  }

  /** RANGE-frame window: 7-day rolling revenue per customer — the frame
    * is value-based (micros), not row-based, so sparse histories window
    * correctly.
    */
  val q50RangeFrame: Q = (s, d) => {
    val weekUs = 7L * 86400 * 1000000
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od_us"))
      .rangeBetween(-weekUs, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), tsUs(col("o_orderdate")).as("od_us"),
        cents(col("o_totalprice")).as("price_c"))
      .withColumn("rolling_7d", sum(col("price_c")).over(w).cast("double") / lit(100.0))
      .select(col("o_custkey"), col("od_us"), col("o_orderkey"), col("rolling_7d"))
      .orderBy(col("o_custkey"), col("od_us"), col("o_orderkey"))
  }

  /** Unpivot (melt): q44's wide per-user event-type counts back to long
    * form — the wide→long reshape a feature-store export needs
    * (`Dataset.unpivot`, the variable/value relational form). The
    * fixed value-column list keeps the schema static, like q44's pivot.
    * Densified first (`na.fill(0)`), so every (user, type) combo
    * appears exactly once — unpivot emits the dense grid. The oracle
    * mirrors with an independent formulation: dense user × type grid
    * LEFT JOINed to the plain GROUP BY counts.
    */
  /** The q102 pipeline factored over any (user_id, event_type) frame so
    * the spec can drive a sparse synthetic grid — THIS corpus is fully
    * dense at every SF (measured), so the `na.fill(0)` densification
    * branch never binds on real data.
    */
  private[graft] def unpivotCounts(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = ev
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
    wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
  }

  val q102Unpivot: Q = (s, d) =>
    unpivotCounts(events(s, d)).orderBy(col("user_id"), col("event_type"))

  /** Profiled columns per table — numeric vs string — the SINGLE source
    * for the Spark profile, the generated DuckDB mirror, and the
    * ProfileSpec assertions (invariant 7: parameters in one place).
    * Timestamps enter as epoch-micros longs (`tsUs` / `epoch_us`).
    */
  private[graft] val ProfileCols: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("documents", Seq("doc_id", "n_chars"), Seq("text", "lang", "source")),
    ("events", Seq("event_id", "ts_us", "user_id", "value"),
      Seq("event_type", "props")),
    ("orders", Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate_us"),
      Seq("o_orderstatus", "o_orderpriority")))

  /** Profiled columns whose doubles are 2-decimal money (events.value
    * measured tie-free in round 7; o_totalprice is TPC-H money) — the
    * sketch hash integerizes them as cents; every other profiled
    * numeric is already integral.
    */
  private[graft] val ProfileMoneyCols: Set[(String, String)] =
    Set(("events", "value"), ("orders", "o_totalprice"))

  /** KMV parameters for the sketch-mode profile: k (shared accuracy
    * constant, ~12% at 64) and the LCG constants of the per-value hash
    * h = ((v mod P)·A + B) mod P — A bounded so (P−1)·A + B < 2⁶³.
    * One definition feeds the Spark expression, the DuckDB mirror, and
    * ProfileSpec.
    */
  private[graft] val ProfileKmvK = PipelineQueries.KmvK
  private[graft] val HashP = 1000000007L
  private[graft] val HashA = 1103515245L
  private[graft] val HashB = 12345L

  /** Rows beyond which [[q109Profile]] swaps exact `count_distinct` for
    * the per-column KMV sketch (the q96 gate pattern: test corpora sit
    * under the threshold so the oracled q109 always runs exact;
    * [[q124ProfileSketch]] forces the sketch path so IT is oracled
    * too — the swap is a tested code path, not a doc promise).
    */
  private[graft] val ProfileExactMax = 10000000L

  /** The LCG post-mix is NOT optional for KMV: raw inputs (sequential
    * ids; char-folds of strings sharing a long common prefix, e.g.
    * events.props) cluster in narrow intervals of the ring, and the
    * k-th-smallest estimator explodes on clustered hashes (measured:
    * raw PolyHash on props estimated 3795 for a true 100). An affine
    * map h·A+B mod P with A·width ≫ P wraps the cluster around the
    * ring many times — residues spread uniformly.
    */
  private def lcgMix(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(h, lit(HashP)) * lit(HashA) + lit(HashB), lit(HashP))
  private def numHashCol(table: String, c: String): org.apache.spark.sql.Column = {
    val iv = if (ProfileMoneyCols((table, c))) cents(col(c)) else col(c).cast("long")
    lcgMix(iv)
  }
  private def strHashCol(c: String): org.apache.spark.sql.Column =
    lcgMix(graft.functions.PolyHash(col(c), HashP))

  /** One-pass per-table column profile: every stat for every column
    * computed in a SINGLE aggregate over one scan (Spark plans the
    * multi-distinct via Expand — k distinct columns cost one k-way row
    * multiplication, still one scan and one shuffle), then the 1-row
    * result melts into one row per column. Numeric min/max surface as
    * exact doubles (all profiled numerics are < 2⁵³); string min/max
    * use binary collation, identical in both engines (the q52
    * precedent). Factored over the input frame so ProfileSpec can prove
    * the null-counting branch on a synthetic frame — the driver corpus
    * has zero nulls (measured), so n_null is dormant on real data.
    *
    * At 100 TB: exact count-distinct per column is the expensive term —
    * `sketchK = Some(k)` swaps it for the q83 KMV sketch per column
    * (n_distinct becomes ⌊(k−1)·P/h₍ₖ₎⌋, the exact size when the sketch
    * never filled): the melt explodes each row into one (col, hash)
    * pair per profiled column, per-column distinct hashes pre-aggregate
    * map-side, and the min-k rank runs as WindowGroupLimit (every map
    * task keeps its local k smallest — exactly how distributed KMV
    * sketches union). The stats pass loses its Expand entirely (no
    * distinct → pure map-side partial agg).
    */
  private[graft] def profileTable(df: org.apache.spark.sql.DataFrame,
      table: String, num: Seq[String], str: Seq[String],
      sketchK: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val exact = sketchK.isEmpty
    val aggs = (num.flatMap(c => Seq(
        Some(count(col(c)).as(s"c_$c")),
        if (exact) Some(count_distinct(col(c)).as(s"d_$c")) else None,
        Some(min(col(c)).cast("double").as(s"mn_$c")),
        Some(max(col(c)).cast("double").as(s"mx_$c"))).flatten) ++
      str.flatMap(c => Seq(
        Some(count(col(c)).as(s"c_$c")),
        if (exact) Some(count_distinct(col(c)).as(s"d_$c")) else None,
        Some(min(col(c)).as(s"mns_$c")),
        Some(max(col(c)).as(s"mxs_$c"))).flatten))
    val row = df.agg(count(lit(1)).as("n"), aggs: _*)
    val wide = sketchK match {
      case None => row
      case Some(k) =>
        // melt → per-column distinct hash → min-k rank → KMV estimate,
        // pivoted back onto the 1-row stats frame as d_<col> columns
        val entries =
          num.map(c => struct(lit(c).as("cn"), numHashCol(table, c).as("h"))) ++
          str.map(c => struct(lit(c).as("cn"), strHashCol(c).as("h")))
        val melted = df.select(explode(array(entries: _*)).as("e"))
          .select(col("e.cn").as("cn"), col("e.h").as("h"))
          .filter(col("h").isNotNull)
          .distinct()
        val w = Window.partitionBy(col("cn")).orderBy(col("h").asc)
        val sk = melted.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .groupBy(col("cn"))
          .agg(count(lit(1)).as("sk_n"),
            max(when(col("rk") === k, col("h"))).as("kth"))
          .select(col("cn"),
            floor(when(col("kth").isNull, col("sk_n").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(HashP.toDouble)
                / col("kth").cast("double"))).cast("long").as("nd"))
        // a column with zero non-null rows has no sketch row at all —
        // coalesce to 0 so the schema matches exact mode's count_distinct
        val pivoted = sk.groupBy()
          .pivot(col("cn"), (num ++ str)).agg(first(col("nd")))
          .select((num ++ str).map(c =>
            coalesce(col(s"`$c`"), lit(0L)).as(s"d_$c")): _*)
        row.crossJoin(broadcast(pivoted))
    }
    val entries =
      num.map(c => struct(lit(table).as("table_name"), lit(c).as("col_name"),
        col("n").as("n_rows"), (col("n") - col(s"c_$c")).as("n_null"),
        col(s"d_$c").as("n_distinct"),
        col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))) ++
      str.map(c => struct(lit(table).as("table_name"), lit(c).as("col_name"),
        col("n").as("n_rows"), (col("n") - col(s"c_$c")).as("n_null"),
        col(s"d_$c").as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        col(s"mns_$c").as("min_str"), col(s"mxs_$c").as("max_str")))
    wide.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  private def profileFrames(s: org.apache.spark.sql.SparkSession, d: String)
      : Map[String, org.apache.spark.sql.DataFrame] = Map(
    "documents" -> documents(s, d),
    "events" -> events(s, d),
    "orders" -> orders(s, d)
      .withColumn("o_orderdate_us", tsUs(col("o_orderdate"))))

  /** EXT — data profiling: per-column n_rows / n_null / n_distinct /
    * min / max across the three live tables — the first thing a
    * pipeline owner runs on a new 100 TB drop (schema sanity, null
    * regressions, cardinality drift). One scan + one aggregate per
    * table, three tables unioned.
    *
    * Per-table mode gate: a table past [[ProfileExactMax]] rows swaps
    * exact `count_distinct` for the KMV sketch (memoized
    * [[graft.Tables.rowCount]] — no scan-per-invocation; the q96 gate
    * pattern). Test corpora sit under the threshold, so this oracled
    * query always runs exact; [[q124ProfileSketch]] oracles the sketch
    * branch itself.
    */
  val q109Profile: Q = (s, d) => {
    val frames = profileFrames(s, d)
    ProfileCols.map { case (t, num, str) =>
      val k = if (graft.Tables.rowCount(s, d, t) <= ProfileExactMax) None
              else Some(ProfileKmvK)
      profileTable(frames(t), t, num, str, k)
    }.reduce(_.union(_))
      .orderBy(col("table_name"), col("col_name"))
  }

  /** EXT — the profile's at-scale mode, gate FORCED: n_distinct comes
    * from the per-column KMV sketch (⌊(k−1)·P/h₍ₖ₎⌋ over the
    * [[numHashCol]]/[[strHashCol]] value hashes, exact when a column
    * has fewer than k distinct hashes — most profiled columns here, so
    * both estimate branches are live at sf0.01: doc_id/event_id/text
    * fill the sketch, lang/source/o_orderstatus don't). Everything
    * else (n_rows, n_null, min/max) is identical to q109. The oracle
    * replays the sketch hash-for-hash, so the at-scale swap q109's
    * gate selects is itself machine-checked — a tested code path, not
    * a doc promise.
    *
    * Scale shape: the stats agg is pure map-side partial (the Expand
    * that exact multi-distinct needs is gone); the melt shuffles only
    * per-column distinct hashes, min-k pre-truncates map-side via
    * WindowGroupLimit (the distributed KMV union law, as q83).
    */
  val q124ProfileSketch: Q = (s, d) => {
    val frames = profileFrames(s, d)
    ProfileCols.map { case (t, num, str) =>
      profileTable(frames(t), t, num, str, Some(ProfileKmvK))
    }.reduce(_.union(_))
      .orderBy(col("table_name"), col("col_name"))
  }

  /** The join-key columns [[q132SkewProbe]] diagnoses — the shuffle
    * keys the engine's own joins/aggregations actually use. Measured
    * before wiring: skew factors span 1.0 (documents.source, uniform)
    * to 3.2 (lineitem.l_orderkey) at the test SFs, so the probe and
    * its salt recommendation genuinely vary across rows.
    */
  private val SkewCols = Seq(
    ("events", "user_id"), ("events", "event_type"),
    ("orders", "o_custkey"), ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"), ("documents", "source"))

  /** EXT — pre-shuffle skew diagnostics: for every join/aggregation
    * key the engine shuffles on, ONE aggregate answers the questions a
    * 100 TB job plan asks before launching: how many rows land on the
    * hottest key (`max_cnt`, the straggler-task bound), the skew
    * factor max·keys/rows (1.0 = uniform), which key it is, and the
    * SALT fan-out that would level it — ⌈max/avg⌉ =
    * (max·keys + rows − 1) DIV rows, integer-exact (the multiplier
    * you'd feed a salted repartition or AQE's skew-join threshold).
    * Everything is integer until the one skew division; the top key
    * is an invariant-8 min-struct argmax (ties → smallest key string),
    * never a sort.
    *
    * Scale shape: per column one map-side-combining hash agg over the
    * scan + a key-space-sized second agg; the probed column list is
    * static so the union is 6 tiny plans. This is the op you run on
    * the CLUSTER before sizing `spark.sql.shuffle.partitions` and
    * salting — the plan is the same plan at any SF.
    */
  val q132SkewProbe: Q = (s, d) => {
    def probe(tbl: String, df: org.apache.spark.sql.DataFrame, c: String) = {
      val keyed = df.select(col(c).cast("string").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
      keyed.agg(
          sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_cnt"),
          min(struct((-col("c")).as("nc"), col("k"))).as("m"))
        .select(lit(s"$tbl.$c").as("key_col"), col("n_rows"), col("n_keys"),
          col("max_cnt"), col("m.k").as("top_key"),
          (col("max_cnt").cast("double") * col("n_keys") / col("n_rows")).as("skew"),
          expr("(max_cnt * n_keys + n_rows - 1) DIV n_rows").as("salt"))
    }
    val frames = Map[String, org.apache.spark.sql.DataFrame](
      "events" -> events(s, d), "orders" -> orders(s, d),
      "lineitem" -> lineitem(s, d), "documents" -> documents(s, d))
    SkewCols.map { case (t, c) => probe(t, frames(t), c) }
      .reduce(_.union(_)).orderBy(col("key_col"))
  }

  /** Salt fan-out for [[q141SaltedAgg]] — ⌈skew⌉ of the skewest key
    * [[q132SkewProbe]] measures (lineitem.l_orderkey, factor 3.2 at
    * the test SFs; the probe's own integer `salt` recommendation for
    * that row is 4). One constant, consumed by the query AND
    * interpolated into its oracle (invariant 7).
    */
  private[graft] val SaltedAggFanout = 4

  /** EXT — two-phase SALTED aggregation, end-to-end: the operator
    * q132's salt recommendation feeds. Phase 1 aggregates on
    * (l_orderkey, salt) with salt = l_linenumber mod
    * [[SaltedAggFanout]] — a deterministic row attribute, not a
    * rand() (the oracle must replay it) — so a hot orderkey's rows
    * split across [[SaltedAggFanout]] reducers and the straggler-task
    * bound drops from max_cnt to ⌈max_cnt/fanout⌉. Phase 2 merges the
    * partials per orderkey — a keys-sized, not rows-sized, shuffle.
    * `n_salts` reports the realized fan-out per key (non-vacuous,
    * measured at sf0.01: 1984/5070/5595/2094 orderkeys land 1/2/3/4
    * partials — linenumbers run 1..n so every ≥4-item order hits the
    * full fanout), and the DuckDB oracle is the
    * UNSALTED direct aggregation — the row-parity twin the two-phase
    * plan must reproduce exactly (the q56 different-algorithm
    * discipline). ScaleTechniquesSpec plan-asserts the salted
    * partial/final Exchange pair on THIS registered query.
    *
    * Scale shape: for algebraic sums Spark's map-side combine already
    * tames skew, so the demonstration rides sums the oracle can check
    * bit-exactly (integer cents/counts) — but the two-phase shape is
    * the one that matters when the per-key state does NOT combine
    * map-side (collect_list/exact-distinct shuffles every row to its
    * key's reducer): there the salted Exchange on (key, salt) is the
    * only lever that bounds the hottest reducer, and this plan is that
    * lever verbatim. Both phases are map-side-combining hash aggs; no
    * window, no sort until the output ORDER BY.
    */
  val q141SaltedAgg: Q = (s, d) => {
    val partial = lineitem(s, d)
      .withColumn("salt", pmod(col("l_linenumber"), lit(SaltedAggFanout)))
      .groupBy(col("l_orderkey"), col("salt"))
      .agg(count(lit(1)).as("pc"),
        sum(col("l_quantity").cast("long")).as("pq"),
        sum(cents(col("l_extendedprice"))).as("pp"))
    partial.groupBy(col("l_orderkey"))
      .agg(sum(col("pc")).as("n_items"),
        sum(col("pq")).as("sum_qty"),
        (sum(col("pp")).cast("double") / lit(100.0)).as("sum_price"),
        count(lit(1)).as("n_salts"))
      .select(col("l_orderkey"), col("n_items"), col("sum_qty"),
        col("sum_price"), col("n_salts"))
      .orderBy(col("l_orderkey"))
  }

  /** EXT — exact PHRASE search over a positional inverted index
    * (Manning–Raghavan–Schütze IIR §2.4 positional postings; the
    * rarest-first evaluation order is the classic §1.3 query
    * optimization). Workload: 5-word phrases lifted from a seeded
    * prime-hash slice of corpus docs (h = doc_id·48271 mod 2³¹−1,
    * h%20 = 3; position 1 + (h DIV 20) mod (nw−4) — doc_id%m slices
    * alias the source lattice, the r16 lesson), plus one
    * guaranteed-miss twin per phrase (3rd word → 'qzx', outside the
    * ~31-word vocabulary), so hit, cross-document, and empty paths all
    * stay live at every SF (measured: 25 queries / 29 matches / 4
    * cross-doc at sf0.01; 250 / 280 / 30 at sf0.1; per-(query,doc)
    * multiplicity is corpus-dormant at max 1 — PhraseSearchSpec drives
    * the multi-occurrence branch synthetically).
    *
    * Algorithm — pure postings algebra, the document text is never
    * joined: tokens = (doc_id, pos, word) positional postings; each
    * query's TWO globally rarest terms (31-row postings-count
    * broadcast; ties break on slot then word) are intersected
    * positionally (equi-join on (doc_id, start+k₂, w₂)), then ONE
    * requirements probe re-verifies all five (k, word) slots and keeps
    * starts matching exactly 5. Candidate mass at sf0.1: rarest-term
    * postings 2.1 M rows → two-term intersection ≈ 1/15 of that → ×5
    * requirement rows — every stage an equi-join a 1000-executor
    * cluster shuffles by (doc_id, pos); misses cost nothing (the 'qzx'
    * postings list is empty) and surface as sentinel rows (doc_id −1)
    * via the final left join from the broadcast query table.
    *
    * Oracle: DuckDB enumerates every positional 5-gram by direct list
    * slicing and joins on the phrase STRING — scan-and-construct vs
    * index-intersection, so the gate itself proves the postings
    * algorithm complete (the q105/q122 dual-algorithm discipline), and
    * matching on strings keeps the verdict collision-free.
    */
  val q178PhraseSearch: Q = (s, d) => phraseSearchCore(documents(s, d))

  /** The q178 body over an arbitrary documents(doc_id, text) frame —
    * factored so PhraseSearchSpec can drive the corpus-dormant
    * branches (multi-occurrence per doc, sub-5-token docs) on
    * synthetic frames while the oracle gate owns the corpus.
    */
  private[graft] def phraseSearchCore(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docsW = tracked(docsIn
      .select(col("doc_id"), split(col("text"), " ").as("ws")))
    val tok = tracked(docsW
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("word")))
    val qh = docsW
      .withColumn("h", (col("doc_id") * lit(48271L)) % lit(2147483647L))
      .withColumn("nw", size(col("ws")))
      .filter(col("nw") >= 5 && col("h") % 20 === 3)
      .select(col("doc_id").as("qid"),
        expr("slice(ws, 1 + ((h DIV 20) % (nw - 4)), 5)").as("qws"))
    val qq = tracked(qh.union(qh.select((col("qid") + lit(1000000L)).as("qid"),
      expr("transform(qws, (w, i) -> CASE WHEN i = 2 THEN 'qzx' ELSE w END)")
        .as("qws"))))
    val wdf = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cnt"), col("k"), col("qw"))
    val rare2 = qq
      .select(col("qid"), col("qws"), posexplode(col("qws")).as(Seq("k", "qw")))
      .join(broadcast(wdf), col("qw") === col("word"), "left")
      .select(col("qid"), col("qws"), col("k"), col("qw"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 2)
      .groupBy(col("qid"))
      .agg(min(struct(col("rn"), col("k"), col("qw"))).as("r1"),
        max(struct(col("rn"), col("k"), col("qw"))).as("r2"))
      .select(col("qid"),
        col("r1.k").as("k1"), col("r1.qw").as("w1"),
        col("r2.k").as("k2"), col("r2.qw").as("w2"))
    // stage 1: rarest-term postings scan (broadcast map-side, no shuffle)
    val c1 = tok.join(broadcast(rare2), col("word") === col("w1"))
      .select(col("qid"), col("doc_id"), (col("pos") - col("k1")).as("start"),
        col("k2"), col("w2"))
      .filter(col("start") >= 1)
    // stage 2: positional intersection with the second-rarest term
    val t2 = tok.select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
      col("word").as("word2"))
    val c2 = c1.join(t2,
      col("doc_id") === col("doc_id2") && (col("start") + col("k2")) === col("pos2") &&
        col("w2") === col("word2"))
      .select(col("qid"), col("doc_id"), col("start"))
    // stage 3: all-slot verification — one probe of the postings table
    val t3 = tok.select(col("doc_id").as("doc_id3"), col("pos").as("pos3"),
      col("word").as("word3"))
    val matches = c2
      .join(qq.select(col("qid"), posexplode(col("qws")).as(Seq("k", "qw"))), Seq("qid"))
      .join(t3, col("doc_id") === col("doc_id3") &&
        (col("start") + col("k")) === col("pos3") && col("qw") === col("word3"))
      .groupBy(col("qid"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("nslot"))
      .filter(col("nslot") === 5)
    qq.select(col("qid"), array_join(col("qws"), " ").as("phrase"))
      .join(matches, Seq("qid"), "left")
      .select(col("qid"), col("phrase"),
        coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        coalesce(col("start"), lit(-1)).cast("int").as("pos"))
      .orderBy(col("qid"), col("doc_id"), col("pos"))
  }

  /** Grid resolution per dimension for [[q179Skyline]] — 8³ ≤ 512
    * cells; occupancy and prune rates measured at every SF (scaladoc
    * below) before the constant landed.
    */
  val SkyG = 8L

  /** EXT — SKYLINE (Pareto-frontier) document selection (Börzsönyi–
    * Kossmann–Stocker ICDE 2001): the docs no other doc dominates on
    * (token length ↑, lexical richness ↑, stopword rate ↓) — the
    * multi-criteria curation frontier (quality-vs-length-vs-diversity
    * trade-offs have no single scalar ranking). Dims are integer and
    * cross-engine exact: nt = token count; rich = (10⁶·distinct word
    * trigrams) DIV (nt−2) — distinctness on STRINGS, collision-free;
    * stop = (10⁶·|{the,a} tokens|) DIV nt. Measured trade-off is real
    * (corr(nt, rich) ≈ −0.13; frontier 4–7 docs of 500–5000 at every
    * SF, never degenerate).
    *
    * Algorithm — the grid-partitioned two-phase skyline (the paper's
    * §5 divide-and-conquer made shuffle-shaped): (0) one 1-row
    * min/max broadcast fixes [[SkyG]]³ integer cells; (1) cell-level
    * pre-prune: a cell dies when some cell's MIN corner strictly
    * dominates its MAX corner on all three dims (strict-all is the
    * sound direction; 13 cells / 24 docs dead at sf0.01, 29/165 at
    * sf0.1 — live, measured); (2) local skylines as a within-cell
    * dominance anti-join (equi on the cell key bounds pair mass by
    * cell occupancy — max 335 at sf0.1; 4835 alive pts → 409 local
    * survivors); (3) global frontier as one broadcast anti-join over
    * the survivors. At 100 TB stage 2 is the only corpus-sized
    * shuffle and partitions by cell; stages 0/1/3 move ≤ cells +
    * survivors. Deeper skew would nest the grid recursively — not
    * needed at these occupancies.
    *
    * Oracle: DuckDB brute NOT EXISTS over all pairs — a different
    * algorithm, so the gate proves the grid pruning complete (the
    * q105 discipline). SkylineSpec re-proves against an independent
    * Scala model and forces the dormant equal-tuple tie branch
    * synthetically.
    */
  val q179Skyline: Q = (s, d) => skylineCore(documents(s, d))

  /** The q179 body over an arbitrary documents(doc_id, text) frame —
    * factored so SkylineSpec can force the equal-tuple tie and
    * degenerate-corpus branches synthetically.
    */
  private[graft] def skylineCore(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    gridSkyline(tracked(skyDims(docsIn)))

  /** The three integer curation dims of [[q179Skyline]]/
    * [[q180SkylineDelete]] over a documents(doc_id, text) frame.
    */
  private[graft] def skyDims(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docsIn
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("nt"),
        expr("(1000000L * size(array_distinct(transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', slice(ws, i, 3)))))) DIV (size(ws) - 2)").as("rich"),
        expr("(1000000L * size(filter(ws, x -> x = 'the' OR x = 'a'))) DIV size(ws)")
          .as("stop"))

  /** Dominance of alias `b` over alias `a` on (nt ↑, rich ↑, stop ↓):
    * ≥ on all three, strict on at least one (equal tuples never
    * dominate each other — ties co-survive).
    */
  private def domCol(b: String, a: String) =
    col(s"$b.nt") >= col(s"$a.nt") && col(s"$b.rich") >= col(s"$a.rich") &&
      col(s"$b.stop") <= col(s"$a.stop") &&
      (col(s"$b.nt") > col(s"$a.nt") || col(s"$b.rich") > col(s"$a.rich") ||
        col(s"$b.stop") < col(s"$a.stop"))

  /** The grid-partitioned two-phase skyline over a PERSISTED dims
    * frame (doc_id, nt, rich, stop) — see [[q179Skyline]] for the
    * stage audit.
    */
  private[graft] def gridSkyline(dims: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val b = dims.agg(min("nt").as("lnt"), max("nt").as("hnt"),
      min("rich").as("lr"), max("rich").as("hr"),
      min("stop").as("ls"), max("stop").as("hs"))
    val cells = tracked(dims.crossJoin(broadcast(b))
      .select(col("doc_id"), col("nt"), col("rich"), col("stop"),
        expr(s"((nt - lnt) * $SkyG) DIV (hnt - lnt + 1)").as("bn"),
        expr(s"((rich - lr) * $SkyG) DIV (hr - lr + 1)").as("br"),
        expr(s"((stop - ls) * $SkyG) DIV (hs - ls + 1)").as("bs")))
    val cstat = cells.groupBy(col("bn"), col("br"), col("bs")).agg(
      max("nt").as("mxnt"), min("rich").as("mnr"),
      max("rich").as("mxr"), min("nt").as("mnnt"),
      min("stop").as("mns"), max("stop").as("mxs"))
    val deadCells = cstat.as("c").join(broadcast(cstat.as("a")),
      col("a.mnnt") > col("c.mxnt") && col("a.mnr") > col("c.mxr") &&
        col("a.mxs") < col("c.mns"), "left_semi")
      .select(col("bn"), col("br"), col("bs"))
    val alive = tracked(cells.join(broadcast(deadCells), Seq("bn", "br", "bs"), "left_anti"))
    val local = tracked(alive.as("a").join(alive.as("b"),
      col("b.bn") === col("a.bn") && col("b.br") === col("a.br") &&
        col("b.bs") === col("a.bs") && domCol("b", "a"), "left_anti"))
    local.as("a").join(broadcast(local.as("b")), domCol("b", "a"), "left_anti")
      .select(col("doc_id"), col("nt"), col("rich"), col("stop"))
      .orderBy(col("doc_id"))
  }

  /** Multiplier/increment of [[q180SkylineDelete]]'s tombstone slice,
    * (doc_id·M + C) mod 2³¹−1 < mod/8 (~12.6% of docs). The standard
    * q153 slice (1103515245, 12345) MISSES the sf0.01 frontier
    * entirely (its 4 frontier docs all draw high priorities — measured
    * round 18 before wiring, the which-side-does-the-corpus-exercise
    * lesson); this full-period LCG multiplier kills 1/1/2 frontier
    * docs and exposes 1/1/2 replacements at sf0.001/0.01/0.1, so the
    * repair branch is corpus-live at EVERY gate SF.
    */
  private[graft] val SkyDelM = 784588716L
  private[graft] val SkyDelC = 12345L

  /** EXT — incremental SKYLINE MAINTENANCE under deletion (the
    * delete direction of q179, the round-16 lifecycle standard):
    * tombstoning a FRONTIER doc may expose points it exclusively
    * dominated, so the frontier needs repair — but never a full
    * recompute. Repair algebra: survivors dominated by a SURVIVING
    * frontier point can never enter (their dominator is still live),
    * so candidates = survivors anti-joined against the ≤|F₀|-row
    * broadcast surviving frontier — 8–12 docs of 437–4373 live at the
    * gate SFs (measured) — and the new frontier is the skyline of
    * that candidate set (one broadcast anti-join; were the dead
    * frontier's exclusive-dominance regions ever large, this stage
    * would nest [[gridSkyline]] instead). The in-query require pins
    * non-vacuity: the wave must kill ≥1 frontier doc or the operator
    * throws (the q177 discipline).
    *
    * Oracle: BLIND full recompute of both the pre- and post-delete
    * skylines over raw docs (no repair algebra), exposed =
    * membership diff — so the gate proves the repair law, not the
    * implementation twice.
    */
  val q180SkylineDelete: Q = (s, d) => skylineDeleteCore(documents(s, d))

  private[graft] def skylineDeleteCore(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dims = tracked(skyDims(docsIn))
    val pri = (col("doc_id") * lit(SkyDelM) + lit(SkyDelC)) % lit(TextQueries.PriorityMod)
    val bound = lit(TextQueries.PriorityMod / 8L)
    // eager checkpoint truncates the grid cascade's nested-cache
    // lineage (the r3/q42 plan-growth discipline): every consumer below
    // (dead count, surviving-frontier broadcast, final in_f0 join)
    // replans a frontier-sized LogicalRDD instead of the whole grid
    val f0 = tracked(gridSkyline(dims).localCheckpoint(true))
    val deadF = f0.filter(pri < bound).count()
    require(deadF >= 1,
      s"q180: delete slice missed the frontier (deadF=$deadF) — repair vacuous; re-measure SkyDelM")
    val survF = f0.filter(pri >= bound)
    val live = dims.filter(pri >= bound)
    val cand = tracked(live.as("a").join(broadcast(survF.as("b")), domCol("b", "a"), "left_anti"))
    cand.as("a").join(broadcast(cand.as("b")), domCol("b", "a"), "left_anti")
      .join(f0.select(col("doc_id"), lit(1).as("in_f0")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("nt"), col("rich"), col("stop"),
        when(col("in_f0").isNull, lit(1)).otherwise(lit(0)).cast("int").as("exposed"))
      .orderBy(col("doc_id"))
  }

  /** EXT — incremental SKYLINE MAINTENANCE under insertion (the
    * append direction; with q179 build and q180 delete this closes
    * the family's lifecycle row — update = delete∘append by the
    * standard composition, recorded in COVERAGE.md). Insert law: a
    * base point outside the base frontier is dominated by a base
    * point whose dominator chain ends on the frontier (dominance is
    * transitive), so it can never re-enter — the post-wave frontier
    * is the skyline of (base frontier ∪ inserts), ≤|F₀|+|wave| rows
    * against a corpus-sized recompute. The wave here is the
    * [[SkyDelM]] slice arriving late (~12.6%): measured round 18,
    * 1/1/2 inserted docs ENTER the frontier and 1/1/2 base-frontier
    * docs are displaced at sf0.001/0.01/0.1 — both branches
    * corpus-live at every gate SF, pinned by the in-query requires.
    *
    * Oracle: blind full-corpus skyline (no incremental algebra) with
    * the arrival flag recomputed from the slice predicate — the gate
    * proves the insert law.
    */
  val q181SkylineAppend: Q = (s, d) => skylineAppendCore(documents(s, d))

  /** One append wave of the insert law: frontier(state ∪ wave) — the
    * streaming-fold step (state is frontier-sized; each fold touches
    * |F|+|wave| rows only). Extra columns pass through untouched;
    * dominance reads nt/rich/stop. SkylineSpec proves the ROLLING
    * fold over an arbitrary wave partition ≡ the blind full frontier
    * (the EXT-48 merge-law discipline).
    */
  private[graft] def skylineFold(state: org.apache.spark.sql.DataFrame,
      wave: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cand = tracked(state.unionByName(wave))
    cand.as("a").join(broadcast(cand.as("b")), domCol("b", "a"), "left_anti")
  }

  private[graft] def skylineAppendCore(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dims = tracked(skyDims(docsIn))
    val pri = (col("doc_id") * lit(SkyDelM) + lit(SkyDelC)) % lit(TextQueries.PriorityMod)
    val bound = lit(TextQueries.PriorityMod / 8L)
    val base = dims.filter(pri >= bound)
    val wave = dims.filter(pri < bound).withColumn("appended", lit(1))
    // same checkpoint discipline as the delete arm: f0 bounds the fold
    val f0 = tracked(gridSkyline(base).withColumn("appended", lit(0))
      .localCheckpoint(true))
    val f1 = tracked(skylineFold(f0, wave))
    // both vacuity counts in ONE action (round-18: two driver-side
    // count() jobs folded into a single union aggregate of (k, v)
    // rows; values unchanged, f0/f1 stay persisted for the
    // final readout)
    val checks = f1.filter(col("appended") === 1)
      .select(lit("enter").as("k"))
      .unionByName(f0.join(f1.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(lit("displaced").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEnter = checks.getOrElse("enter", 0L)
    val nDisplaced = checks.getOrElse("displaced", 0L)
    require(nEnter >= 1 && nDisplaced >= 1,
      s"q181: append wave is vacuous (enter=$nEnter displaced=$nDisplaced) — re-measure SkyDelM")
    f1.select(col("doc_id"), col("nt"), col("rich"), col("stop"),
        col("appended").cast("int").as("appended"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "q47_asof_join"    -> q47AsofJoin,
    "q141_salted_agg"  -> q141SaltedAgg,
    "q178_phrase_search" -> q178PhraseSearch,
    "q179_skyline"     -> q179Skyline,
    "q180_skyline_delete" -> q180SkylineDelete,
    "q181_skyline_append" -> q181SkylineAppend,
    "q48_leadlag_ntile" -> q48LeadLagNtile,
    "q49_except_all"   -> q49ExceptAll,
    "q50_range_frame"  -> q50RangeFrame,
    "q43_json_props"   -> q43JsonProps,
    "q44_pivot_events" -> q44PivotEvents,
    "q45_percentiles"  -> q45Percentiles,
    "q46_intersect_all" -> q46IntersectAll,
    "q102_unpivot"     -> q102Unpivot,
    "q109_profile"     -> q109Profile,
    "q124_profile_sketch" -> q124ProfileSketch,
    "q132_skew_probe"  -> q132SkewProbe,
  )

  /** q132's oracle: the identical integer skew math per probed column,
    * top key via the mirrored (count DESC, key) rank.
    */
  private def q132OracleSql: String = {
    val ctes = SkewCols.zipWithIndex.map { case ((t, c), i) =>
      s"""k_$i AS (SELECT CAST($c AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c FROM $t GROUP BY 1),
         |s_$i AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(max(c) AS BIGINT) AS max_cnt FROM k_$i),
         |t_$i AS (SELECT k FROM (SELECT k, row_number() OVER (ORDER BY c DESC, k) AS rn FROM k_$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val selects = SkewCols.zipWithIndex.map { case ((t, c), i) =>
      s"""SELECT '$t.$c' AS key_col, n_rows, n_keys, max_cnt, k AS top_key,
         |  CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew,
         |  (max_cnt * n_keys + n_rows - 1) // n_rows AS salt
         |FROM s_$i, t_$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$selects\nORDER BY key_col"
  }

  /** DuckDB-side table projections shared by the q109 and q124 oracles
    * (timestamps → epoch micros, matching [[profileFrames]]). */
  private val ProfileProjections = Map(
    "orders" -> "(SELECT *, epoch_us(o_orderdate) AS o_orderdate_us FROM orders)",
    "events" -> "(SELECT *, epoch_us(ts) AS ts_us FROM events)",
    "documents" -> "documents")

  /** q109's oracle: one SELECT per profiled column generated from
    * [[ProfileCols]], UNION ALLed — same projections (timestamps →
    * epoch micros), same stats, same types.
    */
  private def q109OracleSql: String = {
    val projections = ProfileProjections
    val rows = ProfileCols.flatMap { case (t, num, str) =>
      num.map(c =>
        s"""SELECT '$t' AS table_name, '$c' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM ${projections(t)}""".stripMargin) ++
      str.map(c =>
        s"""SELECT '$t' AS table_name, '$c' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM ${projections(t)}""".stripMargin)
    }
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, col_name")
  }

  /** DuckDB mirror of [[numHashCol]]/[[strHashCol]]: the same LCG /
    * char-fold mod P, hash-for-hash (strings are ASCII here, so
    * DuckDB's ascii() code points equal PolyHash's bytes — the q61
    * precedent).
    */
  private def hashSqlFor(t: String, c: String, isStr: Boolean): String = {
    def mix(iv: String) = s"((($iv % $HashP + $HashP) % $HashP) * $HashA + $HashB) % $HashP"
    if (isStr)
      mix(s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($c)), i -> CAST(ascii($c[i]) AS BIGINT))), " +
        s"(a, x) -> (a * 31 + x) % $HashP)")
    else {
      val iv = if (ProfileMoneyCols((t, c))) s"CAST(round($c * 100) AS BIGINT)"
               else s"CAST($c AS BIGINT)"
      mix(iv)
    }
  }

  /** q124's oracle: q109's per-column stats, but n_distinct is the KMV
    * estimate replayed hash-for-hash — distinct value hashes, k-th
    * smallest, ⌊(k−1)·P/h₍ₖ₎⌋ (double division of engine-identical
    * longs; exact sketch size when unfilled). CAST(… AS DOUBLE)
    * everywhere a big literal product appears (DuckDB numeric literals
    * are DECIMAL — the q83 lesson).
    */
  private def q124OracleSql: String = {
    def kmvCell(t: String, c: String, isStr: Boolean): String =
      s"""(SELECT CAST(floor(CASE WHEN kth IS NULL THEN CAST(sk_n AS DOUBLE)
         |    ELSE CAST(${ProfileKmvK - 1} AS DOUBLE) * CAST($HashP AS DOUBLE) / CAST(kth AS DOUBLE) END) AS BIGINT)
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS sk_n,
         |          max(CASE WHEN rk = $ProfileKmvK THEN h END) AS kth
         |        FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |              FROM (SELECT DISTINCT ${hashSqlFor(t, c, isStr)} AS h
         |                    FROM ${ProfileProjections(t)} WHERE $c IS NOT NULL) dh) rh
         |        WHERE rk <= $ProfileKmvK) sk)""".stripMargin
    val rows = ProfileCols.flatMap { case (t, num, str) =>
      num.map(c =>
        s"""SELECT '$t' AS table_name, '$c' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  ${kmvCell(t, c, isStr = false)} AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM ${ProfileProjections(t)}""".stripMargin) ++
      str.map(c =>
        s"""SELECT '$t' AS table_name, '$c' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  ${kmvCell(t, c, isStr = true)} AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM ${ProfileProjections(t)}""".stripMargin)
    }
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, col_name")
  }

  val oracles: Map[String, String] = Map(
    // q178's oracle enumerates every positional 5-gram by direct list
    // slicing (scan-and-construct) — a different algorithm from the
    // Spark side's postings intersection, so the hash gate itself
    // proves the index algorithm complete. DuckDB list lambdas are
    // 1-based (Spark's transform index is 0-based): i = 3 is the same
    // third word both sides.
    "q178_phrase_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q0 AS (SELECT doc_id, ws, length(ws) AS nw,
        |         (doc_id * 48271) % 2147483647 AS h FROM w
        |       WHERE length(ws) >= 5 AND (doc_id * 48271) % 2147483647 % 20 = 3),
        |qh AS (SELECT doc_id AS qid,
        |         ws[(1 + ((h // 20) % (nw - 4))):(1 + ((h // 20) % (nw - 4)) + 4)] AS qws
        |       FROM q0),
        |qq AS (SELECT qid, qws FROM qh
        |       UNION ALL
        |       SELECT qid + 1000000,
        |         list_transform(qws, (x, i) -> CASE WHEN i = 3 THEN 'qzx' ELSE x END)
        |       FROM qh),
        |ph AS (SELECT qid, list_aggregate(qws, 'string_agg', ' ') AS phrase FROM qq),
        |pos AS (SELECT doc_id, ws, unnest(generate_series(1, length(ws) - 4)) AS p
        |        FROM w WHERE length(ws) >= 5),
        |g5 AS (SELECT doc_id, p, list_aggregate(ws[p:p+4], 'string_agg', ' ') AS g
        |       FROM pos),
        |m AS (SELECT ph.qid, g5.doc_id, g5.p FROM ph JOIN g5 ON ph.phrase = g5.g)
        |SELECT q.qid, q.phrase,
        |  CAST(COALESCE(m.doc_id, -1) AS BIGINT) AS doc_id,
        |  CAST(COALESCE(m.p, -1) AS INT) AS pos
        |FROM ph q LEFT JOIN m ON q.qid = m.qid
        |ORDER BY 1, 3, 4""".stripMargin,
    // q181's oracle is the blind FULL-corpus skyline with the arrival
    // flag recomputed from the slice predicate — the gate proves the
    // insert law (frontier of base-frontier ∪ wave ≡ frontier of all).
    "q181_skyline_append" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE length(string_split(text, ' ')) >= 3),
        |dims AS (SELECT doc_id, CAST(length(ws) AS BIGINT) AS nt,
        |  (1000000 * length(list_distinct([list_aggregate(ws[i:i+2], 'string_agg', ' ')
        |     for i in generate_series(1, length(ws) - 2)]))) // (length(ws) - 2) AS rich,
        |  (1000000 * length(list_filter(ws, x -> x = 'the' OR x = 'a'))) // length(ws) AS stop
        |  FROM w)
        |SELECT a.doc_id, a.nt, a.rich, a.stop,
        |  CAST(CASE WHEN (a.doc_id * ${SkyDelM} + ${SkyDelC}) % ${TextQueries.PriorityMod}
        |       < ${TextQueries.PriorityMod / 8L} THEN 1 ELSE 0 END AS INT) AS appended
        |FROM dims a WHERE NOT EXISTS (
        |  SELECT 1 FROM dims b
        |  WHERE b.nt >= a.nt AND b.rich >= a.rich AND b.stop <= a.stop
        |    AND (b.nt > a.nt OR b.rich > a.rich OR b.stop < a.stop))
        |ORDER BY a.doc_id""".stripMargin,
    // q180's oracle recomputes BOTH skylines blind (no repair
    // algebra); the Spark side repairs incrementally from the
    // surviving frontier — the gate proves the repair law.
    "q180_skyline_delete" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE length(string_split(text, ' ')) >= 3),
        |dims AS (SELECT doc_id, CAST(length(ws) AS BIGINT) AS nt,
        |  (1000000 * length(list_distinct([list_aggregate(ws[i:i+2], 'string_agg', ' ')
        |     for i in generate_series(1, length(ws) - 2)]))) // (length(ws) - 2) AS rich,
        |  (1000000 * length(list_filter(ws, x -> x = 'the' OR x = 'a'))) // length(ws) AS stop
        |  FROM w),
        |sky0 AS (SELECT a.* FROM dims a WHERE NOT EXISTS (
        |  SELECT 1 FROM dims b
        |  WHERE b.nt >= a.nt AND b.rich >= a.rich AND b.stop <= a.stop
        |    AND (b.nt > a.nt OR b.rich > a.rich OR b.stop < a.stop))),
        |live AS (SELECT * FROM dims
        |  WHERE (doc_id * ${SkyDelM} + ${SkyDelC}) % ${TextQueries.PriorityMod}
        |        >= ${TextQueries.PriorityMod / 8L}),
        |sky1 AS (SELECT a.* FROM live a WHERE NOT EXISTS (
        |  SELECT 1 FROM live b
        |  WHERE b.nt >= a.nt AND b.rich >= a.rich AND b.stop <= a.stop
        |    AND (b.nt > a.nt OR b.rich > a.rich OR b.stop < a.stop)))
        |SELECT a.doc_id, a.nt, a.rich, a.stop,
        |  CAST(CASE WHEN s0.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS exposed
        |FROM sky1 a LEFT JOIN sky0 s0 ON a.doc_id = s0.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // q179's oracle is the brute all-pairs NOT EXISTS — the gate
    // proves the Spark side's grid pre-prune + two-phase skyline
    // complete (no frontier doc lost to a pruned cell).
    "q179_skyline" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE length(string_split(text, ' ')) >= 3),
        |dims AS (SELECT doc_id, CAST(length(ws) AS BIGINT) AS nt,
        |  (1000000 * length(list_distinct([list_aggregate(ws[i:i+2], 'string_agg', ' ')
        |     for i in generate_series(1, length(ws) - 2)]))) // (length(ws) - 2) AS rich,
        |  (1000000 * length(list_filter(ws, x -> x = 'the' OR x = 'a'))) // length(ws) AS stop
        |  FROM w)
        |SELECT a.doc_id, a.nt, a.rich, a.stop
        |FROM dims a WHERE NOT EXISTS (
        |  SELECT 1 FROM dims b
        |  WHERE b.nt >= a.nt AND b.rich >= a.rich AND b.stop <= a.stop
        |    AND (b.nt > a.nt OR b.rich > a.rich OR b.stop < a.stop))
        |ORDER BY a.doc_id""".stripMargin,
    // q141's oracle is deliberately the UNSALTED direct aggregation —
    // the row-parity twin of the two-phase salted plan (n_salts
    // mirrors as a count(DISTINCT salt-expression))
    "q141_salted_agg" ->
      s"""SELECT l_orderkey,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(count(DISTINCT l_linenumber % $SaltedAggFanout) AS BIGINT) AS n_salts
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "q109_profile" -> q109OracleSql,
    "q124_profile_sketch" -> q124OracleSql,
    "q132_skew_probe" -> q132OracleSql,
    "q48_leadlag_ntile" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us, o_totalprice FROM orders)
        |SELECT o_custkey, o_orderkey, od_us,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(od_us) OVER w - od_us AS next_gap_us,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY od_us, o_orderkey)
        |ORDER BY o_custkey, od_us, o_orderkey""".stripMargin,
    "q49_except_all" ->
      """WITH a AS (SELECT l_orderkey % 100 AS k FROM lineitem),
        |h AS (SELECT l_orderkey % 100 AS k FROM lineitem WHERE l_quantity >= 40),
        |rem AS (SELECT k FROM a EXCEPT ALL SELECT k FROM h)
        |SELECT k, count(*) AS remaining
        |FROM rem GROUP BY k ORDER BY k""".stripMargin,
    "q50_range_frame" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |  FROM orders)
        |SELECT o_custkey, od_us, o_orderkey,
        |  CAST(sum(price_c) OVER (PARTITION BY o_custkey ORDER BY od_us
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS rolling_7d
        |FROM o
        |ORDER BY o_custkey, od_us, o_orderkey""".stripMargin,
    "q47_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT user_id AS suser, epoch_us(ts) AS sts, value AS sval FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, p.user_id, p.ts_us, s.sts, s.sval
        |FROM p ASOF JOIN s ON p.user_id = s.suser AND p.ts_us >= s.sts
        |ORDER BY p.event_id""".stripMargin,
    "q43_json_props" ->
      """SELECT CAST(json_extract(props, '$.k') AS INT) AS k, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q102_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
        |c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n
        |FROM u CROSS JOIN t LEFT JOIN c USING (user_id, event_type)
        |ORDER BY user_id, event_type""".stripMargin,
    "q44_pivot_events" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q46_intersect_all" ->
      """WITH hi AS (SELECT l_orderkey % 100 AS k FROM lineitem WHERE l_quantity >= 25),
        |lo AS (SELECT l_orderkey % 100 AS k FROM lineitem WHERE l_quantity < 25),
        |common_bag AS (SELECT k FROM hi INTERSECT ALL SELECT k FROM lo)
        |SELECT k, count(*) AS multiplicity
        |FROM common_bag GROUP BY k ORDER BY k""".stripMargin,
    "q45_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.25) AS p25,
        |  quantile_cont(o_totalprice, 0.5) AS median,
        |  quantile_cont(o_totalprice, 0.75) AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
  )
}
