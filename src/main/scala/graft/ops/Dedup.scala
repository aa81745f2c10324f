package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import LoopScope.CkptOps

/** Duplicate-group resolution: turn a verified near-dup PAIR graph into
  * connected components so a dedup pass can keep exactly one
  * representative per cluster ("which rows do I drop?").
  *
  * Algorithm: a partition-local union-find pre-collapse seeds the label
  * table, then min-label propagation with pointer jumping iterates to a
  * detected fixpoint. Each round is three shuffle-parallel steps over
  * the label table `(id, lbl)`:
  *
  *  1. edge relaxation — `lbl(v) ← min(lbl(v), min over neighbors u of
  *     lbl(u))` (a join edges⋈labels + groupBy-min, i.e. one hash
  *     shuffle on the edge key and one on `id`);
  *  2. pointer jump — `lbl(v) ← lbl(lbl(v))` (a self-join of the label
  *     table on the label value; well-defined because every reachable
  *     label IS a vertex id and the label table has one row per vertex).
  *
  * The pre-collapse runs union-find inside each edge partition (one
  * mapPartitions pass, no shuffle) and seeds `lbl(v)` with the min id of
  * v's PARTITION-LOCAL component (min over partitions when v appears in
  * several). Labels are order-independent component minima, so the seed
  * only fast-forwards the propagation — the fixpoint is identical — but
  * most of a near-dup graph's depth collapses locally in that one pass,
  * cutting global rounds (sf0.1: 8 rounds → 3; each round is ~0.8 s of
  * fixed job overhead at small SF, so this is the q56/q57 perf lever).
  * The alternating large-star/small-star rival (Kiveris et al., SoCC
  * 2014) was raced on identical pair inputs and measured 3.1× slower
  * at ×10 replica scale (2.48 s vs 7.60 s at sf0.1; 2.6 s vs 7.2 s on
  * the r14 corpus): its state is edge-grained with no pre-collapse.
  *
  * Labels only ever decrease (the jump target `lbl(v)` already carries
  * a label ≤ `lbl(v)`) and the component minimum is a fixed point, so
  * the iteration converges to `lbl(v) = min(component(v))` — relaxation
  * alone guarantees one hop of progress per round, the jump compresses
  * id-monotone label chains to give `2^(r+1) - 2` hops of coverage
  * after r rounds on such chains ([[roundsFor]]; DedupGroupsSpec proves
  * bound and tightness on path graphs with the pre-collapse disabled; a
  * second jump per round was measured and reverted — real near-dup
  * graphs gain nothing, their depth is not id-monotone). Convergence is
  * DETECTED, not assumed: each round carries the previous label
  * alongside the new one and an `observe()` metric counts changed
  * labels WHILE the checkpoint job materializes — one job per round
  * total, no typed serde boundary in the plan (labels are monotone, so
  * 0 changes ⟺ done).
  *
  * At 100 TB: every step is an equi-join/aggregation on a long key —
  * plain hash shuffles, no driver state beyond a per-round scalar, no
  * collect; the pre-collapse state is one hash map per edge TASK,
  * hard-capped at [[LocalCollapseMaxEntries]] endpoints (the map drains
  * and restarts past the cap — a skewed range partition CAN concentrate
  * one giant contiguous dup family in a single task, so partition size
  * alone does not bound it).
  * The label table holds only vertices that appear in some pair
  * (callers left-join it back to the corpus; singletons never enter the
  * propagation), so its size tracks the DUPLICATE population, not the
  * corpus. Each round's labels are localCheckpoint'ed — the jump
  * self-join otherwise triples the logical plan per round (3^rounds
  * copies of the upstream pair pipeline; plan-string rendering alone
  * OOMs) — and checkpointing is also what caps lineage for fault
  * recovery in any iterative Spark job; on a real cluster swap for
  * reliable `checkpoint()` to a checkpoint dir (localCheckpoint dies
  * with a lost executor).
  */
object Dedup {

  /** One round's label-update plan: relaxation against the `changed`
    * frontier, then the pointer jump, carrying `prev` through so the
    * caller can count changes and derive the next frontier. Returns the
    * un-checkpointed plan plus the internally persisted relaxation
    * frame (both sides of the jump self-join read it — invariant 6);
    * the caller unpersists it once the round has materialized.
    * `private[graft]` so PlanShapeSpec can assert the plan stays inside
    * codegen (no typed boundary).
    */
  private[graft] def roundPlan(
      lbl: DataFrame,
      changed: DataFrame,
      sym: DataFrame): (DataFrame, DataFrame) = {
    val nbrMin = sym
      .join(changed.select(col("id").as("nid"), col("lbl")), col("dst") === col("nid"))
      .groupBy(col("src").as("id")).agg(min(col("lbl")).as("nm"))
    // coalesce before least: Spark's least skips nulls, other engines
    // propagate them (invariant 1 — identical expression both sides)
    val relaxed =
      lbl.select(col("id"), col("lbl").as("prev")).join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("prev"), coalesce(col("nm"), col("prev"))).as("lbl"),
          col("prev"))
        .persist()
    val next = relaxed.as("a")
      .join(relaxed.select(col("id").as("pid"), col("lbl").as("plbl")),
        col("a.lbl") === col("pid"))
      .select(col("a.id").as("id"), col("plbl").as("lbl"), col("a.prev").as("prev"))
    (next, relaxed)
  }

  /** Drain threshold for [[localCollapse]]'s per-task union-find map:
    * 2^21 endpoints ≈ 100 MB of boxed map entries — comfortably inside
    * any executor, independent of how skewed the range partitioning is.
    */
  private[graft] val LocalCollapseMaxEntries: Int = 1 << 21

  /** Partition-local union-find over the (unsymmetrized) edge list: one
    * mapPartitions pass emitting `(id, local-min-root)` for every
    * endpoint in the partition. Union always roots at the smaller id,
    * so each root IS the min vertex id of its partition-local component
    * — a valid (monotone, id-valued) head start for the propagation.
    *
    * Memory is bounded by DRAINING, not by partition size: when the map
    * reaches `maxEntries` it emits every `(id, root)` and restarts empty
    * (range partitioning can concentrate one giant contiguous dup
    * family's endpoints in a single task, so partition byte size does
    * not bound the endpoint count). Each drained label is the min id of
    * a component of a SUBSET of the edges — still a valid fast-forward
    * seed — and the caller's `groupBy(id).min(lbl)` merges labels across
    * drains exactly as it merges them across partitions. The only cost
    * of draining early is a weaker seed (more global rounds), never a
    * wrong one.
    */
  private[graft] def localCollapse(
      edges: DataFrame,
      maxEntries: Int = LocalCollapseMaxEntries): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // range-partition by src first: near-dup cluster ids are typically
    // contiguous (dup families share an id neighborhood), so a range
    // split co-locates most of a cluster's edges in one partition — the
    // one linear shuffle here replaces whole global rounds (each of
    // which shuffles comparable volume)
    edges.select(col("src"), col("dst")).repartitionByRange(col("src")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          // path compression: value-only puts, no structural modification
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        def drain(): Iterator[(Long, Long)] = {
          val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
          val out = new Array[(Long, Long)](keys.length)
          var i = 0
          while (i < keys.length) {
            val k = keys(i).longValue(); out(i) = (k, find(k)); i += 1
          }
          parent.clear()
          out.iterator
        }
        it.flatMap { case (s, d) =>
          if (!parent.containsKey(s)) parent.put(s, s)
          if (!parent.containsKey(d)) parent.put(d, d)
          val rs = find(s)
          val rd = find(d)
          if (rs < rd) parent.put(rd, rs)
          else if (rd < rs) parent.put(rs, rd)
          if (parent.size() >= maxEntries) drain() else Iterator.empty
        } ++ drain() // Iterator#++ is by-name: final drain runs after `it` is exhausted
      }
      .toDF("id", "lbl")
  }

  /** [[connectedComponents]] plus the number of rounds it ran
    * (including the final no-change detection round).
    * `preCollapse = false` skips the union-find seeding (used by the
    * rounds-vs-diameter bound tests, which measure pure propagation).
    */
  def connectedComponentsWithRounds(
      vertices: DataFrame,
      edges: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity,
      preCollapse: Boolean = true): (DataFrame, Int) = {
    // symmetrize once; both directions are needed for relaxation to pull
    // the min against the edge orientation
    val sym = track(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val init =
      if (preCollapse)
        // min across partitions when a vertex appears in several; edge-free
        // vertices keep their own id
        vertices.select(col("id"))
          .join(localCollapse(edges).groupBy(col("id")).agg(min(col("lbl")).as("lm")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("lm"), col("id")).as("lbl"))
      else vertices.select(col("id"), col("id").as("lbl"))
    // convergence-detected rounds with per-round eager checkpoints;
    // join keys are vertex ids with occupancy-capped degrees
    var lbl = init.loopCkpt
    // delta iteration (the Pregel message optimization): only vertices
    // whose label changed last round can tell their neighbors anything
    // new — a vertex that changed at round k is in `changed` at round
    // k+1, so every label update is offered to every neighbor exactly
    // once and the edge-message join shrinks with the active frontier
    // (at scale this is the dominant per-round term; the label table
    // itself stays full for the jump and the final result)
    var changed = lbl
    var rounds = 0
    var converged = lbl.isEmpty
    while (!converged && rounds < maxRounds) {
      val (plan, relaxed) = roundPlan(lbl, changed, sym)
      // convergence detection rides the checkpoint job itself: the
      // observe() metric aggregates changed labels while partitions
      // materialize — no separate detection job per round and no typed
      // serde hop in the plan (a task retry can only OVER-count, which
      // at worst runs one harmless extra round; labels are monotone, so
      // a true fixpoint observes exactly 0).
      val obs = Observation(s"cc_round_${System.identityHashCode(plan)}")
      val next = plan
        .observe(obs, sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L)).as("n_changed"))
        .loopCkpt
      relaxed.unpersist(false)
      rounds += 1
      val nChanged = obs.get.get("n_changed") match {
        case Some(n: java.lang.Long) => n.longValue()
        case _ => 0L
      }
      converged = nChanged == 0L
      changed = next.filter(col("lbl") =!= col("prev")).select(col("id"), col("lbl"))
      lbl = next.select(col("id"), col("lbl"))
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components not converged after $maxRounds rounds")
    (lbl, rounds)
  }

  /** Connected components of the pair graph: returns `(id, lbl)` with
    * `lbl = min(component(id))`. `edges` needs columns `src`/`dst` (one
    * row per undirected edge, either orientation); `vertices` needs
    * `id` and must cover every endpoint. `track` lets callers register
    * the per-round persisted frames for later release (each round's
    * intermediates are read by multiple joins — invariant 6).
    */
  def connectedComponents(
      vertices: DataFrame,
      edges: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): DataFrame =
    connectedComponentsWithRounds(vertices, edges, maxRounds, track)._1

  /** Components straight from an undirected pair table `(da, db)` —
    * derives the vertex set (every endpoint) and edge list and runs
    * [[connectedComponents]]. The single entry point q56, the corpus
    * pipeline, and diagnostics all share, so the graph derivation can
    * never diverge between them. Callers should pass an ALREADY
    * persisted/tracked `pairs` (it is read twice here).
    */
  def fromPairs(
      pairs: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): DataFrame = {
    val verts = pairs.select(col("da").as("id"))
      .union(pairs.select(col("db").as("id"))).distinct()
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
    connectedComponents(verts, edges, maxRounds, track)
  }

  /** Incremental label MAINTENANCE — the rolling-dedup twin of
    * [[fromPairs]]: given a CONVERGED labeling `old(id, lbl)` (every
    * `lbl` = min id of its component, i.e. exactly what
    * [[connectedComponents]] emits) and a wave of new verified pairs
    * `newPairs(da, db)`, produce the labeling of the UNION graph
    * without recomputing untouched components.
    *
    * The old labeling is a lossless compression of the old graph for
    * connectivity purposes: each component collapses to its
    * representative (= its label, which IS a member id and the
    * component min). So the delta reduces to a graph over
    * REPRESENTATIVES — each new pair's endpoints map to their old label
    * (or to themselves when unseen) — and one [[fromPairs]] run over
    * that reduced graph (delta-sized, not corpus-sized) yields, per
    * touched representative, the min over the merged component's
    * representatives. Because every old label is already its
    * component's min id and every fresh vertex is its own
    * representative, that min IS the merged component's global min id:
    * the relabel join `old.lbl → touched.lbl` lands exactly on the
    * from-scratch labels. Untouched components never enter any join
    * except the final left-join lookup, and self-reduced pairs (both
    * endpoints already share a component) drop before the propagation.
    *
    * At 100 TB: the reduced graph is bounded by the WAVE size, so a
    * rolling dedup pays per-wave cost proportional to the delta plus
    * one hash-join relabel over the label table — never a full
    * recompute. The merge law (merge ≡ recompute from all pairs) is
    * machine-checked by q146's oracle, which recomputes from scratch.
    */
  def mergeLabels(
      old: DataFrame,
      newPairs: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): DataFrame =
    mergeLabelsDelta(old, newPairs, maxRounds, track).labels

  /** [[mergeLabelsDelta]]'s result: the merged labels plus the
    * wave-bounded CHANGE WITNESS the merge already computed on the way —
    * `changedReps(rep)` is the set of representatives (old labels or
    * fresh ids) whose component label moved. An old row relabels iff its
    * old `lbl` ∈ changedReps, so a maintenance service can derive its
    * touched rows from one broadcast semi-join against this delta
    * instead of re-joining the old and merged tables wholesale (the
    * round-14 probe fix — at 100 TB a table×table probe per wave defeats
    * the wave-bounded merge).
    */
  final case class MergeDelta(labels: DataFrame, changedReps: DataFrame)

  /** [[mergeLabels]] with the change delta exposed; `labels` is the
    * byte-identical plan [[mergeLabels]] returns.
    */
  def mergeLabelsDelta(
      old: DataFrame,
      newPairs: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): MergeDelta = {
    val ends = newPairs.select(col("da").as("id"))
      .union(newPairs.select(col("db").as("id"))).distinct()
    // endpoint → representative: old label when seen, own id when fresh.
    // Tracked: read by the reduced-edge join (twice) and the fresh-vertex
    // branch (invariant 6).
    val endRep = track(ends.join(old, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("rep")))
    val reduced = newPairs
      .join(endRep.select(col("id").as("da"), col("rep").as("ra")), Seq("da"))
      .join(endRep.select(col("id").as("db"), col("rep").as("rb")), Seq("db"))
      // a pair internal to one existing component changes nothing
      .filter(col("ra") =!= col("rb"))
      .select(col("ra").as("da"), col("rb").as("db"))
    val touched = fromPairs(track(reduced), maxRounds, track)
    // old vertices: relabel THROUGH the representative (old lbl is the
    // join key — only touched components find a match)
    val oldNew = old
      .join(touched.select(col("id").as("lbl"), col("lbl").as("nl")), Seq("lbl"), "left")
      .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
    // fresh vertices (first seen in this wave): their rep is their own
    // id; propagated label when the reduced graph touched it, else self
    val fresh = endRep.join(old.select(col("id")), Seq("id"), "left_anti")
      .join(touched.select(col("id").as("rep"), col("lbl").as("nl")), Seq("rep"), "left")
      .select(col("id"), coalesce(col("nl"), col("rep")).as("lbl"))
    // reps whose label moved — reading the reduced-CC output (a
    // checkpoint-backed scan), wave-bounded by construction. Fresh reps
    // in the set are harmless to an old-row probe: a fresh id is never
    // an old label (old labels are old member ids).
    val changedReps = touched.filter(col("id") =!= col("lbl"))
      .select(col("id").as("rep"))
    MergeDelta(oldNew.union(fresh), changedReps)
  }

  /** Decremental label maintenance — [[mergeLabels]]' missing half
    * (document DELETION): given a converged labeling `old(id, lbl)`,
    * the pair table `pairs(da, db)` it was computed from, and a set of
    * deleted vertex ids, produce the labeling of the graph with those
    * vertices (and every pair touching them) REMOVED — without
    * recomputing untouched components.
    *
    * Merging only ever unions components, so [[mergeLabels]] could work
    * purely on representatives; deletion can SPLIT a component (the
    * deleted vertex may be a bridge), and connectivity of the survivors
    * is not derivable from labels alone — the surviving pairs of the
    * affected components must be re-propagated. The scope stays
    * component-bounded:
    *
    *  1. affected labels = labels of deleted ids that appear in the
    *     table (delete-bounded);
    *  2. affected pairs = pairs whose endpoints carry an affected label
    *     (both endpoints of a pair share a component, so probing `da`
    *     suffices) minus pairs touching a deleted id;
    *  3. [[fromPairs]] over those survivors relabels the affected
    *     components — a member left with no surviving pair drops from
    *     the table (it is a singleton again; q56's convention keeps
    *     only pair-involved vertices), and a deleted member drops with
    *     its pairs;
    *  4. untouched components pass through an anti-join unchanged.
    *
    * Correctness (the q149 oracle recomputes from scratch over live
    * pairs to machine-check this): a component with no deleted member
    * keeps all pairs and its min id, so passing it through unchanged
    * equals the recompute; an affected component's survivors are
    * relabeled from exactly the pairs the recompute would see, and
    * every label [[fromPairs]] emits is the min of a surviving
    * connected subset — the recompute's value.
    *
    * At 100 TB: step 2 is one hash semi-join of the pair table against
    * the delete-bounded affected-label set plus an anti-join against
    * the deleted ids (in a production layout the pair table lives
    * partitioned by component label, turning it into a partition-pruned
    * read); step 3's propagation input is the affected components'
    * pairs, not the corpus.
    */
  def deleteLabels(
      old: DataFrame,
      pairs: DataFrame,
      deleted: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): DataFrame =
    deleteLabelsDelta(old, pairs, deleted, maxRounds, track).labels

  /** [[deleteLabelsDelta]]'s result: the post-delete labels plus the
    * delete-bounded CHANGE WITNESS — `deadLbls(lbl)` is the label set of
    * components holding ≥1 deleted vertex. Every row the delete drops or
    * relabels has its OLD `lbl` in this set (untouched components pass
    * through an anti-join unchanged), so a maintenance service derives
    * its touched rows from one broadcast semi-join against it (the
    * round-14 probe fix).
    */
  final case class DeleteDelta(labels: DataFrame, deadLbls: DataFrame)

  /** [[deleteLabels]] with the change delta exposed; `labels` is the
    * byte-identical plan [[deleteLabels]] returns.
    */
  def deleteLabelsDelta(
      old: DataFrame,
      pairs: DataFrame,
      deleted: DataFrame,
      maxRounds: Int = 64,
      track: DataFrame => DataFrame = identity): DeleteDelta = {
    val del = deleted.select(col("id"))
    // labels of components holding at least one deleted vertex
    val deadLbl = track(old.join(del, Seq("id"), "left_semi")
      .select(col("lbl")).distinct())
    // the affected components' pairs: probe via da's label (da and db
    // always share a component), then drop pairs touching a deleted id
    val affected = pairs
      .join(old.select(col("id").as("da"), col("lbl")), Seq("da"))
      .join(deadLbl, Seq("lbl"), "left_semi")
      .select(col("da"), col("db"))
    val surviving = track(affected
      .join(del.select(col("id").as("da")), Seq("da"), "left_anti")
      .join(del.select(col("id").as("db")), Seq("db"), "left_anti")
      .select(col("da"), col("db")))
    val relabeled = fromPairs(surviving, maxRounds, track)
    DeleteDelta(
      old.join(deadLbl, Seq("lbl"), "left_anti").select(col("id"), col("lbl"))
        .union(relabeled),
      deadLbl)
  }

  /** Rounds sufficient to COVER a given maximum cluster diameter on an
    * id-monotone chain: smallest r with `2^(r+1) - 2 ≥ d`. Detection
    * adds one further no-change round on top.
    */
  def roundsFor(maxDiameter: Int): Int = {
    var r = 1
    while ((1L << (r + 1)) - 2 < maxDiameter) r += 1
    r
  }
}
