package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the scale-critical properties PLANS.md
  * documents: candidate generation must stay equi-join-banded (no
  * all-pairs operator can sneak back in), top-k-per-group must keep the
  * WindowGroupLimit partial/final pair, and dedup scans must stay
  * column-pruned. Asserted on the AQE FINAL plan (after execution).
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    df.count() // drive AQE to its final plan
    df.queryExecution.executedPlan.toString
  }

  test("every registered query plans cartesian-free (wholesale guard)") {
    // The curated tests below assert STRONGER properties (broadcast
    // presence, WindowGroupLimit, pruning); this guard makes the
    // baseline property — no CartesianProduct anywhere — automatic for
    // every query ever registered, so new queries are born guarded.
    // 1-row broadcast totals plan as BroadcastNestedLoopJoin (intended);
    // CartesianProduct is never intended, so no allowlist is needed.
    // Reads the plans of the one shared execution in QuerySweep.
    assert(QuerySweep.cartesian.isEmpty,
      s"planned a cartesian product: ${QuerySweep.cartesian}")
  }

  test("banded candidate generation never plans an all-pairs join") {
    // q56/q79 moved off this list: their final plans now scan the
    // session CC-label memo (TextQueries.dupLabels), so an assertion on
    // them would be vacuous for the pair-gen/CC stages — q51 guards the
    // full simhash64Pairs plan unmemoized, and the roundPlan test below
    // guards the CC iteration body directly (the q107 lesson)
    for (q <- Seq("q31_neardup_minhash", "q40_embedding_neardup",
        "q51_simhash64", "q53_contamination", "q32_ngram_jaccard",
        "q72_incremental_dedup",
        "q81_dup_spans", "q87_fuzzy_decontam", "q101_winnowing",
        "q104_session_overlap", "q105_simjoin")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested-loop join")
      graft.queries.releasePersisted()
      spark.catalog.clearCache()
    }
  }

  test("IVF tower building blocks broadcast their centroid side (memo-independent)") {
    // The memoized queries' OUTPUT plans scan TowerMemo checkpoints, so
    // a cartesian regression inside the tower would be invisible there
    // (the q107 output-plan-vacuity lesson) — assert on the builders'
    // own plans directly
    import org.apache.spark.sql.functions._
    val emb = graft.ops.Ivf.prep(spark.read.parquet(s"$d/embeddings.parquet"))
    val cent = graft.ops.Ivf.trainCells(emb)
    val probes = graft.ops.Ivf.probeCells(
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"), cent)
    for ((nm, df) <- Seq(
        "assignAll" -> graft.ops.Ivf.assignAll(emb, cent), "probeCells" -> probes)) {
      df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"Ivf.$nm planned a cartesian product")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"Ivf.$nm lost its broadcast centroid side")
    }
  }

  test("q106's query side broadcasts; q107's shortlist stages stay cartesian-free") {
    // BM25's benchmark asymmetry (the q80 shape): the eval postings are
    // small and must broadcast into the corpus postings join
    val p106 = finalPlan("q106_bm25")
    assert(p106.contains("BroadcastHashJoin"),
      "q106 query postings lost their broadcast — corpus postings would shuffle")
    assert(!p106.contains("CartesianProduct"), "q106 planned a cartesian product")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
    // q107's greedy loop localCheckpoints, which would make a guard on
    // the OUTPUT plan vacuous (it shows only the checkpoint scan) — so
    // inspect the real shortlist stages directly: the query-vs-corpus
    // cross join must broadcast (BNLJ over 5 vectors, the q29 intended
    // plan, never CartesianProduct) and the pool-pair self-join is an
    // equi-join
    val (cand, sims) = graft.queries.TextQueries.mmrPool(spark, d)
    for (df <- Seq(cand, sims)) {
      df.count()
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "q107 shortlist planned a cartesian product")
    }
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("q80's corpus side reaches the eval-postings join without shuffling") {
    // the decontamination asymmetry: the eval side broadcasts
    // (benchmark-sized), so the corpus explode feeds a BroadcastHashJoin
    // directly — a SortMergeJoin here would mean the whole corpus gram
    // stream shuffles on the gram key
    val p = finalPlan("q80_ngram_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "eval postings lost their broadcast — corpus grams would shuffle")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("CC round plan has no typed serde boundary (observe, not Dataset.map)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lbl = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("id", "lbl")
    val sym = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val (plan, relaxed) = graft.ops.Dedup.roundPlan(lbl, lbl, sym)
    val counted = plan.observe("probe",
      sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L)).as("n_changed"))
    val p = counted.queryExecution.executedPlan.toString
    assert(!p.contains("DeserializeToObject") && !p.contains("MapElements"),
      s"CC round plan re-grew a typed serde hop:\n$p")
    relaxed.unpersist(false)
  }

  test("top-k per group keeps the WindowGroupLimit partial/final pair") {
    assert(finalPlan("q52_topk_tokens").contains("WindowGroupLimit"))
    assert(finalPlan("q03_latest_event").contains("WindowGroupLimit"))
    assert(finalPlan("q70_exactk_sample").contains("WindowGroupLimit"))
    assert(finalPlan("q77_tfidf_topk").contains("WindowGroupLimit"))
    // q83's rk = K filter pre-trims map-side too — the plan IS the KMV
    // sketch merge (each task keeps its local k smallest)
    assert(finalPlan("q83_kmv_distinct").contains("WindowGroupLimit"))
    // q89's global top-(k+1): LimitPushDownThroughWindow rewrites the
    // unpartitioned rank filter into TakeOrderedAndProject (map-side
    // partial top-k, merged once) — the same pre-trim property with an
    // even cheaper operator; a plain global Window+Sort would regress it
    val p89 = finalPlan("q89_priority_sample")
    assert(p89.contains("TakeOrderedAndProject(limit=51"),
      "q89 rank filter no longer plans as a distributed top-k")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("beam-hop top-B fuses dedup + selection into ONE exchange, no window/sort pair") {
    // The round-15 hop fusion's cluster claim (VERDICT r15 #3): each
    // beam hop / attach hop is a single collect_set + sorted-slice
    // aggregation — map-side partial ObjectHashAggregate, one hash
    // exchange on the query key, and NO Window/Sort operator pair (the
    // pre-fusion shape was distinct-exchange + window-sort = two
    // all-to-all shuffles per hop). Asserted on the shared hopTopB
    // helper both loops now route through, so a refactor that
    // reintroduces the old pair goes red here.
    import spark.implicits._
    val scored = (1 to 400)
      .map(i => (i % 5L, (i % 37).toLong, 1.0 / (i % 11 + 1)))
      .toDF("query_id", "vec_id", "cos")
      .repartition(4) // a real upstream exchange, as in the loops
    val df = graft.queries.TextQueries.hopTopB(scored, "query_id", 8)
    // collect() (NOT count(), which spawns its own QueryExecution and
    // leaves df's plan un-executed — r16 ADVICE) drives THIS dataframe's
    // adaptive plan to its final form before we read it
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true") || !full.contains("AdaptiveSparkPlan"),
      s"hop plan was read before AQE finalized it:\n$full")
    // an executed AdaptiveSparkPlanExec prints BOTH a "== Final Plan =="
    // and an "== Initial Plan ==" section — count shapes in the final
    // section only, or every assertion double-counts (measured)
    val p = {
      val i = full.indexOf("== Initial Plan ==")
      if (i >= 0) full.substring(0, i) else full
    }
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"hop selection should shuffle exactly once on the query key, saw $hashExchanges:\n$p")
    assert(!p.contains("Window ["), s"hop selection regressed to a window:\n$p")
    assert(!p.contains("Sort ["), s"hop selection regressed to a sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"hop selection lost its map-side partial aggregate pair:\n$p")
    spark.catalog.clearCache()
  }

  test("q88's probe side reaches every bitset word join as a broadcast") {
    val p = finalPlan("q88_bloom_decontam")
    // 4 bit-row joins + the ≤529-word build side: all broadcast hash
    // joins — the probe never shuffles the gram stream toward the words
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 4, s"expected ≥4 broadcast word joins, plan has $bhj")
    assert(!p.contains("SortMergeJoin") || bhj >= 4,
      "bitset word join degraded to a shuffle join")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("q98's query sample plans as a distributed top-k, scoring as one broadcast pass") {
    val p = finalPlan("q98_knn_label_audit")
    // the seeded 100-query draw must pre-trim map-side — a global
    // Window+Sort over the whole embedding table would regress it
    assert(p.contains("TakeOrderedAndProject(limit=100"),
      "q98 sample draw no longer plans as a distributed top-k")
    // sample × corpus via broadcast: the corpus scan streams once
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "q98 sample side lost its broadcast — scoring would shuffle the corpus")
    assert(!p.contains("CartesianProduct"), "q98 planned a cartesian product")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("q99's chunk derivation is join-free and column-pruned") {
    val p = finalPlan("q99_chunk_dedup")
    // scan → explode → sha → hash agg: no join of any kind, and the
    // documents scan reads only (doc_id, text)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "q99 chunk table should derive without any join")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty && schemas.forall(s =>
        !s.contains("lang") && !s.contains("source") && !s.contains("n_chars")),
      s"q99 scan reads unneeded columns: $schemas")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("q100's only corpus-sized operator is the gram-count hash agg") {
    val p = finalPlan("q100_vocab_coverage")
    // the cumulative window must run over the tiny count-of-counts
    // table, never a corpus-derived one: no rank/sort of the type
    // table, no cartesian (the 1-row totals ride a broadcast NLJ)
    assert(!p.contains("CartesianProduct"), "q100 planned a cartesian product")
    assert(!p.contains("WindowGroupLimit"),
      "q100 grew a per-type rank — coverage must come from the histogram")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("q71's training-order window is shard-partitioned, never global") {
    val p = finalPlan("q71_corpus_shuffle")
    assert(p.contains("hashpartitioning(shard"),
      "pos window lost its shard partitioning — a global sort would bottleneck at scale")
    graft.queries.releasePersisted()
    spark.catalog.clearCache()
  }

  test("exact-dedup scan stays pruned to the needed columns") {
    val p = finalPlan("q30_exact_dedup")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, "no parquet scan found in plan")
    assert(schemas.forall(s => !s.contains("user_id") && !s.contains("value")),
      s"dedup scan reads unneeded columns: $schemas")
  }

  test("persist hygiene: releasePersisted drains every tracked cache") {
    spark.catalog.clearCache()
    graft.queries.releasePersisted() // drain anything earlier tests left
    // q42/q76/q82 moved off per-call tracked() persists to the
    // session-scoped TowerMemo (localCheckpoint — not CacheManager
    // state), so they are asserted separately below
    for (q <- Seq("q31_neardup_minhash", "q32_ngram_jaccard", "q39_ann_lsh",
        "q40_embedding_neardup", "q51_simhash64",
        "q53_contamination", "q57_corpus_funnel",
        "q58_vocab_prune", "q59_bigram_lift",
        "q71_corpus_shuffle", "q72_incremental_dedup", "q73_multimodal_dedup",
        "q74_media_neardup", "q75_mixture_weights",
        "q77_tfidf_topk", "q78_epoch_draw",
        "q79_best_rep", // the CC labels are memoized but qual is tracked
        "q80_ngram_decontam", "q81_dup_spans",
        "q83_kmv_distinct", "q84_cms_heavy", "q85_percentiles",
        "q86_domain_affinity", "q87_fuzzy_decontam", "q88_bloom_decontam",
        "q89_priority_sample", "q98_knn_label_audit", "q100_vocab_coverage",
        "q101_winnowing", "q104_session_overlap", "q105_simjoin")) {
      SparkEntry.queries(q)(spark, d).count()
      assert(graft.queries.releasePersisted() > 0,
        s"$q persists intermediates but registered none with tracked()")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left cached frames behind after releasePersisted()")
    }
    // memoized queries (ANN towers, CC labels, old-generation towers):
    // no per-call persists to leak, and the memo must NOT occupy the
    // CacheManager (it would be wiped by the clearCache() Bench/Verify
    // run between queries) — the CC memo's build-time persists must
    // also drain themselves
    for (q <- Seq("q42_ann_ivf", "q76_semantic_dedup", "q82_balanced_sample",
        "q56_dup_groups", "q92_index_append", "q108_group_split",
        "q114_effective_size")) {
      SparkEntry.queries(q)(spark, d).count()
      graft.queries.releasePersisted()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left cached frames behind (TowerMemo must live outside the CacheManager)")
    }
  }
}
