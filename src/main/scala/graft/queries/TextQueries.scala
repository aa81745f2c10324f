package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.ops.TextOps
import graft.ops.LoopScope.CkptOps

/** LLM-pipeline text operators over `documents`/`embeddings`
  * (SURVEY.md §2.11): MinHash+LSH near-dup, n-gram Jaccard, language-ID,
  * quality scoring, token stats, fingerprinting, SimHash, multimodal
  * struct assembly, LSH-bucketed ANN.
  *
  * Scale shape: every pipeline is explode → hash-shuffle → aggregate;
  * candidate generation is always banded/bucketed (never all-pairs), so
  * the 100 TB path holds.
  */
object TextQueries {

  private val P = TextOps.P

  /** THE persisted MinHash signature table `(doc_id, toks, hs)` shared
    * by the q31 detector and the q96 detector-quality audit (persisted:
    * both sides of the band join and of the verify join read it — at
    * cluster scale this is the materialized signature table you would
    * write out once and reuse). Shingle hashes are composed
    * algebraically from per-token hashes; the shingle *strings* are
    * only ever built for verification/audit candidate rows.
    */
  private def minhashSig(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    tracked(documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
        graft.functions.ShingleHash3(col("text"), TextOps.P).as("hs"))
      .filter(size(col("hs")) > 0))

  /** ONE definition of the deployed banding stage (8 minhashes → 4
    * bands of 2 → occupancy cap → band-equality self-join → distinct
    * `(da, db)` candidate pairs, da < db). q31 verifies these pairs;
    * q96 measures their recall/precision — auditing exactly the
    * detector that runs, not a reimplementation that could drift.
    */
  private def bandCandPairs(sig: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val withMh = sig.select(
      col("doc_id") +:
        (0 until 8).map(j => TextOps.minhashFromHashes(col("hs"), j).as(s"mh$j")): _*)
    val bands = tracked(bandOccCapped(withMh.select(
      col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          (col(s"mh${2 * b}") * P + col(s"mh${2 * b + 1}")).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** The deployed MinHash banding stage's candidate pairs `(da, db)`,
    * session-memoized (the cellPairs discipline): five consumers —
    * q31 (verify), q96 (audit), q121 (b-bit estimates), q122 (runs),
    * q131 (mask budget) — each re-derived the signature + band join
    * before round 10; the memo stores only the small pair table and
    * the consumers that need signatures for VERIFY joins still build
    * those themselves (the memo is the candidate DOMAIN, bit-identical
    * by construction: the banding pipeline is deterministic integer
    * hashing).
    */
  private[graft] def minhashCands(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "mh_cands")(
      bandCandPairs(minhashSig(s, d)))

  /** EXT-2 — MinHash+LSH near-duplicate detection: 3-gram shingles →
    * 8 minhashes → 4 bands of 2 → band-equality join for candidates →
    * exact Jaccard verification ≥ 0.1. Only banded candidates are ever
    * paired — the all-pairs quadratic never materializes.
    */
  val q31NeardupMinhash: Q = (s, d) => {
    val sig = minhashSig(s, d)
    val cands = minhashCands(s, d)
    // exact-Jaccard verification: join tokens first, build shingle
    // strings only for the (few) banded candidate rows
    cands
      .join(sig.select(col("doc_id").as("da"), col("toks").as("toksa")), Seq("da"))
      .join(sig.select(col("doc_id").as("db"), col("toks").as("toksb")), Seq("db"))
      .withColumn("sha", TextOps.shinglesFromTokens(col("toksa"), 3))
      .withColumn("shb", TextOps.shinglesFromTokens(col("toksb"), 3))
      .withColumn("n_int", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac",
        col("n_int").cast("double") / (size(col("sha")) + size(col("shb")) - col("n_int")))
      .filter(col("jac") >= 0.1)
      .select(col("da"), col("db"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  /** Inverted-index posting lists above this document frequency are
    * dropped before the q32 self-join: a shingle shared by f documents
    * contributes f² candidate rows, so without a cap one stop-bigram
    * turns the index quadratic. Capped, join rows are ≤ |vocab|·C² —
    * linear in vocabulary. High-df shingles carry ~no Jaccard signal
    * anyway (they match everything). Both engines apply the same cap, and
    * the denominator stays the FULL distinct-shingle counts, so the
    * reported `jac` is a documented lower bound of true Jaccard.
    */
  private val DfCap = 64

  /** EXT-2 — 2-gram Jaccard via a df-capped inverted-index join on shared
    * bigram shingle *hashes* (native [[graft.functions.ShingleHash]]
    * arity 2 — one pass over the text, no interpreted HOF shingle
    * strings). Unsampled since round 3: the df cap alone bounds the
    * candidate set (join rows ≤ |vocab|·C²), and the measured cost
    * confirms it (unsampled 2.14 s vs 2.77 s sampled at sf0.1).
    */
  val q32NgramJaccard: Q = (s, d) => {
    // distinct-shingle size rides along with each posting row (constant
    // per doc), so Jaccard needs no post-join back to a sizes table —
    // two fewer joins in the plan
    val ex = documents(s, d)
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash(col("text"), TextOps.P, 2)).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), size(col("t")).as("n"), explode(col("t")).as("w"))
    // posting-list df per shingle hash; drop stop-shingles (df > cap)
    // persisted: both sides of the self-join read it (invariant 6)
    val rare = tracked(ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .filter(col("df") <= DfCap)
      .select(col("doc_id"), col("n"), col("w")))
    rare.as("a").join(rare.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"), first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jac", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jac") >= 0.05)
      .select(col("da"), col("db"), col("shared"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  /** EXT — near-dup detector quality audit (the q93 recall-audit
    * discipline applied to dedup): measured catch-rate of the DEPLOYED
    * MinHash banding stage ([[bandCandPairs]] — the exact code q31
    * runs, not a reimplementation that could drift) against exact
    * 3-gram Jaccard, bucketed by Jaccard decile, next to the LSH
    * S-curve theory value E[1−(1−J²)⁴]. Ground-truth pair universe =
    * pairs sharing ≥1 rare gram (df ≤ [[DfCap]], the q32 postings
    * idiom): the standard candidate-bounded reference set — exhaustive
    * exact Jaccard is quadratic — and exact J per pair comes from FULL
    * distinct-gram lists, so the cap bounds only WHICH pairs are
    * audited, never their J. Low deciles expose banding false alarms
    * (the mass q31's verify stage filters); high deciles expose missed
    * near-dups. At 100 TB the universe is drawn from a seeded document
    * sample (the q55 idiom): past [[AuditSampleThreshold]] docs the
    * audit restricts BOTH truth-pair endpoints to the seeded
    * priority-hash sample ([[AuditSampleBound]] — the mod-2³¹−1 form;
    * the mod-10⁴ LCG stride-lattices on sequential ids) while the
    * DEPLOYED detector AND the df-cap statistics stay full-corpus (a
    * df recomputed on the sample admits ~1/rate-commoner grams — the
    * sampled universe must stay a subset of the full one) — recall
    * over a uniform doc
    * subsample estimates full recall (Q96SampleModeSpec measures the
    * agreement at sf0.01), and the truth-side pair universe cost drops
    * by the sample rate squared. Test corpora sit under the threshold,
    * so the oracled query always runs full.
    */
  val q96DedupAudit: Q = (s, d) => {
    // memoized count (Tables.rowCount): the gate check must not run a
    // scan-and-count job on every query construction — Bench's timed
    // window (and the >3 s rerun) was paying it per invocation
    val full = graft.Tables.rowCount(s, d, "documents") <= AuditSampleThreshold
    dedupAuditCore(s, d, if (full) None else Some(AuditSampleBound))
  }

  /** Docs beyond this count switch q96 to sample mode. The testdata
    * regeneration before round 12 shrank the corpus 10× (sf0.1
    * 50k → 5k docs), putting every test SF under the round-10 25k gate
    * — the sampled branch would never run on real data again. Round-12
    * re-sweep on the regenerated corpus (sf0.1 = 5k docs):
    * sampled recall tracks full within 0.0002 on the estimable deciles
    * (bar 0.15; jb=9 reads 1.0 exactly on both sides below the
    * estimability bar) and the audit drops 23.3 → 4.4 s, so the gate
    * moves to 2k — above the oracle-SF corpus (sf0.01 = 500 docs stays
    * full/oracled), below sf0.1 (sampled branch hash-verified there).
    * The oracle mirrors the gate as a scalar-subquery predicate, so
    * the fixed SQL is correct at EVERY SF (the q135 discipline).
    * History: round-10 swept 100k → 25k on the old 50k-doc corpus with
    * the same tracking margin.
    */
  private[graft] val AuditSampleThreshold = 2000L
  /** Sample-mode admission bound: h(doc_id) < mod/5 keeps ~20%.
    * (lazy: [[PriorityMod]] is declared further down this object — an
    * eager val here reads 0 before initialization)
    */
  private[graft] lazy val AuditSampleBound = PriorityMod / 5

  /** The q96 audit body, parameterized by the optional truth-universe
    * sample bound (None = exhaustive rare-gram universe).
    */
  private[graft] def dedupAuditCore(s: org.apache.spark.sql.SparkSession,
      d: String, sampleBound: Option[Long]): org.apache.spark.sql.DataFrame = {
    val sigAll = minhashSig(s, d)
    // always audit the detector THAT RUNS — banding is never sampled
    // (memoized: the exact pair table every other consumer reads)
    val det = minhashCands(s, d)
    // full distinct-gram lists: read 3× (postings explode + both pair
    // sides), persisted (invariant 6). Built from ALL docs even in
    // sample mode: the df cap must come from FULL-corpus statistics —
    // a df recomputed on the ~20% sample admits grams ~5× commoner
    // than full mode does, so the sampled truth universe would NOT be
    // a subset of the full one and the recall estimate would be biased
    // toward common-gram pairs. Sampling restricts only WHICH postings
    // enter the pair join, never the statistics.
    val sh = tracked(sigAll.select(col("doc_id"),
      array_distinct(TextOps.shinglesFromTokens(col("toks"), 3)).as("sh")))
    val grams = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val keep = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap).select(col("g"))
    val postings = sampleBound match {
      case Some(bound) => grams.filter(priorityHashOn(col("doc_id")) < lit(bound))
      case None => grams
    }
    // persisted: both sides of the pair self-join read it — without
    // this each side re-runs the explode + df aggregate (invariant 6)
    val rare = tracked(postings.join(keep, Seq("g"), "left_semi"))
    val cpairs = rare.as("a").join(rare.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val withJ = cpairs
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("sh").as("shb")), Seq("db"))
      .withColumn("n_int", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("n_int").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("n_int")))
      .select(col("da"), col("db"), col("jac"))
    // S-curve per pair: 1-(1-J²)⁴ as explicit left-assoc products (no
    // pow — not cross-engine bit-stable), averaged via qmean8
    val u = lit(1.0) - col("jac") * col("jac")
    withJ
      .join(det.withColumn("hit", lit(1)), Seq("da", "db"), "left")
      .withColumn("p_theory", lit(1.0) - u * u * u * u)
      .groupBy(floor(col("jac") * 10).cast("int").as("jb"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0))).as("n_caught"),
        qmean8(col("p_theory")).as("exp_catch"))
      .withColumn("recall", col("n_caught").cast("double") / col("n_pairs"))
      .select(col("jb"), col("n_pairs"), col("n_caught"), col("recall"),
        col("exp_catch"))
      .orderBy(col("jb"))
  }

  /** Hashed bag-of-words geometry (the hashing trick — Weinberger et
    * al., ICML 2009; sklearn's HashingVectorizer): dimension count,
    * retrieval depth, query-sample size.
    */
  val BowDims = 64
  val BowTopK = 5
  val BowNQueries = 5

  /** EXT — vocabulary-free sparse vectorization + sparse retrieval:
    * each token maps to dimension pmod(h, D) with a ± sign from the
    * hash's next bit (the signed hashing-trick contract that keeps
    * inner products unbiased under collisions) — NO vocabulary table,
    * so vectorization is stateless and one-pass at any corpus size,
    * which is the reason the trick exists. Retrieval: a seeded 5-doc
    * query sample (the q89 fine-grained LCG draw — a global top-5, so
    * it plans as TakeOrderedAndProject), cosine = integer dot /
    * sqrt(product of integer norms) in ONE fixed double expression
    * (sqrt is the only sanctioned transcendental), top-5 per query by
    * (cos DESC, doc_id). Scale shape: the sparse table is |docs|·≤D
    * rows, the query side a ≤D·5-row broadcast, scoring one equi-join
    * on dim + hash agg, ranking a per-query WindowGroupLimit — every
    * corpus-sized structure is linear.
    */
  val q97HashedBow: Q = (s, d) => {
    val ent = documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", graft.functions.PolyHash(col("tok"), TextOps.P))
      .select(col("doc_id"),
        pmod(col("h"), lit(BowDims.toLong)).cast("int").as("dim"),
        (lit(1) - lit(2) * pmod(expr(s"h div $BowDims"), lit(2L)).cast("int")).as("sgn"))
    // sparse signed-count vectors; v=0 dims dropped (true sparse form —
    // they carry nothing through any inner product). Persisted: corpus
    // side, query side, and norms all read it (invariant 6).
    val vec = tracked(ent.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("v"))
      .filter(col("v") =!= 0))
    val nrm = tracked(vec.groupBy(col("doc_id"))
      .agg(sum(col("v") * col("v")).as("n2")))
    val qids = nrm.select(col("doc_id").as("qid"),
        priorityHashOn(col("doc_id")).as("u"))
      .orderBy(col("u"), col("qid")).limit(BowNQueries)
      .select(col("qid"))
    val qvec = broadcast(vec.join(qids, col("doc_id") === col("qid"))
      .select(col("qid"), col("dim"), col("v").as("vq")))
    val qn = broadcast(nrm.join(qids, col("doc_id") === col("qid"))
      .select(col("qid"), col("n2").as("n2q")))
    val dots = vec.join(qvec, Seq("dim"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("v") * col("vq")).as("dot"))
    val scored = dots.join(nrm, Seq("doc_id")).join(qn, Seq("qid"))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("n2").cast("double") * col("n2q").cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BowTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("dot"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** EXT-4 — n-gram-heuristic language ID with per-language marker
    * scores.
    */
  val q33LangId: Q = (s, d) => {
    val cols = Seq(col("doc_id"), col("lang")) ++
      TextOps.langMarkers.map { case (l, _) => TextOps.langScore(col("text"), l).as(s"s_$l") } :+
      TextOps.langId(col("text")).as("predicted")
    documents(s, d).select(cols: _*).orderBy(col("doc_id"))
  }

  /** EXT-4 — quality scoring: token/char stats, stopword + digit ratios,
    * clamped linear score.
    */
  val q34Quality: Q = (s, d) => {
    documents(s, d).select(
      col("doc_id"),
      size(TextOps.tokens(col("text"))).as("n_tokens"),
      length(col("text")).as("n_chars_m"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
      (length(col("text")).cast("double") / size(TextOps.tokens(col("text")))).as("avg_tok_len"),
      TextOps.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** EXT-4 — corpus token stats ROLLUP by (lang, source) with exact
    * distinct counts (the approx_count_distinct twin is unit-tested, not
    * oracled — SURVEY.md §2.11).
    */
  val q35TokenStats: Q = (s, d) => {
    documents(s, d)
      .select(col("lang"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        col("n_chars"))
      .rollup(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        grouping(col("lang")).cast("int").as("g_l"),
        grouping(col("source")).cast("int").as("g_s"))
      .select(
        coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("n_docs"), col("total_tokens"), col("total_chars"), col("g_l"), col("g_s"))
      .orderBy(col("g_l"), col("g_s"), col("lang"), col("source"))
  }

  /** EXT-4 — rolling polynomial fingerprint. The oracle derives the same
    * value through the power-sum form Σ th_i·31^(n−i) mod P — an
    * independent formulation of the recurrence.
    */
  val q36Fingerprint: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** EXT-4 — 16-bit SimHash (scalar fold in Spark; the oracle uses the
    * relational per-bit vote formulation).
    */
  val q37Simhash: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"), graft.functions.SimHash16(col("text")).as("sh16"))
      .orderBy(col("doc_id"))
  }

  /** EXT-7 — multimodal struct assembly + field pruning: documents joined
    * to their embedding, packed into a nested struct, then only some
    * fields projected back out (Catalyst prunes the rest).
    */
  val q38Multimodal: Q = (s, d) => {
    def dot(a: org.apache.spark.sql.Column) =
      aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (s0, v) => s0 + v)
    val joined = documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), struct(
        struct(substring(col("text"), 1, 40).as("prefix"), col("lang").as("lang")).as("txt"),
        struct(size(col("embedding")).as("dim"), sqrt(dot(col("embedding"))).as("norm")).as("vec"),
        col("source").as("source")).as("doc"))
    joined.select(
      col("doc_id"),
      col("doc.txt.prefix").as("prefix"),
      col("doc.txt.lang").as("lang"),
      col("doc.vec.dim").as("dim"),
      col("doc.vec.norm").as("norm"))
      .orderBy(col("doc_id"))
  }

  /** Sign-random-projection banding shared by q39/q40: 32 deterministic
    * Rademacher hyperplanes ([[graft.functions.SignProjBits]], one native
    * pass), sliced into 4 bands of 8 bits. Band keys live in a 256-value
    * space *per band*, so within-band bucket occupancy is n/256 per band
    * — 16× tighter than the old 4-bit single bucket — and OR-amplification
    * across the 4 bands recovers recall. For a production near-dup regime
    * (cos ≥ 0.9, sign-agreement p ≈ 0.86) the same expression widens to
    * 64 bits / 4 bands of 16 (2¹⁶ keys per band); this corpus's
    * similarity tail sits at cos ≈ 0.4 (p ≈ 0.63), where 16-bit bands
    * would match nothing, so the query uses 8-bit bands.
    */
  private val SrpBits = 32
  private val SrpBands = 4
  private val SrpBandBits = SrpBits / SrpBands

  /** (band, key) rows per vector: key = bits >> (8·band) & 0xff. */
  private def srpBands(df: org.apache.spark.sql.DataFrame, idCol: String)
      : org.apache.spark.sql.DataFrame = {
    df.withColumn("bits", graft.functions.SignProjBits(col("embedding"), SrpBits))
      .select(col(idCol),
        explode(array((0 until SrpBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("bits"), b * SrpBandBits)
              .bitwiseAND(lit((1 << SrpBandBits) - 1)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** EXT-3 — banded sign-LSH ANN (the 100 TB path for q29): candidates
    * are vectors sharing ≥ 1 of 4 8-bit sign-projection bands with the
    * query; exact cosine + top-5 runs over candidates only. Candidate
    * count per query is Σ_bands n/2^bandBits — sub-linear per band key
    * and tunable via band width, vs. the all-bucket scan of a single
    * coarse bucket.
    */
  val q39AnnLsh: Q = (s, d) => {
    import graft.functions.DotFold
    val emb = tracked(embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    // no occupancy cap here (unlike the q31/q40/q51 SELF-joins): the
    // corpus side joins the tiny query side, so a hot bucket costs
    // |queries|·occ rows — linear, and capping would silently lose
    // recall for queries landing in dense cells
    val bands = srpBands(emb, "vec_id")
    val qBands = srpBands(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .withColumnRenamed("vec_id", "query_id"), "query_id")
    val cands = bands.join(broadcast(qBands), Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val queries = emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val scored = cands
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", DotFold(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT-1/EXT-3 — embedding-cosine near-duplicate detection: candidate
    * pairs share ≥ 1 of 4 8-bit sign-projection bands (never all pairs,
    * never one coarse bucket), then exact cosine ≥ 0.4 verifies. Pair
    * generation is Σ_bands Σ_keys occ², with occupancy n/256 per band key
    * — the quadratic-within-bucket blowup of a 16-bucket scheme is gone,
    * and band width scales it further (16-bit bands ⇒ n/65536).
    */
  val q40EmbeddingNeardup: Q = (s, d) => {
    import graft.functions.DotFold
    val emb = tracked(embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    val bands = tracked(bandOccCapped(srpBands(emb, "vec_id")))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"))
      .distinct()
    cands
      .join(emb.select(col("vec_id").as("da"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("da"))
      .join(emb.select(col("vec_id").as("db"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        (DotFold(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("da"), col("db"))
  }

  private val IvfK = graft.ops.Ivf.K
  private val IvfIters = graft.ops.Ivf.Iters
  private val IvfProbes = graft.ops.Ivf.Probes

  /** EXT-3 — trained IVF ANN ([[graft.ops.Ivf]]): k-means cells trained
    * by integer-quantized Lloyd's ([[IvfIters]] iterations seeded from
    * the first k vectors, the k-row state held on the driver) so the
    * oracle can replay training exactly, every vector assigned to its
    * nearest trained cell, queries probe their [[IvfProbes]] nearest
    * cells, exact cosine + top-5 inside the probed cells only.
    * Assignment and probing are map-only NearestCell passes, never a
    * global window; the session holds the tower
    * ([[graft.ops.TowerMemo]]). The at-scale train-ONCE composition
    * over the same code is
    * [[graft.ops.Ivf.buildIndex]] → [[graft.ops.Ivf.probeTopK]]
    * (persisted centroid/assignment tables; IvfRecallSpec proves the
    * probe-only path reproduces this query's rows bit-for-bit with no
    * training in its plan).
    */
  val q42AnnIvf: Q = (s, d) => {
    import graft.ops.{Ivf, TowerMemo}
    Ivf.topk(TowerMemo.assigned(s, d), TowerMemo.probes5(s, d))
  }

  /** EXT-3c — product-quantization ANN ([[graft.ops.Pq]]): per-subspace
    * codebooks trained with the q42 integer-quantized Lloyd's
    * (so the oracle replays training, encoding, and every ADC score
    * bit-for-bit), every vector encoded to [[graft.ops.Pq.M]] 4-bit
    * codes, queries ADC-scored through the codes alone (integer sums
    * of the broadcast floor(d²·10⁸) table), and the top
    * [[graft.ops.Pq.Shortlist]] re-ranked by exact L2 — the
    * ADC-with-re-ranking deployment shape from the PQ paper. `adc` is
    * the 10⁸-scaled approximate squared distance, `d2` the exact one
    * (computed for shortlist rows only). The train-once serving split
    * over the same code is [[graft.ops.Pq.buildIndex]] →
    * [[graft.ops.Pq.probeTopK]] (PqSpec proves the probe-only path
    * reproduces these rows bit-for-bit and pins recall@5 vs the
    * exact-L2 ranking).
    */
  val q90PqAnn: Q = (s, d) => {
    import graft.ops.{Pq, TowerMemo}
    val emb = TowerMemo.prep(s, d)
    val sub = tracked(Pq.subvectors(emb))
    val cent = Pq.trainCodebooks(emb)
    val codes = Pq.encode(sub, cent)
    val dts = Pq.distanceTables(sub.filter(col("vec_id") < graft.ops.Ivf.ProbeN), cent)
    Pq.rerankTopK(Pq.adcShortlist(codes, dts), emb)
  }

  /** EXT-3d — IVFADC ([[graft.ops.Pq]] §IVFADC): the PQ paper's full
    * system composed from the two indexes this engine already oracles —
    * the q42 coarse quantizer prunes WHICH inverted lists a query
    * scans ([[graft.ops.Ivf.Probes]] of [[graft.ops.Ivf.K]] cells) and
    * PQ codes over the RESIDUALS (r = v − centroid) compress WHAT a
    * scan costs (16 B/vector). Each probed cell gets its own query
    * residual and its own broadcast distance table; candidate scoring
    * is the same integer ADC sum as q90, restricted to probed-cell
    * members; exact L2 re-ranks the shortlist. Training (both
    * quantizers), assignment, encoding, and every score replay
    * bit-exactly in the oracle via the two factored CTE generators.
    */
  val q91IvfadcAnn: Q = (s, d) => {
    import graft.ops.{Pq, TowerMemo}
    Pq.rerankTopK(TowerMemo.ivfadcShortlist(s, d), TowerMemo.prep(s, d),
      extra = Seq("cell"))
  }

  /** EXT-3e — ANN index append WITHOUT retrain: the first ⌊4n/5⌋
    * vectors (integer-exact cut both engines) are the frozen index
    * generation — IVF cells AND residual codebooks train on them
    * alone — and the rest is a new crawl batch that joins the index
    * through assignment + encoding only: the frozen-quantizer append a
    * production ANN service runs between retrains (the
    * [[graft.ops.IncrementalDedup]] build/probe discipline applied to
    * the q91 IVFADC tower). Search spans both generations; `is_new`
    * marks appended candidates surfacing in the top-k. PqSpec proves
    * the append leaves every old vector's codes identical.
    */
  val q92IndexAppend: Q = (s, d) => {
    import graft.ops.{Pq, TowerMemo}
    // the frozen-generation towers (⌊4n/5⌋ cut, centroids and residual
    // codebooks trained on the old generation alone) are deterministic
    // per sfDir, so they memoize exactly like the q91 full-corpus ones
    // (TowerMemo.old*) — PqSpec's codes-identical append proof and the
    // oracle's independent replay are unchanged
    val emb = TowerMemo.prep(s, d)
    Pq.rerankTopK(TowerMemo.oldIvfadcShortlist(s, d), emb, extra = Seq("cell"))
      .crossJoin(broadcast(TowerMemo.oldCut(s, d)))
      .withColumn("is_new", col("vec_id") >= col("cut"))
      .select(col("query_id"), col("rank"), col("cell"), col("vec_id"),
        col("is_new"), col("adc"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT-3n — IVFADC index DELETE (the quantization family's q152 twin at
    * the oracle tier — StreamingIndex.deleteBatch proved the plumbing in
    * specs; this puts tombstone surgery on the q91 tower under the hash
    * gate). Tombstones are the seeded ~12.8% slice ([[DeleteBound]]); the
    * surgery is two anti-joins — the codes table and the inverted-list
    * membership drop tombstoned rows — and BOTH quantizers stay frozen (a
    * takedown never retrains; that decision is q144's refresh audit).
    * Serving then runs the identical IVFADC path over the live lists:
    * probed cells, per-cell residual distance tables, integer ADC over
    * live codes only — the shortlist REFILLS with next-best live
    * candidates, which is what makes live-only serving more than a
    * post-filter. Dead vectors keep QUERYING (3 of the 5 probe queries
    * are tombstoned — the q152 convention: a deleted vector can be a
    * query, never a result); `exact_hit` audits each served row against
    * the exact L2 top-5 over LIVE vectors (the q93 discipline), `q_dead`
    * marks tombstoned queries. Measured before wiring (r12 slice sweep):
    * 64/500 vectors die at the oracle SF, ≥1 pre-delete exact-top-5 row
    * dies, so the served lists provably move.
    *
    * The ORACLE replays the full q91 tower ([[ivfTrainAssignCtes]] +
    * [[ivfadcResidualCtes]] + [[pqChainCtes]]), applies the liveness
    * semi-join inside the ADC scoring CTE ([[ivfadcRankCtes]]'s
    * `candLive` — the same generator that runs q91/q92/q93/q144,
    * byte-identical there), and computes the live exact audit — one
    * statement, one hash.
    *
    * Scale shape: the anti-joins are index-table-sized (16 B/row codes),
    * the serve is q91's (broadcast distance tables, list-cut candidate
    * scan, shortlist re-rank); delete cost is wave-proportional and the
    * quantizer state is untouched parquet.
    */
  /** The q171/q176 tombstone slice as a table — production deletes
    * arrive as a tombstone TABLE (q152's rule). Call sites `tracked`
    * it (multi-join consumer).
    */
  private def indexDeadIds(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.prep(s, d)
      .filter(priorityHashOn(col("vec_id")) < lit(DeleteBound))
      .select(col("vec_id"))

  /** Live-only serving over the FROZEN full-corpus tower — q171's serve
    * arm, factored (round 17) so q176's stale arm reads the IDENTICAL
    * frame: codes and inverted-list membership anti-join the
    * tombstones, the shortlist refills live-only, exact re-rank on top.
    */
  private def liveFrozenServed(s: org.apache.spark.sql.SparkSession, d: String,
      dead: org.apache.spark.sql.DataFrame) = {
    import graft.ops.{Pq, TowerMemo}
    val liveCodes = TowerMemo.residualCodes(s, d)
      .join(dead, Seq("vec_id"), "left_anti")
    val dts = Pq.queryResidualTables(TowerMemo.probes5(s, d), TowerMemo.cent(s, d),
      TowerMemo.residualCodebooks(s, d))
    Pq.rerankTopK(Pq.ivfAdcShortlist(liveCodes, dts),
      TowerMemo.prep(s, d), extra = Seq("cell"))
  }

  /** Exact L2 top-5 over LIVE vectors for the standard probe set (the
    * q93 discipline, live-filtered) — `(query_id, vec_id)`.
    */
  private def exactLiveTop5(s: org.apache.spark.sql.SparkSession, d: String,
      dead: org.apache.spark.sql.DataFrame) = {
    import graft.functions.DotFold
    val emb = graft.ops.TowerMemo.prep(s, d)
    emb.join(dead, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("v"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2x", DotFold(col("qv"), col("qv"))
        - lit(2.0) * DotFold(col("qv"), col("v")) + DotFold(col("v"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2x").asc, col("vec_id").asc)))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"))
  }

  val q171IndexDelete: Q = (s, d) => {
    val dead = tracked(indexDeadIds(s, d))
    val served = liveFrozenServed(s, d, dead)
    val exact = exactLiveTop5(s, d, dead).withColumn("hit", lit(1))
    served.join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank"), col("cell"), col("vec_id"),
        col("adc"), col("d2"),
        coalesce(col("hit"), lit(0)).cast("int").as("exact_hit"),
        (priorityHashOn(col("query_id")) < lit(DeleteBound)).cast("int").as("q_dead"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT-3o — ANN index COMPACTION (index merge — the serving tier had
    * train/append/delete/refresh-audit but never merged generations into
    * one fresh serving index). Scenario: the full-corpus IVFADC index
    * (q91's tower) has absorbed the seeded ~12.8% tombstone wave
    * ([[DeleteBound]] — q171's state) and compaction is due
    * ([[graft.streaming.StreamingIndex.compactionDue]]'s tomb-ratio
    * trigger fires well below 25%... this is the RETRAIN variant a tier
    * runs when it pays the rebuild). The compactor: 1. enumerates the
    * surviving membership FROM THE HELD INDEX STATE (distinct vec_ids of
    * the codes table minus the tombstones — never from the raw corpus;
    * that enumeration being right is half the law), 2. retrains BOTH
    * quantizers on the survivors (fresh IVF cells, fresh residual
    * codebooks — unlike q171, where a takedown keeps them frozen), 3.
    * re-encodes and serves live-only through the new tower. The ORACLE is
    * the BLIND rebuild: the identical tower replayed from the raw
    * embeddings with the liveness predicate — the hash match IS the
    * compaction law `compact(held codes ∖ tombs) ≡ rebuild(live corpus)`,
    * including the seed shrinkage (live ids < [[graft.ops.Ivf.K]] seed
    * the cells, so dead seeds drop) and every downstream distance. The
    * readout is the refresh-vs-compact decision table: per served row
    * `exact_hit` (vs the live exact L2 top-5) and `stale_hit` (row also
    * served by the UN-compacted q171 arm), plus per-query `hits_compact`
    * / `hits_stale` / `compact_gain` — what paying the rebuild buys over
    * serving the frozen tower with anti-joined tombstones (q144's
    * refresh_gain, posed for the post-delete index). Measured at sf0.01
    * before wiring: gains span −3..+2 across the 5 probes (the
    * survivor-trained tower wins some queries and loses others at 436
    * live vectors) — the decision table is genuinely two-sided, which is
    * exactly why a tier consults it before paying a rebuild.
    *
    * Oracle shape: TWO tower replays in ONE statement (the q144
    * f-prefix machinery) — unprefixed = the live-trained compact
    * tower ([[ivfTrainAssignCtes]] with an explicit live `trainDef`,
    * round-17 parameter; default emits byte-identical SQL to the
    * committed oracles), `f`-prefixed = q171's full tower, both
    * scored through the `candLive` liveness semi-join.
    *
    * Scale shape: the rebuild is train-once over survivors (the q91
    * tower's own audited shape); membership enumeration is one
    * distinct + anti-join over the 16 B/row codes table; the stale arm
    * rides the session memos. At 100 TB this is
    * [[graft.ops.Ivf.buildIndex]] re-run on the live slice — the query
    * proves the operator's algebra at test SF.
    */
  val q176IndexCompact: Q = (s, d) => {
    import graft.ops.{Ivf, Pq, TowerMemo}
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) =
      { locals.synchronized { locals += df.persist() }; df }
    val emb = TowerMemo.prep(s, d)
    val dead = hold(indexDeadIds(s, d))
    dead.count() // shared by every arm below — force once before forking
    // 1. membership from the HELD index state (codes ∖ tombs), blind to
    //    the raw corpus — the oracle recomputes it from the predicate
    val liveIds = hold(TowerMemo.residualCodes(s, d).select(col("vec_id")).distinct()
      .join(dead, Seq("vec_id"), "left_anti"))
    def liveOnly(df: org.apache.spark.sql.DataFrame) =
      df.join(liveIds, Seq("vec_id"), "left_semi")
    // The retrain chain is an eager driver-side Lloyd loop; the readout
    // arms (live exact truth, un-compacted stale serve) are independent
    // of the new tower — drive them concurrently (guide §2.6, the q175/
    // q177 pattern; TowerMemo builds are per-key futures, so the stale
    // arm's memo reads never serialize against the trainer)
    var servedC, exact, stale: org.apache.spark.sql.DataFrame = null
    parDrive(
      () => {
        // 2. fresh quantizers trained on the survivors; the new tower's
        //    rows stream through the shortlist (one consumer)
        val cent = Ivf.trainCells(hold(liveOnly(emb)))
        val cb = Pq.trainCodebooks(liveOnly(Pq.residualsUnder(emb, cent)))
        // 3. live-only serving through the new tower (the q171 surgery,
        //    now over the compacted generation)
        val probes = Ivf.probes(
          emb.filter(col("vec_id") < Ivf.ProbeN).withColumnRenamed("vec_id", "query_id"), cent)
        val dts = Pq.queryResidualTables(probes, cent, cb)
        servedC = hold(Pq.rerankTopK(
          Pq.ivfAdcShortlist(Pq.codeRows(Pq.ivfadcRows(emb, cent, cb))
            .join(dead, Seq("vec_id"), "left_anti"), dts),
          emb, extra = Seq("cell")))
        servedC.count(); ()
      },
      () => { exact = hold(exactLiveTop5(s, d, dead)); exact.count(); () },
      () => {
        stale = hold(liveFrozenServed(s, d, dead)
          .select(col("query_id"), col("vec_id")))
        stale.count(); ()
      })
    val hitsC = exact
      .join(servedC.select(col("query_id"), col("vec_id"), lit(1).as("ch")),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id")).agg(count(col("ch")).as("hits_compact"))
    val hitsS = exact
      .join(stale.withColumn("sh", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id")).agg(count(col("sh")).as("hits_stale"))
    val out = servedC
      .join(exact.withColumn("eh", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(stale.withColumn("sh", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(hitsC, Seq("query_id"))
      .join(hitsS, Seq("query_id"))
      .select(col("query_id"), col("rank"), col("cell"), col("vec_id"),
        col("adc"), col("d2"),
        coalesce(col("eh"), lit(0)).cast("int").as("exact_hit"),
        coalesce(col("sh"), lit(0)).cast("int").as("stale_hit"),
        col("hits_compact"), col("hits_stale"),
        (col("hits_compact") - col("hits_stale")).as("compact_gain"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** EXT-3f — ANN index-quality audit: recall@5 of the q91 IVFADC
    * tower against the brute-force exact L2 ranking, COMPUTED IN-PLAN —
    * the pre-rollout index QA a serving tier runs on a query sample
    * (the measurement PqSpec did by hand, productized as an oracled
    * table). The brute-force side broadcasts the 5-query sample across
    * the corpus scan (the q29 shape); recall is one division of an
    * integer hit count by the literal k.
    */
  val q93RecallAudit: Q = (s, d) => {
    import graft.ops.{Pq, TowerMemo}
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val approx = Pq.rerankTopK(TowerMemo.ivfadcShortlist(s, d), emb, extra = Seq("cell"))
      .select(col("query_id"), col("vec_id"))
    val exact = emb.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", DotFold(col("qv"), col("qv"))
        - lit(2.0) * DotFold(col("qv"), col("v")) + DotFold(col("v"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"))
    exact.join(approx.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits").cast("int").as("n_hits"),
        (col("n_hits").cast("double") / lit(5.0)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** EXT-3l — index-REFRESH audit (the rebuild decision): recall@5 of
    * the FULL-RETRAIN IVFADC tower (q91's) and the FROZEN-quantizer
    * append tower (q92's — both quantizers trained on the first ⌊4n/5⌋
    * generation only) against the same brute-force exact L2 truth,
    * side by side per query, plus the towers' top-5 overlap and the
    * per-query `refresh_gain` (retrained hits − frozen hits). This is
    * the table that answers "is the index stale enough to pay a
    * rebuild" — q92 proves the frozen append is CORRECT, this measures
    * what it COSTS in recall. Non-vacuous (measured before wiring: 4
    * of 25 top-5 rows differ between the towers at sf0.01, and new-gen
    * vectors do reach the frozen top-5).
    *
    * Both towers ride the session memos (ivfadcShortlist /
    * oldIvfadcShortlist), so the query itself is three query-grain
    * joins + one broadcast exact pass. The oracle hosts BOTH training
    * replays in one statement — every frozen-side CTE carries the `f`
    * prefix (the generators' round-9 prefix parameter; identical SQL
    * when unprefixed) — so the gate proves the two-tower composition
    * end-to-end, not each tower in isolation.
    *
    * Scale shape: the audit is query-grain on top of the two towers'
    * own (already audited) shapes; the exact side exists because this
    * IS the audit. At 100 TB the same comparison runs on a query
    * SAMPLE against the persisted old/new index generations
    * ([[graft.ops.Ivf.buildIndex]] / [[graft.streaming.StreamingIndex]]).
    */
  val q144RefreshAudit: Q = (s, d) => {
    import graft.ops.{Pq, TowerMemo}
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val full5 = tracked(Pq.rerankTopK(TowerMemo.ivfadcShortlist(s, d), emb)
      .select(col("query_id"), col("vec_id")))
    val froz5 = tracked(Pq.rerankTopK(TowerMemo.oldIvfadcShortlist(s, d), emb)
      .select(col("query_id"), col("vec_id")))
    val exact = emb.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", DotFold(col("qv"), col("qv"))
        - lit(2.0) * DotFold(col("qv"), col("v")) + DotFold(col("v"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"))
    val common = full5.join(froz5, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    exact
      .join(full5.withColumn("rhit", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(froz5.withColumn("fhit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("rhit")).as("hits_retrained"),
        count(col("fhit")).as("hits_frozen"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"), col("hits_retrained"), col("hits_frozen"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (col("hits_retrained").cast("double") / lit(5.0)).as("recall_retrained"),
        (col("hits_frozen").cast("double") / lit(5.0)).as("recall_frozen"),
        (col("hits_retrained") - col("hits_frozen")).as("refresh_gain"))
      .orderBy(col("query_id"))
  }

  /** EXT-1 — SimHash-bucket dedup: documents clustering to the same
    * 16-bit SimHash form a near-dup group; keep the smallest doc_id.
    */
  val q41SimhashDedup: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"), graft.functions.SimHash16(col("text")).as("sh16"))
      .groupBy(col("sh16"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("keeper"))
      .filter(col("n_members") > 1)
      .orderBy(col("sh16"))
  }

  /** q51 parameters: four independent 16-bit SimHash families — the SAME
    * polynomial reduced mod four distinct primes < 65536, which makes the
    * families CRT-independent residues (distinct odd multipliers under a
    * power-of-2 modulus would share bit 0 exactly and pair up on bit 1) —
    * laid side by side form a 64-bit fingerprint; band = one 16-bit
    * family. By pigeonhole, any pair within Hamming
    * distance 3 of each other (< #bands) shares at least one whole band —
    * banding is COMPLETE for radius 3, best-effort OR-amplified beyond it
    * up to the verify threshold. q41's single 16-bit hash saturates at
    * 65k buckets (everything collides at corpus scale); 64 bits with
    * 16-bit band keys keeps per-band bucket occupancy at n/65536.
    */
  private[graft] val SimhashMods = Seq(65521L, 65519L, 65497L, 65479L)
  private[graft] val SimhashMaxDist = 6

  /** Band-bucket occupancy cap for the near-dup candidate self-joins
    * (q31/q40/q51): a (band, key) bucket holding f members contributes
    * f² candidate rows TO ONE TASK — data-dependent skew no partitioner
    * can split. Buckets above the cap are dropped before the self-join
    * (the q32 df-cap pattern): a saturated bucket is byte-near-identical
    * mass that exact dedup (q30) already catches, and the OR-amplified
    * remaining bands still see every pair whose other bands are clean.
    * Capped, per-task join work is ≤ cap² rows. Both engines apply the
    * same cap. Sized to bind only on pathology: the worst CLEAN bucket
    * at sf0.1 is 176 (one legitimate near-dup family; its pairs must
    * survive) while the 20%-identical adversarial corpus saturates a
    * bucket at 1000+ (both measured) — so 256 keeps every
    * organic family and sheds only degenerate mass. At corpora where
    * EXPECTED occupancy n/2^bandBits approaches the cap, widen the band
    * keys instead (the fingerprint has the bits to spare).
    */
  val BandOccCap = 256

  /** Drop (band, key) buckets with more than `cap` members: occupancy as
    * a map-side-combining aggregate, under-cap keys semi-joined back (the
    * q32 df-cap shape). Cheaper than a `count() over (band, key)` window,
    * which shuffles and sorts EVERY banded row before filtering; here the
    * only full-width pass is the semi-join probe, and the under-cap key
    * set is aggregate-sized (AQE broadcasts it when small).
    */
  private[graft] def bandOccCapped(bands: org.apache.spark.sql.DataFrame,
      cap: Int = BandOccCap): org.apache.spark.sql.DataFrame = {
    val keep = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= cap)
      .select(col("band"), col("key"))
    bands.join(keep, Seq("band", "key"), "left_semi")
  }

  /** THE single definition of the 64-bit fingerprint layout: one row
    * per doc `(doc_id, <prefix>0..<prefix>3)` of 16-bit [[SimhashMods]]
    * family hashes. q51/q56/q57/q79, the frozen incremental index
    * ([[graft.ops.IncrementalDedup]]), the streaming twins, and the
    * occupancy diagnostic all hash through here — a change to the seed,
    * band count, or moduli reaches every consumer at once instead of
    * silently desynchronizing the frozen index from the full recompute.
    */
  private[graft] def simhashSig(docs: org.apache.spark.sql.DataFrame,
      prefix: String = "b",
      carry: Seq[String] = Seq("doc_id")): org.apache.spark.sql.DataFrame =
    docs.select(carry.map(col) ++ SimhashMods.zipWithIndex.map { case (m, b) =>
      graft.functions.SimHash16(col("text"), 31L, m).as(s"$prefix$b") }: _*)

  /** Explode a [[simhashSig]] row into its four (band, key) rows,
    * keeping the `carry` columns alongside (pass the signature columns
    * themselves to build a self-contained index row).
    */
  private[graft] def simhashBands(sig: org.apache.spark.sql.DataFrame,
      prefix: String = "b",
      carry: Seq[String] = Seq("doc_id")): org.apache.spark.sql.DataFrame =
    sig.select((carry.map(col) :+ explode(array(SimhashMods.indices.map(b =>
        struct(lit(b).as("band"), col(s"$prefix$b").as("key"))): _*)).as("bk")): _*)
      .select((carry.map(col) :+ col("bk.band").as("band") :+
        col("bk.key").as("key")): _*)

  /** XOR-popcount Hamming distance between two [[simhashSig]] column
    * sets, as an int Column.
    */
  private[graft] def simhashDist(aPrefix: String, bPrefix: String): org.apache.spark.sql.Column =
    SimhashMods.indices.map(b =>
      bit_count(col(s"$aPrefix$b").bitwiseXOR(col(s"$bPrefix$b")))).reduce(_ + _).cast("int")

  /** q51/q56/q57's shared pair generation: verified 64-bit SimHash
    * near-dup pairs `(da < db, dist ≤ SimhashMaxDist)`, unordered.
    */
  private[graft] def simhash64Pairs(s: org.apache.spark.sql.SparkSession, d: String) =
    simhash64PairsOf(documents(s, d))

  /** [[simhash64Pairs]] over an arbitrary `(doc_id, text)` frame — the
    * q157 update wave re-derives pairs from the RE-CRAWLED corpus, so
    * the pair generation must be corpus-parameterized, not dir-bound.
    */
  private[graft] def simhash64PairsOf(docs: org.apache.spark.sql.DataFrame) = {
    val sig = tracked(simhashSig(docs))
    val bands = tracked(bandOccCapped(simhashBands(sig)))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val xa = sig.select(col("doc_id").as("da") +:
      SimhashMods.indices.map(b => col(s"b$b").as(s"xa$b")): _*)
    val xb = sig.select(col("doc_id").as("db") +:
      SimhashMods.indices.map(b => col(s"b$b").as(s"xb$b")): _*)
    cands.join(xa, Seq("da")).join(xb, Seq("db"))
      .withColumn("dist", simhashDist("xa", "xb"))
      .filter(col("dist") <= SimhashMaxDist)
      .select(col("da"), col("db"), col("dist"))
  }

  /** EXT-1 — 64-bit SimHash near-dup: banded candidate generation over
    * the four 16-bit components, exact Hamming-distance verification
    * (≤ [[SimhashMaxDist]]) on candidates only.
    */
  val q51Simhash64: Q = (s, d) =>
    simhash64Pairs(s, d).orderBy(col("da"), col("db"))

  /** Session-memoized near-dup CC labels `(id, lbl)` — the ONE
    * deterministic labeling (min-label propagation over the verified
    * [[q51Simhash64]] pair graph, [[graft.ops.Dedup.fromPairs]]) that
    * q56/q79/q108/q114 and the q57 corpus funnel all consume. Before
    * the memo each of those queries re-derived it in full (~20 s of a
    * suite run at sf0.1 for one deterministic computation — the round-7
    * verdict's bench observation); production would materialize the
    * label table once, which is exactly what this memo does per
    * (session, sfDir). Results are bit-identical by construction: the
    * labeling is integer-min-exact, so the checkpoint stores the same
    * rows every derivation produces, and each consumer's oracle still
    * replays the components independently (recursive-CTE transitive
    * closure).
    *
    * Build-time persists are local (the pair table and per-round
    * frames are read by multiple joins) and dropped before return:
    * [[graft.ops.Dedup.fromPairs]] iterates EAGERLY (per-round
    * localCheckpoints), so the returned frame reads only the final
    * checkpoint — `checkpoint = false` stores it without a redundant
    * second copy of the data.
    */
  /** The verified near-dup pair table `(da, db, dist)`,
    * session-memoized — the [[dupLabels]] build (reads it twice), the
    * q137 coherence audit, and the q139 calibration curve all consume
    * it.
    */
  private[graft] def dupPairsDist(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "cc_pairs")(simhash64Pairs(s, d))

  /** [[dupPairsDist]] without the distance column. */
  private[graft] def dupPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    dupPairsDist(s, d).select(col("da"), col("db"))

  private[graft] def dupLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "cc_lbl", checkpoint = false) {
      val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
      val lbl = graft.ops.Dedup.fromPairs(dupPairs(s, d), track = hold)
      locals.foreach(_.unpersist(false))
      lbl
    }

  /** EXT-1 — duplicate-GROUP resolution: the step between "pairs
    * detected" and "corpus deduplicated". Connected components over the
    * [[q51Simhash64]] verified-pair graph (min-label propagation +
    * pointer jumping to a detected fixpoint, [[graft.ops.Dedup]]),
    * left-joined back onto the corpus: every document gets its
    * `cluster_id` (= min doc_id of its near-dup component, itself for
    * singletons), a `keeper` flag (the one row per cluster a dedup pass
    * retains), and the cluster size. The propagation runs only over
    * vertices that appear in some pair — at 100 TB the label table
    * tracks the duplicate population, not the corpus. The oracle
    * recomputes the components by a DIFFERENT route (recursive-CTE
    * transitive closure + min) — labels are integer mins, so the two
    * formulations agree bit-for-bit once both are converged.
    */
  val q56DupGroups: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    val clustered = documents(s, d).select(col("doc_id"))
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    // sizes over the label table only (duplicate population, not the
    // corpus) — singletons never match and coalesce to 1, so both the
    // aggregate and the broadcastable join side stay dup-sized at scale
    val sizes = lbl.groupBy(col("lbl").as("cluster_id")).agg(count(lit(1)).as("csz"))
    clustered.join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("keeper"),
        coalesce(col("csz"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** EXT — duplicate-group representative selection by QUALITY: q56
    * labels the groups (CC over verified SimHash pairs) and keeps the
    * min-id member; a real funnel keeps the BEST member. Per cluster
    * the representative is argmax(quality, tie → min doc_id) over the
    * members — the invariant-8 max-struct aggregate, computed over the
    * DUP POPULATION only (the label table, never the corpus — q56's
    * sizes idiom, so the aggregate and its join side stay dup-sized at
    * scale), then joined back so every document reports its cluster,
    * its own quality, the chosen representative and whether it
    * survives. Singletons represent themselves without entering the
    * aggregate. Quality is [[TextOps.qualityScore]] —
    * transcendental-free, so the doubles compare identically in both
    * engines (q34's oracle precedent); ties break on doc_id.
    */
  val q79BestRep: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    val qual = tracked(documents(s, d).select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality")))
    val reps = lbl.join(qual, lbl("id") === qual("doc_id"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("cluster_id"), (-col("m.negid")).as("rep_id"),
        col("m.q").as("rep_quality"))
    qual
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .join(reps, Seq("cluster_id"), "left")
      .withColumn("rid", coalesce(col("rep_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("rid").as("rep_id"),
        coalesce(col("rep_quality"), col("quality")).as("rep_quality"),
        (col("doc_id") === col("rid")).cast("int").as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** EXT-4 — per-language top-5 tokens by total occurrence count. The
    * rank filter sits directly on the window, so Spark plans a
    * WindowGroupLimit pair (per-partition top-k BEFORE the shuffle) —
    * the aggregate-then-limit shape that survives a 100 TB vocabulary.
    */
  val q52TopkTokens: Q = (s, d) => {
    val counts = documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
    counts.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("int").as("rank"), col("w"), col("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  /** EXT-2/EXT-4 — train/test contamination check (the decontamination
    * pass every LLM data pipeline needs): held-out docs (doc_id % 10 = 0)
    * score the fraction of their distinct trigrams that appear anywhere
    * in the training split. Shapes: native ShingleHash trigram hashes,
    * the train side collapses to a distinct-hash SET (hash shuffle, no
    * doc pairing anywhere), test postings left-join it — cost is linear
    * in corpus + vocabulary, never test×train.
    */
  val q53Contamination: Q = (s, d) => {
    val hs = tracked(documents(s, d)
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash(col("text"), TextOps.P, 3)).as("hs"))
      .filter(size(col("hs")) > 0)) // both splits derive from it
    val te = hs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), size(col("hs")).as("n_grams"), explode(col("hs")).as("w"))
    val trSet = hs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(explode(col("hs")).as("w")).distinct()
    te.join(trSet.withColumn("hit", lit(1)), Seq("w"), "left")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
      .withColumn("frac", col("n_contaminated").cast("double") / col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"), col("frac"))
      .orderBy(col("doc_id"))
  }

  /** EXT-3/EXT-7 — int8 embedding quantization (the vector-store
    * compression pass): symmetric absmax scaling (scale = max|x|/127),
    * q_i = floor(x_i/scale + 0.5) — half-up rounding via floor keeps both
    * engines bit-identical where banker's rounding wouldn't — plus the
    * exact L2 reconstruction error. Per-row scalar work only; scales
    * trivially.
    */
  val q54QuantizeInt8: Q = (s, d) => {
    val emb = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // bindOnce everything referenced from more than one place (HOFs have
    // no CSE and CollapseProject inlines aliases into lambda bodies —
    // invariant 5): scale, its zero-vector-safe divisor, and the
    // quantized array each evaluate exactly once per row
    val packed = TextOps.bindOnce(
      array_max(transform(col("v"), x => abs(x))) / lit(127.0)) { scale =>
      TextOps.bindOnce(when(scale === 0.0, lit(1.0)).otherwise(scale)) { sdiv =>
        TextOps.bindOnce(transform(col("v"), x => floor(x / sdiv + lit(0.5)))) { q =>
          struct(
            scale.as("scale"),
            element_at(q, 1).cast("int").as("q0"),
            element_at(q, 2).cast("int").as("q1"),
            element_at(q, 3).cast("int").as("q2"),
            element_at(q, 4).cast("int").as("q3"),
            sqrt(aggregate(
              zip_with(col("v"), q, (x, qi) => (x - qi * scale) * (x - qi * scale)),
              lit(0.0), (a, b) => a + b)).as("err"))
        }
      }
    }
    emb.select(col("vec_id"), packed.as("r"))
      .select(col("vec_id"), col("r.scale").as("scale"),
        col("r.q0").as("q0"), col("r.q1").as("q1"),
        col("r.q2").as("q2"), col("r.q3").as("q3"), col("r.err").as("err"))
      .orderBy(col("vec_id"))
  }

  /** EXT-4 — stratified source sampling (the corpus mix-weighting pass):
    * each source stratum gets a target keep-rate; membership is a
    * DETERMINISTIC per-doc hash test (`(doc_id·1103515245 + 12345) mod
    * 10⁴ < rate_bp`), so the sample is reproducible, engine-independent,
    * and needs no RNG state. The sample predicate is a pure row filter —
    * at 100 TB it rides the scan with zero shuffle; the only exchange is
    * the per-stratum audit aggregate emitted here.
    */
  /** q55/q57's shared deterministic sampling expressions. coalesce
    * before `least`: Spark's least SKIPS nulls while other engines
    * propagate them, so a non-numeric source id must never reach it
    * (invariant 1 — identical expression both sides).
    */
  private[graft] def sampleRateBp =
    least(lit(10000), lit(2000) + lit(700) *
      coalesce(pmod(substring(col("source"), 4, 10).cast("int"), lit(10)), lit(0)))
  /** The seeded multiplicative draw hash (q55/q70/q78/q82) over any id
    * column — LCG constants live HERE only; both engines' forms derive
    * from the same three numbers.
    */
  private[graft] def sampleHashOn(id: org.apache.spark.sql.Column) =
    pmod(id * lit(1103515245L) + lit(12345L), lit(10000L))
  private[queries] def sampleHashSqlOn(id: String) =
    s"($id * 1103515245 + 12345) % 10000"
  private[graft] def sampleHash = sampleHashOn(col("doc_id"))
  /** The same LCG reduced mod 2³¹−1 — the fine-grained draw for
    * priority sampling (q89), where the mod-10⁴ form would tie too
    * often to act as a uniform. Ids are non-negative, so plain `%`
    * mirrors pmod exactly on both engines.
    */
  private[graft] val PriorityMod = 2147483647L
  private[graft] def priorityHashOn(id: org.apache.spark.sql.Column) =
    pmod(id * lit(1103515245L) + lit(12345L), lit(PriorityMod))
  private[queries] def priorityHashSqlOn(id: String) =
    s"($id * 1103515245 + 12345) % $PriorityMod"
  // ((x % 10) + 10) % 10 = Spark's pmod for any sign — a negative
  // source number must not diverge (invariant 1)
  private[queries] val sampleRateBpSql =
    "least(10000, 2000 + 700 * COALESCE(((TRY_CAST(substring(source, 4, 10) AS INT) % 10) + 10) % 10, 0))"
  private[queries] val sampleHashSql = sampleHashSqlOn("doc_id")

  val q55StratifiedSample: Q = (s, d) => {
    val rateBp = sampleRateBp
    val h = sampleHash
    documents(s, d)
      .withColumn("kept", (h < rateBp).cast("int"))
      .withColumn("rate_bp", rateBp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        (max(col("rate_bp")).cast("double") / lit(10000.0)).as("target_rate"))
      .withColumn("eff_rate", col("n_kept").cast("double") / col("n_docs"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("target_rate"), col("eff_rate"))
      .orderBy(col("source"))
  }

  /** EXT — incremental batch dedup against a frozen snapshot
    * ([[graft.ops.IncrementalDedup]]): the corpus is split into an
    * existing snapshot (doc_id % 4 ≠ 0, the side a production run
    * freezes as a parquet signature index) and a new crawl batch
    * (doc_id % 4 = 0); each new doc reports how many verified near-dups
    * the snapshot already holds and its nearest snapshot neighbor
    * (min (dist, old_id) — the invariant-8 struct-min, mirrored as a
    * two-step min in the oracle). The snapshot side is occupancy-capped
    * at build time (q51's cap over the SNAPSHOT population); the probe
    * side needs no cap — fan-out per bucket is batch-members × ≤cap.
    * IncrementalDedupSpec proves the probe ≡ a full q51 recompute on
    * the union (restricted to cross-split pairs) and that the frozen
    * side is consumed from parquet, never rebuilt.
    */
  /** Shared build/probe report (the Spark twin of
    * [[buildProbeOracleSql]] — one definition each side): freeze a
    * SimHash index over `idxDocs`, probe `probeDocs`, and report per
    * probe doc the match count, flag, and nearest indexed doc
    * (min dist, tie min id — the two-step struct-min), zero-filled.
    */
  private def buildProbeReport(idxDocs: org.apache.spark.sql.DataFrame,
      probeDocs: org.apache.spark.sql.DataFrame,
      cntName: String, flagName: String, nnName: String): org.apache.spark.sql.DataFrame = {
    val index = graft.ops.IncrementalDedup.buildIndex(idxDocs, track = tracked)
    val matches = graft.ops.IncrementalDedup.probe(index, probeDocs)
    val agg = matches.groupBy(col("new_id"))
      .agg(count(lit(1)).as("nd"),
        min(struct(col("dist"), col("old_id"))).as("nn"))
      .select(col("new_id").as("doc_id"), col("nd"),
        col("nn.dist").as("nnd"), col("nn.old_id").as("nno"))
    probeDocs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).as(cntName),
        col("nd").isNotNull.cast("int").as(flagName),
        coalesce(col("nnd"), lit(-1)).as("nn_dist"),
        coalesce(col("nno"), lit(-1L)).as(nnName))
      .orderBy(col("doc_id"))
  }

  val q72IncrementalDedup: Q = (s, d) => {
    val all = documents(s, d)
    buildProbeReport(
      all.filter(pmod(col("doc_id"), lit(4)) =!= 0),
      all.filter(pmod(col("doc_id"), lit(4)) === 0),
      "n_dup", "is_dup", "nn_old")
  }

  /** EXT — FUZZY eval decontamination: [[q80NgramDecontam]] flags
    * verbatim long-gram leakage, but a lightly paraphrased or
    * reformatted eval item escapes any exact-gram test. This probes the
    * TRAIN split against a frozen SimHash signature index of the EVAL
    * split — [[graft.ops.IncrementalDedup]]'s build/probe machinery
    * verbatim, because a benchmark IS just another frozen snapshot —
    * and flags every BAND-COLLIDING train doc within Hamming
    * [[SimhashMaxDist]] of an eval doc, with the nearest leaked eval
    * item (min dist, tie min id — the q72 two-step struct-min). LSH
    * recall caveat, same as every banded operator here: the 4-band
    * pigeonhole makes candidates COMPLETE for radius ≤ 3 and
    * best-effort OR-amplified out to the verify radius 6 (a pair whose
    * 4–6 differing bits spread across all four bands is missed — the
    * [[SimhashMods]] doc). Together q80 (precision, verbatim) and q87
    * (recall, near-dup) are the two public decontamination regimes.
    *
    * Scale shape: identical to q72 — the eval index is benchmark-sized
    * and self-contained (band rows carry the signature), the train
    * side hashes once and equi-joins on (band, key); the occupancy cap
    * is measured on the INDEX side. Output is one row per train doc,
    * zero-filled.
    */
  val q87FuzzyDecontam: Q = (s, d) => {
    val all = documents(s, d)
    buildProbeReport(
      all.filter(pmod(col("doc_id"), lit(10)) === 0),
      all.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      "n_near", "is_flagged", "nn_eval")
  }

  /** EXT — exact content-hash dedup over DECODED multimodal bytes: q30's
    * hash-groupBy shape applied to media, but the hash runs over the
    * CANONICAL decoded content
    * ([[graft.ops.Multimodal.BinaryDecoder.contentBytes]] — BMP pixel
    * rows unpadded and top-down, WAV PCM `data` alone, opaque payloads
    * as-is), so the same image/audio content in different containers,
    * row orders, padding, or with extra metadata chunks dedups together
    * — what hashing the raw file bytes cannot do (MultimodalSpec proves
    * bottom-up ≡ top-down BMP and chunk-injected WAV). Decode is the
    * one imperative step (the multimodal contract); `sha2` and the
    * cluster aggregate stay in-plan. The fixture's synthetic payloads
    * are opaque — the corpus alphabet can never collide with the
    * BMP/WAV magic bytes — so they canonicalize to themselves and the
    * oracle mirrors with sha256 over the text bytes.
    */
  val q73MultimodalDedup: Q = (s, d) => {
    val media = graft.ops.Multimodal.syntheticMedia(s, documents(s, d))
    val h = tracked(graft.ops.Multimodal.contentRows(media)
      .select(col("media_id"), col("media_type"),
        length(col("content")).cast("long").as("n_content_bytes"),
        sha2(col("content"), 256).as("chash")))
    val clusters = h.groupBy(col("chash"))
      .agg(min(col("media_id")).as("cluster_id"), count(lit(1)).as("csz"))
    h.join(clusters, Seq("chash"))
      .select(col("media_id"), col("media_type"), col("n_content_bytes"),
        col("chash"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).cast("int").as("keeper"),
        col("csz"))
      .orderBy(col("media_id"))
  }

  /** Verify threshold for [[q74MediaNeardup]]'s signature pairs: radius
    * 3 is exactly what the 4-band pigeonhole makes COMPLETE (any pair
    * within 3 bits shares a whole band), and the corpus measures a
    * clean gap there — near-dup payloads land 0–3 bits apart under the
    * bigram-histogram signature, unrelated ones spread smoothly from ~4
    * up.
    */
  val MediaSigMaxDist = 3

  /** EXT — PERCEPTUAL media near-dup: where [[q73MultimodalDedup]]
    * catches exact decoded content, this catches content that is merely
    * CLOSE — the perceptual-hash pass every image-dedup pipeline runs.
    * Each payload decodes to canonical bytes, reduces to a 64-bit
    * bigram-histogram signature
    * ([[graft.ops.Multimodal.contentSig4]] — integer-only,
    * cross-multiplied mean test, emitted as four 16-bit band keys), and
    * then q51's ENTIRE banded machinery applies unchanged: band
    * equi-join (never all-pairs), occupancy cap against degenerate
    * buckets, XOR popcount verify ≤ [[MediaSigMaxDist]]. One new scalar
    * hash bought a whole near-dup operator — the payoff of keeping the
    * banding generic. Sub-bigram content (< 2 decoded bytes) is
    * excluded — its signature is all-zero, which would pair every empty
    * payload with every other at distance 0; the oracle's
    * generate_series bigram explosion drops those rows on its side for
    * the same reason.
    */
  /** Session memo of the perceptual media SIGNATURE table — the held
    * artifact of the media dedup family (round-19): q74, q164 (the
    * held `sig0` side) and q173 each re-derived the identical
    * decode+reduce+hash pass over the full corpus per session, when
    * production persists the signatures between waves exactly like the
    * dup-band state (`mediaDeleteCore`'s "HELD state" contract; the
    * r16 BM25-state / r19 BPE-memo accounting). Built once per
    * (session, sfDir), charged to the bench's `media_memo_build` line;
    * bit-identical by construction (the checkpoint stores the exact
    * rows the in-plan derivation produces).
    */
  private[graft] def mediaSig(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "media_sig") {
      graft.ops.Multimodal.perceptualRows(
        graft.ops.Multimodal.syntheticMedia(s, documents(s, d)))
        .filter(col("n_content") >= 2)
    }

  val q74MediaNeardup: Q = (s, d) => {
    val sig = mediaSig(s, d)
    val bands = tracked(bandOccCapped(sig.select(col("media_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"a$b").as("key"))): _*)).as("bk"))
      .select(col("media_id"), col("bk.band").as("band"), col("bk.key").as("key"))))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      .distinct()
    val xa = sig.select(col("media_id").as("ma") +:
      (0 until 4).map(b => col(s"a$b").as(s"xa$b")): _*)
    val xb = sig.select(col("media_id").as("mb") +:
      (0 until 4).map(b => col(s"a$b").as(s"xb$b")): _*)
    cands.join(xa, Seq("ma")).join(xb, Seq("mb"))
      .withColumn("dist", (0 until 4).map(b =>
        bit_count(col(s"xa$b").bitwiseXOR(col(s"xb$b")))).reduce(_ + _).cast("int"))
      .filter(col("dist") <= MediaSigMaxDist)
      .select(col("ma"), col("mb"), col("dist"))
      .orderBy(col("ma"), col("mb"))
  }

  /** EXT — the MEDIA dedup state under RE-CRAWL (multimodal was the one
    * dedup family without an update-lifecycle story). Measured on this
    * corpus before wiring (r6 rule): the content-HASH side (q73's
    * clusters) is near-vacuous under the seeded update slice — at sf0.01
    * NO slice member sits in a multi-member cluster (updates only re-hash
    * singletons; 2 keeper hand-offs exist corpus-wide at sf0.1 only) — so
    * the maintained artifact here is the PERCEPTUAL near-dup state
    * (q74's), which is richly live: 21/21/1170 verified pairs die and
    * 8/8/718 are born across sf0.001/0.01/0.1, including cap-flip births
    * between UNTOUCHED docs at sf0.1 (an updated doc leaving a saturated
    * band bucket releases it — the cap-flip seen at scale in rolling
    * re-crawl waves, here inside an oracle-able query).
    *
    * The maintained path holds the original SIGNATURE table (the state
    * a production media pipeline persists — decode + perceptual hash is
    * the expensive step at 100 TB) and re-derives ONLY the slice's
    * signatures from the re-crawled payloads; the updated universe's
    * band table is held-rows ∪ slice-rows with the occupancy cap
    * re-checked over the UNION (q157's rule: the cap is a probe-time
    * skew guard over current occupancy — pre-capped state would miss
    * the released-bucket pairs the recompute finds). The band join
    * itself re-runs — it is the cheap equi-join; the saving is the
    * decode+hash pass over the untouched corpus. Each output pair
    * carries `touches_update`.
    *
    * The ORACLE recomputes q74 from scratch over the updated corpus
    * ([[media74Ctes]] instantiated on the u164 relation): signatures
    * are per-row deterministic, so held-signature reuse ≡ recompute is
    * exact — the hash match proves it, cap flips included.
    */
  /** The q74 perceptual-signature tower as a parameterized CTE
    * generator (the dsirCtes discipline): `docsRel` is the document
    * relation, `sfx` renames every CTE for same-statement coexistence.
    * Defaults emit byte-identical SQL to the committed q74 oracle
    * (diffed against oracle_sql.json before q164 was added). Ends at
    * `ap<sfx>` WITHOUT a trailing comma; the final SELECT stays with
    * the consumer.
    */
  private[graft] def media74Ctes(docsRel: String = "documents",
      sfx: String = "74"): String = {
    val mm = if (sfx == "74") "mm" else s"mm$sfx"
    s"""$mm AS (SELECT doc_id AS media_id, text FROM $docsRel),
      |by$sfx AS (
      |  SELECT media_id,
      |    (CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT) * 31
      |      + CAST(ascii(substring(text, CAST(p AS INT) + 1, 1)) AS BIGINT)) % 64 AS bk,
      |    CAST(length(text) - 1 AS BIGINT) AS n
      |  FROM $mm, LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS p)),
      |bs$sfx AS (
      |  SELECT media_id, bk, CAST(count(*) AS BIGINT) AS c, max(n) AS n
      |  FROM by$sfx GROUP BY media_id, bk),
      |bit$sfx AS (
      |  SELECT media_id, bk,
      |    CASE WHEN c * 64 > n THEN 1 ELSE 0 END AS bit
      |  FROM bs$sfx),
      |ah$sfx AS (
      |  SELECT media_id,
      |    CAST(sum(CASE WHEN bk < 16 THEN bit * CAST(2 ** bk AS BIGINT) ELSE 0 END) AS BIGINT) AS a0,
      |    CAST(sum(CASE WHEN bk >= 16 AND bk < 32 THEN bit * CAST(2 ** (bk - 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS a1,
      |    CAST(sum(CASE WHEN bk >= 32 AND bk < 48 THEN bit * CAST(2 ** (bk - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS a2,
      |    CAST(sum(CASE WHEN bk >= 48 THEN bit * CAST(2 ** (bk - 48) AS BIGINT) ELSE 0 END) AS BIGINT) AS a3
      |  FROM bit$sfx GROUP BY media_id),
      |ab$sfx AS (
      |  SELECT media_id, b AS band,
      |    CASE b WHEN 0 THEN a0 WHEN 1 THEN a1 WHEN 2 THEN a2 ELSE a3 END AS key
      |  FROM ah$sfx, (SELECT unnest([0, 1, 2, 3]) AS b)),
      |ak$sfx AS (SELECT band, key FROM ab$sfx GROUP BY band, key HAVING count(*) <= $BandOccCap),
      |abn$sfx AS (SELECT ab$sfx.* FROM ab$sfx JOIN ak$sfx USING (band, key)),
      |ac$sfx AS (
      |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
      |  FROM abn$sfx a JOIN abn$sfx b ON a.band = b.band AND a.key = b.key AND a.media_id < b.media_id),
      |ap$sfx AS (
      |  SELECT c.ma, c.mb,
      |    CAST(bit_count(xor(x.a0, y.a0)) + bit_count(xor(x.a1, y.a1))
      |      + bit_count(xor(x.a2, y.a2)) + bit_count(xor(x.a3, y.a3)) AS INT) AS dist
      |  FROM ac$sfx c JOIN ah$sfx x ON c.ma = x.media_id JOIN ah$sfx y ON c.mb = y.media_id)"""
  }

  /** q164's oracle: q74 recomputed from scratch over the updated media
    * corpus (signatures re-derived for every doc — the Spark side reuses
    * held signatures for untouched docs, so the hash match proves the
    * reuse exact, cap flips included).
    */
  private def q164OracleSql: String =
    s"""WITH u164 AS (
      |  SELECT doc_id,
      |    CASE WHEN ${priorityHashSqlOn("doc_id")} < $DeleteBound
      |      THEN substr(text, 1, length(text) // 2) ELSE text END AS text
      |  FROM documents),
      |${media74Ctes("u164", "164")}
      |SELECT ma, mb, dist,
      |  CAST(CASE WHEN ${priorityHashSqlOn("ma")} < $DeleteBound
      |    OR ${priorityHashSqlOn("mb")} < $DeleteBound
      |    THEN 1 ELSE 0 END AS INT) AS touches_update
      |FROM ap164 WHERE dist <= $MediaSigMaxDist
      |ORDER BY ma, mb""".stripMargin

  val q164MediaUpdate: Q = (s, d) => {
    val updM = priorityHashOn(col("media_id")) < lit(DeleteBound)
    val half = expr("substring(text, 1, length(text) DIV 2)")
    val docs = documents(s, d)
    // HELD: the original signature table (session memo — media_memo_build)
    val sig0 = mediaSig(s, d)
    // the wave: slice payloads re-decode + re-hash (wave-bounded)
    val sigU = tracked(graft.ops.Multimodal.perceptualRows(
      graft.ops.Multimodal.syntheticMedia(s,
        docs.filter(priorityHashOn(col("doc_id")) < lit(DeleteBound))
          .withColumn("text", half)))
      .filter(col("n_content") >= 2))
    val sig = tracked(sig0.filter(!updM).unionByName(sigU))
    // q74's banded machinery verbatim over the maintained signatures
    val bands = tracked(bandOccCapped(sig.select(col("media_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"a$b").as("key"))): _*)).as("bk"))
      .select(col("media_id"), col("bk.band").as("band"), col("bk.key").as("key"))))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      .distinct()
    val xa = sig.select(col("media_id").as("ma") +:
      (0 until 4).map(b => col(s"a$b").as(s"xa$b")): _*)
    val xb = sig.select(col("media_id").as("mb") +:
      (0 until 4).map(b => col(s"a$b").as(s"xb$b")): _*)
    cands.join(xa, Seq("ma")).join(xb, Seq("mb"))
      .withColumn("dist", (0 until 4).map(b =>
        bit_count(col(s"xa$b").bitwiseXOR(col(s"xb$b")))).reduce(_ + _).cast("int"))
      .filter(col("dist") <= MediaSigMaxDist)
      .select(col("ma"), col("mb"), col("dist"),
        ((priorityHashOn(col("ma")) < lit(DeleteBound)) ||
          (priorityHashOn(col("mb")) < lit(DeleteBound))).cast("int")
          .as("touches_update"))
      .orderBy(col("ma"), col("mb"))
  }

  /** EXT — the MEDIA pair state under DELETE (the q164 lifecycle's
    * takedown cell) — and, unlike q164's full band re-join, a genuinely
    * DELTA-BOUNDED maintenance pass, because deletion obeys a closed pair
    * algebra: signatures never change, so a surviving pair's candidacy
    * can only be GAINED, never lost, and only through a band bucket
    * crossing the occupancy cap downward. The maintained pair set is
    * therefore EXACTLY held-pairs − dead-endpoint-pairs ∪
    * verify(released-bucket pairs): (1) pairs with a tombstoned endpoint
    * drop (two anti-joins on the held pair table); (2) bucket occupancy
    * re-counts from the DEAD docs' band rows alone (wave-bounded — held
    * occ minus the dead delta); (3) buckets that flipped from over-cap to
    * under-cap release their surviving members into the band self-join,
    * XOR verify against HELD signatures (zero re-decode, zero re-hash).
    * Nothing else can change: an under-cap bucket stays under cap when
    * rows leave, and no pair can enter a bucket it was not already in.
    * Each output pair carries `born` (absent from the held pair set — a
    * cap-release birth between UNTOUCHED docs). Measured before wiring:
    * 23/21/1179 held pairs die at sf0.001/0.01/0.1 and the born branch is
    * LIVE at sf0.1 (453 cap-release births; 0 at the smaller SFs where
    * the cap never binds — the branch the oracle still replays
    * everywhere).
    *
    * The ORACLE recomputes q74 from scratch over the surviving corpus
    * ([[media74Ctes]] on the survivor relation) and mirrors `born`
    * from a second full-universe instantiation — it knows nothing of
    * the delta law, so the hash match IS the law's proof at every SF.
    *
    * Scale shape: the only corpus-sized inputs are HELD state (pair
    * table, band table, signatures — persisted artifacts in
    * production); per-wave work is dead-row anti-joins + a
    * released-bucket-bounded self-join. A takedown wave costs
    * O(wave + released mass), never a corpus rescan — the cheapest
    * maintenance pass in the media family.
    */
  val q173MediaDelete: Q = (s, d) =>
    mediaDeleteCore(
      mediaSig(s, d),
      priorityHashOn(col("media_id")) < lit(DeleteBound),
      tracked)

  /** The q173 delta core over an arbitrary signature frame
    * `(media_id, a0..a3)` — factored with a cap parameter so
    * MediaDeleteSpec can force a cap-release birth at spec scale
    * (corpus-live only at sf0.1) and assert the delta law against a
    * from-scratch recompute through the same machinery.
    */
  private[graft] def mediaDeleteCore(sig0in: org.apache.spark.sql.DataFrame,
      deadP: org.apache.spark.sql.Column,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      cap: Int = BandOccCap): org.apache.spark.sql.DataFrame = {
    // HELD state: signatures, raw band rows, occupancy, served pairs
    val sig0 = hold(sig0in)
    val bands0 = hold(sig0.select(col("media_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"a$b").as("key"))): _*)).as("bk"))
      .select(col("media_id"), col("bk.band").as("band"), col("bk.key").as("key")))
    val occ0 = hold(bands0.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("occ0")))
    def verify(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val xa = sig0.select(col("media_id").as("ma") +:
        (0 until 4).map(b => col(s"a$b").as(s"xa$b")): _*)
      val xb = sig0.select(col("media_id").as("mb") +:
        (0 until 4).map(b => col(s"a$b").as(s"xb$b")): _*)
      cand.join(xa, Seq("ma")).join(xb, Seq("mb"))
        .withColumn("dist", (0 until 4).map(b =>
          bit_count(col(s"xa$b").bitwiseXOR(col(s"xb$b")))).reduce(_ + _).cast("int"))
        .filter(col("dist") <= MediaSigMaxDist)
        .select(col("ma"), col("mb"), col("dist"))
    }
    val cappedBands = bands0.join(
      occ0.filter(col("occ0") <= cap).select(col("band"), col("key")),
      Seq("band", "key"), "left_semi")
    val heldPairs = hold(verify(cappedBands.as("a").join(cappedBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      .distinct()))
    // the wave: tombstone table; occupancy delta from dead rows ALONE
    val dead = hold(sig0.filter(deadP).select(col("media_id")))
    val occD = bands0.join(dead, Seq("media_id"), "left_semi")
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("docc"))
    val released = occ0.join(occD, Seq("band", "key"))
      .filter(col("occ0") > cap &&
        col("occ0") - col("docc") <= cap)
      .select(col("band"), col("key"))
    val relMembers = bands0.join(released, Seq("band", "key"), "left_semi")
      .join(dead, Seq("media_id"), "left_anti")
    val bornVerified = verify(relMembers.as("a").join(relMembers.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      .distinct())
    val liveHeld = heldPairs
      .join(dead.select(col("media_id").as("ma")), Seq("ma"), "left_anti")
      .join(dead.select(col("media_id").as("mb")), Seq("mb"), "left_anti")
    liveHeld.select(col("ma"), col("mb"), col("dist"), lit(0).as("born"))
      .unionByName(bornVerified
        .join(heldPairs.select(col("ma"), col("mb")), Seq("ma", "mb"), "left_anti")
        .select(col("ma"), col("mb"), col("dist"), lit(1).as("born")))
      .orderBy(col("ma"), col("mb"))
  }

  /** q173's oracle: q74 recomputed from scratch over the SURVIVING
    * corpus, `born` mirrored from a second full-universe instantiation
    * in the same statement — the delta law (held − dead ∪ released
    * births ≡ recompute) is what the hash match proves.
    */
  private def q173OracleSql: String =
    s"""WITH u173 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE NOT (${priorityHashSqlOn("doc_id")} < $DeleteBound)),
      |${media74Ctes("u173", "173")},
      |${media74Ctes("documents", "h73")}
      |SELECT a.ma, a.mb, a.dist,
      |  CAST(CASE WHEN f.ma IS NULL THEN 1 ELSE 0 END AS INT) AS born
      |FROM ap173 a
      |LEFT JOIN (SELECT ma, mb FROM aph73 WHERE dist <= $MediaSigMaxDist) f
      |  ON a.ma = f.ma AND a.mb = f.mb
      |WHERE a.dist <= $MediaSigMaxDist
      |ORDER BY a.ma, a.mb""".stripMargin

  /** Within-cell duplicate threshold for [[q76SemanticDedup]]: the
    * corpus's related-pair tail sits at cos ≈ 0.4 (the q29/q40 verify
    * threshold — the synthetic embeddings top out near 0.5, no tighter
    * semantic clones exist), so 0.4 marks "semantically redundant"
    * non-vacuously here; a production corpus runs the same plan at a
    * high-0.9x threshold.
    */
  val SemDupThreshold = 0.4

  /** EXT — semantic dedup (the public SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with q42's trained cells
    * (integer-quantized Lloyd's — [[graft.ops.Ivf.trainCells]], so the
    * oracle replays training bit-exactly), then compare every vector
    * only against its CELLMATES and mark it a duplicate when some
    * smaller-id cellmate reaches cosine [[SemDupThreshold]] — the
    * smallest id in a redundant pair is the kept representative. Output
    * is one row per vector: its cell, its within-cell best smaller-id
    * neighbor (cos desc, id asc; -1 when none), and the dup verdict.
    *
    * Scale shape: pairwise work is confined to cells — the quadratic
    * all-pairs never materializes. The cell self-join is a plain
    * equi-join shuffle on the cell id; the per-vector best neighbor is
    * the invariant-8 max-struct aggregate (map-side partial), not a
    * window. At 100 TB, K grows with the corpus (SemDeDup runs 50k
    * cells on LAION) so per-cell membership stays bounded, and a
    * saturated cell takes the q51 occupancy cap unchanged. Near pairs
    * split across cell boundaries are missed — the documented SemDeDup
    * approximation (q40's banded SRP is the recall-oriented
    * complement).
    */
  val q76SemanticDedup: Q = (s, d) => {
    import graft.functions.DotFold
    import graft.ops.TowerMemo
    val asg = TowerMemo.assigned(s, d)
    val nn = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("cand"),
        (DotFold(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos").as("c"), (-col("cand")).as("negid"))).as("m"))
      .select(col("vec_id"), (-col("m.negid")).as("nn_id"), col("m.c").as("nn_cos"))
    asg.select(col("vec_id"), col("cell"))
      .join(nn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("nn_id"), lit(-1L)).as("nn_id"),
        coalesce(col("nn_cos"), lit(-1.0)).as("nn_cos"),
        (coalesce(col("nn_cos"), lit(-1.0)) >= SemDupThreshold).cast("int").as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Terms kept per document by [[q77TfidfTopk]]. */
  val TfidfTopK = 3

  /** EXT — TF-IDF top-k terms per document, cross-engine exact: idf is
    * quantized to ONE integer per term — idfq = (10⁶·N) DIV df, true
    * integer division in both engines (a log-idf would break invariant 4:
    * log isn't cross-engine bit-stable; the N/df ratio preserves the df
    * ordering exactly) — so score = tf·idfq stays in longs and ranking
    * ties break on the term string identically everywhere (binary
    * collation both engines, the q52 precedent). Shapes: tf is one
    * explode + hash agg over the corpus scan; df aggregates the tf table
    * (text is never re-tokenized); N rides a 1-row broadcast crossJoin;
    * per-doc top-k executes as WindowGroupLimit (partial per-partition
    * top-k before the shuffle — q52's shape), so no global sort of the
    * (doc, term) table ever happens. Every step is linear in token
    * count — the 100 TB plan is the same plan.
    */
  val q77TfidfTopk: Q = (s, d) => {
    val tf = tracked(documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * expr("(1000000L * n_docs) DIV df")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank").cast("int").as("rank"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Gram length for [[q80NgramDecontam]]: production decontamination
    * runs 13-gram (GPT-3) or 8-gram collision; 8 stays non-vacuous on
    * this short-doc corpus (measured in DuckDB BEFORE wiring: 6 train
    * docs collide with the eval split at sf0.01 — real near-verbatim
    * leakage, not chance).
    */
  val DecontArity = 8

  /** EXT — long-n-gram eval decontamination, the direction-reversed
    * complement of [[q53Contamination]]: q53 scores how much of a TEST
    * doc is already in training; this flags which TRAINING docs leak an
    * eval benchmark (doc_id % 10 = 0 plays the benchmark) through any
    * shared [[DecontArity]]-gram, and reports the worst-hit eval doc —
    * the audit row a pipeline owner acts on (drop the train doc, or
    * inspect the benchmark item). Long grams make this precision-
    * oriented: an 8-token verbatim overlap is near-certain leakage.
    *
    * Scale shape — the asymmetry IS the design: the eval side is
    * benchmark-sized (thousands of items, not a corpus), so its gram
    * postings BROADCAST; the corpus side is one scan + explode with no
    * shuffle before the join, and only the HIT rows (vanishingly few)
    * reach the two downstream aggregates. q53 must hash-shuffle its
    * train-side gram set because training is the big side; here the big
    * side never shuffles at all.
    *
    * Gram keys are ShingleHash's dual-residue 62-bit form: a flag here
    * deletes a training document, and a single ~30-bit residue falsely
    * matched a gram pair even at sf0.001 (the birthday rate n²/2P —
    * caught by this spec's string-level model, DecontamSpanSampleSpec).
    */
  val q80NgramDecontam: Q = (s, d) => {
    val hs = tracked(documents(s, d)
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash(
          col("text"), P, DecontArity, TextOps.P2)).as("hs"))
      .filter(size(col("hs")) > 0))
    val evalPost = hs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("w"))
    val hits = tracked(hs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"), size(col("hs")).as("n_grams"), explode(col("hs")).as("w"))
      .join(broadcast(evalPost), Seq("w")))
    // per (train, eval) shared-gram counts → worst eval doc by
    // max-struct (invariant 8); distinct-gram totals aggregate the same
    // persisted hit set (invariant 6)
    val perEval = hits.groupBy(col("doc_id"), col("n_grams"), col("eval_id"))
      .agg(count_distinct(col("w")).as("ns"))
    val top = perEval.groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_eval_docs"),
        max(struct(col("ns").as("ns"), (-col("eval_id")).as("negid"))).as("m"))
      .select(col("doc_id"), col("n_grams"), col("n_eval_docs"),
        (-col("m.negid")).as("top_eval"), col("m.ns").as("top_shared"))
    val tot = hits.groupBy(col("doc_id"))
      .agg(count_distinct(col("w")).as("n_hit"))
    top.join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"), col("n_eval_docs"),
        col("top_eval"), col("top_shared"),
        (col("n_hit").cast("double") / col("n_grams")).as("frac"))
      .orderBy(col("doc_id"))
  }

  /** Gram length for [[q81DupSpans]]: long enough that cross-doc
    * repetition is copying rather than idiom (5 tokens), short enough
    * to stay non-vacuous here (measured: 1096 shared 5-gram hashes
    * across 71 docs at sf0.01).
    */
  val SpanArity = 5

  /** EXT — duplicated-span coverage (the postings approximation of
    * suffix-array exact-substring dedup, Lee et al. 2021,
    * arXiv:2107.06499 — where near-dup operators like q51 judge whole
    * documents, this measures how much of EACH document is covered by
    * ≥[[SpanArity]]-token runs appearing verbatim in OTHER docs):
    * positional gram hashes, keep starts whose gram occurs in ≥ 2
    * distinct docs, merge overlapping [pos, pos+k−1] intervals per doc
    * (the q07 islands idiom — sorted starts, window cummax of interval
    * ends, each start contributes only the tokens past the previous
    * covered end), and report covered tokens + fraction per document,
    * zero-filled for clean docs.
    *
    * Scale shape: positional grams are the corpus token stream ×1 (no
    * k-fold blowup — the interval merge replaces exploding each gram
    * into k positions); the dup-gram set is found by one hash-shuffle
    * groupBy; the interval-merge window partitions by DOCUMENT and its
    * input is only the dup-start rows (sparse), never the corpus. All
    * integer math until the final fraction of identical longs. Gram
    * keys are the dual-residue 62-bit form (q80's rationale: a single
    * residue falsely covered two docs even at sf0.001).
    */
  val q81DupSpans: Q = (s, d) => {
    val pg = tracked(documents(s, d)
      .select(col("doc_id"), posexplode(graft.functions.ShingleHash(
        col("text"), P, SpanArity, TextOps.P2)).as(Seq("pos", "h"))))
    val dup = pg.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = pg.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .withColumn("prev_end", max(col("pos") + lit(SpanArity - 1)).over(w))
      // coalesce BEFORE greatest: Spark's greatest skips nulls, DuckDB's
      // propagates (invariant — round-3 find)
      .withColumn("add", greatest(lit(0L),
        col("pos") + lit(SpanArity - 1)
          - greatest(col("pos") - 1, coalesce(col("prev_end"), lit(-1L)))))
      .groupBy(col("doc_id")).agg(sum(col("add")).as("covered"))
    documents(s, d)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("frac", col("covered").cast("double") / col("n_tokens").cast("double"))
      .withColumn("dup_heavy",
        (col("covered") * 10 >= col("n_tokens") * 3).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Vectors drawn per epoch by [[q82BalancedSample]]. Sized to BIND at
    * the test SFs (most cells hold more members than their quota, so
    * the rank filter is exercised; a production run scales the budget
    * with the corpus — same plan).
    */
  val SampleBudget = 100L

  /** Seeded draw hash over vec_id — [[sampleHashOn]] (the q55/q70
    * multiplicative idiom; no RNG state, same seed ⇒ same draw on any
    * cluster or engine), parameterized rather than re-stating the LCG.
    */
  private def vecSampleHash = sampleHashOn(col("vec_id"))
  private def vecSampleHashSql = sampleHashSqlOn("vec_id")

  /** EXT — cluster-balanced sample (the diversity-preserving draw:
    * spread a sample budget across SEMANTIC clusters instead of raw
    * frequency, so rare regions of embedding space survive selection —
    * the cluster-coverage counterpart of q76's semantic dedup, same
    * public motivation): q42's trained cells partition the space, each
    * cell gets an α = 0.5 largest-remainder quota of [[SampleBudget]]
    * ([[PipelineQueries.largestRemainderQuota]] — √n upweights small
    * cells, Σ quota = budget bit-exactly), and each cell draws its
    * quota in seeded-hash order (ties by vec_id). A cell smaller than
    * its quota is exhausted and the total falls short by that much —
    * the same documented behavior as q78's short sources.
    *
    * Scale shape: training and assignment are q42's broadcast-K plans;
    * the quota side is a CELL-dimension aggregate (K rows, broadcast
    * back); the draw is one rank window PARTITIONED by cell. The
    * variable per-cell quota means no WindowGroupLimit pre-trim — at a
    * scale where that matters, the q78 scan-side hash-bound pre-filter
    * (admit h under a bound covering max quota with margin, then rank
    * the survivors) trims the window input in the same plan.
    */
  val q82BalancedSample: Q = (s, d) => {
    import graft.ops.TowerMemo
    val asg = TowerMemo.assigned(s, d).select(col("vec_id"), col("cell"))
    val sizes = asg.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val quotas = PipelineQueries.largestRemainderQuota(sizes, "cell", SampleBudget)
      .select(col("cell"), col("n"), col("quota"))
    val w = Window.partitionBy(col("cell")).orderBy(col("h").asc, col("vec_id").asc)
    asg.withColumn("h", vecSampleHash)
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("cell"))
      .filter(col("rk") <= col("quota"))
      .select(col("cell"), col("rk"), col("vec_id"), col("h"),
        col("n").as("cell_n"), col("quota"))
      .orderBy(col("cell"), col("rk"))
  }

  /** Winnowing parameters: [[WinnowK]]-token grams, windows of
    * [[WinnowW]] consecutive gram hashes → guaranteed detection of any
    * shared verbatim run of ≥ W + K − 1 = 6 tokens (the winnowing
    * theorem); fingerprint density ≈ 2/(W+1) of grams. Occupancy cap
    * and min-shared measured on the clean corpus FIRST: max occupancy 6
    * at sf0.01 (cap 16 binds only on pathology); min-shared 2 prunes
    * 3507 → 105 pairs with every true near-dup at overlap 1.0.
    */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowCap = 16
  val WinnowMinShared = 2L

  /** EXT — winnowing fingerprints + overlap detection (Schleimer–
    * Wilkerson–Aiken SIGMOD 2003 — the MOSS local fingerprinting
    * algorithm): per doc, slide a [[WinnowW]]-window over the 3-gram
    * hash sequence and keep each window's MINIMUM hash, ties broken
    * RIGHTMOST (robust winnowing — re-selects the same position across
    * overlapping windows, minimizing fingerprint count). Unlike minhash
    * banding (probabilistic recall, q31/q96) winnowing carries a
    * guarantee: every shared run of ≥ W+K−1 tokens yields a shared
    * fingerprint. Selection key packs (31-bit residue, reversed pos)
    * into one long — `min` gives (min hash, rightmost tie) in a single
    * windowed agg, identical both engines; a residue collision merely
    * picks the same position differently-labeled, so selection stays
    * cross-engine exact. MATCHING uses the dual-residue 62-bit key (the
    * q80/q81 rationale — a 31-bit gram equality false-matches at the
    * birthday rate). Pair stage = the banded idiom: equi-join on
    * fingerprint, occupancy-capped, never all-pairs; output is per-pair
    * shared-fingerprint counts with containment overlap.
    *
    * Scale shape: one explode, one doc-partitioned window (docs are
    * bounded, partition-parallel), one hash-shuffle self-join on the
    * fingerprint key with the cap killing hub keys. The fingerprint
    * table is ~2/(W+1) the gram table — this is also the persistable
    * index an incremental run would probe (the q72 split).
    */
  /** Positional dual-residue gram table `(doc_id, pos, h)` — 1-based
    * pos (mirrors DuckDB generate_subscripts; fits q101's 21-bit
    * pack), 62-bit keys, NO distinct (positions matter), tracked. ONE
    * builder for q101 and q122 so the gram-key parameters live in one
    * place (the factored-prefix rule).
    */
  /** The corpus's positional dual-residue TRIGRAM index, session-
    * memoized (round-19): FIVE queries (q101 winnowing via
    * [[WinnowK]] = 3, q122 exact-substr runs, q131 mask budget, q147
    * passage mining, q150 passage cut) consume the identical
    * (doc_id, pos, h) table — the positional gram index a substring-
    * dedup tier holds, the [[graft.queries.PipelineQueries.dsirBase]]
    * held-postings argument verbatim. Charged to the
    * `passage_memo_build` bench line; each consumer's timed run shows
    * only its own window/join/cut work.
    */
  private[graft] def posGrams3(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "pos_grams3")(
      documents(s, d)
        .select(col("doc_id"), posexplode(graft.functions.ShingleHash(
          col("text"), P, 3, TextOps.P2)).as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h")))

  private def posGrams(s: org.apache.spark.sql.SparkSession, d: String,
      arity: Int): org.apache.spark.sql.DataFrame =
    if (arity == 3) posGrams3(s, d)
    else tracked(documents(s, d)
      .select(col("doc_id"), posexplode(graft.functions.ShingleHash(
        col("text"), P, arity, TextOps.P2)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h")))

  /** The corpus's maximal duplicated-gram ISLANDS of ≥
    * [[MinPassageTokens]] tokens (doc_id, p0, rg), session-memoized —
    * the span table both passage consumers derive identically: q147
    * reports it, q150 cuts with it (Lee et al. pipelines materialize
    * exactly this table between the two steps). df ≥ 2 gates span
    * membership on the gram key; the islands window partitions per
    * doc. Built on [[posGrams3]] (one build forces both memos —
    * the `passage_memo_build` line).
    */
  private[graft] def dupSpans(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "dup_spans") {
      val gr = posGrams3(s, d)
      val dupPos = gr.join(
        gr.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 2).select(col("h")),
        Seq("h"), "left_semi")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      dupPos
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("p0"), count(lit(1)).as("rg"))
        .filter(col("rg") + 2 >= MinPassageTokens)
        .select(col("doc_id"), col("p0"), col("rg"))
    }

  val q101Winnowing: Q = (s, d) => {
    val gr = posGrams(s, d, WinnowK)
    val wSel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val wCnt = Window.partitionBy(col("doc_id"))
    val sel = gr
      .withColumn("ng", count(lit(1)).over(wCnt))
      .withColumn("wkey", min(pmod(col("h"), lit(2147483648L)) * 2097152L
        + (lit(2097151L) - col("pos"))).over(wSel))
      // valid window starts only; a doc with < W grams gets one clipped
      // window (both engines clip frames at the partition edge)
      .filter(col("pos") <= greatest(lit(1L), col("ng") - (WinnowW - 1)))
      .select(col("doc_id"), (lit(2097151L) - pmod(col("wkey"), lit(2097152L))).as("spos"))
      .distinct()
    val fp = tracked(sel.as("s")
      .join(gr.as("g"), col("s.doc_id") === col("g.doc_id") && col("spos") === col("g.pos"))
      .select(col("g.doc_id").as("doc_id"), col("g.h").as("h")).distinct())
    val occ = fp.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= WinnowCap).select(col("h"))
    val pairs = fp.select(col("doc_id").as("doc_a"), col("h"))
      .join(occ, Seq("h"), "left_semi")
      .join(fp.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_b") > col("doc_a"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairs
      .join(nfp.select(col("doc_id").as("doc_a"), col("n").as("n_fp_a")), Seq("doc_a"))
      .join(nfp.select(col("doc_id").as("doc_b"), col("n").as("n_fp_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_fp_a"), col("n_fp_b"),
        (col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")).cast("double"))
          .as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXT — exact set-similarity join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. WWW 2007, Xiao et al. — the EXACT
    * counterpart of q31's probabilistic LSH): all doc pairs with
    * 3-gram-set Jaccard ≥ 0.6, no recall loss. Grams order globally by
    * (df, gram) ascending — rarest first — and each doc indexes only
    * its first m − ⌈0.6·m⌉ + 1 grams (the prefix); the prefix-filter
    * lemma guarantees every qualifying pair shares a prefix gram, so
    * candidates come from an equi-join on PREFIX postings only (165
    * candidates vs 11,533 all-sharing pairs at sf0.01 — measured 70×
    * pruning, 0 missed). Verification is exact: intersection count via
    * the full postings, threshold as pure integers (J ≥ 3/5 ⟺
    * 8·i ≥ 3·(ma+mb)), jaccard emitted as ONE division of identical
    * longs. Gram identity = dual-residue 62-bit keys (gram equality IS
    * the verdict — the q80/q96 birthday rationale). The ORACLE runs the
    * brute-force all-sharing-pairs algorithm with no prefix, so the
    * gate independently proves the filter's completeness on this
    * corpus. Scale shape: df ranking is one hash agg + a doc-
    * partitioned window; candidate generation touches only prefix
    * postings (rare grams by construction — df-skew-proof); nothing is
    * ever all-pairs.
    */
  val q105SimJoin: Q = (s, d) => {
    val pg = tracked(documents(s, d)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.ShingleHash(col("text"), P, 3, TextOps.P2))).as("h")))
    val m = pg.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val dfh = pg.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    // persisted: both sides of the prefix self-join read it — without
    // this each side re-runs the df join + rank window (invariant 6)
    val pref = tracked(pg.join(dfh, Seq("h"))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .join(m, Seq("doc_id"))
      .filter(col("rk") <= col("m") - expr("(3 * m + 4) div 5") + 1)
      .select(col("doc_id"), col("h")))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    cand
      .join(pg.select(col("doc_id").as("da"), col("h")), Seq("da"))
      .join(pg.select(col("doc_id").as("db"), col("h")), Seq("db", "h"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
      .join(m.select(col("doc_id").as("da"), col("m").as("ma")), Seq("da"))
      .join(m.select(col("doc_id").as("db"), col("m").as("mb")), Seq("db"))
      .filter(col("inter") * 8 >= (col("ma") + col("mb")) * 3)
      .select(col("da"), col("db"), col("inter"), col("ma"), col("mb"),
        (col("inter").cast("double") / (col("ma") + col("mb") - col("inter")))
          .as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** Results kept per query by [[q106Bm25]]. */
  val Bm25TopK = 5

  /** Posting-list df cap for [[q106Bm25]] — the df-skew guard (q32's
    * precedent): a gram present in more than this many corpus docs is
    * dropped from scoring (its idf is negligible anyway — classic
    * stopword pruning). Measured max df at sf0.01 is 7, so the cap
    * never binds on clean data; it exists so a pathological common
    * gram at scale cannot turn the postings join quadratic.
    */
  val Bm25DfCap = 256L

  /** EXT — BM25 retrieval (Robertson–Spärck Jones, k1 = 1.2, b = 0.75)
    * of corpus documents for each eval-split query (doc_id % 10 = 0
    * plays the benchmark, the q80 convention), over 3-gram terms — the
    * corpus WORD vocabulary is ~31 (measured; any word-level retrieval
    * is a dense all-pairs join and vacuous), while the trigram domain
    * is ~15 k with max df 7, so postings joins stay sparse.
    *
    * Cross-engine-exact scoring with NO floats and NO log: every
    * factor is an integer DIV computed identically in both engines —
    * idfq = (10⁵·N) DIV df (the q77 integer idf: preserves the df
    * ordering exactly); the tf-saturation weight with k1 = 6/5,
    * b = 3/4 reduces algebraically to
    * wtf = (22·10¹⁰·tf) DIV (10⁷·tf + 3·10⁶ + (9·10¹²·dl) DIV A),
    * A = (10⁶·T) DIV N the micro-avgdl; term score = idfq·wtf summed
    * per (query, doc) in longs. Scale constants bound every product
    * under 2⁶³ to N ≈ 4·10⁸ docs; beyond that, shrink the idf scale.
    *
    * Scale shape (q80's asymmetry): the benchmark side is small and
    * BROADCASTS; the corpus side is one scan + explode + hash agg,
    * shuffling only (content, gram) weights — scoring runs per
    * DISTINCT content with member counts folded into df/N/T and is
    * immune to duplication (see [[bm25Scored]]). Per-query top-5
    * executes as WindowGroupLimit (partial top-k before the shuffle).
    * Gram identity is ShingleHash's dual-residue 62-bit key; Bm25Spec
    * re-proves ranking on gram STRINGS (the q96 birthday lesson).
    */
  /** Candidate depth [[bm25Scored]] returns per query — must stay ≥
    * every consumer's cut (q106's [[Bm25TopK]] = 5, q125's
    * [[RrfDepth]] = 20). lazy: [[RrfDepth]] is declared later in this
    * object, and a non-lazy forward reference initializes to 0 with
    * only a warning (the round-7 lesson — scalac warnings are
    * load-bearing).
    */
  private[graft] lazy val Bm25MemberDepth = RrfDepth

  /** The BM25 top-[[Bm25MemberDepth]] table (qid, doc_id, score,
    * n_shared) — q106 takes its top-[[Bm25TopK]]; [[q125RrfFusion]]
    * re-ranks its top-[[RrfDepth]] against the semantic list.
    *
    * Scored per DISTINCT CONTENT, not per document (round-9, the
    * postings-mass bound): replicas of one text have identical gram
    * multisets, hence identical dl, identical contribution to df/N/T,
    * and identical scores — so the corpus groups by `sha2(text, 256)`
    * (the q30 content key), gram stats and the postings join run once
    * per distinct content with each content carrying its member COUNT
    * into df/N/T (integer-exact: df = Σ c_corp over contents sharing
    * the gram, N = Σ c_corp, T = Σ c_corp·dl), and the per-document
    * top-k is recovered by exploding only each candidate content's
    * [[Bm25MemberDepth]] smallest corpus member ids (ties within a
    * content break on doc_id, so no deeper member can ever enter a
    * global top-20). Query replicas likewise score once per distinct
    * query content and fan out to their qids as the last, output-sized
    * join. The DuckDB oracle still runs the PER-DOCUMENT brute
    * formulation — a different algorithm, so the gate itself proves
    * the group refactor exact (the q56/q105 discipline).
    *
    * Why: the ×10 replica stress grew 2.8 → 16 s because per-doc
    * postings pair mass is k²·base under k× exact duplication (k×
    * queries each matching k× replicas). Grouped, the pair join is
    * base-sized at ANY replication factor; only the input scan, the
    * content hash agg, and the output expansion grow with k — the
    * deduplicated-retrieval shape a 100 TB dup-heavy crawl needs.
    */
  /** The HELD BM25 serving state, memoized per (session, sfDir) like
    * the ANN towers (round-16): five queries (q106/q125/q165/q169/
    * q174) each rebuilt these three deterministic frames per run —
    * the scaladocs describe them as exactly what a serving tier
    * PERSISTS, so the session memo is the analytic-session analogue
    * (the tower_memo/cc_memo accounting discipline: the state build is
    * charged once as the bench's bm25_memo_build line; each query's
    * timed run shows its retrieval/fold cost). Results bit-identical —
    * the checkpoint stores the exact rows the inline build produced.
    */
  /** Membership mapping (doc_id, ch, isq) — no text payload. */
  private[graft] def bm25Docs(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "bm25_docs")(documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("ch"),
        (pmod(col("doc_id"), lit(10)) === 0).cast("long").as("isq")))

  /** Per-content member counts + representative (ch, rep, c_corp, c_qry). */
  private[graft] def bm25Grp(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "bm25_grp")(
      bm25Docs(s, d).groupBy(col("ch")).agg(
        min(col("doc_id")).as("rep"),
        sum(lit(1L) - col("isq")).as("c_corp"),
        sum(col("isq")).as("c_qry")))

  /** Per-content gram multisets — hashed once per distinct content
    * (the rep's text IS the content; any member's text is
    * byte-identical).
    */
  private[graft] def bm25Tfg(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "bm25_tfg")(
      documents(s, d).select(col("doc_id"), col("text"))
        .join(bm25Grp(s, d).select(col("rep").as("doc_id"), col("ch")), Seq("doc_id"))
        .select(col("ch"), explode(
          graft.functions.ShingleHash(col("text"), P, 3, TextOps.P2)).as("h"))
        .groupBy(col("ch"), col("h")).agg(count(lit(1)).as("tf")))

  private[graft] def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    bm25FromState(bm25Docs(s, d),
      bm25Grp(s, d).select(col("ch"), col("c_corp"), col("c_qry")),
      bm25Tfg(s, d))

  /** The content-grouped BM25 scorer over ARBITRARY held state — the
    * round-14 split that makes the retrieval state maintainable:
    * `docs(doc_id, ch, isq)` is the membership mapping, `grpc(ch,
    * c_corp, c_qry)` the per-content member counts, `tfg(ch, h, tf)`
    * the per-content gram multisets. [[bm25Scored]] derives all three
    * from the corpus (q106/q125's path); q165 FOLDS them under a
    * re-crawl wave and scores through this same body, so the
    * maintained path cannot drift from the oracled ones. A content
    * whose folded counts drop to zero may keep its `tfg` rows — the
    * `grpc` joins exclude it everywhere.
    */
  private[graft] def bm25FromState(docs: org.apache.spark.sql.DataFrame,
      grpc: org.apache.spark.sql.DataFrame,
      tfg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dlg = tracked(tfg.groupBy(col("ch")).agg(sum(col("tf")).as("dl")))
    val corpTf = tracked(tfg
      .join(grpc.filter(col("c_corp") > 0).select(col("ch"), col("c_corp")), Seq("ch")))
    val dft = corpTf.groupBy(col("h")).agg(sum(col("c_corp")).as("df"))
      .filter(col("df") <= Bm25DfCap)
    val st = corpTf.select(col("ch"), col("c_corp")).distinct()
      .join(dlg, Seq("ch"))
      .agg(sum(col("c_corp")).as("n"), sum(col("c_corp") * col("dl")).as("t"))
    val qryTf = tfg
      .join(grpc.filter(col("c_qry") > 0).select(col("ch")), Seq("ch"))
      .select(col("ch").as("qch"), col("h"))
    val pair = broadcast(qryTf)
      .join(corpTf.select(col("ch"), col("h"), col("tf")), Seq("h"))
      .join(dft, Seq("h"))
      .join(dlg, Seq("ch"))
      .crossJoin(broadcast(st))
      .select(col("qch"), col("ch"),
        (expr("(100000L * n) DIV df") *
          expr("""(220000000000L * tf) DIV
                 (10000000L * tf + 3000000L +
                  (9000000000000L * dl) DIV ((1000000L * t) DIV n))""")).as("ts"))
      .groupBy(col("qch"), col("ch"))
      .agg(sum(col("ts")).as("score"), count(lit(1)).as("n_shared"))
    // each content's Bm25MemberDepth smallest corpus members — the only
    // docs a global top-Bm25MemberDepth can contain
    val wm = Window.partitionBy(col("ch")).orderBy(col("doc_id"))
    val m20 = docs.filter(col("isq") === 0)
      .select(col("ch"), col("doc_id"))
      .withColumn("rm", row_number().over(wm))
      .filter(col("rm") <= Bm25MemberDepth)
      .select(col("ch"), col("doc_id"))
    val wq = Window.partitionBy(col("qch")).orderBy(col("score").desc, col("doc_id"))
    val topPerQch = pair.join(m20, Seq("ch"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= Bm25MemberDepth)
      .select(col("qch"), col("doc_id"), col("score"), col("n_shared"))
    // fan out once per query member — output-sized, the k× expansion
    topPerQch.join(docs.filter(col("isq") === 1)
        .select(col("ch").as("qch"), col("doc_id").as("qid")), Seq("qch"))
      .select(col("qid"), col("doc_id"), col("score"), col("n_shared"))
  }

  val q106Bm25: Q = (s, d) => {
    val scored = bm25Scored(s, d)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("score"), col("n_shared"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The per-document brute BM25 oracle chain through `sc6` — factored
    * so q106, q125, and q165 share one generator (the dsirCtes
    * discipline): `docsRel` is the document relation, `nShared` emits
    * sc6's n_shared column (q106/q165 carry it, q125 does not).
    * Defaults reproduce the committed q106/q125 oracles byte-for-byte
    * (diffed before q165 landed). Ends at `sc6` WITHOUT a trailing
    * comma.
    */
  private def bm25ScoreCtes(docsRel: String, nShared: Boolean): String = {
    val nsh = if (nShared) ",\n        |    CAST(count(*) AS BIGINT) AS n_shared" else ""
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM $docsRel),
      |${gramHashCtes("b6", 3, distinct = false)}px6 AS (
      |  SELECT doc_id, unnest(hs) AS h FROM hsb6),
      |tf6 AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS tf
      |  FROM px6 GROUP BY doc_id, h),
      |corp6 AS (SELECT * FROM tf6 WHERE doc_id % 10 <> 0),
      |qry6 AS (SELECT doc_id AS qid, h FROM tf6 WHERE doc_id % 10 = 0),
      |dl6 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM corp6 GROUP BY 1),
      |dft6 AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM corp6
      |  GROUP BY 1 HAVING count(*) <= $Bm25DfCap),
      |st6 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl6),
      |sc6 AS (
      |  SELECT q.qid, c.doc_id,
      |    CAST(sum(((100000 * st6.n) // dft6.df) *
      |      ((220000000000 * c.tf) //
      |       (10000000 * c.tf + 3000000 +
      |        (9000000000000 * dl6.dl) // ((1000000 * st6.t) // st6.n)))) AS BIGINT) AS score$nsh
      |  FROM qry6 q JOIN corp6 c USING (h) JOIN dft6 USING (h)
      |    JOIN dl6 ON c.doc_id = dl6.doc_id, st6
      |  GROUP BY q.qid, c.doc_id)"""
  }

  /** q165's oracle: the ENTIRE q106 brute formulation recomputed over
    * the updated corpus — it knows neither the content grouping NOR the
    * fold, so the hash match proves both at once.
    */
  private def q165OracleSql: String =
    s"""WITH u165 AS (
      |  SELECT doc_id,
      |    CASE WHEN ${priorityHashSqlOn("doc_id")} < $DeleteBound
      |      THEN substr(text, 1, length(text) // 2) ELSE text END AS text
      |  FROM documents),
      |${bm25ScoreCtes("u165", nShared = true)},
      |r6 AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc6)
      |SELECT qid, CAST(rank AS INT) AS rank, doc_id, score, n_shared,
      |  CAST(CASE WHEN ${priorityHashSqlOn("qid")} < $DeleteBound THEN 1 ELSE 0 END AS INT) AS q_upd
      |FROM r6 WHERE rank <= $Bm25TopK
      |ORDER BY qid, rank""".stripMargin

  /** EXT — BM25 retrieval state maintained under the RE-CRAWL wave
    * (the last retrieval artifact without an update story; the q163
    * fold pattern applied to q106's content-grouped state): the seeded
    * ~12.8% hash slice re-crawls to truncated content; the held state —
    * the membership mapping `docs(doc_id, ch, isq)`, per-content member
    * counts, and per-content gram MULTISETS — folds instead of
    * retraining: counts fold as held − slice-old + slice-new
    * (union-sum, empty contents drop), the mapping re-derives slice-only
    * (per-row sha, scan-linear), and the only HASHING the wave pays is
    * the genuinely NEW contents' gram multisets (anti-joined against the
    * held content set — a re-crawl that lands on an existing content
    * reuses its multiset). Scoring then runs the shared
    * [[bm25FromState]] body — inherent full rescore, since N/T/avgdl
    * enter every term weight. Measured before wiring: every SF's top-5
    * lists move (all 50/50/500 queries change at least a score;
    * rankings shift through both updated queries and updated corpus
    * docs).
    *
    * The ORACLE recomputes q106's PER-DOCUMENT brute formulation over
    * the updated corpus — it knows neither the content grouping nor the
    * fold, so one hash match proves the group refactor AND the fold law
    * together (the q56/q105 different-algorithm discipline).
    *
    * Scale shape: q106's (content-grouped postings, broadcast query
    * side, WindowGroupLimit top-k) plus O(wave) delta terms; the
    * re-crawl pays slice-sized hashing only.
    */
  val q165Bm25Update: Q = (s, d) => {
    val updP = priorityHashOn(col("doc_id")) < lit(DeleteBound)
    val half = expr("substring(text, 1, length(text) DIV 2)")
    val isqE = (pmod(col("doc_id"), lit(10)) === 0).cast("long")
    // HELD state — exactly what q106's serving tier persists (the
    // session memos; the fold below is this query's per-wave cost)
    val docs0 = bm25Docs(s, d)
    val grp0 = bm25Grp(s, d)
    val tfg0 = bm25Tfg(s, d)
    // the wave: slice re-crawls to truncated content
    val sliceNew = tracked(documents(s, d).filter(updP)
      .select(col("doc_id"), sha2(half, 256).as("ch"), isqE.as("isq"),
        half.as("text")))
    // folded membership mapping (per-row, scan-linear)
    val docsU = tracked(docs0.filter(!updP)
      .unionByName(sliceNew.select(col("doc_id"), col("ch"), col("isq"))))
    // folded member counts: held − slice-old + slice-new
    val grpc = grp0.select(col("ch"), col("c_corp"), col("c_qry"))
      .unionByName(docs0.filter(updP)
        .select(col("ch"), (col("isq") - lit(1L)).as("c_corp"),
          (-col("isq")).as("c_qry")))
      .unionByName(sliceNew
        .select(col("ch"), (lit(1L) - col("isq")).as("c_corp"),
          col("isq").as("c_qry")))
      .groupBy(col("ch"))
      .agg(sum(col("c_corp")).as("c_corp"), sum(col("c_qry")).as("c_qry"))
      .filter(col("c_corp") + col("c_qry") > 0)
    // folded gram state: held multisets ∪ genuinely NEW contents' — the
    // wave's only hashing
    val tfgNew = sliceNew.select(col("ch"), col("text")).distinct()
      .join(tfg0.select(col("ch")).distinct(), Seq("ch"), "left_anti")
      .select(col("ch"), explode(
        graft.functions.ShingleHash(col("text"), P, 3, TextOps.P2)).as("h"))
      .groupBy(col("ch"), col("h")).agg(count(lit(1)).as("tf"))
    val tfgU = tracked(tfg0.unionByName(tfgNew))
    val scored = bm25FromState(docsU, grpc, tfgU)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("score"), col("n_shared"),
        (priorityHashOn(col("qid")) < lit(DeleteBound)).cast("int").as("q_upd"))
      .orderBy(col("qid"), col("rank"))
  }

  /** EXT — BM25 retrieval state under DELETE (the takedown cell: q165's
    * fold minus the add side). The seeded ~12.8% tombstone slice leaves
    * the corpus wholesale: membership rows drop (one anti-join),
    * per-content member counts fold DOWN (held − slice; contents at zero
    * drop out of every join), and the held gram MULTISETS are untouched —
    * a takedown pays ZERO hashing, because a dead content's `tfg` rows
    * are excluded by the `grpc` joins (the documented [[bm25FromState]]
    * contract, exercised corpus-live here for the first time). Scoring is
    * the shared [[bm25FromState]] body — inherent full rescore, since
    * df/N/T enter every term weight. Tombstoned eval queries die with
    * their membership rows (unlike q171's external-vector queries, a BM25
    * query IS a corpus row here — deleting it deletes the query).
    * Measured before wiring: 64/500 docs and 6/50 queries die at sf0.01
    * with 108 of 250 top-5 memberships changed (1,844 of 2,500 at sf0.1).
    *
    * The ORACLE recomputes q106's PER-DOCUMENT brute formulation over
    * the surviving corpus — one hash match proves the content grouping
    * AND the subtract fold at once (the q165 discipline).
    *
    * Scale shape: q106's shapes plus O(slice) fold terms; the wave
    * touches no text at all.
    */
  val q169Bm25Delete: Q = (s, d) => {
    val deadP = priorityHashOn(col("doc_id")) < lit(DeleteBound)
    // HELD state — exactly what q106's serving tier persists (the
    // session memos; the fold below is this query's per-wave cost)
    val docs0 = bm25Docs(s, d)
    val grp0 = bm25Grp(s, d)
    val tfg0 = bm25Tfg(s, d)
    // the takedown wave: membership drops, counts fold down, grams held
    val docsU = docs0.filter(!deadP)
    val grpc = grp0.select(col("ch"), col("c_corp"), col("c_qry"))
      .unionByName(docs0.filter(deadP)
        .select(col("ch"), (col("isq") - lit(1L)).as("c_corp"),
          (-col("isq")).as("c_qry")))
      .groupBy(col("ch"))
      .agg(sum(col("c_corp")).as("c_corp"), sum(col("c_qry")).as("c_qry"))
      .filter(col("c_corp") + col("c_qry") > 0)
    val scored = bm25FromState(docsU, grpc, tfg0)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("score"), col("n_shared"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q169's oracle: the q106 brute formulation over the surviving
    * corpus — it knows neither the grouping nor the subtract fold.
    */
  private def q169OracleSql: String =
    s"""WITH u169 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE NOT (${priorityHashSqlOn("doc_id")} < $DeleteBound)),
      |${bm25ScoreCtes("u169", nShared = true)},
      |r9 AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc6)
      |SELECT qid, CAST(rank AS INT) AS rank, doc_id, score, n_shared
      |FROM r9 WHERE rank <= $Bm25TopK
      |ORDER BY qid, rank""".stripMargin

  /** Per-list depth and output size for [[q125RrfFusion]]; K0 = 60 is
    * the standard RRF damping constant (Cormack/Clarke/Buettcher '09).
    */
  private[graft] val RrfDepth = 20
  private[graft] val RrfTopK = 10
  private[graft] val RrfK0 = 60L

  /** EXT — hybrid retrieval with reciprocal-rank fusion: the lexical
    * BM25 list ([[bm25Scored]], trigram terms) and the semantic
    * cosine list (the doc's own embedding row — vec_id ≡ doc_id —
    * against corpus embeddings, q29's DotFold discipline) are each cut
    * at [[RrfDepth]], then fused by
    * rrf = Σ_lists 10⁹ DIV (60 + rank) — the integer form of the
    * standard 1/(k₀+r) fusion, exact in both engines (doubles never
    * appear; cosine is used only through its RANK, so bit-stable
    * ordering is all the fusion needs). Missing-from-list contributes
    * 0 (rank reported as 0) — both one-list and two-list branches are
    * live at sf0.01 (measured: of the 500 fused top-10 rows, 47 sit in
    * both lists, 226 lexical-only, 227 semantic-only — real fusion,
    * not a concatenation). The eval split (doc_id % 10 = 0) plays the
    * query set, the q80/q106 convention.
    *
    * Scale shape: both lists are already WindowGroupLimit top-k per
    * query (shuffle carries ≤ depth·|queries| rows each); the fusion
    * join and final top-k are query-grained — nothing corpus-sized
    * crosses the fusion. At 100 TB the semantic candidates would come
    * from the q42 IVF probe instead of the exact scan — that serving
    * path and its recall audit are q42/q93's own oracled code.
    */
  val q125RrfFusion: Q = (s, d) => {
    import graft.functions.DotFold
    val wl = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(s, d)
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id"), col("lex_rank"))
    val emb = tracked(embeddings(s, d).select(col("vec_id"), col("embedding"),
      sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    val qv = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val ws = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
    val sem = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("qid"), col("vec_id").as("doc_id"),
        (DotFold(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))).as("cos"))
      .withColumn("sem_rank", row_number().over(ws))
      .filter(col("sem_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"))
      .withColumn("rrf",
        when(col("lex_rank") > 0, expr(s"1000000000L DIV (${RrfK0}L + lex_rank)")).otherwise(lit(0L)) +
        when(col("sem_rank") > 0, expr(s"1000000000L DIV (${RrfK0}L + sem_rank)")).otherwise(lit(0L)))
    val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= RrfTopK)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("rrf"), col("lex_rank"), col("sem_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q174's label geometry: positives = the teacher's top-[[RerankPosK]]
    * among a query's scored candidates; hard negatives = candidates the
    * teacher ranks beyond [[RerankNegMin]] (lexically retrieved, so
    * they are hard by construction — random negatives would be trivially
    * distant). Swept before wiring: with the 20-deep lexical cut this
    * yields 2,010 pairs over all 50 queries at sf0.01 and 1,374 over
    * 150/200 at sf0.1, margins strictly positive (0.03–0.66) at both.
    */
  private[graft] val RerankPosK = 3
  private[graft] val RerankNegMin = 6

  /** EXT — cross-encoder reranker TRAINING-PAIR mining (the data-prep op
    * behind every rerank distillation pipeline: retrieve with a cheap
    * ranker, label with a teacher, emit (query, positive, hard-negative)
    * contrastive pairs). The lexical list is [[bm25Scored]] cut at
    * [[RrfDepth]] (q125's candidates); the teacher is the embedding
    * cosine (the doc's own vector, vec_id ≡ doc_id — q125's semantic
    * side, DotFold bit-stable). Candidates (and queries) without an
    * embedding drop via inner joins — the teacher can only label what it
    * can see (at sf0.1 the vector table covers 2,000 of 5,000 docs;
    * 150/200 surviving queries still emit pairs, measured). Per query the
    * emitted pairs are the bounded positive × hard-negative product
    * (≤ 3×14), each carrying both teacher scores, the margin (one
    * subtraction of engine-identical doubles), and both lexical ranks —
    * exactly the rows a reranker trainer consumes.
    *
    * Scale shape: the genuinely new join is query-grained — two
    * retrieval outputs (each already WindowGroupLimit-trimmed to
    * ≤ depth·|queries| rows) joined per query into a bounded pair
    * product; nothing corpus-sized crosses it. The teacher pass is
    * candidate-sized vector fetches (an id-addressed join), never a
    * corpus scan.
    */
  val q174RerankPairs: Q = (s, d) => {
    import graft.functions.DotFold
    val wl = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(s, d)
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id"), col("lex_rank"))
    val emb = tracked(embeddings(s, d).select(col("vec_id"), col("embedding"),
      sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    val qv = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val teach = lex
      .join(broadcast(qv), Seq("qid"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm")),
        Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("lex_rank"),
        (DotFold(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))).as("cos"))
    val wt = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
    val tr = tracked(teach.withColumn("trk", row_number().over(wt)))
    val pos = tr.filter(col("trk") <= RerankPosK)
      .select(col("qid"), col("doc_id").as("pos_id"), col("cos").as("pos_cos"),
        col("lex_rank").as("pos_lex"))
    val neg = tr.filter(col("trk") > RerankNegMin)
      .select(col("qid"), col("doc_id").as("neg_id"), col("cos").as("neg_cos"),
        col("lex_rank").as("neg_lex"))
    pos.join(neg, Seq("qid"))
      .select(col("qid"), col("pos_id"), col("neg_id"),
        col("pos_cos"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"),
        col("pos_lex").cast("int").as("pos_lex"),
        col("neg_lex").cast("int").as("neg_lex"))
      .orderBy(col("qid"), col("pos_id"), col("neg_id"))
  }

  /** q174's oracle: the q106 brute BM25 chain cut at depth, the q125
    * cosine teacher over candidates, and the bounded pos × neg product.
    */
  private def q174OracleSql: String =
    s"""WITH ${bm25ScoreCtes("documents", nShared = false)},
      |lexr74 AS (SELECT qid, doc_id, CAST(rank AS INT) AS lex_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc6) WHERE rank <= $RrfDepth),
      |er74 AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |qv74 AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm FROM er74 WHERE vec_id % 10 = 0),
      |th74 AS (
      |  SELECT l.qid, l.doc_id, l.lex_rank,
      |    list_reduce(list_transform(generate_series(1, len(q.qv)),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
      |      / (q.qnrm * e.nrm) AS cos
      |  FROM lexr74 l JOIN qv74 q ON l.qid = q.qid JOIN er74 e ON l.doc_id = e.vec_id),
      |tr74 AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS trk FROM th74),
      |p74 AS (SELECT qid, doc_id, cos, lex_rank FROM tr74 WHERE trk <= $RerankPosK),
      |n74 AS (SELECT qid, doc_id, cos, lex_rank FROM tr74 WHERE trk > $RerankNegMin)
      |SELECT p.qid, p.doc_id AS pos_id, n.doc_id AS neg_id,
      |  p.cos AS pos_cos, n.cos AS neg_cos, p.cos - n.cos AS margin,
      |  CAST(p.lex_rank AS INT) AS pos_lex, CAST(n.lex_rank AS INT) AS neg_lex
      |FROM p74 p JOIN n74 n ON p.qid = n.qid
      |ORDER BY p.qid, pos_id, neg_id""".stripMargin

  /** 80/10/10 split thresholds for [[q108GroupSplit]], derived from the
    * [[priorityHashOn]] modulus so all three numbers live in one place
    * (the prime modulus matters: the mod-10⁴ sampleHash has a stride-5
    * lattice on sequential ids that skews split fractions to 66/23/11 —
    * measured before wiring; the prime draw lands 83/9/8).
    */
  private[graft] val SplitTrainMax = PriorityMod * 8 / 10
  private[graft] val SplitValMax = PriorityMod * 9 / 10

  /** EXT — leakage-free train/val/test split: the split unit is the
    * NEAR-DUP GROUP (q56's connected components over verified SimHash
    * pairs), not the document — a doc-level hash split puts one copy of
    * a duplicated page in train and its twin in val, and the val loss
    * is then memorization, not generalization (measured here: 16 of 32
    * dup groups straddle the naive doc-hash split at sf0.01; 36 docs
    * move). Every member inherits its group label's draw, so no
    * verified near-dup pair can cross splits BY CONSTRUCTION — the
    * guarantee is structural, not statistical. Output reports both
    * assignments per doc; `moved` marks exactly the leakage the group
    * split fixed (GroupSplitSpec proves the zero-straddle invariant and
    * that it binds).
    *
    * Scale shape: q56's label table (dup-population-sized, never
    * corpus-sized) left-joins the corpus scan; the split is a pure
    * per-row integer expression — no new shuffle beyond the CC
    * labelling itself.
    */
  val q108GroupSplit: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    def splitOf(h: org.apache.spark.sql.Column) =
      when(h < SplitTrainMax, "train").when(h < SplitValMax, "val").otherwise("test")
    documents(s, d).select(col("doc_id"))
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("split", splitOf(priorityHashOn(col("cluster_id"))))
      .withColumn("naive_split", splitOf(priorityHashOn(col("doc_id"))))
      .withColumn("moved", (col("split") =!= col("naive_split")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** EXT — filtered vector search (predicate + ANN, the
    * metadata-constrained retrieval every vector store now ships) with
    * its recall audit IN-PLAN: each query searches only vectors whose
    * label equals its own, through the q42 trained-IVF probe, and the
    * result is graded against the exact filtered brute force — the
    * filtered counterpart of q93. Filtering happens INSIDE the probed
    * cells (post-filtering), so selective predicates thin the
    * candidate set and filtered recall sits below unfiltered recall —
    * the exact failure mode a serving tier must monitor (labels are
    * uncorrelated with cells here, so the effect is real; the spec
    * proves recall binds both ways). Training, assignment, probing,
    * and every cosine replay bit-exactly in the oracle via the shared
    * CTE generator.
    *
    * Scale shape: identical to q42 (probes touch [[graft.ops.Ivf.Probes]]
    * cells per query) plus one label equi-join; the exact side is the
    * q29 broadcast scan and exists only because this IS the audit —
    * a serving path would run the approx side alone.
    */
  val q115FilteredAnn: Q = (s, d) => {
    import graft.ops.TowerMemo
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
    val assigned = TowerMemo.assigned(s, d).join(lbl, Seq("vec_id"))
    val qs = emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN).withColumnRenamed("vec_id", "query_id")
    val qlbl = lbl.select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val probes = TowerMemo.probes5(s, d).join(qlbl, Seq("query_id"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val approx = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos", DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
    val exact = emb.join(lbl, Seq("vec_id"))
      .crossJoin(broadcast(qs
        .select(col("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
        .join(qlbl, Seq("query_id"))))
      .filter(col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos", DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qlabel"), col("vec_id"))
    exact.join(approx.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"), col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("query_id"), col("label"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderBy(col("query_id"))
  }

  /** EXT — IVF cell-purity audit: per trained cell, the dominant label
    * and its share — the clustering-quality complement of q93's recall
    * audit (recall asks "does the probe find the true neighbors";
    * purity asks "do the cells carve label structure at all" — the
    * first diagnostic when filtered search (q115) underperforms, since
    * label-concentrated cells are what make post-filtering cheap).
    * Measured first: purity spans ~0.14–0.29 against the 0.1 ten-label
    * chance line — modest but real concentration, with spread. All
    * integer until the one share division; the argmax is an
    * invariant-8 max-struct (ties → smaller label).
    *
    * Scale shape: assignment is the q42 trained path; the audit itself
    * is two hash aggregates over (cell, label) — K·|labels| rows.
    */
  val q118CellPurity: Q = (s, d) => {
    import graft.ops.TowerMemo
    val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
    val perLab = TowerMemo.assigned(s, d).select(col("vec_id"), col("cell"))
      .join(lbl, Seq("vec_id"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
    perLab.groupBy(col("cell"))
      .agg(sum(col("c")).as("n"),
        max(struct(col("c").as("c"), (-col("label")).as("neglab"))).as("m"))
      .select(col("cell"), col("n"), (-col("m.neglab")).cast("int").as("top_label"),
        col("m.c").as("top_n"),
        (col("m.c").cast("double") / col("n")).as("purity"))
      .orderBy(col("cell"))
  }

  /** Out-degree and iteration count for [[q126KnnCentrality]]. */
  private[graft] val KnnGK = 5
  private[graft] val PrIters = 3
  private[graft] val PrScale = 1000000L

  /** EXT — graph centrality (integer PageRank) over the within-cell
    * k-NN graph: each vector's [[KnnGK]] nearest neighbors within its
    * √n-cell edge-quantizer cell ([[knnEdges]])
    * by cosine form a directed edge list, and [[PrIters]]
    * damped PageRank iterations score hubness — the coreset-selection /
    * redundancy signal (a high-centrality vector sits in a dense
    * semantic neighborhood; data-pruning pipelines drop from dense
    * regions first). In-degrees genuinely vary here (measured at
    * sf0.01: indeg 0..22 over 500 nodes, 463 distinct final ranks
    * spanning 150000..3880463 — a 26× hubness spread), so the ranking
    * is non-vacuous despite the isotropic embedding spectrum (which
    * only rules out PCA-style ops).
    *
    * Everything is integer: ranks start at [[PrScale]], each iteration
    * is r' = 0.15·scale + ⌊85·Σ ⌊r_u/outdeg_u⌋⌋/100⌋ in longs —
    * identical DIV truncation both engines (invariant 7: the oracle
    * unrolls the same three iterations CTE-for-CTE on the shared
    * trained-IVF prefix). Singleton-cell vectors have no out-edges and
    * their mass leaks (documented classic dangling-node behavior,
    * deterministic in both engines; at sf0.01 every cell has ≥2
    * members, so the branch is structural only). Cosine enters only
    * through the neighbor RANKING (the q125 rule).
    *
    * Scale shape: the graph build is a within-cell equi-join over the
    * √n-cell EDGE quantizer (see [[knnEdges]] — occupancy √n, pair
    * mass n^1.5, never the fixed-K n²/16) with a WindowGroupLimit
    * top-k per source; each iteration is one edge-grained join + hash
    * agg on 5n rows and a node-grained left join — shuffle keys are
    * vec ids, partial aggs map-side, and the per-round localCheckpoint
    * keeps lineage flat (round-3 rule).
    */
  /** Within-cell kNN edge list `(src, dst)` over the √n-cell EDGE
    * quantizer ([[graft.ops.TowerMemo.edgeCent]]) — shared by q126
    * (centrality) and q135 (graph search). Tracked; callers release as
    * usual.
    *
    * Why not the fixed-K tower: edge derivation joins every source to
    * its whole cell, so pair mass is Σ|cell|² — n²/16 under the fixed
    * quantizer (the round-8 ×10 stress measured exactly that blow-up:
    * flat to ×4, 16.7 s at ×10). With k = ⌈√n⌉ cells, occupancy tracks
    * √n and pair mass n^1.5 — sub-quadratic, and immune to the
    * exact-duplicate pileup too (replicas grow n; occupancy grows √n
    * with it). Training cost is n·√n distance rows per Lloyd pass —
    * the same n^1.5 envelope.
    */
  /** All scored within-cell ordered pairs `(src, dst, cos)` over the
    * edge quantizer — the shared candidate domain of [[knnEdges]] and
    * [[divEdges]]. Memoized per (session, sfDir) in
    * [[graft.ops.TowerMemo.cellPairs]] (three consumers — q126, q135,
    * q143 — each re-derived the n^1.5 scoring pass before round 10).
    */
  private def cellPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.cellPairs(s, d)

  private[graft] def knnEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val we = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    cellPairs(s, d)
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= KnnGK)
      .select(col("src"), col("dst"))
  }

  /** DIVERSIFIED within-cell edges — the NSW/HNSW "heuristic 2"
    * neighbor-selection prune (Malkov & Yashunin, TPAMI 2020 §4): per
    * source, walk candidates in cosine-desc order and KEEP one only if
    * it is closer to the source than to every already-kept neighbor
    * (cos(c, src) > cos(c, k) ∀ kept k) — redundant same-direction
    * edges are dropped, so equal degree buys more DIRECTIONS and the
    * beam escapes local clusters it would otherwise orbit. Greedy per
    * source, [[KnnGK]] unrolled steps (the q107 discipline; per-round
    * localCheckpoint). The conflict test needs cos(candidate, kept) —
    * both are same-cell vectors, so the pair is already a row of
    * [[cellPairs]]: each step is two equi-joins back into the scored
    * pair table, never a new vector pass. All comparisons are between
    * identically-computed doubles (invariant 4); ties (cos(c,k) =
    * cos(c,src)) prune, matching the strict-> keep rule both engines.
    *
    * The greedy walks each vertex's top-[[DivEfC]] candidates by
    * cosine, not its whole cell — the paper's own shape (heuristic 2
    * selects from an efConstruction-bounded candidate LIST), and the
    * scale bound: the per-step conflict joins touch n·[[DivEfC]] rows
    * instead of the full n^1.5 pair mass (the pair table is probed
    * only as the conflict-cosine lookup).
    */
  /** Diversification candidate pool per vertex (efConstruction's
    * role): 4× the kept degree.
    */
  private[graft] val DivEfC = 4 * KnnGK

  /** The full-corpus diversified edge list — session-memoized since
    * round 12: in production this IS the held NSW index (the same
    * argument as [[oldDivEdges]]'s accounting note), and two consumers
    * read it per session (q143's search, q152's delete-repair), so the
    * build is charged to the `graph_memo_build` bench line and each
    * query's timed run shows its own serving/maintenance cost.
    * `checkpoint = false`: the flattened greedy ends in its own eager
    * localCheckpoint, so the returned frame reads only checkpointed
    * state.
    */
  private[graft] def divEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "div_edges", checkpoint = false) {
      val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
      val kept = divEdgesOver(cellPairs(s, d), hold)
      locals.foreach(_.unpersist(false))
      kept
    }

  /** The OLD-generation diversified edge list — q151's frozen
    * adjacency, session-memoized with its substrate (see
    * [[graft.ops.TowerMemo.oldEdgeAssigned]]'s accounting note).
    * `checkpoint = false`: the flattened greedy ends in its own eager
    * localCheckpoint, so the returned frame reads only checkpointed
    * state.
    */
  private[graft] def oldDivEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "old_div_edges", checkpoint = false) {
      val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
      val kept = divEdgesOver(graft.ops.TowerMemo.oldCellPairs(s, d), hold)
      locals.foreach(_.unpersist(false))
      kept
    }

  /** The heuristic-2 greedy over an arbitrary scored pair table —
    * [[divEdges]] runs it on the full-corpus [[cellPairs]]; q151 runs
    * it on the OLD-only pair table of the frozen graph; q152 runs it on
    * the repair-candidate table of each deleted-from vertex, with
    * `conflictPairs` pointing at the FULL pair table (repair candidates
    * are a strict subset of a vertex's cell, but the conflict lookup
    * cos(candidate, kept) must see every within-cell pair). `hold`
    * persists multi-consumer intermediates (the candidate table feeds
    * the greedy and both sides of the pairwise-cosine self-join).
    */
  private[graft] def divEdgesOver(pairs: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      conflictPairs: org.apache.spark.sql.DataFrame = null) = {
    // round-18 flatten (guide §1.2 step 1 / §2.4): the former
    // KnnGK-step unrolled loop (per-step conflict joins + anti-joins +
    // best1 + eager checkpoint — ~20 jobs per build) IS the classical
    // sequential heuristic-2 scan: walk candidates in (cos desc, dst
    // asc) order, keep c iff |kept| < KnnGK and no kept k has
    // cos(c, k) >= cos(src, c). Proof the loop computes exactly that:
    // each step keeps the max-order candidate not conflicted by
    // kept-so-far, and conflict sets only GROW as kept grows, so
    // anything passed over at step t stays conflicted forever — the
    // per-key decision sequence is identical. The scan is local to one
    // key's ≤ DivEfC candidates, so it folds into ONE aggregation
    // (h2GreedyKept) with the pairwise conflict cosines pre-joined:
    // same pair-table doubles, same comparisons, same tie order ⇒
    // bit-identical kept sets (oracle-gated at both SFs + GraphDivSpec/
    // GraphLifecycleSpec). Conflict-cosine mass is n·DivEfC² ordered
    // candidate pairs — the same envelope the loop probed
    // incrementally — but in one equi-join stage instead of
    // 2·(KnnGK−1) joins + (KnnGK−1) checkpoint barriers.
    val cpairs = if (conflictPairs != null) conflictPairs else pairs
    val wsrc = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val cand = hold(pairs.withColumn("rk", row_number().over(wsrc))
      .filter(col("rk") <= DivEfC)
      .select(col("src"), col("dst").as("vec_id"), col("cos")))
    // both endpoints of a candidate pair share the source's cell, so
    // every conflict cosine is an existing cpairs row (the q152
    // full-pair-table lookup included)
    val pcos = cand.select(col("src"), col("vec_id"))
      .join(cand.select(col("src"), col("vec_id").as("kid")), Seq("src"))
      .filter(col("vec_id") =!= col("kid"))
      .join(cpairs.select(col("src").as("vec_id"), col("dst").as("kid"),
        col("cos").as("pcos")), Seq("vec_id", "kid"))
      .select(col("src"), col("vec_id"), col("kid"), col("pcos"))
    h2GreedyKept(cand, "src", pcos)
      .select(col("src"), col("vec_id").as("dst"))
      .localCheckpoint(true)
  }

  /** One-shot heuristic-2 greedy over per-key candidate lists with
    * pre-joined pairwise conflict cosines — the flattened core of
    * [[divEdgesOver]] and [[heuristic2FoldPrune]]. `cand`:
    * (key, vec_id, cos); `pcos`: (key, vec_id, kid, pcos) — the
    * conflict cosine of ordered candidate pair (vec_id, kid); a
    * missing pair row means no conflict (try_element_at's null mirrors
    * the loop's inner-join semantics — exists over null-only results
    * is null, and CASE WHEN null falls through to keep). Sort ties:
    * the comparator on raw doubles agrees with the window's
    * normalized sort because cos is non-null/non-NaN here (the best1
    * NaN caveat, unchanged) and ±0.0 compare equal either way.
    * Returns the kept (key, vec_id) pairs — at most [[KnnGK]] per key,
    * first-unconflicted-in-order, bit-identical to the former loop.
    */
  private def h2GreedyKept(cand: org.apache.spark.sql.DataFrame, key: String,
      pcos: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cmap = pcos.groupBy(col(key), col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("kid"), col("pcos")))).as("cm"))
    cand.join(cmap, Seq(key, "vec_id"), "left")
      .groupBy(col(key))
      .agg(collect_list(struct(col("cos"), col("vec_id"), col("cm"))).as("cs0"))
      .select(col(key), explode(expr(
        s"""aggregate(
           |  array_sort(cs0, (l, r) -> CASE
           |    WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
           |    WHEN l.vec_id < r.vec_id THEN -1 WHEN l.vec_id > r.vec_id THEN 1
           |    ELSE 0 END),
           |  CAST(array() AS ARRAY<BIGINT>),
           |  (acc, c) -> CASE
           |    WHEN size(acc) >= $KnnGK THEN acc
           |    WHEN exists(acc, k -> try_element_at(c.cm, k) >= c.cos) THEN acc
           |    ELSE array_append(acc, c.vec_id) END)""".stripMargin)).as("vec_id"))
  }

  val q126KnnCentrality: Q = (s, d) => {
    import graft.ops.TowerMemo
    val asg = TowerMemo.edgeAssigned(s, d)
    val edges = knnEdges(s, d)
    val odeg = edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
    val nodes = asg.select(col("vec_id").as("id"), col("cell"))
    val r = graft.ops.Graph.pageRankInt(nodes, edges, PrIters, PrScale, tracked)
    nodes.join(r, Seq("id"))
      .join(odeg, col("id") === col("src"), "left").drop("src")
      .join(indeg, col("id") === col("dst"), "left").drop("dst")
      .select(col("id").as("vec_id"), col("cell"),
        coalesce(col("odeg"), lit(0L)).as("odeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"),
        col("r").as("pr"))
      .orderBy(col("vec_id"))
  }

  /** EXT-3h — SQ8 scalar-quantized retrieval with its recall audit
    * IN-PLAN: the third compression axis every vector store ships
    * alongside IVF (q42, prune WHICH vectors) and PQ (q90, compress
    * residual geometry) — per-DIMENSION affine int8 codes,
    * `c = min(⌊(x − min_d)·255/(max_d − min_d)⌋, 255)` from the
    * corpus per-dim min/max, 4× smaller than float32 with no
    * training. Scoring DEQUANTIZES: x̂_d = mn_d + c_d·(mx_d−mn_d)/255
    * reconstructs each value from its byte, and the approximate dot is
    * the fixed-order [[graft.functions.DotFold]] over x̂ — the
    * reconstruction step real SQ8 implementations run, and measurably
    * NOT optional: ranking by the raw code dot Σc_q·c_v scores 3/50
    * against the exact-dot top-10 on this corpus, because the affine
    * offset turns Σc_q·c_v into k²·dot + 127.5k·Σx_v + const and the
    * component-sum term swamps the ordering. Each returned row carries
    * `in_exact_topk` — membership in the exact max-inner-product
    * top-10 (the metric SQ8 serves) — so quantization loss is measured
    * where it matters, in the result list (the q93 audit discipline).
    * Constant dims (max = min) code to 0 and reconstruct to mn both
    * engines.
    *
    * Scale shape: dim stats are one 64-row aggregate folded into a
    * 1-row broadcast; coding is a per-row projection; scoring is the
    * q29 broadcast pass (5 queries stream the corpus once) with
    * WindowGroupLimit top-10; the exact side exists only because this
    * IS the audit. At 100 TB the codes table is the thing you
    * materialize (4× less IO per scan), and the same codes drop into
    * the q42 IVF cells for pruned scanning.
    */
  val q127Sq8Ann: Q = (s, d) => {
    import graft.functions.DotFold
    val emb = tracked(embeddings(s, d).select(col("vec_id"), col("embedding")))
    val ex = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
    // float min/max are pure comparisons — identical both engines
    val dims = ex.groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val stats = dims
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("sa"))
      .select(expr("transform(sa, e -> CAST(e.mn AS DOUBLE))").as("mns"),
        expr("transform(sa, e -> CAST(e.mx AS DOUBLE))").as("mxs"))
    val codes = tracked(emb.crossJoin(broadcast(stats))
      .select(col("vec_id"), expr(
        "transform(sequence(0, size(embedding) - 1), i -> CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS BIGINT) ELSE " +
          "least(CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT), CAST(255 AS BIGINT)) END)")
        .as("c"), col("mns"), col("mxs"))
      // dequantized reconstruction — what an SQ8 scan scores against
      .select(col("vec_id"), expr(
        "transform(sequence(0, size(c) - 1), i -> mns[i] + (CAST(c[i] AS DOUBLE) * (mxs[i] - mns[i])) / 255.0)")
        .as("xh")))
    val qcodes = codes.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("xh").as("qxh"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("adot").desc, col("vec_id"))
    val approx = codes.crossJoin(broadcast(qcodes))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adot", DotFold(col("qxh"), col("xh")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 10)
    // exact max-inner-product top-10 — the audit truth (same metric
    // the codes approximate)
    val qex = emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wx = Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    val exact = emb.crossJoin(broadcast(qex))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", DotFold(col("qv"), col("embedding")))
      .withColumn("rk", row_number().over(wx))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    approx.join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("vec_id"),
        col("adot"), coalesce(col("hit"), lit(0)).cast("int").as("in_exact_topk"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT-3i — multi-probe LSH (Lv, Josephson, Wang, Charikar & Li,
    * VLDB 2007): the recall/cost knob on the q39 sign-LSH index that
    * does NOT require more hash tables — each query probes its own
    * bucket PLUS the [[SrpBandBits]] buckets at Hamming distance 1 in
    * every band (1-bit key perturbations), trading a bounded candidate
    * expansion (≤ 9× per band here) for the recall that q39 loses when
    * a near neighbor straddles one hyperplane. Candidates dedup to
    * (query, vector) with a `direct` flag (found in the unperturbed
    * bucket); exact cosine re-ranks, and each top-5 row reports
    * `via_probe` — found ONLY through a perturbation, the rows that
    * justify the operator — plus the per-query candidate count
    * `n_cand` (the cost side of the tradeoff). Perturbation keys stay
    * integer (xor of the band key with one bit — identical both
    * engines); cosine follows the fixed q29 fold.
    *
    * Scale shape: identical to q39 — the query side (now 9× rows, still
    * query-sized) broadcasts into the banded corpus join; candidate
    * count per query is Σ_bands (1 + bits)·n/2^bandBits, tunable by
    * band width; the n_cand side table is 5 rows.
    */
  val q129MultiProbeLsh: Q = (s, d) => {
    import graft.functions.DotFold
    val emb = tracked(embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    val bands = srpBands(emb, "vec_id")
    val qb = srpBands(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .withColumnRenamed("vec_id", "query_id"), "query_id")
    val qprobes = qb.select(col("query_id"), col("band"), col("key").as("qkey"))
      .select(col("query_id"), col("band"), explode(expr(
        s"transform(sequence(-1, ${SrpBandBits - 1}), j -> named_struct(" +
          "'key', CASE WHEN j = -1 THEN CAST(qkey AS BIGINT) " +
          "ELSE CAST(qkey AS BIGINT) ^ CAST(shiftleft(1, j) AS BIGINT) END, " +
          "'orig', CASE WHEN j = -1 THEN 1 ELSE 0 END))")).as("p"))
      .select(col("query_id"), col("band"), col("p.key").as("key"),
        col("p.orig").as("orig"))
    val cands = tracked(bands.withColumn("key", col("key").cast("long"))
      .join(broadcast(qprobes), Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("orig")).as("direct")))
    val ncand = cands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cand"))
    val queries = emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cands.join(emb, Seq("vec_id")).join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", DotFold(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .join(broadcast(ncand), Seq("query_id"))
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("vec_id"),
        col("cos"), (lit(1) - col("direct")).cast("int").as("via_probe"),
        col("n_cand"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT — embedding-space outlier pruning: distance of every vector
    * to its own LABEL's centroid, with the top 5% most-distant per
    * label flagged — the embedding-side quality gate a curation
    * pipeline runs next to the text-side q34 score (mislabeled or
    * off-distribution points sit far from their class mean; CLIP-style
    * filtering is this exact shape with image/text pairs). Centroids
    * are integer-exact by the q42 discipline (invariant 7): per-dim
    * Σ⌊x·10⁶⌋ long sums via the [[graft.ops.Aggregators.LongVecSum]]
    * typed aggregator (order-independent), centroid component
    * `CAST(S AS DOUBLE)/(10⁶·n)` — identical expression both engines —
    * then d² through the fixed [[graft.functions.DotFold]] association
    * (dvv − 2·dvc + dcc), so every double compares bit-equal and the
    * per-label distance ranking (ties → vec_id) replays exactly. The
    * 5% cut is integer rank math (`rk·20 ≤ n`), never a float
    * quantile.
    *
    * Scale shape: one typed-aggregator pass (map-side partial vector
    * sums) → label-sized centroid table (broadcast) → one scoring scan
    * with a per-label window. Nothing quadratic; the window partitions
    * by label.
    */
  val q128EmbeddingOutliers: Q = (s, d) => {
    import graft.functions.DotFold
    import s.implicits._
    val emb = tracked(embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("vq", transform(col("v"), x => floor(x * lit(1000000.0)))))
    val sums = emb.select(col("label"), col("vq")).as[(Int, Seq[Long])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.ops.Aggregators.LongVecSum.toColumn)
      .toDF("label", "sn")
      .select(col("label"), col("sn._1").as("S"), col("sn._2").as("n"))
    val cent = sums.select(col("label"),
      transform(col("S"), q => q.cast("double") / (lit(1000000.0) * col("n"))).as("cv"))
    val wl = Window.partitionBy(col("label")).orderBy(col("d2").desc, col("vec_id"))
    val nl = Window.partitionBy(col("label"))
    emb.join(broadcast(cent), Seq("label"))
      .withColumn("d2", DotFold(col("v"), col("v"))
        - lit(2.0) * DotFold(col("v"), col("cv")) + DotFold(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(wl))
      .withColumn("n_lbl", count(lit(1)).over(nl))
      .select(col("vec_id"), col("label"), col("d2"),
        col("rk").cast("int").as("dist_rank"),
        (col("rk") * 20 <= col("n_lbl")).cast("int").as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** Truncation prefixes audited by [[q136TruncationCurve]]; the full
    * dimension doubles as the self-check row (recall ≡ 1).
    */
  val MatryoshkaDims = Seq(16, 32, 64)

  /** EXT-3k — truncated-retrieval audit (the Matryoshka question,
    * Kusupati et al., NeurIPS 2022): before serving dot products on a
    * PREFIX of each embedding (the 4×/2× memory-and-FLOPs cut MRL
    * models are trained to allow), measure what prefix retrieval
    * actually loses HERE — per query and per prefix length m, the
    * recall@10 of the m-dim dot ranking against the full-dim truth.
    * One corpus pass computes every prefix dot per candidate (fixed
    * DotFold over the sliced arrays — prefix sums of the same
    * products, but each fold is its own left-to-right chain so both
    * engines agree bitwise); ranks are WindowGroupLimit top-10 per
    * (query, m). Measured on this corpus: recall@10 is 10/50 at m=16
    * and 12/50 at m=32 — these embeddings are ISOTROPIC (no leading-
    * dim energy concentration, round-6 spectrum measurement), so
    * truncation is NOT safe here, and that is exactly the answer the
    * audit exists to give before anyone ships a truncated index. The
    * m=64 rows are the in-plan self-check (recall ≡ 1 by
    * construction).
    *
    * Scale shape: the q29 broadcast pass (5 queries stream the corpus
    * once, all three dots in one projection), three per-query top-10
    * WindowGroupLimits over the same scored frame, 15-row output.
    */
  val q136TruncationCurve: Q = (s, d) => {
    import graft.ops.TowerMemo
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val qs = broadcast(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val scored = tracked(emb.select(col("vec_id"), col("v"))
      .crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ MatryoshkaDims.map(m =>
        DotFold(slice(col("qv"), 1, m), slice(col("v"), 1, m)).as(s"d$m")): _*))
    val full = MatryoshkaDims.last
    val wF = Window.partitionBy(col("query_id")).orderBy(col(s"d$full").desc, col("vec_id"))
    val truth = tracked(scored.withColumn("rk", row_number().over(wF))
      .filter(col("rk") <= 10).select(col("query_id"), col("vec_id"), lit(1).as("hit")))
    MatryoshkaDims.map { m =>
      val wm = Window.partitionBy(col("query_id")).orderBy(col(s"d$m").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(wm)).filter(col("rk") <= 10)
        .join(truth, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).as("n_hits"))
        .select(lit(m).as("m"), col("query_id"),
          col("n_hits").cast("int").as("n_hits"),
          (col("n_hits").cast("double") / lit(10.0)).as("recall"))
    }.reduce(_.union(_)).orderBy(col("m"), col("query_id"))
  }

  /** Beam width and hop count for [[q135GraphAnn]]. */
  val GsBeam = 8
  val GsHops = 4

  /** EXT-3j — graph-based ANN (the NSW/HNSW family, Malkov & Yashunin,
    * TPAMI 2020 — the fourth index family next to hash/q39,
    * quantization/q42-q91, and scalar/q127): greedy BEAM search over a
    * two-layer navigable graph — an upper layer of cell
    * representatives (min vec_id per trained IVF cell, fully
    * connected: the "hierarchy" that gives long-range hops) over the
    * q126 within-cell kNN edge list (symmetrized — NSW navigates
    * undirected). From one deterministic entry point (global min
    * vec_id) the beam expands neighbors, keeps the [[GsBeam]] best by
    * exact cosine, and repeats [[GsHops]] hops — a FIXED unroll, so
    * the DuckDB oracle replays every hop as a CTE (the q107 greedy
    * discipline); each hop localCheckpoints (per-round lineage,
    * invariant CC/q42). The final top-5 carries `in_exact_topk` vs
    * the brute-force cosine ranking — graph recall measured in-plan
    * (the q93 audit discipline; 22/25 at sf0.001, 21/25 at sf0.01 —
    * while each query scores only the bounded beam-neighborhood set,
    * ≤ B·(K+1+cells) candidates per hop, never the corpus).
    *
    * Scale shape: per hop the beam table is |queries|·B rows joining a
    * degree-bounded edge list (K per vertex + the ⌈√n⌉-rep clique) and
    * re-scoring ≤ |queries|·B·(K+1) candidates against the broadcast
    * query vectors — corpus-sized work appears ONLY in the one-time
    * edge derivation, which runs over the √n-cell EDGE quantizer (see
    * [[knnEdges]]): occupancy tracks √n, pair mass n^1.5, and the rule
    * holds under exact-duplicate pileup too (the round-8 fixed-K build
    * measured 16.7 s at the ×10 stress; the √n build's mass at ×10 is
    * ~14× smaller). The upper layer is one representative per edge
    * cell, fully connected — ⌈√n⌉² = n clique edges, the same order as
    * the k-NN edge list itself. The audit's exact side exists because
    * this IS the audit.
    */
  val q135GraphAnn: Q = (s, d) => graphBeamSearch(s, d, knnEdges(s, d))

  /** The two-layer beam search shared by q135 (naive top-K edges) and
    * q143 (diversified edges): symmetrized within-cell edges + the
    * per-cell-representative clique, [[GsHops]] unrolled hops from the
    * min-vec_id entry, exact-cosine re-rank per hop, in-plan recall
    * audit.
    */
  /** ONE beam-hop selection: dedup (collect_set — duplicates re-score
    * to the identical fold, so set semantics are exact) + per-`key`
    * top-`b` by (cos desc, vec_id asc) — struct(cos, -vec_id) sorted
    * desc — fused into a single map-side-partial aggregation (the
    * round-15 hop fusion: ONE exchange per hop, replacing the former
    * distinct-exchange + window-sort pair). The stored cos doubles
    * re-emit unchanged, so downstream bits are identical. Factored so
    * [[graphBeamSearch]] and [[attachEdges]] share the shape and
    * PlanShapeSpec can pin its physical plan (one exchange, no
    * Window/Sort operators) against a refactor silently reintroducing
    * the old pair.
    */
  private[graft] def hopTopB(scored: org.apache.spark.sql.DataFrame,
      key: String, b: Int): org.apache.spark.sql.DataFrame = scored
    .groupBy(col(key))
    .agg(slice(sort_array(collect_set(
      struct(col("cos"), (-col("vec_id")).as("nv"))), asc = false),
      1, b).as("top"))
    .select(col(key), explode(col("top")).as("t"))
    .select(col(key), (-col("t.nv")).as("vec_id"), col("t.cos").as("cos"))

  private[graft] def graphBeamSearch(s: org.apache.spark.sql.SparkSession, d: String,
      knn: org.apache.spark.sql.DataFrame,
      repAsg: org.apache.spark.sql.DataFrame = null,
      withIsNew: Boolean = false,
      corpus: org.apache.spark.sql.DataFrame = null): org.apache.spark.sql.DataFrame = {
    import graft.ops.TowerMemo
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    // q152 passes the LIVE corpus slice: the entry point and the
    // exact-truth side must never see a tombstoned vector (queries
    // stay full-corpus probes — a deleted doc can still be a query)
    val corp = if (corpus != null) corpus else emb
    // q135/q143 take the upper layer from the full-corpus edge
    // assignment; q151 passes the FROZEN (old-trained, old-assigned)
    // one — its rep clique must not move when a wave lands
    val asg = if (repAsg != null) repAsg else TowerMemo.edgeAssigned(s, d)
    val reps = asg.groupBy(col("cell")).agg(min(col("vec_id")).as("rid"))
    val repEdges = reps.select(col("rid").as("src"))
      .crossJoin(broadcast(reps.select(col("rid").as("dst"))))
      .filter(col("src") =!= col("dst"))
    val edges = tracked(
      knn.union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .union(repEdges).distinct())
    val queries5 = broadcast(emb.filter(col("vec_id") < graft.ops.Ivf.ProbeN)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm")))
    def score(cand: org.apache.spark.sql.DataFrame) = cand
      .join(emb.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(queries5, Seq("query_id"))
      .withColumn("cos", DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    val entry = broadcast(corp.agg(min(col("vec_id")).as("vec_id")))
    val wb = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    // the hop loop is beam-bounded (|queries|·B rows against a
    // degree-bounded edge list) with per-hop eager checkpoints. Each
    // hop is ONE aggregation: collect_set dedups the candidate set
    // (beam ∪ neighbors — duplicates re-score to the identical fold,
    // so set semantics are exact) and the sorted-slice keeps the
    // per-query top-[[GsBeam]] by (cos desc, vec_id asc) — struct
    // (cos, -vec_id) sorted desc — replacing the former
    // distinct-exchange + window-sort pair with one map-side-partial
    // hash agg (invariant 8 generalized to top-B; per-query candidate
    // sets are B·(degree+1)-bounded, so the collected array is small
    // at any corpus size). The stored cos doubles are re-emitted
    // unchanged, so downstream bits are identical.
    // (round-19 measured-and-dropped: replacing the intermediate hops'
    // eager checkpoints with lazy persist() — one materialization
    // barrier per serve instead of GsHops+1 — LOST the interleaved A/B
    // at sf0.1/CPUS=32 in both orders: q135 4.07→6.35 s, q143
    // 3.25→5.55 s, q154 8.24→11.26 s best-of. The per-hop barrier is
    // load-bearing at bench width: each hop's two references race the
    // cache inside one deep AQE DAG. The r15/r16 rule again — measure
    // a job-count lever at the bench's thread count before believing it.)
    val beam = {
      var b = score(queries5.select(col("query_id")).crossJoin(entry))
        .loopCkpt
      for (_ <- 1 to GsHops) {
        val nbrs = b.select(col("query_id"), col("vec_id").as("src"))
          .join(edges, Seq("src"))
          .select(col("query_id"), col("dst").as("vec_id"))
        val cand = b.select(col("query_id"), col("vec_id")).union(nbrs)
        b = hopTopB(score(cand), "query_id", GsBeam).loopCkpt
      }
      b
    }
    val exact = corp.select(col("vec_id"), col("v"), col("nrm"))
      .crossJoin(queries5)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    val ranked = beam.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= 5)
      .join(exact, Seq("query_id", "vec_id"), "left")
    if (withIsNew)
      ranked.crossJoin(broadcast(TowerMemo.oldCut(s, d)))
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("vec_id"),
          (col("vec_id") >= col("cut")).as("is_new"),
          col("cos"), coalesce(col("hit"), lit(0)).cast("int").as("in_exact_topk"))
        .orderBy(col("query_id"), col("rank"))
    else ranked
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("vec_id"),
        col("cos"), coalesce(col("hit"), lit(0)).cast("int").as("in_exact_topk"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXT-3k — graph ANN over DIVERSIFIED edges ([[divEdges]], the
    * NSW/HNSW heuristic-2 prune): the identical [[graphBeamSearch]]
    * two-layer search as q135, but each vertex keeps a neighbor only
    * if it is closer to the vertex than to every already-kept
    * neighbor — redundant same-direction edges drop (measured at
    * sf0.01: 2500 naive edges → 1852 diversified, mean out-degree
    * 5 → 3.7) while the directions that remain navigate as well or
    * better (recall measured 24/25 = q135's at sf0.01 —
    * GraphDivSpec asserts both claims live). The classic result this
    * demonstrates: at EQUAL (here: lower) degree budget, pruned
    * diversity beats raw proximity for greedy search, because the
    * beam must be able to leave a dense cluster once it has entered
    * it.
    *
    * Oracle: the q135 CTE tail over a [[KnnGK]]-step unrolled greedy
    * prune — per step, a candidate conflicts when some kept neighbor
    * is at least as close to it as the source is; the conflict cosine
    * is itself a row of the scored pair CTE (both endpoints share the
    * source's cell), so the unroll is pure equi-joins back into
    * `scknn` (no new vector folds). All comparisons are between
    * identically-computed doubles (invariant 4).
    *
    * Scale shape: q135's, plus [[KnnGK]] conflict joins whose mass is
    * pair-mass × kept-degree (≤ 5) — the same n^1.5 envelope as the
    * edge derivation itself.
    */
  val q143GraphAnnDiv: Q = (s, d) => graphBeamSearch(s, d, divEdges(s, d))

  /** EXT-3l — FROZEN-graph ANN append (the q92 freshness twin for the
    * graph index family: IVF/PQ serve frozen generations with
    * incremental appends; this does the same for the q143 NSW graph,
    * closing the round-10 gap "graph index implies full rebuild per
    * corpus wave"). The first ⌊4n/5⌋ vectors are the frozen
    * generation: edge quantizer trained on THEM (k = ⌈√n_old⌉), cells,
    * within-cell scored pairs, and heuristic-2 diversified edges all
    * old-only — after the build, none of it is recomputed. The late
    * wave attaches per-NODE: each new vector beam-searches the old
    * graph (width [[DivEfC]] — efConstruction's role — over
    * [[GsHops]] hops from the old entry point), then heuristic-2
    * prunes its candidate list to ≤ [[KnnGK]] out-edges; old
    * adjacency rows never change, and new nodes become REACHABLE
    * through search-time symmetrization (the same reverse-edge union
    * q135 always does — the stored log stays append-only, exactly
    * [[graft.streaming.StreamingIndex]]'s codes discipline). Wave
    * nodes link only to OLD nodes (batch attach; sequential intra-wave
    * links are the retrained graph's job — q144's refresh decision).
    * The final search is q135's two-layer beam over old∪new edges with
    * the FROZEN rep clique, flagged `is_new` per result and audited
    * in-plan against the exact top-5 (the metric the index
    * approximates — the round-8 lesson).
    *
    * The ORACLE unrolls the whole lifecycle CTE-for-CTE: old-trained
    * quantizer ([[edgeQuantCtes]] parameterized by training source —
    * the q144 shared-generator discipline), old diversified edges
    * ([[divEdgeCtes]] over the old pair table), the attach beam per
    * hop, the per-step heuristic-2 prune (conflict cosine is a fresh
    * fold — attach candidates span cells, so unlike q143 it is NOT a
    * pair-table row), and the final beam. All comparisons are between
    * identically-computed doubles (invariant 4).
    *
    * Scale shape: the frozen build is q143's (n_old^1.5 pair mass,
    * once); each WAVE costs |wave|·[[DivEfC]]·degree beam rows and
    * |wave|·[[DivEfC]]·[[KnnGK]] conflict folds — wave-bounded, never
    * corpus-sized; the search is q135's serving shape. GraphDivSpec
    * audits frozen-vs-retrained recall (the q144 comparison); at ×10
    * replicated sf0.1 the wall grew 1.56× for 10× the vectors.
    */
  /** The [[KnnGK]]-step heuristic-2 greedy with FRESH-FOLD conflict
    * scoring — q151's attach prune (candidates span cells, so the
    * conflict cosine cannot be a pair-table lookup) factored so the
    * composed-lifecycle repair ([[repairFold]]) runs the identical
    * greedy. `cand` carries (`key`, vec_id, cos); returns the kept
    * (`key`, vec_id) pairs.
    */
  private[graft] def heuristic2FoldPrune(cand0: org.apache.spark.sql.DataFrame,
      key: String, vecs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // round-18 flatten — the divEdgesOver rationale verbatim, with the
    // conflict cosine a FRESH DotFold (candidates span cells): all
    // n·DivEfC² ordered-pair folds in one stage replace the loop's
    // incremental cand×kept folds (≤ the same mass, spread over
    // 2·(KnnGK−1) join stages + checkpoint barriers). DotFold is
    // per-component commutative-multiply left-fold, so the (c, k)
    // ordered fold here is bitwise the loop's.
    import graft.functions.DotFold
    val cand = cand0.select(col(key), col("vec_id"), col("cos"))
    val pcos = cand.select(col(key), col("vec_id"))
      .join(cand.select(col(key), col("vec_id").as("kid")), Seq(key))
      .filter(col("vec_id") =!= col("kid"))
      .join(vecs.select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn")),
        Seq("vec_id"))
      .join(vecs.select(col("vec_id").as("kid"), col("v").as("kv"),
        col("nrm").as("kn")), Seq("kid"))
      .select(col(key), col("vec_id"), col("kid"),
        (DotFold(col("cv"), col("kv")) / (col("cn") * col("kn"))).as("pcos"))
    h2GreedyKept(cand, key, pcos).localCheckpoint(true)
  }

  /** q151's per-node attach over the frozen old graph, factored so the
    * composed-lifecycle spec AND the [[graft.streaming.StreamingGraph]]
    * service can append a wave. By default the wave is the ≥cut corpus
    * slice (q151's batch semantics); the service passes its micro-batch
    * as `wave` (vec_id, v, nrm — the [[graft.ops.Ivf.prep]] shape,
    * per-row deterministic, so a wave equal to the default slice
    * attaches bit-identically). Returns the new nodes' kept out-edges
    * (src = new vec_id, dst = old vec_id).
    */
  private[graft] def attachEdges(s: org.apache.spark.sql.SparkSession, d: String,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      wave: org.apache.spark.sql.DataFrame = null)
      : org.apache.spark.sql.DataFrame = {
    import graft.ops.TowerMemo
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val cutF = broadcast(TowerMemo.oldCut(s, d))
    val old = hold(emb.crossJoin(cutF).filter(col("vec_id") < col("cut")).drop("cut"))
    val asgOld = TowerMemo.oldEdgeAssigned(s, d)
    val oldEdges = oldDivEdges(s, d)
    val reps = asgOld.groupBy(col("cell")).agg(min(col("vec_id")).as("rid"))
    val gedOld = hold(oldEdges
      .union(oldEdges.select(col("dst").as("src"), col("src").as("dst")))
      .union(reps.select(col("rid").as("src"))
        .crossJoin(broadcast(reps.select(col("rid").as("dst"))))
        .filter(col("src") =!= col("dst")))
      .distinct())
    val waveQ = if (wave != null) wave
      else emb.crossJoin(cutF).filter(col("vec_id") >= col("cut")).drop("cut")
    val newQ = hold(waveQ
      .select(col("vec_id").as("nid"), col("v").as("qv"), col("nrm").as("qnrm")))
    val vecs = emb.select(col("vec_id"), col("v"), col("nrm"))
    def scoreN(cand: org.apache.spark.sql.DataFrame) = cand
      .join(vecs, Seq("vec_id"))
      .join(newQ, Seq("nid"))
      .select(col("nid"), col("vec_id"),
        (DotFold(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
    val entry = broadcast(old.agg(min(col("vec_id")).as("vec_id")))
    val wn = Window.partitionBy(col("nid")).orderBy(col("cos").desc, col("vec_id"))
    // wave-bounded attach beam (|wave|·DivEfC rows, degree-bounded
    // edges), per-hop eager checkpoints; each hop is one
    // collect_set + sorted-slice aggregation (the graphBeamSearch hop
    // shape — dedup and top-[[DivEfC]] in a single map-side-partial agg)
    val abeam = {
      var b = scoreN(newQ.select(col("nid")).crossJoin(entry)).loopCkpt
      for (_ <- 1 to GsHops) {
        val nbrs = b.select(col("nid"), col("vec_id").as("src"))
          .join(gedOld, Seq("src"))
          .select(col("nid"), col("dst").as("vec_id"))
        val cand = b.select(col("nid"), col("vec_id")).union(nbrs)
        b = hopTopB(scoreN(cand), "nid", DivEfC).loopCkpt
      }
      b
    }
    // heuristic-2 over the attach candidates; conflict cosine is a
    // fresh fold (candidates span cells)
    val kept = heuristic2FoldPrune(abeam, "nid", vecs)
    kept.select(col("nid").as("src"), col("vec_id").as("dst"))
  }

  /** The FOLD-SCORED repair — [[repairedAdjacency]] generalized to
    * graphs whose edges cross quantizer cells (the composed lifecycle:
    * attach edges link a new node to old nodes in other cells, so
    * neither candidate nor conflict cosines can be pair-table rows).
    * On a purely within-cell graph it computes bit-identical output to
    * the pair-scored repair — every cosine is the same [[graft.functions.DotFold]]
    * the pair table was built from — which GraphLifecycleSpec asserts
    * as the internal-consistency law.
    */
  private[graft] def repairFold(s: org.apache.spark.sql.SparkSession, d: String,
      edges0: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      tombstones: org.apache.spark.sql.DataFrame = null)
      : org.apache.spark.sql.DataFrame = {
    import graft.ops.TowerMemo
    import graft.functions.DotFold
    val emb = TowerMemo.prep(s, d)
    val vecs = emb.select(col("vec_id"), col("v"), col("nrm"))
    // q154 deletes the seeded hash slice; the StreamingGraph service
    // passes its on-disk tombstone table instead
    val deadP = priorityHashOn(col("vec_id")) < lit(DeleteBound)
    val dead = hold(if (tombstones != null) tombstones.select(col("vec_id"))
      else emb.filter(deadP).select(col("vec_id")))
    val edges = hold(edges0)
    val srcLive = hold(edges.join(dead.select(col("vec_id").as("src")),
      Seq("src"), "left_anti"))
    val liveEdges = hold(srcLive.join(dead.select(col("vec_id").as("dst")),
      Seq("dst"), "left_anti").select(col("src"), col("dst")))
    val deadOut = hold(srcLive.join(dead.select(col("vec_id").as("dst")),
      Seq("dst"), "left_semi").select(col("src"), col("dst").as("x")))
    val affected = deadOut.select(col("src")).distinct()
    val repl = deadOut
      .join(edges.select(col("src").as("x"), col("dst").as("y")), Seq("x"))
      .join(dead.select(col("vec_id").as("y")), Seq("y"), "left_anti")
      .filter(col("y") =!= col("src"))
      .select(col("src"), col("y").as("dst"))
    val candIds = liveEdges.join(affected, Seq("src"), "left_semi")
      .union(repl).distinct()
    val scored = candIds
      .join(vecs.select(col("vec_id").as("src"), col("v").as("sv"), col("nrm").as("sn")), Seq("src"))
      .join(vecs.select(col("vec_id").as("dst"), col("v").as("dv"), col("nrm").as("dn")), Seq("dst"))
      .select(col("src"), col("dst"),
        (DotFold(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("cos"))
    val wsrc = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val cand = hold(scored.withColumn("rk", row_number().over(wsrc))
      .filter(col("rk") <= DivEfC)
      .select(col("src"), col("dst").as("vec_id"), col("cos")))
    val repaired = heuristic2FoldPrune(cand, "src", vecs)
      .select(col("src"), col("vec_id").as("dst"))
    liveEdges.join(affected, Seq("src"), "left_anti").union(repaired)
  }

  val q151GraphAppend: Q = (s, d) => {
    import graft.ops.TowerMemo
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    // the frozen substrate (old quantizer, old pairs, old diversified
    // edges) is session-memoized — in production it IS the held index,
    // so its build is charged to graph_memo_build_old and this query's
    // timed run shows the recurring per-wave cost (attach + search)
    val asgOld = TowerMemo.oldEdgeAssigned(s, d)
    val oldEdges = oldDivEdges(s, d)
    val newEdges = attachEdges(s, d, hold)
    val out = graphBeamSearch(s, d, oldEdges.union(newEdges),
        repAsg = asgOld, withIsNew = true)
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** EXT-3n — the COMPOSED index lifecycle, oracled end-to-end: build
    * the frozen old graph, APPEND a wave (q151's per-node attach), then
    * DELETE tombstones from the combined index (fold-scored repair —
    * attach edges cross quantizer cells, so [[repairFold]] prices both
    * candidates and conflicts with fresh [[graft.functions.DotFold]]s)
    * and serve. q151 and q152 prove each maintenance op alone;
    * GraphLifecycleSpec proves behavioral composition; THIS query makes
    * the composition itself a hash-checked theorem — the DuckDB oracle
    * replays frozen build → attach → tombstone → repair → live beam in
    * one statement ([[g151PrefixCtes]] + delete CTEs +
    * [[foldPruneCtes]], every generator shared with q151/q152 — the
    * q144 shared-generator rule). Output rows carry `is_new` (an
    * appended vector served post-delete) and the exact-top-5 audit over
    * LIVE vectors.
    *
    * Scale shape: the frozen build amortizes across waves
    * (graph_memo_build_old); the attach is wave-bounded (q151's
    * scaladoc); the repair touches |affected|·K² candidate rows with
    * fold scoring (q152's shape, fresh folds instead of pair probes);
    * the serve is q135's. The composed per-wave cost is attach + repair
    * + search — exactly what a rolling index pays per
    * ingest-and-takedown cycle.
    */
  val q154GraphLifecycle: Q = (s, d) => {
    import graft.ops.TowerMemo
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val oldEdges = oldDivEdges(s, d)
    val attach = attachEdges(s, d, hold)
    val repaired = repairFold(s, d, oldEdges.union(attach), hold)
    val deadP = priorityHashOn(col("vec_id")) < lit(DeleteBound)
    val liveAsg = TowerMemo.oldEdgeAssigned(s, d).filter(!deadP)
    val liveCorp = TowerMemo.prep(s, d).filter(!deadP)
    val out = graphBeamSearch(s, d, repaired,
        repAsg = liveAsg, withIsNew = true, corpus = liveCorp)
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** Tombstone-admission bound for [[q152GraphDelete]]: h(vec_id) <
    * [[PriorityMod]]/8 marks ~12.8% of the corpus deleted (the q55/q89
    * seeded-hash idiom — no RNG state, same tombstone set on any
    * engine). Measured before wiring (round 12, regenerated corpus):
    * 64/500 vectors dead at the oracle SF, 1 of the 25 pre-delete
    * exact-top-5 rows dies (3 at sf0.001's identical embedding slice
    * under the old counts), and 3 of the 5 probe queries are themselves
    * tombstoned — which is exactly the case the query must keep
    * serving: a deleted document can still be a QUERY, it just must
    * never be a RESULT. (lazy: the scalac
    * uninitialized-forward-reference trap — [[PriorityMod]] is fine
    * today but the rule is cheap insurance.)
    */
  private[graft] lazy val DeleteBound = PriorityMod / 8

  /** EXT-3m — graph-ANN DELETE with neighborhood repair (the q149
    * decremental twin for the index family: q151 closed the append
    * gap, this closes deletion — without it a tombstoned document
    * leaves the NSW graph only via full retrain). Tombstones are the
    * seeded ~12.8% hash slice ([[DeleteBound]]); adjacency rows with a
    * dead SOURCE drop wholesale, and each live vertex that lost a
    * neighbor repairs per-NODE, HNSW-style: its candidate set is its
    * surviving out-neighbors ∪ each dead neighbor's live out-neighbors
    * (the "inherit the dead node's links" repair real HNSW deletions
    * run), re-pruned by the same heuristic-2 greedy as the original
    * build ([[divEdgesOver]], conflict lookups against the FULL pair
    * table — every candidate shares the vertex's cell, because kd
    * edges are within-cell, so the dead neighbor's neighbors are
    * same-cell too and every score is an existing [[cellPairs]] row:
    * the repair adds ZERO new vector folds). Cells whose representative
    * died elect min live vec_id (empty cells leave the clique), and
    * the final search is q135's two-layer beam over the repaired
    * adjacency with entry = min LIVE vec_id and the exact-top-5 audit
    * computed over LIVE vectors only — search-after-delete correctness
    * measured in the result list (the q93 discipline). Untouched
    * vertices keep byte-identical adjacency (spec-asserted).
    *
    * The ORACLE unrolls the whole lifecycle: the q143 prefix verbatim
    * (quantizer, scored pairs, heuristic-2 edges), tombstones as a
    * hash CTE, the repair-candidate derivation, the repair prune
    * ([[divEdgeCtes]] instantiated over the candidate table with
    * conflict lookups in `scknn` — the same generator that builds the
    * original edges, the q144 shared-generator rule), and the final
    * beam + live-exact audit.
    *
    * Scale shape: tombstone filtering is two anti-joins on the
    * degree-bounded edge list (≤ K·n rows, never pair mass); the
    * repair-candidate table is |affected|·K² rows worst case (each
    * affected vertex inherits ≤ K live links per dead neighbor), the
    * prune probes the pair table by key, and the search is q135's
    * serving shape. Nothing rescans the corpus: delete cost is
    * proportional to the tombstone wave's graph neighborhood, exactly
    * like q149's component-scoped relabel.
    */
  /** The q152 repair derivation, factored so GraphDivSpec can assert
    * on the repaired adjacency itself (no dead endpoints, bounded
    * degree, untouched vertices byte-identical, inherit rule
    * non-vacuous). Returns the full repaired adjacency; `hold` owns
    * the multi-consumer persists.
    */
  private[graft] def repairedAdjacency(s: org.apache.spark.sql.SparkSession,
      d: String,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.ops.TowerMemo
    val asg = TowerMemo.edgeAssigned(s, d)
    val pairs = cellPairs(s, d)
    // memoized held index (graph_memo_build); persisted here because
    // FOUR branches read it (src split, dead-out, replacement lookup,
    // untouched remainder)
    val edges = hold(divEdges(s, d))
    val deadP = priorityHashOn(col("vec_id")) < lit(DeleteBound)
    // production deletes arrive as a tombstone TABLE, so the plumbing
    // is joins (left_anti/semi — AQE picks the strategy), never a
    // predicate pushed into the index scan
    val dead = hold(asg.filter(deadP).select(col("vec_id")))
    val srcLive = hold(edges.join(dead.select(col("vec_id").as("src")),
      Seq("src"), "left_anti"))
    val liveEdges = hold(srcLive.join(dead.select(col("vec_id").as("dst")),
      Seq("dst"), "left_anti").select(col("src"), col("dst")))
    val deadOut = hold(srcLive.join(dead.select(col("vec_id").as("dst")),
      Seq("dst"), "left_semi").select(col("src"), col("dst").as("x")))
    val affected = deadOut.select(col("src")).distinct()
    val repl = deadOut
      .join(edges.select(col("src").as("x"), col("dst").as("y")), Seq("x"))
      .join(dead.select(col("vec_id").as("y")), Seq("y"), "left_anti")
      .filter(col("y") =!= col("src"))
      .select(col("src"), col("y").as("dst"))
    val candIds = liveEdges.join(affected, Seq("src"), "left_semi")
      .union(repl).distinct()
    val candScored = candIds.join(pairs, Seq("src", "dst"))
    val repaired = divEdgesOver(candScored, hold, conflictPairs = pairs)
    liveEdges.join(affected, Seq("src"), "left_anti").union(repaired)
  }

  val q152GraphDelete: Q = (s, d) => {
    import graft.ops.TowerMemo
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val newAdj = repairedAdjacency(s, d, hold)
    val deadP = priorityHashOn(col("vec_id")) < lit(DeleteBound)
    val liveAsg = TowerMemo.edgeAssigned(s, d).filter(!deadP)
    val liveCorp = TowerMemo.prep(s, d).filter(!deadP)
    val out = graphBeamSearch(s, d, newAdj, repAsg = liveAsg, corpus = liveCorp)
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** EXT — first-occurrence novelty scoring (incremental-contribution
    * curation): per doc, the share of its distinct trigrams that are
    * NEW to the corpus when the doc arrives in crawl order (doc_id) —
    * the "what did this crawl add" metric behind novelty-ordered
    * training and diminishing-returns curves; per-source cumulative
    * (cum_novel, cum_grams) gives the Heaps-style saturation curve in
    * the same pass. Measured before wiring: novelty spans the full
    * 0..1 range with 472/500 docs strictly between (14 pure re-crawls,
    * 14 all-novel). Gram EQUALITY is the verdict here, so grams are
    * dual-residue 62-bit keys (the q80/q81 birthday-collision rule);
    * NoveltySpec recomputes from gram STRINGS to catch what
    * hash-level gates can't. All integer until the one novelty
    * division (two longs — bit-identical both engines).
    *
    * Scale shape: one explode + two hash aggs (gram→min(doc_id) is a
    * map-side-combining min) + one postings equi-join on gram; the cum
    * window is per-source over doc-grain rows (partition-parallel,
    * never corpus-global). Nothing quadratic anywhere: the join fans
    * out only to each doc's own gram count.
    */
  val q120GramNovelty: Q = (s, d) => {
    val posts = tracked(documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(graft.functions.ShingleHash(
          col("text"), TextOps.P, 3, TextOps.P2))).as("g")))
    val firsts = posts.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = posts.join(firsts, Seq("g"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .withColumn("cum_grams", sum(col("n_grams")).over(w))
      .withColumn("cum_novel", sum(col("n_novel")).over(w))
      .select(col("doc_id"), col("source"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"),
        col("cum_novel"), col("cum_grams"))
      .orderBy(col("doc_id"))
  }

  /** b-bit minhash geometry: [[BbitPerms]] permutations (the q31
    * family (2j+3)·h + (5j+7) mod P), low b = 2 bits kept per value
    * ([[BbitMod]] = 2^b).
    */
  private val BbitPerms = 32
  private val BbitMod = 4L

  /** EXT — b-bit minwise hashing (Li & König, WWW 2010): store only
    * the lowest b = 2 bits of each of [[BbitPerms]] minhash values —
    * 16× signature compression at this geometry (2 bits vs a 32-bit
    * value per permutation), the storage lever that makes
    * billion-document signature tables feasible — and estimate
    * Jaccard from b-bit collision rates with the paper's unbiasing
    * Ĵ = (ĉ − 1/2^b)/(1 − 1/2^b), next to the full-width estimate
    * â/k and the exact Jaccard ground truth per candidate pair. The
    * audit shape: per banding candidate pair, integer agreement
    * counts (a32 full, c32 b-bit — c32 ≥ a32 by construction, the
    * gap is the chance-collision mass the unbiasing removes), then
    * three fixed double expressions (invariant 4 — one association,
    * both engines). Candidates come from the DEPLOYED banding stage,
    * so the estimates are measured exactly where a production dedup
    * would apply them.
    *
    * Scale shape: signatures are one linear pass (32 array_min folds
    * over the pre-hashed shingle array); the pair stage joins the
    * candidate list (banded, occupancy-capped — never all-pairs) to
    * the signature table twice by doc id. At 100 TB only the 2-bit
    * packed signatures need to live in the serving store.
    */
  val q121BbitMinhash: Q = (s, d) => {
    val sig = minhashSig(s, d)
    val det = minhashCands(s, d)
    val withMh = tracked(sig.select(
      col("doc_id") +:
        (0 until BbitPerms).map(j => TextOps.minhashFromHashes(col("hs"), j).as(s"mh$j")): _*))
    val sh = tracked(sig.select(col("doc_id"),
      array_distinct(TextOps.shinglesFromTokens(col("toks"), 3)).as("sh")))
    val aSide = withMh.select(
      col("doc_id").as("da") +: (0 until BbitPerms).map(j => col(s"mh$j").as(s"a$j")): _*)
    val bSide = withMh.select(
      col("doc_id").as("db") +: (0 until BbitPerms).map(j => col(s"mh$j").as(s"b$j")): _*)
    val agree = det.join(aSide, Seq("da")).join(bSide, Seq("db"))
      .withColumn("a32", (0 until BbitPerms)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("c32", (0 until BbitPerms)
        .map(j => when(col(s"a$j") % BbitMod === col(s"b$j") % BbitMod, 1L).otherwise(0L))
        .reduce(_ + _))
      .select(col("da"), col("db"), col("a32"), col("c32"))
    agree
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("sh").as("shb")), Seq("db"))
      .withColumn("n_int", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("n_int").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("n_int")))
      .select(col("da"), col("db"), col("a32"), col("c32"),
        (col("a32").cast("double") / lit(32.0)).as("jhat_full"),
        greatest(lit(0.0),
          (col("c32").cast("double") / lit(32.0) - lit(0.25)) / lit(0.75)).as("jhat_b2"),
        col("jac"))
      .orderBy(col("da"), col("db"))
  }

  /** EXT — longest verbatim token run per near-dup candidate pair (the
    * ExactSubstr decision metric — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022: their cut fires on
    * shared substrings ≥ 50 tokens; corpus docs here are 10–99 tokens
    * and measured max-runs span 10–95 with both sides of a 20-token
    * threshold populated). Computed the dotplot way, entirely
    * relational: positional dual-residue 3-gram keys (positions
    * matter — NO distinct; equality is the verdict → 62-bit keys, the
    * q80/q81 rule), matched (pa, pb) position pairs per candidate,
    * and a gaps-and-islands pass over each diagonal pa − pb — a run
    * of L consecutive matched grams IS a shared run of L + 2 tokens.
    * Output per pair: total matches, distinct runs, and the longest
    * shared token run. BbitMinhashSpec's sibling ExactSubstrSpec
    * recomputes from token STRINGS (a DP longest-common-substring),
    * closing the hash-collision blind spot.
    *
    * Scale shape: candidates come from the DEPLOYED banding stage
    * (occupancy-capped, never all-pairs); the match join fans out to
    * each pair's shared-gram mass (the dotplot size); the islands
    * window partitions by (pair, diagonal) — bounded by doc length,
    * partition-parallel. Nothing corpus-quadratic.
    */
  /** Diagonal verbatim runs per candidate pair — the shared derivation
    * under q122 (run statistics) and q131 (mask coverage): matched
    * positional grams grouped into maximal consecutive runs along each
    * alignment diagonal, one row per run `(da, db, diag, pa0, rg)`
    * (start position on the left doc, run length in grams).
    */
  private def diagRuns(det: org.apache.spark.sql.DataFrame,
      pos: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m = det
      .join(pos.select(col("doc_id").as("da"), col("pos").as("pa"), col("h")), Seq("da"))
      .join(pos.select(col("doc_id").as("db"), col("pos").as("pb"), col("h")), Seq("db", "h"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy(col("da"), col("db"), col("diag")).orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("da"), col("db"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("pa0"), count(lit(1)).as("rg"))
      .select(col("da"), col("db"), col("diag"), col("pa0"), col("rg"))
  }

  val q122ExactSubstr: Q = (s, d) => {
    val rl = diagRuns(minhashCands(s, d), posGrams(s, d, 3))
    rl.groupBy(col("da"), col("db"))
      .agg(sum(col("rg")).as("n_match"), count(lit(1)).as("n_runs"),
        (max(col("rg")) + 2).as("max_run_tokens"))
      .orderBy(col("da"), col("db"))
  }

  /** EXT — LSH band diagnostics: per SimHash band, the candidate-pair
    * cost it incurs, how many of its candidates verify, its precision,
    * and — the number that decides whether the band earns its keep —
    * how many verified pairs ONLY it surfaced (`n_unique`, the band's
    * marginal recall). OR-amplified banding is a cost/recall trade PER
    * BAND: a band with high cost and zero unique recall is pure
    * overhead to drop; one carrying unique pairs is load-bearing no
    * matter its precision. This is the tuning table behind every
    * "how many bands / how wide" decision, computed on the deployed
    * detector's own bands. Distances compute once per DISTINCT pair
    * and join back to the per-band candidate rows; everything is
    * integer except the one precision division.
    *
    * Scale shape: the same banded self-join as q51 (occupancy-capped,
    * never all-pairs) KEPT per band instead of distinct-ed, one
    * distinct-pair Hamming verify, two hash aggs; 4-row output.
    */
  val q140BandDiagnostics: Q = (s, d) => {
    val sig = tracked(simhashSig(documents(s, d)))
    val bands = tracked(bandOccCapped(simhashBands(sig)))
    val candB = tracked(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.band").as("band"), col("a.doc_id").as("da"),
        col("b.doc_id").as("db")))
    val xa = sig.select(col("doc_id").as("da") +:
      SimhashMods.indices.map(b => col(s"b$b").as(s"xa$b")): _*)
    val xb = sig.select(col("doc_id").as("db") +:
      SimhashMods.indices.map(b => col(s"b$b").as(s"xb$b")): _*)
    val pd = candB.select(col("da"), col("db")).distinct()
      .join(xa, Seq("da")).join(xb, Seq("db"))
      .withColumn("dist", simhashDist("xa", "xb"))
      .select(col("da"), col("db"), col("dist"))
    val cb = tracked(candB.join(pd, Seq("da", "db"))
      .withColumn("ver", (col("dist") <= SimhashMaxDist).cast("long")))
    val perBand = cb.groupBy(col("band"))
      .agg(count(lit(1)).as("n_cand"), sum(col("ver")).as("n_verified"))
    val uniq = cb.filter(col("ver") === 1)
      .groupBy(col("da"), col("db"))
      .agg(min(col("band")).as("band"), count(lit(1)).as("nb"))
      .filter(col("nb") === 1)
      .groupBy(col("band")).agg(count(lit(1)).as("n_unique"))
    perBand.join(uniq, Seq("band"), "left")
      .select(col("band"), col("n_cand"), col("n_verified"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (col("n_verified").cast("double") / col("n_cand")).as("prec"))
      .orderBy(col("band"))
  }

  /** EXT — duplicate-family size distribution: the one-page "dedup
    * report" a corpus owner reads before choosing a dedup policy — how
    * many families of each size exist, how many documents they absorb,
    * and the share of the corpus in each bucket (keep-one dedup
    * removes Σ(size−1)·n_clusters docs; the histogram IS that
    * arithmetic). Rides the session-memoized CC labels
    * ([[dupLabels]] — marginal cost after the memo build is two tiny
    * aggregates), so the report is free wherever q56/q79/q108/q114
    * already ran. Families are ≥2 by construction (every labeled
    * vertex is a pair endpoint); the size-1 row is corpus − labeled,
    * computed from 1-row broadcast totals. One double division per
    * row.
    */
  val q134DupSizeHist: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("csz"))
    val hist = sizes.groupBy(col("csz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csz")).as("n_docs"))
    val single = documents(s, d).agg(count(lit(1)).as("t"))
      .crossJoin(broadcast(lbl.agg(count(lit(1)).as("nl"))))
      .select(lit(1L).as("cluster_size"), (col("t") - col("nl")).as("n_clusters"),
        (col("t") - col("nl")).as("n_docs"))
    hist.select(col("cluster_size"), col("n_clusters"), col("n_docs"))
      .union(single)
      .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("total"))))
      .withColumn("pct_docs", col("n_docs").cast("double") / col("total"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"), col("pct_docs"))
      .orderBy(col("cluster_size"))
  }

  /** EXT — duplicate-family coherence audit: min-label transitive
    * closure MERGES BY CHAINING (a~b and b~c collapse a,b,c even when
    * a≁c), so a dedup QA must ask how much of each family is actually
    * pairwise-verified — coherence = verified edges / (k choose 2). A
    * coherence near 1 is a clique of true mutual near-dups; a large
    * family with coherence ≪ 1 is a CHAIN COLLAPSE (template pages
    * gluing unrelated docs), the classic over-merging failure a
    * keep-one policy then amplifies into data loss. Measured here: the
    * big families are chains, not cliques (the 112-member family at
    * sf0.001 carries coherence 0.027), exactly the case the audit
    * exists to flag. Rides the session memos ([[dupPairs]],
    * [[dupLabels]]) — marginal cost is two hash aggs; n_possible is
    * exact integer k(k−1)/2 with one double division per family.
    */
  val q137FamilyCoherence: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("csz"))
    // both endpoints of a verified pair share a family by construction,
    // so the edge count per family follows from either endpoint's label
    val edges = dupPairs(s, d)
      .join(lbl.select(col("id").as("da"), col("lbl")), Seq("da"))
      .groupBy(col("lbl")).agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("lbl"))
      .select(col("lbl").as("cluster_id"), col("csz"), col("n_edges"),
        expr("csz * (csz - 1) DIV 2").as("n_possible"))
      .withColumn("coherence", col("n_edges").cast("double") / col("n_possible"))
      .orderBy(col("cluster_id"))
  }

  /** EXT — similarity-measure calibration: per SimHash Hamming
    * distance bucket of the q51 verified pairs, the pair count and the
    * exact mean TRUE trigram Jaccard — the operating-point curve a
    * dedup owner reads before moving [[SimhashMaxDist]] (the proxy
    * distance is only useful insofar as it tracks the semantic
    * measure; this table IS that tracking, measured on the deployed
    * detector's own candidates). Grams are dual-residue 62-bit keys
    * (equality feeds the intersection counts — the q80/q120
    * birthday-collision rule); per-pair Jaccard is one division of
    * identical longs and the bucket mean folds via [[qsum8]]
    * (order-independent integer sum, invariant 2). Measured at
    * sf0.01: mean Jaccard ≈ 0.98 through dist ≤ 2, then 0.49 / 0.23 /
    * 0.046 / 0.017 at dist 3/4/5/6 — a cliff, not a slope: the proxy
    * saturates below 3 and decays fast after, so the threshold's
    * semantic meaning lives entirely in the 3..6 tail this table
    * quantifies (139 pairs, 108 of them in the two loosest buckets).
    *
    * Scale shape: rides the deployed pair table (banded, never
    * all-pairs); the intersection join fans out only to each pair's
    * own gram postings; output is ≤ SimhashMaxDist+1 rows.
    */
  val q139SimCalibration: Q = (s, d) => {
    val pairs = dupPairsDist(s, d)
    val hs = tracked(documents(s, d).select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash(
          col("text"), TextOps.P, 3, TextOps.P2)).as("hs"))
      .filter(size(col("hs")) > 0))
    val ex = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val inter = pairs.select(col("da"), col("db"))
      .join(ex.select(col("doc_id").as("da"), col("h")), Seq("da"))
      .join(ex.select(col("doc_id").as("db"), col("h")), Seq("db", "h"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("ni"))
    val sizes = hs.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    pairs
      .join(inter, Seq("da", "db"), "left")
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .withColumn("jac", col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .groupBy(col("dist").cast("int").as("dist"))
      .agg(count(lit(1)).as("n_pairs"), qsum8(col("jac")).as("jq8"))
      .select(col("dist"), col("n_pairs"),
        expr("CAST(jq8 AS DOUBLE) / 100000000.0 / n_pairs").as("mean_jac"))
      .orderBy(col("dist"))
  }

  /** Minimum verbatim-run length (in 3-gram matches; +2 = tokens) a
    * span must reach before [[q131DupMaskBudget]] masks it. 8 grams =
    * 10 tokens — measured to BIND both ways on this corpus: per-pair
    * longest runs span 3–95 tokens (p10 = 3, median 25–40 at the test
    * SFs), so short incidental matches stay unmasked while real
    * verbatim spans don't escape.
    */
  val MaskMinGrams = 8

  /** EXT — duplicate-span mask budget (the training-side consumer of
    * q122): Lee et al. (ACL 2022) recommend not TRAINING on text that
    * appears verbatim elsewhere — this op turns the per-pair
    * verbatim-run table into the per-DOCUMENT number a loss-masking
    * trainer needs: how many of each doc's tokens sit inside some
    * ≥[[MaskMinGrams]]-gram verbatim run shared with ANY candidate
    * partner, and the mask fraction. Runs cover token positions
    * [pa₀, pa₀+rg+1] on the left doc and the diagonal-shifted interval
    * on the right; per-doc coverage is the UNION of intervals
    * (overlapping runs from different partners must not double-count —
    * position-explode + distinct, integer-exact), so the budget is a
    * true token count, not a sum of span lengths.
    *
    * Scale shape: rides q122's banded candidate generation (never
    * all-pairs); the explode fans out only to matched-run token
    * positions (bounded by doc length per pair); everything else is
    * hash aggs and one left join back to the corpus scan.
    */
  /** The q131 core, factored over its three inputs so Round8OpsSpec
    * can drive it with gram STRINGS on a fixture (gram equality is the
    * verdict — the string model catches hash-collision wrongness the
    * hash-level oracle can't): `det(da, db)` candidate pairs,
    * `pos(doc_id, pos, h)` positional grams (arity [[MaskMinGrams]]'s
    * +2 token convention), `nt(doc_id, n_tokens)`.
    */
  private[graft] def maskBudget(det: org.apache.spark.sql.DataFrame,
      pos: org.apache.spark.sql.DataFrame,
      nt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // two explode branches read the run table (invariant 6)
    val rl = tracked(diagRuns(det, pos).filter(col("rg") >= MaskMinGrams))
    val covA = rl.select(col("da").as("doc_id"),
      explode(sequence(col("pa0"), col("pa0") + col("rg") + 1)).as("tp"))
    val covB = rl.select(col("db").as("doc_id"),
      explode(sequence(col("pa0") - col("diag"),
        col("pa0") - col("diag") + col("rg") + 1)).as("tp"))
    val masked = covA.union(covB).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("masked_tokens"))
    nt.join(masked, Seq("doc_id"), "left")
      .withColumn("masked_tokens", coalesce(col("masked_tokens"), lit(0L)))
      .withColumn("mask_frac",
        col("masked_tokens").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val q131DupMaskBudget: Q = (s, d) =>
    maskBudget(minhashCands(s, d), posGrams(s, d, 3),
      documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** EXT — dedup-corrected effective corpus size: every doc weighs
    * 1/cluster_size (q56's CC groups), so a family of k near-dups
    * contributes ONE doc's worth of tokens no matter how often it was
    * crawled — the "effective dataset size" number a scaling-law
    * budget actually wants, per source. Integer-exact: the weighted
    * token count folds as Σ (nt·10⁶) DIV csz in longs (the q42
    * quantize-then-sum discipline; one weight DIV per doc, identical
    * both engines), de-quantized once at the end with the qmean8
    * association. Measured before wiring: EVERY source carries dup
    * families (ratios 0.58–0.78 at sf0.01, no ratio-1 source exists at
    * either test SF), and singleton docs exercise the unweighted path
    * at doc grain inside every source (DedupWeightSpec).
    *
    * Scale shape: q56's label table (dup-population-sized) left-joins
    * the corpus scan; everything after is one per-source hash agg.
    */
  val q114EffectiveSize: Q = (s, d) => {
    val lbl = dupLabels(s, d)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("csz"))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .join(sizes, Seq("lbl"), "left")
      .withColumn("csz", coalesce(col("csz"), lit(1L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("nt")).as("raw_tokens"),
        sum(expr("(nt * 1000000L) DIV csz")).as("eff_q6"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"), col("raw_tokens"),
        col("eff_q6"),
        (col("eff_q6").cast("double") / lit(1e6) / col("raw_tokens")).as("eff_ratio"))
      .orderBy(col("source"))
  }

  /** Queries / candidate pool / picks for [[q107MmrRerank]]. */
  val MmrQueries = 5
  val MmrPool = 20
  val MmrK = 5

  /** EXT — MMR-diversified re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): per query, greedily pick [[MmrK]] results from the
    * [[MmrPool]]-deep cosine shortlist maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) with λ = 0.7 — the
    * retrieval-time near-dup suppressor (a top-5 of five copies of one
    * page is useless context; measured here: diversification changes
    * the picked set vs pure top-5 for 5/5 queries at sf0.001).
    *
    * Cross-engine exact greedy: cosines are bit-stable doubles
    * (DotFold's fixed fold order), then floor(cos·10⁶) longs make the
    * MMR objective pure integer — 7·rel − 3·maxsim — so argmax ties
    * break on vec_id identically everywhere (invariant 7). The first
    * pick is pure relevance (empty-set penalty defined as 0). The
    * oracle unrolls the K−1 greedy steps as Scala-generated CTEs —
    * selection state passes through anti-join + argmax per step, the
    * q42/q67 iterative-trainer pattern.
    *
    * Scale shape: queries broadcast (q29's brute-force scan is the
    * shortlist baseline — swap in the q42/q91 IVF probe for corpus
    * scale); everything after the shortlist touches |Q|·pool rows, and
    * the greedy joins are equi-joins on (qid, vid) over a persisted
    * pool-pair table of |Q|·pool² rows — driver-independent, bounded,
    * no per-row iteration outside the plan.
    */
  /** q107's shortlist stage, factored so PlanShapeSpec can inspect the
    * REAL join plans: the localCheckpoint in the greedy loop hides
    * every join from the final plan, so a guard on q107's output plan
    * would be vacuous (the session-5 measure-your-assertions lesson).
    * Returns (cand, sims), both persisted.
    */
  private[graft] def mmrPool(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.functions.DotFold
    val emb = tracked(embeddings(s, d).select(col("vec_id"), col("embedding"),
      sqrt(DotFold(col("embedding"), col("embedding"))).as("nrm")))
    val qs = emb.filter(col("vec_id") < MmrQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val cand = tracked(emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", DotFold(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= MmrPool)
      .select(col("qid"), col("vec_id").as("vid"), col("embedding"), col("nrm"),
        floor(col("cos") * lit(1000000d)).cast("long").as("rel")))
    val sims = tracked(cand.as("a").join(cand.as("b"),
        col("a.qid") === col("b.qid") && col("a.vid") =!= col("b.vid"))
      .select(col("a.qid").as("qid"), col("a.vid").as("a"), col("b.vid").as("b"),
        floor(DotFold(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")) * lit(1000000d)).cast("long").as("sim")))
    (cand, sims)
  }

  val q107MmrRerank: Q = (s, d) => {
    // round-18 flatten (the divEdgesOver rationale): the MmrK-step
    // driver loop (per-step anti-join + sims join + argmax + eager
    // checkpoint — ~12 jobs) is a per-qid sequential greedy over a
    // 20-candidate pool whose objective 7·rel − 3·max_{s∈S} sim(c,s)
    // is pure integer; the whole selection folds into ONE aggregation
    // over the collected pool with the |Q|·pool² sims as per-candidate
    // maps. Same longs, same argmax tie (max mmr, then min vid — here
    // min of struct(−mmr, vid)) ⇒ identical picks/scores; the oracle
    // (unrolled CTE steps) is unchanged and the hash gate proves it.
    val (cand, sims) = mmrPool(s, d)
    val simMap = sims.groupBy(col("qid"), col("a").as("vid"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("sim")))).as("sm"))
    val pool = cand.select(col("qid"), col("vid"), col("rel"))
      .join(simMap, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("vid"), col("rel"), col("sm"))).as("cs"))
    pool.select(col("qid").as("query_id"), explode(expr(
      s"""aggregate(sequence(1, $MmrK),
         |  CAST(array() AS ARRAY<STRUCT<pick: INT, vid: BIGINT, score: BIGINT>>),
         |  (acc, t) -> array_append(acc,
         |    aggregate(
         |      transform(
         |        filter(cs, c -> !exists(acc, s -> s.vid = c.vid)),
         |        c -> struct(
         |          -(7L * c.rel - 3L * coalesce(
         |              array_max(transform(acc, s -> element_at(c.sm, s.vid))),
         |              0L)) AS nm,
         |          c.vid AS vid)),
         |      CAST(NULL AS STRUCT<nm: BIGINT, vid: BIGINT>),
         |      (b, c) -> CASE WHEN b IS NULL THEN c
         |        WHEN c.nm < b.nm THEN c
         |        WHEN c.nm = b.nm AND c.vid < b.vid THEN c
         |        ELSE b END,
         |      b -> struct(CAST(t AS INT) AS pick, b.vid AS vid, -b.nm AS score))))
         |""".stripMargin)).as("r"))
      .select(col("query_id"), col("r.pick").as("pick"), col("r.vid").as("vec_id"),
        col("r.score").as("score"))
      .orderBy(col("query_id"), col("pick"))
  }

  /** q107's oracle: the same greedy unrolled as [[MmrK]]−1 CTE steps
    * (selection state = anti-join + per-query argmax per step), all
    * parameters shared with the Spark side (invariant 7).
    */
  private def q107OracleSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e7 AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |sc7 AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS vid,
      |    list_reduce(list_transform(generate_series(1, len(q.embedding)),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
      |      / (q.nrm * c.nrm) AS cos
      |  FROM e7 q JOIN e7 c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < $MmrQueries),
      |cand7 AS (
      |  SELECT qid, vid, CAST(floor(cos * 1000000) AS BIGINT) AS rel
      |  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM sc7)
      |  WHERE rk <= $MmrPool),
      |sims7 AS (
      |  SELECT a.qid, a.vid AS a, b.vid AS b,
      |    CAST(floor(list_reduce(list_transform(generate_series(1, len(ea.embedding)),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      |      / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) AS sim
      |  FROM cand7 a JOIN cand7 b ON a.qid = b.qid AND a.vid <> b.vid
      |    JOIN e7 ea ON ea.vec_id = a.vid JOIN e7 eb ON eb.vec_id = b.vid),
      |selall1 AS (
      |  SELECT qid, vid, 1 AS pick, 7 * rel AS score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vid) AS rn FROM cand7)
      |  WHERE rn = 1),
      |""".stripMargin
    for (t <- 2 to MmrK) {
      sb ++= s"""step$t AS (
        |  SELECT c.qid, c.vid, c.rel, max(s.sim) AS ms
        |  FROM cand7 c
        |  LEFT JOIN selall${t - 1} d ON d.qid = c.qid AND d.vid = c.vid
        |  JOIN sims7 s ON s.qid = c.qid AND s.a = c.vid
        |  JOIN selall${t - 1} p ON p.qid = s.qid AND p.vid = s.b
        |  WHERE d.vid IS NULL
        |  GROUP BY c.qid, c.vid, c.rel),
        |pick$t AS (
        |  SELECT qid, vid, $t AS pick, 7 * rel - 3 * ms AS score,
        |    row_number() OVER (PARTITION BY qid ORDER BY 7 * rel - 3 * ms DESC, vid) AS rn
        |  FROM step$t),
        |selall$t AS (
        |  SELECT qid, vid, pick, score FROM selall${t - 1}
        |  UNION ALL
        |  SELECT qid, vid, pick, score FROM pick$t WHERE rn = 1),
        |""".stripMargin
    }
    sb ++= s"""fin7 AS (SELECT 1)
      |SELECT qid AS query_id, CAST(pick AS INT) AS pick, vid AS vec_id, score
      |FROM selall$MmrK
      |ORDER BY query_id, pick""".stripMargin
    sb.toString
  }

  /** EXT — incremental connected-component label MAINTENANCE (the
    * operator a rolling 100 TB dedup actually runs): the corpus's
    * verified near-dup pairs split into an OLD wave (both endpoints
    * below the ⌊4n/5⌋ doc cut — the q92 freshness cut applied to the
    * pair graph) and a DELTA wave (larger endpoint at or past the cut:
    * pairs that exist only once the late docs arrive). The old wave is
    * labeled from scratch ([[graft.ops.Dedup.fromPairs]]); the delta
    * then merges via [[graft.ops.Dedup.mergeLabels]], which relabels
    * ONLY components the delta touches (the reduced representative
    * graph is wave-sized). Output per pair-involved doc: its merged
    * label, whether it was labeled before the wave, and whether the
    * wave relabeled it (measured non-vacuous: 8 relabels at sf0.001, 5
    * at sf0.01 — old components genuinely merge across the cut).
    *
    * The ORACLE is the full recompute — one recursive-CTE closure over
    * ALL pairs for the merged labels, a second over the old wave for
    * the flags — so the hash match IS the machine-checked merge law
    * `mergeLabels(cc(old), delta) ≡ cc(old ∪ delta)` (the q111
    * merge-law discipline applied to graph labels).
    */
  /** The OLD-wave labeling q146 merges into, session-memoized: in the
    * rolling pipeline these labels are STATE the service already holds
    * (StreamingLabels persists exactly this table between waves), so
    * the per-wave cost q146 should exhibit is the merge — not
    * rebuilding the state it merges into.
    */
  private[graft] def dupOldLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "cc_old_lbl", checkpoint = false) {
      val cut = graft.Tables.rowCount(s, d, "documents") * 4 / 5
      val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
      val lbl = graft.ops.Dedup.fromPairs(
        hold(dupPairs(s, d).filter(col("db") < cut)), track = hold)
      locals.foreach(_.unpersist(false))
      lbl
    }

  val q146CcMerge: Q = (s, d) => {
    val cut = graft.Tables.rowCount(s, d, "documents") * 4 / 5
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val delta = hold(dupPairs(s, d).filter(col("db") >= cut))
    val old = dupOldLabels(s, d)
    val merged = graft.ops.Dedup.mergeLabels(old, delta, track = hold)
    val out = merged
      .join(old.select(col("id"), col("lbl").as("old_lbl")), Seq("id"), "left")
      .select(col("id"), col("lbl"),
        when(col("old_lbl").isNotNull, 1L).otherwise(0L).as("was_old"),
        when(col("old_lbl").isNotNull && col("old_lbl") =!= col("lbl"), 1L)
          .otherwise(0L).as("relabeled"))
      .orderBy(col("id"))
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** EXT — ROLLING CC maintenance across multiple waves (q146 proves
    * one merge; this proves the merge is ASSOCIATIVE over a wave
    * sequence, which is what the rolling pipeline actually relies on):
    * the verified pair graph replays in three doc-id-ordered waves
    * (cuts at n/2 and 3n/4), each folded into the running label table
    * with [[graft.ops.Dedup.mergeLabels]] starting from EMPTY state —
    * exactly [[graft.streaming.StreamingLabels]]' batch loop. The
    * ORACLE is one from-scratch closure over all pairs: a hash match
    * proves fold(fold(fold(∅, w1), w2), w3) ≡ cc(w1 ∪ w2 ∪ w3) at the
    * driver gate (MergeLabelsSpec proves the same per-edge worst case
    * in-process).
    */
  val q148RollingCc: Q = (s, d) => {
    val n = graft.Tables.rowCount(s, d, "documents")
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val pr = dupPairs(s, d)
    val waves = Seq(
      pr.filter(col("db") >= n / 2 && col("db") < (3 * n) / 4),
      pr.filter(col("db") >= (3 * n) / 4))
    // wave 1 seeds the state directly — mergeLabels(∅, w) ≡ fromPairs(w)
    // (the empty-start merge path is spec-covered by the StreamingLabels
    // rolling test on the real corpus); the two SUCCESSIVE merges that
    // follow are the associativity chain this query exists to prove
    var lbl = graft.ops.Dedup.fromPairs(
      hold(pr.filter(col("db") < n / 2)), track = hold)
    for (w <- waves)
      lbl = graft.ops.Dedup.mergeLabels(lbl, hold(w), track = hold)
        .localCheckpoint(true)
    val out = lbl.orderBy(col("id")).localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** q149's deterministic deletion rule (`doc_id % CcDeleteMod ==
    * CcDeleteRes`), measured non-vacuous on the real pair graph BEFORE
    * wiring (the r6 discipline): at sf0.01 it deletes 23 labeled
    * vertices, SPLITS one component into multiple surviving pieces,
    * drops 34 now-pairless vertices, and relabels 54 survivors (sf0.001:
    * 24 deleted, 1 split, 35 dropped, 12 relabeled) — every branch of
    * [[graft.ops.Dedup.deleteLabels]] fires on real data.
    */
  val CcDeleteMod = 7
  val CcDeleteRes = 3

  /** EXT — DECREMENTAL label maintenance (document deletion — the
    * reverse of q146's merge, and the other half a rolling dedup needs:
    * GDPR erasure / retraction waves). The deletion set is the
    * [[CcDeleteMod]] residue class; [[graft.ops.Dedup.deleteLabels]]
    * re-propagates ONLY the affected components' surviving pairs
    * (deletion can split a component, so unlike the merge there is no
    * representative shortcut — but the scope stays component-bounded).
    * Output per surviving labeled doc: its post-delete label and
    * whether the delete wave relabeled it. The ORACLE is the full
    * recompute over live pairs (the q146 discipline in reverse): one
    * closure over all pairs for the old labels, one over the
    * delete-filtered pairs for the new — the hash match IS the law
    * `deleteLabels(cc(pairs), dels) ≡ cc(pairs minus dels)`, including
    * which vertices DROP (a kept-but-pairless vertex would change the
    * row count).
    */
  val q149CcDelete: Q = (s, d) => {
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val pairs = hold(dupPairs(s, d))
    val old = dupLabels(s, d)
    val deleted = documents(s, d)
      .filter(pmod(col("doc_id"), lit(CcDeleteMod.toLong)) === CcDeleteRes.toLong)
      .select(col("doc_id").as("id"))
    val live = graft.ops.Dedup.deleteLabels(old, pairs, deleted, track = hold)
    val out = live
      .join(old.select(col("id"), col("lbl").as("old_lbl")), Seq("id"))
      .select(col("id"), col("lbl"),
        when(col("old_lbl") =!= col("lbl"), 1L).otherwise(0L).as("relabeled"))
      .orderBy(col("id"))
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** q157's re-crawl slice (`doc_id % UpdMod == UpdRes`) and content
    * transform (`upper(text)` — wholesale content change, identical in
    * both engines over this ASCII corpus). Measured on the regenerated
    * corpus BEFORE wiring (the r6 discipline), at sf0.01: 44 of 139
    * verified pairs touch the slice; under the update 42 die, 2 survive
    * (both endpoints updated together — near-dups of each other stay
    * near-dups), and 3 NEW pairs appear that never existed; pairs
    * between untouched docs are bit-stable (the occupancy cap binds in
    * neither universe). Every update-law branch fires on real data.
    *
    * WARNING — this slice is SOURCE-ALIGNED: source = doc_id % 20 on
    * this corpus, so gcd(5, 20) > 1 means the slice touches exactly the
    * 4 sources ≡ 2 (mod 5) and touches them WHOLESALE. Harmless for
    * source-agnostic label CC (this consumer), but NEVER copy it into a
    * source-stratified operator — use the seeded priority-hash slice
    * there (q159/q160/q161 do).
    */
  val UpdMod = 5
  val UpdRes = 2

  /** THE re-crawl slice predicate over a doc-id column — one definition
    * shared by q157 and the memoized probe stages.
    */
  private[graft] def updSlicePred(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(id, lit(UpdMod.toLong)) === UpdRes.toLong

  /** EXT — label maintenance under DOCUMENT UPDATE (the re-crawl wave —
    * the third and last direction a rolling corpus moves: q146/q148
    * covered pair ARRIVALS, q149 covered DELETIONS; a re-crawled
    * document changes content in place, so its OLD pairs must die while
    * its NEW content's pairs admit it back). The operator is the
    * composition of the two proven halves: [[graft.ops.Dedup.deleteLabels]]
    * retracts the slice's old membership (components may split), then
    * [[graft.ops.Dedup.mergeLabels]] folds in the pair observations of
    * the re-crawled content — derived by re-running the q51 banding
    * over the UPDATED corpus, restricted to pairs touching the slice
    * (pairs between untouched docs are unchanged, so the service never
    * recomputes them; measured bit-stable under the update — the
    * occupancy cap binds in neither universe). The ORACLE is the full
    * recompute over the re-crawled corpus: one closure over the updated
    * pair universe (final labels), one over the original (the
    * was_old/relabeled flags) — the hash match IS the update law
    * `merge(delete(cc(P), U), pairs'(U)) ≡ cc(P'_whole-corpus)`,
    * including which docs drop (old content's last pairs gone) and
    * which appear (new content's first pairs).
    */
  /** q157's update-wave probe stages (updated-content SimHash → capped
    * bands → slice-probe candidates → verified new pairs),
    * SESSION-MEMOIZED per (session, sfDir): the derivation is
    * deterministic per (session, sfDir) exactly like the trained
    * towers, so the probe builds ONCE — charged as the bench's explicit
    * `upd_memo_build` line (the wave's recurring probe cost in
    * production; q157's timed run shows the retract + merge fold it
    * pays ON TOP each wave).
    *
    * Probe shape (unchanged from the r16 factoring): slice-touching
    * pairs via the PROBE plan — slice bands against the full band
    * table, candidate mass Σ occ_slice·occ instead of the full
    * self-join's Σ occ² (the q72 build/probe shape); the
    * occupancy cap applies over the SAME whole-universe banding the
    * full derivation uses, so the pair set is identical and the
    * full-universe oracle verifies the shortcut.
    */
  private[graft] def updDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    documents(s, d).select(col("doc_id"),
      when(updSlicePred(col("doc_id")), upper(col("text")))
        .otherwise(col("text")).as("text"))

  /** Memoized [[simhashSig]] of the re-crawled corpus. */
  private[graft] def updSig(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "upd_sig")(simhashSig(updDocs(s, d)))

  /** Memoized capped band table of the re-crawled corpus — the held
    * band state of the POST-update generation (what the label service
    * stores between waves).
    */
  private[graft] def updBands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "upd_bands")(
      bandOccCapped(simhashBands(updSig(s, d))))

  /** The re-crawl slice's band rows — a filter over the checkpointed
    * [[updBands]] (derived, not separately memoized).
    */
  private[graft] def updSliceBands(s: org.apache.spark.sql.SparkSession, d: String) =
    updBands(s, d).filter(updSlicePred(col("doc_id")))

  /** Memoized slice-probe candidate pairs (unordered, distinct). */
  private[graft] def updCands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "upd_cands") {
      val bandsU = updBands(s, d)
      updSliceBands(s, d).as("a").join(bandsU.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
        .distinct()
    }

  /** Memoized Hamming-verified new pairs of the update wave — the
    * frame q157 merges and the bench's `upd_new_pairs` mass counts.
    */
  private[graft] def updNewPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.TowerMemo.memoize(s, d, "upd_pairs") {
      val sigU = updSig(s, d)
      val xa = sigU.select(col("doc_id").as("da") +:
        SimhashMods.indices.map(b => col(s"b$b").as(s"xa$b")): _*)
      val xb = sigU.select(col("doc_id").as("db") +:
        SimhashMods.indices.map(b => col(s"b$b").as(s"xb$b")): _*)
      updCands(s, d).join(xa, Seq("da")).join(xb, Seq("db"))
        .withColumn("dist", simhashDist("xa", "xb"))
        .filter(col("dist") <= SimhashMaxDist)
        .select(col("da"), col("db"))
    }

  val q157LabelUpdate: Q = (s, d) => {
    val locals = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hold(df: org.apache.spark.sql.DataFrame) = { locals += df.persist(); df }
    val pairs = hold(dupPairs(s, d))
    val old = dupLabels(s, d)
    val updated = documents(s, d)
      .filter(updSlicePred(col("doc_id")))
      .select(col("doc_id").as("id"))
    // held: mergeLabels reads its `old` side three times (endpoint
    // reps, the relabel join, the fresh anti-join) — invariant 6
    val afterDel = hold(
      graft.ops.Dedup.deleteLabels(old, pairs, updated, track = hold))
    val merged = graft.ops.Dedup.mergeLabels(afterDel, updNewPairs(s, d), track = hold)
    val out = merged
      .join(old.select(col("id"), col("lbl").as("old_lbl")), Seq("id"), "left")
      .select(col("id"), col("lbl"),
        when(col("old_lbl").isNotNull, 1L).otherwise(0L).as("was_old"),
        when(col("old_lbl").isNotNull && col("old_lbl") =!= col("lbl"), 1L)
          .otherwise(0L).as("relabeled"),
        when(updSlicePred(col("id")), 1L)
          .otherwise(0L).as("is_updated"))
      .orderBy(col("id"))
      .localCheckpoint(true)
    locals.foreach(_.unpersist(false))
    out
  }

  /** Passages shorter than this many tokens don't make the q147 report
    * (the Lee et al. ExactSubstr cut applied corpus-wide; q122's
    * measured run spectrum populates both sides of it).
    */
  val MinPassageTokens = 20
  /** q147 keeps the top-N most-duplicated passages (plans as a
    * distributed TakeOrderedAndProject — never a single-partition
    * window).
    */
  val TopDupPassages = 50

  /** EXT — corpus-wide duplicated-passage mining (the Lee et al.
    * "what should I cut corpus-wide" readout that per-pair q122 and
    * per-doc q81 don't give): the top-[[TopDupPassages]] most-duplicated
    * passages of ≥ [[MinPassageTokens]] tokens, with how many docs and
    * spans carry each and the first member docs. NO pairing anywhere:
    * positional dual-residue 3-grams ([[posGrams]] — gram df ≥ 2
    * gates span membership, so equality is part of the verdict → 62-bit
    * keys, the q80/q81 rule), per-doc gaps-and-islands over the
    * duplicated positions (maximal spans of corpus-shared grams), then
    * the span's TOKEN STRING is cut from the document and passages
    * group by literal content — the final grouping is collision-proof
    * by construction, and DupPassagesSpec re-derives the whole table
    * from raw gram strings (no hashes) to close the df-gate's residual
    * collision blind spot. The n_docs ≥ 2 filter is load-bearing on
    * real data (measured: 4-5 maximal spans ≥ 20 tokens at sf0.01 are
    * single-doc — their grams are shared, but with DIFFERENT docs per
    * gram — and correctly drop).
    *
    * Scale shape: gram df is one hash agg on the gram key; the islands
    * window partitions per doc (bounded by doc length); passage
    * extraction is one row-local slice; content grouping is a hash
    * shuffle on the passage string (≤ doc-length keys, linear mass);
    * the top-N is a total-ordered orderBy + limit — planned as
    * TakeOrderedAndProject, per-partition heaps + one K-row merge,
    * never a global sort or single-partition window.
    */
  val q147DupPassages: Q = (s, d) => {
    // held passage-index state (the session memo; this query's timed
    // run shows the report derivation only)
    val spans = dupSpans(s, d)
    val px = spans.join(
        documents(s, d).select(col("doc_id"), split(col("text"), " ").as("t0")),
        Seq("doc_id"))
      .select(col("doc_id"),
        array_join(slice(col("t0"), col("p0").cast("int"), (col("rg") + 2).cast("int")), " ")
          .as("passage"))
    val perDoc = px.groupBy(col("passage"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
    perDoc.groupBy(col("passage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_spans"),
        array_join(transform(
          slice(sort_array(collect_list(col("doc_id"))), 1, 5),
          x => x.cast("string")), ",").as("docs"))
      .filter(col("n_docs") >= 2)
      .select(col("passage"),
        size(split(col("passage"), " ")).cast("long").as("n_tokens"),
        col("n_docs"), col("n_spans"), col("docs"))
      .orderBy(col("n_docs").desc, col("n_spans").desc, col("passage"))
      .limit(TopDupPassages)
      // re-assert output order after the limit (TakeOrderedAndProject
      // emits sorted rows today, but the contract wants an explicit
      // total ORDER BY at the plan root — 50 rows, free)
      .orderBy(col("n_docs").desc, col("n_spans").desc, col("passage"))
  }

  /** EXT — duplicated-passage CUT (the intervention q147 only reports:
    * Lee et al.'s ExactSubstr dedup removes each corpus-duplicated
    * span from every occurrence but the first). Spans are q147's
    * maximal df≥2 islands; a span cuts when its passage STRING occurs
    * in ≥2 docs and this doc is not the passage's keeper (= min doc_id
    * carrying it — keep-first at DOC granularity, so a keeper doc
    * retains all its occurrences; deterministic). Per-doc islands are
    * disjoint by construction (maximal runs of duplicated gram
    * positions), so the cut is a per-doc set subtraction of token
    * ranges — no overlap resolution needed. Output per AFFECTED doc:
    * cut-span count, token counts before/after, and sha256 of the
    * post-cut text (DuckDB `sha256` ≡ Spark `sha2(·,256)`, the r6
    * content-hash discipline — the oracle certifies the full rewritten
    * text without shipping it). A doc cut down to ZERO tokens stays in
    * the report with the empty-string hash (LEFT join + coalesce both
    * sides; the branch is corpus-dormant — DupPassagesSpec pins it
    * synthetically).
    *
    * Scale shape: the cut table is bounded by duplicated-passage mass
    * (delta-sized, not corpus-sized); the token anti-join is an
    * equi-join on doc_id with a range residual (per-doc ranges are
    * few); the rebuild groups per doc. Docs with no cut never enter
    * the explode — the semi-join gates first.
    */
  val q150PassageCut: Q = (s, d) => {
    // held passage-index state (the session memo; this query's timed
    // run shows the cut machinery only)
    val spans = dupSpans(s, d)
    val docsTok = tracked(documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t0")))
    val px = tracked(spans.join(docsTok, Seq("doc_id"))
      .select(col("doc_id"), col("p0"), col("rg"),
        array_join(slice(col("t0"), col("p0").cast("int"), (col("rg") + 2).cast("int")), " ")
          .as("passage")))
    val keeper = px.groupBy(col("passage"))
      .agg(min(col("doc_id")).as("keeper"), countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
    val cuts = tracked(px.join(keeper, Seq("passage"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("p0"), col("rg")))
    val toks = docsTok
      .join(cuts.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("t0")).as(Seq("z", "w")))
      .select(col("doc_id"), (col("z") + 1).cast("long").as("pos"), col("w"))
    val kept = toks.as("t").join(cuts.as("c"),
        col("t.doc_id") === col("c.doc_id") &&
          col("t.pos") >= col("c.p0") && col("t.pos") <= col("c.p0") + col("c.rg") + 1,
        "left_anti")
    val newText = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("ntext"))
    cuts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut"), sum(col("rg") + 2).as("toks_cut"))
      .join(docsTok.select(col("doc_id"), size(col("t0")).cast("long").as("tok_before")),
        Seq("doc_id"))
      .join(newText, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_cut"), col("tok_before"),
        (col("tok_before") - col("toks_cut")).as("tok_after"),
        sha2(coalesce(col("ntext"), lit("")), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "q31_neardup_minhash" -> q31NeardupMinhash,
    "q32_ngram_jaccard"   -> q32NgramJaccard,
    "q96_dedup_audit"     -> q96DedupAudit,
    "q97_hashed_bow"      -> q97HashedBow,
    "q33_lang_id"         -> q33LangId,
    "q34_quality"         -> q34Quality,
    "q35_token_stats"     -> q35TokenStats,
    "q36_fingerprint"     -> q36Fingerprint,
    "q37_simhash"         -> q37Simhash,
    "q38_multimodal"      -> q38Multimodal,
    "q39_ann_lsh"         -> q39AnnLsh,
    "q40_embedding_neardup" -> q40EmbeddingNeardup,
    "q41_simhash_dedup"   -> q41SimhashDedup,
    "q42_ann_ivf"         -> q42AnnIvf,
    "q90_pq_ann"          -> q90PqAnn,
    "q91_ivfadc_ann"      -> q91IvfadcAnn,
    "q92_index_append"    -> q92IndexAppend,
    "q171_index_delete"   -> q171IndexDelete,
    "q175_pipeline_wave"  -> q175PipelineWave,
    "q176_index_compact"  -> q176IndexCompact,
    "q177_pipeline_compact" -> q177PipelineCompact,
    "q93_recall_audit"    -> q93RecallAudit,
    "q51_simhash64"       -> q51Simhash64,
    "q52_topk_tokens"     -> q52TopkTokens,
    "q53_contamination"   -> q53Contamination,
    "q54_quantize_int8"   -> q54QuantizeInt8,
    "q55_stratified_sample" -> q55StratifiedSample,
    "q56_dup_groups"      -> q56DupGroups,
    "q72_incremental_dedup" -> q72IncrementalDedup,
    "q73_multimodal_dedup" -> q73MultimodalDedup,
    "q74_media_neardup" -> q74MediaNeardup,
    "q164_media_update" -> q164MediaUpdate,
    "q173_media_delete" -> q173MediaDelete,
    "q76_semantic_dedup" -> q76SemanticDedup,
    "q77_tfidf_topk" -> q77TfidfTopk,
    "q79_best_rep" -> q79BestRep,
    "q80_ngram_decontam" -> q80NgramDecontam,
    "q81_dup_spans" -> q81DupSpans,
    "q82_balanced_sample" -> q82BalancedSample,
    "q87_fuzzy_decontam" -> q87FuzzyDecontam,
    "q101_winnowing" -> q101Winnowing,
    "q105_simjoin" -> q105SimJoin,
    "q106_bm25" -> q106Bm25,
    "q165_bm25_update" -> q165Bm25Update,
    "q169_bm25_delete" -> q169Bm25Delete,
    "q125_rrf_fusion" -> q125RrfFusion,
    "q174_rerank_pairs" -> q174RerankPairs,
    "q107_mmr_rerank" -> q107MmrRerank,
    "q108_group_split" -> q108GroupSplit,
    "q114_effective_size" -> q114EffectiveSize,
    "q115_filtered_ann" -> q115FilteredAnn,
    "q118_cell_purity" -> q118CellPurity,
    "q126_knn_centrality" -> q126KnnCentrality,
    "q127_sq8_ann" -> q127Sq8Ann,
    "q128_embedding_outliers" -> q128EmbeddingOutliers,
    "q129_multiprobe_lsh" -> q129MultiProbeLsh,
    "q120_gram_novelty" -> q120GramNovelty,
    "q121_bbit_minhash" -> q121BbitMinhash,
    "q122_exact_substr" -> q122ExactSubstr,
    "q131_dup_mask_budget" -> q131DupMaskBudget,
    "q134_dup_size_hist" -> q134DupSizeHist,
    "q135_graph_ann" -> q135GraphAnn,
    "q143_graph_ann_div" -> q143GraphAnnDiv,
    "q144_refresh_audit" -> q144RefreshAudit,
    "q136_truncation_curve" -> q136TruncationCurve,
    "q137_family_coherence" -> q137FamilyCoherence,
    "q139_sim_calibration" -> q139SimCalibration,
    "q140_band_diagnostics" -> q140BandDiagnostics,
    "q146_cc_merge" -> q146CcMerge,
    "q147_dup_passages" -> q147DupPassages,
    "q148_rolling_cc" -> q148RollingCc,
    "q149_cc_delete" -> q149CcDelete,
    "q157_label_update" -> q157LabelUpdate,
    "q150_passage_cut" -> q150PassageCut,
    "q151_graph_append" -> q151GraphAppend,
    "q152_graph_delete" -> q152GraphDelete,
    "q154_graph_lifecycle" -> q154GraphLifecycle,
  )

  /** DuckDB CTE pair `(g$sfx, hs$sfx)` mirroring
    * `ShingleHash(text, P, arity, P2)` exactly (the q53 two-level-lambda
    * shape: build each gram's space-joined string, then char-fold it —
    * ShingleHash's algebraic residue composition equals the char-fold
    * of the joined string by construction; the dual 62-bit key packs
    * both folds as `h1·2³¹ + h2`). `distinct` controls list_distinct;
    * emitted from the same arity constants as the Spark side
    * (invariant 7 — parameters live in one place). Expects a `tk` CTE
    * providing `($carry, t0)` and ends with a trailing comma.
    */
  private[queries] def gramHashCtes(sfx: String, arity: Int, distinct: Boolean,
      carry: String = "doc_id"): String = {
    val joined = (0 until arity).map(o => s"t0[i+$o]").mkString(" || ' ' || ")
    def fold(m: Long) =
      s"""list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
      |           (a, x) -> (a * 31 + x) % $m)""".stripMargin
    val inner =
      s"list_transform(gs, s -> (${fold(P)}) * 2147483648 + (${fold(TextOps.P2)}))"
    val hsExpr = if (distinct) s"list_distinct($inner)" else inner
    s"""g$sfx AS (
      |  SELECT $carry, list_transform(generate_series(1, greatest(len(t0) - ${arity - 1}, 0)),
      |    i -> $joined) AS gs
      |  FROM tk WHERE len(t0) >= $arity),
      |hs$sfx AS (
      |  SELECT $carry, $hsExpr AS hs
      |  FROM g$sfx),
      |""".stripMargin
  }

  /** Shared CTE chain deriving the verified SimHash near-dup pairs
    * (`p(da, db, dist)`): one (th, votes, sh) chain per 16-bit SimHash
    * family, mirroring q37's per-bit-vote formulation, then the same
    * band join + Hamming verify as the Spark plan. Used by both the q51
    * and q56 oracles.
    */
  private[queries] def simhashPairCtes: String = simhashPairCtesOn()

  /** The SimHash pair-universe CTE chain, parameterized by the corpus
    * source relation and a CTE-name prefix (the q144 shared-WITH
    * discipline: default arguments emit byte-identical SQL for every
    * existing consumer; q157 instantiates it twice in one statement —
    * once over `documents`, once over the re-crawled corpus CTE).
    */
  private[queries] def simhashPairCtesOn(src: String = "documents",
      q: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${q}tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $src),
      |${q}bits AS (SELECT unnest(generate_series(0, 15)) AS b),
      |""".stripMargin
    for ((m, i) <- SimhashMods.zipWithIndex) {
      // list_prepend(0, …) seeds the fold at 0 so an empty token (double
      // space in `text`) hashes to 0 exactly like the Spark fold, instead
      // of erroring the init-less list_reduce
      sb ++= s"""${q}th$i AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(w)), k -> CAST(ascii(w[k]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % $m) AS h
        |  FROM ${q}tok),
        |${q}v$i AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h // CAST(2 ** b AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM ${q}th$i, ${q}bits GROUP BY doc_id, b),
        |${q}s$i AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        |  FROM ${q}v$i GROUP BY doc_id),
        |""".stripMargin
    }
    sb ++= s"""${q}sig AS (
      |  SELECT ${q}s0.doc_id, ${q}s0.sh AS b0, ${q}s1.sh AS b1, ${q}s2.sh AS b2, ${q}s3.sh AS b3
      |  FROM ${q}s0 JOIN ${q}s1 USING (doc_id) JOIN ${q}s2 USING (doc_id) JOIN ${q}s3 USING (doc_id)),
      |${q}bands0 AS (
      |  SELECT doc_id, b AS band,
      |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS key
      |  FROM ${q}sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
      |${q}keepb AS (SELECT band, key FROM ${q}bands0 GROUP BY band, key HAVING count(*) <= $BandOccCap),
      |${q}bands AS (SELECT ${q}bands0.* FROM ${q}bands0 JOIN ${q}keepb USING (band, key)),
      |${q}cands AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM ${q}bands a JOIN ${q}bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |${q}p AS (
      |  SELECT c.da, c.db,
      |    bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS dist
      |  FROM ${q}cands c JOIN ${q}sig x ON c.da = x.doc_id JOIN ${q}sig y ON c.db = y.doc_id),
      |${q}pairs AS (SELECT da, db FROM ${q}p WHERE dist <= $SimhashMaxDist),
      |""".stripMargin
    sb.toString
  }

  private def q51OracleSql: String =
    simhashPairCtes + s"""pf AS (SELECT 1)
      |SELECT da, db, CAST(dist AS INT) AS dist FROM p WHERE dist <= $SimhashMaxDist
      |ORDER BY da, db""".stripMargin

  /** Build/probe oracle mirror shared by [[q72IncrementalDedup]] and
    * [[q87FuzzyDecontam]] (one definition — the session-2 shared-prefix
    * discipline): reuses the shared sig/bands0 CTEs, then the frozen
    * side's occupancy cap, band equi-join, XOR verify, two-step
    * (min dist, then min old_id) nearest-neighbor = the Spark
    * struct-min. Parameterized by the index/probe split predicates and
    * the output column names.
    */
  private def buildProbeOracleSql(idxPred: String, probePred: String,
      cntCol: String, flagCol: String, nnCol: String): String =
    simhashPairCtes + s"""fro AS (SELECT * FROM bands0 WHERE $idxPred),
      |fkeep AS (SELECT band, key FROM fro GROUP BY band, key HAVING count(*) <= $BandOccCap),
      |fidx AS (SELECT fro.* FROM fro JOIN fkeep USING (band, key)),
      |nbb AS (SELECT * FROM bands0 WHERE $probePred),
      |mt0 AS (
      |  SELECT DISTINCT n.doc_id AS nid, f.doc_id AS old_id
      |  FROM nbb n JOIN fidx f ON n.band = f.band AND n.key = f.key),
      |mt AS (
      |  SELECT m.nid, m.old_id,
      |    CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS INTEGER) AS dist
      |  FROM mt0 m JOIN sig x ON m.nid = x.doc_id JOIN sig y ON m.old_id = y.doc_id),
      |ok AS (SELECT * FROM mt WHERE dist <= $SimhashMaxDist),
      |md AS (SELECT nid, CAST(count(*) AS BIGINT) AS $cntCol, min(dist) AS nn_dist
      |       FROM ok GROUP BY nid),
      |ag AS (
      |  SELECT md.nid, md.$cntCol, md.nn_dist, min(ok.old_id) AS $nnCol
      |  FROM md JOIN ok ON md.nid = ok.nid AND md.nn_dist = ok.dist
      |  GROUP BY md.nid, md.$cntCol, md.nn_dist)
      |SELECT d.doc_id, COALESCE(ag.$cntCol, CAST(0 AS BIGINT)) AS $cntCol,
      |  CASE WHEN ag.nid IS NULL THEN 0 ELSE 1 END AS $flagCol,
      |  COALESCE(ag.nn_dist, -1) AS nn_dist,
      |  COALESCE(ag.$nnCol, CAST(-1 AS BIGINT)) AS $nnCol
      |FROM (SELECT doc_id FROM documents WHERE $probePred) d
      |LEFT JOIN ag ON d.doc_id = ag.nid
      |ORDER BY doc_id""".stripMargin

  private def q72OracleSql: String =
    buildProbeOracleSql("doc_id % 4 <> 0", "doc_id % 4 = 0",
      "n_dup", "is_dup", "nn_old")

  /** Oracle for [[q87FuzzyDecontam]]: the shared build/probe mirror
    * with the eval split (doc_id % 10 = 0) as the frozen index and the
    * train split as the probe.
    */
  private def q87OracleSql: String =
    buildProbeOracleSql("doc_id % 10 = 0", "doc_id % 10 <> 0",
      "n_near", "is_flagged", "nn_eval")

  /** q56's oracle computes the components by a deliberately DIFFERENT
    * algorithm than the Spark side: a recursive-CTE transitive closure
    * over the symmetrized pair graph (`reach` accumulates every vertex
    * reachable from `id`; BFS working-table semantics, UNION dedup
    * terminates it), then `min(reachable)` per vertex. Quadratic in
    * cluster size — fine for an sf0.01 oracle, and order-independent
    * integer math, so it agrees bit-for-bit with the converged
    * propagation labels.
    */
  /** Recursive-CTE connected components over the `$pairs` CTE: yields
    * `${p}cl(id, lbl)` with `lbl = min(component)`. Parameterized by the
    * pair-source CTE name and a CTE-name prefix (the q144 shared-WITH
    * discipline: default arguments emit byte-identical SQL for the
    * existing q56/q57/q134 consumers; q146 instantiates it twice — once
    * over all pairs, once over the old wave).
    */
  private[queries] def ccCtesOn(pairs: String = "pairs", p: String = ""): String =
    s"""${p}verts AS (
      |  SELECT DISTINCT id FROM (SELECT da AS id FROM $pairs UNION ALL SELECT db FROM $pairs)),
      |${p}edges AS (SELECT da AS src, db AS dst FROM $pairs UNION ALL SELECT db, da FROM $pairs),
      |${p}reach AS (
      |  SELECT id, id AS lbl FROM ${p}verts
      |  UNION
      |  SELECT e.src AS id, r.lbl FROM ${p}edges e JOIN ${p}reach r ON e.dst = r.id),
      |${p}cl AS (SELECT id, min(lbl) AS lbl FROM ${p}reach GROUP BY id),
      |""".stripMargin

  private[queries] val ccCtes: String = ccCtesOn()

  private def q56OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      """sz AS (SELECT lbl AS cluster_id, count(*) AS csz FROM cl GROUP BY lbl),
      |out AS (
      |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.id)
      |SELECT o.doc_id, o.cluster_id,
      |  CASE WHEN o.doc_id = o.cluster_id THEN 1 ELSE 0 END AS keeper,
      |  COALESCE(s.csz, 1) AS cluster_size
      |FROM out o LEFT JOIN sz s ON o.cluster_id = s.cluster_id
      |ORDER BY o.doc_id""".stripMargin

  /** q134's oracle: the q56 recursive-CTE closure plus the size
    * histogram and the totals-difference singleton row.
    */
  private def q134OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      """sz134 AS (SELECT lbl, CAST(count(*) AS BIGINT) AS csz FROM cl GROUP BY lbl),
      |h134 AS (SELECT csz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(csz) AS BIGINT) AS n_docs FROM sz134 GROUP BY csz),
      |t134 AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
      |l134 AS (SELECT CAST(count(*) AS BIGINT) AS nl FROM cl),
      |u134 AS (
      |  SELECT * FROM h134
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), total - nl, total - nl FROM t134, l134)
      |SELECT cluster_size, n_clusters, n_docs,
      |  CAST(n_docs AS DOUBLE) / (SELECT total FROM t134) AS pct_docs
      |FROM u134 ORDER BY cluster_size""".stripMargin

  /** q146's oracle: the full recompute, twice — one recursive closure
    * over ALL pairs (merged labels), one over the old wave (the
    * was_old/relabeled flags) — so a hash match machine-checks the
    * merge law `mergeLabels(cc(old), delta) ≡ cc(old ∪ delta)`. Both
    * closures instantiate [[ccCtesOn]]; the doc-count cut mirrors as a
    * scalar-subquery CTE (the q135 fixed-SQL discipline).
    */
  private def q146OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """n146 AS (SELECT count(*) * 4 // 5 AS cut FROM documents),
        |oldpairs AS (SELECT da, db FROM pairs, n146 WHERE db < cut),
        |""".stripMargin +
      ccCtesOn("pairs") + ccCtesOn("oldpairs", "o") +
      """fin146 AS (SELECT 1)
        |SELECT v.id, c.lbl,
        |  CAST(CASE WHEN oc.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS was_old,
        |  CAST(CASE WHEN oc.lbl IS NOT NULL AND oc.lbl <> c.lbl THEN 1 ELSE 0 END AS BIGINT) AS relabeled
        |FROM verts v JOIN cl c ON v.id = c.id LEFT JOIN ocl oc ON v.id = oc.id
        |ORDER BY v.id""".stripMargin

  /** q148's oracle: ONE from-scratch closure over all pairs — the
    * Spark side's three-wave fold must land on exactly these labels.
    */
  private def q148OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtesOn("pairs") +
      """fin148 AS (SELECT 1)
        |SELECT id, lbl FROM cl ORDER BY id""".stripMargin

  /** q149's oracle: the full recompute over LIVE pairs — the pair table
    * materializes once (`mp149` — DuckDB re-inlines a plain CTE at
    * every reference, and two recursive closures reference it four
    * times), then one closure over all pairs (old labels) and one over
    * the delete-filtered pairs (new labels). Endpoints are
    * non-negative, so `%` here ≡ Spark's `pmod`.
    */
  private def q149OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s"""mp149 AS MATERIALIZED (SELECT da, db FROM pairs),
        |live149 AS MATERIALIZED (
        |  SELECT da, db FROM mp149
        |  WHERE da % $CcDeleteMod <> $CcDeleteRes AND db % $CcDeleteMod <> $CcDeleteRes),
        |""".stripMargin +
      ccCtesOn("mp149") + ccCtesOn("live149", "v") +
      """fin149 AS (SELECT 1)
        |SELECT v.id, v.lbl,
        |  CAST(CASE WHEN c.lbl <> v.lbl THEN 1 ELSE 0 END AS BIGINT) AS relabeled
        |FROM vcl v JOIN cl c ON v.id = c.id
        |ORDER BY v.id""".stripMargin

  /** q157's oracle: the pair chain instantiated TWICE in one statement
    * ([[simhashPairCtesOn]] — once over `documents`, once over the
    * re-crawled corpus CTE `docs157`), then one recursive closure per
    * universe: `ncl` (final labels, over the updated pair table) and
    * `ocl` (old labels, for the was_old/relabeled flags). Pair tables
    * materialize (each feeds a recursive closure that references it
    * several times — the round-9 DuckDB re-inlining lesson). Endpoints
    * are non-negative, so `%` ≡ Spark's `pmod`.
    */
  private def q157OracleSql: String =
    simhashPairCtesOn().replaceFirst("WITH ", "WITH RECURSIVE ") +
      s"""docs157 AS (
        |  SELECT doc_id, CASE WHEN doc_id % $UpdMod = $UpdRes THEN upper(text) ELSE text END AS text
        |  FROM documents),
        |""".stripMargin +
      simhashPairCtesOn("docs157", "u").stripPrefix("WITH ") +
      s"""mo157 AS MATERIALIZED (SELECT da, db FROM pairs),
        |mu157 AS MATERIALIZED (SELECT da, db FROM upairs),
        |""".stripMargin +
      ccCtesOn("mu157", "n") + ccCtesOn("mo157", "o") +
      s"""fin157 AS (SELECT 1)
        |SELECT v.id, c.lbl,
        |  CAST(CASE WHEN oc.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS was_old,
        |  CAST(CASE WHEN oc.lbl IS NOT NULL AND oc.lbl <> c.lbl THEN 1 ELSE 0 END AS BIGINT) AS relabeled,
        |  CAST(CASE WHEN v.id % $UpdMod = $UpdRes THEN 1 ELSE 0 END AS BIGINT) AS is_updated
        |FROM nverts v JOIN ncl c ON v.id = c.id LEFT JOIN ocl oc ON v.id = oc.id
        |ORDER BY v.id""".stripMargin

  /** q147's oracle: the same df-gated islands over [[gramHashCtes]]
    * positional grams, passage text cut with list_slice, content
    * grouping on the literal string — every stage integer or exact
    * string, no floats anywhere.
    */
  private def q147OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("147", 3, distinct = false) +
      s"""pg147 AS (SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM hs147),
      |df147 AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM pg147 GROUP BY h) WHERE c >= 2),
      |dup147 AS (SELECT pg147.* FROM pg147 JOIN df147 USING (h)),
      |isl147 AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup147),
      |sp147 AS (SELECT doc_id, min(pos) AS p0, count(*) AS rg FROM isl147 GROUP BY doc_id, grp
      |  HAVING count(*) + 2 >= $MinPassageTokens),
      |px147 AS (SELECT s.doc_id, array_to_string(list_slice(t0, CAST(p0 AS INT), CAST(p0 + rg + 1 AS INT)), ' ') AS passage
      |  FROM sp147 s JOIN tk USING (doc_id)),
      |pd147 AS (SELECT passage, doc_id, CAST(count(*) AS BIGINT) AS n FROM px147 GROUP BY 1, 2),
      |ag147 AS (
      |  SELECT passage, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_spans,
      |    array_to_string(list_transform(list_slice(list(doc_id ORDER BY doc_id), 1, 5), x -> CAST(x AS VARCHAR)), ',') AS docs
      |  FROM pd147 GROUP BY passage HAVING count(*) >= 2)
      |SELECT passage, CAST(len(string_split(passage, ' ')) AS BIGINT) AS n_tokens, n_docs, n_spans, docs
      |FROM ag147 ORDER BY n_docs DESC, n_spans DESC, passage LIMIT $TopDupPassages""".stripMargin

  /** q150's oracle: q147's island chain, passage-keeper resolution on
    * the literal string, the cut as a LEFT-JOIN-null token subtraction,
    * and sha256 over the rebuilt text (≡ Spark `sha2(·,256)`). The
    * token table materializes once — three consumers would otherwise
    * re-inline the gram pipeline.
    */
  private def q150OracleSql: String =
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("150", 3, distinct = false) +
      s"""pg150 AS (SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM hs150),
      |df150 AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM pg150 GROUP BY h) WHERE c >= 2),
      |dup150 AS (SELECT pg150.* FROM pg150 JOIN df150 USING (h)),
      |isl150 AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup150),
      |sp150 AS (SELECT doc_id, min(pos) AS p0, count(*) AS rg FROM isl150 GROUP BY doc_id, grp
      |  HAVING count(*) + 2 >= $MinPassageTokens),
      |px150 AS (SELECT s.doc_id, s.p0, s.rg,
      |    array_to_string(list_slice(t0, CAST(p0 AS INT), CAST(p0 + rg + 1 AS INT)), ' ') AS passage
      |  FROM sp150 s JOIN tk USING (doc_id)),
      |pk150 AS (SELECT passage, min(doc_id) AS keeper, count(DISTINCT doc_id) AS nd
      |  FROM px150 GROUP BY passage HAVING count(DISTINCT doc_id) >= 2),
      |cut150 AS MATERIALIZED (SELECT px.doc_id, px.p0, px.rg
      |  FROM px150 px JOIN pk150 k USING (passage) WHERE px.doc_id <> k.keeper),
      |tok150 AS (SELECT t.doc_id, unnest(t.t0) AS w, generate_subscripts(t.t0, 1) AS pos
      |  FROM tk t WHERE t.doc_id IN (SELECT doc_id FROM cut150)),
      |kept150 AS (SELECT t.doc_id, t.pos, t.w FROM tok150 t
      |  LEFT JOIN cut150 c ON t.doc_id = c.doc_id AND t.pos BETWEEN c.p0 AND c.p0 + c.rg + 1
      |  WHERE c.doc_id IS NULL),
      |nt150 AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS ntext FROM kept150 GROUP BY doc_id),
      |ag150 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut,
      |    CAST(sum(rg + 2) AS BIGINT) AS toks_cut FROM cut150 GROUP BY doc_id)
      |SELECT a.doc_id, a.n_cut, CAST(len(t.t0) AS BIGINT) AS tok_before,
      |  CAST(len(t.t0) AS BIGINT) - a.toks_cut AS tok_after,
      |  sha256(COALESCE(n.ntext, '')) AS text_sha
      |FROM ag150 a JOIN tk t USING (doc_id) LEFT JOIN nt150 n USING (doc_id)
      |ORDER BY a.doc_id""".stripMargin

  /** q135's oracle: the √n-cell edge-quantizer prefix
    * ([[edgeQuantCtes]]), the q126 within-cell
    * edge ranking, the two-layer graph (symmetrized kNN + rep clique),
    * then every beam hop unrolled as CTEs (the q107 greedy discipline —
    * candidates = previous beam UNION its out-neighbors, re-scored and
    * re-topped per hop; re-scoring is free of drift because every cos
    * is the same fixed fold).
    */
  private def q135OracleSql: String =
    graphSearchOracleSql(
      s"""kd AS (SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
        |    FROM scknn) WHERE rk <= $KnnGK),
        |""".stripMargin)

  /** q143's oracle: the q135 search tail over the [[KnnGK]]-step
    * unrolled heuristic-2 prune — per step, conflict cosines are rows
    * of `scknn` itself (same-cell endpoints), so each step is two
    * equi-joins + one per-src argmax.
    */
  /** The heuristic-2 edge unroll over an arbitrary scored pair CTE —
    * factored so q143 (full-corpus `scknn`) and q151 (old-only `gsck`,
    * `g`-prefixed names) share one generator; default arguments emit
    * byte-identical SQL for q143 (the q144 shared-generator rule).
    * Every dv/cf is MATERIALIZED: each step references the previous
    * dv up to three times, and DuckDB's default re-inlining would
    * multiply the whole chain ~3^KnnGK times (measured: 76 s inlined,
    * 1.6 s materialized at sf0.01). Ends defining `${p}kd(src, dst)`.
    */
  private def divEdgeCtes(pairSrc: String = "scknn", p: String = "",
      conflictSrc: String = null): String = {
    // q152's repair prune selects from a per-vertex CANDIDATE table but
    // must test conflicts against every within-cell pair — callers pass
    // conflictSrc = the full pair CTE; the default (= pairSrc) emits
    // byte-identical SQL for q143/q151 (the q144 shared-generator rule)
    val cs = if (conflictSrc == null) pairSrc else conflictSrc
    val sb = new StringBuilder
    sb ++= s"""${p}dvc AS MATERIALIZED (SELECT src, dst, cos FROM (
      |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |    FROM $pairSrc) WHERE rk <= $DivEfC),
      |${p}dv1 AS MATERIALIZED (SELECT src, dst FROM (
      |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
      |    FROM ${p}dvc) WHERE rn = 1),
      |""".stripMargin
    for (t <- 2 to KnnGK) {
      sb ++= s"""${p}cf$t AS MATERIALIZED (
        |  SELECT DISTINCT c.src, c.dst
        |  FROM ${p}dvc c JOIN ${p}dv${t - 1} k ON c.src = k.src AND c.dst <> k.dst
        |  JOIN $cs p ON p.src = c.dst AND p.dst = k.dst
        |  WHERE p.cos >= c.cos),
        |${p}nx$t AS (SELECT src, dst FROM (
        |    SELECT c.src, c.dst,
        |      row_number() OVER (PARTITION BY c.src ORDER BY c.cos DESC, c.dst) AS rn
        |    FROM ${p}dvc c
        |    LEFT JOIN ${p}dv${t - 1} k ON c.src = k.src AND c.dst = k.dst
        |    LEFT JOIN ${p}cf$t f ON c.src = f.src AND c.dst = f.dst
        |    WHERE k.dst IS NULL AND f.dst IS NULL) WHERE rn = 1),
        |${p}dv$t AS MATERIALIZED (SELECT * FROM ${p}dv${t - 1} UNION ALL SELECT * FROM ${p}nx$t),
        |""".stripMargin
    }
    sb ++= s"""${p}kd AS (SELECT src, dst FROM ${p}dv$KnnGK),
      |""".stripMargin
    sb.toString
  }

  private def q143OracleSql: String = graphSearchOracleSql(divEdgeCtes())

  /** q151's oracle: the frozen-graph append lifecycle unrolled
    * CTE-for-CTE — old-trained √n_old-cell quantizer
    * ([[edgeQuantCtes]] with `eno` as both training and assignment
    * source, `g`-prefixed), old within-cell pairs, old heuristic-2
    * edges ([[divEdgeCtes]] over `gsck`), the per-hop attach beam
    * (width [[DivEfC]]) for every NEW vector over the old graph, the
    * per-step heuristic-2 prune of each new node's candidates
    * (conflict cosine = fresh fold between the two candidate vectors —
    * attach candidates span cells), then q135's final beam over the
    * combined edge set with the frozen rep clique, exact-top-5 audit,
    * and the is_new flag from the same `count(*)*4//5` cut q92 uses.
    */
  /** The q151 lifecycle prefix — frozen old tower, attach beam, attach
    * prune, combined edge set `gkd2` — factored so q154 (the composed
    * append-then-delete) hosts the identical build before its delete
    * CTEs. Emits byte-identical SQL to the pre-factor q151 oracle.
    */
  private def g151PrefixCtes(): String = {
    val sb = new StringBuilder
    sb ++= embHeadCtes(materialized = true)
    sb ++= s"""g151cut AS (SELECT count(*) * 4 // 5 AS cut FROM embeddings),
      |eno AS MATERIALIZED (SELECT en.* FROM en, g151cut WHERE en.vec_id < g151cut.cut),
      |""".stripMargin
    sb ++= edgeQuantCtes(materialized = true, src = "eno", kFrom = "eno",
      p = "g", header = false)
    sb ++= s"""gav AS (SELECT geqaf.vec_id, geqaf.cell, en.v, en.nrm
      |  FROM geqaf JOIN en ON geqaf.vec_id = en.vec_id),
      |gsck AS MATERIALIZED (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      |  FROM gav a JOIN gav b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |""".stripMargin
    sb ++= divEdgeCtes("gsck", "g")
    sb ++= s"""greps AS (SELECT cell, min(vec_id) AS rid FROM geqaf GROUP BY cell),
      |gged AS MATERIALIZED (
      |  SELECT src, dst FROM gkd
      |  UNION SELECT dst, src FROM gkd
      |  UNION SELECT a.rid, b.rid FROM greps a, greps b WHERE a.rid <> b.rid),
      |gnew AS MATERIALIZED (SELECT en.* FROM en, g151cut WHERE en.vec_id >= g151cut.cut),
      |gent AS (SELECT min(vec_id) AS vid FROM eno),
      |ab0 AS (
      |  SELECT n.vec_id AS nid, e.vec_id, ${dotSql("n.v", "e.v")} / (n.nrm * e.nrm) AS cos
      |  FROM gnew n, gent JOIN en e ON e.vec_id = gent.vid),
      |""".stripMargin
    for (t <- 1 to GsHops) {
      sb ++= s"""abc$t AS (
        |  SELECT nid, vec_id FROM ab${t - 1}
        |  UNION
        |  SELECT b.nid, g.dst FROM ab${t - 1} b JOIN gged g ON b.vec_id = g.src),
        |abs$t AS (
        |  SELECT c.nid, c.vec_id, ${dotSql("n.v", "e.v")} / (n.nrm * e.nrm) AS cos
        |  FROM abc$t c JOIN en e ON c.vec_id = e.vec_id JOIN gnew n ON c.nid = n.vec_id),
        |ab$t AS MATERIALIZED (SELECT nid, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY nid ORDER BY cos DESC, vec_id) AS rk
        |    FROM abs$t) WHERE rk <= $DivEfC),
        |""".stripMargin
    }
    sb ++= foldPruneCtes(s"ab$GsHops", "nid", "n")
    sb ++= s"""gkd2 AS (SELECT src, dst FROM gkd UNION ALL SELECT nid AS src, vec_id AS dst FROM ndv$KnnGK),
      |""".stripMargin
    sb.toString
  }

  /** The [[heuristic2FoldPrune]] greedy unrolled as CTEs — conflicts
    * are fresh dot folds via `en` (never pair-table rows). q151's
    * attach prune instantiates it keyed by `nid` with the `n` prefix
    * (byte-identical to the pre-factor inline SQL — diffed against the
    * committed oracle_sql.json); q154's repair prune keys by `src`
    * with the `r` prefix. Ends defining `${p}dv$KnnGK(key, vec_id)`.
    */
  private def foldPruneCtes(candSrc: String, key: String, p: String): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}dv1 AS MATERIALIZED (SELECT $key, vec_id FROM (
      |    SELECT $key, vec_id, row_number() OVER (PARTITION BY $key ORDER BY cos DESC, vec_id) AS rn
      |    FROM $candSrc) WHERE rn = 1),
      |""".stripMargin
    for (t <- 2 to KnnGK) {
      sb ++= s"""${p}cf$t AS MATERIALIZED (
        |  SELECT DISTINCT c.$key, c.vec_id
        |  FROM $candSrc c JOIN ${p}dv${t - 1} k ON c.$key = k.$key AND c.vec_id <> k.vec_id
        |  JOIN en ec ON ec.vec_id = c.vec_id JOIN en ek ON ek.vec_id = k.vec_id
        |  WHERE ${dotSql("ec.v", "ek.v")} / (ec.nrm * ek.nrm) >= c.cos),
        |${p}nx$t AS (SELECT $key, vec_id FROM (
        |    SELECT c.$key, c.vec_id,
        |      row_number() OVER (PARTITION BY c.$key ORDER BY c.cos DESC, c.vec_id) AS rn
        |    FROM $candSrc c
        |    LEFT JOIN ${p}dv${t - 1} k ON c.$key = k.$key AND c.vec_id = k.vec_id
        |    LEFT JOIN ${p}cf$t f ON c.$key = f.$key AND c.vec_id = f.vec_id
        |    WHERE k.vec_id IS NULL AND f.vec_id IS NULL) WHERE rn = 1),
        |${p}dv$t AS MATERIALIZED (SELECT * FROM ${p}dv${t - 1} UNION ALL SELECT * FROM ${p}nx$t),
        |""".stripMargin
    }
    sb.toString
  }

  private def q151OracleSql: String = {
    val sb = new StringBuilder
    sb ++= g151PrefixCtes()
    sb ++= s"""cged AS MATERIALIZED (
      |  SELECT src, dst FROM gkd2
      |  UNION SELECT dst, src FROM gkd2
      |  UNION SELECT a.rid, b.rid FROM greps a, greps b WHERE a.rid <> b.rid),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 5),
      |ent AS (SELECT min(vec_id) AS vid FROM en),
      |fb0 AS (
      |  SELECT q.query_id, e.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
      |  FROM qx q, ent JOIN en e ON e.vec_id = ent.vid),
      |""".stripMargin
    for (t <- 1 to GsHops) {
      sb ++= s"""fgc$t AS (
        |  SELECT query_id, vec_id FROM fb${t - 1}
        |  UNION
        |  SELECT b.query_id, g.dst FROM fb${t - 1} b JOIN cged g ON b.vec_id = g.src),
        |fgs$t AS (
        |  SELECT c.query_id, c.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
        |  FROM fgc$t c JOIN en e ON c.vec_id = e.vec_id JOIN qx q ON c.query_id = q.query_id),
        |fb$t AS (SELECT query_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |    FROM fgs$t) WHERE rk <= $GsBeam),
        |""".stripMargin
    }
    sb ++= s"""ex151 AS (SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) DESC, e.vec_id) AS rk
      |    FROM en e, qx q WHERE e.vec_id <> q.query_id) WHERE rk <= 5),
      |fin151 AS (SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM fb$GsHops WHERE vec_id <> query_id)
      |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.vec_id,
      |  f.vec_id >= (SELECT cut FROM g151cut) AS is_new, f.cos,
      |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact_topk
      |FROM fin151 f LEFT JOIN ex151 e ON f.query_id = e.query_id AND f.vec_id = e.vec_id
      |WHERE f.rank <= 5
      |ORDER BY f.query_id, f.rank""".stripMargin
    sb.toString
  }

  /** q154's oracle: the ENTIRE composed lifecycle in one statement —
    * the q151 prefix verbatim ([[g151PrefixCtes]]: frozen old tower,
    * attach beam + prune, combined edges `gkd2`), the q152-style
    * tombstone and liveness-split CTEs over the COMBINED adjacency, the
    * FOLD-SCORED repair candidates (attach edges cross cells, so the
    * score is a fresh dot fold, not an scknn probe), the repair prune
    * ([[foldPruneCtes]] keyed by `src`), then the live beam with the
    * frozen-cell reps minus tombstones and the exact audit over live
    * vectors.
    */
  private def q154OracleSql: String = {
    val sb = new StringBuilder
    sb ++= g151PrefixCtes()
    sb ++= s"""ddel AS MATERIALIZED (SELECT vec_id FROM en
      |  WHERE ${priorityHashSqlOn("vec_id")} < $DeleteBound),
      |dsl AS (SELECT k.src, k.dst FROM gkd2 k
      |  LEFT JOIN ddel a ON k.src = a.vec_id WHERE a.vec_id IS NULL),
      |dle AS MATERIALIZED (SELECT s.src, s.dst FROM dsl s
      |  LEFT JOIN ddel b ON s.dst = b.vec_id WHERE b.vec_id IS NULL),
      |ddo AS (SELECT s.src, s.dst AS x FROM dsl s
      |  JOIN ddel b ON s.dst = b.vec_id),
      |daf AS (SELECT DISTINCT src FROM ddo),
      |drp AS (SELECT d.src, k.dst FROM ddo d JOIN gkd2 k ON k.src = d.x
      |  LEFT JOIN ddel y ON k.dst = y.vec_id
      |  WHERE y.vec_id IS NULL AND k.dst <> d.src),
      |dcand AS (SELECT DISTINCT src, dst FROM (
      |    SELECT e.src, e.dst FROM dle e JOIN daf a ON e.src = a.src
      |    UNION ALL SELECT src, dst FROM drp)),
      |rsc AS MATERIALIZED (
      |  SELECT c.src, c.dst AS vec_id,
      |    ${dotSql("es.v", "ed.v")} / (es.nrm * ed.nrm) AS cos
      |  FROM dcand c JOIN en es ON es.vec_id = c.src
      |  JOIN en ed ON ed.vec_id = c.dst),
      |rcand AS MATERIALIZED (SELECT src, vec_id, cos FROM (
      |    SELECT src, vec_id, cos,
      |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, vec_id) AS rk
      |    FROM rsc) WHERE rk <= $DivEfC),
      |""".stripMargin
    sb ++= foldPruneCtes("rcand", "src", "r")
    sb ++= s"""radj AS (
      |  SELECT e.src, e.dst FROM dle e LEFT JOIN daf a ON e.src = a.src
      |  WHERE a.src IS NULL
      |  UNION ALL SELECT src, vec_id AS dst FROM rdv$KnnGK),
      |lasg AS (SELECT q.vec_id, q.cell FROM geqaf q
      |  LEFT JOIN ddel x ON q.vec_id = x.vec_id WHERE x.vec_id IS NULL),
      |lreps AS (SELECT cell, min(vec_id) AS rid FROM lasg GROUP BY cell),
      |lged AS MATERIALIZED (
      |  SELECT src, dst FROM radj
      |  UNION SELECT dst, src FROM radj
      |  UNION SELECT a.rid, b.rid FROM lreps a, lreps b WHERE a.rid <> b.rid),
      |enl AS MATERIALIZED (SELECT e.* FROM en e
      |  LEFT JOIN ddel x ON e.vec_id = x.vec_id WHERE x.vec_id IS NULL),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 5),
      |lent AS (SELECT min(vec_id) AS vid FROM enl),
      |lb0 AS (
      |  SELECT q.query_id, e.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
      |  FROM qx q, lent JOIN en e ON e.vec_id = lent.vid),
      |""".stripMargin
    for (t <- 1 to GsHops) {
      sb ++= s"""lgc$t AS (
        |  SELECT query_id, vec_id FROM lb${t - 1}
        |  UNION
        |  SELECT b.query_id, g.dst FROM lb${t - 1} b JOIN lged g ON b.vec_id = g.src),
        |lgs$t AS (
        |  SELECT c.query_id, c.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
        |  FROM lgc$t c JOIN en e ON c.vec_id = e.vec_id JOIN qx q ON c.query_id = q.query_id),
        |lb$t AS (SELECT query_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |    FROM lgs$t) WHERE rk <= $GsBeam),
        |""".stripMargin
    }
    sb ++= s"""ex154 AS (SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) DESC, e.vec_id) AS rk
      |    FROM enl e, qx q WHERE e.vec_id <> q.query_id) WHERE rk <= 5),
      |fin154 AS (SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM lb$GsHops WHERE vec_id <> query_id)
      |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.vec_id,
      |  f.vec_id >= (SELECT cut FROM g151cut) AS is_new, f.cos,
      |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact_topk
      |FROM fin154 f LEFT JOIN ex154 e ON f.query_id = e.query_id AND f.vec_id = e.vec_id
      |WHERE f.rank <= 5
      |ORDER BY f.query_id, f.rank""".stripMargin
    sb.toString
  }

  /** q152's oracle: the q143 prefix verbatim (edge quantizer, scored
    * within-cell pairs, heuristic-2 edges → `kd`), the tombstone hash
    * CTE, liveness splits of the adjacency, the repair-candidate
    * derivation (surviving out-neighbors ∪ dead neighbors' live
    * out-neighbors), the repair prune ([[divEdgeCtes]] over the scored
    * candidate table with conflict lookups in `scknn`), then the final
    * beam over the repaired adjacency + live rep clique with entry =
    * min LIVE vec_id and the exact audit over live vectors only.
    */
  private def q152OracleSql: String = {
    val sb = new StringBuilder
    sb ++= edgeQuantCtes(materialized = true)
    sb ++= s"""av AS (SELECT eqaf.vec_id, eqaf.cell, en.v, en.nrm
      |  FROM eqaf JOIN en ON eqaf.vec_id = en.vec_id),
      |scknn AS MATERIALIZED (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |""".stripMargin
    sb ++= divEdgeCtes()
    sb ++= s"""ddel AS MATERIALIZED (SELECT vec_id FROM en
      |  WHERE ${priorityHashSqlOn("vec_id")} < $DeleteBound),
      |dsl AS (SELECT k.src, k.dst FROM kd k
      |  LEFT JOIN ddel a ON k.src = a.vec_id WHERE a.vec_id IS NULL),
      |dle AS MATERIALIZED (SELECT s.src, s.dst FROM dsl s
      |  LEFT JOIN ddel b ON s.dst = b.vec_id WHERE b.vec_id IS NULL),
      |ddo AS (SELECT s.src, s.dst AS x FROM dsl s
      |  JOIN ddel b ON s.dst = b.vec_id),
      |daf AS (SELECT DISTINCT src FROM ddo),
      |drp AS (SELECT d.src, k.dst FROM ddo d JOIN kd k ON k.src = d.x
      |  LEFT JOIN ddel y ON k.dst = y.vec_id
      |  WHERE y.vec_id IS NULL AND k.dst <> d.src),
      |dcand AS (SELECT DISTINCT src, dst FROM (
      |    SELECT e.src, e.dst FROM dle e JOIN daf a ON e.src = a.src
      |    UNION ALL SELECT src, dst FROM drp)),
      |dsc AS MATERIALIZED (SELECT c.src, c.dst, p.cos
      |  FROM dcand c JOIN scknn p ON p.src = c.src AND p.dst = c.dst),
      |""".stripMargin
    sb ++= divEdgeCtes("dsc", "r", conflictSrc = "scknn")
    sb ++= s"""radj AS (
      |  SELECT e.src, e.dst FROM dle e LEFT JOIN daf a ON e.src = a.src
      |  WHERE a.src IS NULL
      |  UNION ALL SELECT src, dst FROM rkd),
      |lasg AS (SELECT q.vec_id, q.cell FROM eqaf q
      |  LEFT JOIN ddel x ON q.vec_id = x.vec_id WHERE x.vec_id IS NULL),
      |lreps AS (SELECT cell, min(vec_id) AS rid FROM lasg GROUP BY cell),
      |lged AS MATERIALIZED (
      |  SELECT src, dst FROM radj
      |  UNION SELECT dst, src FROM radj
      |  UNION SELECT a.rid, b.rid FROM lreps a, lreps b WHERE a.rid <> b.rid),
      |enl AS MATERIALIZED (SELECT e.* FROM en e
      |  LEFT JOIN ddel x ON e.vec_id = x.vec_id WHERE x.vec_id IS NULL),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 5),
      |lent AS (SELECT min(vec_id) AS vid FROM enl),
      |lb0 AS (
      |  SELECT q.query_id, e.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
      |  FROM qx q, lent JOIN en e ON e.vec_id = lent.vid),
      |""".stripMargin
    for (t <- 1 to GsHops) {
      sb ++= s"""lgc$t AS (
        |  SELECT query_id, vec_id FROM lb${t - 1}
        |  UNION
        |  SELECT b.query_id, g.dst FROM lb${t - 1} b JOIN lged g ON b.vec_id = g.src),
        |lgs$t AS (
        |  SELECT c.query_id, c.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
        |  FROM lgc$t c JOIN en e ON c.vec_id = e.vec_id JOIN qx q ON c.query_id = q.query_id),
        |lb$t AS (SELECT query_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |    FROM lgs$t) WHERE rk <= $GsBeam),
        |""".stripMargin
    }
    sb ++= s"""ex152 AS (SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) DESC, e.vec_id) AS rk
      |    FROM enl e, qx q WHERE e.vec_id <> q.query_id) WHERE rk <= 5),
      |fin152 AS (SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM lb$GsHops WHERE vec_id <> query_id)
      |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.vec_id, f.cos,
      |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact_topk
      |FROM fin152 f LEFT JOIN ex152 e ON f.query_id = e.query_id AND f.vec_id = e.vec_id
      |WHERE f.rank <= 5
      |ORDER BY f.query_id, f.rank""".stripMargin
    sb.toString
  }

  /** The shared q135/q143 oracle: edge-quantizer prefix, scored
    * within-cell pairs (`scknn`), a caller-supplied edge CTE block that
    * must end with `kd(src, dst)`, then the two-layer graph and the
    * unrolled beam hops.
    */
  private def graphSearchOracleSql(edgeCtes: String): String = {
    val sb = new StringBuilder
    sb ++= edgeQuantCtes(materialized = true)
    sb ++= s"""av AS (SELECT eqaf.vec_id, eqaf.cell, en.v, en.nrm
      |  FROM eqaf JOIN en ON eqaf.vec_id = en.vec_id),
      |scknn AS MATERIALIZED (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |""".stripMargin
    sb ++= edgeCtes
    sb ++= s"""reps AS (SELECT cell, min(vec_id) AS rid FROM eqaf GROUP BY cell),
      |ged AS (
      |  SELECT src, dst FROM kd
      |  UNION SELECT dst, src FROM kd
      |  UNION SELECT a.rid, b.rid FROM reps a, reps b WHERE a.rid <> b.rid),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 5),
      |ent AS (SELECT min(vec_id) AS vid FROM en),
      |b0 AS (
      |  SELECT q.query_id, e.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
      |  FROM qx q, ent JOIN en e ON e.vec_id = ent.vid),
      |""".stripMargin
    for (t <- 1 to GsHops) {
      sb ++= s"""gc$t AS (
        |  SELECT query_id, vec_id FROM b${t - 1}
        |  UNION
        |  SELECT b.query_id, g.dst FROM b${t - 1} b JOIN ged g ON b.vec_id = g.src),
        |gs$t AS (
        |  SELECT c.query_id, c.vec_id, ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) AS cos
        |  FROM gc$t c JOIN en e ON c.vec_id = e.vec_id JOIN qx q ON c.query_id = q.query_id),
        |b$t AS (SELECT query_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |    FROM gs$t) WHERE rk <= $GsBeam),
        |""".stripMargin
    }
    sb ++= s"""ex135 AS (SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${dotSql("q.qv", "e.v")} / (q.qnrm * e.nrm) DESC, e.vec_id) AS rk
      |    FROM en e, qx q WHERE e.vec_id <> q.query_id) WHERE rk <= 5),
      |fin AS (SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM b$GsHops WHERE vec_id <> query_id)
      |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.vec_id, f.cos,
      |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact_topk
      |FROM fin f LEFT JOIN ex135 e ON f.query_id = e.query_id AND f.vec_id = e.vec_id
      |WHERE f.rank <= 5
      |ORDER BY f.query_id, f.rank""".stripMargin
    sb.toString
  }

  /** q136's oracle: one scored CTE with every prefix dot, one rank CTE
    * per prefix (Scala-generated so [[MatryoshkaDims]] lives in one
    * place), recall joined against the full-dim truth rank.
    */
  private def q136OracleSql: String = {
    def fold(m: Int) =
      s"list_reduce(list_transform(generate_series(1, $m), i -> q.qv[i] * e.v[i]), (a, b) -> a + b)"
    val full = MatryoshkaDims.last
    val perM = MatryoshkaDims.map { m =>
      s"""r136_$m AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d$m DESC, vec_id) AS rk
         |    FROM sc136) WHERE rk <= 10),
         |h136_$m AS (
         |  SELECT r.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_hits
         |  FROM r136_$m r LEFT JOIN tr136 t
         |    ON r.query_id = t.query_id AND r.vec_id = t.vec_id
         |  GROUP BY r.query_id)""".stripMargin
    }.mkString(",\n")
    val selects = MatryoshkaDims.map { m =>
      s"""SELECT $m AS m, query_id, CAST(n_hits AS INT) AS n_hits,
         |  CAST(n_hits AS DOUBLE) / 10.0 AS recall FROM h136_$m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e136 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q136 AS (SELECT vec_id AS query_id, v AS qv FROM e136 WHERE vec_id < 5),
      |sc136 AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${MatryoshkaDims.map(m => s"${fold(m)} AS d$m").mkString(", ")}
      |  FROM e136 e, q136 q WHERE e.vec_id <> q.query_id),
      |tr136 AS (SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY d$full DESC, vec_id) AS rk
      |    FROM sc136) WHERE rk <= 10),
      |$perM
      |$selects
      |ORDER BY m, query_id""".stripMargin
  }

  /** q137's oracle: the q56 recursive-CTE closure, edges counted per
    * family from the pair table's left endpoint, exact k(k−1)/2.
    */
  private def q137OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      """sz137 AS (SELECT lbl, CAST(count(*) AS BIGINT) AS csz FROM cl GROUP BY lbl),
      |ed137 AS (
      |  SELECT c.lbl, CAST(count(*) AS BIGINT) AS n_edges
      |  FROM pairs p JOIN cl c ON p.da = c.id GROUP BY c.lbl)
      |SELECT s.lbl AS cluster_id, s.csz, e.n_edges,
      |  s.csz * (s.csz - 1) // 2 AS n_possible,
      |  CAST(e.n_edges AS DOUBLE) / (s.csz * (s.csz - 1) // 2) AS coherence
      |FROM sz137 s JOIN ed137 e ON s.lbl = e.lbl
      |ORDER BY cluster_id""".stripMargin

  /** q139's oracle: the shared SimHash pair chain (keeps `p(da, db,
    * dist)`), the dual-residue gram CTEs, intersection counts per
    * pair, and the qsum8-mirrored bucket mean.
    */
  private def q139OracleSql: String =
    simhashPairCtes +
      s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("139", 3, distinct = true) +
      s"""ex139 AS (SELECT doc_id, unnest(hs) AS h FROM hs139),
      |sz139 AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n FROM hs139 WHERE len(hs) > 0),
      |vp139 AS (SELECT da, db, dist FROM p WHERE dist <= $SimhashMaxDist),
      |ni139 AS (
      |  SELECT v.da, v.db, CAST(count(*) AS BIGINT) AS ni
      |  FROM vp139 v JOIN ex139 a ON a.doc_id = v.da
      |  JOIN ex139 b ON b.doc_id = v.db AND b.h = a.h
      |  GROUP BY v.da, v.db),
      |j139 AS (
      |  SELECT v.dist, COALESCE(ni.ni, 0) AS ni, sa.n AS na, sb.n AS nb
      |  FROM vp139 v
      |  LEFT JOIN ni139 ni ON v.da = ni.da AND v.db = ni.db
      |  JOIN sz139 sa ON v.da = sa.doc_id
      |  JOIN sz139 sb ON v.db = sb.doc_id),
      |agg139 AS (
      |  SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CAST(floor((CAST(ni AS DOUBLE) / (na + nb - ni)) * 100000000.0) AS BIGINT)) AS BIGINT) AS jq8
      |  FROM j139 GROUP BY 1)
      |SELECT dist, n_pairs, CAST(jq8 AS DOUBLE) / 100000000.0 / n_pairs AS mean_jac
      |FROM agg139 ORDER BY dist""".stripMargin

  /** q140's oracle: the shared SimHash band/sig chain, candidates KEPT
    * per band, distances once per distinct pair, the marginal-recall
    * (exactly-one-band) aggregate mirrored as HAVING count(*) = 1.
    */
  private def q140OracleSql: String =
    simhashPairCtes +
      s"""cb140 AS (
      |  SELECT a.band, a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |pd140 AS (SELECT DISTINCT da, db FROM cb140),
      |pdd140 AS (
      |  SELECT p.da, p.db,
      |    bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS dist
      |  FROM pd140 p JOIN sig x ON p.da = x.doc_id JOIN sig y ON p.db = y.doc_id),
      |cbv140 AS (
      |  SELECT c.band, c.da, c.db,
      |    CASE WHEN d.dist <= $SimhashMaxDist THEN 1 ELSE 0 END AS ver
      |  FROM cb140 c JOIN pdd140 d ON c.da = d.da AND c.db = d.db),
      |pb140 AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_cand,
      |    CAST(sum(ver) AS BIGINT) AS n_verified
      |  FROM cbv140 GROUP BY band),
      |un140 AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_unique FROM (
      |    SELECT min(band) AS band FROM cbv140 WHERE ver = 1
      |    GROUP BY da, db HAVING count(*) = 1) GROUP BY band)
      |SELECT p.band, p.n_cand, p.n_verified,
      |  CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
      |  CAST(p.n_verified AS DOUBLE) / p.n_cand AS prec
      |FROM pb140 p LEFT JOIN un140 u ON p.band = u.band
      |ORDER BY p.band""".stripMargin

  /** q79's oracle: q56's recursive-CTE closure (a DIFFERENT algorithm
    * than the Spark label propagation — the independence discipline)
    * plus the per-cluster quality argmax as a row_number mirror of the
    * Spark max-struct aggregate. The quality expression is q34's,
    * verbatim.
    */
  private def q79OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      """qual79 AS (
      |  SELECT doc_id,
      |    greatest(0.0, least(1.0,
      |      0.05 * (CAST(nc AS DOUBLE) / len(tok))
      |      + 0.5 * (CAST(len(list_filter(tok, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(tok))
      |      - 0.1 * (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / nc))) AS quality
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tok, length(text) AS nc FROM documents)),
      |rep79 AS (
      |  SELECT cluster_id, doc_id AS rep_id, quality AS rep_quality FROM (
      |    SELECT c.lbl AS cluster_id, q.doc_id, q.quality,
      |      row_number() OVER (PARTITION BY c.lbl ORDER BY q.quality DESC, q.doc_id) AS rn
      |    FROM cl c JOIN qual79 q ON c.id = q.doc_id)
      |  WHERE rn = 1),
      |o79 AS (
      |  SELECT q.doc_id, q.quality, COALESCE(c.lbl, q.doc_id) AS cluster_id
      |  FROM qual79 q LEFT JOIN cl c ON q.doc_id = c.id)
      |SELECT o.doc_id, o.cluster_id, o.quality,
      |  COALESCE(r.rep_id, o.doc_id) AS rep_id,
      |  COALESCE(r.rep_quality, o.quality) AS rep_quality,
      |  CASE WHEN o.doc_id = COALESCE(r.rep_id, o.doc_id) THEN 1 ELSE 0 END AS is_rep
      |FROM o79 o LEFT JOIN rep79 r ON o.cluster_id = r.cluster_id
      |ORDER BY o.doc_id""".stripMargin

  /** q108's oracle: q56's recursive-CTE closure plus the split CASE on
    * the same LCG draw — thresholds interpolated from the Scala
    * constants (invariant 7).
    */
  private def q108OracleSql: String = {
    def splitCase(id: String) =
      s"""CASE WHEN ${priorityHashSqlOn(id)} < $SplitTrainMax THEN 'train'
         |       WHEN ${priorityHashSqlOn(id)} < $SplitValMax THEN 'val'
         |       ELSE 'test' END""".stripMargin
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      s"""sp108 AS (
      |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.id),
      |lab108 AS (
      |  SELECT doc_id, cluster_id,
      |    ${splitCase("cluster_id")} AS split,
      |    ${splitCase("doc_id")} AS naive_split
      |  FROM sp108)
      |SELECT doc_id, cluster_id, split, naive_split,
      |  CAST(CASE WHEN split <> naive_split THEN 1 ELSE 0 END AS INT) AS moved
      |FROM lab108
      |ORDER BY doc_id""".stripMargin
  }

  /** q114's oracle: q56's recursive closure + the same integer
    * weighted fold, de-quantized with the qmean8 association.
    */
  private def q114OracleSql: String =
    simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ccCtes +
      s"""sz114 AS (SELECT lbl, CAST(count(*) AS BIGINT) AS csz FROM cl GROUP BY lbl),
      |d114 AS (
      |  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
      |    COALESCE(s.csz, 1) AS csz
      |  FROM documents d
      |  LEFT JOIN cl c ON d.doc_id = c.id
      |  LEFT JOIN sz114 s ON c.lbl = s.lbl),
      |a114 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |    CAST(sum(nt) AS BIGINT) AS raw_tokens,
      |    CAST(sum((nt * 1000000) // csz) AS BIGINT) AS eff_q6
      |  FROM d114 GROUP BY source)
      |SELECT source, n_docs, n_dup_docs, raw_tokens, eff_q6,
      |  CAST(eff_q6 AS DOUBLE) / 1000000.0 / raw_tokens AS eff_ratio
      |FROM a114
      |ORDER BY source""".stripMargin

  private val charHashSql =
    "list_reduce(list_transform(generate_series(1, length(%s)), i -> CAST(ascii(%s[i]) AS BIGINT)), (a, x) -> (a * 31 + x) %% 1000000007)"

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  private def d2Sql(v: String, cv: String): String =
    s"${dotSql(v, v)} - 2.0 * ${dotSql(v, cv)} + ${dotSql(cv, cv)}"

  /** Shared oracle CTE prefix replaying the integer-quantized Lloyd
    * training CTE-by-CTE — one (cv, asg, sums, u, c) block per unrolled
    * iteration (see [[IvfK]] doc for why quantization makes an exact
    * replay possible) — ending with `cvF` (trained centroids as doubles)
    * and `af(vec_id, cell)` (every vector's nearest trained cell). Both
    * the q42 and q76 oracles build on it, so both see bit-identical
    * trained cells.
    */
  /** Shared PQ-training oracle chain — [[ivfTrainAssignCtes]]'s twin
    * for the product quantizer: per-subspace Lloyd rounds unrolled
    * CTE-by-CTE over ANY subvector CTE `sub(vec_id, m, sv, svq)` (the
    * subspace id is a grouping key, so ONE chain trains all
    * [[graft.ops.Pq.M]] codebooks, mirroring the Spark plan), ending
    * with `pcvF` (trained codebooks as doubles) and
    * `codes(vec_id, m, cid)`. q90 runs it on raw subvectors, q91 on
    * IVF residual subvectors — one definition, two consumers, per the
    * shared-prefix discipline.
    */
  private def pqChainCtes(sub: String, train: String = null,
      p: String = ""): String = {
    import graft.ops.Pq
    val trn = Option(train).getOrElse(sub)
    val sb = new StringBuilder
    sb ++= s"""${p}pc0 AS (SELECT m, CAST(vec_id AS INT) AS cid, svq AS S, CAST(1 AS BIGINT) AS n
      |  FROM $trn WHERE vec_id < ${Pq.KSub}),
      |""".stripMargin
    for (t <- 1 to Pq.Iters) {
      sb ++= s"""${p}pcv$t AS (SELECT m, cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}pc${t - 1}),
        |${p}pasg$t AS (
        |  SELECT m, cid, svq FROM (
        |    SELECT vec_id, m, svq, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |    FROM (SELECT s.vec_id, s.m, s.svq, c.cid, ${d2Sql("s.sv", "c.cv")} AS d2
        |          FROM $trn s JOIN ${p}pcv$t c ON s.m = c.m))
        |  WHERE rn = 1),
        |${p}psum$t AS (
        |  SELECT a.m, a.cid, t.pos, CAST(sum(t.q) AS BIGINT) AS sq, count(*) AS cnt
        |  FROM ${p}pasg$t a, LATERAL (SELECT unnest(a.svq) AS q, generate_subscripts(a.svq, 1) AS pos) t
        |  GROUP BY a.m, a.cid, t.pos),
        |${p}pu$t AS (SELECT m, cid, list(sq ORDER BY pos) AS S, max(cnt) AS n FROM ${p}psum$t GROUP BY m, cid),
        |${p}pc$t AS (SELECT p.m, p.cid, COALESCE(u.S, p.S) AS S, COALESCE(u.n, p.n) AS n
        |  FROM ${p}pc${t - 1} p LEFT JOIN ${p}pu$t u ON p.m = u.m AND p.cid = u.cid),
        |""".stripMargin
    }
    sb ++= s"""${p}pcvF AS (SELECT m, cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}pc${Pq.Iters}),
      |${p}codes AS (
      |  SELECT vec_id, m, cid FROM (
      |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
      |    FROM (SELECT s.vec_id, s.m, c.cid, ${d2Sql("s.sv", "c.cv")} AS d2
      |          FROM $sub s JOIN ${p}pcvF c ON s.m = c.m))
      |  WHERE rn = 1),
      |""".stripMargin
    sb.toString
  }

  /** q90's oracle: the PQ chain on raw subvectors, then the
    * floor(d²·10⁸) distance table, the integer ADC sum, and exact L2
    * for the shortlist rows only.
    */
  private def q90OracleSql: String = {
    import graft.ops.Pq
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vq
      |  FROM embeddings),
      |en AS (SELECT vec_id, v, vq, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
      |ms AS (SELECT unnest(generate_series(0, ${Pq.M - 1})) AS m),
      |sub AS (SELECT vec_id, m,
      |  list_slice(v, m * ${Pq.SubDim} + 1, m * ${Pq.SubDim} + ${Pq.SubDim}) AS sv,
      |  list_slice(vq, m * ${Pq.SubDim} + 1, m * ${Pq.SubDim} + ${Pq.SubDim}) AS svq
      |  FROM en, ms),
      |""".stripMargin
    sb ++= pqChainCtes("sub")
    sb ++= s"""qdt AS (
      |  SELECT s.vec_id AS query_id, s.m, c.cid,
      |    CAST(floor((${d2Sql("s.sv", "c.cv")}) * 100000000.0) AS BIGINT) AS qdt
      |  FROM sub s JOIN pcvF c ON s.m = c.m WHERE s.vec_id < 5),
      |sc AS (
      |  SELECT d.query_id, co.vec_id, CAST(sum(d.qdt) AS BIGINT) AS adc
      |  FROM codes co JOIN qdt d ON co.m = d.m AND co.cid = d.cid
      |  WHERE co.vec_id <> d.query_id
      |  GROUP BY d.query_id, co.vec_id),
      |sl90 AS (
      |  SELECT query_id, vec_id, adc FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rs FROM sc)
      |  WHERE rs <= ${Pq.Shortlist}),
      |rr90 AS (
      |  SELECT s.query_id, s.vec_id, s.adc,
      |    ${d2Sql("eq.v", "ev.v")} AS d2
      |  FROM sl90 s JOIN en ev ON s.vec_id = ev.vec_id
      |  JOIN en eq ON s.query_id = eq.vec_id),
      |rk90 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank FROM rr90)
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc, d2
      |FROM rk90 WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
    sb.toString
  }

  /** q91's oracle: BOTH factored generators composed — the IVF chain
    * ([[ivfTrainAssignCtes]]: trained cells `cvF`, assignments `af`)
    * feeds element-wise residuals, the PQ chain ([[pqChainCtes]]) trains
    * residual codebooks and codes, then per-probed-cell query residuals
    * build the distance tables and the ADC sum runs over probed-cell
    * members only. Residual subtraction is the same IEEE double op on
    * bit-identical operands in both engines, so the whole tower replays
    * exactly.
    */
  /** Shared IVFADC middle: residuals of every vector against its
    * assigned cell's centroid (element-wise subtraction of
    * bit-identical doubles) and their subvectors — emitted between
    * [[ivfTrainAssignCtes]] and [[pqChainCtes]].
    */
  private def ivfadcResidualCtes(p: String = ""): String = {
    import graft.ops.Pq
    // ms is static (a prefixed clone reuses the first tower's)
    val ms = if (p.isEmpty)
      s"ms AS (SELECT unnest(generate_series(0, ${Pq.M - 1})) AS m),\n" else ""
    ms + s"""${p}res91 AS (
      |  SELECT a.vec_id, a.cell,
      |    list_transform(generate_series(1, len(en.v)), i -> en.v[i] - c.cv[i]) AS r
      |  FROM ${p}af a JOIN en ON a.vec_id = en.vec_id JOIN ${p}cvF c ON a.cell = c.cid),
      |${p}rsub91 AS (SELECT vec_id, m,
      |  list_slice(r, m * ${Pq.SubDim} + 1, m * ${Pq.SubDim} + ${Pq.SubDim}) AS sv,
      |  list_transform(list_slice(r, m * ${Pq.SubDim} + 1, m * ${Pq.SubDim} + ${Pq.SubDim}),
      |    x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS svq
      |  FROM ${p}res91, ms),
      |""".stripMargin
  }

  /** Shared IVFADC search tail: probe cells, per-probed-cell query
    * residual distance tables, the integer ADC sum over probed-cell
    * members, shortlist, exact re-rank. `withIsNew` appends q92's
    * append-batch flag (vec_id ≥ the training cut).
    */
  private def ivfadcSearchTail(withIsNew: Boolean): String = {
    val isNewOut = if (withIsNew) ", is_new" else ""
    ivfadcRankCtes(withIsNew) +
      s"""SELECT query_id, CAST(rank AS INT) AS rank, cell, vec_id$isNewOut, adc, d2
        |FROM rk91 WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
  }

  /** The tail's CTE portion up to `rk91` (re-ranked candidates), ending
    * WITHOUT a trailing comma — q91/q92 append the top-k read-out
    * SELECT directly; q93 appends `,cte ...` audit CTEs instead.
    */
  private def ivfadcRankCtes(withIsNew: Boolean, p: String = "",
      candLive: String = ""): String = {
    import graft.ops.Pq
    val isNewCol = if (withIsNew) s", s.vec_id >= ${p}cut.cut AS is_new" else ""
    val cutJoin = if (withIsNew) s" CROSS JOIN ${p}cut" else ""
    // q171's inverted-list surgery: when set, candidates are restricted
    // to the named liveness CTE (a semi-join on vec_id in sc91 — the
    // oracle twin of filtering the codes/assignment tables). Default ""
    // emits byte-identical SQL to the committed q91/q92/q93/q144
    // oracles (diffed before q171 landed).
    val liveJoin =
      if (candLive.isEmpty) "" else s" JOIN $candLive lv ON co.vec_id = lv.vec_id"
    s"""${p}pr91 AS (
      |  SELECT query_id, cid AS cell FROM (
      |    SELECT vec_id AS query_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT en.vec_id, c.cid, ${d2Sql("en.v", "c.cv")} AS d2 FROM en, ${p}cvF c WHERE en.vec_id < 5))
      |  WHERE rn <= $IvfProbes),
      |${p}qres91 AS (
      |  SELECT p.query_id, p.cell,
      |    list_transform(generate_series(1, len(en.v)), i -> en.v[i] - c.cv[i]) AS r
      |  FROM ${p}pr91 p JOIN en ON p.query_id = en.vec_id JOIN ${p}cvF c ON p.cell = c.cid),
      |${p}qdt91 AS (
      |  SELECT q.query_id, q.cell, q.m, c.cid,
      |    CAST(floor((${d2Sql("q.sv", "c.cv")}) * 100000000.0) AS BIGINT) AS qdt
      |  FROM (SELECT query_id, cell, m,
      |          list_slice(r, m * ${Pq.SubDim} + 1, m * ${Pq.SubDim} + ${Pq.SubDim}) AS sv
      |        FROM ${p}qres91, ms) q JOIN ${p}pcvF c ON q.m = c.m),
      |${p}sc91 AS (
      |  SELECT d.query_id, d.cell, co.vec_id, CAST(sum(d.qdt) AS BIGINT) AS adc
      |  FROM ${p}codes co JOIN ${p}af a ON co.vec_id = a.vec_id$liveJoin
      |  JOIN ${p}qdt91 d ON a.cell = d.cell AND co.m = d.m AND co.cid = d.cid
      |  WHERE co.vec_id <> d.query_id
      |  GROUP BY d.query_id, d.cell, co.vec_id),
      |${p}sl91 AS (
      |  SELECT query_id, cell, vec_id, adc FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rs FROM ${p}sc91)
      |  WHERE rs <= ${Pq.Shortlist}),
      |${p}rr91 AS (
      |  SELECT s.query_id, s.cell, s.vec_id, s.adc$isNewCol,
      |    ${d2Sql("eq.v", "ev.v")} AS d2
      |  FROM ${p}sl91 s JOIN en ev ON s.vec_id = ev.vec_id
      |  JOIN en eq ON s.query_id = eq.vec_id$cutJoin),
      |${p}rk91 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank FROM ${p}rr91)
      |""".stripMargin
  }

  private def q91OracleSql: String =
    ivfTrainAssignCtes() + ivfadcResidualCtes() + pqChainCtes("rsub91") +
      ivfadcSearchTail(withIsNew = false)

  /** q92's oracle: the identical IVFADC tower with BOTH quantizers
    * trained on the sub-cut slice only (`eno` / `rsubo`) while
    * assignment, encoding, and search span the full corpus — the
    * frozen-quantizer append replayed CTE-for-CTE.
    */
  private def q92OracleSql: String =
    ivfTrainAssignCtes("eno") + ivfadcResidualCtes() +
      "rsubo AS (SELECT r.* FROM rsub91 r, cut WHERE r.vec_id < cut.cut),\n" +
      pqChainCtes("rsub91", "rsubo") + ivfadcSearchTail(withIsNew = true)

  /** q93's oracle: the q91 tower through `rk91`, then the brute-force
    * exact L2 top-5 and the per-query hit count — recall is one integer
    * division by the literal 5.0.
    */
  private def q93OracleSql: String =
    ivfTrainAssignCtes() + ivfadcResidualCtes() + pqChainCtes("rsub91") +
      ivfadcRankCtes(withIsNew = false) +
      s""",ap93 AS (SELECT query_id, vec_id FROM rk91 WHERE rank <= 5),
        |ex93 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
        |    FROM (SELECT eq.vec_id AS query_id, ev.vec_id AS vec_id, ${d2Sql("eq.v", "ev.v")} AS d2
        |          FROM en eq, en ev WHERE eq.vec_id < 5 AND ev.vec_id <> eq.vec_id))
        |  WHERE rn <= 5),
        |hit93 AS (
        |  SELECT e.query_id, count(a.vec_id) AS n_hits
        |  FROM ex93 e LEFT JOIN ap93 a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        |  GROUP BY e.query_id)
        |SELECT query_id, CAST(n_hits AS INT) AS n_hits,
        |  CAST(n_hits AS DOUBLE) / 5.0 AS recall
        |FROM hit93 ORDER BY query_id""".stripMargin

  /** q171's oracle: the q91 tower with the liveness semi-join inside
    * the ADC scoring CTE, plus the live exact-top-5 audit and the
    * dead-query flag.
    */
  private def q171OracleSql: String =
    ivfTrainAssignCtes() + ivfadcResidualCtes() + pqChainCtes("rsub91") +
      s"""lv171 AS (
        |  SELECT vec_id FROM embeddings
        |  WHERE NOT (${priorityHashSqlOn("vec_id")} < $DeleteBound)),
        |""".stripMargin +
      ivfadcRankCtes(withIsNew = false, candLive = "lv171") +
      s""",ex171 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
        |    FROM (SELECT eq.vec_id AS query_id, ev.vec_id AS vec_id, ${d2Sql("eq.v", "ev.v")} AS d2
        |          FROM en eq CROSS JOIN en ev JOIN lv171 l ON ev.vec_id = l.vec_id
        |          WHERE eq.vec_id < 5 AND ev.vec_id <> eq.vec_id))
        |  WHERE rn <= 5)
        |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.cell, r.vec_id, r.adc, r.d2,
        |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit,
        |  CAST(CASE WHEN ${priorityHashSqlOn("r.query_id")} < $DeleteBound
        |    THEN 1 ELSE 0 END AS INT) AS q_dead
        |FROM rk91 r LEFT JOIN ex171 e ON r.query_id = e.query_id AND r.vec_id = e.vec_id
        |WHERE r.rank <= 5
        |ORDER BY r.query_id, r.rank""".stripMargin

  /** EXT — the COMPOSED PIPELINE WAVE under the oracle hash gate (the
    * `_WAVE` cross-store consistency contract —
    * [[graft.streaming.StreamingPipeline]] — was the one major capability
    * proven only by specs). This query RUNS the real machinery: four
    * stores (corpus, dedup labels, PQ index, admission LM) in a
    * session-scratch root, wave 0 = the full corpus build, wave 1 = a
    * composed maintenance wave (the q157 re-crawl slice upserted into
    * corpus + labels + LM; the q171 tombstone slice deleted from the
    * index), each store through its own idempotent batch writer, both
    * waves sealed by [[graft.streaming.StreamingPipeline.commitWave]].
    * The output is the CONSISTENT READER's four-store readout AS OF
    * wave 1 ([[graft.streaming.StreamingPipeline.at]]): live corpus rows
    * (content-pinned by sha2 — ≡ DuckDB sha256), dedup labels, index
    * top-k, LM scores of the post-update corpus head, as one
    * discriminated union `(part, id, k, v, v2, s)`.
    *
    * The ORACLE recomputes all four stores from the wave's raw inputs
    * in ONE statement — no store, no generation dirs, no markers: the
    * updated corpus by the slice rule; labels as the recursive-CTE
    * closure over the UPDATED pair universe (q157's law: the pair
    * log's tombstone-and-log wave lands exactly on the blind
    * recompute); the index as the q92 frozen-append tower with the
    * tombstone liveness semi-join (q171's surgery on q92's chain);
    * the LM as add-only trigram counts over original corpus ∪
    * re-crawled slice ([[graft.streaming.StreamingLm]] folds adds
    * only — the re-crawl ADDS the new content's grams; retraction is
    * q167/q170's separate counted-vocabulary machinery) scored by the
    * q155 integer add-V surprisal. A single torn store, missed
    * tombstone, double-counted replay, or cross-store wave skew
    * hash-fails the whole readout — cross-store wave consistency under
    * the same gate as every other operator.
    *
    * Scale shape: each store's write is its own audited batch shape
    * (slice-proportional waves, gram-domain LM partials, 16 B/row
    * codes); the readout adds one union of four bounded frames. The
    * scratch root is (pid, session, sfDir)-keyed and removed at JVM
    * exit (the q142 discipline); every batch writer is idempotent on
    * its marker, so a warm re-execution re-reads the committed waves
    * without rebuilding.
    */
  /** Drive (idempotently) the two committed pipeline waves into the
    * session-scratch root shared by q175 and q177 — both are correct in
    * EITHER execution order precisely because of the law q177 proves:
    * compaction is invisible to the consistent reader, so q175 reading
    * a root q177 already compacted serves the same rows.
    */
  private def pipelineWaveState(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, graft.streaming.StreamingPipeline.Stores) = {
    import graft.streaming.{StreamingCorpus, StreamingIndex, StreamingLabels,
      StreamingLm, StreamingPipeline}
    // Root carries the sanitized sfDir basename alongside its hash:
    // human-debuggable, and two SF dirs can never collide on the
    // 32-bit String.hashCode alone (r17 ADVICE).
    val root = "/tmp/graft_q175_" +
      ProcessHandle.current().pid() + "_" +
      java.lang.Integer.toHexString(System.identityHashCode(s)) + "_" +
      java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL) + "_" +
      new java.io.File(d).getName.replaceAll("[^A-Za-z0-9._-]", "")
    PipelineQueries.cleanupAtExit(root)
    val pipeDir = s"$root/pipe"
    val stores = StreamingPipeline.Stores(s"$root/corpus", s"$root/labels",
      s"$root/index", null, s"$root/lm")
    if (!StreamingPipeline.committedWaves(s, pipeDir).contains(1L)) {
      val docs0 = documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      // The four stores are DISJOINT directories and a wave's four
      // writes share no state beyond the (thread-safe) session, so
      // each wave submits them from a small thread pool (guide §2.6 —
      // Spark's scheduler runs independent jobs concurrently; actions
      // were only sequential because this driver code called them
      // sequentially). commitWave still runs strictly AFTER all four
      // writes land — the wave semantics and every store's on-disk
      // state are byte-identical to the sequential drive, which is
      // exactly what the unchanged q175/q177 oracle re-proves.
      // ---- wave 0: the full build in all four stores ----
      parDrive(
        () => StreamingCorpus.updateBatch(stores.corpusDir)(docs0, 0L),
        () => StreamingLabels.mergeBatch(stores.labelDir)(dupPairs(s, d), 0L),
        () => {
          val cut = StreamingIndex.buildFrozen(s, d, stores.indexDir)
          StreamingIndex.appendBatch(stores.indexDir)(
            embeddings(s, d)
              .select(col("vec_id"), col("embedding"))
              .filter(col("vec_id") >= cut), 0L)
        },
        () => StreamingLm.updateBatch(stores.lmDir)(
          docs0.select(col("doc_id"), col("text")), 0L))
      StreamingPipeline.commitWave(s, pipeDir, 0L)
      // ---- wave 1: the composed maintenance wave ----
      val upd = updDocs(s, d).filter(updSlicePred(col("doc_id")))
      parDrive(
        () => StreamingCorpus.updateBatch(stores.corpusDir)(
          docs0.select(col("doc_id"), col("source"), col("lang"))
            .join(upd, Seq("doc_id"))
            .select(col("doc_id"), col("source"), col("lang"), col("text")), 1L),
        () => StreamingLabels.updateBatch(stores.labelDir)(
          upd.select(col("doc_id").as("id")), updNewPairs(s, d), 1L),
        () => StreamingIndex.deleteBatch(stores.indexDir)(indexDeadIds(s, d), 1L),
        () => StreamingLm.updateBatch(stores.lmDir)(upd, 1L))
      StreamingPipeline.commitWave(s, pipeDir, 1L)
    }
    (pipeDir, stores)
  }

  /** The consistent four-store readout AS OF wave 1 — shared by q175
    * (read the multi-generation stores) and q177 (read them after
    * every compactor ran): one discriminated union
    * `(part, id, k, v, v2, s)`.
    */
  private def pipelineWaveReadout(s: org.apache.spark.sql.SparkSession, d: String,
      pipeDir: String, stores: graft.streaming.StreamingPipeline.Stores)
      : org.apache.spark.sql.DataFrame = {
    import graft.streaming.StreamingPipeline
    val v = StreamingPipeline.at(s, pipeDir, stores, 1L)
    def shape(part: String, id: org.apache.spark.sql.Column,
        k: org.apache.spark.sql.Column, vv: org.apache.spark.sql.Column,
        v2: org.apache.spark.sql.Column, str: org.apache.spark.sql.Column)
        (df: org.apache.spark.sql.DataFrame) =
      df.select(lit(part).as("part"), id.cast("long").as("id"),
        k.cast("long").as("k"), vv.cast("long").as("v"),
        v2.cast("long").as("v2"), str.as("s"))
    // building each store's part triggers that reader's own driver
    // actions (labels derive CC with per-round checkpoints, the index
    // read folds generations, lmScore counts the live vocabulary) —
    // four disjoint stores, so the frames build concurrently (round-19,
    // guide §2.6 — same rationale as the wave drive/compactors; each
    // part's plan and rows are unchanged, and the union below runs
    // strictly after all four are built)
    val probe = updDocs(s, d).filter(col("doc_id") < PipeProbeDocs)
    var corpusPart: org.apache.spark.sql.DataFrame = null
    var labelPart: org.apache.spark.sql.DataFrame = null
    var searchPart: org.apache.spark.sql.DataFrame = null
    var lmPart: org.apache.spark.sql.DataFrame = null
    parDrive(
      () => corpusPart = shape("corpus", col("doc_id"), lit(0L), lit(0L),
        lit(0L), sha2(col("text"), 256))(v.corpus),
      () => labelPart = shape("label", col("id"), lit(0L), col("lbl"),
        lit(0L), lit(""))(v.labels),
      () => searchPart = shape("search", col("query_id"), col("rank"),
        col("vec_id"), col("adc"), lit(""))(v.search(d)),
      () => lmPart = shape("lm", col("doc_id"), col("n_tri"),
        col("total_bits"), col("n_unseen"), lit(""))(v.lmScore(probe)))
    corpusPart.union(labelPart).union(searchPart).union(lmPart)
      .orderBy(col("part"), col("id"), col("k"), col("v"))
      .localCheckpoint(true)
  }

  // lazy: the queries map is declared ABOVE these definitions — a
  // strict val would be captured as null there (the scalac
  // uninitialized-forward-reference trap, bitten twice before; the
  // warning is load-bearing)
  lazy val q175PipelineWave: Q = (s, d) => {
    val (pipeDir, stores) = pipelineWaveState(s, d)
    pipelineWaveReadout(s, d, pipeDir, stores)
  }

  /** EXT — pipeline-level COMPACTION INVISIBILITY under the oracle
    * gate: every store's digest-certified compactor
    * ([[graft.streaming.StreamingCorpus.compactCorpus]],
    * [[graft.streaming.StreamingLabels.compactPairLog]],
    * [[graft.streaming.StreamingIndex.compact]],
    * [[graft.streaming.StreamingLm.compactLm]]) runs between waves on
    * the q175 state, and the consistent reader's wave-1 readout must
    * STILL hash-match the blind DuckDB recompute — the SAME oracle SQL
    * as q175, so the law proven is exactly "compaction changes storage
    * layout, never served state", cross-store, under the same gate as
    * every operator (the per-store digest certifications proved each
    * rewrite lost nothing against its OWN pre-image; this pins all
    * four against an independent engine at once). Non-vacuity is
    * enforced in-query: after compacting, every store's compaction
    * horizon must claim wave 1 — a compactor that silently no-ops
    * throws rather than passing a vacuous law (and the erased history
    * is real: each store's own time-travel spec proves its as-of
    * reader refuses points below the horizon, so at(0) on this state
    * would throw in all four stores). q175 and q177 are correct in
    * EITHER bench/verify execution order — measured explicitly: q177
    * run FIRST compacts the shared root and q175 then reads the
    * compacted stores bit-identically, which is the law itself.
    *
    * Scale shape: each compactor is one fold + digest + checked-rename
    * swap over its own store (the audited per-store shapes); the
    * readout adds nothing new.
    */
  lazy val q177PipelineCompact: Q = (s, d) => {
    import graft.streaming.{StreamingCorpus, StreamingIndex, StreamingLabels,
      StreamingLm}
    val (pipeDir, stores) = pipelineWaveState(s, d)
    // the four compactors touch four disjoint stores — run them
    // concurrently (guide §2.6, the pipelineWaveState drive rationale);
    // each is internally unchanged (fold + digest + checked-rename
    // swap), and the horizon checks below run only after all four
    parDrive(
      () => StreamingCorpus.compactCorpus(s, stores.corpusDir),
      () => StreamingLabels.compactPairLog(s, stores.labelDir),
      () => StreamingIndex.compact(s, stores.indexDir),
      () => StreamingLm.compactLm(s, stores.lmDir))
    val horizons = Seq(
      "corpus" -> StreamingCorpus.compactionHorizon(s, stores.corpusDir),
      "labels" -> StreamingLabels.compactionHorizon(s, stores.labelDir),
      "index" -> StreamingIndex.compactionHorizon(s, stores.indexDir),
      "lm" -> StreamingLm.compactionHorizon(s, stores.lmDir))
    for ((name, h) <- horizons if !h.exists(_ >= 1L))
      throw new IllegalStateException(
        s"q177: $name compaction did not claim wave 1 (horizon $h) — " +
          "the invisibility law would be vacuous")
    pipelineWaveReadout(s, d, pipeDir, stores)
  }

  /** q175's LM-readout probe population: the post-update corpus head
    * (`doc_id < PipeProbeDocs` of the re-crawled corpus — 20 of the
    * 100 are slice docs whose text changed, so the probe exercises
    * both seen and wave-fresh grams).
    */
  private[graft] val PipeProbeDocs = 100L

  /** q175's oracle: all four stores recomputed from raw inputs in one
    * statement — the updated corpus (sha256 content pin), the
    * recursive-CTE closure over the UPDATED pair universe
    * ([[simhashPairCtesOn]] over the re-crawl + [[ccCtesOn]] — q157's
    * blind recompute), the q92 frozen-append tower scored through the
    * tombstone liveness semi-join (q171's `candLive` on q92's chain),
    * and the q155 integer surprisal under add-only counts over
    * original ∪ re-crawled-slice trigrams.
    */
  private def q175OracleSql: String = {
    val triOf = (tk: String) =>
      s"""SELECT doc_id,
        |    unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1]) AS ctx,
        |    unnest(t[3:len(t)]) AS w
        |  FROM $tk""".stripMargin
    s"""WITH RECURSIVE docs175 AS (
      |  SELECT doc_id, source, lang,
      |    CASE WHEN doc_id % $UpdMod = $UpdRes THEN upper(text) ELSE text END AS text
      |  FROM documents),
      |""".stripMargin +
      // the corpus store gates EVERY written version on quality+rep2
      // (an update whose re-crawled text fails degrades to a takedown),
      // so the live view is exactly the gate-passing rows of the
      // updated corpus — measured: 1/100 slice docs at sf0.001 and
      // 12/1000 at sf0.1 pass on the uppercased text (the replacement
      // branch fires; the rest exercise the degrade-to-takedown branch)
      PipelineQueries.qualityGateSqlCtes("docs175", "cg175") +
      "corpus175 AS (SELECT d.doc_id, d.text FROM docs175 d JOIN cg175ok USING (doc_id)),\n" +
      simhashPairCtesOn("docs175", "u").stripPrefix("WITH ") +
      ccCtesOn("upairs", "u") +
      embHeadCtes().stripPrefix("WITH ") +
      s"""lvp175 AS (
        |  SELECT vec_id FROM embeddings
        |  WHERE NOT (${priorityHashSqlOn("vec_id")} < $DeleteBound)),
        |""".stripMargin +
      ivfTrainAssignCtes("eno", header = false) +
      ivfadcResidualCtes() +
      "rsubo AS (SELECT r.* FROM rsub91 r, cut WHERE r.vec_id < cut.cut),\n" +
      pqChainCtes("rsub91", "rsubo") +
      ivfadcRankCtes(withIsNew = false, candLive = "lvp175") + ",\n" +
      s"""tk175a AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri175a AS (
        |  ${triOf("tk175a")}),
        |tk175b AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM docs175
        |  WHERE doc_id % $UpdMod = $UpdRes AND len(string_split(text, ' ')) >= 3),
        |tri175b AS (
        |  ${triOf("tk175b")}),
        |tr175 AS MATERIALIZED (
        |  SELECT * FROM tri175a UNION ALL SELECT * FROM tri175b),
        |v175 AS (SELECT count(DISTINCT w) AS v FROM tr175),
        |tn175 AS MATERIALIZED (SELECT ctx, w, count(*) AS cb FROM tr175 GROUP BY ctx, w),
        |tc175 AS MATERIALIZED (SELECT ctx, count(*) AS cu FROM tr175 GROUP BY ctx),
        |tk175p AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM docs175
        |  WHERE doc_id < $PipeProbeDocs AND len(string_split(text, ' ')) >= 3),
        |tri175p AS (
        |  ${triOf("tk175p")}),
        |sc175 AS (
        |  SELECT wv.doc_id,
        |    CAST(length(format('{:b}',
        |      (COALESCE(tc.cu, 0) + (SELECT v FROM v175)) // (COALESCE(tn.cb, 0) + 1))) AS BIGINT) AS bits,
        |    CASE WHEN tn.cb IS NULL THEN 1 ELSE 0 END AS unseen
        |  FROM tri175p wv
        |  LEFT JOIN tn175 tn ON wv.ctx = tn.ctx AND wv.w = tn.w
        |  LEFT JOIN tc175 tc ON wv.ctx = tc.ctx),
        |lm175 AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |    CAST(sum(bits) AS BIGINT) AS total_bits,
        |    CAST(sum(unseen) AS BIGINT) AS n_unseen
        |  FROM sc175 GROUP BY doc_id)
        |SELECT part, id, k, v, v2, s FROM (
        |  SELECT 'corpus' AS part, CAST(doc_id AS BIGINT) AS id,
        |    CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS v,
        |    CAST(0 AS BIGINT) AS v2, sha256(text) AS s FROM corpus175
        |  UNION ALL
        |  SELECT 'label', CAST(id AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(lbl AS BIGINT), CAST(0 AS BIGINT), '' FROM ucl
        |  UNION ALL
        |  SELECT 'search', CAST(query_id AS BIGINT), CAST(rank AS BIGINT),
        |    CAST(vec_id AS BIGINT), CAST(adc AS BIGINT), '' FROM rk91 WHERE rank <= 5
        |  UNION ALL
        |  SELECT 'lm', CAST(doc_id AS BIGINT), CAST(n_tri AS BIGINT),
        |    CAST(total_bits AS BIGINT), CAST(n_unseen AS BIGINT), '' FROM lm175)
        |ORDER BY part, id, k, v""".stripMargin
  }

  /** q176's oracle: the BLIND rebuild — the live-trained compact tower
    * (unprefixed; [[ivfTrainAssignCtes]] with an explicit live
    * `trainDef`, PQ chain trained on the live residual subvectors) and
    * q171's frozen full tower (`f`-prefixed — the stale arm), BOTH
    * scored through the `candLive` liveness semi-join, in ONE
    * statement (the q144 machinery); then the live exact truth and the
    * per-row/per-query refresh-vs-compact recall readout.
    */
  private def q176OracleSql: String = {
    val live =
      s"""SELECT en.* FROM en WHERE NOT (${priorityHashSqlOn("en.vec_id")} < $DeleteBound)"""
    embHeadCtes() +
      s"""lv176 AS (
        |  SELECT vec_id FROM embeddings
        |  WHERE NOT (${priorityHashSqlOn("vec_id")} < $DeleteBound)),
        |""".stripMargin +
      ivfTrainAssignCtes(train = "enl", header = false, trainDef = live) +
      ivfadcResidualCtes() +
      "rsubl AS (SELECT r.* FROM rsub91 r JOIN lv176 l ON r.vec_id = l.vec_id),\n" +
      pqChainCtes("rsub91", "rsubl") +
      ivfadcRankCtes(withIsNew = false, candLive = "lv176") + ",\n" +
      ivfTrainAssignCtes(p = "f", header = false) +
      ivfadcResidualCtes(p = "f") +
      pqChainCtes("frsub91", p = "f") +
      ivfadcRankCtes(withIsNew = false, p = "f", candLive = "lv176") +
      s""",ex176 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
        |    FROM (SELECT eq.vec_id AS query_id, ev.vec_id AS vec_id, ${d2Sql("eq.v", "ev.v")} AS d2
        |          FROM en eq CROSS JOIN en ev JOIN lv176 l ON ev.vec_id = l.vec_id
        |          WHERE eq.vec_id < 5 AND ev.vec_id <> eq.vec_id))
        |  WHERE rn <= 5),
        |xc176 AS (SELECT query_id, rank, cell, vec_id, adc, d2 FROM rk91 WHERE rank <= 5),
        |xs176 AS (SELECT query_id, vec_id FROM frk91 WHERE rank <= 5),
        |hc176 AS (
        |  SELECT e.query_id, CAST(count(a.vec_id) AS BIGINT) AS hits_compact
        |  FROM ex176 e LEFT JOIN xc176 a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        |  GROUP BY e.query_id),
        |hs176 AS (
        |  SELECT e.query_id, CAST(count(f.vec_id) AS BIGINT) AS hits_stale
        |  FROM ex176 e LEFT JOIN xs176 f ON e.query_id = f.query_id AND e.vec_id = f.vec_id
        |  GROUP BY e.query_id)
        |SELECT c.query_id, CAST(c.rank AS INT) AS rank, c.cell, c.vec_id, c.adc, c.d2,
        |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit,
        |  CAST(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stale_hit,
        |  hc.hits_compact, hs.hits_stale, hc.hits_compact - hs.hits_stale AS compact_gain
        |FROM xc176 c
        |LEFT JOIN ex176 e ON c.query_id = e.query_id AND c.vec_id = e.vec_id
        |LEFT JOIN xs176 s ON c.query_id = s.query_id AND c.vec_id = s.vec_id
        |JOIN hc176 hc ON c.query_id = hc.query_id
        |JOIN hs176 hs ON c.query_id = hs.query_id
        |ORDER BY c.query_id, c.rank""".stripMargin
  }

  /** Shared `e`/`en` embedding-prep header (doubles, 10⁶-quantized
    * longs, L2 norm) — the common opening of [[ivfTrainAssignCtes]]
    * and [[edgeQuantCtes]]. `materialized` forces DuckDB to compute
    * the hot CTEs once: by default DuckDB RE-INLINES a CTE at every
    * reference, and an oracle whose unrolled steps reference a
    * CTE-tower many times multiplies the whole training replay (q143's
    * first run died on file handles alone — every inline re-opens the
    * parquet). Semantics are unchanged; only evaluation strategy.
    */
  private def embHeadCtes(materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vq
      |  FROM embeddings),
      |en AS $m(SELECT vec_id, v, vq, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
      |""".stripMargin
  }

  /** The √n-cell EDGE quantizer replayed CTE-by-CTE (mirror of
    * [[graft.ops.TowerMemo.edgeCent]]/`edgeAssigned`): identical
    * integer-quantized Lloyd unroll to [[ivfTrainAssignCtes]], but the
    * cell count k = ⌈√n⌉ is computed IN-QUERY (`eqk`) instead of being
    * an interpolated constant — Spark's driver-side
    * `ceil(sqrt(count()))` and DuckDB's scalar subquery produce the
    * same integer at every SF, so the dynamic cell count keeps the
    * oracle SQL fixed. CTE names carry the `eq` prefix (round-8 rule:
    * factored generators own their name space — `c1..` belongs to
    * [[ivfTrainAssignCtes]]). Ends with `eqaf(vec_id, cell)` after a
    * standalone `e`/`en` header.
    */
  private def edgeQuantCtes(materialized: Boolean = false, src: String = "en",
      kFrom: String = "embeddings", p: String = "", header: Boolean = true): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    val sb = new StringBuilder
    if (header) sb ++= embHeadCtes(materialized)
    sb ++= s"""${p}eqk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM $kFrom),
      |${p}eqc0 AS (SELECT CAST(vec_id AS INT) AS cid, vq AS S, CAST(1 AS BIGINT) AS n
      |  FROM $src, ${p}eqk WHERE vec_id < ${p}eqk.k),
      |""".stripMargin
    for (t <- 1 to IvfIters) {
      sb ++= s"""${p}eqcv$t AS (SELECT cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}eqc${t - 1}),
        |${p}eqasg$t AS (
        |  SELECT vec_id, vq, cid FROM (
        |    SELECT vec_id, vq, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM (SELECT $src.vec_id, $src.vq, c.cid, ${d2Sql(s"$src.v", "c.cv")} AS d2 FROM $src, ${p}eqcv$t c))
        |  WHERE rn = 1),
        |${p}eqsums$t AS (
        |  SELECT a.cid, t.pos, CAST(sum(t.q) AS BIGINT) AS sq, count(*) AS cnt
        |  FROM ${p}eqasg$t a, LATERAL (SELECT unnest(a.vq) AS q, generate_subscripts(a.vq, 1) AS pos) t
        |  GROUP BY a.cid, t.pos),
        |${p}equ$t AS (SELECT cid, list(sq ORDER BY pos) AS S, max(cnt) AS n FROM ${p}eqsums$t GROUP BY cid),
        |${p}eqc$t AS (SELECT p.cid, COALESCE(u.S, p.S) AS S, COALESCE(u.n, p.n) AS n
        |  FROM ${p}eqc${t - 1} p LEFT JOIN ${p}equ$t u ON p.cid = u.cid),
        |""".stripMargin
    }
    sb ++= s"""${p}eqcvF AS (SELECT cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}eqc$IvfIters),
      |${p}eqaf AS $m(
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT $src.vec_id, c.cid, ${d2Sql(s"$src.v", "c.cv")} AS d2 FROM $src, ${p}eqcvF c))
      |  WHERE rn = 1),
      |""".stripMargin
    sb.toString
  }

  /** q144's oracle: the FULL-RETRAIN tower (q91's chain, unprefixed)
    * and the FROZEN tower (q92's chain, every CTE `f`-prefixed) hosted
    * in ONE statement sharing the `e`/`en`/`ms` header, then the exact
    * L2 truth and the per-query hit/overlap rollup.
    */
  private def q144OracleSql: String =
    ivfTrainAssignCtes() + ivfadcResidualCtes() + pqChainCtes("rsub91") +
      ivfadcRankCtes(withIsNew = false) + ",\n" +
      ivfTrainAssignCtes("feno", p = "f", header = false) +
      ivfadcResidualCtes(p = "f") +
      "frsubo AS (SELECT r.* FROM frsub91 r, fcut WHERE r.vec_id < fcut.cut),\n" +
      pqChainCtes("frsub91", "frsubo", p = "f") +
      ivfadcRankCtes(withIsNew = false, p = "f") +
      s""",ap144 AS (SELECT query_id, vec_id FROM rk91 WHERE rank <= 5),
        |fp144 AS (SELECT query_id, vec_id FROM frk91 WHERE rank <= 5),
        |ex144 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
        |    FROM (SELECT eq.vec_id AS query_id, ev.vec_id AS vec_id, ${d2Sql("eq.v", "ev.v")} AS d2
        |          FROM en eq, en ev WHERE eq.vec_id < 5 AND ev.vec_id <> eq.vec_id))
        |  WHERE rn <= 5),
        |cm144 AS (
        |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_common
        |  FROM ap144 a JOIN fp144 f ON a.query_id = f.query_id AND a.vec_id = f.vec_id
        |  GROUP BY a.query_id),
        |hi144 AS (
        |  SELECT e.query_id,
        |    CAST(count(a.vec_id) AS BIGINT) AS hits_retrained,
        |    CAST(count(f.vec_id) AS BIGINT) AS hits_frozen
        |  FROM ex144 e
        |  LEFT JOIN ap144 a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        |  LEFT JOIN fp144 f ON e.query_id = f.query_id AND e.vec_id = f.vec_id
        |  GROUP BY e.query_id)
        |SELECT h.query_id, h.hits_retrained, h.hits_frozen,
        |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(h.hits_retrained AS DOUBLE) / 5.0 AS recall_retrained,
        |  CAST(h.hits_frozen AS DOUBLE) / 5.0 AS recall_frozen,
        |  h.hits_retrained - h.hits_frozen AS refresh_gain
        |FROM hi144 h LEFT JOIN cm144 c ON h.query_id = c.query_id
        |ORDER BY h.query_id""".stripMargin

  /** `p` prefixes every CTE this generator DEFINES (c0…, cvF, af, cut)
    * so two independent towers can share one WITH statement (q144
    * hosts the full-retrain AND frozen towers side by side); the
    * shared `e`/`en` header is emitted only when `header` (a prefixed
    * clone references the first tower's). `trainDef` (round 17, q176)
    * supplies an explicit SELECT body for the training CTE instead of
    * the default ⌊4n/5⌋-cut slice — the live-survivor tower trains on
    * a hash-sliced population no cut expresses. Default
    * ("" / true / null) emits byte-identical SQL to the
    * unparameterized original (diffed against the committed
    * oracle_sql.json before q176 landed — the r12 protocol).
    */
  private def ivfTrainAssignCtes(train: String = "en", p: String = "",
      header: Boolean = true, trainDef: String = null): String = {
    // A trainDef with the default train name would silently emit an
    // `en AS (...)` CTE colliding with the shared header's `en` — the
    // explicit-SELECT branch requires a distinct training CTE name.
    require(trainDef == null || train != "en",
      "ivfTrainAssignCtes: trainDef requires a non-default train name")
    val sb = new StringBuilder
    if (header) sb ++= embHeadCtes()
    if (train != "en" && trainDef != null)
      sb ++= s"""$train AS ($trainDef),
        |""".stripMargin
    else if (train != "en")
      sb ++= s"""${p}cut AS (SELECT (count(*) * 4) // 5 AS cut FROM embeddings),
        |$train AS (SELECT en.* FROM en, ${p}cut WHERE en.vec_id < ${p}cut.cut),
        |""".stripMargin
    sb ++= s"""${p}c0 AS (SELECT CAST(vec_id AS INT) AS cid, vq AS S, CAST(1 AS BIGINT) AS n FROM $train WHERE vec_id < $IvfK),
      |""".stripMargin
    for (t <- 1 to IvfIters) {
      sb ++= s"""${p}cv$t AS (SELECT cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}c${t - 1}),
        |${p}asg$t AS (
        |  SELECT vec_id, vq, cid FROM (
        |    SELECT vec_id, vq, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM (SELECT en.vec_id, en.vq, c.cid, ${d2Sql("en.v", "c.cv")} AS d2 FROM $train en, ${p}cv$t c))
        |  WHERE rn = 1),
        |${p}sums$t AS (
        |  SELECT a.cid, t.pos, CAST(sum(t.q) AS BIGINT) AS sq, count(*) AS cnt
        |  FROM ${p}asg$t a, LATERAL (SELECT unnest(a.vq) AS q, generate_subscripts(a.vq, 1) AS pos) t
        |  GROUP BY a.cid, t.pos),
        |${p}u$t AS (SELECT cid, list(sq ORDER BY pos) AS S, max(cnt) AS n FROM ${p}sums$t GROUP BY cid),
        |${p}c$t AS (SELECT p.cid, COALESCE(u.S, p.S) AS S, COALESCE(u.n, p.n) AS n
        |  FROM ${p}c${t - 1} p LEFT JOIN ${p}u$t u ON p.cid = u.cid),
        |""".stripMargin
    }
    sb ++= s"""${p}cvF AS (SELECT cid, list_transform(S, q -> CAST(q AS DOUBLE) / (1000000.0 * n)) AS cv FROM ${p}c$IvfIters),
      |${p}af AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT en.vec_id, c.cid, ${d2Sql("en.v", "c.cv")} AS d2 FROM en, ${p}cvF c))
      |  WHERE rn = 1),
      |""".stripMargin
    sb.toString
  }

  /** q42's oracle: the shared training/assignment prefix plus probes and
    * exact top-5 inside the probed cells — trained centroids,
    * assignments, probes, and top-5 all hash-match the Spark plan
    * bit-for-bit.
    */
  private def q42OracleSql: String = {
    val sb = new StringBuilder
    sb ++= ivfTrainAssignCtes()
    sb ++= s"""pr AS (
      |  SELECT query_id, cid AS cell FROM (
      |    SELECT vec_id AS query_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT en.vec_id, c.cid, ${d2Sql("en.v", "c.cv")} AS d2 FROM en, cvF c WHERE en.vec_id < 5))
      |  WHERE rn <= $IvfProbes),
      |scored AS (
      |  SELECT p.query_id, a.cell, a.vec_id,
      |    ${dotSql("eq.v", "ev.v")} / (eq.nrm * ev.nrm) AS cos
      |  FROM af a JOIN pr p ON a.cell = p.cell
      |  JOIN en ev ON a.vec_id = ev.vec_id
      |  JOIN en eq ON p.query_id = eq.vec_id
      |  WHERE a.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, CAST(rank AS INT) AS rank, cell, vec_id, cos
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
    sb.toString
  }

  /** q115's oracle: the shared training/assignment prefix + probes,
    * both sides label-filtered — approx top-5 inside probed cells,
    * exact top-5 over the full corpus — and the per-query hit rollup.
    */
  private def q115OracleSql: String = {
    val sb = new StringBuilder
    sb ++= ivfTrainAssignCtes()
    sb ++= s"""lb AS (SELECT vec_id, label FROM embeddings),
      |pr115 AS (
      |  SELECT query_id, cid AS cell FROM (
      |    SELECT vec_id AS query_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT en.vec_id, c.cid, ${d2Sql("en.v", "c.cv")} AS d2 FROM en, cvF c WHERE en.vec_id < 5))
      |  WHERE rn <= $IvfProbes),
      |ql115 AS (SELECT p.query_id, p.cell, lb.label AS qlabel
      |  FROM pr115 p JOIN lb ON p.query_id = lb.vec_id),
      |apx115 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT p.query_id, a.vec_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY ${dotSql("eq.v", "ev.v")} / (eq.nrm * ev.nrm) DESC, a.vec_id) AS rank
      |    FROM af a JOIN ql115 p ON a.cell = p.cell
      |      JOIN lb ON a.vec_id = lb.vec_id AND lb.label = p.qlabel
      |      JOIN en ev ON a.vec_id = ev.vec_id
      |      JOIN en eq ON p.query_id = eq.vec_id
      |    WHERE a.vec_id <> p.query_id)
      |  WHERE rank <= 5),
      |ex115 AS (
      |  SELECT query_id, qlabel, vec_id FROM (
      |    SELECT q.vec_id AS query_id, ql.label AS qlabel, ev.vec_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${dotSql("q.v", "ev.v")} / (q.nrm * ev.nrm) DESC, ev.vec_id) AS rank
      |    FROM en q JOIN lb ql ON q.vec_id = ql.vec_id
      |      JOIN en ev ON ev.vec_id <> q.vec_id
      |      JOIN lb lc ON ev.vec_id = lc.vec_id AND lc.label = ql.label
      |    WHERE q.vec_id < 5)
      |  WHERE rank <= 5)
      |SELECT e.query_id, e.qlabel AS label,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
      |  CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS recall
      |FROM ex115 e LEFT JOIN apx115 a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      |GROUP BY e.query_id, e.qlabel
      |ORDER BY e.query_id""".stripMargin
    sb.toString
  }

  /** q118's oracle: the shared training/assignment prefix + the
    * per-cell label argmax as a row_number mirror of the max-struct.
    */
  private def q118OracleSql: String = {
    val sb = new StringBuilder
    sb ++= ivfTrainAssignCtes()
    sb ++= s"""lb118 AS (SELECT vec_id, label FROM embeddings),
      |pl118 AS (
      |  SELECT af.cell, lb.label, CAST(count(*) AS BIGINT) AS c
      |  FROM af JOIN lb118 lb USING (vec_id) GROUP BY af.cell, lb.label),
      |r118 AS (
      |  SELECT cell, label, c,
      |    row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn,
      |    CAST(sum(c) OVER (PARTITION BY cell) AS BIGINT) AS n
      |  FROM pl118)
      |SELECT cell, n, CAST(label AS INT) AS top_label, c AS top_n,
      |  CAST(c AS DOUBLE) / n AS purity
      |FROM r118 WHERE rn = 1
      |ORDER BY cell""".stripMargin
    sb.toString
  }

  /** q126's oracle: the √n-cell edge-quantizer prefix
    * ([[edgeQuantCtes]]), the within-cell
    * top-[[KnnGK]] neighbor edges, then [[PrIters]] PageRank
    * iterations unrolled CTE-for-CTE — the same integer DIV damping
    * both engines (sum(BIGINT) is HUGEINT in DuckDB — cast before the
    * 85· product).
    */
  private def q126OracleSql: String = {
    val sb = new StringBuilder
    // materialized: eqaf/en feed av, pr0, and fin — unmaterialized, DuckDB
    // re-inlines the whole √n-cell Lloyd tower at each reference (the q135/
    // q143 blow-up round 9 documented)
    sb ++= edgeQuantCtes(materialized = true)
    sb ++= s"""av AS (SELECT eqaf.vec_id, eqaf.cell, en.v, en.nrm
      |  FROM eqaf JOIN en ON eqaf.vec_id = en.vec_id),
      |sc126 AS MATERIALIZED (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |ed AS (SELECT src, dst FROM (
      |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |    FROM sc126) WHERE rk <= $KnnGK),
      |od AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY src),
      |idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg FROM ed GROUP BY dst),
      |pr0 AS (SELECT vec_id AS id, CAST($PrScale AS BIGINT) AS r FROM eqaf),
      |""".stripMargin
    for (t <- 1 to PrIters) {
      sb ++= s"""ct$t AS (
        |  SELECT e.dst, CAST(sum(r.r // o.odeg) AS BIGINT) AS s
        |  FROM ed e JOIN od o ON e.src = o.src JOIN pr${t - 1} r ON e.src = r.id
        |  GROUP BY e.dst),
        |pr$t AS (
        |  SELECT n.id, ${15L * PrScale / 100} + (85 * COALESCE(c.s, 0)) // 100 AS r
        |  FROM pr0 n LEFT JOIN ct$t c ON n.id = c.dst),
        |""".stripMargin
    }
    sb ++= s"""fin AS (
      |  SELECT eqaf.vec_id, eqaf.cell, COALESCE(od.odeg, 0) AS odeg,
      |    COALESCE(idg.indeg, 0) AS indeg, pr$PrIters.r AS pr
      |  FROM eqaf JOIN pr$PrIters ON eqaf.vec_id = pr$PrIters.id
      |  LEFT JOIN od ON eqaf.vec_id = od.src
      |  LEFT JOIN idg ON eqaf.vec_id = idg.dst)
      |SELECT vec_id, cell, odeg, indeg, CAST(pr AS BIGINT) AS pr
      |FROM fin ORDER BY vec_id""".stripMargin
    sb.toString
  }

  /** q76's oracle: the shared training/assignment prefix, then the
    * within-cell smaller-id best neighbor (row_number mirror of the
    * Spark max-struct argmax) and the θ dup verdict.
    */
  private def q76OracleSql: String = {
    val sb = new StringBuilder
    sb ++= ivfTrainAssignCtes()
    sb ++= s"""sd AS (
      |  SELECT b.vec_id AS vec_id, a.vec_id AS cand,
      |    ${dotSql("ea.v", "eb.v")} / (ea.nrm * eb.nrm) AS cos
      |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN en ea ON ea.vec_id = a.vec_id
      |  JOIN en eb ON eb.vec_id = b.vec_id),
      |nn76 AS (
      |  SELECT vec_id, cand AS nn_id, cos AS nn_cos FROM (
      |    SELECT vec_id, cand, cos,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand) AS rn
      |    FROM sd)
      |  WHERE rn = 1)
      |SELECT af.vec_id, af.cell,
      |  COALESCE(nn76.nn_id, -1) AS nn_id,
      |  COALESCE(nn76.nn_cos, -1.0) AS nn_cos,
      |  CASE WHEN COALESCE(nn76.nn_cos, -1.0) >= $SemDupThreshold THEN 1 ELSE 0 END AS is_dup
      |FROM af LEFT JOIN nn76 ON af.vec_id = nn76.vec_id
      |ORDER BY af.vec_id""".stripMargin
    sb.toString
  }

  /** Shared oracle CTE prefix (ends WITHOUT a trailing comma, per the
    * factoring convention): tokenization → distinct 3-gram strings
    * (`sh`/`ex`) → gram hashes → 8 minhashes → occupancy-capped bands →
    * banded candidate pairs (`cands`). ONE DuckDB mirror of
    * [[minhashSig]] + [[bandCandPairs]], read by the q31 and q96
    * oracles so the audited detector and the audit can never drift.
    */
  private def minhashCandCtes: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |hs AS (SELECT doc_id, s,
      |  list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
      |    (a, x) -> (a * 31 + x) % 1000000007) AS h
      |  FROM ex),
      |mh AS (
      |  SELECT doc_id,
      |    min((3*h + 7) % 1000000007) AS mh0, min((5*h + 12) % 1000000007) AS mh1,
      |    min((7*h + 17) % 1000000007) AS mh2, min((9*h + 22) % 1000000007) AS mh3,
      |    min((11*h + 27) % 1000000007) AS mh4, min((13*h + 32) % 1000000007) AS mh5,
      |    min((15*h + 37) % 1000000007) AS mh6, min((17*h + 42) % 1000000007) AS mh7
      |  FROM hs GROUP BY doc_id),
      |bands0 AS (
      |  SELECT doc_id, b AS band,
      |    CASE b WHEN 0 THEN mh0 * 1000000007 + mh1 WHEN 1 THEN mh2 * 1000000007 + mh3
      |           WHEN 2 THEN mh4 * 1000000007 + mh5 ELSE mh6 * 1000000007 + mh7 END AS key
      |  FROM mh, (SELECT unnest([0, 1, 2, 3]) AS b)),
      |keepb AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= $BandOccCap),
      |bands AS (SELECT bands0.* FROM bands0 JOIN keepb USING (band, key)),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** q120's oracle: the identical dual-residue gram keys
    * ([[gramHashCtes]]) over the full corpus; first occurrence is one
    * min-group, novelty one long/long division, cums per-source
    * windows (doc_id unique, so the default RANGE frame equals ROWS).
    */
  private def q120OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("120", 3, distinct = true, carry = "doc_id, source") +
      s"""e120 AS (SELECT doc_id, source, unnest(hs) AS g FROM hs120),
      |f120 AS (SELECT g, min(doc_id) AS first_doc FROM e120 GROUP BY g),
      |p120 AS (
      |  SELECT e.doc_id, e.source, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM e120 e JOIN f120 f USING (g) GROUP BY e.doc_id, e.source)
      |SELECT doc_id, source, n_grams, n_novel,
      |  CAST(n_novel AS DOUBLE) / n_grams AS novelty,
      |  CAST(sum(n_novel) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_novel,
      |  CAST(sum(n_grams) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_grams
      |FROM p120 ORDER BY doc_id""".stripMargin

  /** q121's oracle: the q31 candidate CTEs extended to 32 permutations
    * of the same (2j+3)·h + (5j+7) family; agreements are CASE sums,
    * the estimators the identical fixed double expressions.
    */
  private def q121OracleSql: String = {
    val mins = (0 until BbitPerms).map(j =>
      s"min((${2 * j + 3}*h + ${5 * j + 7}) % 1000000007) AS m$j").mkString(",\n      |    ")
    val a32 = (0 until BbitPerms).map(j =>
      s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
    val c32 = (0 until BbitPerms).map(j =>
      s"(CASE WHEN a.m$j % $BbitMod = b.m$j % $BbitMod THEN 1 ELSE 0 END)").mkString(" + ")
    minhashCandCtes +
      s""",
      |mh32 AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM hs GROUP BY doc_id),
      |ag121 AS (
      |  SELECT c.da, c.db,
      |    CAST($a32 AS BIGINT) AS a32,
      |    CAST($c32 AS BIGINT) AS c32
      |  FROM cands c JOIN mh32 a ON a.doc_id = c.da JOIN mh32 b ON b.doc_id = c.db),
      |shared121 AS (
      |  SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS n_int
      |  FROM cands c JOIN ex a ON a.doc_id = c.da JOIN ex b ON b.doc_id = c.db AND b.s = a.s
      |  GROUP BY c.da, c.db),
      |sizes121 AS (SELECT doc_id, len(sh) AS n FROM sh)
      |SELECT g.da, g.db, g.a32, g.c32,
      |  CAST(g.a32 AS DOUBLE) / 32.0 AS jhat_full,
      |  greatest(0.0, (CAST(g.c32 AS DOUBLE) / 32.0 - 0.25) / 0.75) AS jhat_b2,
      |  CAST(COALESCE(s.n_int, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(s.n_int, 0)) AS jac
      |FROM ag121 g
      |LEFT JOIN shared121 s ON g.da = s.da AND g.db = s.db
      |JOIN sizes121 sa ON g.da = sa.doc_id JOIN sizes121 sb ON g.db = sb.doc_id
      |ORDER BY g.da, g.db""".stripMargin
  }

  /** q122's oracle: the q31 candidate CTEs + positional dual-residue
    * grams (generate_subscripts — the round-2 LATERAL idiom) + the
    * same diagonal gaps-and-islands, all integer.
    */
  private def q122OracleSql: String =
    minhashCandCtes +
      s""",
      |tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("122", 3, distinct = false) +
      s"""pg122 AS (SELECT doc_id, unnest(hs) AS g, generate_subscripts(hs, 1) AS pos FROM hs122),
      |m122 AS (
      |  SELECT c.da, c.db, a.pos AS pa, b.pos AS pb
      |  FROM cands c JOIN pg122 a ON a.doc_id = c.da
      |  JOIN pg122 b ON b.doc_id = c.db AND b.g = a.g),
      |runs122 AS (
      |  SELECT da, db, pa - pb AS diag, pa,
      |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
      |  FROM m122),
      |rl122 AS (
      |  SELECT da, db, CAST(count(*) AS BIGINT) AS run_grams
      |  FROM runs122 GROUP BY da, db, diag, grp)
      |SELECT da, db, CAST(sum(run_grams) AS BIGINT) AS n_match,
      |  CAST(count(*) AS BIGINT) AS n_runs,
      |  CAST(max(run_grams) + 2 AS BIGINT) AS max_run_tokens
      |FROM rl122 GROUP BY da, db ORDER BY da, db""".stripMargin

  /** q131's oracle: the q122 run derivation verbatim (same banding,
    * same diagonal islands), extended with the interval explode +
    * UNION-dedup coverage — the brute recompute of the mask budget.
    */
  private def q131OracleSql: String =
    minhashCandCtes +
      s""",
      |tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      gramHashCtes("131", 3, distinct = false) +
      s"""pg131 AS (SELECT doc_id, unnest(hs) AS g, generate_subscripts(hs, 1) AS pos FROM hs131),
      |m131 AS (
      |  SELECT c.da, c.db, a.pos AS pa, b.pos AS pb
      |  FROM cands c JOIN pg131 a ON a.doc_id = c.da
      |  JOIN pg131 b ON b.doc_id = c.db AND b.g = a.g),
      |runs131 AS (
      |  SELECT da, db, pa - pb AS diag, pa,
      |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
      |  FROM m131),
      |rl131 AS (
      |  SELECT da, db, diag, CAST(min(pa) AS BIGINT) AS pa0,
      |    CAST(count(*) AS BIGINT) AS rg
      |  FROM runs131 GROUP BY da, db, diag, grp
      |  HAVING count(*) >= $MaskMinGrams),
      |cov131 AS (
      |  SELECT da AS doc_id, unnest(generate_series(pa0, pa0 + rg + 1)) AS tp FROM rl131
      |  UNION
      |  SELECT db AS doc_id, unnest(generate_series(pa0 - diag, pa0 - diag + rg + 1)) AS tp FROM rl131),
      |mk131 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS masked_tokens FROM cov131 GROUP BY doc_id),
      |nt131 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
      |SELECT n.doc_id, n.n_tokens,
      |  CAST(coalesce(m.masked_tokens, 0) AS BIGINT) AS masked_tokens,
      |  CAST(coalesce(m.masked_tokens, 0) AS DOUBLE) / n.n_tokens AS mask_frac
      |FROM nt131 n LEFT JOIN mk131 m ON n.doc_id = m.doc_id
      |ORDER BY n.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q120_gram_novelty" -> q120OracleSql,
    "q121_bbit_minhash" -> q121OracleSql,
    "q122_exact_substr" -> q122OracleSql,
    "q131_dup_mask_budget" -> q131OracleSql,
    "q31_neardup_minhash" -> (minhashCandCtes +
      s""",
        |shared AS (
        |  SELECT c.da, c.db, count(*) AS n_int
        |  FROM cands c JOIN ex a ON a.doc_id = c.da JOIN ex b ON b.doc_id = c.db AND b.s = a.s
        |  GROUP BY c.da, c.db),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
        |SELECT s.da, s.db,
        |  CAST(s.n_int AS DOUBLE) / (sa.n + sb.n - s.n_int) AS jac
        |FROM shared s JOIN sizes sa ON s.da = sa.doc_id JOIN sizes sb ON s.db = sb.doc_id
        |WHERE CAST(s.n_int AS DOUBLE) / (sa.n + sb.n - s.n_int) >= 0.1
        |ORDER BY s.da, s.db""".stripMargin),
    "q96_dedup_audit" -> (minhashCandCtes +
      s""",
        |keepg AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $DfCap),
        |rare AS (SELECT ex.doc_id, ex.s FROM ex JOIN keepg USING (s)
        |  WHERE (SELECT count(*) FROM documents) <= $AuditSampleThreshold
        |     OR ${priorityHashSqlOn("ex.doc_id")} < $AuditSampleBound),
        |cpairs AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
        |pint AS (
        |  SELECT c.da, c.db, count(*) AS n_int
        |  FROM cpairs c JOIN ex a ON a.doc_id = c.da JOIN ex b ON b.doc_id = c.db AND b.s = a.s
        |  GROUP BY c.da, c.db),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        |  SELECT p.da, p.db,
        |    CAST(p.n_int AS DOUBLE) / (sa.n + sb.n - p.n_int) AS jac
        |  FROM pint p JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id),
        |pt AS (
        |  SELECT da, db, jac,
        |    1.0 - (1.0 - jac*jac)*(1.0 - jac*jac)*(1.0 - jac*jac)*(1.0 - jac*jac) AS p_theory
        |  FROM pairs),
        |agg AS (
        |  SELECT CAST(floor(jac * 10) AS INT) AS jb, count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
        |    CAST(CAST(sum(CAST(floor(p_theory * 100000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100000000.0 / count(*) AS exp_catch
        |  FROM pt p LEFT JOIN cands c ON p.da = c.da AND p.db = c.db
        |  GROUP BY 1)
        |SELECT jb, n_pairs, n_caught,
        |  CAST(n_caught AS DOUBLE) / n_pairs AS recall, exp_catch
        |FROM agg ORDER BY jb""".stripMargin),
    "q97_hashed_bow" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |hh AS (
        |  SELECT doc_id, CASE WHEN length(tok) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(generate_series(1, length(tok)), i -> CAST(ascii(tok[i]) AS BIGINT)),
        |      (a, x) -> (a * 31 + x) % 1000000007) END AS h
        |  FROM tk),
        |bv AS (
        |  SELECT doc_id, CAST(h % $BowDims AS INT) AS dim,
        |    1 - 2 * CAST((h // $BowDims) % 2 AS INT) AS sgn
        |  FROM hh),
        |vec AS (
        |  SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
        |  FROM bv GROUP BY 1, 2 HAVING CAST(sum(sgn) AS BIGINT) <> 0),
        |nrm AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM vec GROUP BY 1),
        |qids AS (
        |  SELECT doc_id AS qid FROM nrm
        |  ORDER BY ${priorityHashSqlOn("doc_id")}, doc_id LIMIT $BowNQueries),
        |qvec AS (SELECT q.qid, v.dim, v.v AS vq FROM vec v JOIN qids q ON v.doc_id = q.qid),
        |qn AS (SELECT q.qid, n.n2 AS n2q FROM nrm n JOIN qids q ON n.doc_id = q.qid),
        |dots AS (
        |  SELECT qv.qid, v.doc_id, CAST(sum(v.v * qv.vq) AS BIGINT) AS dot
        |  FROM vec v JOIN qvec qv ON v.dim = qv.dim AND v.doc_id <> qv.qid
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.qid, d.doc_id, d.dot,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE) * CAST(qn.n2q AS DOUBLE)) AS cos
        |  FROM dots d JOIN nrm n ON d.doc_id = n.doc_id JOIN qn ON d.qid = qn.qid),
        |rk AS (
        |  SELECT qid, doc_id, dot, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, dot, cos
        |FROM rk WHERE rank <= $BowTopK ORDER BY qid, rank""".stripMargin,
    "q32_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |bg AS (
        |  SELECT doc_id, list_transform(generate_series(1, greatest(len(t0) - 1, 0)),
        |    i -> t0[i] || ' ' || t0[i+1]) AS gs
        |  FROM tk WHERE len(t0) >= 2),
        |tok AS (
        |  SELECT doc_id, list_distinct(list_transform(gs,
        |    s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
        |           (a, x) -> (a * 31 + x) % 1000000007))) AS t
        |  FROM bg),
        |ex AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |keepw AS (SELECT w FROM ex GROUP BY w HAVING count(*) <= 64),
        |rare AS (SELECT ex.doc_id, ex.w FROM ex JOIN keepw USING (w)),
        |shared AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
        |  FROM rare a JOIN rare b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(t) AS n FROM tok)
        |SELECT da, db, shared,
        |  CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jac
        |FROM shared JOIN sizes na ON da = na.doc_id JOIN sizes nb ON db = nb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.05
        |ORDER BY da, db""".stripMargin,
    "q33_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), x -> list_contains(['scan','merge','window'], x))) AS s_de,
        |    len(list_filter(string_split(text, ' '), x -> list_contains(['the','fast','data'], x))) AS s_en,
        |    len(list_filter(string_split(text, ' '), x -> list_contains(['sort','table','query'], x))) AS s_es,
        |    len(list_filter(string_split(text, ' '), x -> list_contains(['join','group','row'], x))) AS s_fr,
        |    len(list_filter(string_split(text, ' '), x -> list_contains(['hash','filter','stream'], x))) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(s_de AS INT) AS s_de, CAST(s_en AS INT) AS s_en, CAST(s_es AS INT) AS s_es,
        |  CAST(s_fr AS INT) AS s_fr, CAST(s_zh AS INT) AS s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q34_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS tok, length(text) AS nc FROM documents)
        |SELECT doc_id,
        |  CAST(len(tok) AS INT) AS n_tokens,
        |  CAST(nc AS INT) AS n_chars_m,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9 ]')) AS INT) AS n_bpeish,
        |  CAST(nc AS DOUBLE) / len(tok) AS avg_tok_len,
        |  greatest(0.0, least(1.0,
        |    0.05 * (CAST(nc AS DOUBLE) / len(tok))
        |    + 0.5 * (CAST(len(list_filter(tok, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(tok))
        |    - 0.1 * (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / nc))) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "q35_token_stats" ->
      """SELECT COALESCE(lang, '(all)') AS lang, COALESCE(source, '(all)') AS source,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang) AS INT) AS g_l, CAST(GROUPING(source) AS INT) AS g_s
        |FROM documents
        |GROUP BY ROLLUP(lang, source)
        |ORDER BY g_l, g_s, lang, source""".stripMargin,
    "q36_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, t.w, t.i, len(string_split(text, ' ')) AS n
        |  FROM documents,
        |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
        |             generate_subscripts(string_split(text, ' '), 1) AS i) t),
        |th AS (
        |  SELECT doc_id, i, n,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(w)), k -> CAST(ascii(w[k]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1000000007) AS h
        |  FROM tok),
        |pw AS (
        |  SELECT doc_id, i, h,
        |    CASE WHEN n - i = 0 THEN 1
        |         ELSE list_reduce(list_transform(generate_series(1, n - i), z -> CAST(31 AS BIGINT)),
        |                (a, x) -> (a * x) % 1000000007) END AS w31
        |  FROM th)
        |SELECT doc_id, CAST(sum((h * w31) % 1000000007) % 1000000007 AS BIGINT) AS fp
        |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q37_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(w)), k -> CAST(ascii(w[k]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 65536) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h // CAST(2 ** b AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(generate_series(0, 15)) AS b)
        |  GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END) AS BIGINT) AS sh16
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q38_multimodal" ->
      """SELECT d.doc_id,
        |  substring(d.text, 1, 40) AS prefix, d.lang,
        |  CAST(len(e.embedding) AS INT) AS dim,
        |  sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS norm
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin,
    "q39_ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |proj AS (
        |  SELECT vec_id, j,
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN ((i-1)*37 + j*101 + (i-1)*j*13) % 97 < 48
        |           THEN CAST(embedding[i] AS DOUBLE) ELSE -CAST(embedding[i] AS DOUBLE) END),
        |      (a, b) -> a + b) AS p
        |  FROM e, (SELECT unnest(generate_series(0, 31)) AS j)),
        |bits AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS bits
        |  FROM proj GROUP BY vec_id),
        |bands AS (
        |  SELECT vec_id, b AS band, (bits // CAST(2 ** (8*b) AS BIGINT)) % 256 AS key
        |  FROM bits, (SELECT unnest([0, 1, 2, 3]) AS b)),
        |cands AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM bands q JOIN bands c ON q.band = c.band AND q.key = c.key AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(q.embedding)),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |      / (q.nrm * c.nrm) AS cos
        |  FROM cands cd JOIN e q ON cd.query_id = q.vec_id JOIN e c ON cd.vec_id = c.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q40_embedding_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |proj AS (
        |  SELECT vec_id, j,
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN ((i-1)*37 + j*101 + (i-1)*j*13) % 97 < 48
        |           THEN CAST(embedding[i] AS DOUBLE) ELSE -CAST(embedding[i] AS DOUBLE) END),
        |      (a, b) -> a + b) AS p
        |  FROM e, (SELECT unnest(generate_series(0, 31)) AS j)),
        |bits AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS bits
        |  FROM proj GROUP BY vec_id),
        |bands0 AS (
        |  SELECT vec_id, b AS band, (bits // CAST(2 ** (8*b) AS BIGINT)) % 256 AS key
        |  FROM bits, (SELECT unnest([0, 1, 2, 3]) AS b)),
        |keepb2 AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= $BandOccCap),
        |bands AS (SELECT bands0.* FROM bands0 JOIN keepb2 USING (band, key)),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
        |p AS (
        |  SELECT c.da, c.db,
        |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |      / (a.nrm * b.nrm) AS cos
        |  FROM cands c JOIN e a ON c.da = a.vec_id JOIN e b ON c.db = b.vec_id)
        |SELECT da, db, cos FROM p WHERE cos >= 0.4
        |ORDER BY da, db""".stripMargin,
    "q42_ann_ivf" -> q42OracleSql,
    "q90_pq_ann" -> q90OracleSql,
    "q91_ivfadc_ann" -> q91OracleSql,
    "q92_index_append" -> q92OracleSql,
    "q171_index_delete" -> q171OracleSql,
    "q175_pipeline_wave" -> q175OracleSql,
    // q177 deliberately shares q175's oracle TEXT: the law is that
    // compaction serves the identical readout, so the blind recompute
    // is the same statement
    "q177_pipeline_compact" -> q175OracleSql,
    "q176_index_compact" -> q176OracleSql,
    "q93_recall_audit" -> q93OracleSql,
    "q76_semantic_dedup" -> q76OracleSql,
    "q77_tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
        |    tf.tf * ((1000000 * nd.n_docs) // dft.df) AS score
        |  FROM tf JOIN dft USING (term), nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score
        |FROM r WHERE rank <= $TfidfTopK
        |ORDER BY doc_id, rank""".stripMargin,
    "q51_simhash64" -> q51OracleSql,
    "q56_dup_groups" -> q56OracleSql,
    "q134_dup_size_hist" -> q134OracleSql,
    "q135_graph_ann" -> q135OracleSql,
    "q143_graph_ann_div" -> q143OracleSql,
    "q144_refresh_audit" -> q144OracleSql,
    "q136_truncation_curve" -> q136OracleSql,
    "q137_family_coherence" -> q137OracleSql,
    "q139_sim_calibration" -> q139OracleSql,
    "q140_band_diagnostics" -> q140OracleSql,
    "q146_cc_merge" -> q146OracleSql,
    "q147_dup_passages" -> q147OracleSql,
    "q148_rolling_cc" -> q148OracleSql,
    "q149_cc_delete" -> q149OracleSql,
    "q157_label_update" -> q157OracleSql,
    "q150_passage_cut" -> q150OracleSql,
    "q151_graph_append" -> q151OracleSql,
    "q152_graph_delete" -> q152OracleSql,
    "q154_graph_lifecycle" -> q154OracleSql,
    "q79_best_rep" -> q79OracleSql,
    "q72_incremental_dedup" -> q72OracleSql,
    "q87_fuzzy_decontam" -> q87OracleSql,
    "q105_simjoin" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |${gramHashCtes("s5", 3, distinct = true)}pg5 AS (
        |  SELECT doc_id, unnest(hs) AS h FROM hss5),
        |m5 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM pg5 GROUP BY 1),
        |ix5 AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS i
        |  FROM pg5 a JOIN pg5 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, i AS inter, ma.m AS ma, mb.m AS mb,
        |  CAST(i AS DOUBLE) / (ma.m + mb.m - i) AS jaccard
        |FROM ix5 JOIN m5 ma ON ma.doc_id = da JOIN m5 mb ON mb.doc_id = db
        |WHERE 8 * i >= 3 * (ma.m + mb.m)
        |ORDER BY da, db""".stripMargin,
    "q106_bm25" ->
      s"""WITH ${bm25ScoreCtes("documents", nShared = true)},
        |r6 AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |  FROM sc6)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, score, n_shared
        |FROM r6 WHERE rank <= $Bm25TopK
        |ORDER BY qid, rank""".stripMargin,
    "q165_bm25_update" -> q165OracleSql,
    "q169_bm25_delete" -> q169OracleSql,
    "q125_rrf_fusion" ->
      s"""WITH ${bm25ScoreCtes("documents", nShared = false)},
        |lexr AS (SELECT qid, doc_id, CAST(rank AS INT) AS lex_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |  FROM sc6) WHERE rank <= $RrfDepth),
        |er AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |qvr AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm FROM er WHERE vec_id % 10 = 0),
        |scs AS (
        |  SELECT q.qid, e.vec_id AS doc_id,
        |    list_reduce(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |      / (q.qnrm * e.nrm) AS cos
        |  FROM er e, qvr q WHERE e.vec_id % 10 <> 0),
        |semr AS (SELECT qid, doc_id, CAST(rank AS INT) AS sem_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
        |  FROM scs) WHERE rank <= $RrfDepth),
        |fus AS (
        |  SELECT COALESCE(l.qid, s.qid) AS qid, COALESCE(l.doc_id, s.doc_id) AS doc_id,
        |    COALESCE(l.lex_rank, 0) AS lex_rank, COALESCE(s.sem_rank, 0) AS sem_rank
        |  FROM lexr l FULL OUTER JOIN semr s ON l.qid = s.qid AND l.doc_id = s.doc_id),
        |rr AS (
        |  SELECT *, CAST(
        |    CASE WHEN lex_rank > 0 THEN 1000000000 // ($RrfK0 + lex_rank) ELSE 0 END +
        |    CASE WHEN sem_rank > 0 THEN 1000000000 // ($RrfK0 + sem_rank) ELSE 0 END
        |    AS BIGINT) AS rrf
        |  FROM fus),
        |rkk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank FROM rr)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, rrf,
        |  CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank
        |FROM rkk WHERE rank <= $RrfTopK
        |ORDER BY qid, rank""".stripMargin,
    "q174_rerank_pairs" -> q174OracleSql,
    "q107_mmr_rerank" -> q107OracleSql,
    "q108_group_split" -> q108OracleSql,
    "q114_effective_size" -> q114OracleSql,
    "q115_filtered_ann" -> q115OracleSql,
    "q118_cell_purity" -> q118OracleSql,
    "q126_knn_centrality" -> q126OracleSql,
    "q127_sq8_ann" ->
      """WITH ex127 AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |ds127 AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex127 GROUP BY pos),
        |cd127 AS (
        |  SELECT vec_id, pos,
        |    CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |      ELSE least(CAST(floor((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0
        |        / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT), CAST(255 AS BIGINT)) END AS c
        |  FROM ex127 JOIN ds127 USING (pos)),
        |xh127 AS (
        |  SELECT cd127.vec_id, cd127.pos,
        |    CAST(mn AS DOUBLE) + (CAST(c AS DOUBLE) * (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) / 255.0 AS xh
        |  FROM cd127 JOIN ds127 USING (pos)),
        |xl127 AS (SELECT vec_id, list(xh ORDER BY pos) AS xh FROM xh127 GROUP BY vec_id),
        |qx127 AS (SELECT vec_id AS query_id, xh AS qxh FROM xl127 WHERE vec_id < 5),
        |sc127 AS (
        |  SELECT q.query_id, x.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(q.qxh)),
        |      i -> q.qxh[i] * x.xh[i]), (a, b) -> a + b) AS adot
        |  FROM xl127 x, qx127 q WHERE x.vec_id <> q.query_id),
        |ap127 AS (
        |  SELECT query_id, vec_id, adot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rank
        |  FROM sc127),
        |nq127 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |exsc127 AS (
        |  SELECT nq127.query_id, e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(nq127.qv)),
        |      i -> CAST(nq127.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b) AS dot
        |  FROM embeddings e, nq127 WHERE e.vec_id <> nq127.query_id),
        |ext127 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rk
        |    FROM exsc127) WHERE rk <= 10)
        |SELECT a.query_id, CAST(a.rank AS INT) AS rank, a.vec_id, a.adot,
        |  CAST(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact_topk
        |FROM ap127 a LEFT JOIN ext127 e
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |WHERE a.rank <= 10
        |ORDER BY a.query_id, a.rank""".stripMargin,
    "q128_embedding_outliers" ->
      """WITH ex128 AS (
        |  SELECT vec_id, label, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |qq128 AS (
        |  SELECT vec_id, label, pos,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS vq
        |  FROM ex128),
        |n128 AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
        |cs128 AS (SELECT label, pos, CAST(sum(vq) AS BIGINT) AS S FROM qq128 GROUP BY label, pos),
        |cv128 AS (
        |  SELECT label, list(cd ORDER BY pos) AS cv FROM (
        |    SELECT cs128.label, pos, CAST(S AS DOUBLE) / (1000000.0 * n) AS cd
        |    FROM cs128 JOIN n128 USING (label)) GROUP BY label),
        |d128 AS (
        |  SELECT e.vec_id, e.label,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |    - 2.0 * list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]), (a, b) -> a + b)
        |    + list_reduce(list_transform(generate_series(1, len(c.cv)),
        |      i -> c.cv[i] * c.cv[i]), (a, b) -> a + b) AS d2
        |  FROM embeddings e JOIN cv128 c ON e.label = c.label),
        |rk128 AS (
        |  SELECT vec_id, label, d2,
        |    row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY label) AS n_lbl
        |  FROM d128)
        |SELECT vec_id, label, d2, CAST(rk AS INT) AS dist_rank,
        |  CAST(CASE WHEN rk * 20 <= n_lbl THEN 1 ELSE 0 END AS INT) AS is_outlier
        |FROM rk128 ORDER BY vec_id""".stripMargin,
    "q129_multiprobe_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |proj AS (
        |  SELECT vec_id, j,
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN ((i-1)*37 + j*101 + (i-1)*j*13) % 97 < 48
        |           THEN CAST(embedding[i] AS DOUBLE) ELSE -CAST(embedding[i] AS DOUBLE) END),
        |      (a, b) -> a + b) AS p
        |  FROM e, (SELECT unnest(generate_series(0, 31)) AS j)),
        |bits AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS bits
        |  FROM proj GROUP BY vec_id),
        |bands AS (
        |  SELECT vec_id, b AS band, (bits // CAST(2 ** (8*b) AS BIGINT)) % 256 AS key
        |  FROM bits, (SELECT unnest([0, 1, 2, 3]) AS b)),
        |qprobes AS (
        |  SELECT vec_id AS query_id, band,
        |    CASE WHEN j = -1 THEN key ELSE xor(key, CAST(2 ** j AS BIGINT)) END AS key,
        |    CASE WHEN j = -1 THEN 1 ELSE 0 END AS orig
        |  FROM bands, (SELECT unnest(generate_series(-1, 7)) AS j)
        |  WHERE vec_id < 5),
        |cands AS (
        |  SELECT p.query_id, c.vec_id, max(p.orig) AS direct
        |  FROM bands c JOIN qprobes p ON c.band = p.band AND c.key = p.key
        |  WHERE c.vec_id <> p.query_id
        |  GROUP BY 1, 2),
        |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand FROM cands GROUP BY query_id),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id, cd.direct,
        |    list_reduce(list_transform(generate_series(1, len(q.embedding)),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |      / (q.nrm * c.nrm) AS cos
        |  FROM cands cd JOIN e q ON cd.query_id = q.vec_id JOIN e c ON cd.vec_id = c.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id, r.cos,
        |  CAST(1 - r.direct AS INT) AS via_probe, nc.n_cand
        |FROM ranked r JOIN nc ON r.query_id = nc.query_id
        |WHERE r.rank <= 5
        |ORDER BY r.query_id, r.rank""".stripMargin,
    "q101_winnowing" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |${gramHashCtes("w", WinnowK, distinct = false)}gr AS (
        |  SELECT doc_id, u.pos, u.h FROM hsw,
        |  LATERAL (SELECT unnest(hs) AS h, generate_subscripts(hs, 1) AS pos) u),
        |wk AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY doc_id) AS ng,
        |    min((h % 2147483648) * 2097152 + (2097151 - pos))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wkey
        |  FROM gr),
        |sel AS (
        |  SELECT DISTINCT doc_id, 2097151 - (wkey % 2097152) AS spos
        |  FROM wk WHERE pos <= greatest(1, ng - ${WinnowW - 1})),
        |fpw AS (
        |  SELECT DISTINCT s.doc_id, g2.h
        |  FROM sel s JOIN gr g2 ON g2.doc_id = s.doc_id AND g2.pos = s.spos),
        |occw AS (SELECT h FROM fpw GROUP BY h HAVING count(*) <= $WinnowCap),
        |pairsw AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fpw a JOIN occw o ON a.h = o.h JOIN fpw b ON b.h = a.h AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2),
        |nfpw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM fpw GROUP BY doc_id)
        |SELECT p.doc_a, p.doc_b, p.n_shared, na.n AS n_fp_a, nb.n AS n_fp_b,
        |  CAST(p.n_shared AS DOUBLE) / least(na.n, nb.n) AS overlap
        |FROM pairsw p JOIN nfpw na ON na.doc_id = p.doc_a JOIN nfpw nb ON nb.doc_id = p.doc_b
        |WHERE p.n_shared >= $WinnowMinShared
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    "q74_media_neardup" ->
      s"""WITH ${media74Ctes()}
        |SELECT ma, mb, dist FROM ap74 WHERE dist <= $MediaSigMaxDist
        |ORDER BY ma, mb""".stripMargin,
    "q164_media_update" -> q164OracleSql,
    "q173_media_delete" -> q173OracleSql,
    "q73_multimodal_dedup" ->
      """WITH m73 AS (
        |  SELECT doc_id AS media_id,
        |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    text
        |  FROM documents),
        |h73 AS (
        |  SELECT media_id, media_type,
        |    CAST(length(text) AS BIGINT) AS n_content_bytes,
        |    sha256(text) AS chash
        |  FROM m73),
        |c73 AS (
        |  SELECT chash, min(media_id) AS cluster_id,
        |    CAST(count(*) AS BIGINT) AS csz
        |  FROM h73 GROUP BY chash)
        |SELECT h73.media_id, h73.media_type, h73.n_content_bytes, h73.chash,
        |  c73.cluster_id,
        |  CASE WHEN h73.media_id = c73.cluster_id THEN 1 ELSE 0 END AS keeper,
        |  c73.csz
        |FROM h73 JOIN c73 USING (chash) ORDER BY media_id""".stripMargin,
    "q52_topk_tokens" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rank FROM c)
        |SELECT lang, CAST(rank AS INT) AS rank, w, cnt
        |FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "q55_stratified_sample" ->
      s"""WITH t AS (
        |  SELECT source, doc_id,
        |    $sampleRateBpSql AS rate_bp,
        |    $sampleHashSql AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(max(rate_bp) AS DOUBLE) / 10000.0 AS target_rate,
        |  CAST(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS eff_rate
        |FROM t GROUP BY source
        |ORDER BY source""".stripMargin,
    "q54_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s1 AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |s2 AS (
        |  SELECT vec_id, v, scale, CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END AS sdiv FROM s1)
        |SELECT vec_id, scale,
        |  CAST(floor(v[1]/sdiv + 0.5) AS INT) AS q0,
        |  CAST(floor(v[2]/sdiv + 0.5) AS INT) AS q1,
        |  CAST(floor(v[3]/sdiv + 0.5) AS INT) AS q2,
        |  CAST(floor(v[4]/sdiv + 0.5) AS INT) AS q3,
        |  sqrt(list_reduce(list_transform(generate_series(1, len(v)),
        |    i -> (v[i] - floor(v[i]/sdiv + 0.5) * scale) * (v[i] - floor(v[i]/sdiv + 0.5) * scale)),
        |    (a, b) -> a + b)) AS err
        |FROM s2
        |ORDER BY vec_id""".stripMargin,
    "q53_contamination" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(generate_series(1, greatest(len(t0) - 2, 0)),
        |    i -> t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]) AS gs
        |  FROM tk WHERE len(t0) >= 3),
        |hs AS (
        |  SELECT doc_id, list_distinct(list_transform(gs,
        |    s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
        |           (a, x) -> (a * 31 + x) % 1000000007))) AS hs
        |  FROM g),
        |te AS (SELECT doc_id, CAST(len(hs) AS INT) AS n_grams, unnest(hs) AS w FROM hs WHERE doc_id % 10 = 0),
        |tr AS (SELECT DISTINCT unnest(hs) AS w FROM hs WHERE doc_id % 10 <> 0)
        |SELECT te.doc_id, te.n_grams,
        |  CAST(sum(CASE WHEN tr.w IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(CASE WHEN tr.w IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / te.n_grams AS frac
        |FROM te LEFT JOIN tr ON te.w = tr.w
        |GROUP BY te.doc_id, te.n_grams
        |ORDER BY te.doc_id""".stripMargin,
    "q41_simhash_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(w)), k -> CAST(ascii(w[k]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 65536) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h // CAST(2 ** b AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(generate_series(0, 15)) AS b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END) AS BIGINT) AS sh16
        |  FROM votes GROUP BY doc_id)
        |SELECT sh16, count(*) AS n_members, min(doc_id) AS keeper
        |FROM sh GROUP BY sh16 HAVING count(*) > 1
        |ORDER BY sh16""".stripMargin,
    "q80_ngram_decontam" ->
      (s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |""".stripMargin +
        gramHashCtes("80", DecontArity, distinct = true) +
        s"""ne80 AS (SELECT doc_id, hs FROM hs80 WHERE len(hs) > 0),
        |ev80 AS (SELECT doc_id AS eval_id, unnest(hs) AS w FROM ne80 WHERE doc_id % 10 = 0),
        |tr80 AS (SELECT doc_id, CAST(len(hs) AS INT) AS n_grams, unnest(hs) AS w
        |         FROM ne80 WHERE doc_id % 10 <> 0),
        |hit80 AS (SELECT tr80.doc_id, tr80.n_grams, tr80.w, ev80.eval_id
        |          FROM tr80 JOIN ev80 ON tr80.w = ev80.w),
        |pe80 AS (SELECT doc_id, n_grams, eval_id, CAST(count(DISTINCT w) AS BIGINT) AS ns
        |         FROM hit80 GROUP BY doc_id, n_grams, eval_id),
        |top80 AS (
        |  SELECT doc_id, n_grams, eval_id AS top_eval, ns AS top_shared FROM (
        |    SELECT doc_id, n_grams, eval_id, ns,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY ns DESC, eval_id) AS rn
        |    FROM pe80)
        |  WHERE rn = 1),
        |agg80 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_docs
        |          FROM pe80 GROUP BY doc_id),
        |tot80 AS (SELECT doc_id, CAST(count(DISTINCT w) AS BIGINT) AS n_hit
        |          FROM hit80 GROUP BY doc_id)
        |SELECT top80.doc_id, top80.n_grams, tot80.n_hit, agg80.n_eval_docs,
        |  top80.top_eval, top80.top_shared,
        |  CAST(tot80.n_hit AS DOUBLE) / top80.n_grams AS frac
        |FROM top80 JOIN agg80 ON top80.doc_id = agg80.doc_id
        |JOIN tot80 ON top80.doc_id = tot80.doc_id
        |ORDER BY top80.doc_id""".stripMargin),
    "q81_dup_spans" ->
      (s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |""".stripMargin +
        gramHashCtes("81", SpanArity, distinct = false) +
        s"""pg81 AS (SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM hs81),
        |dup81 AS (
        |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM pg81)
        |  GROUP BY h HAVING count(*) > 1),
        |st81 AS (SELECT pg81.doc_id, CAST(pg81.pos AS BIGINT) AS pos
        |         FROM pg81 JOIN dup81 ON pg81.h = dup81.h),
        |cv81 AS (
        |  SELECT doc_id, pos,
        |    max(pos + ${SpanArity - 1}) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM st81),
        |cov81 AS (
        |  SELECT doc_id,
        |    CAST(sum(greatest(0, pos + ${SpanArity - 1}
        |      - greatest(pos - 1, COALESCE(prev_end, -1)))) AS BIGINT) AS covered
        |  FROM cv81 GROUP BY doc_id),
        |nt81 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |         FROM documents)
        |SELECT nt81.doc_id, nt81.n_tokens,
        |  COALESCE(cov81.covered, 0) AS covered,
        |  CAST(COALESCE(cov81.covered, 0) AS DOUBLE) / nt81.n_tokens AS frac,
        |  CASE WHEN COALESCE(cov81.covered, 0) * 10 >= nt81.n_tokens * 3
        |       THEN 1 ELSE 0 END AS dup_heavy
        |FROM nt81 LEFT JOIN cov81 ON nt81.doc_id = cov81.doc_id
        |ORDER BY nt81.doc_id""".stripMargin),
    "q82_balanced_sample" ->
      (ivfTrainAssignCtes() +
        s"""cs82 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM af GROUP BY cell),
        |""".stripMargin +
        PipelineQueries.quotaCtes("cs82", "cell", "82", SampleBudget) +
        s""",
        |qf82 AS (
        |  SELECT cell, n,
        |    CAST(quota0 + CASE WHEN rk <= d THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM k82),
        |dr82 AS (SELECT vec_id, cell, $vecSampleHashSql AS h FROM af),
        |rk82 AS (
        |  SELECT cell, vec_id, h,
        |    CAST(row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS BIGINT) AS rk
        |  FROM dr82)
        |SELECT r.cell, r.rk, r.vec_id, r.h, q.n AS cell_n, q.quota
        |FROM rk82 r JOIN qf82 q USING (cell)
        |WHERE r.rk <= q.quota
        |ORDER BY r.cell, r.rk""".stripMargin),
  )
}
