package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.TextOps

/** The end-to-end corpus-materialization pipeline — the one artifact an
  * LLM-data user actually ships (SURVEY.md §2.11 north star). Composes
  * the individually-proven stages into a single funnel over `documents`:
  *
  *  1. dedup      — keep one representative per near-dup cluster
  *                  ([[TextQueries.simhash64Pairs]] → [[graft.ops.Dedup]]
  *                  connected components, as q56);
  *  2. quality    — [[TextOps.qualityScore]] ≥ [[QualityThreshold]];
  *  3. decontam   — drop the held-out eval split (doc_id % 10 = 0)
  *                  entirely, plus any doc whose distinct trigrams
  *                  overlap the eval split's trigram set by ≥
  *                  [[ContamThreshold]] (q53's join shape, inverted:
  *                  corpus postings left-join the eval gram SET — linear,
  *                  never corpus × eval);
  *  4. sample     — q55's deterministic per-doc stratified hash test.
  *
  * Every stage is a per-doc FLAG computed in one shared scan+join DAG —
  * the funnel aggregates cumulative conjunctions, so no stage rescans
  * the corpus. All four predicates are deterministic and engine-exact,
  * which is what makes the whole funnel oracle-able in DuckDB
  * (recursive-CTE components + identical scalar expressions).
  *
  * At 100 TB: the flag DAG is the corpus scan + three dup-population/
  * vocabulary-sized joins (cluster labels, contamination fractions —
  * both broadcastable in practice), and [[materialize]]'s write is a
  * plain partitioned parquet append of the surviving rows — no extra
  * shuffle beyond `partitionBy`'s file split.
  */
object PipelineQueries {

  /** Keeps ~2/3 of this corpus (score range is 0.24–0.36 at sf0.01). */
  val QualityThreshold = 0.3
  /** Max repeated-2-gram fraction ([[graft.ops.TextOps.dupNgramFrac]])
    * the quality stage tolerates — the Gopher-style repetition gate.
    * Measured, not guessed: rep2 spans 0–0.18 with p99 ≈ 0.10 across
    * sf0.01/sf0.1 (max 0.133 / 0.182), so 0.12 sheds only the most
    * repetitious ~1% tail at both scales. Both engines compute the
    * fraction from identical operands, so the float comparison cannot
    * straddle engines (invariant 1).
    */
  val Rep2Max = 0.12
  /** Trigram-overlap fraction at/above which a doc is contaminated. */
  val ContamThreshold = 0.5

  /** The funnel's quality-stage predicate — scalar score AND repetition
    * gate — shared by [[stageFlags]] (q57), the streaming ingest twin
    * ([[graft.streaming.StreamingCorpus]]), and their specs, so the
    * batch and online paths can never gate differently.
    */
  def qualityGate(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextOps.qualityScore(text) >= QualityThreshold &&
      TextOps.dupNgramFrac(text, 2) <= Rep2Max

  /** Per-document stage flags:
    * `(doc_id, source, lang, f_dedup, f_quality, f_decontam, f_sample)`.
    */
  private[queries] def stageFlags(s: SparkSession, d: String): DataFrame = {
    // stage 1: connected components over the verified near-dup pairs
    // (the session-memoized labeling — see TextQueries.dupLabels)
    val lbl = TextQueries.dupLabels(s, d)
    // stage 3: contamination fraction of each non-eval doc's distinct
    // trigrams vs the eval split's trigram set (q53 inverted)
    val hs = tracked(documents(s, d)
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash(col("text"), TextOps.P, 3)).as("hs"))
      .filter(size(col("hs")) > 0))
    val evalSet = hs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(col("hs")).as("w")).distinct()
    val corpusGrams = hs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("w"))
    val contam = corpusGrams
      .join(evalSet.withColumn("hit", lit(1)), Seq("w"), "left")
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("nc"))
      .select(col("doc_id"), (col("nc").cast("double") / col("n")).as("frac"))
    documents(s, d).select(col("doc_id"), col("source"), col("lang"),
        qualityGate(col("text")).cast("int").as("f_q"))
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        (col("lbl").isNull || col("lbl") === col("doc_id")).cast("int").as("f_dedup"),
        col("f_q").as("f_quality"),
        (pmod(col("doc_id"), lit(10)) =!= 0 &&
          coalesce(col("frac"), lit(0.0)) < ContamThreshold).cast("int").as("f_decontam"),
        (TextQueries.sampleHash < TextQueries.sampleRateBp).cast("int").as("f_sample"))
  }

  /** EXT — the per-source materialization funnel: how many docs survive
    * each cumulative stage. The row a pipeline operator watches before
    * shipping a corpus.
    */
  val q57CorpusFunnel: Q = (s, d) => {
    stageFlags(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("f_dedup")).as("n_dedup"),
        sum(col("f_dedup") * col("f_quality")).as("n_quality"),
        sum(col("f_dedup") * col("f_quality") * col("f_decontam")).as("n_decontam"),
        sum(col("f_dedup") * col("f_quality") * col("f_decontam") * col("f_sample"))
          .as("n_sample"))
      .orderBy(col("source"))
  }

  /** EXT — JSONL ingest quarantine, oracle-tier (the
    * [[graft.sources.JsonlIngest]] branch exercised through a REAL
    * file round trip): the query synthesizes a JSONL shard from the
    * corpus with a deterministic per-line corruption rule
    * (doc_id mod 10 → 0-5 clean, 6 field-missing, 7 truncated at 20
    * chars, 8 doc_id type-violated, 9 non-JSON garbage), writes it as
    * text, reads it back through the quarantine reader against the
    * demanded (doc_id LONG, source, text) schema, and classifies each
    * OBSERVED outcome — parsed rows by their null pattern, quarantined
    * raw lines by shape. The DuckDB oracle never touches the file: it
    * recomputes the EXPECTED per-class outcome from the same
    * generation rule over `documents`, so the gate proves Spark's
    * whole write → PERMISSIVE parse → corrupt-record split loop lands
    * every line exactly where the rule says (a misparse moves a line
    * between classes and hash-fails; `ids_parsed` pins the parsed
    * PAYLOAD, not just counts). Missing-field lines must PARSE (with
    * null source — absence is data); truncation/type/garbage must
    * quarantine (malformation is an error).
    *
    * Scale shape: one text write + one json scan split by the
    * corrupt-record marker (cached once, both branches share the
    * parse) + two class-grained hash aggs. At 100 TB the shard is the
    * crawl drop itself — the synthesis here exists only to make the
    * branch deterministic enough to oracle.
    */
  /** Register a recursive delete of `path` at JVM exit, once per path
    * (q142's scratch shards are session-keyed, so nothing inside the
    * session can know when the last lazy read has happened — exit is
    * the one safe point, and it bounds /tmp across repeated rounds).
    */
  private val exitCleanups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // ONE hook for all paths, registered lazily on first use: a per-path
  // hook Thread would accumulate unboundedly in a long-lived JVM that
  // loops over sessions/dirs (each q142 run adds a path). The delete
  // never follows symlinks (recurse only into real directories) — a
  // scratch dir that somehow resolves through a link must not let the
  // cleanup walk out of /tmp.
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
        }
        f.delete(); ()
      }
      exitCleanups.forEach(p => rm(new java.io.File(p)))
    }))
  private[queries] def cleanupAtExit(path: String): Unit = {
    exitHookInstalled
    exitCleanups.add(path); ()
  }

  val q142JsonlQuarantine: Q = (s, d) => {
    import org.apache.spark.sql.types._
    // scratch path keyed by (pid, session, sfDir): a fixed path raced
    // when two sessions (driver + judge) ran concurrently. The pid
    // separates JVMs (identityHashCode alone is an address hash and CAN
    // coincide across processes); identity-keying the session means a
    // rerun in THIS session reuses one dir (refreshed below)
    val shard = "/tmp/graft_q142_shard_" +
      ProcessHandle.current().pid() + "_" +
      java.lang.Integer.toHexString(System.identityHashCode(s)) + "_" +
      java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
    // pid-keyed dirs would otherwise accumulate across sessions (the
    // read below is lazy, so the dir must outlive this function) —
    // remove at JVM exit, registered once per path
    cleanupAtExit(shard)
    val m = pmod(col("doc_id"), lit(10))
    val full = to_json(struct(col("doc_id"), col("source"), col("text")))
    documents(s, d).select(
      when(m <= 5, full)
        .when(m === 6, to_json(struct(col("doc_id"), col("text"))))
        .when(m === 7, substring(full, 1, 20))
        .when(m === 8, concat(lit("{\"doc_id\":\"x"), col("doc_id"),
          lit("\",\"source\":\""), col("source"), lit("\"}")))
        .otherwise(concat(lit("corrupt shard line "), col("doc_id"))).as("value"))
      .write.mode("overwrite").text(shard)
    // a same-session re-execution (Bench's warm rerun) overwrites the dir
    // with differently-named part files — drop the stale FileStatusCache
    // listing so the read below sees the fresh write (round-6 lesson)
    s.catalog.refreshByPath(shard)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val qr = graft.sources.JsonlIngest.read(s, shard, schema, tracked)
    val okAgg = qr.parsed
      .select(when(col("source").isNull, "nofield").otherwise("clean").as("cls"),
        col("doc_id"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parsed"), sum(col("doc_id")).as("ids_parsed"))
    val quarAgg = qr.quarantine
      .select(when(col("raw").startsWith("corrupt"), "garbage")
        .when(col("raw").contains("\"doc_id\":\"x"), "badtype")
        .otherwise("truncated").as("cls"))
      .groupBy(col("cls")).agg(count(lit(1)).as("n_quarantine"))
    okAgg.join(quarAgg, Seq("cls"), "full_outer")
      .select(col("cls"),
        (coalesce(col("n_parsed"), lit(0L)) + coalesce(col("n_quarantine"), lit(0L)))
          .as("n_lines"),
        coalesce(col("n_parsed"), lit(0L)).as("n_parsed"),
        coalesce(col("n_quarantine"), lit(0L)).as("n_quarantine"),
        coalesce(col("ids_parsed"), lit(0L)).as("ids_parsed"))
      .orderBy(col("cls"))
  }

  /** Materialize the surviving corpus as lang-partitioned parquet under
    * `outDir/corpus` and return the shipped row count. The write is the
    * flags join + a row filter + `partitionBy` — the at-scale shape
    * (one pass, no pre-write shuffle; file sizes follow the input
    * partitioning).
    */
  /** The funnel's surviving rows (all four stage flags set) — ONE
    * definition for every materialization format, so parquet/JSONL/ORC
    * exports can never diverge on membership.
    */
  private def survivors(s: SparkSession, d: String): DataFrame = {
    val flags = stageFlags(s, d)
      .filter(col("f_dedup") === 1 && col("f_quality") === 1 &&
        col("f_decontam") === 1 && col("f_sample") === 1)
      .select(col("doc_id"))
    documents(s, d).join(flags, Seq("doc_id"))
  }

  def materialize(s: SparkSession, d: String, outDir: String): Long = {
    survivors(s, d).write.mode("overwrite").partitionBy("lang")
      .parquet(s"$outDir/corpus")
    graft.Tables.parquet(s, s"$outDir/corpus").count()
  }

  /** The [[materialize]] twin on ORC — the second columnar format this
    * classpath ships natively (spark-avro is not present). Same
    * survivors, same lang partitioning, same one-pass write; returns
    * rows shipped. OrcFormatSpec proves the parquet and ORC round
    * trips carry IDENTICAL content (order-independent row digest) and
    * that lang partition pruning reaches the ORC scan.
    */
  def materializeOrc(s: SparkSession, d: String, outDir: String): Long = {
    survivors(s, d).write.mode("overwrite").partitionBy("lang")
      .orc(s"$outDir/corpus_orc")
    s.read.orc(s"$outDir/corpus_orc").count()
  }

  /** Export the SAME funnel survivors as lang-partitioned JSONL
    * (`outDir/corpus_jsonl`, one JSON object per line) — the hand-off
    * format external tokenizers and sequence trainers consume. The
    * line is `to_json(struct(...))` with a fixed field order; the
    * write is the same one-pass flags join + a text sink (one `value`
    * column + the partition column — no extra shuffle). Returns rows
    * shipped. Corpus text is newline-free by construction; a general
    * corpus would escape via to_json's own string encoding anyway.
    */
  def materializeJsonl(s: SparkSession, d: String, outDir: String): Long = {
    survivors(s, d)
      .select(col("lang"),
        to_json(struct(col("doc_id"), col("source"), col("text"))).as("value"))
      .write.mode("overwrite").partitionBy("lang").text(s"$outDir/corpus_jsonl")
    writeJsonlManifest(s, outDir)
    s.read.text(s"$outDir/corpus_jsonl").count()
  }

  /** The export's data-card: one manifest row per lang partition with
    * the row count and an ORDER-INDEPENDENT content digest — the exact
    * decimal sum of each line's first-15-hex-chars sha256 prefix,
    * reduced mod 2⁶⁰ (ANSI long sums throw on overflow; a decimal(38)
    * accumulator is exact to ~10²⁰ rows, and the final mod keeps the
    * digest a long). Order independence is the point: a consumer
    * re-verifies a shard after any repartition/merge without sorting,
    * and two shards' digests ADD (mod 2⁶⁰) when concatenated — the
    * q111 merge discipline applied to integrity checking. Computed by
    * READING BACK the written files (`input_file_name` → lang), so the
    * manifest attests the sink's actual bytes, not the pre-write
    * DataFrame. Written as single-file JSONL at
    * `outDir/corpus_jsonl_manifest`.
    */
  val ManifestMod = 1152921504606846976L // 2^60

  def writeJsonlManifest(s: SparkSession, outDir: String): Unit = {
    val lines = s.read.text(s"$outDir/corpus_jsonl")
      .withColumn("lang",
        regexp_extract(input_file_name(), "lang=([^/]+)/", 1))
    lines
      .withColumn("d",
        conv(substring(sha2(col("value"), 256), 1, 15), 16, 10).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("d").cast("decimal(30,0)")) % lit(ManifestMod)).cast("long").as("digest"))
      .select(to_json(struct(col("lang"), col("n_rows"), col("digest"))).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$outDir/corpus_jsonl_manifest")
  }

  /** Compact a JSONL export's lang partitions to ~[[CompactTargetBytes]]
    * files (the small-files problem: a 100 TB pipeline that writes one
    * file per task per partition drowns the namenode and makes every
    * downstream scan seek-bound). Per lang, the file count is
    * ⌈bytes/target⌉ from the actual partition byte size; rewrite is
    * one write per lang — coalesce (shuffle-free) when narrowing,
    * repartition only when the existing layout is coarser than the
    * target — and no decode (lines pass through verbatim). Integrity
    * is proven by the SAME manifest
    * digest: order-independent, so the compacted layout must reproduce
    * it exactly (CompactionSpec) — the q111 merge discipline closing
    * the loop on file layout.
    */
  val CompactTargetBytes = 64L * 1024

  def compactJsonl(s: SparkSession, outDir: String): Unit = {
    val root = new java.io.File(s"$outDir/corpus_jsonl")
    val langs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("lang="))
    for (dir <- langs) {
      val bytes = dir.listFiles().filter(_.getName.endsWith(".txt")).map(_.length).sum
      val nFiles = math.max(1, ((bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt)
      val df = s.read.text(dir.getAbsolutePath)
      // coalesce only REDUCES partition count — when the layout is
      // already wider than the target it is the shuffle-free path, but
      // a lang sitting in fewer-than-target files (one oversized file,
      // a re-compaction) must repartition or the file-count contract
      // is silently unmet
      val sized = if (df.rdd.getNumPartitions >= nFiles) df.coalesce(nFiles)
                  else df.repartition(nFiles)
      sized.write.mode("overwrite").text(s"$outDir/corpus_jsonl_compact/${dir.getName}")
    }
  }

  /** Document-frequency bounds for [[q58VocabPrune]]: a token must
    * appear in ≥ 2 documents (hapax noise) and ≤ 40% of the corpus
    * (stopword mass). The upper bound is evaluated as the INTEGER
    * comparison `df · 5 ≤ n_docs · 2` on both engines — no float
    * threshold to disagree about.
    */
  val VocabMinDf = 2

  /** EXT — df-bounded vocabulary pruning (the tokenizer-prep pass that
    * trims hapax legomena and stopword mass before BPE training):
    * corpus-wide token document frequencies gate a kept-vocabulary set;
    * each document reports how much of its token stream and of its
    * distinct vocabulary survives. Shapes: one explode, one distinct
    * (doc, token) aggregate for df, the kept SET joined back to the
    * postings (vocabulary-sized build side), one per-doc aggregate —
    * all hash shuffles, linear in corpus + vocabulary.
    */
  val q58VocabPrune: Q = (s, d) => {
    val tok = tracked(documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val df = tok.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val kept = df.crossJoin(broadcast(nDocs))
      .filter(col("df") >= VocabMinDf && col("df") * 5 <= col("n_docs") * 2)
      .select(col("w"), lit(1).as("hit"))
    tok.join(kept, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("hit"), lit(0))).as("n_kept"),
        countDistinct(col("w")).as("n_vocab"),
        countDistinct(when(col("hit") === 1, col("w"))).as("n_vocab_kept"))
      .withColumn("frac_kept", col("n_kept").cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        col("n_vocab"), col("n_vocab_kept"), col("frac_kept"))
      .orderBy(col("doc_id"))
  }

  /** [[q59BigramLift]] gates: a bigram must occur ≥ this many times. */
  val LiftMinPair = 20
  /** Top-k collocations reported. */
  val LiftTopK = 25

  /** EXT — collocation mining (phrase extraction for tokenizer merges /
    * n-gram features): consecutive token pairs scored by lift =
    * P(w1 w2) / (P(w1)·P(w2)) — computed as the exact rational
    * `(n_pair·N_tok) / (n_w1·n_w2)` in doubles with the identical
    * association on both engines (invariant 4: ratios, never log-PMI —
    * transcendentals aren't cross-engine bit-stable). Shapes: the bigram
    * explode rides the same scan as the unigram count; both aggregates
    * are map-side-combining hash shuffles over vocabulary-sized key
    * spaces; the final top-k sorts only the gated survivors.
    */
  val q59BigramLift: Q = (s, d) => {
    // persisted: the unigram and bigram branches both read the tokenized
    // corpus (invariant 6 — one scan + tokenize, not two)
    val toks = tracked(documents(s, d).select(TextOps.tokens(col("text")).as("t")))
    val uni = tracked(toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n")))
    val nTot = uni.agg(sum(col("n")).as("n_tok"))
    val pairs = toks
      .select(explode(expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)), (w, i) -> struct(w as w1, t[i + 1] as w2))"))
        .as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= LiftMinPair)
    pairs
      .join(uni.select(col("w").as("w1"), col("n").as("n1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n2")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .withColumn("lift",
        (col("n_pair").cast("double") * col("n_tok").cast("double"))
          / (col("n1").cast("double") * col("n2").cast("double")))
      .select(col("w1"), col("w2"), col("n_pair"), col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(LiftTopK)
  }

  /** EXT — per-source token budget under the sampling policy: what the
    * q55 mix weights actually buy in TOKENS (the unit a training run is
    * budgeted in), per stratum and as a share of the final corpus. One
    * scan + one 20-group aggregate + a broadcast 1-row total — the
    * report a data-mix owner refreshes per corpus version.
    */
  val q60TokenBudget: Q = (s, d) => {
    val t = documents(s, d).select(col("source"),
      size(TextOps.tokens(col("text"))).as("n_tok"),
      (TextQueries.sampleHash < TextQueries.sampleRateBp).cast("int").as("kept"))
    val per = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_tok") * col("kept")).as("n_tokens_sampled"))
    val tot = per.agg(sum(col("n_tokens_sampled")).as("tt"))
    per.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens_sampled").cast("double") / col("tt").cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_tokens_sampled"), col("share"))
      .orderBy(col("source"))
  }

  /** Corpus-frequency cap for [[q61LineDedup]]: a line occurring more
    * than this many times corpus-wide is boilerplate and is dropped
    * from every document. Non-vacuous at both test scales (sf0.01: 17
    * distinct lines exceed it, max freq 6; sf0.1: 128, max 27) yet
    * keeps the one-off and twice-seen content that near-dup pairs
    * legitimately share.
    */
  val LineFreqCap = 2

  /** EXT — line-level (sub-document) exact dedup, the C4/RefinedWeb
    * boilerplate pass one level below q30/q56's whole-document dedup:
    * hash each document's "lines" ([[TextOps.lineArray]] 8-token
    * chunks; real newline corpora plug in verbatim), count each line's
    * CORPUS-wide frequency, drop lines above [[LineFreqCap]], and
    * re-aggregate the surviving text per document (native
    * [[graft.functions.StructSortJoin]] — sort-by-position + join in
    * one pass) with removed-line/char audit stats. Shapes: explode →
    * hash-shuffle count (map-side combining) → join postings to the
    * line-vocabulary-sized frequency table → per-doc aggregate. Linear
    * in corpus + line vocabulary; no pairing anywhere. Funnel position:
    * runs BEFORE document-level near-dup (q56) in a real pipeline —
    * stripping shared boilerplate first keeps nav-bar mass from gluing
    * unrelated pages into one near-dup cluster.
    */
  val q61LineDedup: Q = (s, d) => {
    // persisted: the frequency aggregate and the postings join both
    // read the exploded line table (invariant 6)
    val lines = tracked(documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(TextOps.lineArray(col("t"))))
      .select(col("doc_id"), col("pos").cast("long").as("idx"), col("col").as("line"),
        TextOps.charHash(col("col"), TextOps.P).as("h")))
    val freq = lines.groupBy(col("h")).agg(count(lit(1)).as("f"))
    lines.join(freq, Seq("h"))
      .withColumn("kept", (col("f") <= LineFreqCap).cast("int"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 0, length(col("line"))).otherwise(0)).as("n_chars_removed"),
        graft.functions.StructSortJoin(
          collect_list(when(col("kept") === 1, struct(col("idx"), col("line")))), " ")
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** EXT — Gopher-style repetition quality signals, per document and
    * purely row-local (zero shuffle; rides the corpus scan at any
    * scale): repeated-{2,3,4}-gram occurrence fractions over the native
    * ShingleHash gram hashes and the duplicate-"line" fraction over
    * [[TextOps.lineArray]] chunks — all exact rationals (invariant 4).
    * rep2 is the signal the q57 funnel's quality stage gates on
    * ([[Rep2Max]]); the wider battery ships for corpus QC dashboards.
    */
  val q62Repetition: Q = (s, d) => {
    documents(s, d).select(
      col("doc_id"),
      TextOps.dupNgramFrac(col("text"), 2).as("rep2"),
      TextOps.dupNgramFrac(col("text"), 3).as("rep3"),
      TextOps.dupNgramFrac(col("text"), 4).as("rep4"),
      TextOps.dupLineFrac(col("text")).as("rep_line"))
      .orderBy(col("doc_id"))
  }

  /** EXT — PII scrub ([[graft.ops.Redact]]): per-document redaction of
    * emails / IPv4s / phone-shaped runs with audit counts. The driver
    * corpus contains no PII, so the query plants synthetic markers
    * derived from doc_id (identically in both engines — the q17
    * synthesized-IP pattern) and then scrubs them: docs ≡ 0 mod 3 gain
    * an email, mod 4 an IP, mod 5 a phone, so the scrubber sees every
    * combination including clean docs. Pure per-row regex work — the
    * at-scale shape is the scan itself; RedactSpec covers the hostile
    * inputs (malformed near-misses, adjacency, placeholder injection).
    */
  val q63PiiScrub: Q = (s, d) => {
    import graft.ops.Redact
    val ds = col("doc_id").cast("string")
    val raw = concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact u"), ds, lit("@mail.example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" from 10."), pmod(col("doc_id"), lit(200)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(250)).cast("string"),
          lit("."), (pmod(col("doc_id"), lit(254)) + 1).cast("string"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")))
    documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        Redact.countMatches(col("raw"), Redact.EmailRe).as("n_emails"),
        Redact.countMatches(col("raw"), Redact.Ipv4Re).as("n_ips"),
        Redact.countMatches(col("raw"), Redact.PhoneRe).as("n_phones"),
        Redact.redact(col("raw")).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Tokens per packed training sequence for [[q64SeqPack]]. Small
    * enough that sf0.01 yields ~100 sequences (non-trivial straddle
    * structure at every test scale); a production run sets its model's
    * context length here.
    */
  val SeqLen = 256L

  /** EXT — sequence packing: the last pipeline step before a trainer
    * sees the corpus. Documents are concatenated in deterministic
    * (source, doc_id) order and cut every [[SeqLen]] tokens; docs
    * straddle cuts (standard packed-pretraining semantics — no padding,
    * no document loss). Emits per-sequence audit stats: how many docs
    * touch the sequence, how many arrive mid-document from the previous
    * cut, token fill.
    *
    * Packing is per SOURCE (window partition key): each source is an
    * independent pack stream, which is exactly the shard-parallel shape
    * a 1000-executor run needs — the running token offset is a
    * partitioned window cumsum, never a single global task. Everything
    * downstream of the cumsum is integer arithmetic (span intersection
    * with cut boundaries), so both engines agree bit-for-bit.
    */
  val q64SeqPack: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val L = SeqLen
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("strt", col("cum") - col("n_tok"))
      // a doc spanning [strt, cum) touches sequences strt/L .. (cum-1)/L;
      // n_tok >= 1 so the sequence() is never descending (invariant 5)
      .select(col("source"), col("strt"), col("cum"),
        explode(sequence(expr(s"strt DIV $L"), expr(s"(cum - 1) DIV $L"))).as("seq_id"))
      .groupBy(col("source"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("strt") < col("seq_id") * L).cast("int")).cast("long").as("n_straddle"),
        sum(least(col("cum"), (col("seq_id") + 1) * L)
          - greatest(col("strt"), col("seq_id") * L)).as("n_tokens"))
      .withColumn("fill", col("n_tokens").cast("double") / lit(L.toDouble))
      .select(col("source"), col("seq_id"), col("n_docs"), col("n_straddle"),
        col("n_tokens"), col("fill"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** EXT — bigram-LM document scoring, the CCNet/KenLM-perplexity
    * analog that is exactly oracle-able: the corpus itself is the LM
    * (MLE bigram conditionals cb(prev,w)/cu(prev), no smoothing, no
    * logs — transcendentals are not cross-engine bit-stable, invariant
    * 4), and each document scores the mean and min of its bigram
    * conditional probabilities. Per-position division is IEEE-exact in
    * both engines; the mean's reduction goes through [[qmean8]]'s
    * floor-quantized long sum so neither accumulation order nor a
    * decimal rounding tie can matter (invariant 2). Low mean/min =
    * improbable token transitions = the gibberish a perplexity filter
    * sheds.
    *
    * At scale: one corpus scan builds bigrams (zip of two slices — no
    * self-join), the two count tables are vocabulary-sized
    * (broadcastable), and the final agg shuffles on doc_id.
    */
  val q65BigramLm: Q = (s, d) => {
    val big = tracked(documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      // min doc length is >= 2 tokens corpus-wide; slice lengths stay >= 1
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("prev"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w"))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w")))
    val cb = big.groupBy(col("prev"), col("w")).agg(count(lit(1)).as("cb"))
    val cu = tracked(documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("prev")))
      .groupBy(col("prev")).agg(count(lit(1)).as("cu"))
    val p = col("cb").cast("double") / col("cu").cast("double")
    big.join(cb, Seq("prev", "w")).join(cu, Seq("prev"))
      .withColumn("p", p)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        qmean8(col("p")).as("mean_p"),
        min(col("p")).as("min_p"))
      .orderBy(col("doc_id"))
  }

  /** Per-trigram surprisal gate for [[q155SurprisalFilter]], in
    * MILLI-BITS per trigram. Swept on the regenerated corpus before
    * adoption: per-doc mean surprisal spans 4,480–5,777 mbits at the
    * oracle SF (5,000–6,000 at sf0.1); 5,450 flags 48/100 wave docs at
    * sf0.01 and 634/1,000 at sf0.1 — non-vacuous and non-universal at
    * both SFs.
    */
  val SurpriseMbits = 5450L

  /** EXT — HELD-OUT LM quality filter (the CCNet/KenLM perplexity gate
    * as a 100 TB pipeline actually runs it, and the piece q65 does not
    * cover: q65 scores documents under an LM trained on the corpus
    * INCLUDING them — fine for corpus QC, wrong for admission). Here
    * the trigram LM trains on the frozen ⌊4n/5⌋ generation only (the
    * q92/q151 cut) and scores the INCOMING wave, so unseen n-grams are
    * first-class: add-V smoothing via integer surprisal — each wave
    * trigram costs bitlen((cu + V) DIV (cb + 1)) bits, the log₂ proxy
    * with no transcendentals anywhere (invariant 4; the round-7 HDR
    * bit-length idiom), where cb/cu are the train counts (0 when
    * unseen — measured non-vacuous: 2,281 unseen wave-trigram
    * occurrences at sf0.01, 60 at sf0.1) and V is the train vocabulary
    * (a scalar subquery in the oracle, a driver-side count here — the
    * q151 dynamic-constant discipline). Per doc: total bits, milli-bits
    * per trigram (integer DIV), unseen count, and the admission flag
    * at [[SurpriseMbits]]. Everything integer end-to-end — stronger
    * than a float mean: no quantized sum needed at all.
    *
    * At scale: one scan explodes the token stream ×1 into trigrams;
    * the two train tables aggregate map-side and join the wave by
    * (ctx, w) equi-keys (shuffle-partitioned by context — never
    * corpus-quadratic); the per-doc rollup shuffles on doc_id.
    */
  /** THE single trigram derivation for the surprisal-gate family —
    * q155, q156, and [[graft.streaming.StreamingLm]] all derive
    * `(doc_id, ctx, w)` through here, so the service's held state can
    * never drift from the oracled queries' gram definition.
    */
  private[graft] def lmTrigrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    // min corpus doc length is 10 tokens (measured) — the guard is
    // for generality, it never binds here
    .filter(size(col("t")) >= 3)
    .select(col("doc_id"),
      explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 2).as("a"),
        slice(col("t"), lit(2), size(col("t")) - 2).as("b"),
        slice(col("t"), lit(3), size(col("t")) - 2).as("c"))).as("p"))
    .select(col("doc_id"),
      concat(col("p.a"), lit(" "), col("p.b")).as("ctx"), col("p.c").as("w"))

  /** THE single q155 scorer: integer add-V surprisal of `wave(doc_id,
    * ctx, w)` under LM state `(cb(ctx, w, cb), cu(ctx, cu), v)` —
    * shared by q155/q156/[[graft.streaming.StreamingLm]] (same reason
    * as [[lmTrigrams]]).
    */
  private[graft] def lmScoreOver(wave: DataFrame, cb: DataFrame,
      cu: DataFrame, v: Long): DataFrame =
    wave.join(cb, Seq("ctx", "w"), "left")
      .join(cu, Seq("ctx"), "left")
      .select(col("doc_id"),
        length(bin(expr(s"(COALESCE(cu, 0) + $v) DIV (COALESCE(cb, 0) + 1)")))
          .cast("long").as("bits"),
        when(col("cb").isNull, 1L).otherwise(0L).as("unseen"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("bits")).as("total_bits"),
        sum(col("unseen")).as("n_unseen"))
      .withColumn("mbits_per_tri", expr("(1000 * total_bits) DIV n_tri"))
      .withColumn("flagged",
        (col("mbits_per_tri") > lit(SurpriseMbits)).cast("int"))

  val q155SurprisalFilter: Q = (s, d) => {
    val tri = tracked(lmTrigrams(documents(s, d)))
    val cutF = broadcast(documents(s, d).agg(expr("count(1) * 4 div 5").as("cut")))
    val train = tracked(tri.crossJoin(cutF)
      .filter(col("doc_id") < col("cut")).drop("cut"))
    val v = train.select(col("w")).distinct().count()
    val trainN = train.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("cb"))
    val trainC = train.groupBy(col("ctx")).agg(count(lit(1)).as("cu"))
    lmScoreOver(
      tri.crossJoin(cutF).filter(col("doc_id") >= col("cut")).drop("cut"),
      trainN, trainC, v)
      .orderBy(col("doc_id"))
  }

  /** EXT — ROLLING LM maintenance (q155's incremental twin — the q111
    * merge-law discipline applied to the quality gate's trained state):
    * a serving pipeline cannot retrain the admission LM from scratch
    * every wave, so the LM state (trigram counts, context counts,
    * vocabulary) is held as per-generation PARTIALS and folded
    * algebraically — `(ctx, w)` and `ctx` counts ADD, the vocabulary
    * merges as a DISTINCT UNION (|V| does NOT add — the non-trivial
    * half of the law) — and each fold is `localCheckpoint`ed exactly
    * like production state, so serve-2's plan never rescans history.
    * Two serve points prove the fold at two depths: wave 1
    * (docs [4n/5, 9n/10)) scores under fold(gen0, gen1); wave 1 is then
    * ADMITTED and wave 2 (docs [9n/10, n)) scores under
    * fold(fold(gen0, gen1), wave1). The ORACLE recomputes both scorings
    * from the unsplit train slices — the hash match IS the merge law at
    * both depths, q155's integer surprisal end-to-end (bits, unseen,
    * flag at [[SurpriseMbits]]) so a single miscounted gram flips a row.
    * Measured non-vacuous at every SF before wiring: both waves carry
    * unseen occurrences (1,234/947 at sf0.01; 32/25 at sf0.1) and the
    * threshold flags a strict subset of each (25/50 + 25/50 at sf0.01;
    * 310/500 + 291/500 at sf0.1).
    *
    * At scale: generation partials are gram-domain-sized (vocabulary²
    * at worst, never corpus-sized), the folds are one hash agg each,
    * and the wave joins are (ctx, w) equi-keys — identical shuffle
    * shape to q155, plus O(|grams|) state folds.
    */
  val q156RollingLm: Q = (s, d) => {
    val tri = tracked(lmTrigrams(documents(s, d)))
    val cuts = broadcast(documents(s, d).agg(
      expr("count(1) * 2 div 5").as("k0"),
      expr("count(1) * 4 div 5").as("k1"),
      expr("count(1) * 9 div 10").as("k2")))
    def slice2(pred: Column): DataFrame =
      tri.crossJoin(cuts).filter(pred).select(col("doc_id"), col("ctx"), col("w"))
    // per-generation partials — what a service persists per wave
    def partials(g: DataFrame): (DataFrame, DataFrame, DataFrame) = (
      g.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("cb")),
      g.groupBy(col("ctx")).agg(count(lit(1)).as("cu")),
      g.select(col("w")).distinct())
    // the fold: counts add, vocabulary unions — materialized like
    // state; the three tables are independent, so their eager
    // checkpoints drive concurrently (round-19, guide §2.6 — wall =
    // max of the three folds, not their sum; each table's plan and
    // rows are unchanged)
    def fold(a: (DataFrame, DataFrame, DataFrame), b: (DataFrame, DataFrame, DataFrame)) = {
      var cb: DataFrame = null; var cu: DataFrame = null; var vb: DataFrame = null
      parDrive(
        () => cb = a._1.unionByName(b._1).groupBy(col("ctx"), col("w"))
          .agg(sum(col("cb")).as("cb")).localCheckpoint(true),
        () => cu = a._2.unionByName(b._2).groupBy(col("ctx"))
          .agg(sum(col("cu")).as("cu")).localCheckpoint(true),
        () => vb = a._3.unionByName(b._3).distinct().localCheckpoint(true))
      (cb, cu, vb)
    }
    def score(wave: DataFrame, st: (DataFrame, DataFrame, DataFrame), id: Int) =
      lmScoreOver(wave, st._1, st._2, st._3.count())
        .withColumn("wave", lit(id.toLong))
    val s1 = fold(partials(slice2(col("doc_id") < col("k0"))),
      partials(slice2(col("doc_id") >= col("k0") && col("doc_id") < col("k1"))))
    val w1 = tracked(slice2(col("doc_id") >= col("k1") && col("doc_id") < col("k2")))
    val s2 = fold(s1, partials(w1))
    score(w1, s1, 1)
      .unionByName(score(slice2(col("doc_id") >= col("k2")), s2, 2))
      .select(col("wave"), col("doc_id"), col("n_tri"), col("total_bits"),
        col("n_unseen"), col("mbits_per_tri"), col("flagged"))
      .orderBy(col("wave"), col("doc_id"))
  }

  /** EXT — LM-state DELETE (the lifecycle cell q156 left open: counts
    * subtract trivially, but the vocabulary DISTINCT-UNION cannot
    * retract — the q153 KMV distinction, until now implicit). The fix
    * is algebraic, not a recompute: hold the vocabulary as a COUNTED
    * multiset `cw(w)` = w's trigram occurrences in the train state —
    * distinct-union is the support of a counted bag, and counts DO
    * retract — so the delete wave folds all three tables by
    * subtraction (cb, cu, cw; zeros drop) and |V_live| = |{w : cw>0}|.
    * The readout is q155's integer surprisal over the admission wave
    * under the LIVE state, plus `v_live` in every row so the counted
    * vocabulary itself is hash-checked. Delete slice = the seeded
    * ~12.8% hash slice of the TRAIN docs. Measured before wiring (r6
    * rule): the deletion flips 14/100 admission flags at sf0.01
    * (189/1000 at sf0.1) — non-vacuous; NO vocab word dies on this
    * corpus (31-word alphabet, every word survives 87.2% of docs), so
    * the cw→0 branch is corpus-dormant and LmRetractSpec drives it
    * synthetically (the q161/HdrRetractSpec discipline).
    *
    * The ORACLE retrains from scratch over the surviving train docs —
    * v as `count(DISTINCT w)`, no subtraction anywhere — so the hash
    * match proves fold ≡ retrain AND counted-support ≡ distinct.
    *
    * Scale shape: held state is gram-domain-sized; the wave partials
    * aggregate only the deleted docs' grams; scoring is q155's
    * (ctx, w) equi-join shuffle.
    */
  val q167LmRetract: Q = (s, d) => {
    val tri = tracked(lmTrigrams(documents(s, d)))
    val cutF = broadcast(documents(s, d).agg(expr("count(1) * 4 div 5").as("cut")))
    val train = tracked(tri.crossJoin(cutF)
      .filter(col("doc_id") < col("cut")).drop("cut"))
    val deadP = TextQueries.priorityHashOn(col("doc_id")) < lit(TextQueries.DeleteBound)
    lmRetractOver(train, tracked(train.filter(deadP)),
      tri.crossJoin(cutF).filter(col("doc_id") >= col("cut")).drop("cut"))
  }

  /** The q167 retraction core over arbitrary `(doc_id, ctx, w)` frames
    * (`dead` ⊆ `train`) — factored like [[hdrRetractCore]] so the spec
    * can drive the corpus-dormant cw→0 branch (a vocabulary word dying
    * entirely) on synthetic frames.
    */
  private[graft] def lmRetractOver(train: DataFrame, dead: DataFrame,
      probe: DataFrame): DataFrame = {
    // held state − the delete wave's partials, per table (union-sum,
    // zeros drop — the q163 foldCnt shape)
    def foldMinus(keys: Seq[String], out: String): DataFrame =
      train.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .unionByName(dead.groupBy(keys.map(col): _*).agg((-count(lit(1))).as("c")))
        .groupBy(keys.map(col): _*).agg(sum(col("c")).as(out))
        .filter(col(out) > 0)
    val cbLive = foldMinus(Seq("ctx", "w"), "cb")
    val cuLive = foldMinus(Seq("ctx"), "cu")
    // the counted vocabulary: |V_live| = |support(cw)| — the retractable
    // form of the distinct-union (driver-side count, the q155/q151
    // dynamic-constant discipline)
    val vLive = foldMinus(Seq("w"), "cw").count()
    lmScoreOver(probe, cbLive, cuLive, vLive)
      .withColumn("v_live", lit(vLive))
      .orderBy(col("doc_id"))
  }

  /** EXT — LM-state UPDATE under the re-crawl wave (the lifecycle cell
    * where q167's subtract and q156's add compose in ONE wave). The
    * seeded ~12.8% hash slice of the TRAIN generation re-crawls to
    * truncated content; the held LM state — trigram counts, context
    * counts, and the COUNTED vocabulary `cw` — folds as
    * held − slice-old + slice-new (union-sum, zeros drop), and
    * |V_live| = |support(cw)| exactly as in q167. The only hashing the
    * wave pays is the slice's re-derived trigrams (scan-linear in the
    * slice). The admission wave (docs ≥ cut) scores under the LIVE
    * state, `v_live` in every row.
    * Measured before wiring (r6 rule): every wave doc's mbits moves and
    * 48/100 admission flags flip at sf0.01 (365/1000 at sf0.1); the
    * truncation cuts mid-word, so the update BIRTHS vocabulary words (31
    * → 63 at sf0.01, → 123 at sf0.1) — the counted bag's add side is
    * corpus-live here, while word DEATH stays corpus-dormant (every base
    * word survives 87.2% of docs) and is already driven synthetically by
    * LmRetractSpec's core.
    *
    * The ORACLE retrains from scratch over the UPDATED train slice —
    * no fold anywhere — so the hash match proves subtract+add ≡ retrain
    * in one wave.
    *
    * Scale shape: q167's (gram-domain-sized state, slice-sized wave
    * partials, (ctx, w) equi-join scoring) plus one slice-sized trigram
    * re-derivation.
    */
  val q170LmUpdate: Q = (s, d) => {
    val tri = tracked(lmTrigrams(documents(s, d)))
    val cutF = broadcast(documents(s, d).agg(expr("count(1) * 4 div 5").as("cut")))
    val train = tracked(tri.crossJoin(cutF)
      .filter(col("doc_id") < col("cut")).drop("cut"))
    val updP = TextQueries.priorityHashOn(col("doc_id")) < lit(TextQueries.DeleteBound)
    // the wave's only hashing: the slice's re-crawled (truncated) text
    val sliceNew = lmTrigrams(documents(s, d).crossJoin(cutF)
      .filter(col("doc_id") < col("cut") && updP)
      .select(col("doc_id"),
        expr("substring(text, 1, length(text) DIV 2)").as("text")))
    lmUpdateOver(train, tracked(train.filter(updP)), tracked(sliceNew),
      tri.crossJoin(cutF).filter(col("doc_id") >= col("cut")).drop("cut"))
  }

  /** The q170 update core over arbitrary `(doc_id, ctx, w)` frames
    * (`deadOld` ⊆ `train`; `addNew` is the slice's re-derived grams) —
    * [[lmRetractOver]] with an add side, factored the same way so a
    * spec can drive word death AND birth on synthetic frames.
    */
  private[graft] def lmUpdateOver(train: DataFrame, deadOld: DataFrame,
      addNew: DataFrame, probe: DataFrame): DataFrame = {
    // held − slice-old + slice-new partials, per table (union-sum,
    // zeros drop — q167's foldMinus with the q156 add folded in)
    def fold(keys: Seq[String], out: String): DataFrame =
      train.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .unionByName(deadOld.groupBy(keys.map(col): _*).agg((-count(lit(1))).as("c")))
        .unionByName(addNew.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c")))
        .groupBy(keys.map(col): _*).agg(sum(col("c")).as(out))
        .filter(col(out) > 0)
    val cbLive = fold(Seq("ctx", "w"), "cb")
    val cuLive = fold(Seq("ctx"), "cu")
    val vLive = fold(Seq("w"), "cw").count()
    lmScoreOver(probe, cbLive, cuLive, vLive)
      .withColumn("v_live", lit(vLive))
      .orderBy(col("doc_id"))
  }

  /** q158's hashed feature space (the DSIR paper's bag of hashed
    * n-grams — vocabulary-free, so vectorization is one stateless pass
    * at any corpus size) and target slice. Measured on this corpus
    * before wiring: the importance score spans −2866..−1200 mbits at
    * sf0.01 (−1444..−250 at sf0.1), correlates 0.69 with the share of a
    * doc's bigrams seen in the target, and the top-K selection's mean
    * target-coverage is 0.89 vs the 0.81 pool mean — the ratio signal
    * genuinely ranks target-likeness. The threshold TIE-BREAK binds on
    * real data (8 docs share the cut value at sf0.01 with 1 seat left;
    * 6 at sf0.1).
    */
  val DsirDims = 8192L
  val DsirTargetSrc = "src0"

  /** Fused DSIR LM-state derivation (round-19, guide §2.4/§1.2-1): the
    * family used to run SEPARATE aggregation passes for the target and
    * pool per-dim counts and again for the two totals — 4 passes in
    * q158, 12 scan-aggregates in q163's held−old+new folds (measured
    * 47 jobs at sf0.1, wall ≈ jobs × overhead at these SFs). ONE
    * (dim, is_tgt)-keyed union-sum computes every per-dim count, and
    * each LM's total is the SUM of its per-dim folds (cancelled dims
    * contribute 0), so ct/cs/nt/ns all read off one ≤2·[[DsirDims]]-row
    * persisted frame. Long sums are order-independent — every derived
    * value is the identical integer, and the blind-recompute oracles
    * re-prove all three queries unchanged.
    *
    * `branches`: (postings frame with a `dim` column and `source`,
    * sign) — +1 held/add, −1 retired. Returns (ct, cs, nt, ns).
    */
  private def dsirFoldStats(branches: Seq[(DataFrame, Int)])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val fold = tracked(branches.map { case (df, sign) =>
        df.select(col("dim"), (col("source") === DsirTargetSrc).as("tgt"),
          lit(sign.toLong).as("c"))
      }.reduce(_ unionByName _)
      .groupBy(col("dim"), col("tgt")).agg(sum(col("c")).as("c")))
    val ct = fold.filter(col("tgt") && col("c") > 0)
      .select(col("dim"), col("c").as("ct"))
    val cs = fold.filter(!col("tgt") && col("c") > 0)
      .select(col("dim"), col("c").as("cs"))
    val nt = broadcast(fold.filter(col("tgt"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("nt")))
    val ns = broadcast(fold.filter(!col("tgt"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("ns")))
    (ct, cs, nt, ns)
  }

  /** Session memo of the ORIGINAL corpus DSIR postings `(doc_id,
    * source, dim)` — the held artifact of the DSIR family (round-19):
    * q158 indexes it, and q163/q168's folds take it as the HELD side
    * (q163's own comment: "the held state: the ORIGINAL corpus
    * postings (what q158 indexed)") — three queries re-ran the
    * identical corpus explode+hash per session. Built once per
    * (session, sfDir), charged to the bench's `dsir_memo_build` line;
    * bit-identical by construction (the r16 BM25 / r19 media-sig
    * accounting).
    */
  private[graft] def dsirBase(s: SparkSession, d: String): DataFrame =
    graft.ops.TowerMemo.memoize(s, d, "dsir_base") {
      documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.ShingleHash(col("text"), TextOps.P, 2)).as("h"))
        .select(col("doc_id"), col("source"),
          pmod(col("h"), lit(DsirDims)).as("dim"))
    }

  /** EXT — DSIR-style importance-resampling data selection (Xie et al.
    * 2023: select pretraining docs whose hashed-n-gram distribution
    * looks like a TARGET corpus, weighting by p_target/p_source): the
    * target LM trains on one source's docs, the source LM on the
    * remaining pool, both unigram over [[DsirDims]] hashed word-bigram
    * buckets with add-B smoothing; each pool doc scores
    * `src_bits − tgt_bits` in integer surprisal (the q155 bitlen
    * idiom — a doc cheap under the target but expensive under the pool
    * is target-like), normalized to milli-bits per gram, and the top
    * ⌊pool/10⌋ docs are selected EXACTLY. The exact-K cut uses the q95
    * histogram idiom: the only unpartitioned window runs over the
    * distinct-score table (value-domain-bounded, never the corpus), and
    * tie-break rank is computed only among the docs AT the cut value.
    * All integer end-to-end; the oracle replays every stage.
    *
    * At scale: hashed dims mean no vocabulary table — the two LMs are
    * ≤ [[DsirDims]]-row broadcasts, scoring is one equi-join of the
    * exploded pool stream, the per-doc rollup shuffles on doc_id, and
    * selection adds only value-domain-sized work.
    */
  val q158DsirSelect: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // the held postings (session memo — dsir_memo_build)
    val dims = dsirBase(s, d)
    val pool = tracked(dims.filter(col("source") =!= DsirTargetSrc))
    // one fused (dim, tgt) pass replaces the 4 separate target/pool
    // aggregations ([[dsirFoldStats]] — identical integers)
    val (ct, cs, nt, ns) = dsirFoldStats(Seq(dims -> 1))
    val agg = tracked(pool
      .join(cs, Seq("dim")) // every pool dim has a pool count
      .join(ct, Seq("dim"), "left")
      .crossJoin(nt).crossJoin(ns)
      .select(col("doc_id"), col("source"),
        length(bin(expr(s"(ns + $DsirDims) DIV (cs + 1)"))).cast("long").as("bs"),
        length(bin(expr(s"(nt + $DsirDims) DIV (COALESCE(ct, 0) + 1)")))
          .cast("long").as("bt"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("bs")).as("src_bits"),
        sum(col("bt")).as("tgt_bits"))
      .withColumn("mbits_diff",
        expr("(1000 * (src_bits - tgt_bits)) DIV n_grams")))
    val k = broadcast(agg.agg(expr("count(1) DIV 10").as("k")))
    val hist = agg.groupBy(col("mbits_diff").as("md")).agg(count(lit(1)).as("cnt"))
    // the cumulative window runs over the DISTINCT-score table —
    // value-domain-bounded, the q95/q100 idiom
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.orderBy(col("md").desc)))
    val thr = broadcast(cum.crossJoin(k).filter(col("c") >= col("k"))
      .orderBy(col("md").desc).limit(1)
      .select(col("md").as("mstar"), (col("c") - col("cnt")).as("above"), col("k")))
    // exact rank only among the docs AT the cut value
    val ties = agg.crossJoin(thr).filter(col("mbits_diff") === col("mstar"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    agg.crossJoin(thr).join(ties, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"), col("src_bits"),
        col("tgt_bits"), col("mbits_diff"),
        (col("mbits_diff") > col("mstar") ||
          (col("mbits_diff") === col("mstar") &&
            col("rn") <= col("k") - col("above")))
          .cast("int").as("selected"))
      .orderBy(col("doc_id"))
  }

  /** The q158 DSIR tower as a parameterized CTE generator (the q144 /
    * g151PrefixCtes shared-generator rule): `docsRel` is the document
    * relation the tower reads, `sfx` prefixes every CTE name so two
    * instantiations can share one WITH statement. Defaults emit
    * byte-identical SQL to the committed q158 oracle (diffed against
    * oracle_sql.json before q163 was added — the r12 discipline). Ends
    * WITHOUT a trailing comma (r6 rule).
    */
  private[graft] def dsirCtes(docsRel: String = "documents",
      sfx: String = "158"): String =
    s"""tk$sfx AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM $docsRel
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg$sfx AS (
      |  SELECT doc_id, source,
      |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(g)), k -> CAST(ascii(g[k]) AS BIGINT))),
      |      (a, x) -> (a * 31 + x) % ${TextOps.P})) % $DsirDims AS dim
      |  FROM (SELECT doc_id, source,
      |          unnest(t[1:len(t)-1]) || ' ' || unnest(t[2:len(t)]) AS g
      |        FROM tk$sfx)),
      |tgt$sfx AS (SELECT dim, count(*) AS ct FROM bg$sfx WHERE source = '$DsirTargetSrc' GROUP BY dim),
      |nt$sfx AS (SELECT count(*) AS n FROM bg$sfx WHERE source = '$DsirTargetSrc'),
      |pool$sfx AS MATERIALIZED (SELECT * FROM bg$sfx WHERE source <> '$DsirTargetSrc'),
      |cs$sfx AS (SELECT dim, count(*) AS cs FROM pool$sfx GROUP BY dim),
      |ns$sfx AS (SELECT count(*) AS n FROM pool$sfx),
      |sc$sfx AS (
      |  SELECT p.doc_id, p.source,
      |    CAST(length(format('{:b}', ((SELECT n FROM ns$sfx) + $DsirDims) // (cs + 1))) AS BIGINT) AS bs,
      |    CAST(length(format('{:b}', ((SELECT n FROM nt$sfx) + $DsirDims) // (COALESCE(ct, 0) + 1))) AS BIGINT) AS bt
      |  FROM pool$sfx p JOIN cs$sfx USING (dim) LEFT JOIN tgt$sfx t ON p.dim = t.dim),
      |ag$sfx AS MATERIALIZED (
      |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(bs) AS BIGINT) AS src_bits, CAST(sum(bt) AS BIGINT) AS tgt_bits,
      |    (1000 * (CAST(sum(bs) AS BIGINT) - CAST(sum(bt) AS BIGINT))) // count(*) AS mbits_diff
      |  FROM sc$sfx GROUP BY doc_id, source),
      |k$sfx AS (SELECT count(*) // 10 AS k FROM ag$sfx),
      |h$sfx AS (SELECT mbits_diff AS md, count(*) AS cnt FROM ag$sfx GROUP BY 1),
      |c$sfx AS (SELECT md, cnt, CAST(sum(cnt) OVER (ORDER BY md DESC) AS BIGINT) AS c FROM h$sfx),
      |thr$sfx AS (
      |  SELECT md AS mstar, c - cnt AS above FROM c$sfx, k$sfx
      |  WHERE c >= k$sfx.k ORDER BY md DESC LIMIT 1),
      |tie$sfx AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM ag$sfx, thr$sfx WHERE mbits_diff = mstar)"""

  /** The q158 final projection over a [[dsirCtes]] instantiation —
    * `extraCols` appends columns (q163 adds `is_updated`).
    */
  private[graft] def dsirFinalSelect(sfx: String = "158",
      extraCols: String = ""): String =
    s"""SELECT a.doc_id, a.source, a.n_grams, a.src_bits, a.tgt_bits, a.mbits_diff,
      |  CAST(CASE WHEN a.mbits_diff > t.mstar
      |    OR (a.mbits_diff = t.mstar AND e.rn <= (SELECT k FROM k$sfx) - t.above)
      |    THEN 1 ELSE 0 END AS INT) AS selected$extraCols
      |FROM ag$sfx a CROSS JOIN thr$sfx t LEFT JOIN tie$sfx e ON a.doc_id = e.doc_id"""

  /** q163's oracle: the ENTIRE q158 selection recomputed from scratch
    * over the UPDATED corpus (the q157 two-instantiation discipline —
    * the Spark side folds held counts, the oracle knows no maintenance,
    * so the hash match IS the fold law).
    */
  private def q163OracleSql: String =
    s"""WITH u163 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound}
      |      THEN substr(text, 1, length(text) // 2) ELSE text END AS text
      |  FROM documents),
      |${dsirCtes("u163", "163")}
      |${dsirFinalSelect("163", s""",
      |  CAST(CASE WHEN ${TextQueries.priorityHashSqlOn("a.doc_id")} < ${TextQueries.DeleteBound}
      |    THEN 1 ELSE 0 END AS INT) AS is_updated""")}
      |ORDER BY a.doc_id""".stripMargin

  /** q168's oracle: the ENTIRE q158 selection recomputed from scratch
    * over the SURVIVING corpus (same two-instantiation discipline as
    * q163 — the Spark side folds held counts by subtraction, the oracle
    * knows no maintenance, so the hash match IS the delete-fold law).
    */
  private def q168OracleSql: String =
    s"""WITH l168 AS (
      |  SELECT doc_id, source, text FROM documents
      |  WHERE NOT (${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound})),
      |${dsirCtes("l168", "168")}
      |${dsirFinalSelect("168")}
      |ORDER BY a.doc_id""".stripMargin

  /** EXT — DSIR selection under the RE-CRAWL wave (q158's feature counts
    * are exactly the subtract-old-add-new shape q159 proved for stats, so
    * the selection is maintainable): the seeded ~12.8% hash slice
    * re-crawls to truncated content (q159's slice and transform — the
    * mod-5 slice is source-aligned and DSIR stratifies by source, so it
    * is BANNED here; see UpdMod's warning), and the selection re-derives
    * under the updated universe with the LM STATE FOLDED, never
    * retrained: per-dim target/pool counts and the two totals each fold
    * as held − old-slice-partials + new-slice-partials (one union-sum
    * aggregation over state + wave-bounded deltas); only the per-doc
    * SCORING rescans the pool stream — inherent, since the totals enter
    * every gram's surprisal, so every doc's score moves under any wave.
    * The cut then re-derives by the q95 histogram idiom. Measured before
    * wiring (r6 rule): the wave touches 4–33 target and 60–594 pool docs,
    * flips 28/36/468 selection flags at sf0.001/0.01/0.1, pool membership
    * is stable (no halved doc drops below 2 tokens), and the tie-break
    * BINDS (3 docs at the cut for 1 seat at sf0.001; 44 for 13 at sf0.1).
    *
    * The ORACLE recomputes q158 from scratch over the updated corpus
    * ([[dsirCtes]] instantiated on the u163 relation) — the hash match
    * machine-proves fold ≡ retrain, selection included.
    *
    * Scale shape: held postings scan + wave-bounded deltas fold in two
    * hash aggs; scoring joins the updated pool stream on dim against
    * two ≤[[DsirDims]]-row broadcasts; selection adds value-domain
    * work only (the q158 envelope, plus O(wave) delta terms).
    */
  val q163DsirUpdate: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val updP = TextQueries.priorityHashOn(col("doc_id")) < lit(TextQueries.DeleteBound)
    val half = expr("substring(text, 1, length(text) DIV 2)")
    def dimsOf(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.ShingleHash(col("text"), TextOps.P, 2)).as("h"))
      .select(col("doc_id"), col("source"), pmod(col("h"), lit(DsirDims)).as("dim"))
    // the held state: the ORIGINAL corpus postings (what q158 indexed —
    // session memo, dsir_memo_build)
    val base = dsirBase(s, d)
    // the wave: the slice's retired (old-content) and fresh (new-content)
    // postings — both wave-bounded
    val sliceOld = tracked(base.filter(updP))
    val sliceNew = tracked(dimsOf(documents(s, d).filter(updP)
      .select(col("doc_id"), col("source"), half.as("text"))))
    def isTgt = col("source") === DsirTargetSrc
    // per-dim counts and totals FOLD as held − old + new in ONE fused
    // (dim, tgt) union-sum ([[dsirFoldStats]] — was 12 scan-aggregates)
    val (ct, cs, nt, ns) =
      dsirFoldStats(Seq(base -> 1, sliceOld -> -1, sliceNew -> 1))
    // the updated pool stream for scoring: untouched docs' held postings
    // ∪ the slice's fresh postings
    val pool = tracked(base.filter(!isTgt && !updP)
      .unionByName(sliceNew.filter(!isTgt)))
    val agg = tracked(pool
      .join(cs, Seq("dim"))
      .join(ct, Seq("dim"), "left")
      .crossJoin(nt).crossJoin(ns)
      .select(col("doc_id"), col("source"),
        length(bin(expr(s"(ns + $DsirDims) DIV (cs + 1)"))).cast("long").as("bs"),
        length(bin(expr(s"(nt + $DsirDims) DIV (COALESCE(ct, 0) + 1)")))
          .cast("long").as("bt"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("bs")).as("src_bits"),
        sum(col("bt")).as("tgt_bits"))
      .withColumn("mbits_diff",
        expr("(1000 * (src_bits - tgt_bits)) DIV n_grams")))
    val k = broadcast(agg.agg(expr("count(1) DIV 10").as("k")))
    val hist = agg.groupBy(col("mbits_diff").as("md")).agg(count(lit(1)).as("cnt"))
    // the cumulative window runs over the DISTINCT-score table —
    // value-domain-bounded, the q95/q100 idiom (expected WindowExec WARN)
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.orderBy(col("md").desc)))
    val thr = broadcast(cum.crossJoin(k).filter(col("c") >= col("k"))
      .orderBy(col("md").desc).limit(1)
      .select(col("md").as("mstar"), (col("c") - col("cnt")).as("above"), col("k")))
    val ties = agg.crossJoin(thr).filter(col("mbits_diff") === col("mstar"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    agg.crossJoin(thr).join(ties, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"), col("src_bits"),
        col("tgt_bits"), col("mbits_diff"),
        (col("mbits_diff") > col("mstar") ||
          (col("mbits_diff") === col("mstar") &&
            col("rn") <= col("k") - col("above")))
          .cast("int").as("selected"),
        updP.cast("int").as("is_updated"))
      .orderBy(col("doc_id"))
  }

  /** EXT — DSIR selection under DELETE (the lifecycle cell q163 left
    * open: update = subtract-old-add-new; delete is the subtract half
    * alone, applied to BOTH LMs — a GDPR takedown removes the doc from
    * the target corpus, the pool, and the selection universe at once).
    * The seeded ~12.8% hash slice dies; per-dim target/pool counts and
    * the two totals fold as held − slice partials (zeros drop — no
    * rescan of surviving postings), the pool stream for scoring is the
    * held postings minus the slice, and the top-⌊pool/10⌋ cut
    * re-derives by the q95 histogram idiom (inherent: the totals enter
    * every gram's surprisal, so every surviving doc's score moves).
    * Measured before wiring (r6 rule): the deletion flips 25/415
    * surviving selection flags at sf0.01 (374/4156 at sf0.1) and the
    * exact-K tie-break BINDS (2 docs at the cut for 1 seat at sf0.01;
    * 3 for 3 at sf0.1).
    *
    * The ORACLE recomputes q158 from scratch over the surviving corpus
    * ([[dsirCtes]] on the l168 relation — the q163 two-instantiation
    * discipline), so the hash match proves fold ≡ retrain, selection
    * included.
    *
    * Scale shape: held postings fold with wave-bounded deltas in two
    * hash aggs; scoring joins the surviving pool stream on dim against
    * two ≤[[DsirDims]]-row broadcasts; selection adds value-domain
    * work only.
    */
  val q168DsirDelete: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val deadP = TextQueries.priorityHashOn(col("doc_id")) < lit(TextQueries.DeleteBound)
    // held postings (session memo — dsir_memo_build)
    val base = dsirBase(s, d)
    val sliceOld = tracked(base.filter(deadP))
    def isTgt = col("source") === DsirTargetSrc
    // per-dim counts and totals fold as held − dead in ONE fused
    // (dim, tgt) union-sum ([[dsirFoldStats]] — was 8 scan-aggregates)
    val (ct, cs, nt, ns) = dsirFoldStats(Seq(base -> 1, sliceOld -> -1))
    // the surviving pool stream for scoring
    val pool = tracked(base.filter(!isTgt && !deadP))
    val agg = tracked(pool
      .join(cs, Seq("dim"))
      .join(ct, Seq("dim"), "left")
      .crossJoin(nt).crossJoin(ns)
      .select(col("doc_id"), col("source"),
        length(bin(expr(s"(ns + $DsirDims) DIV (cs + 1)"))).cast("long").as("bs"),
        length(bin(expr(s"(nt + $DsirDims) DIV (COALESCE(ct, 0) + 1)")))
          .cast("long").as("bt"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("bs")).as("src_bits"),
        sum(col("bt")).as("tgt_bits"))
      .withColumn("mbits_diff",
        expr("(1000 * (src_bits - tgt_bits)) DIV n_grams")))
    val k = broadcast(agg.agg(expr("count(1) DIV 10").as("k")))
    val hist = agg.groupBy(col("mbits_diff").as("md")).agg(count(lit(1)).as("cnt"))
    // distinct-score window — value-domain-bounded (expected WindowExec WARN)
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.orderBy(col("md").desc)))
    val thr = broadcast(cum.crossJoin(k).filter(col("c") >= col("k"))
      .orderBy(col("md").desc).limit(1)
      .select(col("md").as("mstar"), (col("c") - col("cnt")).as("above"), col("k")))
    val ties = agg.crossJoin(thr).filter(col("mbits_diff") === col("mstar"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    agg.crossJoin(thr).join(ties, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"), col("src_bits"),
        col("tgt_bits"), col("mbits_diff"),
        (col("mbits_diff") > col("mstar") ||
          (col("mbits_diff") === col("mstar") &&
            col("rn") <= col("k") - col("above")))
          .cast("int").as("selected"))
      .orderBy(col("doc_id"))
  }

  /** EXT — cross-source overlap matrix: distinct-trigram Jaccard
    * between every source pair — the corpus-QC dashboard that tells a
    * pipeline owner which crawls/feeds duplicate each other before
    * mixing weights are chosen (q60's budget allocator consumes exactly
    * this signal). Set sizes and intersections are integers; Jaccard is
    * one exact division.
    *
    * At scale: the (source, gram) postings table self-joins on the GRAM
    * hash, so cost is Σ_gram occ², with occ bounded by the number of
    * sources (20 here, never documents) — linear in distinct grams,
    * quadratic only in the source count.
    */
  val q66SourceOverlap: Q = (s, d) => {
    val sg = tracked(documents(s, d)
      .select(col("source"),
        explode(array_distinct(
          graft.functions.ShingleHash(col("text"), TextOps.P, 3))).as("h"))
      .distinct())
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sg.as("a").join(sg.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .withColumn("jaccard", col("n_common").cast("double")
        / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Merge rounds for [[q67BpeTrain]]. */
  val BpeRounds = 6
  /** Symbol-boundary separator for the BPE word encoding — a character
    * provably absent from the corpus alphabet (lowercase a–y + space;
    * measured, and any real deployment picks an out-of-alphabet byte
    * the same way).
    */
  val BpeSep = "~"

  /** Session memo of the FULL-corpus BPE trainer (round-19: q67, q68
    * and q162's refreshed tower all replayed the identical
    * deterministic 6-round driver loop — 3 trainings per session for
    * one artifact). Production holds the trained tokenizer (the merge
    * table IS what a tokenizer serializes — q67 scaladoc), so the
    * session memoizes it exactly like the ANN towers / BM25 state:
    * built once per (session, sfDir), charged to the bench's
    * `bpe_memo_build` line, bit-identical by construction (the memo
    * stores the same collected argmax rows and the same final
    * encoding frame, checkpointed). q162's OLD tower (frozen ⌊4n/5⌋
    * generation) stays live — that training is the query's own work.
    */
  private[graft] def bpeFull(s: SparkSession, d: String)
      : (Vector[(Int, String, String, String, Long)], DataFrame) =
    graft.ops.TowerMemo.held(s, s"$d|bpe") {
      val (m, cur) = bpeTrainOn(documents(s, d))
      (m, cur.localCheckpoint(true))
    }

  /** The shared BPE trainer behind [[q67BpeTrain]] and [[q68BpeEncode]]:
    * returns the merge table and the final per-word symbol encoding.
    * Rounds are driver-sequenced like q42's Lloyd iterations: each
    * round's action collects exactly the 1-row argmax (the merge — the
    * same single row a broadcast join would ship), then the next
    * round's plan embeds it as literals. Weights are exact long sums
    * and the alphabet (a–y + '~') contains no quote characters, so the
    * embedded literals replay bit-identically (invariant 7). The
    * replace chain stays a stack of narrow projections over the cached
    * vocabulary — at a real merge count, re-persist every few rounds.
    *
    * Over an arbitrary corpus frame — q162 trains the OLD tokenizer on
    * the frozen generation and the refreshed one on the full corpus, so
    * the trainer must be corpus-parameterized.
    */
  private def bpeTrainOn(docs: DataFrame)
      : (Vector[(Int, String, String, String, Long)], DataFrame) = {
    // per-round 1-row argmax collects over the persisted vocabulary —
    // a fixed-shape Scala loop
    val enc0 = expr(
      s"array_join(transform(sequence(1, length(w)), i -> concat('$BpeSep', substring(w, i, 1), '$BpeSep')), '')")
    // the one heavy input: vocabulary aggregate over the corpus scan
    var cur = tracked(docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), enc0.as("enc")))
    var merges = Vector.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= BpeRounds && !exhausted) {
      val best = cur
        .select(col("cnt"),
          split(expr("substring(enc, 2, length(enc) - 2)"), s"$BpeSep$BpeSep").as("t"))
        .filter(size(col("t")) >= 2) // guard: sequence(1, n-1) with n<2 descends
        .select(col("cnt"),
          explode(arrays_zip(
            slice(col("t"), lit(1), size(col("t")) - 1).as("a"),
            slice(col("t"), lit(2), size(col("t")) - 1).as("b"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("weight"))
        .orderBy(col("weight").desc, col("a"), col("b"))
        .limit(1).collect().headOption
      best match {
        case None =>
          // a degenerate vocabulary (every word fully merged / single-char)
          // has no adjacent pair left: stop with the merges learned so far
          // (the oracle mirrors this — its per-round LEFT JOIN passes enc
          // through when the argmax CTE is empty)
          exhausted = true
        case Some(row) =>
          val (a, b, wt) = (row.getString(0), row.getString(1), row.getLong(2))
          merges = merges :+ ((r, a, b, a + b, wt))
          cur = cur.select(col("w"), col("cnt"),
            expr(s"replace(enc, '$BpeSep$a$BpeSep$BpeSep$b$BpeSep', '$BpeSep$a$b$BpeSep')").as("enc"))
          r += 1
      }
    }
    (merges, cur)
  }

  /** EXT — BPE tokenizer training, in-plan and oracle-verified: the
    * q42 discipline (train inside the query with engine-exact
    * arithmetic; mirror every iteration in SQL generated by the same
    * Scala loop so parameters live in one place) applied to the other
    * trained artifact every LLM pipeline ships — the tokenizer.
    * Classic word-level BPE: vocabulary = distinct words with counts,
    * each word starts as its character symbols, and each round merges
    * the adjacent symbol pair with the highest corpus weight
    * (occurrence count × word frequency; ties break lexicographically).
    * Output = the merge table, the artifact a tokenizer serializes.
    *
    * The word's symbol string wraps every symbol in [[BpeSep]]
    * (`~a~~b~…`), so "replace `~A~~B~` with `~AB~`" is exactly BPE's
    * left-to-right non-overlapping merge in ONE `replace` call — both
    * engines scan left-to-right and resume after the replacement, and a
    * merged symbol can never false-match half of a later occurrence
    * because every symbol carries its own delimiters.
    *
    * At scale: state is the vocabulary table (distinct words — millions,
    * not the corpus), each round is one map (split + pair explode) plus
    * one vocabulary-sized aggregate whose 1-row argmax the driver
    * collects and re-embeds as literals — Lloyd-style iteration, moving
    * one row per round off the cluster.
    */
  val q67BpeTrain: Q = (s, d) => {
    import s.implicits._
    bpeFull(s, d)._1.toDF("round", "a", "b", "merged", "weight").orderBy(col("round"))
  }

  /** EXT — tokenizer REFRESH audit (the q144 discipline for the third
    * trained artifact: towers audit via q144, the ANN graph via
    * q151/q154 — the tokenizer was the one trained artifact a corpus
    * wave could silently drift away from): the OLD tokenizer trains on
    * the frozen ⌊4n/5⌋ generation, the refreshed one on the full
    * corpus, and the audit reads the two merge tables side by side —
    * per round, both merges with weights and a `pair_changed` flag.
    * This is the dashboard a pipeline owner reads before deciding to
    * re-encode a corpus under a refreshed tokenizer. Measured before
    * wiring: weights drift every round at every SF; the merge PAIRS
    * drift at sf0.001 (rounds 2–3 swap) and sf0.1 (rounds 3, 4, and a
    * genuinely different round-6 merge) and happen to agree at sf0.01 —
    * the flag's live/zero expectations are spec-pinned per SF.
    *
    * At scale: two Lloyd-style driver-sequenced trainers over
    * vocabulary-sized state (q67's shape, twice); the corpus text is
    * scanned once per tower.
    */
  val q162BpeRefresh: Q = (s, d) => {
    import s.implicits._
    val cut = graft.Tables.rowCount(s, d, "documents") * 4 / 5
    val oldM = bpeTrainOn(documents(s, d).filter(col("doc_id") < cut))._1
    val newM = bpeFull(s, d)._1
    // a tower that exhausts early truncates the audit to the common
    // rounds (the oracle's per-round cross join mirrors this)
    oldM.zip(newM).map { case ((r, oa, ob, _, ow), (_, na, nb, _, nw)) =>
      (r, oa, ob, ow, na, nb, nw, if (oa != na || ob != nb) 1 else 0)
    }.toDF("round", "old_a", "old_b", "old_weight",
      "new_a", "new_b", "new_weight", "pair_changed")
      .orderBy(col("round"))
  }

  /** EXT — BPE tokenizer APPLICATION: encode every document with the
    * merges [[q67BpeTrain]] learned and report what a trainer cares
    * about — post-BPE token count, characters per BPE token
    * (compression), and the word→symbol fertility. Encoding joins the
    * corpus token stream to the trained per-word symbol table, so the
    * heavy text never re-tokenizes: at scale this is one corpus scan +
    * one vocabulary-sized (broadcastable) join + a per-doc aggregate —
    * the exact serving shape of a tokenizer in a data pipeline.
    */
  val q68BpeEncode: Q = (s, d) => {
    val vocab = tracked(bpeFull(s, d)._2
      .select(col("w"),
        size(split(expr("substring(enc, 2, length(enc) - 2)"), s"$BpeSep$BpeSep"))
          .cast("long").as("n_syms")))
    documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe"))
      .withColumn("chars_per_tok", col("n_chars").cast("double") / col("n_bpe").cast("double"))
      .withColumn("fertility", col("n_bpe").cast("double") / col("n_words").cast("double"))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_bpe"),
        col("chars_per_tok"), col("fertility"))
      .orderBy(col("doc_id"))
  }

  /** EXT — per-dimension embedding drift: compare each of the 64
    * dimensions' means between two cohorts (even/odd vec_id — the
    * old-crawl/new-crawl split a drift monitor watches). Accumulation
    * follows invariant 7's integer-quantization: each value becomes
    * `floor(x·1e6)` (the double product and floor are IEEE-deterministic
    * in both engines), sums run over longs — order-independent by
    * construction, immune to the decimal-cast tie rounding a raw
    * float-derived double could hit — and the mean divides back in an
    * identical expression. One explode + one 64-group aggregate — rides
    * the embedding scan at any scale.
    */
  val q69EmbeddingDrift: Q = (s, d) => {
    val a = col("vec_id") % 2 === 0
    val q = floor(col("col").cast("double") * lit(1000000.0)).cast("long")
    def mean(sq: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sq.cast("double") / (lit(1000000.0) * n.cast("double"))
    graft.Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select((col("pos") + 1).as("dim"), q.as("xq"), a.as("is_a"))
      .groupBy(col("dim"))
      .agg(
        count(when(col("is_a"), 1)).as("n_a"),
        count(when(!col("is_a"), 1)).as("n_b"),
        sum(when(col("is_a"), col("xq"))).as("s_a"),
        sum(when(!col("is_a"), col("xq"))).as("s_b"))
      .select(col("dim"), col("n_a"), col("n_b"),
        mean(col("s_a"), col("n_a")).as("mean_a"),
        mean(col("s_b"), col("n_b")).as("mean_b"))
      .withColumn("drift", col("mean_a") - col("mean_b"))
      .withColumn("abs_drift", abs(col("drift")))
      .orderBy(col("dim"))
  }

  /** Exact sample size per source stratum for [[q70ExactKSample]]. */
  val ExactK = 8

  /** EXT — exact-k stratified sampling: where q55's hash-rate filter
    * gives each stratum a BINOMIAL sample (right at scale, but sized
    * only in expectation), this draws EXACTLY k docs per source — the
    * eval-set/human-review shape where sample size is a contract.
    * Deterministic min-k by the same multiplicative hash (no RNG
    * state): rank docs per source by (hash, doc_id) and keep the first
    * k. The per-group top-k plans as WindowGroupLimit partial/final —
    * each map task pre-trims to k before the shuffle, so the exchange
    * carries ≤ k·partitions rows per stratum, never the corpus.
    */
  val q70ExactKSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(TextQueries.sampleHash.asc, col("doc_id").asc)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        TextQueries.sampleHash.as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ExactK)
      .select(col("source"), col("rk"), col("doc_id"), col("lang"), col("h"))
      .orderBy(col("source"), col("rk"))
  }

  /** Per-epoch token budget the [[q75MixtureWeights]] quotas must hit
    * EXACTLY (largest-remainder apportionment — the deterministic
    * integer form of "sample sources at temperature").
    */
  val EpochBudget = 1000000L

  /** Generic α = 0.5 largest-remainder apportionment over any
    * `(keyCol, n)` dimension frame (token-mass sources for q75/q78 via
    * [[mixtureQuotaFrame]], trained cells for q82): r = ⌊√n·1e8⌋
    * weights, ⌊budget·r/W⌋ long-division quotas, leftover to the
    * largest remainders (ties by key) — Σ quota = budget bit-exactly.
    * Returns `(keyCol, n, weight, quota)`. The input must be
    * DIMENSION-sized: the totals ride 1-row broadcast crossJoins and
    * the remainder rank is a global window over it (the q04
    * dimension-table exception).
    *
    * int64 envelope (the q71 [[ShuffleMul]] precedent): `budget·r` must
    * stay under 2⁶³ with r = ⌊√n·1e8⌋, i.e. valid while
    * budget·√n_max < 9.2e10 — EpochBudget = 1e6 handles up to ~8.5e9
    * tokens in a single source. Past that, shrink the 1e8 quantization
    * scale (the apportionment is exact at ANY scale; only weight
    * resolution changes) or widen the products to a 128-bit form in
    * BOTH engines (DuckDB HUGEINT ↔ Spark DECIMAL(38,0)) — DuckDB
    * errors on BIGINT overflow rather than wrapping, so a breach is
    * loud, not silent.
    */
  private[queries] def largestRemainderQuota(counts: org.apache.spark.sql.DataFrame,
      keyCol: String, budget: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = tracked(counts
      .withColumn("r",
        floor(sqrt(col("n").cast("double")) * lit(1e8)).cast("long")))
    val tot = perKey.agg(sum(col("r")).cast("long").as("w_total"))
    val joined = tracked(perKey.crossJoin(broadcast(tot))
      .withColumn("quota0", expr(s"($budget * r) div w_total"))
      .withColumn("rem", pmod(lit(budget) * col("r"), col("w_total"))))
    val defc = joined.agg((lit(budget) - sum(col("quota0"))).cast("long").as("d"))
    val w = Window.orderBy(col("rem").desc, col(keyCol).asc)
    joined.crossJoin(broadcast(defc))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col(keyCol), col("n"),
        (col("r").cast("double") / col("w_total").cast("double")).as("weight"),
        (col("quota0") + when(col("rk") <= col("d"), 1L).otherwise(0L))
          .cast("long").as("quota"))
  }

  private def mixtureQuotaFrame(s: org.apache.spark.sql.SparkSession,
      d: String, budget: Long): org.apache.spark.sql.DataFrame =
    largestRemainderQuota(
      documents(s, d)
        .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n")),
      "source", budget)
      .withColumnRenamed("n", "n_tokens")

  /** EXT — temperature-based source mixing: the step between [[q60]]'s
    * budget audit and [[q71CorpusShuffle]]'s training order — given
    * per-source token masses, compute α = 0.5 temperature weights
    * (w_s ∝ √n_s, the standard up-weighting of small sources) and an
    * EXACT integer token quota per source for one epoch. Everything
    * after the one allowed transcendental (sqrt — IEEE-exact in both
    * engines, invariant 4) is integer: weights quantize to
    * `floor(√n·1e8)` longs, quotas are `⌊E·r/W⌋` by long division, and
    * the leftover `E − Σ⌊·⌋` goes to the largest remainders (ties by
    * source) — so `Σ quota = E` exactly, bit-for-bit in both engines.
    * The display weight is one double division of identical longs.
    *
    * At scale: one corpus scan → a source-sized aggregate (20 rows);
    * the totals ride 1-row broadcast crossJoins (the q58/q60 shape) and
    * the remainder rank is a window over the SOURCE dimension (20 rows
    * — the q04 dimension-table exception), never the corpus.
    */
  val q75MixtureWeights: Q = (s, d) =>
    mixtureQuotaFrame(s, d, EpochBudget).orderBy(col("source"))

  /** Token budget for one [[q78EpochDraw]] mini-epoch. Sized to BIND at
    * the test SFs: the full-epoch [[EpochBudget]] exceeds the small test
    * corpora entirely, which would admit every document and leave the
    * greedy fill unexercised; the production epoch is the identical
    * plan with [[EpochBudget]].
    */
  val DrawBudget = 20000L

  /** EXT — epoch materialization from the temperature quotas: the draw
    * itself, closing the mixing loop (quota table → concrete epoch
    * manifest a loader consumes). Quotas come from the same α = 0.5
    * largest-remainder machinery as [[q75MixtureWeights]]
    * ([[mixtureQuotaFrame]], at [[DrawBudget]]); each source's
    * documents are then ordered by the seeded sample hash (the q55/q70
    * idiom — no RNG state, same seed ⇒ same epoch on any cluster or
    * engine) and taken greedily until the source's TOKEN quota fills: a
    * document is admitted iff the tokens before it in hash order are
    * under quota, so each source overshoots by at most its last
    * document. Output: (source, pos, doc_id, nt, cum_tokens), totally
    * ordered.
    *
    * At scale: the quota side is a source-dimension broadcast (20
    * rows); the cumulative token count is a PARTITIONED window on
    * source (q64's packing shape — one hash shuffle, never a global
    * sort). If a source dwarfs its quota, a scan-side hash-bound
    * pre-filter (admit h below a bound that covers the quota with
    * margin, then window the survivors) trims the window input — not
    * needed at these SFs, same plan otherwise.
    */
  val q78EpochDraw: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val quotas = mixtureQuotaFrame(s, d, DrawBudget).select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(TextQueries.sampleHash.asc, col("doc_id").asc)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("pos", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("cum") - col("nt") < col("quota"))
      .select(col("source"), col("pos"), col("doc_id"), col("nt"),
        col("cum").as("cum_tokens"))
      .orderBy(col("source"), col("pos"))
  }

  /** Shard count for [[q71CorpusShuffle]]. */
  val NumShards = 8
  /** Seeded multiplicative shuffle hash (Knuth 2654435761); changing
    * the additive seed reshuffles the whole corpus reproducibly. The
    * modulus is prime so shard = h mod [[NumShards]] stays balanced.
    * All arithmetic fits int64 for any doc_id < 3.4e9 (DuckDB errors on
    * BIGINT overflow rather than wrapping — at a larger id space, widen
    * to a 128-bit or split-hash form in BOTH engines).
    */
  val ShuffleMul = 2654435761L
  val ShuffleSeed = 20260812L
  val ShuffleMod = 1000003L

  /** EXT — deterministic corpus shuffle + shard materialization: the
    * last step between [[materialize]] and a training job. The q57
    * funnel's survivors get a seeded-hash total order (the q55 `pmod`
    * idiom — no RNG state, same seed ⇒ same corpus order on any
    * cluster, any partitioning, any engine), are cut into
    * [[NumShards]] hash shards, and each doc gets its position in its
    * shard. Training order = (shard, pos) — shard-major, exactly how a
    * sharded loader consumes it.
    *
    * At scale nothing here is global: shard assignment is a pure
    * scan-side expression and `pos` is a PARTITIONED window (one hash
    * shuffle on shard, [[NumShards]]-way parallel sort), never a
    * single global sort. [[materializeShuffled]] writes the same frame
    * `partitionBy(shard)` with rows pre-sorted by (h, doc_id), so a
    * reader streaming shard files in filename order replays the exact
    * training order.
    */
  val q71CorpusShuffle: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val surv = stageFlags(s, d)
      .filter(col("f_dedup") === 1 && col("f_quality") === 1 &&
        col("f_decontam") === 1 && col("f_sample") === 1)
      .select(col("doc_id"), col("source"), col("lang"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    surv
      .withColumn("h",
        pmod(col("doc_id") * lit(ShuffleMul) + lit(ShuffleSeed), lit(ShuffleMod)))
      .withColumn("shard", pmod(col("h"), lit(NumShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("source"),
        col("lang"), col("h"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Write [[q71CorpusShuffle]]'s training order to `outDir/shuffled`
    * as shard-partitioned parquet, one file per shard with rows in
    * training order (repartition on shard + sortWithinPartitions —
    * the partitioned write never global-sorts). Returns rows shipped.
    */
  def materializeShuffled(s: SparkSession, d: String, outDir: String): Long = {
    val ordered = q71CorpusShuffle(s, d)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
    ordered.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shuffled")
    graft.Tables.parquet(s, s"$outDir/shuffled").count()
  }

  /** Sketch size for [[q83KmvDistinct]] — the standard KMV accuracy
    * k ≈ (1/ε)², 64 ⇒ ~12% relative error.
    */
  val KmvK = 64

  /** EXT — KMV (k-minimum-values) distinct-count sketch per source, the
    * DETERMINISTIC analog of HyperLogLog distinct counting (Spark's
    * `approx_count_distinct` is HLL++ and cannot be cross-engine
    * oracled; KMV with a fixed hash is exact to replay ANYWHERE). The
    * sketched domain is distinct TRIGRAMS — per-source phrase richness,
    * the stat q66's overlap matrix rests on — because the corpus's WORD
    * vocabulary was measured first and is ~31 (every sketch over it is
    * vacuous: k never binds, nothing collides; the CLAUDE.md
    * measure-before-wiring rule). Each source keeps its [[KmvK]]
    * smallest distinct dual-residue gram keys; estimate
    * distinct ≈ (k−1)·M / h₍ₖ₎ with M = P·2³¹ the packed key space.
    * The output carries the sketch (h₍ₖ₎), the estimate, AND the exact
    * count, so the error is visible in the result itself (±~12% at
    * k=64, measured ≤ ~20%).
    *
    * Scale shape — the plan IS the sketch's merge property: per-source
    * min-k is a rank window over distinct keys (WindowGroupLimit: every
    * map task keeps its LOCAL k smallest and the exchange merges them —
    * exactly how distributed KMV sketches union; min-k of a union =
    * min-k of merged min-ks, proven deterministically in SketchSpec).
    * The estimate is one double division of engine-identical longs; the
    * exact-count column is the only corpus-sized aggregate, and a
    * production run would drop it.
    */
  /** THE sketch-domain definitions — every consumer (q83/q84 batch,
    * both streaming twins) derives its gram stream here, so a change
    * to the arity, moduli, or per-doc dedup reaches all of them at
    * once (the simhashSig single-definition discipline).
    * [[gramKeys]]: every trigram occurrence as a packed dual-residue
    * key; [[sourceGramKeys]]: per-doc-distinct keys with their source.
    */
  private[graft] def gramKeys(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(graft.functions.ShingleHash(
      col("text"), TextOps.P, 3, TextOps.P2)).as("g"))
  private[graft] def sourceGramKeys(docs: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Seq("source")): org.apache.spark.sql.DataFrame =
    docs.select(carry.map(col) :+ explode(array_distinct(graft.functions.ShingleHash(
      col("text"), TextOps.P, 3, TextOps.P2))).as("h"): _*)

  /** The KMV estimate (k−1)·M / h₍ₖ₎ with the exact-count fallback when
    * the sketch never filled — ONE definition for q83 and q111 (their
    * oracles mirror the same constants). */
  private[graft] def kmvEstimate(exactWhenUnfilled: org.apache.spark.sql.Column,
      kth: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(kth.isNull, exactWhenUnfilled.cast("double"))
      .otherwise(lit((KmvK - 1).toDouble) * lit(1000000007.0) * lit(2147483648.0)
        / kth.cast("double"))

  val q83KmvDistinct: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val dh = tracked(sourceGramKeys(documents(s, d)).distinct())
    val sizes = dh.groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    val w = Window.partitionBy(col("source")).orderBy(col("h").asc)
    val kth = dh.withColumn("rk", row_number().over(w))
      .filter(col("rk") === KmvK)
      .select(col("source"), col("h").as("kth_hash"))
    sizes.join(kth, Seq("source"), "left")
      .select(col("source"), col("n_distinct"),
        coalesce(col("kth_hash"), lit(-1L)).as("kth_hash"),
        kmvEstimate(col("n_distinct"), col("kth_hash")).as("est"))
      .withColumn("err_pct",
        (col("est") - col("n_distinct").cast("double"))
          / col("n_distinct").cast("double") * lit(100.0))
      .orderBy(col("source"))
  }

  /** EXT — incremental aggregate maintenance: the merge-don't-recompute
    * discipline a 100 TB nightly pipeline lives by, proven correct by
    * the gate itself. The corpus splits into a frozen OLD generation
    * (first ⌊4n/5⌋ doc ids — the q92 cut) and a DELTA batch; per-source
    * stats are computed per generation and then MERGED purely
    * algebraically — counts and sums add, min/min and max/max fold,
    * and the KMV distinct sketch merges as min-k of the union of the
    * two generations' min-ks (the law: every global k-smallest key is
    * k-smallest in its own generation). The ORACLE recomputes
    * everything from the full corpus in one pass with no generations
    * anywhere — so a hash match is a machine-checked proof that the
    * incremental path equals the full recompute, for the algebraic
    * stats AND the sketch.
    *
    * Scale shape: the delta scan is the only new work per increment;
    * old partials are a per-source table you'd persist between runs.
    * Nothing in the merge touches corpus-sized data — it aggregates
    * two partial tables of |sources| rows plus two k-row sketches.
    */
  val q111IncrementalMerge: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = tracked(documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
        size(split(col("text"), " ")).cast("long").as("nt")))
    val cut = broadcast(docs.agg(expr("count(1) * 4 div 5").as("cut")))
    val tagged = tracked(docs.crossJoin(cut)
      .withColumn("gen", when(col("doc_id") < col("cut"), lit("old")).otherwise(lit("delta"))))
    val partials = tagged.groupBy(col("source"), col("gen"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        min(col("n_chars")).as("min_nc"), max(col("n_chars")).as("max_nc"))
    val merged = partials.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_tokens")).as("sum_tokens"),
        min(col("min_nc")).as("min_nc"), max(col("max_nc")).as("max_nc"))
    val dh = sourceGramKeys(tagged, carry = Seq("source", "gen")).distinct()
    val wg = Window.partitionBy(col("source"), col("gen")).orderBy(col("h").asc)
    val sk = dh.withColumn("rk", row_number().over(wg)).filter(col("rk") <= KmvK)
      .select(col("source"), col("h"))
    val wm = Window.partitionBy(col("source")).orderBy(col("h").asc)
    val kmv = sk.distinct()
      .withColumn("rk", row_number().over(wm)).filter(col("rk") <= KmvK)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("sk_n"),
        max(when(col("rk") === KmvK, col("h"))).as("kth"))
      .select(col("source"), col("sk_n"),
        coalesce(col("kth"), lit(-1L)).as("kth_hash"),
        kmvEstimate(col("sk_n"), col("kth")).as("est_distinct"))
    merged.join(kmv, Seq("source")).orderBy(col("source"))
  }

  /** The q153 retraction core over an arbitrary doc-stats frame
    * `(source, n_chars, nt, dead)` — factored so the spec can drive the
    * corpus-dormant branches (untouched source, source death) through
    * the same plan on synthetic frames (the q114/q142 discipline).
    */
  private[graft] def statsRetractCore(docs: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = hold(docs)
    // the state a pipeline HOLDS between waves: full-corpus partials
    val held = dd.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        min(col("n_chars")).as("min_nc"), max(col("n_chars")).as("max_nc"))
    // the delete wave's partials — the only per-wave aggregation
    val delp = dd.filter(col("dead")).groupBy(col("source"))
      .agg(count(lit(1)).as("n_del"), sum(col("nt")).as("del_tokens"),
        min(col("n_chars")).as("del_min"), max(col("n_chars")).as("del_max"))
    val joined = held.join(delp, Seq("source"), "left")
      .withColumn("n_live", col("n_docs") - coalesce(col("n_del"), lit(0L)))
      .withColumn("sum_live", col("sum_tokens") - coalesce(col("del_tokens"), lit(0L)))
      .withColumn("min_hit", coalesce(col("del_min") === col("min_nc"), lit(false)))
      .withColumn("max_hit", coalesce(col("del_max") === col("max_nc"), lit(false)))
    // group-scoped rescan: only sources whose extreme was attained by a
    // deleted doc re-read their LIVE rows (the q149 component-scoped
    // recompute discipline applied to aggregates)
    val rescanSrc = joined.filter(col("min_hit") || col("max_hit"))
      .select(col("source"))
    val rescanned = dd.filter(!col("dead"))
      .join(rescanSrc, Seq("source"), "left_semi")
      .groupBy(col("source"))
      .agg(min(col("n_chars")).as("live_min"), max(col("n_chars")).as("live_max"))
    joined.join(rescanned, Seq("source"), "left")
      .filter(col("n_live") > 0)
      .select(col("source"), col("n_live").as("n_docs"),
        col("sum_live").as("sum_tokens"),
        when(col("min_hit"), col("live_min")).otherwise(col("min_nc")).as("min_nc"),
        when(col("max_hit"), col("live_max")).otherwise(col("max_nc")).as("max_nc"),
        col("min_hit").cast("int").as("rescanned_min"),
        col("max_hit").cast("int").as("rescanned_max"))
      .orderBy(col("source"))
  }

  /** EXT — DECREMENTAL aggregate maintenance (q111's retraction twin:
    * the takedown / right-to-be-forgotten path a 100 TB pipeline needs
    * when documents LEAVE — q149 removes them from dedup labels, q152
    * from the ANN graph, this from derived corpus statistics without a
    * full recompute). The held per-source stats retract algebraically
    * where the algebra allows — counts and sums subtract the delete
    * wave's partials — and min/max, which do NOT retract, rescan only
    * the sources whose extreme was attained by a deleted doc
    * (group-scoped, never corpus-wide; flags `rescanned_min/max` report
    * which path each source took). Tombstones are q152's seeded ~12.8%
    * hash slice. Measured before wiring (sf0.01): 4 min-rescans, 3
    * max-rescans, the other ~13 sources per side retract purely
    * algebraically; every source loses ≥1 doc and none dies, so the
    * untouched-source and source-death branches are corpus-dormant —
    * RetractSpec pins both on synthetic frames through the same core.
    * KMV distinct sketches deliberately do NOT appear: min-k sketches
    * cannot retract; the production pattern is q111's per-generation
    * partials, where deletion = dropping a generation.
    *
    * The ORACLE recomputes everything from live docs in one pass with
    * no retraction anywhere (the q111/q146 merge-law discipline in
    * reverse) — a hash match machine-proves subtract-and-scoped-rescan
    * ≡ recompute-on-live, including that an unhit min/max survives
    * deletion unchanged.
    *
    * Scale shape: held stats are |sources| rows a pipeline persists;
    * the wave scan aggregates only deleted rows; the rescan reads only
    * the affected sources' live rows (at 100 TB: partition-pruned by
    * source). Nothing else touches the corpus.
    */
  val q153StatsRetract: Q = (s, d) => {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        (TextQueries.priorityHashOn(col("doc_id")) <
          lit(TextQueries.DeleteBound)).as("dead"))
    statsRetractCore(docs, tracked)
  }

  /** The q159 update-maintenance core over an arbitrary doc-stats frame
    * `(source, n_chars, nt, upd, u_nc, u_nt)` — old and new per-doc
    * stats side by side, factored so the spec can drive the
    * corpus-dormant branches (untouched source, new-content maximum,
    * fully-updated source) through the same plan on synthetic frames
    * (the q153/statsRetractCore discipline).
    */
  private[graft] def statsUpdateCore(docs: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = hold(docs)
    // the state a pipeline HOLDS between waves: full-corpus partials
    val held = dd.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        min(col("n_chars")).as("min_nc"), max(col("n_chars")).as("max_nc"))
    // ONE wave aggregation carries both the retired and the fresh
    // partials (the update reads its own wave once)
    val wave = dd.filter(col("upd")).groupBy(col("source"))
      .agg(count(lit(1)).as("n_updated"),
        sum(col("nt")).as("old_tokens"), min(col("n_chars")).as("omn"),
        max(col("n_chars")).as("omx"),
        sum(col("u_nt")).as("new_tokens"), min(col("u_nc")).as("nmn"),
        max(col("u_nc")).as("nmx"))
    val joined = held.join(wave, Seq("source"), "left")
      .withColumn("sum_live", col("sum_tokens")
        - coalesce(col("old_tokens"), lit(0L)) + coalesce(col("new_tokens"), lit(0L)))
      .withColumn("min_hit", coalesce(col("omn") === col("min_nc"), lit(false)))
      .withColumn("max_hit", coalesce(col("omx") === col("max_nc"), lit(false)))
    // group-scoped rescan of the UNCHANGED rows, only where the old
    // extreme was attained by an updated doc (the q153 discipline; the
    // new content's own extremes come from the wave partials, so the
    // rescan never reads updated rows)
    val rescanSrc = joined.filter(col("min_hit") || col("max_hit"))
      .select(col("source"))
    val rescanned = dd.filter(!col("upd"))
      .join(rescanSrc, Seq("source"), "left_semi")
      .groupBy(col("source"))
      .agg(min(col("n_chars")).as("live_min"), max(col("n_chars")).as("live_max"))
    // final extreme = extreme over (unchanged base, new content) — the
    // base is NULL for a fully-updated rescan source and the new side
    // is NULL for an untouched source, so both least/greatest arguments
    // coalesce against each other (Spark least skips nulls but DuckDB
    // propagates — invariant: coalesce args first, CLAUDE.md r3)
    val baseMin = when(col("min_hit"), col("live_min")).otherwise(col("min_nc"))
    val baseMax = when(col("max_hit"), col("live_max")).otherwise(col("max_nc"))
    joined.join(rescanned, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("sum_live").as("sum_tokens"),
        least(coalesce(baseMin, col("nmn")), coalesce(col("nmn"), baseMin)).as("min_nc"),
        greatest(coalesce(baseMax, col("nmx")), coalesce(col("nmx"), baseMax)).as("max_nc"),
        coalesce(col("n_updated"), lit(0L)).as("n_updated"),
        col("min_hit").cast("int").as("rescanned_min"),
        col("max_hit").cast("int").as("rescanned_max"))
      .orderBy(col("source"))
  }

  /** EXT — aggregate maintenance under UPDATE (the q153 delete-twin's
    * re-crawl counterpart, completing the maintained-stats lifecycle:
    * q111 merges arrivals, q153 retracts deletions, this folds a
    * content-update wave — doc count unchanged, sums subtract the old
    * partials and add the new, min/max rescan ONLY the sources whose
    * old extreme was attained by an updated doc, with the new content's
    * own extremes folded from the wave partials, never a corpus scan).
    * The update slice is q152/q153's seeded ~12.8% hash slice; new
    * content = the first half of the text (re-crawl returning a
    * truncated page — deterministic, length-changing; upper() would be
    * stats-vacuous). Measured before wiring: 3–4 min-rescans and 1–3
    * max-rescans per SF fire, the new content sets 9–20 source minima,
    * every source is touched (untouched-source and new-maximum branches
    * are corpus-dormant — RetractSpec drives them synthetically through
    * the same core).
    *
    * The ORACLE recomputes everything from the updated corpus in one
    * pass with no maintenance anywhere — the hash match machine-proves
    * subtract-add-and-scoped-rescan ≡ recompute-on-updated.
    *
    * Scale shape: held stats are |sources| rows; the wave aggregation
    * reads only updated rows; the rescan reads only the affected
    * sources' unchanged rows (partition-pruned by source at 100 TB).
    */
  val q159StatsUpdate: Q = (s, d) => {
    val half = expr("substring(text, 1, length(text) DIV 2)")
    val docs = documents(s, d)
      .select(col("source"), col("n_chars").cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        (TextQueries.priorityHashOn(col("doc_id")) <
          lit(TextQueries.DeleteBound)).as("upd"),
        length(half).cast("long").as("u_nc"),
        size(split(half, " ")).cast("long").as("u_nt"))
    statsUpdateCore(docs, tracked)
  }

  /** HDR/DDSketch geometry: [[HdrSub]] linear sub-buckets per power-of-2
    * bucket → relative error ≤ 1/(2·[[HdrSub]]) ≈ 3% on every reported
    * quantile bound; [[HdrShards]] partial sketches prove the merge law
    * in-plan. All bucket math is INTEGER (bit-length via
    * `length(bin(v))`, bounds via shiftleft + DIV), so — unlike
    * KLL/t-digest, whose randomized/centroid compactions can't replay
    * cross-engine — the sketch is deterministic and oracle-able.
    */
  private[graft] val HdrSub = 16
  private[graft] val HdrShards = 8

  /** EXT — mergeable quantile sketch (HDR-histogram / DDSketch family:
    * log₂ buckets × [[HdrSub]] linear sub-buckets, integer-exact):
    * order-value quantiles per priority class, computed the way a
    * 100 TB pipeline must — each of [[HdrShards]] shards builds its own
    * PARTIAL sketch (the per-executor / per-ingest-day state), partials
    * merge by pure bin-count addition, and p50/p90/p99 read off the
    * merged sketch's cumulative counts as guaranteed lower bounds with
    * relative error ≤ 1/(2·[[HdrSub]]). The ORACLE recomputes the same
    * sketch from the full table with no shard split anywhere (the q111
    * discipline), so the hash match machine-proves the merge law. The
    * same bin math backs [[graft.ops.Aggregators.HdrHist]], whose
    * streaming twin keeps the sketch wave-equal to batch
    * (StreamingSketchSpec); QuantileSketchSpec pins the error bound
    * against exact ranks.
    *
    * Scale shape: one scan → hash-agg to (grp, shard, bin) partials →
    * hash-agg merge to (grp, bin); the only window runs over the
    * ~[[HdrSub]]·log₂(max) sketch rows per group, never the data. The
    * sketch state is O(bins) longs regardless of row count.
    */
  /** Shard count for [[q130ShardBalance]]. */
  val BalanceShards = 8

  /** Rows per file for [[q133ZorderLayout]] — small enough that both
    * test SFs produce a multi-file layout (8 files at sf0.001, 79 at
    * sf0.01) so the skipping comparison binds.
    */
  val ZRowsPerFile = 128

  /** The 16-term Morton interleave of (u, dy) as an expression string;
    * the `shift` callback renders each engine's right-shift syntax so
    * the Spark plan and the DuckDB oracle share one term generator.
    */
  private def zInterleaveExpr(shift: (String, Int) => String): String =
    (0 until 8).map { j =>
      s"(${shift("u", j)} & 1) * ${1L << (2 * j)} + (${shift("dy", j)} & 1) * ${1L << (2 * j + 1)}"
    }.mkString(" + ")

  /** EXT — Z-order data layout with its skipping audit IN-PLAN: the
    * lakehouse clustering step (Delta/Iceberg `ZORDER BY`) re-expressed
    * as a query — events interleave the bits of (user_id mod 256,
    * day mod 256) into a Morton key, files are [[ZRowsPerFile]]-row
    * cuts of the Z-sorted order, and each file's per-dimension min/max
    * (exactly the footer stats an engine prunes on) is reported next
    * to the naive append-order layout's. The audit is the number every
    * layout decision hangs on: for every distinct (user, day) cell
    * present, how many files' stat boxes contain it — summed per
    * layout, so the Z-order pruning win over append order is one
    * column comparison. All integer: the interleave is 16 shift-mask
    * terms (identical both engines), ranks use the q113 histogram
    * idiom (the Z histogram is bounded by the 2¹⁶ key domain, never
    * the corpus), and the naive file is `event_id DIV R` (ids are
    * dense — measured).
    *
    * Scale shape: one scan → per-key histogram + partition-parallel
    * within-key rank; file stats are two hash aggs; the containment
    * audit joins the cell list against the FILE-count-sized stats
    * table (broadcast). At 100 TB the same plan writes the layout via
    * repartitionByRange(z) + sortWithinPartitions.
    */
  val q133ZorderLayout: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val R = ZRowsPerFile
    val zSpark = zInterleaveExpr((c, j) => s"shiftright($c, $j)")
    val days = events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("ts_us DIV 86400000000").as("day"))
    // REBASE the day to day − min(day) before taking bits: interleaving
    // a mod-folded absolute day scatters consecutive days across bit
    // patterns and widens every file box (measured at sf0.001: 889
    // files touched folded vs 811 rebased). Note the audit's honest
    // verdict across SFs: at sf0.001 (1000 rows over a 397-cell grid,
    // 8 files) Z-order still LOSES to append order (811 vs 472 —
    // append order is day-contiguous and the grid is too coarse for
    // interleaving to pay), while at sf0.01 (10k rows, 4006 cells, 79
    // files) it WINS (11008 vs 14278). That density crossover is
    // exactly what this op exists to measure before anyone pays for a
    // re-layout.
    val d0 = broadcast(days.agg(min(col("day")).as("d0")))
    val base = tracked(days.crossJoin(d0)
      .withColumn("u", pmod(col("user_id"), lit(256L)))
      .withColumn("dy", pmod(col("day") - col("d0"), lit(256L)))
      .withColumn("z", expr(zSpark))
      .select(col("event_id"), col("u"), col("dy"), col("z")))
    val h = base.groupBy(col("z")).agg(count(lit(1)).as("c"))
    val wcum = Window.orderBy(col("z"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = h.withColumn("cum", sum(col("c")).over(wcum))
      .select(col("z"), (col("cum") - col("c")).as("off"))
    val wz = Window.partitionBy(col("z")).orderBy(col("event_id"))
    val assigned = tracked(base.join(broadcast(off), Seq("z"))
      .withColumn("r", col("off") + row_number().over(wz))
      .withColumn("file_id", expr(s"(r - 1) DIV $R"))
      .withColumn("naive_file", expr(s"event_id DIV $R")))
    def stats(fcol: String, name: String) = assigned
      .groupBy(col(fcol).as("file_id"))
      .agg(count(lit(1)).as("n_rows"), min(col("u")).as("min_u"),
        max(col("u")).as("max_u"), min(col("dy")).as("min_d"),
        max(col("dy")).as("max_d"))
      .withColumn("layout", lit(name))
    val st = tracked(stats("file_id", "zorder").union(stats("naive_file", "naive")))
    val cells = tracked(base.select(col("u"), col("dy")).distinct())
    val touched = cells.join(broadcast(st),
        col("u") >= col("min_u") && col("u") <= col("max_u") &&
          col("dy") >= col("min_d") && col("dy") <= col("max_d"))
      .groupBy(col("layout")).agg(count(lit(1)).as("files_touched_total"))
    val ncells = cells.agg(count(lit(1)).as("n_cells"))
    st.join(broadcast(touched), Seq("layout"))
      .crossJoin(broadcast(ncells))
      .select(col("layout"), col("file_id"), col("n_rows"), col("min_u"),
        col("max_u"), col("min_d"), col("max_d"), col("n_cells"),
        col("files_touched_total"))
      .orderBy(col("layout"), col("file_id"))
  }

  /** EXT — size-balanced shard assignment: distribute documents over
    * [[BalanceShards]] training shards so per-shard TOKEN mass (not
    * doc count) equalizes — the layout step before q71's shard
    * shuffle, because a mod-W doc split leaves the token imbalance
    * that stalls synchronous data-parallel training on the fattest
    * shard. Deterministic serpentine (boustrophedon) assignment:
    * docs rank by (nt desc, doc_id) and walk shards 0..W−1, W−1..0,
    * … — the closed-form cousin of LPT greedy packing (no iteration,
    * pure integer rank math), which pairs long docs with short ones
    * in every 2W stripe. Output reports both assignments' masses and
    * their balance ratios (shard·W/total) — naive mod-W rides along
    * so the improvement is visible in the row.
    *
    * Scale shape: the global size rank uses NO global window (the
    * q113 histogram idiom): per-value offsets come from a cum window
    * over the tiny value histogram, the within-value rank is
    * partition-parallel, and everything else is hash aggs. The one
    * double division per output row divides identical longs.
    */
  val q130ShardBalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val W = BalanceShards
    val nt = tracked(documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nt")))
    val h = nt.groupBy(col("nt")).agg(count(lit(1)).as("c"))
    // tiny histogram window (distinct values only — no RANGE-peer
    // divergence between engines)
    val wcum = Window.orderBy(col("nt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = h.withColumn("cumhi", sum(col("c")).over(wcum))
      .select(col("nt"), (col("cumhi") - col("c")).as("off"))
    val win = Window.partitionBy(col("nt")).orderBy(col("doc_id"))
    // two aggregate branches read the ranked frame (invariant 6)
    val snake = tracked(nt.join(broadcast(off), Seq("nt"))
      .withColumn("r", col("off") + row_number().over(win))
      .withColumn("pos", pmod(col("r") - 1, lit(2L * W)))
      .withColumn("shard",
        when(col("pos") < W, col("pos")).otherwise(lit(2L * W - 1) - col("pos")))
      .withColumn("naive_shard", pmod(col("doc_id"), lit(W.toLong))))
    val per = snake.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
    val naive = snake.groupBy(col("naive_shard").as("shard"))
      .agg(sum(col("nt")).as("tokens_naive"))
    per.join(naive, Seq("shard"))
      .crossJoin(broadcast(nt.agg(sum(col("nt")).as("t_total"))))
      .select(col("shard"), col("n_docs"), col("tokens"), col("tokens_naive"),
        (col("tokens").cast("double") * W / col("t_total")).as("balance"),
        (col("tokens_naive").cast("double") * W / col("t_total")).as("balance_naive"))
      .orderBy(col("shard"))
  }

  val q119HdrQuantile: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val binned = orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).as("vc"),
        pmod(col("o_orderkey"), lit(HdrShards.toLong)).as("shard"))
      .filter(col("vc") >= 1)
      .withColumn("bl", length(bin(col("vc"))))
      .withColumn("lo", expr("shiftleft(CAST(1 AS BIGINT), bl - 1)"))
      .withColumn("bin", col("bl").cast("long") * HdrSub
        + expr(s"((vc - lo) * $HdrSub) DIV lo"))
    val partials = binned.groupBy(col("grp"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("pc"))
    // the sketch merge law: union of partials = bin-count addition
    val merged = partials.groupBy(col("grp"), col("bin")).agg(sum(col("pc")).as("c"))
    val wcum = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("grp"))
    val cum = merged.withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wall))
    def qbin(p: Int) =
      min(when(col("cum") >= expr(s"(n * $p + 99) DIV 100"), col("bin"))).as(s"b$p")
    def binLo(b: String) = expr(
      s"shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)" +
        s" + (($b % $HdrSub) * shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)) DIV $HdrSub")
    // report each quantile's full bin bracket [lo, hi): hi is the next
    // bin's lower bound, so the sketch's ≤1/HdrSub relative-error
    // contract is visible in the output itself (hi/lo ≤ 1 + 1/HdrSub)
    cum.groupBy(col("grp"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_bins"),
        qbin(50), qbin(90), qbin(99))
      .select(col("grp"), col("n"), col("n_bins"),
        binLo("b50").as("p50_lo"), binLo("(b50 + 1)").as("p50_hi"),
        binLo("b90").as("p90_lo"), binLo("(b90 + 1)").as("p90_hi"),
        binLo("b99").as("p99_lo"), binLo("(b99 + 1)").as("p99_hi"))
      .orderBy(col("grp"))
  }

  /** The q161 retraction core over an arbitrary `(grp, vc, dead)` frame
    * (value in integer cents, deletion flag) — factored so the spec can
    * drive the corpus-dormant branches (a deletion that moves the p99
    * bracket, a group that empties) on synthetic frames.
    */
  private[graft] def hdrRetractCore(rows: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = hold(rows
      .filter(col("vc") >= 1)
      .withColumn("bl", length(bin(col("vc"))))
      .withColumn("lo", expr("shiftleft(CAST(1 AS BIGINT), bl - 1)"))
      .withColumn("bin", col("bl").cast("long") * HdrSub
        + expr(s"((vc - lo) * $HdrSub) DIV lo")))
    // the state a pipeline HOLDS: merged per-(grp, bin) counts
    val held = hold(binned.groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("c")))
    // the delete wave's partials — bin counts RETRACT by subtraction
    // (exactly where KMV/min-k cannot, the q153 exclusion made good)
    val wave = binned.filter(col("dead")).groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("dc"))
    val live = hold(held.join(wave, Seq("grp", "bin"), "left")
      .withColumn("lc", col("c") - coalesce(col("dc"), lit(0L)))
      .withColumn("dropped", (col("lc") === 0L).cast("long")))
    def brackets(src: org.apache.spark.sql.DataFrame, ccol: String,
        suffix: String) = {
      val wcum = Window.partitionBy(col("grp")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("grp"))
      val cum = src.filter(col(ccol) > 0)
        .withColumn("cum", sum(col(ccol)).over(wcum))
        .withColumn("n", sum(col(ccol)).over(wall))
      def qbin(p: Int) =
        min(when(col("cum") >= expr(s"(n * $p + 99) DIV 100"), col("bin")))
          .as(s"b$p$suffix")
      cum.groupBy(col("grp"))
        .agg(max(col("n")).as(s"n$suffix"), count(lit(1)).as(s"n_bins$suffix"),
          qbin(50), qbin(90), qbin(99))
    }
    def binLo(b: String) = expr(
      s"shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)" +
        s" + (($b % $HdrSub) * shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)) DIV $HdrSub")
    val dropStats = live.groupBy(col("grp"))
      .agg(sum(col("dropped")).as("bins_dropped"),
        sum(coalesce(col("dc"), lit(0L))).as("n_del"))
    brackets(live.withColumnRenamed("lc", "c2"), "c2", "")
      .join(brackets(held, "c", "_h"), Seq("grp"))
      .join(dropStats, Seq("grp"))
      .select(col("grp"), col("n"), col("n_bins"), col("n_del"),
        col("bins_dropped"),
        binLo("b50").as("p50_lo"), binLo("(b50 + 1)").as("p50_hi"),
        binLo("b90").as("p90_lo"), binLo("(b90 + 1)").as("p90_hi"),
        binLo("b99").as("p99_lo"), binLo("(b99 + 1)").as("p99_hi"),
        (col("b50") =!= col("b50_h")).cast("int").as("moved50"),
        (col("b90") =!= col("b90_h")).cast("int").as("moved90"),
        (col("b99") =!= col("b99_h")).cast("int").as("moved99"))
      .orderBy(col("grp"))
  }

  /** EXT — quantile-SKETCH maintenance under deletion: the HDR/DDSketch
    * state (q119) retracts algebraically — bin counts subtract the
    * delete wave's partials, emptied bins drop — exactly the sketch
    * family where retraction IS possible (q153 had to exclude KMV:
    * min-k cannot retract; HDR can, and this query machine-proves it).
    * Readout = q119's guaranteed-bracket quantiles over the LIVE
    * sketch, plus the wave's footprint (n_del, bins_dropped) and
    * moved50/90/99 flags vs the held sketch. Delete slice = the seeded
    * hash slice on o_orderkey. Measured before wiring: 14–18 bins drop
    * and the p50 bracket moves for one group per SF; p99 never moves
    * under a 12.8% uniform deletion (dormant — HdrRetractSpec moves it
    * synthetically with a tail-concentrated delete).
    *
    * The ORACLE rebuilds both sketches from scratch (live rows for the
    * readout, all rows for the flags) with no subtraction anywhere.
    *
    * Scale shape: the sketch is O(bins) state per group; the wave
    * aggregation reads only deleted rows; nothing else rescans.
    */
  val q161HdrRetract: Q = (s, d) =>
    hdrRetractCore(orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).as("vc"),
        (TextQueries.priorityHashOn(col("o_orderkey")) <
          lit(TextQueries.DeleteBound)).as("dead")),
      tracked)

  /** EXT — quantile-sketch maintenance under UPDATE (the last empty
    * cell of the HDR lifecycle: q119 add, q161 delete, this the re-price
    * wave — the q159 subtract-old-add-new discipline ON BINS): the
    * seeded hash slice of orders re-prices to `(vc·11) DIV 10` (+10%,
    * integer-exact both engines), the held per-(grp, bin) counts fold
    * as held − old-bin partials + new-bin partials (zeros drop, NEW
    * bins are born — bins_born is the column q161 cannot have), and the
    * readout is q119's guaranteed-bracket quantiles over the updated
    * sketch plus the wave footprint (n_upd, bins_born, bins_dropped)
    * and moved50/90/99 flags vs the held sketch. Measured before wiring
    * (r6 rule): 22 bins born / 13 dropped at sf0.01 (17/2 at sf0.1),
    * moved50 fires for 2 groups and moved99 for 3 at sf0.01 (4/4 at
    * sf0.1) while other groups hold — both branches live; moved90 never
    * fires under a +10% re-price of 12.8% of rows (dormant —
    * HdrRetractSpec drives it synthetically, the q161 discipline).
    *
    * The ORACLE rebuilds both sketches from scratch — the updated one
    * from per-row CASE values, the held one from old values — with no
    * subtraction anywhere, so the hash match proves fold ≡ recompute,
    * including which bins are born, which empty, and which brackets
    * move.
    *
    * Scale shape: the sketch is O(bins) state per group; both wave
    * aggregations read only the updated rows; nothing else rescans.
    */
  val q166HdrUpdate: Q = (s, d) =>
    hdrUpdateCore(orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).as("vc"),
        (TextQueries.priorityHashOn(col("o_orderkey")) <
          lit(TextQueries.DeleteBound)).as("upd")),
      tracked)

  /** The q166 update core over an arbitrary `(grp, vc, upd)` frame —
    * factored like [[hdrRetractCore]] so the spec can drive the
    * corpus-dormant branches (moved90; an update that empties a group's
    * tail bin) on synthetic frames.
    */
  private[graft] def hdrUpdateCore(rows0: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = rows0.filter(col("vc") >= 1)
    def binOf(v: String) = expr(
      s"CAST(length(bin($v)) AS BIGINT) * $HdrSub" +
        s" + (($v - shiftleft(CAST(1 AS BIGINT), length(bin($v)) - 1)) * $HdrSub)" +
        s" DIV shiftleft(CAST(1 AS BIGINT), length(bin($v)) - 1)")
    // vc ≥ 1 ⇒ (vc·11) DIV 10 ≥ 1 — the new value never leaves the domain
    val binned = hold(rows
      .withColumn("bin", binOf("vc"))
      .withColumn("bin_new", binOf("((vc * 11) DIV 10)")))
    // the state a pipeline HOLDS: merged per-(grp, bin) counts
    val held = hold(binned.groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("c")))
    // the update wave's two partials: old bins retract, new bins add
    // (union-sum — the q163 foldCnt shape on sketch bins)
    val delta = binned.filter(col("upd"))
      .select(col("grp"), col("bin"), lit(-1L).as("dc"))
      .unionByName(binned.filter(col("upd"))
        .select(col("grp"), col("bin_new").as("bin"), lit(1L).as("dc")))
      .groupBy(col("grp"), col("bin")).agg(sum(col("dc")).as("dc"))
    val live = hold(held.join(delta, Seq("grp", "bin"), "full_outer")
      .select(col("grp"), col("bin"),
        coalesce(col("c"), lit(0L)).as("c0"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("lc")))
    def brackets(src: org.apache.spark.sql.DataFrame, ccol: String,
        suffix: String) = {
      val wcum = Window.partitionBy(col("grp")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("grp"))
      val cum = src.filter(col(ccol) > 0)
        .withColumn("cum", sum(col(ccol)).over(wcum))
        .withColumn("n", sum(col(ccol)).over(wall))
      def qbin(p: Int) =
        min(when(col("cum") >= expr(s"(n * $p + 99) DIV 100"), col("bin")))
          .as(s"b$p$suffix")
      cum.groupBy(col("grp"))
        .agg(max(col("n")).as(s"n$suffix"), count(lit(1)).as(s"n_bins$suffix"),
          qbin(50), qbin(90), qbin(99))
    }
    def binLo(b: String) = expr(
      s"shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)" +
        s" + (($b % $HdrSub) * shiftleft(CAST(1 AS BIGINT), CAST($b DIV $HdrSub AS INT) - 1)) DIV $HdrSub")
    val waveStats = live.groupBy(col("grp"))
      .agg(sum((col("c0") === 0L && col("lc") > 0L).cast("long")).as("bins_born"),
        sum((col("c0") > 0L && col("lc") === 0L).cast("long")).as("bins_dropped"))
    val nUpd = binned.filter(col("upd")).groupBy(col("grp"))
      .agg(count(lit(1)).as("n_upd"))
    brackets(live.withColumnRenamed("lc", "c2"), "c2", "")
      .join(brackets(held, "c", "_h"), Seq("grp"))
      .join(waveStats, Seq("grp"))
      // left: an untouched group has no update rows at all
      .join(nUpd, Seq("grp"), "left")
      .withColumn("n_upd", coalesce(col("n_upd"), lit(0L)))
      .select(col("grp"), col("n"), col("n_bins"), col("n_upd"),
        col("bins_born"), col("bins_dropped"),
        binLo("b50").as("p50_lo"), binLo("(b50 + 1)").as("p50_hi"),
        binLo("b90").as("p90_lo"), binLo("(b90 + 1)").as("p90_hi"),
        binLo("b99").as("p99_lo"), binLo("(b99 + 1)").as("p99_hi"),
        (col("b50") =!= col("b50_h")).cast("int").as("moved50"),
        (col("b90") =!= col("b90_h")).cast("int").as("moved90"),
        (col("b99") =!= col("b99_h")).cast("int").as("moved99"))
      .orderBy(col("grp"))
  }

  /** EXT — cross-source quantile normalization (quantile matching): map
    * each doc's per-source token-count rank onto the GLOBAL length
    * distribution — norm(doc) = the global value at rank
    * ⌈r·N/n_s⌉ — so scores from sources with different length regimes
    * (medians 45–70 here, measured; 463/500 docs change value at
    * sf0.01) become comparable before any cross-source cut. The q95
    * calibration decides a top-k% verdict; this produces the full
    * calibrated VALUE, integer-exact: ranks are row_number over
    * (nt, doc_id), the mapped rank is `(r·N + n_s − 1) DIV n_s`, and
    * the global lookup is an interval join against the cumulative
    * value histogram — `lo..hi` per distinct value — NOT a global rank
    * window (the q04 broadcast-interval idiom; the cum window runs
    * over the ~|distinct values| histogram only).
    *
    * Scale shape: per-source windows are partition-parallel; the
    * histogram is one hash agg; the interval table broadcasts. Nothing
    * global ever sorts the corpus.
    */
  val q113QuantileNorm: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val nt = tracked(documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("nt")))
    val ws = Window.partitionBy(col("source")).orderBy(col("nt"), col("doc_id"))
    val ns = nt.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val n = nt.agg(count(lit(1)).as("n"))
    val ranked = nt.withColumn("r", row_number().over(ws).cast("long"))
      .join(ns, Seq("source")).crossJoin(broadcast(n))
      .withColumn("grk", expr("(r * n + ns - 1) DIV ns"))
    val h = nt.groupBy(col("nt").as("v")).agg(count(lit(1)).as("c"))
    // tiny table: one row per distinct value — the only unpartitioned
    // window, same as q95/q100's histogram cum
    val wcum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("hi", sum(col("c")).over(wcum))
      .withColumn("lo", col("hi") - col("c") + 1)
      .select(col("v"), col("lo"), col("hi"))
    ranked.join(broadcast(cum), col("grk") >= col("lo") && col("grk") <= col("hi"))
      .select(col("doc_id"), col("source"), col("nt"), col("r"), col("grk"),
        col("v").as("norm_nt"))
      .orderBy(col("doc_id"))
  }

  /** EXT — distribution drift detection: the EXACT two-sample
    * Kolmogorov–Smirnov statistic between each source's token-length
    * distribution and the whole corpus — the alarm a pipeline owner
    * wires on every new drop (q113 repairs cross-source scale
    * differences; this one DETECTS them, per source, as one number).
    * Integer-exact where it matters: KS = max_v |F_s(v) − F(v)| is
    * computed as the integer maximum of |cs·N − cg·n_s| (cross-
    * multiplied ECDFs — no per-point division), with ONE double
    * division at the end; ks values 0.18–0.25 for the most-drifted
    * sources at sf0.01 (measured — sources genuinely differ).
    *
    * Scale shape: corpus-sized work is two hash aggregates (per-source
    * and global value histograms); the ECDF grid is |sources|·|distinct
    * values| (bounded by the value domain, not the corpus), and the
    * only unpartitioned window runs over the tiny global histogram —
    * the q95/q100/q113 histogram idiom.
    */
  /** q116's KS readout factored over the per-(source, v) count
    * histogram `h(source, v, c)` — every marginal (per-source totals,
    * global histogram, grand total) derives FROM the histogram, so the
    * complete-mode streaming state
    * ([[graft.streaming.StreamingSketch.lengthHist]]) feeds the
    * IDENTICAL readout and can never drift from the batch query
    * (StreamingDriftSpec proves wave ≡ batch ≡ q116).
    */
  private[graft] def ksFromHist(hRaw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the histogram feeds four consumers (sources, global axis, total,
    // grid) — invariant 6
    val h = tracked(hRaw)
    val srcs = h.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val n = h.agg(sum(col("c")).as("n"))
    val gh = tracked(h.groupBy(col("v")).agg(sum(col("c")).as("cg0")))
    val grid = srcs.crossJoin(gh.select(col("v")))
      .join(h, Seq("source", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = grid.withColumn("cs", sum(col("c")).over(wc))
    val wg = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumg = gh.withColumn("cg", sum(col("cg0")).over(wg)).select(col("v"), col("cg"))
    cums.join(cumg, Seq("v")).crossJoin(broadcast(n))
      .groupBy(col("source"), col("ns"), col("n"))
      .agg(max(abs(col("cs") * col("n") - col("cg") * col("ns"))).as("ks_num"))
      .select(col("source"), col("ns"), col("ks_num"),
        (col("ks_num").cast("double") / (col("n") * col("ns"))).as("ks"))
      .orderBy(col("source"))
  }

  /** The per-(source, token-length) histogram q116 reads — shared with
    * the streaming twin so the two can never bin differently.
    */
  private[graft] def lengthHist(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("source"), size(split(col("text"), " ")).cast("long").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))

  val q116DriftKs: Q = (s, d) => ksFromHist(lengthHist(documents(s, d)))

  /** Count-min sketch geometry for [[q84CmsHeavy]]: depth-4 rows of
    * [[CmsWidth]] counters; row i's bucket is the packed gram key
    * reduced mod a distinct prime then mod the width (pairwise
    * CRT-independent residues of one 62-bit key — the SimhashMods
    * discipline). Sized so the ~20k-gram corpus puts ~10 items in
    * every counter: collision mass is REAL at test scale (the
    * overestimate column is non-vacuous) while heavy hitters still
    * dominate their buckets.
    */
  val CmsWidth = 512
  val CmsMods = Seq(1000000007L, 2147483647L, 999999937L, 2147483629L)

  /** EXT — count-min sketch + heavy hitters over the trigram stream
    * (the q83 domain choice — the word vocabulary is too small to
    * collide): build the classic CMS (Cormode–Muthukrishnan) — counters
    * are `sum` aggregates per (row, bucket), so the sketch is
    * MERGEABLE by addition across partitions/corpora exactly as
    * deployed — then read the top-20 heavy grams back THROUGH the
    * sketch (est = min over the 4 rows) next to their exact counts:
    * the one-sided overestimate guarantee (est ≥ exact, excess ≤
    * collision mass) is visible per row and asserted in SketchSpec.
    * Everything is integer; both engines agree bit-for-bit.
    *
    * Scale shape: the sketch table is 4·[[CmsWidth]] rows NO MATTER the
    * corpus (broadcast side of the probe join); building it is one
    * explode(4) + hash agg over the gram scan with map-side partial
    * sums. The exact-count column is for demonstration; a production
    * probe joins only the 2048-row sketch.
    */
  /** The CMS (row, bucket) placement of one packed gram key — THE
    * single bucket definition shared by the batch sketch ([[q84CmsHeavy]])
    * and the streaming maintainer ([[graft.streaming.StreamingSketch]]):
    * explodes to [[CmsMods]].length `(r, bucket)` structs.
    */
  private[graft] def cmsBuckets(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array(CmsMods.zipWithIndex.map { case (m, i) =>
      struct(lit(i).as("r"),
        pmod(pmod(c, lit(m)), lit(CmsWidth.toLong)).as("bucket"))
    }: _*))

  val q84CmsHeavy: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = tracked(gramKeys(documents(s, d))
      .groupBy(col("g")).agg(count(lit(1)).as("exact")))
    val sketch = tok.select(col("exact"), cmsBuckets(col("g")).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("exact")).as("cnt"))
    // rank FIRST (WindowGroupLimit pre-trims map-side), then probe the
    // broadcast sketch for only the 20 survivors — probing before
    // ranking would explode and join the whole gram domain just to
    // discard all but 20 rows
    val wr = Window.orderBy(col("exact").desc, col("g").asc)
    val top = tok.withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= 20)
    top.select(col("rank"), col("g"), col("exact"), cmsBuckets(col("g")).as("rb"))
      .select(col("rank"), col("g"), col("exact"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("rank"), col("g"), col("exact")).agg(min(col("cnt")).as("est"))
      .select(col("rank"), col("g"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(col("rank"))
  }

  /** The "curated domain" [[q86DomainAffinity]] scores against. */
  val TargetLang = "en"

  /** EXT — DSIR-shaped domain-affinity scoring (importance reweighting
    * toward a target domain, Xie et al. 2023, arXiv:2302.03169): score
    * every document by how much its hashed bigram features look like
    * the target slice (lang = [[TargetLang]]) vs the raw corpus, then
    * flag the domain-like docs. DSIR sums log-likelihood ratios; logs
    * aren't cross-engine bit-stable (invariant 4), so the engine-exact
    * statistic is the [[qmean8]]-quantized mean of per-bigram
    * add-one-smoothed probability ratios
    * ((ct+1)·(Nr+V)) / ((cr+1)·(Nt+V)) — a monotone-equivalent
    * affinity, measured BEFORE wiring: at sf0.01 it selects 203/218
    * target-language docs and 50/282 others at threshold 1.0.
    *
    * Scale shape: one bigram scan (dual-residue ShingleHash arity 2);
    * the count table is bigram-vocabulary-sized (broadcastable); totals
    * ride a 1-row broadcast; the per-doc mean is a hash aggregate.
    * The ratio multiplies counts AS DOUBLES in both engines (one IEEE
    * product each side — identical everywhere): an int64 product would
    * wrap silently in Spark past ~3e9 bigram tokens while DuckDB
    * errors, a silent engine divergence at exactly the scale this is
    * for. Counts are double-exact up to 2⁵³ (~9e15 tokens).
    */
  val q86DomainAffinity: Q = (s, d) => {
    val bg = tracked(documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.ShingleHash(
          col("text"), TextOps.P, 2, TextOps.P2)).as("b")))
    val tot = bg.agg(count(lit(1)).as("nr"),
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("nt"),
      count_distinct(col("b")).as("v"))
    val ct = bg.groupBy(col("b")).agg(count(lit(1)).as("cr"),
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("ct"))
    bg.join(ct, Seq("b")).crossJoin(broadcast(tot))
      .withColumn("ratio",
        ((col("ct") + 1).cast("double") * (col("nr") + col("v")).cast("double"))
          / ((col("cr") + 1).cast("double") * (col("nt") + col("v")).cast("double")))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), qmean8(col("ratio")).as("affinity"))
      .withColumn("is_domain", (col("affinity") >= 1.0).cast("int"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("affinity"), col("is_domain"))
      .orderBy(col("doc_id"))
  }

  /** Bloom geometry for [[q88BloomDecontam]]: [[BloomBits]]-bit filter
    * (⌈m/62⌉ = 529 bigint words — 62 usable bits per word because
    * `1 << 63` overflows DuckDB's checked BIGINT shift and bit 62 is
    * the sign; staying below both keeps every word non-negative and
    * the layout engine-portable), [[CmsMods]].length = 4 probe bits per
    * key via the CMS primes (pairwise CRT-independent residues of the
    * 62-bit packed gram key — the SimhashMods discipline). Sized for
    * the eval gram set at test SFs: n ≈ 2.4k distinct eval grams at
    * sf0.01 gives bit load 1−e^(−kn/m) ≈ 0.25 and FP rate ≈ 0.25⁴ ≈
    * 0.4% — real false positives in the output (the sketch is
    * exercised, not vacuous) while exact membership stays the ground
    * truth column.
    */
  val BloomBits = 32768L
  val BloomWordBits = 62L

  /** The 4 bloom bit positions of one packed gram key. */
  private[graft] def bloomPos(h: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    pmod(pmod(h, lit(CmsMods(i))), lit(BloomBits))

  /** The Bloom bitset words `(w, bits)` of a distinct-key frame — THE
    * single build definition shared by the batch probe ([[q88BloomDecontam]])
    * and the streaming maintainer ([[graft.streaming.StreamingSketch.bloomWords]]):
    * `bit_or` is the Bloom merge (Bloom of a union = OR of the Blooms),
    * so map-side partial aggregation IS the distributed sketch build.
    */
  private[graft] def bloomWords(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    keys.select(explode(array(CmsMods.indices.map(i => bloomPos(col("h"), i)): _*)).as("p"))
      .select(expr(s"p DIV $BloomWordBits").as("w"), pmod(col("p"), lit(BloomWordBits)).as("b"))
      .groupBy(col("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)))").as("bits"))

  /** EXT — Bloom-filter membership pre-filter for decontamination: the
    * eval split's distinct trigram keys build a [[BloomBits]]-bit Bloom
    * bitset, and every non-eval (source, gram) probes it next to exact
    * membership, so the output exhibits the filter's contract per
    * source: `n_missed` = members the Bloom missed (ALWAYS 0 — no
    * false negatives, the one-sided guarantee) and `n_false_pos` =
    * the measured FP mass the exact join would then discard.
    *
    * The 100 TB story: q80's exact decontamination broadcasts the eval
    * POSTINGS; when the frozen side outgrows comfortable broadcast, the
    * 4 KB bitset replaces it as the map-side gate — corpus grams probe
    * 529 broadcast words with integer shifts (zero shuffle, FP ~0.4%)
    * and only the surviving sliver pays the exact join. Probing is 4
    * broadcast left joins (one per bit row) on the distinct-gram
    * stream — no explode, no extra exchange beyond the distinct; the
    * build side aggregates to ≤529 rows no matter the eval corpus.
    */
  val q88BloomDecontam: Q = (s, d) => {
    val dh = tracked(documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(graft.functions.ShingleHash(
          col("text"), TextOps.P, 3, TextOps.P2))).as("h")))
    val evalSet = tracked(dh.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("h")).distinct())
    val bits = bloomWords(evalSet)
    var probe = dh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("source"), col("h")).distinct()
    for (i <- CmsMods.indices) {
      probe = probe
        .withColumn(s"p$i", bloomPos(col("h"), i))
        .withColumn(s"w$i", expr(s"p$i DIV $BloomWordBits"))
        .withColumn(s"b$i", pmod(col(s"p$i"), lit(BloomWordBits)))
        .join(broadcast(bits.select(col("w").as(s"w$i"), col("bits").as(s"bits$i"))),
          Seq(s"w$i"), "left")
        .withColumn(s"hit$i",
          coalesce(expr(s"shiftright(bits$i, CAST(b$i AS INT)) & 1"), lit(0L)))
    }
    probe
      .withColumn("bloom_hit", CmsMods.indices.map(i => col(s"hit$i")).reduce(_ * _))
      .join(evalSet.withColumn("in_eval", lit(1L)), Seq("h"), "left")
      .withColumn("in_eval", coalesce(col("in_eval"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("bloom_hit")).as("n_bloom"),
        sum(col("in_eval")).as("n_exact"),
        sum(col("in_eval") * (lit(1L) - col("bloom_hit"))).as("n_missed"))
      .select(col("source"), col("n_grams"), col("n_bloom"), col("n_exact"),
        (col("n_bloom") - col("n_exact")).as("n_false_pos"), col("n_missed"))
      .orderBy(col("source"))
  }

  /** Sample size for [[q89PrioritySample]]. */
  val PriorityK = 50

  /** EXT — deterministic priority sampling (Duffield–Lund–Thorup):
    * a weighted without-replacement sample of [[PriorityK]] documents
    * with weight = token count, plus the subset-sum estimator the
    * scheme is FOR (`est_w` = max(w, τ) with τ the (k+1)-th priority;
    * Σ est_w over the sample is an unbiased estimate of total corpus
    * tokens — CorpusPipelineSpec checks it lands within 15% here).
    * Every RNG-based weighted sampler is un-oracle-able; priority
    * sampling from the seeded LCG draw ([[TextQueries.priorityHashOn]],
    * the q55 idiom at 2³¹ granularity) is exact to replay anywhere:
    * u = (h+1)/2³¹ and priority = w/u are ONE IEEE division each from
    * identical operands (invariant 4 — no accumulation at all).
    *
    * Scale shape: priorities ride the corpus scan; the global
    * top-(k+1) rank filter is rewritten by LimitPushDownThroughWindow
    * into TakeOrderedAndProject(limit=k+1) — every map task trims to
    * its local k+1 rows and ONE merge assembles the winner set (the
    * plan a distributed bottom-k sketch uses; PlanShapeSpec pins it) —
    * and τ joins back as a 1-row broadcast. No corpus-sized shuffle
    * anywhere.
    */
  /** Shared q89 prefix — ONE definition of the draw and the priority
    * for the batch query and the streaming reservoir twin
    * ([[graft.streaming.StreamingSketch.prioritySampleState]]), so the
    * two can never drift: (doc_id, source, n_tokens, u, priority).
    */
  def priorityRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("u",
        (TextQueries.priorityHashOn(col("doc_id")).cast("double") + lit(1.0))
          / lit(2147483647.0))
      .withColumn("priority", col("n_tokens").cast("double") / col("u"))

  val q89PrioritySample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val base = priorityRows(documents(s, d))
    val w = Window.orderBy(col("priority").desc, col("doc_id").asc)
    val ranked = tracked(base.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PriorityK + 1))
    val tau = ranked
      .agg(max(when(col("rk") === PriorityK + 1, col("priority"))).as("tau"))
    ranked.filter(col("rk") <= PriorityK)
      .crossJoin(broadcast(tau))
      .select(col("rk").cast("int").as("rank"), col("doc_id"), col("source"),
        col("n_tokens"), col("priority"),
        greatest(col("n_tokens").cast("double"), coalesce(col("tau"), lit(0.0)))
          .as("est_w"))
      .orderBy(col("rank"))
  }

  /** Chunk geometry for [[q94Chunking]]: window/stride in tokens
    * (overlap = [[ChunkW]] − [[ChunkS]]). Doc lengths here are 10–99
    * tokens (median 56), so every doc yields 1–5 chunks and the
    * overlap/truncation edges are all exercised.
    */
  val ChunkW = 32
  val ChunkS = 24

  /** EXT — context-window chunking (the RAG / long-context prep step):
    * each document's token stream splits into windows of [[ChunkW]]
    * tokens every [[ChunkS]] (trailing chunks truncate, never pad),
    * keyed (doc_id, chunk_id) with the start offset and a sha256 of
    * the chunk text (DuckDB `sha256` ≡ Spark `sha2(·, 256)`). Pure
    * scan-side explode — zero shuffle, linear in corpus tokens; the
    * chunk table is what an embedding/indexing pass consumes.
    */
  val q94Chunking: Q = (s, d) => {
    val base = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("nc", expr(s"(size(toks) - 1) div $ChunkS"))
    base.select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nc"))).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .withColumn("ch", slice(col("toks"), col("start_tok") + 1, lit(ChunkW)))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("start_tok").cast("int").as("start_tok"),
        size(col("ch")).as("n_tok"),
        sha2(array_join(col("ch"), " "), 256).as("chunk_sha"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** EXT — cross-source quality calibration: quality classifiers are
    * source-biased, so a single global threshold over- or under-selects
    * per source; the calibrated rule takes each source's own top 30%
    * (integer rank math, `rk·10 ≤ n·3`). The query returns both
    * verdicts and `recalibrated` = where they differ (measured BEFORE
    * wiring: 44/500 docs flip at sf0.01 — binds). The global verdict is
    * computed scale-safely: NO corpus-wide rank window — a 1000-bucket
    * histogram of floor(quality·1000) (identical doubles → identical
    * buckets), a cumulative count over the TINY bucket table picks the
    * threshold bucket, and only that bucket's members (~n/1000 rows)
    * get an exact in-bucket rank for the boundary — the
    * histogram-quantile pattern an exact global top-k% uses at 100 TB.
    */
  val q95QualityCalibration: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val qual = tracked(documents(s, d)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      .withColumn("qb", floor(col("quality") * lit(1000.0)).cast("int")))
    val wsrc = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val ws = qual
      .withColumn("src_rank", row_number().over(wsrc))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
    val hist = qual.groupBy(col("qb")).agg(count(lit(1)).as("cnt"))
    // unpartitioned window over the DISTINCT-bucket table (≤1001 rows,
    // value-domain-bounded) — WindowExec's all-to-one WARN is expected
    // noise here, not a scale bug
    val cum = hist.withColumn("above",
      coalesce(sum(col("cnt")).over(Window.orderBy(col("qb").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = qual.agg(expr("count(1) * 3 div 10").as("kg"))
    val trow = broadcast(cum.crossJoin(broadcast(tot))
      .filter(col("above") < col("kg") && col("above") + col("cnt") >= col("kg"))
      .select(col("qb").as("tqb"), (col("kg") - col("above")).as("k_rem")))
    val inT = qual.crossJoin(trow).filter(col("qb") === col("tqb"))
      // unpartitioned rank over ONE bucket's docs (tie-bounded) —
      // WindowExec's all-to-one WARN is expected noise here
      .withColumn("ib", row_number().over(
        Window.orderBy(col("quality").desc, col("doc_id").asc)))
      .select(col("doc_id"), (col("ib") <= col("k_rem")).as("sel_in_t"))
    ws.crossJoin(trow).join(inT, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality"),
        col("src_rank").cast("int").as("src_rank"),
        (col("src_rank") * 10 <= col("n_src") * 3).as("sel_src"),
        (col("qb") > col("tqb") || coalesce(col("sel_in_t"), lit(false))).as("sel_global"))
      .withColumn("recalibrated", col("sel_src") =!= col("sel_global"))
      .orderBy(col("doc_id"))
  }

  /** EXT — chunk-level exact dedup over the q94 chunk table (the RAG /
    * retrieval-index dedup pass: near-dup documents tile into IDENTICAL
    * windows, so the chunk index stores each once). Same derivation as
    * [[q94Chunking]] (drift between the two would dedup a different
    * index than the one being served), then the q30 exact-dedup idiom
    * at chunk grain: group by chunk sha256, keeper = lexicographic min
    * (doc_id, chunk_id) via `min(struct(..))` (invariant 8), emit only
    * duplicated chunks with copy/doc counts. Pure hash shuffle on the
    * sha — the q30 scale shape at chunk cardinality; the output is
    * dup-population-sized, never corpus-sized.
    */
  /** The q94/q99 chunk-sha derivation over an arbitrary `(doc_id,
    * text)` frame — q160 re-derives ONLY the update slice's chunks
    * through it, so it must be corpus-parameterized.
    */
  private def chunkShas(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .withColumn("nc", expr(s"(size(toks) - 1) div $ChunkS"))
    .select(col("doc_id"), col("toks"),
      explode(sequence(lit(0), col("nc"))).as("chunk_id"))
    .select(col("doc_id"), col("chunk_id"),
      sha2(array_join(
        slice(col("toks"), col("chunk_id") * ChunkS + 1, lit(ChunkW)), " "), 256).as("h"))

  val q99ChunkDedup: Q = (s, d) => {
    val chunks = chunkShas(documents(s, d).select(col("doc_id"), col("text")))
    chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id").as("kd"), col("chunk_id").as("kc"))).as("m"))
      .filter(col("n_copies") > 1)
      .select(col("h"), col("n_copies"), col("n_docs"),
        col("m.kd").as("keep_doc"), col("m.kc").cast("int").as("keep_chunk"))
      .orderBy(col("h"))
  }

  /** EXT — chunk-index maintenance under UPDATE (the re-crawl wave at
    * the RAG index's grain, completing the update lifecycle across
    * every derived artifact: labels q157, corpus rows, stats q159, and
    * now the q94/q99 chunk table): chunk derivation is per-doc, so the
    * wave re-chunks ONLY the updated slice (old chunks retract, new
    * content's chunks insert), and the GROUP state (copies, distinct
    * docs, keeper) — where min/countDistinct do not retract — recomputes
    * group-scoped: exactly the shas the wave touched re-aggregate from
    * the held chunk index's surviving members plus the new members
    * (the q149 component-scoped discipline at group grain); untouched
    * groups pass through an anti-join byte-unchanged. Output = the
    * post-update dup groups (q99's shape) plus `touched` and
    * `keeper_changed` flags. Measured before wiring: the wave changes
    * 4–8 dup groups, kills 3–7 (copies drop below 2), and flips 1
    * keeper at each SF; group BIRTH is corpus-dormant (a truncated
    * re-crawl only removes chunks — halved text's chunks are prefixes
    * of the old ones) — ChunkUpdateSpec drives it synthetically.
    *
    * The ORACLE recomputes the groups from the updated corpus with no
    * maintenance anywhere, flags mirrored from independent recomputes
    * of both universes.
    *
    * Scale shape: the wave scan reads the slice twice (old text from
    * the corpus table, new from the wave); the regroup reads only
    * touched shas' members (at 100 TB: the chunk index is sha-keyed, a
    * partition-pruned read); untouched groups never leave their files.
    */
  /** The q160 maintenance core over an arbitrary `(doc_id, text, upd,
    * new_text)` frame — factored so the spec can drive the
    * corpus-dormant group-BIRTH branch (two docs re-crawled into the
    * same new content) through the same plan on a synthetic frame.
    */
  private[graft] def chunkUpdateCore(docs: org.apache.spark.sql.DataFrame,
      hold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dd = hold(docs)
    val updIds = dd.filter(col("upd")).select(col("doc_id"))
    val heldChunks = hold(chunkShas(dd.select(col("doc_id"), col("text"))))
    val held = hold(heldChunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id").as("kd"), col("chunk_id").as("kc"))).as("m")))
    val newW = hold(chunkShas(dd.filter(col("upd"))
      .select(col("doc_id"), col("new_text").as("text"))))
    val touched = hold(heldChunks.join(updIds, Seq("doc_id"), "left_semi")
      .select(col("h"))
      .union(newW.select(col("h"))).distinct())
    val regroup = heldChunks.join(touched, Seq("h"), "left_semi")
      .join(updIds, Seq("doc_id"), "left_anti")
      .unionByName(newW)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id").as("kd"), col("chunk_id").as("kc"))).as("m"))
      .join(held.select(col("h"), col("m").as("om")), Seq("h"), "left")
      .select(col("h"), col("n_copies"), col("n_docs"), col("m"),
        lit(1).as("touched"),
        when(col("om").isNotNull && !(col("om") <=> col("m")), 1)
          .otherwise(0).as("keeper_changed"))
    val untouched = held.join(touched, Seq("h"), "left_anti")
      .select(col("h"), col("n_copies"), col("n_docs"), col("m"),
        lit(0).as("touched"), lit(0).as("keeper_changed"))
    regroup.unionByName(untouched)
      .filter(col("n_copies") > 1)
      .select(col("h"), col("n_copies"), col("n_docs"),
        col("m.kd").as("keep_doc"), col("m.kc").cast("int").as("keep_chunk"),
        col("touched"), col("keeper_changed"))
      .orderBy(col("h"))
  }

  val q160ChunkUpdate: Q = (s, d) =>
    chunkUpdateCore(documents(s, d)
      .select(col("doc_id"), col("text"),
        (TextQueries.priorityHashOn(col("doc_id")) <
          lit(TextQueries.DeleteBound)).as("upd"),
        expr("substring(text, 1, length(text) DIV 2)").as("new_text")),
      tracked)

  /** EXT — chunk-index DELETE (the q160 lifecycle's takedown cell: the
    * update core with an empty new side): the seeded ~12.8% tombstone
    * slice leaves the corpus wholesale, so the wave retracts the slice's
    * chunks and the group state (copies, distinct docs, keeper —
    * min/countDistinct do not retract) recomputes GROUP-SCOPED over
    * exactly the shas the dead docs touched, from the held index's
    * surviving members; untouched groups pass through an anti-join
    * byte-unchanged. Unlike q160, group BIRTH is impossible by algebra,
    * not merely dormant — a delete only removes chunk rows, and a sha
    * that was not duplicated cannot become duplicated by losing members —
    * so there is no synthetic branch to drive (the q153
    * algebraic-exclusion standard). Measured before wiring: the wave
    * kills 4/9/78 dup groups and flips 2/2/3 keepers at sf0.001/0.01/0.1
    * — non-vacuous at every SF.
    *
    * The ORACLE recomputes the groups from the surviving corpus with no
    * maintenance anywhere; `touched`/`keeper_changed` mirror from
    * independent recomputes of both universes.
    *
    * Scale shape: the tombstone scan is slice-sized; the regroup reads
    * only touched shas' members (sha-keyed partition-pruned read at
    * 100 TB); untouched groups never leave their files.
    */
  val q172ChunkDelete: Q = (s, d) => {
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"),
        (TextQueries.priorityHashOn(col("doc_id")) <
          lit(TextQueries.DeleteBound)).as("dead"))
    val dd = tracked(docs)
    val deadIds = dd.filter(col("dead")).select(col("doc_id"))
    val heldChunks = tracked(chunkShas(dd.select(col("doc_id"), col("text"))))
    val held = tracked(heldChunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id").as("kd"), col("chunk_id").as("kc"))).as("m")))
    val touched = tracked(heldChunks.join(deadIds, Seq("doc_id"), "left_semi")
      .select(col("h")).distinct())
    val regroup = heldChunks.join(touched, Seq("h"), "left_semi")
      .join(deadIds, Seq("doc_id"), "left_anti")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id").as("kd"), col("chunk_id").as("kc"))).as("m"))
      .join(held.select(col("h"), col("m").as("om")), Seq("h"), "left")
      .select(col("h"), col("n_copies"), col("n_docs"), col("m"),
        lit(1).as("touched"),
        when(col("om").isNotNull && !(col("om") <=> col("m")), 1)
          .otherwise(0).as("keeper_changed"))
    val untouched = held.join(touched, Seq("h"), "left_anti")
      .select(col("h"), col("n_copies"), col("n_docs"), col("m"),
        lit(0).as("touched"), lit(0).as("keeper_changed"))
    regroup.unionByName(untouched)
      .filter(col("n_copies") > 1)
      .select(col("h"), col("n_copies"), col("n_docs"),
        col("m.kd").as("keep_doc"), col("m.kc").cast("int").as("keep_chunk"),
        col("touched"), col("keeper_changed"))
      .orderBy(col("h"))
  }

  /** Coverage checkpoints for [[q100VocabCoverage]] (vocab-sizing
    * sweep; the largest overshoots the sf0.01 type count so the
    * `k_eff` clamp is exercised).
    */
  val CovKs = Seq(256L, 1024L, 4096L, 16384L)

  /** EXT — vocabulary coverage / OOV curve (tokenizer-sizing
    * dashboard): for each candidate vocab size k, the share of corpus
    * 3-gram OCCURRENCES covered by the k most frequent gram types.
    * Gram domain, not words — the word vocabulary here is ~31 types
    * (vacuous); grams are ~16k types at sf0.01. Counted over gram
    * STRINGS (no hashing — a hash collision would merge counts, the
    * q96 birthday lesson). NO global rank window over the type table:
    * the top-k occurrence mass comes from the count-of-counts (Zipf)
    * histogram — all types tied at a count contribute equally, so
    * `covered(k) = occ_above(c*) + (k − types_above(c*))·c*` at the
    * threshold count c*, exactly the q95 histogram-quantile idiom.
    * Corpus-sized work is ONE hash agg (gram counts); the cc table is
    * ~distinct-count-values rows (tiny at any corpus size), and the
    * cumulative window runs over that. All integer until the final
    * coverage division.
    */
  val q100VocabCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val occ = documents(s, d)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(TextOps.shingleOccurrences(col("toks"), 3)).as("g"))
    val cnt = occ.groupBy(col("g")).agg(count(lit(1)).as("c"))
    // count-of-counts: one row per distinct count value (tiny);
    // persisted — the cumulative window and the totals both read it
    // (invariant 6)
    val cc = tracked(cnt.groupBy(col("c")).agg(count(lit(1)).as("types")))
    val wc = Window.orderBy(col("c").desc).rowsBetween(Window.unboundedPreceding, -1)
    val cum = cc
      .withColumn("types_above", coalesce(sum(col("types")).over(wc), lit(0L)))
      .withColumn("occ_above", coalesce(sum(col("types") * col("c")).over(wc), lit(0L)))
    val tot = broadcast(cc.agg(sum(col("types")).as("n_types"),
      sum(col("types") * col("c")).as("total_occ")))
    val ks = { import s.implicits._; CovKs.toDF("k") }
    ks.crossJoin(tot)
      .withColumn("k_eff", least(col("k"), col("n_types")))
      .join(cum, col("types_above") < col("k_eff") &&
        col("types_above") + col("types") >= col("k_eff"))
      .withColumn("covered_occ",
        col("occ_above") + (col("k_eff") - col("types_above")) * col("c"))
      .withColumn("coverage", col("covered_occ").cast("double") / col("total_occ"))
      .select(col("k"), col("k_eff"), col("n_types"), col("covered_occ"),
        col("total_occ"), col("coverage"))
      .orderBy(col("k"))
  }

  val queries: Map[String, Q] = Map(
    "q142_jsonl_quarantine" -> q142JsonlQuarantine,
    "q57_corpus_funnel" -> q57CorpusFunnel,
    "q94_chunking"      -> q94Chunking,
    "q95_quality_calibration" -> q95QualityCalibration,
    "q58_vocab_prune"   -> q58VocabPrune,
    "q59_bigram_lift"   -> q59BigramLift,
    "q60_token_budget"  -> q60TokenBudget,
    "q61_line_dedup"    -> q61LineDedup,
    "q62_repetition"    -> q62Repetition,
    "q63_pii_scrub"     -> q63PiiScrub,
    "q64_seq_pack"      -> q64SeqPack,
    "q65_bigram_lm"     -> q65BigramLm,
    "q155_surprisal_filter" -> q155SurprisalFilter,
    "q156_rolling_lm" -> q156RollingLm,
    "q167_lm_retract" -> q167LmRetract,
    "q170_lm_update" -> q170LmUpdate,
    "q158_dsir_select" -> q158DsirSelect,
    "q163_dsir_update" -> q163DsirUpdate,
    "q168_dsir_delete" -> q168DsirDelete,
    "q66_source_overlap" -> q66SourceOverlap,
    "q67_bpe_train"     -> q67BpeTrain,
    "q162_bpe_refresh"  -> q162BpeRefresh,
    "q68_bpe_encode"    -> q68BpeEncode,
    "q69_embedding_drift" -> q69EmbeddingDrift,
    "q70_exactk_sample" -> q70ExactKSample,
    "q71_corpus_shuffle" -> q71CorpusShuffle,
    "q75_mixture_weights" -> q75MixtureWeights,
    "q78_epoch_draw" -> q78EpochDraw,
    "q83_kmv_distinct" -> q83KmvDistinct,
    "q111_incremental_merge" -> q111IncrementalMerge,
    "q153_stats_retract" -> q153StatsRetract,
    "q159_stats_update" -> q159StatsUpdate,
    "q113_quantile_norm" -> q113QuantileNorm,
    "q119_hdr_quantile" -> q119HdrQuantile,
    "q161_hdr_retract" -> q161HdrRetract,
    "q166_hdr_update" -> q166HdrUpdate,
    "q130_shard_balance" -> q130ShardBalance,
    "q133_zorder_layout" -> q133ZorderLayout,
    "q116_drift_ks" -> q116DriftKs,
    "q84_cms_heavy" -> q84CmsHeavy,
    "q86_domain_affinity" -> q86DomainAffinity,
    "q88_bloom_decontam" -> q88BloomDecontam,
    "q89_priority_sample" -> q89PrioritySample,
    "q99_chunk_dedup"   -> q99ChunkDedup,
    "q160_chunk_update" -> q160ChunkUpdate,
    "q172_chunk_delete" -> q172ChunkDelete,
    "q100_vocab_coverage" -> q100VocabCoverage,
  )

  /** The q57 funnel's per-document stage flags as shared oracle CTEs —
    * ends with `flags(doc_id, source, lang, f_dedup, f_quality,
    * f_decontam, f_sample)` so both the funnel rollup (q57) and the
    * shuffle/shard materialization (q71) read one definition.
    */
  /** ONE DuckDB mirror of [[graft.ops.TextOps.qualityScore]] over a
    * `text` column — shared by the q57 funnel flags and the q95
    * calibration oracle so the two can never drift.
    */
  /** The [[qualityGate]] predicate as oracle CTEs over `src(doc_id,
    * text)` — emits `${p}ok(doc_id)` = the gate-passing ids (round 17:
    * q175 replays the corpus store's update-wave gate over the
    * re-crawled corpus). The quality and rep2 expressions are the
    * funnel oracle's, verbatim (funnelFlagCtes keeps its own copies —
    * its committed SQL bytes must not move).
    */
  private[queries] def qualityGateSqlCtes(src: String, p: String): String =
    s"""${p}q AS (SELECT doc_id, $qualitySqlExpr AS quality FROM $src),
      |${p}r AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) = 0 THEN 0.0
      |         ELSE CAST(len(hs) - len(list_distinct(hs)) AS DOUBLE) / len(hs) END AS rep2
      |  FROM (
      |    SELECT doc_id, list_transform(
      |      list_transform(generate_series(1, greatest(len(t0) - 1, 0)), i -> t0[i] || ' ' || t0[i+1]),
      |      s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
      |             (a, x) -> (a * 31 + x) % 1000000007)) AS hs
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t0 FROM $src))),
      |${p}ok AS (
      |  SELECT q.doc_id FROM ${p}q q JOIN ${p}r r USING (doc_id)
      |  WHERE q.quality >= $QualityThreshold AND r.rep2 <= $Rep2Max),
      |""".stripMargin

  private def qualitySqlExpr: String =
    """greatest(0.0, least(1.0,
      |    0.05 * (CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')))
      |    + 0.5 * (CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(string_split(text, ' ')))
      |    - 0.1 * (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text))))""".stripMargin

  private def funnelFlagCtes: String =
    TextQueries.simhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      TextQueries.ccCtes +
      s"""tk3 AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |g3 AS (
      |  SELECT doc_id, list_transform(generate_series(1, greatest(len(t0) - 2, 0)),
      |    i -> t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]) AS gs
      |  FROM tk3 WHERE len(t0) >= 3),
      |hs3 AS (
      |  SELECT doc_id, list_distinct(list_transform(gs,
      |    s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
      |           (a, x) -> (a * 31 + x) % 1000000007))) AS hs
      |  FROM g3 WHERE len(gs) > 0),
      |co3 AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS w FROM hs3 WHERE doc_id % 10 <> 0),
      |ev3 AS (SELECT DISTINCT unnest(hs) AS w FROM hs3 WHERE doc_id % 10 = 0),
      |fr3 AS (
      |  SELECT co3.doc_id,
      |    CAST(sum(CASE WHEN ev3.w IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / co3.n AS frac
      |  FROM co3 LEFT JOIN ev3 ON co3.w = ev3.w GROUP BY co3.doc_id, co3.n),
      |qual AS (
      |  SELECT doc_id, $qualitySqlExpr AS quality
      |  FROM documents),
      |rq AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) = 0 THEN 0.0
      |         ELSE CAST(len(hs) - len(list_distinct(hs)) AS DOUBLE) / len(hs) END AS rep2
      |  FROM (
      |    SELECT doc_id, list_transform(
      |      list_transform(generate_series(1, greatest(len(t0) - 1, 0)), i -> t0[i] || ' ' || t0[i+1]),
      |      s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
      |             (a, x) -> (a * 31 + x) % 1000000007)) AS hs
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents))),
      |flags AS (
      |  SELECT d.doc_id, d.source, d.lang,
      |    CASE WHEN c.lbl IS NULL OR c.lbl = d.doc_id THEN 1 ELSE 0 END AS f_dedup,
      |    CASE WHEN q.quality >= $QualityThreshold AND r.rep2 <= $Rep2Max THEN 1 ELSE 0 END AS f_quality,
      |    CASE WHEN d.doc_id % 10 <> 0 AND COALESCE(f.frac, 0.0) < $ContamThreshold THEN 1 ELSE 0 END AS f_decontam,
      |    CASE WHEN ${TextQueries.sampleHashSql.replace("doc_id", "d.doc_id")} < ${TextQueries.sampleRateBpSql.replace("source", "d.source")} THEN 1 ELSE 0 END AS f_sample
      |  FROM documents d
      |  LEFT JOIN cl c ON d.doc_id = c.id
      |  LEFT JOIN qual q ON d.doc_id = q.doc_id
      |  LEFT JOIN rq r ON d.doc_id = r.doc_id
      |  LEFT JOIN fr3 f ON d.doc_id = f.doc_id),
      |""".stripMargin

  private def q57OracleSql: String =
    funnelFlagCtes +
      """z57 AS (SELECT 1 AS zz)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(f_dedup) AS BIGINT) AS n_dedup,
      |  CAST(sum(f_dedup * f_quality) AS BIGINT) AS n_quality,
      |  CAST(sum(f_dedup * f_quality * f_decontam) AS BIGINT) AS n_decontam,
      |  CAST(sum(f_dedup * f_quality * f_decontam * f_sample) AS BIGINT) AS n_sample
      |FROM flags GROUP BY source
      |ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    // q142's oracle recomputes the EXPECTED outcome of every shard line
    // from the generation rule over `documents` — it never reads the
    // file, so Spark's real write→parse→quarantine loop is checked
    // against an independent derivation of where each line must land
    "q142_jsonl_quarantine" ->
      """WITH k142 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 <= 5 THEN 'clean'
        |         WHEN doc_id % 10 = 6 THEN 'nofield'
        |         WHEN doc_id % 10 = 7 THEN 'truncated'
        |         WHEN doc_id % 10 = 8 THEN 'badtype'
        |         ELSE 'garbage' END AS cls,
        |    CASE WHEN doc_id % 10 <= 6 THEN 1 ELSE 0 END AS ok
        |  FROM documents)
        |SELECT cls,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(ok) AS BIGINT) AS n_parsed,
        |  CAST(count(*) - sum(ok) AS BIGINT) AS n_quarantine,
        |  CAST(sum(doc_id * ok) AS BIGINT) AS ids_parsed
        |FROM k142 GROUP BY cls
        |ORDER BY cls""".stripMargin,
    "q57_corpus_funnel" -> q57OracleSql,
    "q99_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, g.i AS chunk_id,
        |    sha256(array_to_string(list_slice(toks, g.i * $ChunkS + 1, g.i * $ChunkS + $ChunkW), ' ')) AS h
        |  FROM t, LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $ChunkS)) AS i) g),
        |rk AS (
        |  SELECT h, doc_id, chunk_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
        |  FROM c),
        |agg AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM c GROUP BY h HAVING count(*) > 1)
        |SELECT a.h, a.n_copies, a.n_docs, r.doc_id AS keep_doc,
        |  CAST(r.chunk_id AS INT) AS keep_chunk
        |FROM agg a JOIN rk r ON a.h = r.h AND r.rn = 1
        |ORDER BY a.h""".stripMargin,
    "q160_chunk_update" ->
      // the oracle recomputes the groups from the UPDATED corpus with no
      // maintenance anywhere; the flags mirror independent recomputes of
      // both universes (keeper convention = rn 1 over (doc_id, chunk_id),
      // the q99 min-struct twin)
      s"""WITH t160 AS (
        |  SELECT doc_id, text,
        |    ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound} AS upd
        |  FROM documents),
        |co160 AS MATERIALIZED (
        |  SELECT doc_id, g.i AS chunk_id,
        |    sha256(array_to_string(list_slice(toks, g.i * $ChunkS + 1, g.i * $ChunkS + $ChunkW), ' ')) AS h,
        |    upd
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks, upd FROM t160),
        |    LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $ChunkS)) AS i) g),
        |cu160 AS MATERIALIZED (
        |  SELECT doc_id, g.i AS chunk_id,
        |    sha256(array_to_string(list_slice(toks, g.i * $ChunkS + 1, g.i * $ChunkS + $ChunkW), ' ')) AS h,
        |    upd
        |  FROM (SELECT doc_id,
        |          string_split(CASE WHEN upd THEN substr(text, 1, length(text) // 2) ELSE text END, ' ') AS toks,
        |          upd
        |        FROM t160),
        |    LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $ChunkS)) AS i) g),
        |tch160 AS (
        |  SELECT DISTINCT h FROM (
        |    SELECT h FROM co160 WHERE upd UNION ALL SELECT h FROM cu160 WHERE upd)),
        |ko160 AS (
        |  SELECT h, doc_id, chunk_id FROM (
        |    SELECT h, doc_id, chunk_id,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
        |    FROM co160) WHERE rn = 1),
        |ru160 AS (
        |  SELECT h, doc_id, chunk_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
        |  FROM cu160),
        |gu160 AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM cu160 GROUP BY h HAVING count(*) > 1)
        |SELECT g.h, g.n_copies, g.n_docs, r.doc_id AS keep_doc,
        |  CAST(r.chunk_id AS INT) AS keep_chunk,
        |  CAST(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS touched,
        |  CAST(CASE WHEN t.h IS NOT NULL AND k.h IS NOT NULL
        |    AND (k.doc_id <> r.doc_id OR k.chunk_id <> r.chunk_id)
        |    THEN 1 ELSE 0 END AS INT) AS keeper_changed
        |FROM gu160 g
        |JOIN ru160 r ON g.h = r.h AND r.rn = 1
        |LEFT JOIN tch160 t ON g.h = t.h
        |LEFT JOIN ko160 k ON g.h = k.h
        |ORDER BY g.h""".stripMargin,
    "q172_chunk_delete" ->
      // the oracle recomputes the groups from the SURVIVING corpus with
      // no maintenance anywhere; touched = the sha had a dead member in
      // the full universe, keeper_changed mirrored from both universes'
      // independent keepers (the q160 convention minus the new side)
      s"""WITH t172 AS (
        |  SELECT doc_id, text,
        |    ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound} AS dead
        |  FROM documents),
        |co172 AS MATERIALIZED (
        |  SELECT doc_id, g.i AS chunk_id,
        |    sha256(array_to_string(list_slice(toks, g.i * $ChunkS + 1, g.i * $ChunkS + $ChunkW), ' ')) AS h,
        |    dead
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks, dead FROM t172),
        |    LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $ChunkS)) AS i) g),
        |tch172 AS (SELECT DISTINCT h FROM co172 WHERE dead),
        |ko172 AS (
        |  SELECT h, doc_id, chunk_id FROM (
        |    SELECT h, doc_id, chunk_id,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
        |    FROM co172) WHERE rn = 1),
        |rl172 AS (
        |  SELECT h, doc_id, chunk_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
        |  FROM co172 WHERE NOT dead),
        |gl172 AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM co172 WHERE NOT dead GROUP BY h HAVING count(*) > 1)
        |SELECT g.h, g.n_copies, g.n_docs, r.doc_id AS keep_doc,
        |  CAST(r.chunk_id AS INT) AS keep_chunk,
        |  CAST(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS touched,
        |  CAST(CASE WHEN t.h IS NOT NULL
        |    AND (k.doc_id <> r.doc_id OR k.chunk_id <> r.chunk_id)
        |    THEN 1 ELSE 0 END AS INT) AS keeper_changed
        |FROM gl172 g
        |JOIN rl172 r ON g.h = r.h AND r.rn = 1
        |LEFT JOIN tch172 t ON g.h = t.h
        |JOIN ko172 k ON g.h = k.h
        |ORDER BY g.h""".stripMargin,
    "q100_vocab_coverage" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) s
        |  WHERE len(toks) >= 3),
        |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY g),
        |cc AS (SELECT c, CAST(count(*) AS BIGINT) AS types FROM cnt GROUP BY c),
        |cum AS (
        |  SELECT c, types,
        |    COALESCE(CAST(sum(types) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS types_above,
        |    COALESCE(CAST(sum(types * c) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS occ_above
        |  FROM cc),
        |tot AS (SELECT CAST(sum(types) AS BIGINT) AS n_types,
        |  CAST(sum(types * c) AS BIGINT) AS total_occ FROM cc),
        |ks AS (SELECT CAST(unnest([256, 1024, 4096, 16384]) AS BIGINT) AS k)
        |SELECT k, least(k, n_types) AS k_eff, n_types,
        |  occ_above + (least(k, n_types) - types_above) * c AS covered_occ,
        |  total_occ,
        |  CAST(occ_above + (least(k, n_types) - types_above) * c AS DOUBLE) / total_occ AS coverage
        |FROM ks, tot, cum
        |WHERE types_above < least(k, n_types) AND types_above + types >= least(k, n_types)
        |ORDER BY k""".stripMargin,
    "q94_chunking" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, g.i AS chunk_id, g.i * $ChunkS AS start_tok,
        |    list_slice(toks, g.i * $ChunkS + 1, g.i * $ChunkS + $ChunkW) AS ch
        |  FROM t, LATERAL (SELECT unnest(generate_series(0, (len(toks) - 1) // $ChunkS)) AS i) g)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(start_tok AS INT) AS start_tok, CAST(len(ch) AS INT) AS n_tok,
        |  sha256(array_to_string(ch, ' ')) AS chunk_sha
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q95_quality_calibration" ->
      s"""WITH qual AS (
        |  SELECT doc_id, source, $qualitySqlExpr AS quality FROM documents),
        |qbt AS (SELECT *, CAST(floor(quality * 1000.0) AS INT) AS qb FROM qual),
        |ws AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS src_rank,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM qbt),
        |hist AS (SELECT qb, count(*) AS cnt FROM qbt GROUP BY qb),
        |cum AS (
        |  SELECT qb, cnt, COALESCE(CAST(sum(cnt) OVER (ORDER BY qb DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS above
        |  FROM hist),
        |tot AS (SELECT (count(*) * 3) // 10 AS kg FROM qbt),
        |trow AS (
        |  SELECT c.qb AS tqb, tot.kg - c.above AS k_rem
        |  FROM cum c, tot WHERE c.above < tot.kg AND c.above + c.cnt >= tot.kg),
        |inT AS (
        |  SELECT q.doc_id,
        |    (row_number() OVER (ORDER BY q.quality DESC, q.doc_id)) <= t.k_rem AS sel_in_t
        |  FROM qbt q, trow t WHERE q.qb = t.tqb)
        |SELECT w.doc_id, w.source, w.quality, CAST(w.src_rank AS INT) AS src_rank,
        |  w.src_rank * 10 <= w.n_src * 3 AS sel_src,
        |  (w.qb > t.tqb OR COALESCE(i.sel_in_t, FALSE)) AS sel_global,
        |  (w.src_rank * 10 <= w.n_src * 3) <> (w.qb > t.tqb OR COALESCE(i.sel_in_t, FALSE)) AS recalibrated
        |FROM ws w CROSS JOIN trow t LEFT JOIN inT i ON w.doc_id = i.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "q83_kmv_distinct" -> q83OracleSql,
    "q111_incremental_merge" -> q111OracleSql,
    "q153_stats_retract" -> q153OracleSql,
    "q159_stats_update" -> q159OracleSql,
    "q119_hdr_quantile" -> q119OracleSql,
    "q161_hdr_retract" -> q161OracleSql,
    "q166_hdr_update" -> q166OracleSql,
    "q133_zorder_layout" ->
      s"""WITH m133 AS (SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
        |b133 AS (
        |  SELECT event_id, user_id % 256 AS u,
        |    ((epoch_us(ts) // 86400000000) - (SELECT d0 FROM m133)) % 256 AS dy
        |  FROM events),
        |z133 AS (SELECT event_id, u, dy,
        |  ${zInterleaveExpr((c, j) => s"($c >> $j)")} AS z FROM b133),
        |h133 AS (SELECT z, CAST(count(*) AS BIGINT) AS c FROM z133 GROUP BY z),
        |o133 AS (SELECT z, CAST(sum(c) OVER (ORDER BY z
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS off FROM h133),
        |a133 AS (
        |  SELECT e.event_id, e.u, e.dy,
        |    (o.off + row_number() OVER (PARTITION BY e.z ORDER BY e.event_id) - 1) // $ZRowsPerFile AS file_id,
        |    e.event_id // $ZRowsPerFile AS naive_file
        |  FROM z133 e JOIN o133 o USING (z)),
        |st133 AS (
        |  SELECT 'zorder' AS layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
        |    min(u) AS min_u, max(u) AS max_u, min(dy) AS min_d, max(dy) AS max_d
        |  FROM a133 GROUP BY file_id
        |  UNION ALL
        |  SELECT 'naive', naive_file, CAST(count(*) AS BIGINT), min(u), max(u), min(dy), max(dy)
        |  FROM a133 GROUP BY naive_file),
        |cl133 AS (SELECT DISTINCT u, dy FROM b133),
        |tc133 AS (
        |  SELECT layout, CAST(count(*) AS BIGINT) AS files_touched_total
        |  FROM cl133 c JOIN st133 s
        |    ON c.u >= s.min_u AND c.u <= s.max_u AND c.dy >= s.min_d AND c.dy <= s.max_d
        |  GROUP BY layout),
        |nc133 AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM cl133)
        |SELECT s.layout, s.file_id, s.n_rows, s.min_u, s.max_u, s.min_d, s.max_d,
        |  nc133.n_cells, t.files_touched_total
        |FROM st133 s JOIN tc133 t USING (layout), nc133
        |ORDER BY s.layout, s.file_id""".stripMargin,
    // interpolates BalanceShards (invariant 7: params live in ONE
    // place — a BalanceShards change re-derives the oracle's %2W /
    // boustrophedon / naive-mod constants with it)
    "q130_shard_balance" ->
      s"""WITH nt130 AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |h130 AS (SELECT nt, CAST(count(*) AS BIGINT) AS c FROM nt130 GROUP BY nt),
        |off130 AS (
        |  SELECT nt, CAST(sum(c) OVER (ORDER BY nt DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS off
        |  FROM h130),
        |rk130 AS (
        |  SELECT n.doc_id, n.nt,
        |    o.off + row_number() OVER (PARTITION BY n.nt ORDER BY n.doc_id) AS r
        |  FROM nt130 n JOIN off130 o USING (nt)),
        |sn130 AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN (r - 1) % ${2 * BalanceShards} < $BalanceShards THEN (r - 1) % ${2 * BalanceShards} ELSE ${2 * BalanceShards - 1} - (r - 1) % ${2 * BalanceShards} END AS shard,
        |    doc_id % $BalanceShards AS naive_shard
        |  FROM rk130),
        |p130 AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS tokens
        |  FROM sn130 GROUP BY shard),
        |nv130 AS (
        |  SELECT naive_shard AS shard, CAST(sum(nt) AS BIGINT) AS tokens_naive
        |  FROM sn130 GROUP BY naive_shard),
        |t130 AS (SELECT CAST(sum(nt) AS BIGINT) AS t_total FROM nt130)
        |SELECT p.shard, p.n_docs, p.tokens, nv.tokens_naive,
        |  CAST(p.tokens AS DOUBLE) * $BalanceShards / t_total AS balance,
        |  CAST(nv.tokens_naive AS DOUBLE) * $BalanceShards / t_total AS balance_naive
        |FROM p130 p JOIN nv130 nv USING (shard), t130
        |ORDER BY p.shard""".stripMargin,
    "q116_drift_ks" ->
      """WITH nt116 AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |srcs116 AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM nt116 GROUP BY 1),
        |n116 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nt116),
        |h116 AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM nt116 GROUP BY 1, 2),
        |gh116 AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM nt116 GROUP BY 1),
        |grid116 AS (
        |  SELECT s.source, s.ns, gh116.v, COALESCE(h.c, 0) AS c
        |  FROM srcs116 s CROSS JOIN gh116
        |  LEFT JOIN h116 h ON h.source = s.source AND h.v = gh116.v),
        |cums116 AS (
        |  SELECT source, ns, v,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cs
        |  FROM grid116),
        |cumg116 AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cg FROM gh116)
        |SELECT c.source, c.ns,
        |  max(abs(c.cs * n116.n - g.cg * c.ns)) AS ks_num,
        |  CAST(max(abs(c.cs * n116.n - g.cg * c.ns)) AS DOUBLE) / (n116.n * c.ns) AS ks
        |FROM cums116 c JOIN cumg116 g USING (v), n116
        |GROUP BY c.source, c.ns, n116.n
        |ORDER BY c.source""".stripMargin,
    "q113_quantile_norm" ->
      """WITH nt113 AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |ns113 AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM nt113 GROUP BY 1),
        |n113 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nt113),
        |r113 AS (
        |  SELECT t.doc_id, t.source, t.nt,
        |    CAST(row_number() OVER (PARTITION BY t.source ORDER BY t.nt, t.doc_id) AS BIGINT) AS r,
        |    s.ns, n113.n
        |  FROM nt113 t JOIN ns113 s USING (source), n113),
        |g113 AS (SELECT *, (r * n + ns - 1) // ns AS grk FROM r113),
        |h113 AS (SELECT nt AS v, CAST(count(*) AS BIGINT) AS c FROM nt113 GROUP BY 1),
        |cum113 AS (
        |  SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS hi,
        |    CAST(sum(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS lo
        |  FROM h113)
        |SELECT g.doc_id, g.source, g.nt, g.r, g.grk, cum113.v AS norm_nt
        |FROM g113 g JOIN cum113 ON g.grk BETWEEN cum113.lo AND cum113.hi
        |ORDER BY g.doc_id""".stripMargin,
    "q84_cms_heavy" -> q84OracleSql,
    "q86_domain_affinity" -> q86OracleSql,
    "q88_bloom_decontam" -> q88OracleSql,
    "q89_priority_sample" -> q89OracleSql,
    "q58_vocab_prune" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
        |kept AS (SELECT w FROM dfq, nd WHERE df >= $VocabMinDf AND df * 5 <= n_docs * 2),
        |per AS (
        |  SELECT t.doc_id,
        |    count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN k.w IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |    count(DISTINCT t.w) AS n_vocab,
        |    count(DISTINCT CASE WHEN k.w IS NULL THEN NULL ELSE t.w END) AS n_vocab_kept
        |  FROM tok t LEFT JOIN kept k ON t.w = k.w
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_kept, n_vocab, n_vocab_kept,
        |  CAST(n_kept AS DOUBLE) / n_tokens AS frac_kept
        |FROM per ORDER BY doc_id""".stripMargin,
    "q59_bigram_lift" ->
      s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
        |un AS (SELECT w, count(*) AS n FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
        |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_tok FROM un),
        |pr AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) s),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY w1, w2 HAVING count(*) >= $LiftMinPair)
        |SELECT pc.w1, pc.w2, pc.n_pair,
        |  (CAST(pc.n_pair AS DOUBLE) * CAST(nt.n_tok AS DOUBLE))
        |    / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
        |FROM pc JOIN un a ON pc.w1 = a.w JOIN un b ON pc.w2 = b.w, nt
        |ORDER BY lift DESC, w1, w2
        |LIMIT $LiftTopK""".stripMargin,
    "q60_token_budget" ->
      s"""WITH t AS (
        |  SELECT source, len(string_split(text, ' ')) AS n_tok,
        |    CASE WHEN ${TextQueries.sampleHashSql} < ${TextQueries.sampleRateBpSql} THEN 1 ELSE 0 END AS kept
        |  FROM documents),
        |per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_tok * kept) AS BIGINT) AS n_tokens_sampled
        |  FROM t GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens_sampled) AS BIGINT) AS tt FROM per)
        |SELECT source, n_docs, n_tokens, n_tokens_sampled,
        |  CAST(n_tokens_sampled AS DOUBLE) / CAST(tt AS DOUBLE) AS share
        |FROM per, tot ORDER BY source""".stripMargin,
    "q61_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ln AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx,
        |    array_to_string(t[((i-1)*${TextOps.LineTokens}+1):least(i*${TextOps.LineTokens}, len(t))], ' ') AS line
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, (len(t) + ${TextOps.LineTokens - 1}) // ${TextOps.LineTokens})) AS i) s),
        |lh AS (
        |  SELECT doc_id, idx, line,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(line)), k -> CAST(ascii(line[k]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1000000007) AS h
        |  FROM ln),
        |fr AS (SELECT h, count(*) AS f FROM lh GROUP BY h)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN f <= $LineFreqCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN f > $LineFreqCap THEN length(line) ELSE 0 END) AS BIGINT) AS n_chars_removed,
        |  COALESCE(string_agg(CASE WHEN f <= $LineFreqCap THEN line END, ' ' ORDER BY idx), '') AS clean_text
        |FROM lh JOIN fr USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q62_repetition" -> {
      // one (gram-build → hash → fraction) CTE chain per arity, the q32
      // oracle's hash formulation; line chunks compare as strings
      val perN = (2 to 4).map { n =>
        s"""m$n AS (
          |  SELECT doc_id,
          |    CASE WHEN len(hs) = 0 THEN 0.0
          |         ELSE CAST(len(hs) - len(list_distinct(hs)) AS DOUBLE) / len(hs) END AS rep$n
          |  FROM (
          |    SELECT doc_id, list_transform(
          |      list_transform(generate_series(1, greatest(len(t0) - ${n - 1}, 0)),
          |        i -> ${(0 until n).map(k => s"t0[i+$k]").mkString(" || ' ' || ")}),
          |      s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
          |             (a, x) -> (a * 31 + x) % 1000000007)) AS hs
          |    FROM tk)),
          |""".stripMargin
      }.mkString
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
        |$perN
        |ml AS (
        |  SELECT doc_id, CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) AS rep_line
        |  FROM (
        |    SELECT doc_id, list_transform(generate_series(1, (len(t0) + ${TextOps.LineTokens - 1}) // ${TextOps.LineTokens}),
        |      i -> array_to_string(t0[((i-1)*${TextOps.LineTokens}+1):least(i*${TextOps.LineTokens}, len(t0))], ' ')) AS ls
        |    FROM tk))
        |SELECT doc_id, m2.rep2, m3.rep3, m4.rep4, ml.rep_line
        |FROM m2 JOIN m3 USING (doc_id) JOIN m4 USING (doc_id) JOIN ml USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    },
    "q63_pii_scrub" -> {
      import graft.ops.Redact
      val raw = "text" +
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END" +
        " || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
      s"""WITH raw AS (SELECT doc_id, $raw AS raw FROM documents)
        |SELECT doc_id,
        |  ${Redact.countSql("raw", Redact.EmailRe)} AS n_emails,
        |  ${Redact.countSql("raw", Redact.Ipv4Re)} AS n_ips,
        |  ${Redact.countSql("raw", Redact.PhoneRe)} AS n_phones,
        |  ${Redact.redactSql("raw")} AS clean
        |FROM raw ORDER BY doc_id""".stripMargin
    },
    "q64_seq_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  -- window sum(BIGINT) promotes to HUGEINT; downstream integer
        |  -- math and the seq_id output must stay BIGINT
        |  SELECT source, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t),
        |sp AS (SELECT source, cum - n_tok AS strt, cum FROM c),
        |e AS (
        |  SELECT source, strt, cum, unnest(generate_series(strt // $SeqLen, (cum - 1) // $SeqLen)) AS seq_id
        |  FROM sp)
        |SELECT source, seq_id, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN strt < seq_id * $SeqLen THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
        |  CAST(sum(least(cum, (seq_id + 1) * $SeqLen) - greatest(strt, seq_id * $SeqLen)) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(least(cum, (seq_id + 1) * $SeqLen) - greatest(strt, seq_id * $SeqLen)) AS BIGINT) AS DOUBLE) / $SeqLen.0 AS fill
        |FROM e GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin,
    "q65_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS w
        |  FROM tk),
        |cb AS (SELECT prev, w, count(*) AS cb FROM bg GROUP BY prev, w),
        |cu AS (
        |  SELECT w AS prev, count(*) AS cu
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(CAST(sum(CAST(floor(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE) * 100000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100000000.0 / count(*) AS mean_p,
        |  min(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)) AS min_p
        |FROM bg JOIN cb USING (prev, w) JOIN cu USING (prev)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q155_surprisal_filter" ->
      s"""WITH tk155 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri155 AS (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1]) AS ctx,
        |    unnest(t[3:len(t)]) AS w
        |  FROM tk155),
        |cut155 AS (SELECT count(*) * 4 // 5 AS c FROM documents),
        |tr155 AS MATERIALIZED (
        |  SELECT tri155.* FROM tri155, cut155 WHERE doc_id < cut155.c),
        |v155 AS (SELECT count(DISTINCT w) AS v FROM tr155),
        |tn155 AS (SELECT ctx, w, count(*) AS cb FROM tr155 GROUP BY ctx, w),
        |tc155 AS (SELECT ctx, count(*) AS cu FROM tr155 GROUP BY ctx),
        |wv155 AS (SELECT tri155.* FROM tri155, cut155 WHERE doc_id >= cut155.c),
        |sc155 AS (
        |  SELECT wv.doc_id,
        |    CAST(length(format('{:b}',
        |      (COALESCE(tc.cu, 0) + (SELECT v FROM v155)) // (COALESCE(tn.cb, 0) + 1))) AS BIGINT) AS bits,
        |    CASE WHEN tn.cb IS NULL THEN 1 ELSE 0 END AS unseen
        |  FROM wv155 wv
        |  LEFT JOIN tn155 tn ON wv.ctx = tn.ctx AND wv.w = tn.w
        |  LEFT JOIN tc155 tc ON wv.ctx = tc.ctx)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(bits) AS BIGINT) AS total_bits,
        |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
        |  (1000 * CAST(sum(bits) AS BIGINT)) // count(*) AS mbits_per_tri,
        |  CAST(CASE WHEN (1000 * CAST(sum(bits) AS BIGINT)) // count(*) > $SurpriseMbits
        |    THEN 1 ELSE 0 END AS INT) AS flagged
        |FROM sc155 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q156_rolling_lm" -> {
      // the two serve points share one generator so the cuts live in one
      // place (invariant 7); the oracle trains each wave's LM from the
      // UNSPLIT slice — the Spark side folds generation partials, so the
      // hash match is the merge law at both depths. Count tables
      // MATERIALIZED (DuckDB re-inlines plain CTEs at every reference).
      def serve(i: Int, trainCut: String, wavePred: String): String =
        s"""tr156_$i AS MATERIALIZED (
          |  SELECT tri156.* FROM tri156, n156 WHERE doc_id < $trainCut),
          |v156_$i AS (SELECT count(DISTINCT w) AS v FROM tr156_$i),
          |tn156_$i AS MATERIALIZED (SELECT ctx, w, count(*) AS cb FROM tr156_$i GROUP BY ctx, w),
          |tc156_$i AS MATERIALIZED (SELECT ctx, count(*) AS cu FROM tr156_$i GROUP BY ctx),
          |wv156_$i AS (SELECT tri156.* FROM tri156, n156 WHERE $wavePred),
          |sc156_$i AS (
          |  SELECT wv.doc_id,
          |    CAST(length(format('{:b}',
          |      (COALESCE(tc.cu, 0) + (SELECT v FROM v156_$i)) // (COALESCE(tn.cb, 0) + 1))) AS BIGINT) AS bits,
          |    CASE WHEN tn.cb IS NULL THEN 1 ELSE 0 END AS unseen
          |  FROM wv156_$i wv
          |  LEFT JOIN tn156_$i tn ON wv.ctx = tn.ctx AND wv.w = tn.w
          |  LEFT JOIN tc156_$i tc ON wv.ctx = tc.ctx),
          |ag156_$i AS (
          |  SELECT CAST($i AS BIGINT) AS wave, doc_id, CAST(count(*) AS BIGINT) AS n_tri,
          |    CAST(sum(bits) AS BIGINT) AS total_bits,
          |    CAST(sum(unseen) AS BIGINT) AS n_unseen,
          |    (1000 * CAST(sum(bits) AS BIGINT)) // count(*) AS mbits_per_tri,
          |    CAST(CASE WHEN (1000 * CAST(sum(bits) AS BIGINT)) // count(*) > $SurpriseMbits
          |      THEN 1 ELSE 0 END AS INT) AS flagged
          |  FROM sc156_$i GROUP BY doc_id),
          |""".stripMargin
      s"""WITH tk156 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri156 AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1]) AS ctx,
        |    unnest(t[3:len(t)]) AS w
        |  FROM tk156),
        |n156 AS (SELECT count(*) AS n FROM documents),
        |""".stripMargin +
        serve(1, "(SELECT n * 4 // 5 FROM n156)",
          "doc_id >= (SELECT n * 4 // 5 FROM n156) AND doc_id < (SELECT n * 9 // 10 FROM n156)") +
        serve(2, "(SELECT n * 9 // 10 FROM n156)",
          "doc_id >= (SELECT n * 9 // 10 FROM n156)") +
        """fin156 AS (SELECT 1)
        |SELECT wave, doc_id, n_tri, total_bits, n_unseen, mbits_per_tri, flagged
        |FROM (SELECT * FROM ag156_1 UNION ALL SELECT * FROM ag156_2)
        |ORDER BY wave, doc_id""".stripMargin
    },
    // q167's oracle: RETRAIN from scratch over the surviving train docs —
    // v as count(DISTINCT w), no subtraction anywhere — so the hash match
    // proves fold ≡ retrain AND counted-support ≡ distinct-union.
    "q167_lm_retract" ->
      s"""WITH tk167 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri167 AS (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1]) AS ctx,
        |    unnest(t[3:len(t)]) AS w
        |  FROM tk167),
        |cut167 AS (SELECT count(*) * 4 // 5 AS c FROM documents),
        |tr167 AS MATERIALIZED (
        |  SELECT tri167.* FROM tri167, cut167 WHERE doc_id < cut167.c
        |    AND NOT (${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound})),
        |v167 AS (SELECT count(DISTINCT w) AS v FROM tr167),
        |tn167 AS (SELECT ctx, w, count(*) AS cb FROM tr167 GROUP BY ctx, w),
        |tc167 AS (SELECT ctx, count(*) AS cu FROM tr167 GROUP BY ctx),
        |wv167 AS (SELECT tri167.* FROM tri167, cut167 WHERE doc_id >= cut167.c),
        |sc167 AS (
        |  SELECT wv.doc_id,
        |    CAST(length(format('{:b}',
        |      (COALESCE(tc.cu, 0) + (SELECT v FROM v167)) // (COALESCE(tn.cb, 0) + 1))) AS BIGINT) AS bits,
        |    CASE WHEN tn.cb IS NULL THEN 1 ELSE 0 END AS unseen
        |  FROM wv167 wv
        |  LEFT JOIN tn167 tn ON wv.ctx = tn.ctx AND wv.w = tn.w
        |  LEFT JOIN tc167 tc ON wv.ctx = tc.ctx)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(bits) AS BIGINT) AS total_bits,
        |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
        |  (1000 * CAST(sum(bits) AS BIGINT)) // count(*) AS mbits_per_tri,
        |  CAST(CASE WHEN (1000 * CAST(sum(bits) AS BIGINT)) // count(*) > $SurpriseMbits
        |    THEN 1 ELSE 0 END AS INT) AS flagged,
        |  CAST((SELECT v FROM v167) AS BIGINT) AS v_live
        |FROM sc167 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q170's oracle: RETRAIN from scratch over the UPDATED train slice
    // (u170 applies the re-crawl only below the cut, so wave rows read
    // original text from the same relation) — no fold anywhere, so the
    // hash match proves subtract+add ≡ retrain in one wave.
    "q170_lm_update" ->
      s"""WITH cut170 AS (SELECT count(*) * 4 // 5 AS c FROM documents),
        |u170 AS (
        |  SELECT doc_id,
        |    CASE WHEN ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound}
        |        AND doc_id < (SELECT c FROM cut170)
        |      THEN substr(text, 1, length(text) // 2) ELSE text END AS text
        |  FROM documents),
        |tk170 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM u170
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri170 AS (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1]) AS ctx,
        |    unnest(t[3:len(t)]) AS w
        |  FROM tk170),
        |tr170 AS MATERIALIZED (
        |  SELECT tri170.* FROM tri170, cut170 WHERE doc_id < cut170.c),
        |v170 AS (SELECT count(DISTINCT w) AS v FROM tr170),
        |tn170 AS (SELECT ctx, w, count(*) AS cb FROM tr170 GROUP BY ctx, w),
        |tc170 AS (SELECT ctx, count(*) AS cu FROM tr170 GROUP BY ctx),
        |wv170 AS (SELECT tri170.* FROM tri170, cut170 WHERE doc_id >= cut170.c),
        |sc170 AS (
        |  SELECT wv.doc_id,
        |    CAST(length(format('{:b}',
        |      (COALESCE(tc.cu, 0) + (SELECT v FROM v170)) // (COALESCE(tn.cb, 0) + 1))) AS BIGINT) AS bits,
        |    CASE WHEN tn.cb IS NULL THEN 1 ELSE 0 END AS unseen
        |  FROM wv170 wv
        |  LEFT JOIN tn170 tn ON wv.ctx = tn.ctx AND wv.w = tn.w
        |  LEFT JOIN tc170 tc ON wv.ctx = tc.ctx)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(bits) AS BIGINT) AS total_bits,
        |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
        |  (1000 * CAST(sum(bits) AS BIGINT)) // count(*) AS mbits_per_tri,
        |  CAST(CASE WHEN (1000 * CAST(sum(bits) AS BIGINT)) // count(*) > $SurpriseMbits
        |    THEN 1 ELSE 0 END AS INT) AS flagged,
        |  CAST((SELECT v FROM v170) AS BIGINT) AS v_live
        |FROM sc170 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q158_dsir_select" ->
      s"""WITH ${dsirCtes()}
        |${dsirFinalSelect()}
        |ORDER BY a.doc_id""".stripMargin,
    "q163_dsir_update" -> q163OracleSql,
    "q168_dsir_delete" -> q168OracleSql,
    "q66_source_overlap" ->
      """WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t0 FROM documents),
        |g AS (
        |  SELECT source, list_transform(generate_series(1, greatest(len(t0) - 2, 0)),
        |    i -> t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2]) AS gs
        |  FROM tk WHERE len(t0) >= 3),
        |sg AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(gs,
        |    s -> list_reduce(list_transform(generate_series(1, length(s)), i -> CAST(ascii(s[i]) AS BIGINT)),
        |           (a, x) -> (a * 31 + x) % 1000000007)))) AS h
        |  FROM g),
        |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |  FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT src_a, src_b, za.n AS n_a, zb.n AS n_b, pr.n_common,
        |  CAST(pr.n_common AS DOUBLE) / CAST(za.n + zb.n - pr.n_common AS DOUBLE) AS jaccard
        |FROM pr JOIN sz za ON pr.src_a = za.source JOIN sz zb ON pr.src_b = zb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q67_bpe_train" -> {
      val finalUnion = (1 to BpeRounds)
        .map(r => s"SELECT $r AS round, a, b, a || b AS merged, weight FROM b$r")
        .mkString("\n|UNION ALL\n|")
      s"""$bpeOracleCtes
        |z AS (SELECT 1 AS zz)
        |$finalUnion
        |ORDER BY round""".stripMargin
    },
    "q162_bpe_refresh" -> q162OracleSql,
    "q68_bpe_encode" ->
      s"""$bpeOracleCtes
        |vs AS (
        |  SELECT w, CAST(len(string_split(substring(enc, 2, length(enc) - 2), '$BpeSep$BpeSep')) AS BIGINT) AS n_syms
        |  FROM e$BpeRounds),
        |tok AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT doc_id, n_chars, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_bpe,
        |  CAST(n_chars AS DOUBLE) / CAST(CAST(sum(n_syms) AS BIGINT) AS DOUBLE) AS chars_per_tok,
        |  CAST(CAST(sum(n_syms) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
        |FROM tok JOIN vs USING (w)
        |GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin,
    "q69_embedding_drift" ->
      """WITH x AS (
        |  SELECT CAST(dim AS INT) AS dim,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
        |    vec_id % 2 = 0 AS is_a
        |  FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS dim
        |        FROM embeddings)),
        |m AS (
        |  SELECT dim,
        |    count(CASE WHEN is_a THEN 1 END) AS n_a,
        |    count(CASE WHEN NOT is_a THEN 1 END) AS n_b,
        |    CAST(sum(CASE WHEN is_a THEN xq END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN NOT is_a THEN xq END) AS BIGINT) AS s_b
        |  FROM x GROUP BY dim),
        |mm AS (
        |  SELECT dim, n_a, n_b,
        |    CAST(s_a AS DOUBLE) / (1000000.0 * CAST(n_a AS DOUBLE)) AS mean_a,
        |    CAST(s_b AS DOUBLE) / (1000000.0 * CAST(n_b AS DOUBLE)) AS mean_b
        |  FROM m)
        |SELECT dim, n_a, n_b, mean_a, mean_b,
        |  mean_a - mean_b AS drift, abs(mean_a - mean_b) AS abs_drift
        |FROM mm ORDER BY dim""".stripMargin,
    "q70_exactk_sample" ->
      s"""WITH r AS (
        |  SELECT doc_id, source, lang, ${TextQueries.sampleHashSql} AS h,
        |    row_number() OVER (PARTITION BY source ORDER BY ${TextQueries.sampleHashSql}, doc_id) AS rk
        |  FROM documents)
        |SELECT source, CAST(rk AS INT) AS rk, doc_id, lang, h
        |FROM r WHERE rk <= $ExactK ORDER BY source, rk""".stripMargin,
    "q71_corpus_shuffle" -> (funnelFlagCtes +
      s"""sh71 AS (
        |  SELECT doc_id, source, lang,
        |    (doc_id * $ShuffleMul + $ShuffleSeed) % $ShuffleMod AS h
        |  FROM flags
        |  WHERE f_dedup = 1 AND f_quality = 1 AND f_decontam = 1 AND f_sample = 1)
        |SELECT h % $NumShards AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % $NumShards ORDER BY h, doc_id) AS BIGINT) AS pos,
        |  doc_id, source, lang, h
        |FROM sh71 ORDER BY shard, pos""".stripMargin),
    "q75_mixture_weights" -> (mixtureQuotaCtes(EpochBudget) +
      s"""
        |SELECT source, n AS n_tokens,
        |  CAST(r AS DOUBLE) / CAST(w_total AS DOUBLE) AS weight,
        |  CAST(quota0 + CASE WHEN rk <= d THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM k75 ORDER BY source""".stripMargin),
    "q78_epoch_draw" -> (mixtureQuotaCtes(DrawBudget) +
      s""",
        |qf78 AS (
        |  SELECT source,
        |    CAST(quota0 + CASE WHEN rk <= d THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM k75),
        |dd78 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |cum78 AS (
        |  SELECT doc_id, source, nt,
        |    CAST(sum(nt) OVER (PARTITION BY source
        |      ORDER BY ${TextQueries.sampleHashSql}, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ${TextQueries.sampleHashSql}, doc_id) AS BIGINT) AS pos
        |  FROM dd78)
        |SELECT c.source, c.pos, c.doc_id, c.nt, c.cum AS cum_tokens
        |FROM cum78 c JOIN qf78 q USING (source)
        |WHERE c.cum - c.nt < q.quota
        |ORDER BY c.source, c.pos""".stripMargin),
  )

  private def q83OracleSql: String =
    s"""WITH tk AS (SELECT source, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      TextQueries.gramHashCtes("83", 3, distinct = true, carry = "source") +
      s"""dh83 AS (SELECT DISTINCT source, unnest(hs) AS h FROM hs83),
      |sz83 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct FROM dh83 GROUP BY source),
      |rk83 AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM dh83),
      |k83 AS (SELECT source, h AS kth_hash FROM rk83 WHERE rk = $KmvK),
      |e83 AS (
      |  SELECT sz83.source, sz83.n_distinct,
      |    COALESCE(k83.kth_hash, -1) AS kth_hash,
      |    CASE WHEN k83.kth_hash IS NULL THEN CAST(sz83.n_distinct AS DOUBLE)
      |         ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST(1000000007 AS DOUBLE) * CAST(2147483648 AS DOUBLE) / CAST(k83.kth_hash AS DOUBLE)
      |    END AS est
      |  FROM sz83 LEFT JOIN k83 ON sz83.source = k83.source)
      |SELECT source, n_distinct, kth_hash, est,
      |  (est - CAST(n_distinct AS DOUBLE)) / CAST(n_distinct AS DOUBLE) * 100.0 AS err_pct
      |FROM e83 ORDER BY source""".stripMargin

  /** q119's oracle: the same integer HDR bin math over the FULL table —
    * no shard split anywhere — so the hash match proves the partial-
    * sketch merge law (the q111 discipline). Bit-length comes from
    * `length(format('{:b}', v))`, DuckDB's exact twin of Spark's
    * `length(bin(v))`; everything else is shifts and `//`.
    */
  private def q119OracleSql: String = {
    def binLo(b: String) =
      s"(CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))" +
        s" + (($b % $HdrSub) * (CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))) // $HdrSub"
    s"""WITH b119 AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      |  FROM orders),
      |bb119 AS (
      |  SELECT grp, vc,
      |    CAST(length(format('{:b}', vc)) AS BIGINT) AS bl,
      |    (CAST(1 AS BIGINT) << (CAST(length(format('{:b}', vc)) AS INT) - 1)) AS lo
      |  FROM b119 WHERE vc >= 1),
      |bin119 AS (
      |  SELECT grp, bl * $HdrSub + ((vc - lo) * $HdrSub) // lo AS bin
      |  FROM bb119),
      |m119 AS (SELECT grp, bin, CAST(count(*) AS BIGINT) AS c FROM bin119 GROUP BY grp, bin),
      |cum119 AS (
      |  SELECT grp, bin, c,
      |    sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
      |    sum(c) OVER (PARTITION BY grp) AS n
      |  FROM m119),
      |sel119 AS (
      |  SELECT grp, CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_bins,
      |    min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50,
      |    min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS b90,
      |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99
      |  FROM cum119 GROUP BY grp)
      |SELECT grp, n, n_bins,
      |  ${binLo("b50")} AS p50_lo, ${binLo("(b50 + 1)")} AS p50_hi,
      |  ${binLo("b90")} AS p90_lo, ${binLo("(b90 + 1)")} AS p90_hi,
      |  ${binLo("b99")} AS p99_lo, ${binLo("(b99 + 1)")} AS p99_hi
      |FROM sel119 ORDER BY grp""".stripMargin
  }

  /** q161's oracle: BOTH sketches rebuilt from scratch — the live one
    * from surviving rows (the readout), the held one from all rows (the
    * moved flags) — with no subtraction anywhere, so the hash match
    * proves bin-retraction ≡ recompute-on-live, including which bins
    * empty and which brackets move.
    */
  private def q161OracleSql: String = {
    def binLo(b: String) =
      s"(CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))" +
        s" + (($b % $HdrSub) * (CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))) // $HdrSub"
    def sel(src: String, ccol: String, out: String, suffix: String) =
      s"""cum$out AS (
        |  SELECT grp, bin, $ccol AS c,
        |    sum($ccol) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |    sum($ccol) OVER (PARTITION BY grp) AS n
        |  FROM $src WHERE $ccol > 0),
        |sel$out AS (
        |  SELECT grp, CAST(max(n) AS BIGINT) AS n$suffix,
        |    CAST(count(*) AS BIGINT) AS n_bins$suffix,
        |    min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50$suffix,
        |    min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS b90$suffix,
        |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99$suffix
        |  FROM cum$out GROUP BY grp),
        |""".stripMargin
    s"""WITH b161 AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS vc,
      |    ${TextQueries.priorityHashSqlOn("o_orderkey")} < ${TextQueries.DeleteBound} AS dead
      |  FROM orders),
      |bin161 AS (
      |  SELECT grp, dead,
      |    CAST(length(format('{:b}', vc)) AS BIGINT) * $HdrSub
      |      + ((vc - (CAST(1 AS BIGINT) << (CAST(length(format('{:b}', vc)) AS INT) - 1))) * $HdrSub)
      |        // (CAST(1 AS BIGINT) << (CAST(length(format('{:b}', vc)) AS INT) - 1)) AS bin
      |  FROM b161 WHERE vc >= 1),
      |hb161 AS (
      |  SELECT grp, bin, CAST(count(*) AS BIGINT) AS c,
      |    CAST(count(*) FILTER (dead) AS BIGINT) AS dc
      |  FROM bin161 GROUP BY grp, bin),
      |lb161 AS (SELECT grp, bin, c - dc AS lc FROM hb161),
      |ds161 AS (
      |  SELECT grp, CAST(sum(CASE WHEN c = dc THEN 1 ELSE 0 END) AS BIGINT) AS bins_dropped,
      |    CAST(sum(dc) AS BIGINT) AS n_del
      |  FROM hb161 GROUP BY grp),
      |""".stripMargin +
      sel("lb161", "lc", "l161", "") + sel("hb161", "c", "h161", "_h") +
      s"""fin161 AS (SELECT 1)
      |SELECT l.grp, l.n, l.n_bins, d.n_del, d.bins_dropped,
      |  ${binLo("b50")} AS p50_lo, ${binLo("(b50 + 1)")} AS p50_hi,
      |  ${binLo("b90")} AS p90_lo, ${binLo("(b90 + 1)")} AS p90_hi,
      |  ${binLo("b99")} AS p99_lo, ${binLo("(b99 + 1)")} AS p99_hi,
      |  CAST(CASE WHEN l.b50 <> h.b50_h THEN 1 ELSE 0 END AS INT) AS moved50,
      |  CAST(CASE WHEN l.b90 <> h.b90_h THEN 1 ELSE 0 END AS INT) AS moved90,
      |  CAST(CASE WHEN l.b99 <> h.b99_h THEN 1 ELSE 0 END AS INT) AS moved99
      |FROM sell161 l JOIN selh161 h USING (grp) JOIN ds161 d USING (grp)
      |ORDER BY l.grp""".stripMargin
  }

  /** q166's oracle: BOTH sketches rebuilt from scratch — the updated
    * one from per-row CASE values (new price when updated), the held
    * one from old values — with no subtraction or addition folds
    * anywhere, so the hash match proves bin-fold ≡ recompute, including
    * which bins are born, which empty, and which brackets move.
    */
  private def q166OracleSql: String = {
    def binLo(b: String) =
      s"(CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))" +
        s" + (($b % $HdrSub) * (CAST(1 AS BIGINT) << (CAST($b // $HdrSub AS INT) - 1))) // $HdrSub"
    def binSql(v: String) =
      s"CAST(length(format('{:b}', $v)) AS BIGINT) * $HdrSub" +
        s" + (($v - (CAST(1 AS BIGINT) << (CAST(length(format('{:b}', $v)) AS INT) - 1))) * $HdrSub)" +
        s" // (CAST(1 AS BIGINT) << (CAST(length(format('{:b}', $v)) AS INT) - 1))"
    def sel(src: String, out: String, suffix: String) =
      s"""cum$out AS (
        |  SELECT grp, bin, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM $src WHERE c > 0),
        |sel$out AS (
        |  SELECT grp, CAST(max(n) AS BIGINT) AS n$suffix,
        |    CAST(count(*) AS BIGINT) AS n_bins$suffix,
        |    min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50$suffix,
        |    min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS b90$suffix,
        |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99$suffix
        |  FROM cum$out GROUP BY grp),
        |""".stripMargin
    s"""WITH b166 AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS vc,
      |    ${TextQueries.priorityHashSqlOn("o_orderkey")} < ${TextQueries.DeleteBound} AS upd
      |  FROM orders),
      |v166 AS (
      |  SELECT grp, upd, vc,
      |    CASE WHEN upd THEN (vc * 11) // 10 ELSE vc END AS v2
      |  FROM b166 WHERE vc >= 1),
      |bino166 AS (SELECT grp, upd, ${binSql("vc")} AS bin FROM v166),
      |binn166 AS (SELECT grp, ${binSql("v2")} AS bin FROM v166),
      |ho166 AS (SELECT grp, bin, CAST(count(*) AS BIGINT) AS c FROM bino166 GROUP BY grp, bin),
      |hn166 AS (SELECT grp, bin, CAST(count(*) AS BIGINT) AS c FROM binn166 GROUP BY grp, bin),
      |ws166 AS (
      |  SELECT grp,
      |    CAST(sum(CASE WHEN o_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bins_born,
      |    CAST(sum(CASE WHEN n_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bins_dropped
      |  FROM (
      |    SELECT COALESCE(ho.grp, hn.grp) AS grp, ho.c AS o_c, hn.c AS n_c
      |    FROM ho166 ho FULL OUTER JOIN hn166 hn
      |      ON ho.grp = hn.grp AND ho.bin = hn.bin)
      |  GROUP BY grp),
      |nu166 AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS n_upd
      |  FROM v166 WHERE upd GROUP BY grp),
      |""".stripMargin +
      sel("hn166", "l166", "") + sel("ho166", "h166", "_h") +
      s"""fin166 AS (SELECT 1)
      |SELECT l.grp, l.n, l.n_bins, COALESCE(u.n_upd, 0) AS n_upd,
      |  w.bins_born, w.bins_dropped,
      |  ${binLo("b50")} AS p50_lo, ${binLo("(b50 + 1)")} AS p50_hi,
      |  ${binLo("b90")} AS p90_lo, ${binLo("(b90 + 1)")} AS p90_hi,
      |  ${binLo("b99")} AS p99_lo, ${binLo("(b99 + 1)")} AS p99_hi,
      |  CAST(CASE WHEN l.b50 <> h.b50_h THEN 1 ELSE 0 END AS INT) AS moved50,
      |  CAST(CASE WHEN l.b90 <> h.b90_h THEN 1 ELSE 0 END AS INT) AS moved90,
      |  CAST(CASE WHEN l.b99 <> h.b99_h THEN 1 ELSE 0 END AS INT) AS moved99
      |FROM sell166 l JOIN selh166 h USING (grp) JOIN ws166 w USING (grp)
      |LEFT JOIN nu166 u USING (grp)
      |ORDER BY l.grp""".stripMargin
  }

  /** q111's oracle: the FULL recompute — one pass over the whole
    * corpus, no generation split anywhere — so the hash match proves
    * the incremental merge laws (adds, min/max folds, KMV union).
    */
  private def q111OracleSql: String =
    s"""WITH dd111 AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |agg111 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS sum_tokens,
      |    min(n_chars) AS min_nc, max(n_chars) AS max_nc
      |  FROM dd111 GROUP BY source),
      |tk AS (SELECT source, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      TextQueries.gramHashCtes("111", 3, distinct = true, carry = "source") +
      s"""dh111 AS (SELECT DISTINCT source, unnest(hs) AS h FROM hs111),
      |rk111 AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM dh111),
      |k111 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS sk_n,
      |    max(CASE WHEN rk = $KmvK THEN h END) AS kth
      |  FROM rk111 WHERE rk <= $KmvK GROUP BY source)
      |SELECT a.source, a.n_docs, a.sum_tokens, a.min_nc, a.max_nc, k.sk_n,
      |  COALESCE(k.kth, -1) AS kth_hash,
      |  CASE WHEN k.kth IS NULL THEN CAST(k.sk_n AS DOUBLE)
      |       ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST(1000000007 AS DOUBLE) * CAST(2147483648 AS DOUBLE) / CAST(k.kth AS DOUBLE)
      |  END AS est_distinct
      |FROM agg111 a JOIN k111 k USING (source)
      |ORDER BY a.source""".stripMargin

  /** q153's oracle: one full-corpus pass over LIVE docs only — no
    * retraction, no held state, no rescan anywhere. The flags mirror
    * the gate condition itself (deleted-side extreme = held extreme),
    * computed directly from the corpus.
    */
  private def q153OracleSql: String =
    s"""WITH d153 AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |    ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound} AS dead
      |  FROM documents),
      |held153 AS (
      |  SELECT source, min(n_chars) AS mn_all, max(n_chars) AS mx_all
      |  FROM d153 GROUP BY source),
      |del153 AS (
      |  SELECT source, min(n_chars) AS dmn, max(n_chars) AS dmx
      |  FROM d153 WHERE dead GROUP BY source),
      |liv153 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS sum_tokens,
      |    min(n_chars) AS min_nc, max(n_chars) AS max_nc
      |  FROM d153 WHERE NOT dead GROUP BY source)
      |SELECT l.source, l.n_docs, l.sum_tokens, l.min_nc, l.max_nc,
      |  CAST(CASE WHEN del.dmn = h.mn_all THEN 1 ELSE 0 END AS INT) AS rescanned_min,
      |  CAST(CASE WHEN del.dmx = h.mx_all THEN 1 ELSE 0 END AS INT) AS rescanned_max
      |FROM liv153 l JOIN held153 h USING (source)
      |LEFT JOIN del153 del USING (source)
      |ORDER BY l.source""".stripMargin

  /** q159's oracle: one pass over the UPDATED corpus (per-row CASE on
    * the update flag), no maintenance anywhere; the rescan flags mirror
    * the maintenance decision recomputed independently from the raw
    * table (the q153 discipline).
    */
  private def q159OracleSql: String =
    s"""WITH d159 AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |    ${TextQueries.priorityHashSqlOn("doc_id")} < ${TextQueries.DeleteBound} AS upd,
      |    CAST(length(substr(text, 1, length(text) // 2)) AS BIGINT) AS u_nc,
      |    CAST(len(string_split(substr(text, 1, length(text) // 2), ' ')) AS BIGINT) AS u_nt
      |  FROM documents),
      |liv159 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN upd THEN u_nt ELSE nt END) AS BIGINT) AS sum_tokens,
      |    min(CASE WHEN upd THEN u_nc ELSE n_chars END) AS min_nc,
      |    max(CASE WHEN upd THEN u_nc ELSE n_chars END) AS max_nc,
      |    CAST(count(*) FILTER (upd) AS BIGINT) AS n_updated
      |  FROM d159 GROUP BY source),
      |held159 AS (
      |  SELECT source, min(n_chars) AS mn_all, max(n_chars) AS mx_all
      |  FROM d159 GROUP BY source),
      |wv159 AS (
      |  SELECT source, min(n_chars) AS omn, max(n_chars) AS omx
      |  FROM d159 WHERE upd GROUP BY source)
      |SELECT l.source, l.n_docs, l.sum_tokens, l.min_nc, l.max_nc, l.n_updated,
      |  CAST(CASE WHEN w.omn = h.mn_all THEN 1 ELSE 0 END AS INT) AS rescanned_min,
      |  CAST(CASE WHEN w.omx = h.mx_all THEN 1 ELSE 0 END AS INT) AS rescanned_max
      |FROM liv159 l JOIN held159 h USING (source) LEFT JOIN wv159 w USING (source)
      |ORDER BY l.source""".stripMargin

  private def q86OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      TextQueries.gramHashCtes("86", 2, distinct = false, carry = "doc_id, lang") +
      s"""bg86 AS (SELECT doc_id, lang, unnest(hs) AS b FROM hs86),
      |tot86 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nr,
      |    CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(count(DISTINCT b) AS BIGINT) AS v
      |  FROM bg86),
      |ct86 AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
      |    CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM bg86 GROUP BY b),
      |r86 AS (
      |  SELECT bg86.doc_id, bg86.lang,
      |    (CAST(ct86.ct + 1 AS DOUBLE) * CAST(tot86.nr + tot86.v AS DOUBLE))
      |      / (CAST(ct86.cr + 1 AS DOUBLE) * CAST(tot86.nt + tot86.v AS DOUBLE)) AS ratio
      |  FROM bg86 JOIN ct86 USING (b), tot86),
      |a86 AS (
      |  SELECT doc_id, lang, count(*) AS n_bigrams,
      |    CAST(CAST(sum(CAST(floor(ratio * 100000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100000000.0 / count(*) AS affinity
      |  FROM r86 GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_bigrams, affinity,
      |  CASE WHEN affinity >= 1.0 THEN 1 ELSE 0 END AS is_domain
      |FROM a86 ORDER BY doc_id""".stripMargin

  private def q84OracleSql: String = {
    val caseExpr = "CASE r " + CmsMods.zipWithIndex.dropRight(1)
      .map { case (m, i) => s"WHEN $i THEN (g % $m) % $CmsWidth" }.mkString(" ") +
      s" ELSE (g % ${CmsMods.last}) % $CmsWidth END"
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      TextQueries.gramHashCtes("84", 3, distinct = false) +
      s"""tok84 AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS exact
      |  FROM (SELECT unnest(hs) AS g FROM hs84)
      |  GROUP BY g),
      |rb84 AS (
      |  SELECT g, exact, r, $caseExpr AS bucket
      |  FROM tok84, (SELECT unnest([${CmsMods.indices.mkString(",")}]) AS r)),
      |sk84 AS (SELECT r, bucket, CAST(sum(exact) AS BIGINT) AS cnt FROM rb84 GROUP BY r, bucket),
      |es84 AS (
      |  SELECT rb84.g, rb84.exact, min(sk84.cnt) AS est
      |  FROM rb84 JOIN sk84 USING (r, bucket) GROUP BY rb84.g, rb84.exact),
      |rk84 AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY exact DESC, g) AS INT) AS rank
      |  FROM es84)
      |SELECT rank, g, exact, est, est - exact AS overcount
      |FROM rk84 WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** q88's oracle: same dual-residue gram keys, same 4 CRT-independent
    * bit positions, same 62-bit word packing — bit shifts and `bit_or`
    * are pure integer ops, so the bitset words and every probe verdict
    * match Spark exactly. The probe mirrors the 4 LEFT JOINs (one per
    * bit row) and the product-of-hits form verbatim.
    */
  private def q88OracleSql: String = {
    val posSql = CmsMods.map(m => s"(h % $m) % $BloomBits")
    val hits = CmsMods.indices.map { i =>
      s"COALESCE((j$i.bits >> CAST((${posSql(i).replace("h", "pb88.h")}) % $BloomWordBits AS INT)) & 1, 0)"
    }
    val joins = CmsMods.indices.map { i =>
      s"LEFT JOIN bw88 j$i ON j$i.w = (${posSql(i).replace("h", "pb88.h")}) // $BloomWordBits"
    }
    s"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t0 FROM documents),
      |""".stripMargin +
      TextQueries.gramHashCtes("88", 3, distinct = true, carry = "doc_id, source") +
      s"""dh88 AS (SELECT doc_id, source, unnest(hs) AS h FROM hs88),
      |ev88 AS (SELECT DISTINCT h FROM dh88 WHERE doc_id % 10 = 0),
      |pb88 AS (SELECT DISTINCT source, h FROM dh88 WHERE doc_id % 10 <> 0),
      |ps88 AS (SELECT unnest([${posSql.mkString(", ")}]) AS p FROM ev88),
      |bw88 AS (
      |  SELECT p // $BloomWordBits AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(p % $BloomWordBits AS INT)) AS bits
      |  FROM ps88 GROUP BY 1),
      |pr88 AS (
      |  SELECT pb88.source, pb88.h, ${hits.mkString(" * ")} AS bloom_hit
      |  FROM pb88
      |  ${joins.mkString("\n      |  ")}),
      |fx88 AS (
      |  SELECT pr88.source, pr88.h, pr88.bloom_hit,
      |    CASE WHEN ev88.h IS NULL THEN 0 ELSE 1 END AS in_eval
      |  FROM pr88 LEFT JOIN ev88 ON pr88.h = ev88.h)
      |SELECT source, count(*) AS n_grams,
      |  CAST(sum(bloom_hit) AS BIGINT) AS n_bloom,
      |  CAST(sum(in_eval) AS BIGINT) AS n_exact,
      |  CAST(sum(bloom_hit) - sum(in_eval) AS BIGINT) AS n_false_pos,
      |  CAST(sum(in_eval * (1 - bloom_hit)) AS BIGINT) AS n_missed
      |FROM fx88 GROUP BY source ORDER BY source""".stripMargin
  }

  /** q89's oracle: the LCG draw, u, and priority are each one integer/
    * IEEE op from identical operands; row_number mirrors the Spark
    * rank; τ comes from the same always-one-row aggregate so the
    * n ≤ k edge (no (k+1)-th row) degrades to est_w = w on both sides.
    */
  private def q89OracleSql: String =
    s"""WITH b89 AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    (CAST(${TextQueries.priorityHashSqlOn("doc_id")} AS DOUBLE) + CAST(1 AS DOUBLE))
      |      / CAST(2147483647 AS DOUBLE) AS u
      |  FROM documents),
      |p89 AS (SELECT doc_id, source, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / u AS priority FROM b89),
      |r89 AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk FROM p89),
      |t89 AS (SELECT max(CASE WHEN rk = ${PriorityK + 1} THEN priority END) AS tau
      |  FROM r89 WHERE rk <= ${PriorityK + 1})
      |SELECT CAST(rk AS INT) AS rank, doc_id, source, n_tokens, priority,
      |  greatest(CAST(n_tokens AS DOUBLE), COALESCE(t89.tau, CAST(0 AS DOUBLE))) AS est_w
      |FROM r89, t89 WHERE rk <= $PriorityK ORDER BY rank""".stripMargin

  /** DuckDB mirror of [[largestRemainderQuota]], generic over the
    * dimension: emits CTEs `r$sfx/t$sfx/j$sfx/d$sfx/k$sfx` reading
    * `($keyCol, n)` from `$inCte`; `k$sfx` carries
    * (keyCol, n, quota0, d, rk) — consumer quota =
    * `quota0 + CASE WHEN rk <= d THEN 1 ELSE 0 END`. No leading WITH,
    * no trailing comma (the session-2 CTE-prefix sharing discipline).
    */
  private[queries] def quotaCtes(inCte: String, keyCol: String, sfx: String,
      budget: Long): String =
    s"""r$sfx AS (
      |  SELECT $keyCol, n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 100000000.0) AS BIGINT) AS r
      |  FROM $inCte),
      |t$sfx AS (SELECT CAST(sum(r) AS BIGINT) AS w_total FROM r$sfx),
      |j$sfx AS (
      |  SELECT $keyCol, n, r, w_total,
      |    ($budget * r) // w_total AS quota0,
      |    ($budget * r) % w_total AS rem
      |  FROM r$sfx, t$sfx),
      |d$sfx AS (SELECT $budget - CAST(sum(quota0) AS BIGINT) AS d FROM j$sfx),
      |k$sfx AS (
      |  SELECT j$sfx.*, d$sfx.d,
      |    row_number() OVER (ORDER BY rem DESC, $keyCol) AS rk
      |  FROM j$sfx, d$sfx)""".stripMargin

  private def mixtureQuotaCtes(budget: Long): String =
    s"""WITH ps75 AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |""".stripMargin + quotaCtes("ps75", "source", "75", budget)

  /** DuckDB mirror of [[bpeTrainOn]]'s rounds: the same Scala loop that
    * drives the Spark rounds emits one (split → pair-count → argmax →
    * replace) CTE block per round, so round count and tie rules live in
    * exactly one place (invariant 7). Ends with `e{BpeRounds}` — the
    * final word→encoding table — and a trailing comma, so callers
    * append at least one CTE of their own before the main SELECT.
    */
  private def bpeOracleCtes: String = bpeOracleCtesOn()

  /** The unrolled BPE-trainer CTE tower, parameterized by the corpus
    * source relation and a CTE-name prefix (the q144 shared-WITH
    * discipline — default arguments emit byte-identical SQL for
    * q67/q68; q162 instantiates it twice in one statement).
    */
  private def bpeOracleCtesOn(src: String = "documents", q: String = ""): String = {
    val perRound = (1 to BpeRounds).map { r =>
      s"""${q}p$r AS (
        |  SELECT t_a AS a, t_b AS b, CAST(sum(cnt) AS BIGINT) AS weight
        |  FROM (
        |    SELECT cnt, unnest(t[1:len(t)-1]) AS t_a, unnest(t[2:len(t)]) AS t_b
        |    FROM (SELECT cnt, string_split(substring(enc, 2, length(enc) - 2), '$BpeSep$BpeSep') AS t
        |          FROM ${q}e${r - 1})
        |    WHERE len(t) >= 2)
        |  GROUP BY t_a, t_b),
        |${q}b$r AS (SELECT a, b, weight FROM ${q}p$r ORDER BY weight DESC, a, b LIMIT 1),
        |${q}e$r AS (
        |  SELECT w, cnt,
        |    CASE WHEN a IS NULL THEN enc
        |         ELSE replace(enc, '$BpeSep' || a || '$BpeSep$BpeSep' || b || '$BpeSep',
        |                      '$BpeSep' || a || b || '$BpeSep') END AS enc
        |  FROM ${q}e${r - 1} LEFT JOIN ${q}b$r ON TRUE),
        |""".stripMargin
    }.mkString
    s"""WITH ${q}v0 AS (
      |  SELECT w, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src)
      |  GROUP BY w),
      |${q}e0 AS (
      |  SELECT w, cnt, array_to_string(list_transform(generate_series(1, length(w)),
      |    i -> '$BpeSep' || w[i] || '$BpeSep'), '') AS enc
      |  FROM ${q}v0),
      |$perRound""".stripMargin
  }

  /** q162's oracle: the unrolled trainer tower TWICE in one statement —
    * once over the frozen generation, once over the full corpus — with
    * the per-round audit row read from the two argmax CTEs (an
    * exhausted round's empty argmax drops the row on both sides,
    * mirroring the Spark zip).
    */
  private def q162OracleSql: String = {
    val rows = (1 to BpeRounds).map { r =>
      s"""SELECT $r AS round, oa.a AS old_a, oa.b AS old_b, oa.weight AS old_weight,
        |  na.a AS new_a, na.b AS new_b, na.weight AS new_weight,
        |  CAST(CASE WHEN oa.a <> na.a OR oa.b <> na.b THEN 1 ELSE 0 END AS INT) AS pair_changed
        |FROM ob$r oa, nb$r na""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH docs162 AS (
      |  SELECT * FROM documents
      |  WHERE doc_id < (SELECT count(*) * 4 // 5 FROM documents)),
      |""".stripMargin +
      bpeOracleCtesOn("docs162", "o").stripPrefix("WITH ") +
      bpeOracleCtesOn("documents", "n").stripPrefix("WITH ") +
      s"""fin162 AS (SELECT 1)
      |$rows
      |ORDER BY round""".stripMargin
  }
}
