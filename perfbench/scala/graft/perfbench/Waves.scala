package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingCorpus, StreamingGraph, StreamingIndex,
  StreamingLabels, StreamingLm, StreamingPipeline}

/** The five `graft.streaming` stores driven through a maintenance
  * lifecycle: a frozen build, then waves that delete, update and append
  * slices given by the plan, each committed with
  * [[StreamingPipeline.commitWave]] and read back through
  * [[StreamingPipeline.at]], then compacted through the stores' own
  * compaction entry points.
  *
  * Batch ids: the build is batch 1; wave w deletes at 2w and
  * appends/updates at 2w+1, and the pipeline commits 2w+1 — one
  * monotone id sequence per store, as the label table requires.
  */
final class Waves(spark: SparkSession, tracer: Tracer,
    plan: com.fasterxml.jackson.databind.JsonNode, dataDir: String, workDir: String) {
  import spark.implicits._

  private val root = s"$workDir/stores"
  private val stores = StreamingPipeline.Stores(s"$root/corpus", s"$root/labels",
    s"$root/index", s"$root/graph", s"$root/lm")
  private val pipeDir = s"$root/pipe"
  private val storeDirs = Seq("corpus" -> stores.corpusDir, "labels" -> stores.labelDir,
    "index" -> stores.indexDir, "graph" -> stores.graphDir, "lm" -> stores.lmDir)
  // index and graph compact once their generations outnumber this,
  // which the frozen generation plus one wave's append do
  private val maxGens = 1
  // the frozen index and graph generations, copied as built (untimed)
  // for the history-free recompute the checks compare against
  private val fresh = s"$workDir/recompute"

  // the logical state the waves describe, kept on the JVM side so the
  // recompute laws can be checked against it
  private val base: Map[Long, (String, String, String)] =
    graft.Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("source"), col("lang"), col("text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
  private val vectors: Map[Long, Seq[Float]] =
    spark.read.parquet(s"$dataDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  private val liveDocs = mutable.LinkedHashMap.empty[Long, String]
  private val fedDocs = mutable.ArrayBuffer.empty[(Long, String)]
  private val liveVecs = mutable.Set.empty[Long]
  private val deadVecs = mutable.Set.empty[Long]
  private var frozenCut = -1L
  private var lastWave = -1L
  private var currentWave = 0

  private val written = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val compactions = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var inputBytes = 0L
  private var bytesBeforeCompaction = 0L

  private def docRows(ids: Seq[Long]): DataFrame =
    ids.map { id => val (src, lang, _) = base(id); (id, src, lang, liveDocs(id)) }
      .toDF("doc_id", "source", "lang", "text")
  private def textRows(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
  private def vecRows(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vectors(id))).toDF("vec_id", "embedding")
  private def idRows(ids: Seq[Long], name: String): DataFrame = ids.toDF(name)

  private def files(dir: String): Map[String, Long] = {
    val f = new java.io.File(dir)
    if (!f.exists) Map.empty
    else {
      val it = java.nio.file.Files.walk(f.toPath)
      try {
        val out = mutable.Map.empty[String, Long]
        it.forEach(p => if (java.nio.file.Files.isRegularFile(p))
          out(p.toString) = java.nio.file.Files.size(p))
        out.toMap
      } finally it.close()
    }
  }

  private def generations(dir: String): Int = {
    val f = new java.io.File(dir)
    if (!f.exists) 0
    else {
      val it = java.nio.file.Files.walk(f.toPath)
      try {
        var n = 0
        it.forEach(p => if (java.nio.file.Files.isDirectory(p)) {
          val name = p.getFileName.toString
          if (name.startsWith("gen=") || name.startsWith("batch_id=")) n += 1
        })
        n
      } finally it.close()
    }
  }

  /** One timed call into a store; the bytes it left on disk (new or
    * rewritten files) are counted outside the span.
    */
  private def storeOp(store: String, kind: String)(body: => Unit): Span = {
    val dir = storeDirs.toMap.getOrElse(store, pipeDir)
    val before = files(dir)
    val sp = tracer.span(s"$store.$kind", kind, "store")(_ => body)
    sp.extra("store") = store
    sp.extra("wave") = currentWave
    written(store) += files(dir).collect {
      case (p, n) if !before.get(p).contains(n) => n }.sum
    Release(spark)
    sp
  }

  /** The label store's input: the near-duplicate pairs among the live
    * documents that touch `ids`, materialized in a span of their own
    * outside the store call.
    */
  private def pairsTouching(ids: Set[Long]): DataFrame = {
    var pairs: DataFrame = null
    tracer.span("labels.pairs", "meta", "input", rethrow = true) { _ =>
      val live = textRows(liveDocs.toSeq)
      pairs = graft.queries.TextQueries.simhash64PairsOf(live).select(col("da"), col("db"))
        .filter(col("da").isin(ids.toSeq: _*) || col("db").isin(ids.toSeq: _*))
        .localCheckpoint(true)
    }
    pairs
  }

  private val probe = textRows(base.toSeq.filter(_._1 < 100)
    .map { case (id, t) => id -> t._3 }.sortBy(_._1))

  /** The consistent readout of every store at `wave`, one timed read
    * per store.
    */
  private def readout(wave: Long): Unit = {
    val v = StreamingPipeline.at(spark, pipeDir, stores, wave)
    val reads = Seq[(String, () => DataFrame)](
      "corpus" -> (() => v.corpus.select(col("doc_id"), col("text"))),
      "labels" -> (() => v.labels),
      "index" -> (() => v.search(dataDir)),
      "graph" -> (() => v.graphSearch(dataDir)),
      "lm" -> (() => v.lmScore(probe)))
    for ((store, df) <- reads) {
      var rows = 0
      val sp = tracer.span(s"$store.read", "read", "store") { _ => rows = df().collect().length }
      sp.extra("store") = store
      sp.extra("wave") = currentWave
      sp.extra("rows") = rows
      Release(spark)
    }
  }

  private def build(): Unit = {
    val docs = Json.longs(plan.get("initial_docs"))
    docs.foreach(id => liveDocs(id) = base(id)._3)
    fedDocs ++= docs.map(id => id -> base(id)._3)
    inputBytes += docs.map(id => 8L + base(id)._3.getBytes("UTF-8").length).sum
    storeOp("corpus", "build")(StreamingCorpus.updateBatch(stores.corpusDir)(docRows(docs), 1L))
    val pairs = pairsTouching(docs.toSet)
    storeOp("labels", "build")(StreamingLabels.mergeBatch(stores.labelDir)(pairs, 1L))
    storeOp("index", "build") {
      frozenCut = StreamingIndex.buildFrozen(spark, dataDir, stores.indexDir)
    }
    storeOp("graph", "build") {
      val cut = StreamingGraph.buildFrozen(spark, dataDir, stores.graphDir)
      require(cut == frozenCut, s"graph cut $cut != index cut $frozenCut")
    }
    copyDir(stores.indexDir, s"$fresh/index")
    copyDir(stores.graphDir, s"$fresh/graph")
    storeOp("lm", "build")(StreamingLm.updateBatch(stores.lmDir)(textRows(fedDocs.toSeq), 1L))
    liveVecs ++= 0L until frozenCut
    commit(1L)
  }

  private def commit(wave: Long): Unit = {
    storeOp("pipeline", "commit")(StreamingPipeline.commitWave(spark, pipeDir, wave))
    lastWave = wave
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally it.close()
  }

  private def wave(w: Int, spec: com.fasterxml.jackson.databind.JsonNode): Unit = {
    currentWave = w
    val del = 2L * w
    val upd = 2L * w + 1
    val delDocs = Json.longs(spec.get("delete_docs"))
    val updates = spec.get("update_docs").elements()
    val updDocs = mutable.ArrayBuffer.empty[Long]
    while (updates.hasNext) {
      val pair = updates.next()
      val (id, donor) = (pair.get(0).asLong, pair.get(1).asLong)
      require(liveDocs.contains(id), s"wave $w updates dead doc $id")
      liveDocs(id) = base(donor)._3
      updDocs += id
    }
    val addDocs = Json.longs(spec.get("append_docs"))
    addDocs.foreach { id =>
      require(!liveDocs.contains(id), s"wave $w appends live doc $id")
      liveDocs(id) = base(id)._3
    }
    delDocs.foreach { id =>
      require(liveDocs.remove(id).isDefined, s"wave $w deletes dead doc $id")
    }
    val changed = (updDocs ++ addDocs).toSeq
    fedDocs ++= changed.map(id => id -> liveDocs(id))
    val delVecs = Json.longs(spec.get("delete_vecs"))
    val addVecs = Json.longs(spec.get("append_vecs"))
    delVecs.foreach(id => require(liveVecs.remove(id), s"wave $w deletes dead vec $id"))
    deadVecs ++= delVecs
    addVecs.foreach { id =>
      require(id >= frozenCut && !liveVecs(id) && !deadVecs(id), s"wave $w appends vec $id")
      liveVecs += id
    }
    inputBytes += 8L * (delDocs.length + delVecs.length) +
      changed.map(id => 8L + liveDocs(id).getBytes("UTF-8").length).sum +
      addVecs.map(id => 8L + 4L * vectors(id).length).sum

    storeOp("corpus", "write")(
      StreamingCorpus.deleteBatch(stores.corpusDir)(idRows(delDocs, "doc_id"), del))
    storeOp("corpus", "write")(
      StreamingCorpus.updateBatch(stores.corpusDir)(docRows(changed), upd))
    val pairs = pairsTouching(changed.toSet)
    storeOp("labels", "write")(
      StreamingLabels.deleteBatch(stores.labelDir)(idRows(delDocs, "id"), del))
    storeOp("labels", "write")(
      StreamingLabels.updateBatch(stores.labelDir)(idRows(changed, "id"), pairs, upd))
    storeOp("index", "write")(
      StreamingIndex.deleteBatch(stores.indexDir)(idRows(delVecs, "vec_id"), del))
    storeOp("index", "write")(
      StreamingIndex.appendBatch(stores.indexDir)(vecRows(addVecs), upd))
    storeOp("graph", "write")(
      StreamingGraph.deleteBatch(stores.graphDir)(idRows(delVecs, "vec_id"), del))
    storeOp("graph", "write")(
      StreamingGraph.appendBatch(dataDir, stores.graphDir)(vecRows(addVecs), upd))
    storeOp("lm", "write")(StreamingLm.updateBatch(stores.lmDir)(
      textRows(changed.map(id => id -> liveDocs(id))), upd))
    commit(upd)
    readout(upd)
    bytesBeforeCompaction = diskBytes
    compactAll()
  }

  private def diskBytes: Long = storeDirs.map(d => files(d._2).values.sum).sum

  /** Every store's own compaction entry point: `maybeCompact` where the
    * store has one (index, graph), `compact*` otherwise.
    */
  private def compactAll(): Unit = {
    val steps = Seq[(String, () => Boolean)](
      "corpus" -> (() => { StreamingCorpus.compactCorpus(spark, stores.corpusDir); true }),
      "labels" -> (() => { StreamingLabels.compactPairLog(spark, stores.labelDir); true }),
      "index" -> (() => StreamingIndex.maybeCompact(spark, stores.indexDir, maxGens = maxGens)),
      "graph" -> (() => StreamingGraph.maybeCompact(spark, dataDir, stores.graphDir,
        maxGens = maxGens)),
      "lm" -> (() => { StreamingLm.compactLm(spark, stores.lmDir); true }))
    for ((store, step) <- steps) {
      var fired = false
      val sp = storeOp(store, "compact") { fired = step() }
      sp.extra("fired") = fired
      if (fired && sp.ok) compactions(store) += 1
    }
  }

  def pass(): Unit = {
    build()
    val waves = plan.get("waves").elements()
    var w = 1
    while (waves.hasNext) { wave(w, waves.next()); w += 1 }
  }

  private def digestRows(rows: Array[Row]): String =
    Digest(new org.apache.spark.sql.types.StructType(), rows)

  private def lmState(dir: String): String = {
    val (cb, cu, vocab) = StreamingLm.state(spark, dir)
    Seq(cb, cu, vocab).map(df => digestRows(df.collect())).mkString("/")
  }

  /** Untimed: per-store disk figures, the space amplification of the
    * last wave (bytes before its compaction round ÷ bytes after), and
    * the recompute laws at the last wave.
    */
  def finish(): Map[String, Any] = {
    val perStore = storeDirs.map { case (store, dir) =>
      val fs = files(dir)
      store -> mutable.LinkedHashMap[String, Any]("bytes" -> fs.values.sum,
        "files" -> fs.size, "generations" -> generations(dir),
        "compactions" -> compactions(store), "written_bytes" -> written(store))
    }.toMap
    val bytesCompacted = perStore.values.map(_("bytes").asInstanceOf[Long]).sum

    val v = StreamingPipeline.at(spark, pipeDir, stores, lastWave)
    val liveAppended = liveVecs.filter(_ >= frozenCut).toSeq.sorted
    val deadFrozen = deadVecs.filter(_ < frozenCut).toSeq.sorted
    // each law: (name, store readout digest, recompute digest)
    val laws = Seq[(String, () => String, () => String)](
      ("labels_eq_cc_of_live_pairs",
        () => digestRows(v.labels.select(col("id"), col("lbl")).collect()),
        () => digestRows(graft.ops.Dedup.fromPairs(v.livePairs.localCheckpoint(true))
          .select(col("id"), col("lbl")).collect())),
      ("corpus_eq_gated_live_docs",
        () => digestRows(v.corpus.select(col("doc_id"), col("text")).collect()),
        () => digestRows(textRows(liveDocs.toSeq)
          .filter(graft.queries.PipelineQueries.qualityGate(col("text"))).collect())),
      ("index_eq_batch_search",
        () => digestRows(v.search(dataDir).collect()),
        { () =>
          val dir = s"$fresh/index"
          StreamingIndex.appendBatch(dir)(vecRows(liveAppended), 1L)
          StreamingIndex.deleteBatch(dir)(idRows(deadFrozen, "vec_id"), 2L)
          digestRows(StreamingIndex.searchTopK(spark, dataDir, dir).collect())
        }),
      ("graph_eq_batch_search",
        () => digestRows(v.graphSearch(dataDir).collect()),
        { () =>
          val dir = s"$fresh/graph"
          StreamingGraph.appendBatch(dataDir, dir)(vecRows(liveAppended), 1L)
          StreamingGraph.deleteBatch(dir)(idRows(deadFrozen, "vec_id"), 2L)
          StreamingGraph.compact(spark, dataDir, dir)
          digestRows(StreamingGraph.search(spark, dataDir, dir).collect())
        }),
      ("lm_eq_counts_over_fed_docs", () => lmState(stores.lmDir), { () =>
        val dir = s"$fresh/lm"
        StreamingLm.updateBatch(dir)(textRows(fedDocs.toSeq), 1L)
        lmState(dir)
      }))
    // the sides are independent and untimed: compute all ten concurrently
    val results = new java.util.concurrent.ConcurrentHashMap[(String, Int), Either[String, String]]()
    tracer.span("checks", "check", "check", rethrow = true) { _ =>
      graft.queries.parDrive(laws.flatMap { case (name, got, want) =>
        Seq(0 -> got, 1 -> want).map { case (side, f) => () =>
          val r = try Right(f()) catch {
            case e: Exception => Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(300))
          }
          results.put((name, side), r)
          ()
        }
      }: _*)
    }
    Release(spark)
    val checks = laws.map { case (name, _, _) =>
      val err = (results.get((name, 0)), results.get((name, 1))) match {
        case (Right(g), Right(w)) => if (g == w) "" else s"$g != $w"
        case (Left(e), _) => e
        case (_, Left(e)) => e
        case _ => "did not run"
      }
      Map("name" -> name, "ok" -> err.isEmpty, "error" -> err)
    }
    Map("stores" -> perStore, "bytes_before_compaction" -> bytesBeforeCompaction,
      "bytes_compacted" -> bytesCompacted,
      "input_bytes" -> inputBytes, "written_bytes" -> written.values.sum,
      "checks" -> checks, "live_docs" -> liveDocs.size, "live_vecs" -> liveVecs.size)
  }
}
