package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries._

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points (the registered queries, the held-artifact memo
  * builders, the streaming stores) and times every call from outside.
  *
  *   list                    print the query names of each workload
  *   run <plan.json> <out>   execute a plan, write the raw result
  *
  * A plan holds only generated inputs (operation order, wave slices,
  * paths); the seed that produced it never reaches this side.
  */
object Main {

  /** The registered queries by the object that registers them; their
    * union is [[SparkEntry.queries]].
    */
  def registry: Map[String, Seq[String]] = Map(
    "Core" -> CoreQueries.queries.keys, "Protocol" -> ProtocolQueries.queries.keys,
    "State" -> StateQueries.queries.keys, "Analytics" -> AnalyticsQueries.queries.keys,
    "Misc" -> MiscQueries.queries.keys, "Text" -> TextQueries.queries.keys,
    "Pipeline" -> PipelineQueries.queries.keys).map { case (k, v) => k -> v.toSeq.sorted }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("list") =>
      println(Json.write(registry ++ Map("all" -> SparkEntry.queries.keys.toSeq.sorted)))
    case Seq("run", plan, out) =>
      val result = new Runner(Json.read(plan)).run()
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        Json.write(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ =>
      System.err.println("usage: Main list | Main run <plan.json> <out.json>")
      sys.exit(2)
  }
}

/** Order-independent digest of a materialized result: every column of
  * every row, canonically rendered, hashed, and summed, plus the row
  * count and the schema.
  */
object Digest {
  private def render(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def apply(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(render(r)))
    f"${rows.length}:${sum}%016x:${hash64(schema.simpleString)}%016x"
  }
}

/** Drops what a query, build or store call persisted so the next
  * operation starts from the same storage state (outside any timed
  * window). Memo results are checkpoint blocks and stay.
  */
object Release {
  def apply(spark: SparkSession): Unit = {
    releasePersisted()
    spark.catalog.clearCache()
  }
}

final class Runner(plan: com.fasterxml.jackson.databind.JsonNode) {
  private val workload = plan.get("workload").asText
  private val dataDir = plan.get("data_dir").asText
  private val workDir = plan.get("work_dir").asText
  private val cpus = plan.get("cpus").asInt
  private val seconds = plan.get("seconds").asDouble
  private val tracer = new Tracer(plan.get("trace").asBoolean)
  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  private def warmup(s: SparkSession): Unit = {
    s.range(1000000).selectExpr("sum(id)").collect()
    CoreQueries.q02EnrichJoin5(s, dataDir).count()
  }

  private def planNodes(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def count(p: SparkPlan): Int = 1 + (p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case _ => 0
    }) + p.children.map(count).sum + p.subqueries.map(count).sum
    count(df.queryExecution.executedPlan)
  }

  /** One query: the Q call, forced physical planning, the collecting
    * action, each its own phase; the digest is taken after the span.
    */
  private def runQuery(name: String): Span = {
    val fn = SparkEntry.queries(name)
    var out: (StructType, Array[Row]) = null
    var nodes = 0
    val sp = tracer.span(name, "query", "queries") { s =>
      val t0 = Clock.nowMs
      val df = fn(spark, dataDir)
      val t1 = Clock.nowMs
      df.queryExecution.executedPlan
      val t2 = Clock.nowMs
      s.phases += (("queries.build", t0, t1))
      s.phases += (("catalyst.plan", t1, t2))
      val rows = df.collect()
      val t3 = Clock.nowMs
      s.phases += (("execute", t2, t3))
      out = (df.schema, rows)
      if (tracer.enabled) nodes = planNodes(df)
    }
    if (out != null) {
      sp.extra("digest") = Digest(out._1, out._2)
      sp.extra("rows") = out._2.length
    }
    if (tracer.enabled) sp.extra("plan_nodes") = nodes
    Release(spark)
    sp
  }

  /** The held artifacts, in build order: (name, build, accessor). The
    * build calls are graft.Bench's `*_memo_build` lines; the accessor is
    * the same call without an action (a memo hit once built).
    */
  private def memos(s: SparkSession, d: String): Seq[(String, () => Unit, () => Unit)] = {
    import graft.ops.TowerMemo
    Seq(
      ("tower", () => TowerMemo.ivfadcShortlist(s, d).count(),
        () => TowerMemo.ivfadcShortlist(s, d)),
      ("tower_old", () => TowerMemo.oldIvfadcShortlist(s, d).count(),
        () => TowerMemo.oldIvfadcShortlist(s, d)),
      ("edge", () => TowerMemo.cellPairs(s, d).count(),
        () => TowerMemo.cellPairs(s, d)),
      ("cc", () => parDrive(
          () => { TextQueries.dupLabels(s, d).count(); () },
          () => { TextQueries.dupOldLabels(s, d).count(); () }),
        () => { TextQueries.dupLabels(s, d); TextQueries.dupOldLabels(s, d) }),
      ("cand", () => TextQueries.minhashCands(s, d).count(),
        () => TextQueries.minhashCands(s, d)),
      ("graph_old", () => TextQueries.oldDivEdges(s, d).count(),
        () => TextQueries.oldDivEdges(s, d)),
      ("graph", () => TextQueries.divEdges(s, d).count(),
        () => TextQueries.divEdges(s, d)),
      ("bm25", () => TextQueries.bm25Tfg(s, d).count(),
        () => TextQueries.bm25Tfg(s, d)),
      ("upd", () => TextQueries.updNewPairs(s, d).count(),
        () => TextQueries.updNewPairs(s, d)),
      ("bpe", () => PipelineQueries.bpeFull(s, d)._2.count(),
        () => PipelineQueries.bpeFull(s, d)),
      ("media", () => TextQueries.mediaSig(s, d).count(),
        () => TextQueries.mediaSig(s, d)),
      ("dsir", () => PipelineQueries.dsirBase(s, d).count(),
        () => PipelineQueries.dsirBase(s, d)),
      ("passage", () => TextQueries.dupSpans(s, d).count(),
        () => TextQueries.dupSpans(s, d)))
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  def run(): Map[String, Any] = {
    // setup_s is the median of these; the first includes the JVM start
    val nSetups = 3
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (0 until nSetups).map { i =>
      val t0 = if (i == 0) jvmStartMs else Clock.nowMs
      spark = session()
      if (i == nSetups - 1) {
        tracer.attach(spark.sparkContext)
        tracer.span("warmup", "setup", "setup", rethrow = true)(_ => warmup(spark))
      } else {
        warmup(spark)
        spark.stop()
      }
      (Clock.nowMs - t0) / 1000.0
    }

    // per-job overhead calibration, outside any timed window; 20 jobs,
    // not more, because every run of both listed workloads pays for it
    val calibJobs = 20
    val calib = tracer.span("job_overhead", "meta", "scheduler", rethrow = true) { _ =>
      var i = 0
      while (i < calibJobs) { spark.range(8).count(); i += 1 }
    }
    val jobOverheadUs = calib.wallMs * 1000.0 / calibJobs

    // untimed JIT warmup over queries outside the measured set, so the
    // seed's order decides less which measured queries run cold
    for (q <- Json.strings(plan.get("warmup_ops"))) {
      tracer.span(s"warmup.$q", "meta", "queries", rethrow = true)(_ =>
        SparkEntry.queries(q)(spark, dataDir).collect())
      Release(spark)
    }

    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstOp = tracer.spans.length
    val t0 = Clock.nowMs
    workload match {
      case "analytics" =>
        val ops = Json.strings(plan.get("ops"))
        do {
          val p0 = Clock.nowMs
          ops.foreach(runQuery)
          passes += (Clock.nowMs - p0) / 1000.0
        } while ((Clock.nowMs - t0) / 1000.0 < seconds)
      case "curation" =>
        val ops = Json.strings(plan.get("ops"))
        val p0 = Clock.nowMs
        val ms = memos(spark, dataDir)
        for ((name, build, _) <- ms)
          tracer.span(s"memo.$name", "build", "memo")(_ => build())
        val hits = ms.map { case (name, _, hit) =>
          tracer.span(s"memo.$name", "hit", "memo")(_ => hit()) }
        Release(spark)
        extra("held_bytes") = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum
        ops.foreach(runQuery)
        passes += (Clock.nowMs - p0) / 1000.0
        extra("hits_ok") = hits.forall(_.ok)
      case "waves" =>
        val p0 = Clock.nowMs
        var w: Waves = null
        tracer.span("waves.load", "meta", "store", rethrow = true)(_ =>
          w = new Waves(spark, tracer, plan, dataDir, workDir))
        w.pass()
        passes += (Clock.nowMs - p0) / 1000.0
        extra ++= w.finish()
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcMeasured = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.detach()
    val (perSpan, unattributed) = tracer.attribute()
    val spans = tracer.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "layer" -> s.layer,
        "wall_s" -> s.wallMs / 1000.0, "ok" -> s.ok, "error" -> s.error,
        "measured" -> (s.id >= firstOp),
        "phases_ms" -> s.phases.map(p => p._1 -> (p._3 - p._2)).toMap,
        "extra" -> s.extra, "trace" -> perSpan.getOrElse(s.id, Map.empty))
    }
    spark.stop()
    Map("workload" -> workload, "cpus" -> cpus, "setup_s" -> setups,
      "pass_s" -> passes,
      "job_overhead_us" -> jobOverheadUs,
      "jvm_gc_ms" -> gcMeasured, "heap_peak_mb" -> heapPeakMb,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "unattributed_jobs" -> unattributed, "listener_ms" -> tracer.handlerMs,
      "extra" -> extra, "spans" -> spans)
  }
}
