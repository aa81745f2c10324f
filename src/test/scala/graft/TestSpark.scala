package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5.2). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Counts the Spark jobs a piece of driver code submits. */
object TestJobs {

  /** Spark jobs submitted from this thread while `body` runs: a
    * thread-local job property tags them, and draining the listener bus
    * before and after makes the count exact.
    */
  def submittedWhile(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = s"job-count-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.jobCount") == tag)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.jobCount", tag)
    try body
    finally {
      sc.setLocalProperty("graft.jobCount", null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

/** THE reference model of the JSONL manifest digest (first-15-hex
  * sha256 prefix per line, exact sum mod ManifestMod) — one
  * definition for every spec that certifies file contents
  * (CorpusPipelineSpec, CompactionSpec), mirroring the single Spark
  * expression in PipelineQueries.writeJsonlManifest.
  */
object TestDigest {
  def of(lines: Iterable[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.map { l =>
      val hex = md.digest(l.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15)
      BigInt(java.lang.Long.parseLong(hex, 16))
    }.foldLeft(BigInt(0))(_ + _)
      .mod(BigInt(graft.queries.PipelineQueries.ManifestMod)).toLong
  }
}
