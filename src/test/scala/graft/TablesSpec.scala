package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingCorpus, StreamingGraph, StreamingIndex,
  StreamingLabels, StreamingLm}

/** Guards `Tables.events`' schema-adaptive canonicalization itself.
  *
  * The testdata's `events.ts` physical type has changed between
  * generations (TIMESTAMP(NANOS) → timestamp[us] as of round 7); three
  * spec models that read the file raw went red when it flipped. This
  * spec proves BOTH branches of Tables.events on synthetic frames —
  * a nanos-long `ts` and a timestamp-typed `ts` encoding the same
  * instants must canonicalize to identical `ts_us` values — so the
  * next flip is caught here, not in three unrelated suites.
  *
  * It also pins [[Tables.parquet]]'s footer schema to the schema Spark's
  * own inference gives (`StructType` equality, nullability included) on
  * every fixture table under both `nanosAsLong` settings and on every
  * generation layout the five streaming stores write.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private val instantsUs = Seq(0L, 1L, 1700000000123456L, 4102444800999999L)

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-tables-$tag")
    p.toFile.deleteOnExit()
    s"$p/fixture"
  }

  test("long branch: nanos-long ts divides to epoch micros") {
    import spark.implicits._
    val dir = freshDir("long")
    instantsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, us * 1000L + 777L, i.toLong) }
      .toDF("event_id", "ts", "user_id")
      .write.parquet(s"$dir/events.parquet")

    val out = Tables.events(spark, dir)
    assert(!out.columns.contains("ts") && out.columns.contains("ts_us"))
    assert(out.schema("ts_us").dataType == LongType)
    val got = out.orderBy("event_id").select("ts_us").as[Long].collect().toSeq
    assert(got == instantsUs, "nanos-long branch mis-truncates")
  }

  test("timestamp branch: NTZ ts converts to the same epoch micros") {
    import spark.implicits._
    val dir = freshDir("ntz")
    instantsUs.zipWithIndex.map { case (us, i) => (i.toLong, us, i.toLong) }
      .toDF("event_id", "us", "user_id")
      .select(col("event_id"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"),
        col("user_id"))
      .write.parquet(s"$dir/events.parquet")

    val out = Tables.events(spark, dir)
    assert(out.schema("ts_us").dataType == LongType)
    val got = out.orderBy("event_id").select("ts_us").as[Long].collect().toSeq
    assert(got == instantsUs, "timestamp branch diverges from the long branch")
  }

  test("real testdata reads through the adaptive branch at every SF") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val out = Tables.events(spark, s"/root/testdata/$sf")
      assert(out.schema("ts_us").dataType == LongType)
      val n = out.filter(col("ts_us") > 0L).limit(1).count()
      assert(n == 1L, s"$sf: ts_us not positive — canonicalization broken")
    }
  }

  private def assertSameSchema(what: String, footer: => org.apache.spark.sql.DataFrame,
      inferred: => org.apache.spark.sql.DataFrame): Unit = {
    val (f, i) = (footer.schema, inferred.schema)
    assert(f == i, s"$what: footer schema $f != inferred $i")
  }

  test("footer schema equals Spark's inferred schema on every fixture table") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    try for (nanosAsLong <- Seq("true", "false"); sf <- Seq("sf0.001", "sf0.01")) {
      spark.conf.set(key, nanosAsLong)
      val d = s"/root/testdata/$sf"
      val names = new File(d).list().toSeq.filter(_.endsWith(".parquet"))
      assert(names.size >= 10, s"fixture tables under $d: $names")
      for (n <- names)
        assertSameSchema(s"$sf/$n nanosAsLong=$nanosAsLong",
          Tables.table(spark, d, n.stripSuffix(".parquet")), spark.read.parquet(s"$d/$n"))
      // Tables.events branches on the footer schema just compared
      assert(Tables.events(spark, d).schema("ts_us").dataType == LongType,
        s"$sf events nanosAsLong=$nanosAsLong")
    } finally spark.conf.set(key, was)
  }

  test("footer schema equals Spark's inferred schema on every store generation layout") {
    import graft.queries.TextQueries.{dupPairs, updDocs, updNewPairs, updSlicePred}
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-tables-stores").toString
    val Seq(corpusDir, labelDir, indexDir, graphDir, lmDir) =
      Seq("corpus", "labels", "index", "graph", "lm").map(n => s"$root/$n")
    val docs0 = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    // wave 0: the full build of every store
    StreamingCorpus.updateBatch(corpusDir)(docs0, 0L)
    StreamingLabels.mergeBatch(labelDir)(dupPairs(spark, d), 0L)
    val cut = StreamingIndex.buildFrozen(spark, d, indexDir)
    StreamingIndex.appendBatch(indexDir)(emb.filter(col("vec_id") >= cut), 0L)
    val gCut = StreamingGraph.buildFrozen(spark, d, graphDir)
    StreamingGraph.appendBatch(d, graphDir)(emb.filter(col("vec_id") >= gCut), 0L)
    StreamingLm.updateBatch(lmDir)(docs0.select(col("doc_id"), col("text")), 0L)
    // wave 1: re-crawl a slice (tombs, revives, new pairs) and delete vectors
    val upd = updDocs(spark, d).filter(updSlicePred(col("doc_id")))
    StreamingCorpus.updateBatch(corpusDir)(docs0.select(col("doc_id"), col("source"),
      col("lang")).join(upd, Seq("doc_id")), 1L)
    StreamingLabels.updateBatch(labelDir)(upd.select(col("doc_id").as("id")),
      updNewPairs(spark, d), 1L)
    val dead = emb.select(col("vec_id")).filter(col("vec_id") % 7 === 0)
    StreamingIndex.deleteBatch(indexDir)(dead, 1L)
    StreamingGraph.deleteBatch(graphDir)(dead, 1L)
    StreamingLm.updateBatch(lmDir)(upd, 1L)

    def dirs(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
        .flatMap(c => c +: dirs(c))
    def visible(f: File) = !f.getName.startsWith("_") && !f.getName.startsWith(".")
    def hasData(f: File): Boolean = Option(f.listFiles()).toSeq.flatten
      .exists(c => visible(c) && (c.isFile || hasData(c)))
    def holdsFiles(f: File) = Option(f.listFiles()).toSeq.flatten
      .exists(c => c.isFile && visible(c))
    def check(): Map[String, Int] = {
      val all = dirs(new File(root))
      // every directory holding data files, read alone
      for (dir <- all if holdsFiles(dir))
        assertSameSchema(dir.toString, Tables.parquet(spark, dir.toString),
          spark.read.parquet(dir.toString))
      // every set of `k=v` generation directories, read with basePath
      val genSets = for {
        parent <- all
        gens = Option(parent.listFiles()).toSeq.flatten
          .filter(g => g.isDirectory && g.getName.contains("=") && hasData(g))
          .map(_.toString).sorted
        if gens.nonEmpty
      } yield {
        assertSameSchema(s"$parent (${gens.size} gens)",
          Tables.parquet(spark, gens, Some(parent.toString)),
          spark.read.option("basePath", parent.toString).parquet(gens: _*))
        parent.toString.stripPrefix(root + "/").takeWhile(_ != '/')
      }
      // the LM's per-wave tables across waves, read without basePath
      for (sub <- Seq("cb", "cu", "vocab")) {
        val gens = new File(s"$lmDir/waves").listFiles().toSeq
          .filter(g => g.getName.startsWith("gen=") && hasData(new File(g, sub)))
          .map(g => s"$g/$sub").sorted
        assert(gens.nonEmpty, s"no LM $sub generation written")
        assertSameSchema(s"lm $sub", Tables.parquet(spark, gens), spark.read.parquet(gens: _*))
      }
      genSets.groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val sets = check()
    for (store <- Seq("corpus", "labels", "index", "graph", "lm"))
      assert(sets.getOrElse(store, 0) > 0, s"$store wrote no generation set: $sets")
    // and once more over every store's compacted layout
    StreamingCorpus.compactCorpus(spark, corpusDir)
    StreamingLabels.compactPairLog(spark, labelDir)
    StreamingIndex.compact(spark, indexDir)
    StreamingGraph.compact(spark, d, graphDir)
    StreamingLm.compactLm(spark, lmDir)
    check()
    org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
  }
}
