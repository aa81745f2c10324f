package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read of the engine goes through [[Tables.parquet]], and
  * building such a read submits no Spark job.
  *
  * A schema-less `spark.read.parquet` runs Spark's schema-inference job
  * where the DataFrame is built, inside whatever query or store call asked
  * for it. The source scan below fails on any `DataFrameReader` chain
  * ending in `.parquet(` in `src/main/scala`; the job counts prove the
  * reader itself is job-free, against a raw read that is not.
  */
class ReadGuardSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  /** `src` with comments blanked (strings kept, so a `//` inside one is
    * not a comment); line breaks survive, so offsets map to lines.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(k: Int) = if (k < src.length) src.charAt(k) else '\u0000'
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at(i) == '"') {
        var j = i + 1
        while (j < src.length && at(j) != '"' && at(j) != '\n')
          j += (if (at(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else if (at(i) == '\'' && at(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else if (src.startsWith("//", i)) {
        while (i < src.length && at(i) != '\n') { out += ' '; i += 1 }
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        out ++= src.substring(i, stop).map(c => if (c == '\n') c else ' '); i = stop
      } else { out += at(i); i += 1 }
    }
    out.toString
  }

  // `read`, then any `.option(...)`/`.options(...)`/`.schema(...)`/
  // `.format(...)` links (arguments nested up to two levels), then
  // `.parquet(`, with whitespace and line breaks anywhere between links
  private val rawRead = {
    val args = """\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"""
    ("""\bread\s*(?:\.\s*(?:option|options|schema|format)\s*""" + args +
      """\s*)*\.\s*parquet\s*\(""").r
  }

  private def rawReads(src: String): Seq[Int] = {
    val code = stripComments(src)
    rawRead.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the raw-read matcher sees reads across lines and option chains, not writes or comments") {
    val src =
      """val a = s.read.parquet(p)
        |val b = s.read.option("basePath", root)
        |  .parquet(gens.map(g => s"$root/gen=$g"): _*)
        |val c = spark.read
        |  .option("x", f(1, g(2)))
        |  .option("y", "z").parquet(p)
        |df.write.mode("overwrite").parquet(p)
        |// s.read.parquet(p)
        |/* s.read.option("a", "b")
        |   .parquet(p) */
        |val d = "// not a comment"; val e = s.read.parquet(q)
        |""".stripMargin
    assert(rawReads(src) === Seq(1, 2, 4, 11))
  }

  test("no file under src/main/scala reads parquet except through Tables.parquet") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files under $root")
    val hits = for {
      f <- files
      line <- rawReads(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"${root.relativize(f)}:$line"
    assert(hits.isEmpty, "raw parquet reads (route them through Tables.parquet): " +
      hits.mkString(", "))
  }

  test("the streaming stores swap and digest only through GenStore") {
    // the checked-rename swap and the 2^60 row digest are GenStore's
    // protocol; a private copy in one store drifts from the others
    val root = Paths.get("src/main/scala/graft/streaming")
    val files = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "GenStore.scala"))
    val forked = for {
      f <- files if f.getFileName.toString != "GenStore.scala"
      code = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
      token <- Seq(".rename(", "1152921504606846976L") if code.contains(token)
    } yield s"${f.getFileName}: $token"
    assert(forked.isEmpty, "store protocol outside GenStore: " + forked.mkString(", "))
  }

  test("per-session state is held only through TowerMemo") {
    // one module decides what a session holds and when it is rebuilt;
    // a hand-rolled per-session map escapes any future invalidation
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "TowerMemo.scala"))
    val sessionMap = """WeakHashMap\s*\[\s*SparkSession\b""".r
    val forked = for {
      f <- files if f.getFileName.toString != "TowerMemo.scala"
      code = stripComments(new String(Files.readAllBytes(f), "UTF-8"))
      m <- sessionMap.findAllMatchIn(code)
    } yield s"${root.relativize(f)}:${code.substring(0, m.start).count(_ == '\n') + 1}"
    assert(forked.isEmpty, "per-session maps outside TowerMemo: " + forked.mkString(", "))
  }

  private def jobsWhile(body: => Unit): Int = TestJobs.submittedWhile(spark)(body)

  test("building every fixture table submits no Spark job") {
    val d = "/root/testdata/sf0.01"
    val names = new java.io.File(d).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.size >= 10, s"fixture tables under $d: $names")
    for (n <- names)
      assert(jobsWhile(Tables.table(spark, d, n)) === 0, s"Tables.table($n)")
    assert(jobsWhile(Tables.events(spark, d)) === 0, "Tables.events")
    // the counter sees the job a raw read submits
    assert(jobsWhile(spark.read.parquet(s"$d/nation.parquet")) >= 1)
  }

  test("a multi-generation store read with basePath submits no Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-read-guard").toString
    for (g <- 0 until 3)
      Seq((g.toLong, s"v$g")).toDF("id", "v").write.parquet(s"$root/gen=$g")
    val gens = (0 until 3).map(g => s"$root/gen=$g")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsWhile { df = Tables.parquet(spark, gens, Some(root)) } === 0)
    assert(df.columns.toSeq === Seq("id", "v", "gen"))
    assert(df.orderBy(col("id")).as[(Long, String, Int)].collect().toSeq ===
      Seq((0L, "v0", 0), (1L, "v1", 1), (2L, "v2", 2)))
    assert(jobsWhile(spark.read.option("basePath", root).parquet(gens: _*)) >= 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
