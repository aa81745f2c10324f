package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sinks
import graft.streaming.RouteCommandSink
import graft.ops.Aggregators
import graft.ops.Aggregators.Stamped

/** OP-3 CSV export, OP-5 command sink and its throughput, OP-33
  * Aggregator, and the approx_count_distinct twin (SURVEY.md §2.11).
  */
class SinksAndStateSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("CSV routes export matches the reference's format (OP-3)") {
    val routes = Seq((2, 5), (1, 3), (4, 9)).toDF("output", "input")
    val groups = Seq(("TX", Seq(1, 2, 3))).toDF("name", "outputs")
    val names = Seq((3, "CAM 3")).toDF("input", "name")
    val dir = Files.createTempDirectory("csv").toString + "/routes"
    Sinks.exportRoutesCsv(routes, groups, names, dir)
    val csv = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".csv")).toSeq.head
    val lines = Files.readAllLines(csv).asScala.toSeq
    assert(lines === Seq(
      "Output,Input,Output Name,Input Name",
      "1,3,TX,CAM 3",
      "2,5,TX,Input 5",
      "4,9,,Input 9"))
  }

  test("first matching group wins in route enrichment (OP-29)") {
    val routes = Seq((1, 1)).toDF("output", "input")
    val groups = Seq(("A", Seq(1)), ("B", Seq(1))).toDF("name", "outputs")
    val names = spark.emptyDataset[(Int, String)].toDF("input", "name")
    val row = Sinks.enrichedRoutes(routes, groups, names).collect().head
    assert(row.getString(2) === "A")
  }

  test("route command sink: per-device serialization, reply semantics (OP-5)") {
    val routes = Seq(
      ("dev1", 2, 5), ("dev1", 64, 12), ("dev2", 99, 99), ("dev2", 1, 1))
      .toDF("device", "output", "input")
    val result = RouteCommandSink.applyRoutes(routes, device => {
      frame: String =>
        if (device == "dev2" && frame.contains("099")) Some("{BAs?,ok}") // ack
        else if (device == "dev2") Some("ERR")                           // nack
        else None                                                        // silence = success
    }).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(result === Seq(("dev1", 2L, 2L), ("dev2", 2L, 1L)))
  }

  test("last-wins Aggregator is order-insensitive (OP-33)") {
    val writes = Seq(
      Stamped(10, 1, 7), Stamped(30, 3, 9), Stamped(20, 2, 8),
      Stamped(30, 2, 5)) // same ts, lower seq — loses to seq 3
    assert(writes.permutations.take(10).forall { perm =>
      perm.foldLeft(Aggregators.LastWins.zero)(Aggregators.LastWins.merge(_, _))
        .value == 9
    })
    // end to end through a typed Dataset
    val got = writes.toDS().select(Aggregators.LastWins.toColumn).collect().head
    assert(got === 9)
  }

  test("route sink throughput beats the reference's 10 routes/s ceiling by orders of magnitude") {
    // BASELINE.md: the reference's 0.1 s global spacing caps it near
    // 10 routes/s; the sink keeps per-device serialization but runs
    // devices in parallel
    val n = 2000
    val routes = spark.range(n)
      .select(concat(lit("dev"), pmod(col("id"), lit(8))).as("device"),
        pmod(col("id"), lit(256)).cast("int").as("output"),
        pmod(col("id") * 7, lit(256)).cast("int").as("input"))
    val t0 = System.nanoTime()
    val res = RouteCommandSink.applyRoutes(routes, _ => _ => None).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(res.map(_.getLong(2)).sum === n) // all succeeded
    val throughput = n / secs
    info(f"sink throughput: $throughput%.0f routes/s across 8 devices (reference ceiling ~10/s)")
    assert(throughput > 100, s"$throughput routes/s")
  }

  test("approx_count_distinct stays within 5% of exact (EXT-4 approx twin)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (approx, exact) = docs
      .agg(approx_count_distinct(col("text")).as("a"), countDistinct(col("text")).as("e"))
      .as[(Long, Long)].collect().head
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }
}
