package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Table readers for the driver's star schema (TESTDATA.md / FIXTURES.md)
  * and the one parquet reader of the engine.
  *
  * Every parquet read in `src/main` goes through [[parquet]] (ReadGuardSpec
  * fails on a raw `spark.read...parquet(`). A schema-less
  * `spark.read.parquet` infers its schema with a Spark job (one task that
  * reads one footer, even with `mergeSchema` off) at the moment the
  * DataFrame is built, so every table read inside a query or a store call
  * cost one job: ~70 ms on a 4-core box against ~7 ms with the schema
  * given. [[parquet]] reads that same footer on the driver with Spark's
  * own code and hands the schema to the reader, so the scan, its pruning
  * and its pushdown are unchanged and the DataFrame is built without a
  * job.
  */
object Tables {
  /** `spark.read.parquet(paths: _*)` (with the `basePath` option when
    * given) whose schema comes from the footer Spark's inference would
    * touch with `mergeSchema` off: the first data file in path order, names
    * starting `_` or `.` skipped. Spark's `readSchemaFromFooter` turns it
    * into the same `StructType`, nullability included (TablesSpec). The
    * plain reader runs, with Spark's own inference and errors, when that
    * choice is not the footer path's to make: schema merging on, a
    * missing path (a glob is one), a summary file (`_metadata`, `_common_metadata`) or
    * file-sink log (`_spark_metadata`) in a listed directory, no data
    * file, or a footer that does not read.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val plain = basePath.fold(spark.read)(spark.read.option("basePath", _))
    footerSchema(spark, paths).fold(plain)(plain.schema).parquet(paths: _*)
  }

  def parquet(spark: SparkSession, path: String): DataFrame = parquet(spark, Seq(path))

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName) minus
    // its exception for summary files. Those, and a file sink's log, make
    // Spark choose its files another way, so they send the read to Spark.
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    def sparkChooses(name: String) = name == "_spark_metadata" ||
      name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE) ||
      name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    // Spark sorts the leaf files by full path string and takes the first;
    // every path under a directory starts with "name/", so visiting
    // siblings in that order and stopping at the first file finds it.
    def first(fs: FileSystem, st: FileStatus): Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else {
        val kids = fs.listStatus(st.getPath).toSeq
        require(!kids.exists(k => sparkChooses(k.getPath.getName)))
        kids.filterNot(k => hidden(k.getPath.getName))
          .sortBy(k => k.getPath.getName + (if (k.isDirectory) "/" else ""))
          .iterator.map(first(fs, _)).collectFirst { case Some(f) => f }
      }
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try {
      paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        first(fs, fs.getFileStatus(path))
      }.sortBy(_.getPath.toString).headOption.map { st =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    }.toOption.flatten
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  /** `events.ts`'s parquet physical type has changed between testdata
    * generations: TIMESTAMP(NANOS) (reads as long under
    * spark.sql.legacy.parquet.nanosAsLong=true) in early rounds,
    * `timestamp[us]` (reads as TIMESTAMP_NTZ) as of round 7. Branch on
    * the observed schema and canonicalize to `ts_us` (epoch micros,
    * bigint) so every query — and every spec model — sees one schema.
    * Never read events.ts raw. DuckDB's epoch_us() matches both ways.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    val tsCol = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _        => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsCol).drop("ts")
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Memoized per-(session, dir, table) row count for mode-gate checks
    * (q96 sample gate, q109 profile sketch gate): the gate decision must
    * not re-run a scan-and-count Spark job on every query construction —
    * inside Bench's timed window that charged a full table scan to
    * whatever query asked. Held in the session memo
    * ([[graft.ops.TowerMemo.held]]), so it is counted once per key even
    * when a held build asks for it mid-build. The count is one job: a
    * column-free scan counted as RDD rows (`Dataset.count` plans an
    * aggregate, two jobs under AQE).
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    graft.ops.TowerMemo.held(spark, s"$sfDir|rowCount:$name") {
      table(spark, sfDir, name).select().queryExecution.toRdd.count()
    }
}
