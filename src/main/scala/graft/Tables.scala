package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loads the driver-generated parquet fixtures (see TESTDATA.md) and
  * registers them as temp views so both the DataFrame API and
  * `spark.sql` queries can address them by name.
  *
  * Mirrors the reference's registration step
  * (`integration-tests/src/utils.rs:24` — `ctx.register_table`), with
  * parquet standing in for the remote databases.
  *
  * Every read goes through [[parquet]]: the schema comes from one file
  * footer read on the driver, so opening a table launches no Spark job
  * (plain `spark.read.parquet` runs a one-task job per read only to
  * read that footer).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table. Filters/projections above this pushdown to
    * the parquet scan (verify with .explain: PushedFilters / ReadSchema).
    *
    * `events.ts` has shipped in two encodings across fixture
    * generations, both normalized here to a session-tz TimestampType so
    * every downstream query (`unix_micros`, watermarks, as-of joins)
    * sees one type:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read
    *     as raw Long (nanosAsLong) and rebuild microseconds with exact
    *     integer division (`div` — a double round-trip would lose
    *     precision at ~1.7e18 ns).
    *   - timestamp[us] with no timezone: Spark reads TIMESTAMP_NTZ,
    *     which `unix_micros` rejects at analysis. Cast to TimestampType;
    *     under the UTC session timezone all harnesses use, the epoch
    *     micros are bit-identical to the DuckDB oracle's epoch_us.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    } else df
  }

  /** Register every fixture as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** `spark.read.parquet(path)` with the schema given up front, taken
    * from [[footerSchema]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The schema Spark's non-merging parquet inference would infer for
    * `path` (one parquet file, or a directory of part files), computed
    * on the driver. Like that inference it skips `_` and `.` names,
    * sorts the data files by path and converts the first one's footer
    * with Spark's own converter, built from the session conf so
    * `nanosAsLong`, INT96 and NTZ handling apply. A layout that
    * inference would treat differently fails here instead: a summary
    * file (`_metadata`, `_common_metadata`), a partition subdirectory,
    * or no data file at all. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val file: FileStatus = if (!status.isDirectory) status else {
      val listed = fs.listStatus(root).toSeq
      def fail(what: String) = throw new IllegalArgumentException(
        s"cannot read the parquet schema of $path from a footer: $what")
      listed.map(_.getPath.getName)
        .find(n => n == "_metadata" || n == "_common_metadata")
        .foreach(n => fail(s"it holds the summary file $n"))
      val visible = listed.filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      visible.find(_.isDirectory)
        .foreach(d => fail(s"it holds the subdirectory ${d.getPath.getName}"))
      visible.sortBy(_.getPath.toString).headOption
        .getOrElse(fail("it holds no data file"))
    }
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Spread a SMALL scan across the cluster before a compute-dense
    * stage (guide §2.5): a fixture-sized table is one parquet split, so
    * a regex/decode-heavy projection or an aggregation's partial phase
    * (the exact-percentile value-counts map) serializes on a single
    * task while the rest of the machine idles. No-op when the scan
    * already carries >= defaultParallelism partitions (any real-scale
    * input) — nothing extra shuffles at 100 TB. Round-robin
    * repartition is deterministic (sort-before-repartition) and the
    * consumers are per-row + ordered or partition-invariant exact
    * aggregates, so results are unchanged.
    *
    * CONTRACT: pass SCAN-ONLY inputs. The probe reads
    * `df.rdd.getNumPartitions`, which for a plan holding exchanges
    * under AQE would EXECUTE the upstream stages (real jobs) just to
    * count partitions — free only because every caller hands it a bare
    * parquet scan, where the count comes straight off the file-split
    * layout. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
