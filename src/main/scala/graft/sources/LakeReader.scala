package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader}
import org.apache.spark.sql.types.StructType

/** Source-side operators (SURVEY.md §2.1, S1-S3).
  *
  * The reference's raw zone is "a folder of CSVs = one table"
  * (`pyspark_ercot_load_latest_BQ_archive_csv.py:37`); Spark's multi-file
  * directory scan is the same operator, and at 100 TB it parallelizes by
  * file split (`spark.sql.files.maxPartitionBytes`), so no custom scan
  * machinery is needed. Parquet is the curated-layer format: columnar,
  * predicate-pushdown- and column-pruning-friendly.
  */
object LakeReader {

  /** S1 — CSV folder scan, header=true, all columns string (faithful form).
    * Ref `...load_latest...py:37`. One DataFrame over every file in `dir`.
    *
    * The header is resolved on the driver, without the one-row Spark job
    * of `header=true` inference: [[headerLine]] reads the line that
    * inference would take, Spark's CSV reader turns that one line (a
    * local Dataset, no job) into the schema with its own quoting and
    * duplicate/empty-name rules, and the folder is scanned under it. A
    * folder with no non-blank line is left to Spark's inference.
    */
  def csvFolderRaw(spark: SparkSession, dir: String): DataFrame =
    headerLine(spark, dir) match {
      case Some(line) =>
        val header = spark.read.option("header", "true")
          .csv(spark.createDataset(Seq(line))(Encoders.STRING)).schema
        spark.read.option("header", "true").schema(header).csv(dir)
      case None => spark.read.option("header", "true").csv(dir)
    }

  /** The line Spark's CSV header inference takes from `dir`: the first
    * line with a character other than a space, reading the file splits
    * in the order Spark's own text scan of the folder plans them (file
    * index order, largest split first), each through the reader that
    * scan uses (its line-ending and byte-order-mark rules). Only the
    * splits before the line are opened, usually one line of one file.
    *
    * It mirrors Spark 4.1's `TextInputCSVDataSource.inferFromDataset`:
    * `CSVUtils.filterCommentAndEmpty` (`length(trim(value)) > 0`; SQL
    * `trim` strips spaces only, and no comment option is set here) and
    * `take(1)` over the `TextFileFormat` scan of the folder. It leans on
    * `FileSourceScanExec.inputRDD`, `FilePartition` and
    * `HadoopFileLinesReader`; on a Spark upgrade re-check those and run
    * `CsvHeaderSpec`, which pins the result to Spark's own inference.
    */
  private def headerLine(spark: SparkSession, dir: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    spark.read.text(dir).queryExecution.sparkPlan
      .collectFirst { case s: FileSourceScanExec => s }.iterator
      .flatMap(_.inputRDD.partitions)
      .flatMap { case p: FilePartition => p.files }
      .map { f =>
        val lines = new HadoopFileLinesReader(f, conf)
        try lines.find(t => (0 until t.getLength).exists(t.getBytes()(_) != ' '))
          .map(_.toString)
        finally lines.close()
      }
      .collectFirst { case Some(line) => line }
  }

  /** S1 (engine upgrade) — schema'd CSV scan: no inference pass, columns
    * arrive typed; malformed fields null out (PERMISSIVE) which preserves
    * the reference's cast-then-drop cleaning semantic downstream.
    */
  def csvFolder(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(dir)

  /** Curated-zone scan. `table` is a parquet file/dir under `sfDir`.
    * THE single place the testdata `events.ts` encoding is normalized to
    * session-zoned TimestampType, whatever the writer emitted:
    *   - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong` it
    *     reads as a nanos-epoch long → timestamp_micros(ns div 1000).
    *   - TIMESTAMP_MICROS with isAdjustedToUTC=false: Spark reads
    *     TIMESTAMP_NTZ → cast to TimestampType (instant-preserving under
    *     the engine's fixed UTC session timezone, so it matches what
    *     DuckDB reads from the same file).
    *   - TIMESTAMP (LTZ): already the target type, passed through.
    * Both `SparkEntry.t` and `SqlLayer.register` route through this; job
    * pipelines (`Bench`) must too, so a testdata re-encode is absorbed in
    * one place.
    */
  def table(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    if (table == "events" && df.schema.fieldNames.contains("ts"))
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    else df
  }

  /** S2 — explicit multi-path scan + union (ref `mergeHistoricalWeather.py:34-44`
    * lists blobs and folds `union`). `unionByName` keeps it schema-safe;
    * a single multi-path read is planned as one scan (no union node at all),
    * which is what we use when schemas are identical.
    */
  def unionScan(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(paths: _*)

  def unionByName(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _)

  /** JSON-lines scan with an explicit schema: no inference pass (which
    * would cost a full extra read at 100 TB), malformed records null out
    * (PERMISSIVE) matching the CSV path's cast-then-drop contract.
    * JSON-lines splits by line like CSV, so file parallelism is
    * unchanged; it is the landing format for API/event feeds that ship
    * nested payloads the flat CSV path cannot carry.
    */
  def jsonFolder(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      // micros-precision parse, matching LakeWriter.jsonOverwrite
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(dir)

  /** ORC scan — the other columnar curated format (Hive-ecosystem
    * interop). Same pushdown story as parquet: predicate pushdown,
    * column pruning, and stripe-level statistics skipping all apply.
    */
  def orcFolder(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** Schema-evolution tolerant scan: a long-lived lake table accumulates
    * files written under different schema versions (a feed adds a
    * column). `mergeSchema` unions the per-file parquet footers — rows
    * from files missing a column read as null there — so old and new
    * files stay queryable as one table. Columns may only be ADDED (or
    * widened compatibly); incompatible type changes still fail, which is
    * the right guardrail. Use for tables with in-flight schema changes;
    * steady-state readers should pass an explicit schema (footer merging
    * costs one extra metadata pass over file footers at planning).
    */
  def evolvedTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** Rows of the parquet folder at `path`: the sum of the footer row
    * counts of the files Spark's file index lists there — what
    * `spark.read.parquet(path).count()` returns, read on the driver
    * instead of by a schema-inference job and a count job. The folder is
    * listed under `schema` (the rows' known schema) so no inference runs;
    * empty files hold no rows, as Spark's scan skips them.
    */
  def parquetRows(spark: SparkSession, path: String, schema: StructType): Long = {
    val conf = spark.sessionState.newHadoopConf()
    spark.read.schema(schema).parquet(path).inputFiles.iterator
      .map(f => fileRows(conf, new Path(new java.net.URI(f)))).sum
  }

  /** Rows of one parquet file, from its footer (0 for an empty file). */
  private[graft] def fileRows(conf: Configuration, file: Path): Long = {
    val in = HadoopInputFile.fromPath(file, conf)
    if (in.getLength == 0) 0L
    else {
      val r = ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
  }

  /** S3 — source-emptiness guard, ref `check_folder_has_files`
    * (`...load_latest...py:27-34`). The reference's version only guards the
    * read and still NameErrors downstream (SURVEY §2.1 bug note); ours is a
    * real early-exit predicate for job composition.
    */
  def folderHasFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_"))
  }
}
