package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, IntervalJoin, Normalize}
import graft.schemas.Schemas
import graft.sources.{LakeReader, LakeWriter}

/** The reference's six pipeline compositions (SURVEY.md §3), re-expressed
  * as lazy single-plan jobs: the reference re-scans its CSVs once per
  * action (count/show/write — §3.1 note); here each job builds ONE plan
  * and executes it with the write. Nothing else starts a Spark job: the
  * CSV header comes from one line read on the driver
  * ([[LakeReader.csvFolderRaw]]) and the lake row count returned from
  * the written files' parquet footers ([[LakeReader.parquetRows]]).
  *
  * Every job: guard (S3) → folder scan (S1) → snake_case rename (P1) →
  * casts (F1-F5, null-on-fail) → na.drop (P3) → [dedup (P4)] → parquet
  * append (S4) → archive processed files (S7).
  */
object Jobs {

  /** Outcome of a job run: TOTAL rows in the lake table after the append
    * (None = skipped, empty source).
    */
  type Result = Option[Long]

  /** Single-folder ELT — `pyspark_ercot_load_latest_BQ_archive_csv.py`
    * (and the historical/forecast variants via `dedup`/`casts`).
    *
    * @param dedupAgainstLake engine upgrade over the reference (SURVEY
    *   §7.4.7): anti-join the incoming batch against rows already in the
    *   lake, making append idempotent even when a file is re-delivered
    *   AFTER its original was archived (the reference's only guard is the
    *   archive protocol itself + batch-level dropDuplicates).
    */
  def singleFolderElt(
      spark: SparkSession,
      sourceDir: String,
      archiveDir: String,
      lakePath: String,
      casts: Map[String, DataType],
      dedup: Boolean = false,
      dedupAgainstLake: Boolean = false): Result = {
    if (!LakeReader.folderHasFiles(spark, sourceDir)) return None
    val raw = LakeReader.csvFolderRaw(spark, sourceDir)
    // snapshot BEFORE the job runs: files arriving during the append are
    // left in place for the next tick, never archived unread
    val consumed = raw.inputFiles.toSeq
    val cleaned = clean(raw, casts, dedup)
    val toAppend =
      if (dedupAgainstLake && lakeExists(spark, lakePath))
        cleaned.join(spark.read.parquet(lakePath),
          cleaned.columns.toSeq, "left_anti")
      else cleaned
    LakeWriter.append(toAppend, lakePath)
    LakeWriter.archiveFiles(spark, consumed, archiveDir)
    Some(LakeReader.parquetRows(spark, lakePath, toAppend.schema))
  }

  private def lakeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Fuel-mix ⋈asof load merge —
    * `pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py`. The
    * reference's driver-side `toPandas + merge_asof` round-trip (its
    * scalability cliff, §3.2) is replaced by the distributed
    * [[AsOfJoin.backward]]; same output contract (backward-nearest,
    * exact matches allowed, unmatched rows dropped by na.drop).
    */
  def fmLoadMerge(
      spark: SparkSession,
      fuelMixDir: String,
      loadDir: String,
      fmArchiveDir: String,
      loadArchiveDir: String,
      lakePath: String): Result = {
    if (!LakeReader.folderHasFiles(spark, fuelMixDir) ||
      !LakeReader.folderHasFiles(spark, loadDir)) return None

    val fmCasts = Schemas.castsOf(Schemas.fuelMix)
    val loadCasts = Schemas.castsOf(Schemas.load)

    val fmRaw = LakeReader.csvFolderRaw(spark, fuelMixDir)
    val loadRaw = LakeReader.csvFolderRaw(spark, loadDir)
    val (fmFiles, loadFiles) = (fmRaw.inputFiles.toSeq, loadRaw.inputFiles.toSeq)
    val fm = clean(fmRaw, fmCasts, dedup = false)
    val load = clean(loadRaw, loadCasts, dedup = false)

    val merged = AsOfJoin.auto(
      fm, load.withColumnRenamed("time", "load_time"),
      leftTime = "time", rightTime = "load_time",
      valueCols = Seq(("interval_start", "interval_start"),
        ("interval_end", "interval_end"), ("load", "load")),
      inner = true) // reference dropna composed in; auto() broadcasts the
      // compact load table (zero fact-side shuffles) or falls back to the
      // bucketed composition when it outgrows the threshold
    val result = Normalize.dedup(Normalize.dropNullRows(merged))
    LakeWriter.append(result, lakePath)
    LakeWriter.archiveFiles(spark, fmFiles, fmArchiveDir)
    LakeWriter.archiveFiles(spark, loadFiles, loadArchiveDir)
    Some(LakeReader.parquetRows(spark, lakePath, result.schema))
  }

  /** SPP ⋈interval weather merge — `test_pyspark_merge_spp_weather.py`:
    * offset-bearing timestamp parse (F2), equi+BETWEEN interval join (J1),
    * 12-column typed projection (P2), dedup, append, archive both.
    */
  def sppWeatherMerge(
      spark: SparkSession,
      sppDir: String,
      weatherDir: String,
      sppArchiveDir: String,
      weatherArchiveDir: String,
      lakePath: String): Result = {
    if (!LakeReader.folderHasFiles(spark, sppDir) ||
      !LakeReader.folderHasFiles(spark, weatherDir)) return None

    val fmt = "yyyy-MM-dd HH:mm:ssXXX"
    val sppRaw = LakeReader.csvFolderRaw(spark, sppDir)
    val weatherRaw = LakeReader.csvFolderRaw(spark, weatherDir)
    val (sppFiles, weatherFiles) =
      (sppRaw.inputFiles.toSeq, weatherRaw.inputFiles.toSeq)
    val spp = sppRaw
      .withColumn("Interval Start",
        Normalize.parseTimestamp(col("Interval Start"), fmt))
      .withColumn("Interval End",
        Normalize.parseTimestamp(col("Interval End"), fmt))
      .withColumn("Time", Normalize.parseTimestamp(col("Time"), fmt))
    val weather = weatherRaw
      .withColumn("Date", Normalize.parseTimestamp(col("Date"), fmt))

    // Location has only 4 distinct values, so a plain equi+BETWEEN join
    // degenerates to O(N²/4) residual scans inside each key bucket (the
    // reference never notices at its row counts; the sf-scaled bench
    // does). The grid-bucketed form joins on (15-min cell, Location):
    // linear, one hash shuffle, exact same closed-bound semantics.
    val joined = IntervalJoin.assertNoNestedLoop(
      IntervalJoin.pointInIntervalBucketed(
        weather, spp,
        pointCol = "Date", startCol = "Interval Start",
        endCol = "Interval End",
        widthMicros = 15L * 60 * 1000000,
        equi = Seq("Location")))

    // P2: 12-column typed projection (test_pyspark_merge_spp_weather.py:62-75)
    val projected = joined.select(
      col("Location"),
      col("Temperature").cast(FloatType).as("Temperature"),
      col("Temp_min").cast(FloatType).as("Temp_min"),
      col("Temp_max").cast(FloatType).as("Temp_max"),
      col("Pressure").cast(FloatType).as("Pressure"),
      col("Humidity").cast(FloatType).as("Humidity"),
      col("Wind Speed").cast(FloatType).as("Wind_Speed"),
      col("Date").as("Weather_Timestamp"),
      col("SPP").cast(FloatType).as("SPP"),
      col("Time").as("Price_Time"),
      col("Interval Start").as("Price_Interval_Start"),
      col("Interval End").as("Price_Interval_End"))

    val result = Normalize.dedup(projected)
    LakeWriter.append(result, lakePath)
    LakeWriter.archiveFiles(spark, sppFiles, sppArchiveDir)
    LakeWriter.archiveFiles(spark, weatherFiles, weatherArchiveDir)
    Some(LakeReader.parquetRows(spark, lakePath, result.schema))
  }

  /** Historical-weather union — `mergeHistoricalWeather.py`: explicit
    * multi-file union (SET1), timestamp cast, na.drop, per-zone count (A2),
    * CSV sink (S6) + overwrite lake sink (S5).
    */
  def historicalWeatherUnion(
      spark: SparkSession,
      sourceDir: String,
      lakePath: String,
      csvOutDir: Option[String] = None): Result = {
    if (!LakeReader.folderHasFiles(spark, sourceDir)) return None
    val raw = LakeReader.csvFolderRaw(spark, sourceDir) // folder scan = union
    val cleaned = Normalize.dropNullRows(
      Normalize.castColumns(Normalize.renameAll(raw),
        Schemas.castsOf(Schemas.historicalWeather)))
    // parquet first, CSV sink re-reads the written lake — the source CSVs
    // are scanned ONCE regardless of sink count (the reference re-scans
    // per action, §3.1)
    LakeWriter.overwrite(cleaned, lakePath)
    csvOutDir.foreach(LakeWriter.csvOverwrite(spark.read.parquet(lakePath), _))
    Some(LakeReader.parquetRows(spark, lakePath, cleaned.schema))
  }

  /** Shared cleaning tail: rename → cast (null-on-fail) → na.drop → dedup. */
  private def clean(raw: DataFrame, casts: Map[String, DataType],
      dedup: Boolean): DataFrame = {
    val cleaned = Normalize.dropNullRows(
      Normalize.castColumns(Normalize.renameAll(raw), casts))
    if (dedup) Normalize.dedup(cleaned) else cleaned
  }
}
