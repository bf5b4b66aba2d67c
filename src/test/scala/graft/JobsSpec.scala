package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types._

import graft.jobs.Jobs
import graft.sources.LakeReader

/** End-to-end pipeline tests on intentionally dirty fixture CSVs
  * (FIXTURES.md family A): spaced headers, string types, nulls, exact
  * dups, unparseable values, offset timestamps.
  */
class JobsSpec extends SparkTestBase {

  private def tmp(): Path = Files.createTempDirectory("graft_jobs")

  private def write(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  private val loadCasts: Map[String, DataType] = Map(
    "time" -> TimestampType, "interval_start" -> TimestampType,
    "interval_end" -> TimestampType, "load" -> DecimalType(10, 2))

  // a1 fixture: header with spaces; 1 null row, 1 dup, 1 unparseable ts,
  // 1 unparseable number, 3 good distinct rows
  private val loadCsv =
    """Time,Interval Start,Interval End,Load
      |2024-05-01 00:00:00,2024-05-01 00:00:00,2024-05-01 01:00:00,42000.55
      |2024-05-01 01:00:00,2024-05-01 01:00:00,2024-05-01 02:00:00,45123.10
      |2024-05-01 01:00:00,2024-05-01 01:00:00,2024-05-01 02:00:00,45123.10
      |2024-05-01 02:00:00,2024-05-01 02:00:00,2024-05-01 03:00:00,
      |not-a-date,2024-05-01 03:00:00,2024-05-01 04:00:00,47000.00
      |2024-05-01 04:00:00,2024-05-01 04:00:00,2024-05-01 05:00:00,garbage
      |2024-05-01 05:00:00,2024-05-01 05:00:00,2024-05-01 06:00:00,51000.10
      |""".stripMargin

  /** A job's result is what a Spark count of its lake gives, with the
    * writer's `_SUCCESS` and `.crc` side files in the folder.
    */
  private def assertLakeCount(n: Jobs.Result, lake: String): Unit = {
    val names = new java.io.File(lake).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(n === Some(spark.read.parquet(lake).count()))
  }

  test("singleFolderElt: dirty rows vanish, dedup, archive, schema typed") {
    val src = tmp(); val arch = tmp(); val lake = tmp().resolve("lake").toString
    write(src, "load_1.csv", loadCsv)
    val n = Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts, dedup = true)
    assert(n === Some(3)) // 7 data rows: -1 null, -1 ts fail, -1 num fail, -1 dup
    assertLakeCount(n, lake)
    val lakeDf = spark.read.parquet(lake)
    assert(lakeDf.schema("load").dataType === DecimalType(10, 2))
    assert(lakeDf.schema("interval_start").dataType === TimestampType)
    assert(lakeDf.columns.toSeq ===
      Seq("time", "interval_start", "interval_end", "load"))
    // source archived: folder empty, archive has the file
    assert(!LakeReader.folderHasFiles(spark, src.toString))
    assert(LakeReader.folderHasFiles(spark, arch.toString))
  }

  test("singleFolderElt: empty source skips (S3 guard), re-run is no-op") {
    val src = tmp(); val arch = tmp(); val lake = tmp().resolve("lake").toString
    assert(Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts) === None)
    // first real run, then re-run on now-empty folder: count unchanged
    write(src, "load_1.csv", loadCsv)
    val n1 = Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts, dedup = true)
    val n2 = Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts, dedup = true)
    assert(n1 === Some(3) && n2 === None)
    assert(spark.read.parquet(lake).count() === 3)
  }

  test("dedupAgainstLake makes re-delivered files idempotent (§7.4.7)") {
    val src = tmp(); val arch = tmp(); val lake = tmp().resolve("lake").toString
    write(src, "load_1.csv", loadCsv)
    val n1 = Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts, dedup = true, dedupAgainstLake = true)
    assert(n1 === Some(3))
    assertLakeCount(n1, lake)
    // the same file re-delivered after archive: without the guard this
    // would double the lake; with it, append is a no-op
    write(src, "load_1_redelivered.csv", loadCsv)
    val n2 = Jobs.singleFolderElt(spark, src.toString, arch.toString, lake,
      loadCasts, dedup = true, dedupAgainstLake = true)
    assert(n2 === Some(3))
    assertLakeCount(n2, lake)
  }

  test("fmLoadMerge: distributed as-of replaces driver merge_asof") {
    val fmDir = tmp(); val loadDir = tmp()
    val fmArch = tmp(); val loadArch = tmp()
    val lake = tmp().resolve("lake").toString
    write(fmDir, "fm_1.csv",
      """Time,Coal and Lignite,Hydro,Nuclear,Power Storage,Solar,Wind,Natural Gas,Other
        |2024-05-01 00:02:00,9000.1,200.2,5000.0,10.5,3000.0,12000.0,20000.0,100.0
        |2024-05-01 00:57:00,9100.1,210.2,5000.0,11.5,3100.0,12100.0,20100.0,101.0
        |2024-05-01 01:03:00,9200.1,220.2,5000.0,12.5,3200.0,12200.0,20200.0,102.0
        |2024-04-30 23:00:00,8000.0,190.0,5000.0,9.0,0.0,11000.0,19000.0,99.0
        |""".stripMargin)
    write(loadDir, "load_1.csv", loadCsv)
    val n = Jobs.fmLoadMerge(spark, fmDir.toString, loadDir.toString,
      fmArch.toString, loadArch.toString, lake)
    // 23:00 fm row has no load <= it => dropped (inner); other 3 match
    assert(n === Some(3))
    assertLakeCount(n, lake)
    val out = spark.read.parquet(lake)
    import spark.implicits._
    val loads = out.select($"time".cast("string"), $"load".cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(loads("2024-05-01 00:02:00") === "42000.55") // backward to 00:00
    assert(loads("2024-05-01 00:57:00") === "42000.55")
    assert(loads("2024-05-01 01:03:00") === "45123.10") // backward to 01:00
  }

  test("sppWeatherMerge: offset timestamps + inclusive interval join + P2") {
    val sppDir = tmp(); val wDir = tmp()
    val lake = tmp().resolve("lake").toString
    write(sppDir, "spp_1.csv",
      """Location,Location Type,Market,SPP,Time,Interval Start,Interval End
        |LZ_WEST,Load Zone,REAL_TIME_15_MIN,21.55,2024-05-01 00:30:00-05:00,2024-05-01 00:15:00-05:00,2024-05-01 00:30:00-05:00
        |LZ_SOUTH,Load Zone,REAL_TIME_15_MIN,25.00,2024-05-01 00:30:00-05:00,2024-05-01 00:15:00-05:00,2024-05-01 00:30:00-05:00
        |""".stripMargin)
    write(wDir, "weather_1.csv",
      """Location,Temperature,Temp_min,Temp_max,Pressure,Humidity,Wind Speed,Date
        |LZ_WEST,75.2,70.0,80.0,1013.0,55.0,12.5,2024-05-01 00:15:00-05:00
        |LZ_WEST,75.4,70.0,80.0,1013.0,54.0,12.0,2024-05-01 00:30:00-05:00
        |LZ_WEST,75.5,70.0,80.0,1013.0,53.0,11.0,2024-05-01 00:31:00-05:00
        |LZ_NORTH,60.0,55.0,65.0,1010.0,70.0,9.0,2024-05-01 00:20:00-05:00
        |""".stripMargin)
    val n = Jobs.sppWeatherMerge(spark, sppDir.toString, wDir.toString,
      tmp().toString, tmp().toString, lake)
    // LZ_WEST 00:15 and 00:30 inside closed interval; 00:31 outside;
    // LZ_NORTH has no prices; LZ_SOUTH price has no weather
    assert(n === Some(2))
    assertLakeCount(n, lake)
    val out = spark.read.parquet(lake)
    assert(out.schema("Temperature").dataType === FloatType)
    assert(out.schema("Weather_Timestamp").dataType === TimestampType)
    assert(out.columns.length === 12)
  }

  test("historicalWeatherUnion: multi-file union + overwrite semantics") {
    val src = tmp(); val lake = tmp().resolve("lake").toString
    val header = "zone,latitude,longitude,date,temperature_2m,relative_humidity_2m,dew_point_2m,precipitation,rain,snowfall,cloud_cover,cloud_cover_low,cloud_cover_mid,cloud_cover_high,wind_speed_10m,wind_speed_100m,wind_direction_10m,wind_direction_100m,wind_gusts_10m"
    def row(zone: String, t: Double) =
      s"$zone,31.0,-100.0,2024-05-01 00:00:00,$t,50,40,0,0,0,10,5,3,2,12,20,180,190,15"
    write(src, "w_west.csv", header + "\n" + row("LZ_WEST", 75.0) + "\n" + row("LZ_WEST", 76.0) + "\n")
    write(src, "w_south.csv", header + "\n" + row("LZ_SOUTH", 80.0) + "\n")
    val n = Jobs.historicalWeatherUnion(spark, src.toString, lake)
    assert(n === Some(3))
    assertLakeCount(n, lake)
    // overwrite (S5): re-running replaces, not appends
    write(src, "w_west2.csv", header + "\n" + row("LZ_WEST", 74.0) + "\n")
    val n2 = Jobs.historicalWeatherUnion(spark, src.toString, lake)
    assert(n2 === Some(4)) // 3 original files still there + 1 new, overwritten lake
    assertLakeCount(n2, lake)
    import spark.implicits._
    val counts = spark.read.parquet(lake).groupBy("zone").count()
      .as[(String, Long)].collect().toMap
    assert(counts === Map("LZ_WEST" -> 3L, "LZ_SOUTH" -> 1L))
  }
}
