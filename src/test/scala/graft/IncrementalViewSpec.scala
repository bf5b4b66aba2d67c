package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IncrementalView
import graft.sources.VersionedTable

/** Incremental materialized-view maintenance over the CDF: the folded
  * state must equal a from-scratch recompute of the current snapshot
  * after every kind of source commit, groups must appear/disappear as
  * their membership moves, and a replayed refresh must be a no-op
  * (writer-txn exactly-once).
  */
class IncrementalViewSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("mv").toString

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("g", StringType),
    StructField("v", DoubleType)))

  private def mkSource(root: String): String = {
    val src = root + "/src"
    VersionedTable.create(spark, src, schema)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    src
  }

  /** From-scratch recompute with the same output contract as
    * [[IncrementalView.read]].
    */
  private def direct(src: String): Seq[(String, Long, Long, Option[Double],
      Option[Double])] =
    VersionedTable.read(spark, src)
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        count(col("v")).as("cnt_v"),
        sum(col("v").cast(DecimalType(38, 2))).cast(DoubleType).as("sum_v"),
        (sum(col("v").cast(DecimalType(38, 2))).cast(DoubleType) /
          count(col("v"))).as("avg_v"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq

  private def view(mv: String): Seq[(String, Long, Long, Option[Double],
      Option[Double])] =
    IncrementalView.read(spark, mv)
      .orderBy("g")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq

  test("refresh folds append, update, upsert, and delete commits into " +
      "the exact from-scratch state; emptied groups vanish; new appear") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark, Seq(
      (1L, "a", Option(1.5)), (2L, "a", Option(2.5)),
      (3L, "b", Option(10.0)), (4L, "b", Option.empty[Double]))
      .toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    assert(view(mv) === direct(src))

    // append introduces a brand-new group
    VersionedTable.append(spark,
      Seq((5L, "c", 7.0), (6L, "a", -1.0)).toDF("id", "g", "v"), src)
    // value-only update: rows/cnt deltas net zero, sum moves
    VersionedTable.update(spark, src, col("id") === 3L,
      Map("v" -> lit(4.25)))
    // upsert: one value change + one new row
    VersionedTable.upsert(spark,
      Seq((1L, "a", 0.0), (7L, "c", 3.0)).toDF("id", "g", "v"), src, "id")
    // delete empties no group yet
    VersionedTable.delete(spark, src, col("id") === 6L)
    assert(IncrementalView.refresh(spark, mv) > 0L)
    assert(view(mv) === direct(src))

    // delete the LAST rows of group b: its view row must disappear
    VersionedTable.delete(spark, src, col("g") === "b")
    IncrementalView.refresh(spark, mv)
    assert(view(mv) === direct(src))
    assert(!view(mv).exists(_._1 == "b"))

    // a group of only-null measures: cnt 0, sum/avg null, rows counted
    VersionedTable.append(spark,
      Seq((8L, "d", Option.empty[Double])).toDF("id", "g", "v"), src)
    IncrementalView.refresh(spark, mv)
    assert(view(mv) === direct(src))
    assert(view(mv).exists(r => r._1 == "d" && r._2 == 1L && r._3 == 0L &&
      r._4.isEmpty && r._5.isEmpty))
  }

  test("fresh view refresh is a no-op; replayed refresh cannot " +
      "double-apply (writer-txn watermarks)") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    assert(IncrementalView.refresh(spark, mv) === 0L)
    val v0 = VersionedTable.latest(spark, mv)._1

    val stampBefore = VersionedTable.tableProperties(spark, mv)(
      IncrementalView.SourceVersionProperty)
    VersionedTable.append(spark, Seq((3L, "a", 3.0)).toDF("id", "g", "v"),
      src)
    assert(IncrementalView.refresh(spark, mv) > 0L)
    val after = view(mv)
    // simulate a crashed-then-retried refresh: roll the stamp back and
    // run again — the writes are skipped at the stamped epoch, so the
    // state cannot double-apply
    VersionedTable.alterProperties(spark, mv, Map(
      IncrementalView.SourceVersionProperty -> stampBefore))
    IncrementalView.refresh(spark, mv)
    assert(view(mv) === after)
    assert(view(mv) === direct(src))
    assert(VersionedTable.latest(spark, mv)._1 > v0)
  }

  test("streaming maintainer: AvailableNow passes fold the feed to the " +
      "same state as a from-scratch recompute, across restarts and " +
      "row-level commits") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    val ckpt = root + "/ckpt"
    VersionedTable.append(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "b", 3.5))
        .toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))

    VersionedTable.append(spark,
      Seq((4L, "c", 4.0), (5L, "a", 0.5)).toDF("id", "g", "v"), src)
    VersionedTable.upsert(spark, Seq((2L, "b", -2.0)).toDF("id", "g", "v"),
      src, "id")
    val q1 = IncrementalView.startMaintain(spark, mv, ckpt)
    q1.awaitTermination(120000)
    assert(view(mv) === direct(src))

    // restart from the same checkpoint after more commits, including a
    // group-emptying delete
    VersionedTable.delete(spark, src, col("g") === "c")
    VersionedTable.append(spark, Seq((6L, "d", 6.0)).toDF("id", "g", "v"),
      src)
    val q2 = IncrementalView.startMaintain(spark, mv, ckpt)
    q2.awaitTermination(120000)
    assert(view(mv) === direct(src))
    assert(!view(mv).exists(_._1 == "c"))

    // the stamp advanced with the stream: a batch refresh now is a no-op
    assert(IncrementalView.refresh(spark, mv) === 0L)
  }

  test("SQL surface: CALL mv_create / mv_refresh maintain a catalog " +
      "view the catalog then lists and serves") {
    val wh = java.nio.file.Files.createTempDirectory("mv_wh").toString
    spark.conf.set("spark.sql.catalog.gmv",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.src (id BIGINT, g STRING, v DOUBLE) " +
      s"TBLPROPERTIES ('${VersionedTable.CdcProperty}'='true')")
    spark.sql("INSERT INTO gmv.ns.src VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    val created = spark.sql(
      "CALL gmv.mv_create('ns.src_by_g', 'ns.src', keys => 'g', " +
        "measures => 'v')").as[Long].head()
    assert(created >= 1L)
    spark.sql("INSERT INTO gmv.ns.src VALUES (3, 'a', 3.5)")
    spark.sql("DELETE FROM gmv.ns.src WHERE id = 2")
    val applied = spark.sql("CALL gmv.mv_refresh('ns.src_by_g')")
      .as[Long].head()
    assert(applied >= 1L)
    // the view is a real catalog table now
    assert(spark.sql("SHOW TABLES IN gmv.ns").collect()
      .map(_.getString(1)).contains("src_by_g"))
    assert(IncrementalView.read(spark, s"$wh/ns/src_by_g")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().toSet ===
      Set(("a", 2L, 2L, Some(4.5), Some(2.25))))
    // fresh view: zero versions applied
    assert(spark.sql("CALL gmv.mv_refresh('ns.src_by_g')")
      .as[Long].head() === 0L)
  }

  test("expression keys and measures: name=expr specs evaluate per " +
      "changed row at delta time") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark, Seq(
      (10L, "a", 1.0), (11L, "a", 2.0), (25L, "b", 4.0))
      .toDF("id", "g", "v"), src)
    // key: id decade; measure: doubled value — both expressions
    IncrementalView.create(spark, src, mv,
      Seq("decade=CAST(id / 10 AS BIGINT)"), Seq("v2=v * 2"))
    VersionedTable.append(spark, Seq((26L, "c", 8.0)).toDF("id", "g", "v"),
      src)
    VersionedTable.delete(spark, src, col("id") === 11L)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv).orderBy("decade")
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, Some(2.0), Some(2.0)),
      (2L, 2L, 2L, Some(24.0), Some(12.0))))
    // a ';' in a spec is refused loudly (property separator)
    val e = intercept[IllegalArgumentException] {
      IncrementalView.create(spark, src, root + "/mv_bad",
        Seq("k=substr(g, 1, 1); drop"), Seq("v"))
    }
    assert(e.getMessage.contains(";"))
    // an expression key alias shadowing a source column is refused —
    // measures would silently read the replaced value
    val e2 = intercept[IllegalArgumentException] {
      IncrementalView.create(spark, src, root + "/mv_bad2",
        Seq("g=upper(g)"), Seq("v"))
    }
    assert(e2.getMessage.contains("shadows"))
  }

  test("regression-as-a-view: maintained moment measures recover the " +
      "exact line after an append and a delete") {
    // y = 3x + 1 plus one off-line point that is then DELETED — the
    // moments must fold back to the exact line
    val root = tmp()
    val src = root + "/src"
    VersionedTable.create(spark, src, StructType(Seq(
      StructField("id", LongType),
      StructField("x", DoubleType),
      StructField("y", DoubleType))))
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    val mv = root + "/mv"
    val line = (1 to 6).map(i => (i.toLong, i.toDouble, 3.0 * i + 1))
    VersionedTable.append(spark,
      line.take(3).toDF("id", "x", "y"), src)
    IncrementalView.create(spark, src, mv, Seq("k=1"),
      Seq("x", "y", "xy=x * y", "xx=x * x"), scale = 6)
    VersionedTable.append(spark,
      (line.drop(3) :+ ((99L, 2.0, -50.0))).toDF("id", "x", "y"), src)
    VersionedTable.delete(spark, src, col("id") === 99L)
    IncrementalView.refresh(spark, mv)
    val r = IncrementalView.read(spark, mv)
      .select(col("cnt_x").cast("double").as("n"), col("sum_x"),
        col("sum_y"), col("sum_xy"), col("sum_xx"))
      .as[(Double, Double, Double, Double, Double)].head()
    val (n, sx, sy, sxy, sxx) = r
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(n === 6.0)
    assert(slope === 3.0)
    assert((sy - slope * sx) / n === 1.0)
  }

  test("min/max measures fold forward under appends and recompute " +
      "touched groups under deletes") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark, Seq(
      (1L, "a", Option(3.0)), (2L, "a", Option(1.5)),
      (3L, "b", Option.empty[Double])).toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"),
      minmax = Seq("v"))
    VersionedTable.append(spark, Seq(
      (4L, "a", Option(9.0)), (5L, "b", Option(-2.0)))
      .toDF("id", "g", "v"), src)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv).orderBy("g")
      .select("g", "min_v", "max_v")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(got === Seq(
      ("a", Some(1.5), Some(9.0)),
      ("b", Some(-2.0), Some(-2.0))))
    // a delete in the window switches the extremes to a touched-group
    // snapshot recompute: id 4 WAS group a's max, which no per-group
    // delta could repair. Group b is untouched and stays incremental.
    VersionedTable.delete(spark, src, col("id") === 4L)
    IncrementalView.refresh(spark, mv)
    assert(IncrementalView.read(spark, mv).orderBy("g")
      .select("g", "min_v", "max_v")
      .as[(String, Option[Double], Option[Double])].collect().toSeq === Seq(
      ("a", Some(1.5), Some(3.0)),
      ("b", Some(-2.0), Some(-2.0))))
  }

  test("property: random append/upsert/delete/update/compact sequences " +
      "with interleaved refreshes always equal the direct recompute") {
    val rnd = new scala.util.Random(23)
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    val groups = Array("a", "b", "c", "d")
    var nextId = 0L
    def batch(n: Int): org.apache.spark.sql.DataFrame =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, groups(rnd.nextInt(groups.length)),
          if (rnd.nextInt(8) == 0) Option.empty[Double]
          else Option((rnd.nextInt(2000) - 1000) / 4.0))
      }.toDF("id", "g", "v")
    VersionedTable.append(spark, batch(6), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    for (step <- 1 to 12) {
      rnd.nextInt(5) match {
        case 0 | 1 => VersionedTable.append(spark, batch(1 + rnd.nextInt(5)),
          src)
        case 2 => // upsert: mutate some existing ids + maybe a new one
          val ids = (1 to 1 + rnd.nextInt(3))
            .map(_ => 1L + rnd.nextInt(nextId.toInt)).distinct
          val rows = ids.map(i => (i, groups(rnd.nextInt(groups.length)),
            Option(rnd.nextInt(100) / 8.0)))
          VersionedTable.upsert(spark, rows.toDF("id", "g", "v"), src, "id")
        case 3 => // delete a random id slice
          val lo = 1L + rnd.nextInt(nextId.toInt)
          VersionedTable.delete(spark, src,
            col("id").between(lo, lo + rnd.nextInt(4)))
        case 4 => // compaction must be invisible to the feed
          VersionedTable.compact(spark, src, numFiles = 2)
      }
      if (rnd.nextInt(2) == 0 || step == 12) {
        IncrementalView.refresh(spark, mv)
        assert(view(mv) === direct(src), s"diverged at step $step")
      }
    }
  }

  test("property: min/max + quantile views equal the direct recompute " +
      "under random append/upsert/delete sequences (touched-group " +
      "recompute path)") {
    val rnd = new scala.util.Random(41)
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    val groups = Array("a", "b", "c")
    var nextId = 0L
    def batch(n: Int): org.apache.spark.sql.DataFrame =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, groups(rnd.nextInt(groups.length)),
          if (rnd.nextInt(8) == 0) Option.empty[Double]
          else Option((rnd.nextInt(2000) - 1000) / 4.0))
      }.toDF("id", "g", "v")
    VersionedTable.append(spark, batch(8), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"),
      minmax = Seq("v"), quantile = Seq("v"), quantileEps = 1e-7)
    def directState(): Seq[(String, Option[Double], Option[Double],
        Option[Double])] =
      VersionedTable.read(spark, src).groupBy("g")
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
          graft.functions.GraftFunctions.quantileEstimate(
            graft.functions.GraftFunctions.quantileSketch(col("v"), 1e-7),
            lit(0.5)).as("p50"))
        .orderBy("g")
        .as[(String, Option[Double], Option[Double], Option[Double])]
        .collect().toSeq
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 | 1 =>
          VersionedTable.append(spark, batch(1 + rnd.nextInt(4)), src)
        case 2 => // upsert: moves rows between groups / changes extremes
          val ids = (1 to 1 + rnd.nextInt(3))
            .map(_ => 1L + rnd.nextInt(nextId.toInt)).distinct
          VersionedTable.upsert(spark,
            ids.map(i => (i, groups(rnd.nextInt(groups.length)),
              Option(rnd.nextInt(100) / 8.0))).toDF("id", "g", "v"),
            src, "id")
        case 3 => // delete a random id slice (may remove an extreme)
          val lo = 1L + rnd.nextInt(nextId.toInt)
          VersionedTable.delete(spark, src,
            col("id").between(lo, lo + rnd.nextInt(4)))
      }
      if (rnd.nextInt(2) == 0 || step == 10) {
        IncrementalView.refresh(spark, mv)
        val got = IncrementalView.read(spark, mv).orderBy("g")
          .select("g", "min_v", "max_v", "p50_v")
          .as[(String, Option[Double], Option[Double], Option[Double])]
          .collect().toSeq
        assert(got === directState(), s"diverged at step $step")
      }
    }
  }

  test("approx-distinct measures: folded HLL state equals the sketch " +
      "computed directly (order-independent insertion)") {
    val root = tmp()
    val src = root + "/src"
    val s2 = StructType(Seq(
      StructField("id", LongType),
      StructField("g", StringType),
      StructField("u", LongType)))
    VersionedTable.create(spark, src, s2)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 7))
        .toDF("id", "g", "u"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("u"),
      approxDistinct = Seq("u"))
    VersionedTable.append(spark,
      (41L to 90L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 13))
        .toDF("id", "g", "u"), src)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv)
      .select("g", "approx_u").orderBy("g")
      .as[(String, Long)].collect().toSeq
    val want = VersionedTable.read(spark, src)
      .groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("u"))).as("approx_u"))
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(got === want)
    // at these cardinalities the sketch is exact — the check is not
    // comparing an approximation to itself by accident
    val exact = VersionedTable.read(spark, src)
      .groupBy("g").agg(countDistinct(col("u")).as("d"))
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(got === exact)
    // a delete removing EVERY b-row with u = 1 (ids 1,15,29,53,79)
    // must un-count that value — impossible by sketch folding, proven
    // here via the touched-group snapshot recompute
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    VersionedTable.delete(spark, src,
      col("id").isin(1L, 15L, 29L, 53L, 79L))
    IncrementalView.refresh(spark, mv)
    val got2 = IncrementalView.read(spark, mv)
      .select("g", "approx_u").orderBy("g")
      .as[(String, Long)].collect().toSeq
    val exact2 = VersionedTable.read(spark, src)
      .groupBy("g").agg(countDistinct(col("u")).as("d"))
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(got2 === exact2)
    assert(exact2.find(_._1 == "b").get._2 ===
      exact.find(_._1 == "b").get._2 - 1)
  }

  test("theta measures: folded sketch state equals COUNT(DISTINCT) in " +
      "the exact regime, and deletes recompute touched groups") {
    val root = tmp()
    val src = root + "/src"
    val s2 = StructType(Seq(
      StructField("id", LongType),
      StructField("g", StringType),
      StructField("u", LongType)))
    VersionedTable.create(spark, src, s2)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 7))
        .toDF("id", "g", "u"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("u"),
      thetaDistinct = Seq("u"), thetaK = 256)
    VersionedTable.append(spark,
      (41L to 90L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 13))
        .toDF("id", "g", "u"), src)
    IncrementalView.refresh(spark, mv)
    def got(): Seq[(String, Double)] = IncrementalView.read(spark, mv)
      .select("g", "theta_u").orderBy("g")
      .as[(String, Double)].collect().toSeq
    def exact(): Seq[(String, Double)] = VersionedTable.read(spark, src)
      .groupBy("g").agg(countDistinct(col("u")).cast("double").as("d"))
      .orderBy("g").as[(String, Double)].collect().toSeq
    val e1 = exact()
    assert(got() === e1)
    // a delete removing EVERY b-row with u = 1 must un-count that
    // value — impossible by sketch folding, proven via the
    // touched-group snapshot recompute
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    VersionedTable.delete(spark, src,
      col("id").isin(1L, 15L, 29L, 53L, 79L))
    IncrementalView.refresh(spark, mv)
    val e2 = exact()
    assert(got() === e2)
    assert(e2.find(_._1 == "b").get._2 === e1.find(_._1 == "b").get._2 - 1)
  }

  test("quantile measures: folded GK state answers like the sketch " +
      "computed directly, and deletes recompute touched groups") {
    val root = tmp()
    val src = root + "/src"
    val s2 = StructType(Seq(
      StructField("id", LongType),
      StructField("g", StringType),
      StructField("u", LongType)))
    VersionedTable.create(spark, src, s2)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 3))
        .toDF("id", "g", "u"), src)
    // eps 1e-7 is the lossless regime at this n: the sketch keeps
    // every sample, so p50 is the exact discrete median
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("u"),
      quantile = Seq("u"), quantileEps = 1e-7)
    VersionedTable.append(spark,
      (41L to 90L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 5))
        .toDF("id", "g", "u"), src)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv)
      .select("g", "p50_u").orderBy("g")
      .as[(String, Double)].collect().toSeq
    val want = VersionedTable.read(spark, src)
      .groupBy("g")
      .agg(graft.functions.GraftFunctions.quantileEstimate(
        graft.functions.GraftFunctions.quantileSketch(col("u"), 1e-7),
        lit(0.5)).as("p50_u"))
      .orderBy("g").as[(String, Double)].collect().toSeq
    assert(got === want)
    // a delete now recomputes the touched group's GK state from the
    // snapshot — the lossless-eps p50 tracks the surviving rows exactly
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    VersionedTable.delete(spark, src, col("id") === 1L)
    IncrementalView.refresh(spark, mv)
    val got2 = IncrementalView.read(spark, mv)
      .select("g", "p50_u").orderBy("g")
      .as[(String, Double)].collect().toSeq
    val want2 = VersionedTable.read(spark, src)
      .groupBy("g")
      .agg(graft.functions.GraftFunctions.quantileEstimate(
        graft.functions.GraftFunctions.quantileSketch(col("u"), 1e-7),
        lit(0.5)).as("p50_u"))
      .orderBy("g").as[(String, Double)].collect().toSeq
    assert(got2 === want2)
  }

  test("crash-retry with a net-negative window cannot delete a live " +
      "group (delete watermark advances even on empty batches)") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark, Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 4.0), (4L, "b", 8.0))
      .toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    val stampBefore = VersionedTable.tableProperties(spark, mv)(
      IncrementalView.SourceVersionProperty)
    // net-negative window that does NOT empty the group
    VersionedTable.delete(spark, src, col("id").isin(1L, 2L))
    IncrementalView.refresh(spark, mv)
    val after = view(mv)
    assert(after.exists(r => r._1 == "a" && r._2 == 1L))
    // crash-retry: recomputation against the already-applied state
    // would yield merged rows = 1 + (-2) <= 0 — group 'a' would look
    // dead. The first run's one commit advanced the view's watermark to
    // the epoch, so the retry folds nothing and deletes nothing.
    VersionedTable.alterProperties(spark, mv, Map(
      IncrementalView.SourceVersionProperty -> stampBefore))
    IncrementalView.refresh(spark, mv)
    assert(view(mv) === after)
    assert(view(mv) === direct(src))
  }

  /** (version, source stamp, `graft-mv` txn epoch) of each view
    * manifest, read raw.
    */
  private def stampsAndEpochs(mv: String)
      : Seq[(Long, Option[Long], Option[Long])] =
    VersionedTable.versions(spark, mv).map { v =>
      val lines = Files.readAllLines(
        java.nio.file.Paths.get(mv, "_commits", f"v$v%08d"))
      def valueOf(prefix: String): Option[Long] = {
        val it = lines.iterator()
        var out = Option.empty[Long]
        while (it.hasNext) {
          val l = it.next()
          if (l.startsWith(prefix)) out = Some(l.drop(prefix.length).trim.toLong)
        }
        out
      }
      (v, valueOf(s"#prop ${IncrementalView.SourceVersionProperty} "),
        valueOf("#txn graft-mv "))
    }

  test("one refresh is one view commit; every refreshed version's " +
      "source stamp equals its mv txn epoch") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    val created = VersionedTable.versions(spark, mv).size
    def refreshAddsOneVersion(): Unit = {
      val n0 = VersionedTable.versions(spark, mv).size
      assert(IncrementalView.refresh(spark, mv) > 0L)
      assert(VersionedTable.versions(spark, mv).size === n0 + 1)
      assert(view(mv) === direct(src))
    }
    // a new group, a replaced row and an emptied group in one window
    VersionedTable.append(spark, Seq((3L, "c", 3.0)).toDF("id", "g", "v"),
      src)
    VersionedTable.upsert(spark, Seq((1L, "a", 5.0)).toDF("id", "g", "v"),
      src, "id")
    VersionedTable.delete(spark, src, col("g") === "b")
    refreshAddsOneVersion()
    assert(!view(mv).exists(_._1 == "b"))
    // a window with no row change: the commit carries watermark + stamp
    VersionedTable.compact(spark, src, numFiles = 1)
    refreshAddsOneVersion()
    val refreshed = stampsAndEpochs(mv).drop(created)
    assert(refreshed.size === 2)
    refreshed.foreach { case (v, stamp, epoch) =>
      assert(epoch.isDefined && stamp === epoch, s"view v$v")
    }
    assert(refreshed.last._2 === Some(VersionedTable.latest(spark, src)._1))
    // dead groups vanish in the rewrite: no delete layer on the view
    assert(!VersionedTable.hasPendingEqualityDeletes(spark, mv))
  }

  test("a view left between the two-commit apply's upsert and delete " +
      "resumes without folding the window twice") {
    val root = tmp()
    val src = mkSource(root)
    val mv = root + "/mv"
    VersionedTable.append(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("g"), Seq("v"))
    VersionedTable.append(spark, Seq((3L, "a", 4.0)).toDF("id", "g", "v"),
      src)
    val cur = VersionedTable.latest(spark, src)._1
    // that apply's first commit: group a's folded state under the
    // legacy writer id; the crash lost the delete and the stamp
    val fresh = root + "/fresh"
    IncrementalView.create(spark, src, fresh, Seq("g"), Seq("v"))
    VersionedTable.upsert(spark,
      VersionedTable.read(spark, fresh).where(col("g") === "a"), mv,
      IncrementalView.KeyCol, txn = Some(("graft-mv-upsert", cur)))
    assert(IncrementalView.refresh(spark, mv) === 1L)
    assert(view(mv) === direct(src))
    assert(VersionedTable.tableProperties(spark, mv)(
      IncrementalView.SourceVersionProperty) === cur.toString)
  }

  test("synthetic key separator inside a key VALUE cannot collide " +
      "distinct key tuples") {
    val root = tmp()
    val src = root + "/src"
    val s2 = StructType(Seq(
      StructField("id", LongType),
      StructField("k1", StringType),
      StructField("k2", StringType),
      StructField("v", DoubleType)))
    VersionedTable.create(spark, src, s2)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    val mv = root + "/mv"
    // ("a\u0001vb", "c") and ("a", "b\u0001vc") would collide under a
    // naive join; the escape keeps them distinct groups
    VersionedTable.append(spark, Seq(
      (1L, "a\u0001vb", "c", 1.0),
      (2L, "a", "b\u0001vc", 2.0)).toDF("id", "k1", "k2", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("k1", "k2"), Seq("v"))
    VersionedTable.append(spark, Seq(
      (3L, "a\u0001vb", "c", 4.0)).toDF("id", "k1", "k2", "v"), src)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv)
      .select("k1", "k2", "n_rows", "sum_v")
      .as[(String, String, Long, Option[Double])].collect().toSet
    assert(got === Set(
      ("a\u0001vb", "c", 2L, Some(5.0)),
      ("a", "b\u0001vc", 1L, Some(2.0))))
  }

  test("multi-key grouping with null keys: null and 'null'-string " +
      "groups stay distinct") {
    val root = tmp()
    val src = root + "/src"
    val s2 = StructType(Seq(
      StructField("id", LongType),
      StructField("k1", StringType),
      StructField("k2", StringType),
      StructField("v", DoubleType)))
    VersionedTable.create(spark, src, s2)
    VersionedTable.alterProperties(spark, src,
      Map(VersionedTable.CdcProperty -> "true"))
    val mv = root + "/mv"
    VersionedTable.append(spark, Seq(
      (1L, Option("x"), Option("y"), Option(1.0)),
      (2L, Option.empty[String], Option("y"), Option(2.0)),
      (3L, Option("null"), Option("y"), Option(4.0)),
      (4L, Option("x"), Option.empty[String], Option(8.0)))
      .toDF("id", "k1", "k2", "v"), src)
    IncrementalView.create(spark, src, mv, Seq("k1", "k2"), Seq("v"))
    VersionedTable.append(spark, Seq(
      (5L, Option.empty[String], Option("y"), Option(16.0)))
      .toDF("id", "k1", "k2", "v"), src)
    IncrementalView.refresh(spark, mv)
    val got = IncrementalView.read(spark, mv)
      .as[(Option[String], Option[String], Long, Long, Option[Double],
        Option[Double])]
      .collect().toSet
    assert(got === Set(
      (Some("x"), Some("y"), 1L, 1L, Some(1.0), Some(1.0)),
      (None, Some("y"), 2L, 2L, Some(18.0), Some(9.0)),
      (Some("null"), Some("y"), 1L, 1L, Some(4.0), Some(4.0)),
      (Some("x"), None, 1L, 1L, Some(8.0), Some(8.0))))
  }

  // ---- join-enriched view (mv9) ----

  test("join view: deltas enrich against the dimension; dim-miss rows " +
      "carry nothing in AND out; fold equals direct join recompute " +
      "through append + upsert + delete") {
    val root = tmp()
    val src = mkSource(root)
    val dim = root + "/dim"
    VersionedTable.create(spark, dim, StructType(Seq(
      StructField("dk", StringType), StructField("dname", StringType))))
    VersionedTable.append(spark,
      Seq(("a", "Alpha"), ("b", "Beta")).toDF("dk", "dname"), dim)
    // g is the FK; id 4 points at a missing dim key 'z'
    VersionedTable.append(spark, Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0), (4L, "z", 99.0))
      .toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view,
      Seq("dname"), Seq("v"),
      dim = Some(dim), dimJoin = Seq(("g", "dk")))
    def state(): Map[String, (Long, Double)] =
      IncrementalView.read(spark, view)
        .select("dname", "n_rows", "sum_v")
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state() === Map("Alpha" -> ((2L, 30.0)), "Beta" -> ((1L, 5.0))))
    // append (one more dim-miss that must stay invisible), upsert, delete
    VersionedTable.append(spark, Seq((5L, "b", 7.0), (6L, "z", 1.0))
      .toDF("id", "g", "v"), src)
    VersionedTable.upsert(spark,
      Seq((2L, "a", 2.0)).toDF("id", "g", "v"), src, "id")
    VersionedTable.deleteByKeys(spark, src, Seq(3L).toDF("id"))
    assert(IncrementalView.refresh(spark, view) === 3L)
    assert(state() === Map("Alpha" -> ((2L, 12.0)), "Beta" -> ((1L, 7.0))))
    // the delete of a dim-miss row is also invisible (no phantom group)
    VersionedTable.deleteByKeys(spark, src, Seq(4L, 6L).toDF("id"))
    IncrementalView.refresh(spark, view)
    assert(state() === Map("Alpha" -> ((2L, 12.0)), "Beta" -> ((1L, 7.0))))
  }

  test("join view: the dim version is PINNED at create — a key that " +
      "lands in the dimension later never enriches, so a folded " +
      "dim-miss row's delete cannot corrupt state") {
    val root = tmp()
    val src = mkSource(root)
    val dim = root + "/dim"
    VersionedTable.create(spark, dim, StructType(Seq(
      StructField("dk", StringType), StructField("dname", StringType))))
    VersionedTable.append(spark,
      Seq(("a", "Alpha")).toDF("dk", "dname"), dim)
    VersionedTable.append(spark, Seq(
      (1L, "a", 10.0), (2L, "z", 99.0)) // 'z' missing from the dim
      .toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view,
      Seq("dname"), Seq("v"),
      dim = Some(dim), dimJoin = Seq(("g", "dk")))
    // the dim gains 'z' AFTER create (an append-only dim in the wild)
    VersionedTable.append(spark,
      Seq(("z", "Zeta")).toDF("dk", "dname"), dim)
    // deleting the folded dim-miss row must carry nothing out: were the
    // delete enriched against the CURRENT dim it would join to Zeta and
    // subtract state that was never added (n_rows = -1)
    VersionedTable.deleteByKeys(spark, src, Seq(2L).toDF("id"))
    // a new fact row for 'z' also stays invisible — pinned enrichment
    // is a pure function; a moved dimension means a rebuilt view
    VersionedTable.append(spark,
      Seq((3L, "z", 5.0)).toDF("id", "g", "v"), src)
    IncrementalView.refresh(spark, view)
    val got = IncrementalView.read(spark, view)
      .select("dname", "n_rows", "sum_v")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("Alpha", 1L, 10.0)))
  }

  test("join view: non-additive state recomputes touched groups " +
      "through the SAME enrichment under a delete") {
    val root = tmp()
    val src = mkSource(root)
    val dim = root + "/dim"
    VersionedTable.create(spark, dim, StructType(Seq(
      StructField("dk", StringType), StructField("dname", StringType))))
    VersionedTable.append(spark,
      Seq(("a", "Alpha")).toDF("dk", "dname"), dim)
    VersionedTable.append(spark, Seq(
      (1L, "a", 10.0), (2L, "a", 99.0), (3L, "a", 5.0))
      .toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view,
      Seq("dname"), Seq("v"), minmax = Seq("v"),
      dim = Some(dim), dimJoin = Seq(("g", "dk")))
    // deleting the max forces the touched-group snapshot recompute,
    // which must run through the dim join too (else dname can't group)
    VersionedTable.deleteByKeys(spark, src, Seq(2L).toDF("id"))
    IncrementalView.refresh(spark, view)
    val r = IncrementalView.read(spark, view)
      .select("dname", "n_rows", "min_v", "max_v")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(r === Seq(("Alpha", 2L, 5.0, 10.0)))
  }

  test("rebaseDim mid-history == from-scratch create at the new dim " +
      "version; post-rebase deltas join the new pin; same-version " +
      "rebase is a no-op") {
    def dimOf(root: String): String = {
      val dim = root + "/dim"
      VersionedTable.create(spark, dim, StructType(Seq(
        StructField("dk", StringType), StructField("dname", StringType))))
      VersionedTable.append(spark,
        Seq(("a", "Alpha"), ("b", "Beta")).toDF("dk", "dname"), dim)
      dim
    }
    def state(view: String): Seq[(String, Long, Double)] =
      IncrementalView.read(spark, view)
        .select("dname", "n_rows", "sum_v")
        .as[(String, Long, Double)].collect().toSeq.sorted

    // --- the lived history: create at dim v1, fold, dim moves, rebase
    val root = tmp()
    val src = mkSource(root)
    val dim = dimOf(root)
    VersionedTable.append(spark, Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
      .toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view, Seq("dname"), Seq("v"),
      dim = Some(dim), dimJoin = Seq(("g", "dk")))
    VersionedTable.append(spark,
      Seq((4L, "b", 7.0)).toDF("id", "g", "v"), src)
    IncrementalView.refresh(spark, view) // folded at v1 names
    // dim evolves: 'a' renames, and a NEW member 'z' appears
    VersionedTable.upsert(spark,
      Seq(("a", "Alpha2"), ("z", "Zeta")).toDF("dk", "dname"), dim, "dk")
    val newVer = IncrementalView.rebaseDim(spark, view)
    assert(IncrementalView.rebaseDim(spark, view) === newVer) // no-op
    // post-rebase deltas: a row for the NEW dim member must now enrich
    VersionedTable.append(spark,
      Seq((5L, "z", 3.0)).toDF("id", "g", "v"), src)
    VersionedTable.deleteByKeys(spark, src, Seq(2L).toDF("id"))
    IncrementalView.refresh(spark, view)
    val lived = state(view)

    // --- the counterfactual: from-scratch create at the new dim
    // version over the same final source state
    val root2 = tmp()
    val src2 = mkSource(root2)
    val dim2 = dimOf(root2)
    VersionedTable.upsert(spark,
      Seq(("a", "Alpha2"), ("z", "Zeta")).toDF("dk", "dname"), dim2, "dk")
    VersionedTable.append(spark, Seq(
      (1L, "a", 10.0), (3L, "b", 5.0), (4L, "b", 7.0), (5L, "z", 3.0))
      .toDF("id", "g", "v"), src2)
    val view2 = root2 + "/mv"
    IncrementalView.create(spark, src2, view2, Seq("dname"), Seq("v"),
      dim = Some(dim2), dimJoin = Seq(("g", "dk")))
    assert(lived === state(view2))
    assert(lived === Seq(("Alpha2", 1L, 10.0), ("Beta", 2L, 12.0),
      ("Zeta", 1L, 3.0)))
  }

  test("rebaseDim lands the refolded state and the dim stamp in one " +
      "view commit") {
    val root = tmp()
    val src = mkSource(root)
    val dim = root + "/dim"
    VersionedTable.create(spark, dim, StructType(Seq(
      StructField("dk", StringType), StructField("dname", StringType))))
    VersionedTable.append(spark,
      Seq(("a", "Alpha"), ("b", "Beta")).toDF("dk", "dname"), dim)
    VersionedTable.append(spark,
      Seq((1L, "a", 10.0), (2L, "b", 5.0)).toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view, Seq("dname"), Seq("v"),
      dim = Some(dim), dimJoin = Seq(("g", "dk")))
    VersionedTable.upsert(spark,
      Seq(("a", "Alpha2")).toDF("dk", "dname"), dim, "dk")
    val before = VersionedTable.latest(spark, view)._1
    val newVer = IncrementalView.rebaseDim(spark, view)
    assert(VersionedTable.latest(spark, view)._1 === before + 1)
    val last = VersionedTable.history(spark, view)
      .where($"version" === before + 1)
      .select("op", "files_added").as[(String, Int)].collect().toSeq
    assert(last.size === 1 && last.head._1 === "overwrite" &&
      last.head._2 > 0)
    assert(VersionedTable.tableProperties(spark, view)(
      IncrementalView.DimVersionProperty) === newVer.toString)
    assert(IncrementalView.read(spark, view).select("dname")
      .as[String].collect().toSet === Set("Alpha2", "Beta"))
  }

  test("rebaseDim refuses a dimension-less view") {
    val root = tmp()
    val src = mkSource(root)
    VersionedTable.append(spark,
      Seq((1L, "a", 1.0)).toDF("id", "g", "v"), src)
    val view = root + "/mv"
    IncrementalView.create(spark, src, view, Seq("g"), Seq("v"))
    val e = intercept[IllegalArgumentException] {
      IncrementalView.rebaseDim(spark, view)
    }
    assert(e.getMessage.contains("no dimension"))
  }
}
