package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, VersionedTable, Wap}

/** Named snapshot refs (Iceberg tag semantics): `tag()` pins a version
  * under a name in ONE metadata commit, every read surface resolves it
  * (`VERSION AS OF 'name'`, reader option versionAsOf=name, CALL
  * procedures), every commit kind carries it forward, and vacuum
  * protects the tagged manifest and its files until `untag()`. The ML
  * lineage primitive: "the exact corpus train-run-17 saw" survives
  * compactions, restores, and retention.
  */
class TagSpec extends SparkTestBase {
  import spark.implicits._

  private val wh = Files.createTempDirectory("tag").toString
  spark.conf.set("spark.sql.catalog.tg", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.tg.warehouse", wh)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS tg.ns")

  private def tmp(): String =
    Files.createTempDirectory("tagt").toString + "/t"

  test("tag pins a version across later writes; reads resolve by name " +
      "on every surface") {
    spark.sql("CREATE TABLE tg.ns.t (k BIGINT, v STRING)")
    val path = s"$wh/ns/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.format("graft-table")
      .mode("append").insertInto("tg.ns.t")
    val v1 = VersionedTable.latest(spark, path)._1
    VersionedTable.tag(spark, path, "prod")
    Seq((3L, "c")).toDF("k", "v").write.format("graft-table")
      .mode("append").insertInto("tg.ns.t")
    VersionedTable.delete(spark, path, col("k") === 1L)
    // SQL time travel by tag name
    assert(spark.sql("SELECT count(*) FROM tg.ns.t VERSION AS OF 'prod'")
      .head().getLong(0) === 2L)
    // path reader option by tag name
    assert(spark.read.format("graft-table").option("versionAsOf", "prod")
      .load(path).count() === 2L)
    // API resolution
    assert(VersionedTable.resolveVersionRef(spark, path, "prod") === v1)
    assert(VersionedTable.resolveVersionRef(spark, path, s"$v1") === v1)
    // current snapshot unaffected
    assert(spark.table("tg.ns.t").count() === 2L)
    val e = intercept[NoSuchElementException] {
      VersionedTable.resolveVersionRef(spark, path, "nope")
    }
    assert(e.getMessage.contains("prod"), "error lists published tags")
  }

  test("tags survive every commit kind: compaction, restore, replace") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) // v1
    VersionedTable.tag(spark, t, "pin")            // v2
    VersionedTable.append(spark, Seq((3L, "c")).toDF("k", "v"), t) // v3
    VersionedTable.compact(spark, t, numFiles = 1) // v4
    assert(VersionedTable.tags(spark, t) === Map("pin" -> 1L))
    VersionedTable.restore(spark, t, 1L)           // v5
    assert(VersionedTable.tags(spark, t) === Map("pin" -> 1L))
    VersionedTable.replaceTable(spark, Seq((9L, "z")).toDF("k", "v"), t,
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("v", "string"))
    assert(VersionedTable.tags(spark, t) === Map("pin" -> 1L))
    // the pinned snapshot still reads exactly as tagged
    assert(VersionedTable.read(spark, t, 1L).count() === 2L)
  }

  test("vacuum spares a tagged version's manifest and files; untag " +
      "releases them") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a")).toDF("k", "v").coalesce(1), t)          // v1
    VersionedTable.tag(spark, t, "keep", Some(1L))           // v2
    VersionedTable.overwrite(spark,
      Seq((2L, "b")).toDF("k", "v").coalesce(1), t)          // v3
    val latest = VersionedTable.latest(spark, t)._1
    assert(VersionedTable.vacuum(spark, t, latest, retentionMs = 0L) === 0,
      "the tagged version's file must survive an aggressive vacuum")
    // tagged read still whole
    assert(VersionedTable.read(spark, t, 1L).as[(Long, String)]
      .collect().toSeq === Seq((1L, "a")))
    VersionedTable.untag(spark, t, "keep")
    assert(VersionedTable.vacuum(spark, t,
      VersionedTable.latest(spark, t)._1, retentionMs = 0L) === 1,
      "untag releases the pinned file to retention")
  }

  test("CALL procedures tag/untag; bad names refused") {
    spark.sql("CREATE TABLE tg.ns.p (k BIGINT)")
    spark.range(4).toDF("k").write.format("graft-table")
      .mode("append").insertInto("tg.ns.p")
    val path = s"$wh/ns/p"
    val vData = VersionedTable.latest(spark, path)._1
    val r = spark.sql("CALL tg.tag('ns.p', 'release')").collect()
    assert(r.head.getLong(0) === vData,
      "tagged_version defaults to the pre-tag latest")
    assert(VersionedTable.tags(spark, path) === Map("release" -> vData))
    spark.sql("CALL tg.untag('ns.p', 'release')")
    assert(VersionedTable.tags(spark, path) === Map.empty)
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, path, "123")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, path, "has space")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, path, "ghost", Some(99L))
    }
  }

  test("tags survive the exactly-once (txn watermark) commits") {
    val t = tmp()
    VersionedTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) // v1
    VersionedTable.tag(spark, t, "pin", Some(1L))
    def check(step: String): Unit = {
      assert(VersionedTable.tags(spark, t) === Map("pin" -> 1L), step)
      VersionedTable.vacuum(spark, t, VersionedTable.latest(spark, t)._1,
        retentionMs = 0L)
      assert(VersionedTable.read(spark, t, 1L).count() === 2L, step)
    }
    VersionedTable.appendIdempotent(spark, Seq((3L, "c")).toDF("k", "v"), t,
      "w", 1L)
    check("appendIdempotent")
    VersionedTable.upsert(spark, Seq((3L, "C")).toDF("k", "v"), t, "k",
      txn = Some(("w", 2L)))
    check("upsert with txn")
    VersionedTable.deleteByKeys(spark, t, Seq(3L).toDF("k"),
      txn = Some(("w", 3L)))
    check("deleteByKeys with txn")
    Wap.publish(spark, Wap.write(spark, Wap.begin(spark, t, "rel"),
      Seq((4L, "d")).toDF("k", "v")))
    check("Wap.publish")
    assert(VersionedTable.read(spark, t).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (4L, "d")))
  }
}
