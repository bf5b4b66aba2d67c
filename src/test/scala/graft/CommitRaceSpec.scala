package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Every VersionedTable commit runs through one OCC loop, which fires
  * `commitRaceHook` between each attempt's prepare step and its
  * publish. Table-driven: each op meets a racing append and a racing
  * merge-on-read delete layer inside its window and must show its
  * documented conflict rule's outcome — rebase (keep the raced commit,
  * commit over it), rebase-if (compact/upsert: rebase in one attempt
  * over a raced append they cannot conflict with, retry on a raced
  * layer), retry / rescan (re-run over the raced snapshot, so the op
  * also applies to the raced rows), abort (SQL DML throws
  * ConcurrentModificationException). A racer that hits EVERY attempt
  * exhausts the 20 attempts. No case leaves an orphaned staged file.
  *
  * Seed table: (1,a) (2,b) (3,c) (4,d) in one file; the one-shot cases
  * turn the change data feed on, so a lost attempt also drops staged CDC
  * files. The append racer adds (10,r); the layer racer deletes key 2.
  */
class CommitRaceSpec extends SparkTestBase {
  import spark.implicits._

  private type Rows = Seq[(Long, String)]
  private val seed: Rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))

  private def seeded(cdc: Boolean): String = {
    val t = Files.createTempDirectory("race").toString + "/t"
    VersionedTable.append(spark, seed.toDF("k", "v").coalesce(1), t) // v1
    VersionedTable.alterProperties(spark, t,
      Map(VersionedTable.CdcProperty -> cdc.toString))               // v2
    t
  }

  /** Every parquet file in the table dir is named by some manifest. */
  private def assertNoOrphans(t: String, op: String): Unit = {
    val dir = new java.io.File(t)
    val referenced = new java.io.File(dir, "_commits").listFiles()
      .filter(_.getName.startsWith("v")).toSeq
      .flatMap(m => Files.readAllLines(m.toPath).asScala)
      .flatMap { l =>
        if (!l.startsWith("#")) Seq(l)
        else if (l.startsWith("#del ") || l.startsWith("#delpos ") ||
            l.startsWith("#cdc ")) Seq(l.split(" ")(1))
        else Nil
      }.toSet
    val orphans = dir.list().toSeq.filter(n =>
      n.endsWith(".parquet") && !referenced.contains(n))
    assert(orphans.isEmpty, s"$op left staged files behind")
    assert(!dir.list().exists(_.startsWith("_stage-")), op)
  }

  private def rows(t: String): Rows =
    VersionedTable.read(spark, t).orderBy("k").as[(Long, String)]
      .collect().toSeq

  private def appendRacer(t: String): () => Unit = () =>
    VersionedTable.append(spark, Seq((10L, "r")).toDF("k", "v"), t)
  private def layerRacer(t: String, key: Long): () => Unit = () =>
    VersionedTable.deleteByKeys(spark, t, Seq(key).toDF("k"))
  private def propsRacer(t: String): () => Unit = {
    var n = 0
    () => { n += 1; VersionedTable.alterProperties(spark, t, Map("n" -> s"$n")) }
  }

  /** Run `op` with `racer` injected into its OCC window — on its first
    * attempt only, or on every attempt. The racer's own commit fires the
    * hook too, so re-entry is guarded. Returns the op's attempt count.
    */
  private def raced(racer: () => Unit, every: Boolean)(op: => Unit): Int = {
    var busy = false
    var attempts = 0
    VersionedTable.commitRaceHook = () =>
      if (!busy) {
        attempts += 1
        if (every || attempts == 1) {
          busy = true
          try racer() finally busy = false
        }
      }
    try { op; attempts }
    finally VersionedTable.commitRaceHook = () => ()
  }

  /** One op of the table. `attemptsAppend` is what a one-shot append
    * racer costs: 1 attempt when the op re-reads at commit time and
    * rebases over it, else 2. A raced layer always costs one retry.
    */
  private case class Op(name: String, rule: String, run: String => Unit,
      afterAppend: Rows, afterLayer: Rows, attemptsAppend: Int = 2,
      setup: String => Unit = _ => (), check: String => Unit = _ => ())

  private def sql(t: String, stmt: String): Unit = {
    spark.sql(s"CREATE TABLE race_sql USING `graft-table` LOCATION '$t'")
    try spark.sql(stmt) finally spark.sql("DROP TABLE race_sql")
  }

  private val ops: Seq[Op] = Seq(
    Op("append", "rebase",
      t => VersionedTable.append(spark, Seq((5L, "e")).toDF("k", "v"), t),
      afterAppend = seed ++ Seq((5L, "e"), (10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L) :+ ((5L, "e"))),
    Op("appendIdempotent", "rebase",
      t => VersionedTable.appendIdempotent(spark,
        Seq((5L, "e")).toDF("k", "v"), t, "w", 1L),
      afterAppend = seed ++ Seq((5L, "e"), (10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L) :+ ((5L, "e")),
      check = t => assert(
        VersionedTable.lastCommittedEpoch(spark, t, "w") === Some(1L))),
    Op("overwrite", "rebase",
      t => VersionedTable.overwrite(spark, Seq((7L, "o")).toDF("k", "v"), t),
      afterAppend = Seq((7L, "o")), afterLayer = Seq((7L, "o"))),
    Op("deleteByKeys", "rebase",
      t => VersionedTable.deleteByKeys(spark, t, Seq(3L).toDF("k")),
      afterAppend = seed.filterNot(_._1 == 3L) :+ ((10L, "r")),
      afterLayer = seed.filterNot(r => r._1 == 2L || r._1 == 3L)),
    Op("alterProperties", "rebase",
      t => VersionedTable.alterProperties(spark, t, Map("owner" -> "ops")),
      afterAppend = seed :+ ((10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L),
      check = t => assert(VersionedTable.tableProperties(spark, t)
        .get("owner").contains("ops"))),
    Op("tag", "rebase",
      t => VersionedTable.tag(spark, t, "pin", Some(1L)),
      afterAppend = seed :+ ((10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L),
      check = t => assert(VersionedTable.tags(spark, t) === Map("pin" -> 1L))),
    Op("compact", "rebase-if",
      t => VersionedTable.compact(spark, t, numFiles = 1),
      afterAppend = seed :+ ((10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L),
      // the raced append rebases in one attempt; the raced layer forces
      // a retry that materializes it
      attemptsAppend = 1,
      check = t => assert(
        !VersionedTable.hasPendingEqualityDeletes(spark, t))),
    Op("upsert", "rebase-if",
      t => VersionedTable.upsert(spark, Seq((2L, "B")).toDF("k", "v"), t,
        "k"),
      afterAppend = Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"),
        (10L, "r")),
      afterLayer = Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")),
      attemptsAppend = 1),
    Op("delete", "retry",
      t => VersionedTable.delete(spark, t, col("v") === "r" || col("k") === 1L),
      afterAppend = seed.filterNot(_._1 == 1L),
      afterLayer = seed.filterNot(r => r._1 == 1L || r._1 == 2L)),
    Op("update", "retry",
      t => VersionedTable.update(spark, t, lit(true),
        Map("v" -> upper(col("v")))),
      afterAppend = Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D"),
        (10L, "R")),
      afterLayer = Seq((1L, "A"), (3L, "C"), (4L, "D"))),
    Op("replaceWhere", "retry",
      t => VersionedTable.replaceWhere(spark,
        Seq((20L, "w")).toDF("k", "v"), t, col("k") >= 3L),
      afterAppend = Seq((1L, "a"), (2L, "b"), (20L, "w")),
      afterLayer = Seq((1L, "a"), (20L, "w"))),
    Op("materializeFieldIds", "retry",
      t => VersionedTable.materializeFieldIds(spark, t, numFiles = 1),
      afterAppend = seed :+ ((10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L),
      // a CTAS-style declared schema without field ids
      setup = t => VersionedTable.declareSchema(spark, t,
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("v", "string")),
      // the rewrite covered the raced file too: one id-stamped file
      check = t => assert(VersionedTable.latest(spark, t)._2.size === 1)),
    Op("restore", "rescan",
      t => VersionedTable.restore(spark, t, 1L),
      afterAppend = seed, afterLayer = seed,
      setup = t => VersionedTable.delete(spark, t, col("k") === 4L)),
    Op("deleteWhereMergeOnRead", "rescan",
      t => VersionedTable.deleteWhereMergeOnRead(spark, t,
        col("v") === "r" || col("k") === 1L),
      afterAppend = seed.filterNot(_._1 == 1L),
      afterLayer = seed.filterNot(r => r._1 == 1L || r._1 == 2L)),
    Op("commitReplaceFiles", "abort",
      // SQL UPDATE is the row-level rewrite (a translatable DELETE
      // takes the metadata path, i.e. VersionedTable.delete)
      t => sql(t, "UPDATE race_sql SET v = 'x' WHERE k = 1"),
      afterAppend = seed :+ ((10L, "r")),
      afterLayer = seed.filterNot(_._1 == 2L))
  )

  private def aborted(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException])

  /** One-shot racer: the op's documented outcome, compared with running
    * the racer first and the op second.
    */
  private def oneShot(racer: String => () => Unit, expected: Op => Rows,
      attempts: Op => Int): Unit =
    ops.foreach { op =>
      val t = seeded(cdc = true)
      op.setup(t)
      if (op.rule == "abort") {
        val e = withClue(op.name) {
          intercept[Exception](raced(racer(t), every = false)(op.run(t)))
        }
        assert(aborted(e), s"${op.name}: $e")
      } else {
        val n = raced(racer(t), every = false)(op.run(t))
        assert(n === attempts(op), s"${op.name} attempts")
        op.check(t)
      }
      assert(rows(t) === expected(op), op.name)
      assertNoOrphans(t, op.name)
    }

  test("a racing append meets each op's conflict rule") {
    oneShot(appendRacer, _.afterAppend, _.attemptsAppend)
  }

  test("a racing delete layer meets each op's conflict rule") {
    oneShot(layerRacer(_, 2L), _.afterLayer, _ => 2)
  }

  test("racing every attempt: lost 20 commit races, no orphaned files") {
    ops.foreach { op =>
      val t = seeded(cdc = false)
      op.setup(t)
      val before = rows(t)
      // the cheapest racer each rule loses to, never changing the
      // visible rows: a property commit beats rebase and rescan; the
      // rules that re-check files and layer need a layer (absent key)
      val racer =
        if (op.rule == "rebase" || op.rule == "rescan") propsRacer(t)
        else layerRacer(t, 999L)
      val e = withClue(op.name) {
        intercept[Exception](raced(racer, every = true)(op.run(t)))
      }
      if (op.rule == "abort") assert(aborted(e), s"${op.name}: $e")
      else {
        assert(e.isInstanceOf[IllegalStateException], s"${op.name}: $e")
        assert(e.getMessage === s"${op.name} lost 20 commit races for $t")
      }
      assert(rows(t) === before, op.name)
      assertNoOrphans(t, op.name)
    }
  }
}
