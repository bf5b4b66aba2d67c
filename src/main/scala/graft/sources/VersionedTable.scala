package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-versioned lake table: the minimal commit protocol that makes
  * append + compaction safe under CONCURRENT writers, which plain
  * directory tables (S4/compact) cannot be (SCALING.md known limit).
  *
  * Layout:
  *   table/part-*.parquet         data files (immutable once committed)
  *   table/_commits/v%08d        manifest: newline-separated file names
  *
  * Protocol (the same optimistic-concurrency core as Delta/Iceberg):
  *   - readers list `_commits`, take the HIGHEST version, and read exactly
  *     the files it names — a consistent snapshot regardless of in-flight
  *     writers; uncommitted data files are invisible.
  *   - writers stage data files under unique names, then publish manifest
  *     v(N+1) with an atomic no-overwrite primitive (hard link on local
  *     filesystems, rename on the HDFS family; object stores are refused
  *     without an external CAS). Old data files stay on disk for
  *     older-snapshot readers until [[vacuum]].
  *   - every commit goes through ONE loop, [[occCommit]]: read the latest
  *     snapshot, run the op's prepare step (stage files, or decide there
  *     is nothing to do), fire [[commitRaceHook]], apply the op's
  *     conflict rule, publish via [[tryCommit]]. A lost race or conflict
  *     deletes the attempt's staged files and re-runs prepare; after 20
  *     attempts the op fails with "<op> lost 20 commit races for <table>".
  *     An op is its prepare step, its conflict rule and its manifest
  *     lines ([[metaLines]] carries every metadata kind forward).
  *
  * Conflict rules (what a commit does about writes that landed after
  * its snapshot read):
  *   - rebase — commit over the latest snapshot, keeping raced commits:
  *     append, appendIdempotent / commitStagedIdempotent (streaming
  *     sink, WAP publish), overwrite, replaceTable, deleteByKeys, create,
  *     cloneTable and the metadata ops (alterProperties, tag/untag,
  *     addColumns, declareSchema, setColumnDefault, rename/drop/
  *     moveColumn). No re-read: a raced commit makes the publish lose.
  *   - conditional rebase — re-read at commit time; rebase over raced
  *     appends unless they can hold rows the op rewrote: compact (all
  *     inputs still live, delete layer unchanged), upsert (raced appends'
  *     key ranges disjoint from the update range, rewritten files live,
  *     layer unchanged).
  *   - retry — re-read; any change to the data files or the delete layer
  *     re-runs the op: delete, update, replaceWhere, materializeFieldIds.
  *   - rescan — re-read; ANY commit (even metadata) re-runs the op:
  *     restore, deleteWhereMergeOnRead (their staged diff/positions pin
  *     the exact version).
  *   - abort — the op's precondition re-runs per attempt and throws
  *     ConcurrentModificationException once the files or layer moved:
  *     commitReplaceFiles (SQL row-level DML). A strict WAP publish
  *     (`requireVersion`) likewise throws once the base version moved.
  *
  * ==Migration seam to Delta Lake / Iceberg==
  * This protocol is deliberately a strict subset of Delta's: immutable
  * data files + an ordered commit log + OCC + snapshot reads + retention
  * vacuum. On a cluster where the Delta (or Iceberg) jars are available,
  * each call maps 1:1 — `append` → `df.write.format("delta").mode("append")`,
  * `read(version)` → `option("versionAsOf", v)`, `compact` → `OPTIMIZE`,
  * `vacuum(retentionMs)` → `VACUUM ... RETAIN`. Data files need no
  * rewrite: a one-shot `CONVERT TO DELTA` over the current snapshot's
  * file list completes the migration. Keep callers on this API and only
  * this object needs swapping.
  */
object VersionedTable {

  private val CommitsDir = "_commits"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(table: String, v: Long): Path =
    new Path(s"$table/$CommitsDir/v${"%08d".format(v)}")

  // Manifest lines starting with '#' are metadata, not file names:
  //  - "#txn <writerId> <epoch>": writer-transaction watermarks (the
  //    Delta `txn` action) making streaming micro-batch commits
  //    idempotent (see [[appendIdempotent]]). Carried forward by every
  //    commit.
  //  - "#op <kind>": what THIS commit was (append/compact/upsert/
  //    delete) — per-commit, never carried forward. The changefeed needs
  //    it: structurally, a compaction and an upsert both remove files,
  //    but one is a pure rewrite and the other changes rows.
  //  - "#schema <json>": the table's DECLARED schema (StructType.json,
  //    single-line). Carried forward by every commit; replaced by commits
  //    that evolve it ([[create]], [[addColumns]], evolveSchema writes).
  //    Readers pass it to the parquet scan, so files written before an
  //    ADD COLUMN surface the new column as null — Delta's column-append
  //    evolution contract. Tables without the line (pre-schema tables)
  //    keep inferring from their data files.
  //  - "#del <file> <version> <keyCols...>": a PENDING merge-on-read
  //    equality delete ([[deleteByKeys]]): `file` is a staged parquet of
  //    key values whose rows are deleted from every data file committed
  //    at or before `version`. Carried forward by every commit EXCEPT
  //    compaction/overwrite (which materialize/obsolete them); readers
  //    apply the anti-join layer, and the version bound makes later
  //    re-inserts of the same key survive (Iceberg's equality-delete
  //    sequence-number rule).
  //  - "#delpos <file>": a PENDING merge-on-read POSITION delete
  //    ([[deleteWhereMergeOnRead]]): `file` is a staged parquet of
  //    (__vt_file, __vt_pos) rows naming exact physical rows to hide.
  //    No version bound needed — positions pin to a file BY NAME, and
  //    rewritten/new files have fresh names, so stale entries can never
  //    match (self-cleaning). Carried/dropped like "#del".
  //  - "#prop <key> <value>": a table property (ALTER TABLE SET
  //    TBLPROPERTIES). Carried forward by every commit; property
  //    commits replace the set wholesale. Keys are space-free; values
  //    may contain spaces (rest-of-line).
  //  - "#fid <n>": the HIGH-WATER mark of assigned parquet field ids
  //    (each declared field carries its id in StructField metadata,
  //    key "parquet.field.id", serialized inside the #schema json).
  //    Carried forward by every commit; replaced by commits that assign
  //    new ids. The mark never regresses — a column re-added after a
  //    DROP gets a FRESH id, so old files' dropped data can never
  //    resurrect under the new column (Iceberg's field-id rule).
  //  - "#cdc <file>": a staged parquet holding THIS commit's exact
  //    row-level changes (declared columns + `_change_type`), written
  //    at commit time when the table property
  //    `graft.enableChangeDataFeed=true` — Delta's CDC-file design: the
  //    feed is READ, not derived, so streaming consumers tail
  //    update/delete/merge commits as plain file scans. Per-commit,
  //    never carried; vacuum keeps the file while its manifest is
  //    retained.
  private val TxnPrefix = "#txn "
  private val OpPrefix = "#op "
  private val SchemaPrefix = "#schema "
  private val DelPrefix = "#del "
  private val DelPosPrefix = "#delpos "
  private val PropPrefix = "#prop "
  private val FidPrefix = "#fid "
  private val CdcPrefix = "#cdc "
  // "#stats <file> <json>": per-data-file column bounds ([[FileStats]])
  // for plan-time skipping. NOT carried by [[metaLines]]:
  // [[tryCommit]] itself reconciles them every commit — carrying lines
  // for retained files from the previous manifest, computing fresh ones
  // from the just-written parquet footers, dropping lines whose file
  // left the snapshot — so every writer path gets stats for free.
  private val StatsPrefix = "#stats "
  // "#tag <name> <version>": named snapshot refs (Iceberg tag
  // semantics) — time travel by name (`VERSION AS OF 'prod'`, reader
  // option versionAsOf=prod), vacuum-protected. Carried by EVERY
  // commit (metaLines); a tag pins a version, never files, so
  // structural rewrites and restores cannot invalidate it.
  private val TagPrefix = "#tag "

  /** The table property that turns on write-time CDC files. */
  val CdcProperty = "graft.enableChangeDataFeed"

  /** Clustering-on-write: a comma-separated list of top-level columns.
    * Ingest commits ([[append]] / [[appendIdempotent]] / [[overwrite]] /
    * [[replaceWhere]] inserts / [[upsert]] update rows) range-partition
    * and sort the incoming frame on these columns before staging, so
    * each data file covers a narrow key range and the manifest `#stats`
    * bounds make plan-time file skipping selective from the FIRST
    * commit — Delta liquid-clustering / Iceberg write-order semantics
    * without waiting for an OPTIMIZE. [[compact]] called without
    * explicit z-order dims re-clusters on these columns too, so
    * compaction preserves (rather than destroys) the layout.
    */
  val ClusterByProperty = "graft.clusterBy"

  private[sources] def clusterColsOf(lines: Seq[String]): Seq[String] =
    propMap(lines).get(ClusterByProperty).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Hash-bucketing-on-write: `"<column>,<numBuckets>"`. Every data
    * file of a bucketed table holds rows of exactly ONE bucket
    * (`pmod(murmur3(col), n)`, Spark's own `repartition(n, col)`
    * hashing) and carries its bucket in its NAME (`b<i>of<n>-<uuid>`),
    * so the DSv2 scan can report `KeyGroupedPartitioning` and Spark
    * plans STORAGE-PARTITIONED JOINS between tables bucketed the same
    * way — the 100 TB fact-fact join with ZERO shuffle on either side
    * (Iceberg bucket-transform SPJ). Set-once: changing the column or
    * bucket count would silently mis-label existing files' names, so
    * re-SET/UNSET is refused — declare bucketing at CREATE (or once,
    * then `compact()` to re-layout history).
    */
  val BucketByProperty = "graft.bucketBy"

  private[sources] def bucketSpecOf(lines: Seq[String])
      : Option[(String, Int)] =
    propMap(lines).get(BucketByProperty).flatMap(parseBucketSpec)

  private[sources] def parseBucketSpec(spec: String): Option[(String, Int)] =
    spec.split(',').map(_.trim).filter(_.nonEmpty) match {
      case Array(c, n) if n.forall(_.isDigit) && n.toInt > 0 =>
        Some((c, n.toInt))
      case _ => None
    }

  /** bucket marker inside a staged data-file name (after the `part-`
    * prefix, so every existing file-kind dispatch by prefix holds);
    * plan-time parse below
    */
  private[sources] def bucketFileName(i: Int, n: Int): String =
    s"b${i}of$n-"
  private val BucketNameRe = "^part-b(\\d+)of(\\d+)-.*".r
  /** `Some(bucketId)` iff `name` was staged under a bucket layout with
    * exactly `n` buckets — a file from an earlier/other layout never
    * masquerades (the count is part of the name).
    */
  private[sources] def bucketOfFile(name: String, n: Int): Option[Int] =
    name match {
      case BucketNameRe(i, bn) if bn.toInt == n => Some(i.toInt)
      case _ => None
    }

  /** CHECK constraints: `graft.constraint.<name> = <boolean SQL expr>`
    * table properties (Delta `delta.constraints.*` semantics). SQL
    * three-valued CHECK: a row violates only when the expression is
    * FALSE — NULL passes, as in the standard. Enforced INLINE on every
    * data-file write ([[stage]] folds one codegen'd filter over the
    * frame: pass rows flow through, a violating row throws with the
    * constraint name and the row's JSON — zero extra passes, zero
    * shuffles, so the 100 TB ingest pays one predicate per row).
    * ADD-time validation scans the current snapshot and refuses the
    * property if existing rows violate, so a committed constraint is an
    * invariant over ALL data, past and future. Rename/drop of a
    * referenced column is refused until the constraint is dropped
    * (UNSET TBLPROPERTIES) — silently orphaning the expression would
    * fail every later write.
    */
  val ConstraintPrefix = "graft.constraint."

  private[sources] def constraintsOf(lines: Seq[String]): Map[String, String] =
    propMap(lines).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Top-level column names (lowercased) a constraint expression
    * references — the rename/drop guard. Parse-only (never resolved):
    * callers hold expressions that already passed ADD-time analysis.
    */
  private def constraintRefs(spark: SparkSession, sql: String): Set[String] =
    try spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    catch { case _: org.apache.spark.sql.catalyst.parser.ParseException =>
      Set.empty }

  /** Refuse renaming/dropping `col` (a top-level name) while any CHECK
    * constraint references it.
    */
  private def requireNoConstraintOn(spark: SparkSession,
      lines: Seq[String], col: String, table: String): Unit = {
    val lc = col.toLowerCase(java.util.Locale.ROOT)
    constraintsOf(lines).find { case (_, sql) =>
      constraintRefs(spark, sql).contains(lc)
    }.foreach { case (n, sql) =>
      throw new IllegalArgumentException(
        s"CHECK constraint '$n' ($sql) references column '$col' of " +
          s"$table — drop the constraint (ALTER TABLE ... UNSET " +
          s"TBLPROPERTIES('$ConstraintPrefix$n')) first")
    }
  }

  /** ADD-time validation: the expression must analyze to a BOOLEAN,
    * deterministic, non-aggregate predicate over the table schema, and
    * (when data exists) no current row may violate it. `snapshot` is
    * lazy — only evaluated for tables with data files.
    */
  private def validateConstraint(spark: SparkSession, name: String,
      sql: String, schema: Option[org.apache.spark.sql.types.StructType],
      snapshot: => Option[DataFrame], table: String): Unit = {
    require(name.nonEmpty, s"constraint name must be non-empty on $table")
    val probe = schema.map(sc =>
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        sc))
    probe.foreach { empty =>
      val resolved =
        try empty.select(org.apache.spark.sql.functions.expr(sql))
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint '$name' ($sql) does not analyze against " +
              s"the schema of $table: ${e.getMessage}")
        }
      val out = resolved.queryExecution.analyzed.output.head
      require(out.dataType == org.apache.spark.sql.types.BooleanType,
        s"CHECK constraint '$name' ($sql) must be BOOLEAN, got " +
          s"${out.dataType.simpleString}")
      require(resolved.queryExecution.analyzed.expressions
          .forall(_.deterministic),
        s"CHECK constraint '$name' ($sql) is non-deterministic — it " +
          "would pass or fail the same row arbitrarily")
      require(!resolved.queryExecution.analyzed.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
        s"CHECK constraint '$name' ($sql) aggregates — constraints are " +
          "per-row predicates")
    }
    snapshot.foreach { df =>
      import org.apache.spark.sql.functions.{expr, lit}
      val bad = df.where(expr(sql) <=> lit(false))
      if (!bad.isEmpty) throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($sql) to $table: " +
          "existing rows violate it")
    }
  }

  /** The write-time enforcement filter: TRUE/NULL rows pass, a FALSE
    * row throws with the constraint name and (truncated) row JSON. The
    * error branch is lazy under codegen — passing rows never build the
    * message.
    */
  private def applyConstraints(df: DataFrame,
      constraints: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    constraints.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      d.where(when(expr(sql) <=> lit(false), raise_error(concat(
          lit(s"graft CHECK constraint '$name' violated: ($sql) row="),
          substring(to_json(struct(df.columns.map(col): _*)), 1, 512)))
        .cast(org.apache.spark.sql.types.BooleanType)).otherwise(lit(true)))
    }
  }

  /** Column DEFAULT values, Spark's own metadata encoding: a field's
    * `CURRENT_DEFAULT` metadata is the SQL text the analyzer folds into
    * INSERTs that omit the column (or say `DEFAULT`); `EXISTS_DEFAULT`
    * is the value rows written BEFORE the column existed read back.
    * Both live in the declared `#schema` line, so they version like
    * every other schema change and cost zero data movement.
    */
  val CurrentDefaultKey = "CURRENT_DEFAULT"
  val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** A DEFAULT expression must be a constant: no column references
    * (nothing to bind them to at INSERT-resolution time), analyzable,
    * deterministic, and castable to the column type. Evaluated once
    * here so a runtime-failing constant fails the DDL, not the insert.
    */
  private def validateDefault(spark: SparkSession, column: String,
      sql: String, dt: org.apache.spark.sql.types.DataType,
      table: String): Unit = {
    val refs = try spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    } catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
      throw new IllegalArgumentException(
        s"DEFAULT for '$column' ($sql) on $table does not parse: " +
          e.getMessage)
    }
    require(refs.isEmpty, s"DEFAULT for '$column' ($sql) on $table " +
      s"references columns (${refs.mkString(", ")}) — defaults must be " +
      "constant expressions")
    val probe = try
      spark.range(1).select(
        org.apache.spark.sql.functions.expr(sql).cast(dt).as("d"))
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalArgumentException(
        s"DEFAULT for '$column' ($sql) on $table does not analyze as " +
          s"${dt.simpleString}: ${e.getMessage}")
    }
    require(probe.queryExecution.analyzed.expressions
        .forall(_.deterministic),
      s"DEFAULT for '$column' ($sql) on $table must be deterministic")
    probe.head() // constant evaluation: a failing literal fails the DDL
  }

  /** Validate every CURRENT_DEFAULT in `schema` (catalog CREATE/ADD
    * preflight): a bad default must fail the DDL, not the first INSERT
    * that relies on it.
    */
  def validateSchemaDefaults(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, what: String): Unit =
    schema.fields.foreach { f =>
      if (f.metadata.contains(CurrentDefaultKey))
        validateDefault(spark, f.name,
          f.metadata.getString(CurrentDefaultKey), f.dataType, what)
    }

  /** Set (`Some(sql)`) or drop (`None`) a top-level column's
    * CURRENT DEFAULT in one metadata commit. Affects FUTURE inserts
    * only — `EXISTS_DEFAULT`, the read-back value for pre-column rows,
    * is fixed when the column is born and never touched here (standard
    * SQL `ALTER ... SET DEFAULT` semantics, same as Delta).
    */
  def setColumnDefault(spark: SparkSession, table: String, column: String,
      default: Option[String]): Long =
    occCommit(spark, table, "setColumnDefault") { (_, lines) =>
      val declared = schemaLine(lines).getOrElse(
        throw new IllegalStateException(
          s"setColumnDefault needs a declared schema on $table"))
      val idx = declared.fields.indexWhere(_.name.equalsIgnoreCase(column))
      require(idx >= 0, s"no top-level column '$column' in $table")
      val f = declared.fields(idx)
      default.foreach(sql =>
        validateDefault(spark, column, sql, f.dataType, table))
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      default match {
        case Some(sql) => mb.putString(CurrentDefaultKey, sql)
        case None => mb.remove(CurrentDefaultKey)
      }
      val ns = org.apache.spark.sql.types.StructType(
        declared.fields.updated(idx, f.copy(metadata = mb.build())))
      Commit(Rebase, base =>
        metaLines(base, "set-default", newSchema = Some(ns)) ++
          dataFiles(base))
    }

  /** Validate a [[ClusterByProperty]] spec against a schema (None =
    * pre-schema table, columns unknowable — allow). Shared by
    * alterProperties and the catalog's CREATE-time preflight, so a bad
    * layout fails the DDL instead of surfacing after data movement.
    */
  private[sources] def validateClusterSpec(spec: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      table: String, prop: String = ClusterByProperty): Unit = {
    val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
    require(cols.nonEmpty, s"$prop must name at least one column")
    schema.foreach { sc =>
      cols.foreach { c =>
        val fld = sc.fields.find(_.name.equalsIgnoreCase(c))
        require(fld.isDefined, s"$prop column '$c' is " +
          s"not a top-level column of $table")
        require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(fld.get.dataType),
          s"$prop column '$c' has unorderable type " +
            s"${fld.get.dataType.simpleString} — the layout " +
            "needs a sortable column")
      }
    }
  }

  /** Range-cluster `df` on the table's declared cluster columns. No-op
    * without the property; a column absent from the frame (pre-schema
    * tables can append narrower frames) skips clustering rather than
    * failing the write — the layout is an optimization, never a gate.
    * No explicit partition count: AQE coalesces the range exchange, so
    * a small append stages one tight file while a large one fans out
    * to balanced ranges.
    */
  /** The table's cluster columns resolved to `df`'s actual column names
    * — Nil when clustering is undeclared or any column is absent (then
    * the layout cannot apply and no sort may be claimed).
    */
  private def appliedClusterCols(df: DataFrame, cols: Seq[String])
      : Seq[String] = {
    val actual = cols.flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))
    if (cols.nonEmpty && actual.length == cols.length) actual else Nil
  }

  /** Range-cluster `df` on `cols` (see [[stage]]'s `cluster`); also used
    * by the catalog's CTAS/RTAS writes, where the declared layout is
    * known but its property commit necessarily lands AFTER the data.
    */
  private[sources] def clusterFrame(df: DataFrame, cols: Seq[String])
      : DataFrame = {
    if (cols.isEmpty) df
    else {
      val actual = cols.flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))
      if (actual.length != cols.length) df
      else {
        val cs = actual.map(org.apache.spark.sql.functions.col)
        df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
      }
    }
  }

  /** `_change_type` column name in CDC files / the CDF output. */
  val ChangeTypeCol = "_change_type"

  /** Columns the change feed itself appends. A data schema that already
    * contains one would be silently corrupted — CDC staging's
    * `withColumn` overwrites it and the CDF read strips it — so CDF
    * enablement (`alterProperties`) and CDF reads refuse up front, as
    * Delta does for its reserved CDC columns.
    */
  private[sources] val ReservedCdfCols: Seq[String] =
    Seq(ChangeTypeCol, "_commit_version")

  private[sources] def requireNoReservedCdfColumns(
      schema: Option[org.apache.spark.sql.types.StructType],
      context: String): Unit =
    schema.foreach { sc =>
      val clash = sc.fieldNames.filter(n =>
        ReservedCdfCols.exists(_.equalsIgnoreCase(n)))
      require(clash.isEmpty,
        s"cannot $context: table schema contains reserved change-data-" +
          s"feed column name(s) ${clash.mkString(", ")} — rename them " +
          "first (the feed appends _change_type/_commit_version itself)")
    }

  private[sources] def cdcLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(CdcPrefix)).map(_.drop(CdcPrefix.length))

  private def cdcEnabled(lines: Seq[String]): Boolean =
    propMap(lines).get(CdcProperty).exists(_.trim.equalsIgnoreCase("true"))

  /** StructField metadata key Spark's parquet writer/reader natively
    * map to the parquet schema's field_id (write: always on for graft
    * stages; read: enabled per-scan when the declared schema carries
    * ids, with name-matching fallback for id-less legacy files).
    */
  private[sources] val FieldIdKey = "parquet.field.id"

  /** The metadata lines of the next manifest: txn watermarks, tags,
    * declared schema, properties, field-id mark and pending delete
    * layer carried forward from `prevRaw`, plus this commit's op marker.
    * Each `new*` argument REPLACES its carried lines; `txn` advances one
    * writer's watermark; `dropDeletes` (compaction/overwrite — commits
    * that rewrite or replace every file the deletes could apply to)
    * drops the pending delete layer. Every commit builds its metadata
    * here, so no commit kind can forget a line kind.
    */
  private def metaLines(prevRaw: Seq[String], op: String,
      newSchema: Option[org.apache.spark.sql.types.StructType] = None,
      dropDeletes: Boolean = false,
      newProps: Option[Map[String, String]] = None,
      newFid: Option[Long] = None,
      newTags: Option[Map[String, Long]] = None,
      txn: Option[(String, Long)] = None): Seq[String] =
    prevRaw.filter(l => (l.startsWith(TxnPrefix) && txn.isEmpty) ||
        (l.startsWith(TagPrefix) && newTags.isEmpty) ||
        (l.startsWith(SchemaPrefix) && newSchema.isEmpty) ||
        (l.startsWith(PropPrefix) && newProps.isEmpty) ||
        (l.startsWith(FidPrefix) && newFid.isEmpty) ||
        ((l.startsWith(DelPrefix) || l.startsWith(DelPosPrefix)) &&
          !dropDeletes)) ++
      txn.toSeq.flatMap(t => txnLines(txnMap(prevRaw) + t)) ++
      newSchema.map(s => SchemaPrefix + s.json) ++
      newFid.map(n => FidPrefix + n) ++
      newProps.toSeq.flatMap(propLines) ++
      newTags.toSeq.flatMap(tagLines) :+ (OpPrefix + op)

  /** The data-file lines of a raw manifest. */
  private def dataFiles(lines: Seq[String]): Seq[String] =
    lines.filterNot(_.startsWith("#"))

  // ---------- parquet field ids (rename/drop-safe schema evolution) ----

  private def fieldId(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private[sources] def hasFieldIds(
      sc: org.apache.spark.sql.types.StructType): Boolean =
    sc.fields.exists(_.metadata.contains(FieldIdKey))

  /** Deep max over nested structs (array elements / map values
    * included): the high-water mark must clear NESTED ids too, or a
    * re-added nested field could inherit a dropped one's id.
    */
  private def maxFieldId(sc: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.spark.sql.types._
    def ofType(dt: DataType): Long = dt match {
      case s: StructType =>
        s.fields.map(f => math.max(fieldId(f).getOrElse(0L),
          ofType(f.dataType))).maxOption.getOrElse(0L)
      case a: ArrayType => ofType(a.elementType)
      case m: MapType => math.max(ofType(m.keyType), ofType(m.valueType))
      case _ => 0L
    }
    ofType(sc)
  }

  /** High-water mark of assigned field ids: the `#fid` line, falling
    * back to the max id in the declared schema (pre-`#fid` tables).
    */
  private def fidOf(lines: Seq[String]): Long =
    lines.find(_.startsWith(FidPrefix))
      .map(_.drop(FidPrefix.length).trim.toLong)
      .orElse(schemaLine(lines).map(maxFieldId)).getOrElse(0L)

  /** Assign fresh ids (continuing after `from`) to fields lacking one —
    * RECURSIVELY: fields nested in structs (directly, inside arrays, or
    * as map keys/values) are stamped too, so nested rename/drop can
    * resolve them by id the same way top-level evolution does (Spark's
    * parquet field-id read/write matching is recursive). Returns the
    * stamped fields and the new high-water mark.
    */
  private def assignIds(fields: Seq[org.apache.spark.sql.types.StructField],
      from: Long): (Seq[org.apache.spark.sql.types.StructField], Long) = {
    import org.apache.spark.sql.types._
    var next = from
    def ofType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(ofField))
      case a: ArrayType => a.copy(elementType = ofType(a.elementType))
      case m: MapType => m.copy(keyType = ofType(m.keyType),
        valueType = ofType(m.valueType))
      case other => other
    }
    def ofField(f: StructField): StructField = {
      val withId =
        if (f.metadata.contains(FieldIdKey)) f
        else {
          next += 1
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, next).build())
        }
      withId.copy(dataType = ofType(withId.dataType))
    }
    val out = fields.map(ofField)
    (out, math.max(next,
      maxFieldId(org.apache.spark.sql.types.StructType(out.toArray))))
  }

  /** Re-stamp the declared schema's field-id metadata onto `df` (by
    * name, case-insensitive) before a rewrite stages it: expression
    * rebuilds (`withColumn`, SET assignments) drop column metadata, and
    * a file whose columns are PARTIALLY id-tagged reads the untagged
    * ones as null under an id-carrying requested schema. No-op when the
    * table has no ids.
    */
  private def stampFieldIds(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    declared.filter(hasFieldIds) match {
      case None => df
      case Some(sc) =>
        import org.apache.spark.sql.functions.col
        def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
        val byName = sc.fields.map(f => key(f.name) -> f).toMap
        df.select(df.schema.fields.map { f =>
          byName.get(key(f.name)) match {
            case Some(tf) =>
              // NESTED ids live inside the dataType; rewrites that
              // rebuilt a struct (SET on a nested field) dropped them —
              // restore via a cast to the declared type. Positional
              // struct cast is safe here: the frame was read under the
              // declared schema, so inner order matches.
              val base =
                if (f.dataType == tf.dataType) col(f.name)
                else col(f.name).cast(tf.dataType)
              base.as(f.name, tf.metadata)
            case None => col(f.name)
          }
        }.toSeq: _*)
    }

  /** Stage this commit's exact change rows (declared columns +
    * `_change_type`) as CDC files, when the table property gates CDF
    * on. Returns the staged table-relative names (to ride the commit
    * as `#cdc` lines, and to clean up on a lost race).
    */
  private def stageCdcIfEnabled(spark: SparkSession, table: String,
      lines: Seq[String], changes: => DataFrame): Seq[String] = {
    if (!cdcEnabled(lines)) return Nil
    val df = stampFieldIds(changes, schemaLine(lines))
    val staged = stage(spark, df, table, prefix = "cdc-")
    // a change frame with ZERO output partitions (e.g. deleteByKeys whose
    // keys match no visible rows, optimized to an empty relation) writes
    // no part files — but the commit still carries new layer lines, and a
    // layer-changed commit without a #cdc line reads as "CDC was off" to
    // cdfFilesBetween, which then fails the whole feed. Ship one empty
    // CDC file so the feed sees the commit as an explicit zero-row change.
    // (repartition, not coalesce: coalesce of a 0-partition plan is
    // still 0 partitions and would write nothing again)
    if (staged.nonEmpty) staged
    else stage(spark, df.repartition(1), table, prefix = "cdc-")
  }

  /** Spark's parquet field-id READ matching is gated by a session conf
    * that per-read options cannot override (ParquetFileFormat stamps it
    * from SQLConf into the scan's hadoop conf). When a declared schema
    * carries ids, enable it — sticky for the session, and a no-op for
    * every schema without id metadata, so other reads are unaffected.
    * Matching is per REQUESTED field: fields with an id resolve by id,
    * fields without one (schema-merge evolution columns) by name.
    * `ignoreMissing` is deliberately NOT set: under it Spark silently
    * NULLS every id-requested column of a file that carries no ids —
    * an id-ed table must only ever contain id-tagged files (every graft
    * write path stamps them), and a violation should fail loudly, not
    * read as nulls.
    */
  def ensureFieldIdRead(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType]): Unit =
    if (schema.exists(hasFieldIds) &&
        spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false")
          != "true")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Lower-cased simple column names opted into parquet-native bloom
    * filters via the `graft.bloom.columns` property (see [[BloomSkip]]).
    */
  private[sources] def bloomColumnsOf(lines: Seq[String]): Set[String] =
    propMap(lines).get("graft.bloom.columns")
      .map(_.split(',').iterator.map(
        _.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** [[bloomColumnsOf]] at a pinned version (None = latest). */
  private[sources] def bloomColumnsAt(spark: SparkSession, table: String,
      asOf: Option[Long]): Set[String] = bloomColumnsOf(asOf match {
    case Some(v) => readManifestRaw(fs(spark, table), table, v)
    case None => latestRaw(spark, table)._2
  })

  private def propMap(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith(PropPrefix) =>
      val rest = l.drop(PropPrefix.length)
      val cut = rest.indexOf(' ')
      if (cut < 0) rest -> "" else rest.take(cut) -> rest.drop(cut + 1)
    }.toMap

  private def propLines(m: Map[String, String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$PropPrefix$k $v" }

  /** carried (deleteFile, commitVersion, keyColumns) triples. */
  private def delLines(lines: Seq[String]): Seq[(String, Long, Seq[String])] =
    lines.filter(_.startsWith(DelPrefix)).map { l =>
      val parts = l.drop(DelPrefix.length).split(" ").toSeq
      (parts.head, parts(1).toLong, parts.drop(2))
    }

  /** carried position-delete file names. */
  private def delPosLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(DelPosPrefix)).map(_.drop(DelPosPrefix.length))

  private def schemaLine(lines: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    lines.find(_.startsWith(SchemaPrefix)).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(l.drop(SchemaPrefix.length))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  // Manifests are IMMUTABLE once published (written exactly once via an
  // atomic no-overwrite primitive), so their contents cache for the
  // driver's lifetime: multi-action jobs (append→upsert→delete→compact→
  // changefeed) re-walk the chain per action, and fileVersions walks
  // EVERY version — each walk is pure cache hits after the first. LRU-
  // bounded; the only paths that can re-bind a (table, version) key to
  // new content — DROP TABLE / RENAME / CTAS-abort re-creating a dir —
  // must call [[invalidateCache]].
  private val ManifestCacheMax = 8192
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), Seq[String]](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), Seq[String]]): Boolean =
          size() > ManifestCacheMax
      })

  // Resolved delete-layer bitmaps cache the same way (the resolution
  // depends only on a pinned manifest + immutable files — vacuum's
  // clamp keeps even file-version attribution semantics stable), so
  // repeated scans of a layered table pay the plan-time resolution job
  // once per VERSION, not per query. Oversized maps skip the cache.
  private val BitmapCacheMax = 64
  private val BitmapCacheEntryMaxBytes = 16L << 20
  private val bitmapCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, String),
          Map[String, PositionBitmap]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, String),
              Map[String, PositionBitmap]]): Boolean =
          size() > BitmapCacheMax
      })

  private def cachedBitmaps(table: String, v: Long, kind: String)(
      compute: => Map[String, PositionBitmap]): Map[String, PositionBitmap] = {
    val key = (table, v, kind)
    val hit = bitmapCache.get(key)
    if (hit != null) return hit
    val m = compute
    if (m.valuesIterator.map(_.estimatedBytes).sum <= BitmapCacheEntryMaxBytes)
      bitmapCache.put(key, m)
    m
  }

  /** `file -> stats json` from manifest `lines`. */
  private def statsMapOf(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith(StatsPrefix) =>
      val rest = l.drop(StatsPrefix.length)
      val cut = rest.indexOf(' ')
      if (cut < 0) rest -> "" else rest.take(cut) -> rest.drop(cut + 1)
    }.toMap

  // Footer-derived stats of committed files cache for the driver's
  // lifetime (files are immutable once published): an OCC retry loop
  // re-reconciles per attempt but each footer is read once.
  private val StatsComputeCacheMax = 65536
  private val statsComputeCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), String](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), String]): Boolean =
          size() > StatsComputeCacheMax
      })

  // Parsed per-version stats maps, LRU like the bitmap cache: planning a
  // filtered scan of a 100k-file snapshot should parse each file's JSON
  // once per VERSION, not once per query.
  private val StatsParsedCacheMax = 256
  private val statsParsedCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long),
          Map[String, FileStats.FileStat]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long),
              Map[String, FileStats.FileStat]]): Boolean =
          size() > StatsParsedCacheMax
      })

  /** `file -> parsed stats` of the snapshot at `asOf` (None = latest).
    * Missing/corrupt entries are simply absent — absent files can never
    * be skipped. Used by the DSv2 scan's plan-time file pruning.
    */
  private[sources] def parsedStatsAt(spark: SparkSession, table: String,
      asOf: Option[Long]): Map[String, FileStats.FileStat] = {
    val f = fs(spark, table)
    val (v, lines) = asOf match {
      case Some(x) => (x, try readManifestRaw(f, table, x)
        catch { case _: Exception => Nil })
      case None => latestRaw(spark, table)
    }
    val key = (table, v)
    val hit = statsParsedCache.get(key)
    if (hit != null) return hit
    val parsed = statsMapOf(lines).flatMap { case (n, j) =>
      FileStats.parse(j).map(n -> _)
    }
    statsParsedCache.put(key, parsed)
    parsed
  }

  /** One manifest read answering everything the DSv2 aggregate-pushdown
    * decision needs about the snapshot at `asOf` (None = latest): data
    * files, whether any merge-on-read delete layer is pending (footer
    * stats count logically-deleted rows, so a pending layer forbids
    * stats-only answers), and the parsed per-file stats.
    */
  private[sources] def aggPlanSnapshot(spark: SparkSession, table: String,
      asOf: Option[Long])
      : (Seq[String], Boolean, Map[String, FileStats.FileStat]) = {
    val f = fs(spark, table)
    val (v, lines) = asOf match {
      case Some(x) => (x, readManifestRaw(f, table, x))
      case None => latestRaw(spark, table)
    }
    (lines.filterNot(_.startsWith("#")),
      lines.exists(l =>
        l.startsWith(DelPrefix) || l.startsWith(DelPosPrefix)),
      parsedStatsAt(spark, table, Some(v)))
  }

  /** The DSv2 scan's bucket-layout probe for the snapshot at `asOf`
    * (None = latest): `Some((col, n))` iff the table declares bucketing,
    * has NO pending delete layer (layered scans plan one file per
    * partition for position filtering), and EVERY data file carries a
    * bucket name under exactly this spec — any stray file (pre-bucketing
    * append, foreign layout) soundly disables partition reporting until
    * a [[compact]] re-stages it.
    */
  private[sources] def bucketLayoutAt(spark: SparkSession, table: String,
      asOf: Option[Long]): Option[(String, Int)] = {
    val f = fs(spark, table)
    val lines = asOf match {
      case Some(x) => readManifestRaw(f, table, x)
      case None => latestRaw(spark, table)._2
    }
    bucketSpecOf(lines).filter { case (_, n) =>
      val files = lines.filterNot(_.startsWith("#"))
      files.nonEmpty &&
        !lines.exists(l =>
          l.startsWith(DelPrefix) || l.startsWith(DelPosPrefix)) &&
        files.forall(bucketOfFile(_, n).isDefined)
    }
  }

  /** Accepted stats-key spellings of column `col` (field-id first —
    * rename-proof — then current name) for matching the sorted-file
    * marker and looking up its bounds.
    */
  private[sources] def statsKeyCandidates(
      schema: Option[org.apache.spark.sql.types.StructType],
      col: String): Set[String] =
    schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(col))) match {
      case Some(f) if f.metadata.contains(FieldIdKey) =>
        Set("i" + f.metadata.getLong(FieldIdKey), "n" + f.name)
      case Some(f) => Set("n" + f.name)
      case None => Set("n" + col)
    }

  /** The DSv2 scan's sort-order probe for the snapshot at `asOf`: the
    * longest column prefix (current-schema names) on which EVERY scan
    * partition yields rows ascending / nulls-first. Per-file sortedness
    * comes from the write-time `sorted` stats marker ([[FileStats
    * .FileStat]] — footer bounds can never prove inner order, only the
    * committing writer may stamp it). Under a bucket layout (`grouped`,
    * the scan's one-partition-per-bucket shape) a multi-file bucket
    * additionally needs STRICTLY disjoint, provably null-free
    * first-column ranges, so concatenating its files in min-bound order
    * (the order [[GraftTableScan]] then plans) stays sorted across file
    * boundaries. Nil = claim nothing; every gate fails toward Nil, so a
    * false claim — the one failure mode that would return WRONG query
    * results, not slow ones — is impossible from missing metadata.
    */
  private[sources] def reportableOrderingAt(spark: SparkSession,
      table: String, asOf: Option[Long],
      grouped: Option[(String, Int)]): (Seq[String], Set[String]) = {
    val none = (Nil, Set.empty[String])
    val f = fs(spark, table)
    val lines = asOf match {
      case Some(x) => readManifestRaw(f, table, x)
      case None => latestRaw(spark, table)._2
    }
    val files = lines.filterNot(_.startsWith("#"))
    if (files.isEmpty) return none
    val declared = grouped match {
      // the bucketed stage() sorts by the cluster columns when declared,
      // else by the bucket key — mirror exactly what the writer did
      case Some((c, _)) =>
        val cc = clusterColsOf(lines); if (cc.nonEmpty) cc else Seq(c)
      case None => clusterColsOf(lines)
    }
    if (declared.isEmpty) return none
    val schema = schemaLine(lines)
    val keys = declared.map(statsKeyCandidates(schema, _))
    val stats = parsedStatsAt(spark, table, asOf)
    // longest marker prefix shared by every data file
    var k = declared.length
    files.foreach { n =>
      val marker = stats.get(n).map(_.sorted).getOrElse(Nil)
      var i = 0
      while (i < k && marker.lift(i).exists(keys(i).contains)) i += 1
      k = math.min(k, i)
      if (k == 0) return none
    }
    val claim = (declared.take(k), keys.head)
    grouped match {
      case Some((_, n)) =>
        val firstKeys = keys.head
        val ok = files.groupBy(bucketOfFile(_, n).getOrElse(-1))
          .values.filter(_.sizeIs > 1).forall { names =>
            val bounds = names.map { nm =>
              stats.get(nm).flatMap { st =>
                firstKeys.iterator.flatMap(st.cols.get).nextOption()
                  .filter(c => c.nulls.contains(0L) && !c.allNull)
                  .flatMap(c => c.min.zip(c.max))
              }
            }
            bounds.forall(_.isDefined) &&
              bounds.flatten
                .sortWith((a, b) => FileStats.cmp(a._1, b._1).exists(_ < 0))
                .sliding(2).forall {
                  case Seq((_, aMax), (bMin, _)) =>
                    FileStats.cmp(aMax, bMin).exists(_ < 0)
                  case _ => true
                }
          }
        if (ok) claim else none
      case None => claim
    }
  }

  /** Concatenation order certified by [[reportableOrderingAt]]'s
    * disjointness check: `names` ascending by the min bound of the
    * first claimed sort column (boundless files — impossible under an
    * active claim — sort first, harmlessly, as the claim is off).
    */
  private[sources] def orderFilesByMin(
      stats: Map[String, FileStats.FileStat], firstKeys: Set[String],
      names: Seq[String]): Seq[String] = {
    def minOf(nm: String): Option[Any] = stats.get(nm)
      .flatMap(st => firstKeys.iterator.flatMap(st.cols.get).nextOption())
      .flatMap(_.min)
    names.sortWith { (a, b) =>
      (minOf(a), minOf(b)) match {
        case (Some(x), Some(y)) => FileStats.cmp(x, y).exists(_ < 0)
        case (None, Some(_)) => true
        case _ => false
      }
    }
  }

  /** The commit-side stats protocol (see [[StatsPrefix]]): carry stats
    * of retained files from manifest `v-1` (or from `lines` itself),
    * compute fresh ones from the footers of files new in this commit,
    * and keep lines only for files present in the new snapshot.
    */
  private def reconcileStats(spark: SparkSession, table: String, v: Long,
      lines: Seq[String]): Seq[String] = {
    val data = lines.filterNot(_.startsWith("#"))
    val base = lines.filterNot(_.startsWith(StatsPrefix))
    if (data.isEmpty) return base
    val given = statsMapOf(lines)
    val prev: Map[String, String] =
      if (v <= 1) Map.empty
      else
        try statsMapOf(readManifestRaw(fs(spark, table), table, v - 1))
        catch { case _: Exception => Map.empty }
    val conf = spark.sparkContext.hadoopConfiguration
    def computed(n: String): Option[String] = {
      val key = (table, n)
      Option(statsComputeCache.get(key)).orElse {
        val s =
          try {
            val p = new Path(table, n)
            val len = p.getFileSystem(conf).getFileStatus(p).getLen
            Some(FileStats.fromFooter(readParquetFooter(conf, p), len,
              Option(stageSortCache.get((table, n))).getOrElse(Nil)))
          } catch { case _: Exception => None }
        s.foreach(statsComputeCache.put(key, _))
        s
      }
    }
    val missing = data.filterNot(n => given.contains(n) || prev.contains(n))
    val fresh: Map[String, String] =
      if (missing.sizeIs <= 4)
        missing.flatMap(n => computed(n).map(n -> _)).toMap
      else {
        // large commits (streaming sinks, wide repartitions) read their
        // new footers concurrently — plan-time work, IO-bound
        import scala.collection.parallel.CollectionConverters._
        missing.par.flatMap(n => computed(n).map(n -> _)).seq.toMap
      }
    base ++ data.flatMap(n =>
      given.get(n).orElse(prev.get(n)).orElse(fresh.get(n))
        .map(j => StatsPrefix + n + " " + j))
  }

  /** Drop cached manifests of `table` — required before a path can be
    * REUSED for different content (drop/rename/abort-and-recreate).
    */
  def invalidateCache(table: String): Unit = {
    manifestCache.synchronized {
      val it = manifestCache.keySet().iterator()
      val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) { val k = it.next(); if (k._1 == table) keep += k }
      keep.foreach(manifestCache.remove)
    }
    bitmapCache.synchronized {
      val it = bitmapCache.keySet().iterator()
      val keep =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      while (it.hasNext) { val k = it.next(); if (k._1 == table) keep += k }
      keep.foreach(bitmapCache.remove)
    }
    statsComputeCache.synchronized {
      val it = statsComputeCache.keySet().iterator()
      val keep = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val k = it.next(); if (k._1 == table) keep += k }
      keep.foreach(statsComputeCache.remove)
    }
    statsParsedCache.synchronized {
      val it = statsParsedCache.keySet().iterator()
      val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) { val k = it.next(); if (k._1 == table) keep += k }
      keep.foreach(statsParsedCache.remove)
    }
  }

  private def readManifestRaw(f: FileSystem, table: String, v: Long): Seq[String] = {
    val key = (table, v)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val p = commitPath(table, v)
    val data = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(data) finally in.close()
    val lines = new String(data, "UTF-8").split("\n").filter(_.nonEmpty).toSeq
    manifestCache.put(key, lines)
    lines
  }

  private def readManifest(f: FileSystem, table: String, v: Long): Seq[String] =
    readManifestRaw(f, table, v).filterNot(_.startsWith("#"))

  /** writerId -> highest committed epoch, from manifest `lines`. */
  private def txnMap(lines: Seq[String]): Map[String, Long] =
    lines.collect { case l if l.startsWith(TxnPrefix) =>
      val Array(w, e) = l.drop(TxnPrefix.length).split(" ", 2)
      w -> e.toLong
    }.toMap

  private def txnLines(m: Map[String, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (w, e) => s"$TxnPrefix$w $e" }

  /** (version, raw manifest lines incl. metadata) of the latest commit. */
  private def latestRaw(spark: SparkSession, table: String): (Long, Seq[String]) = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/$CommitsDir")
    if (!f.exists(dir)) return (0L, Nil)
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    if (versions.isEmpty) return (0L, Nil)
    val v = versions.max
    (v, readManifestRaw(f, table, v))
  }

  /** (version, files) of the latest committed snapshot; (0, Nil) for an
    * empty/new table.
    */
  def latest(spark: SparkSession, table: String): (Long, Seq[String]) = {
    val (v, lines) = latestRaw(spark, table)
    (v, lines.filterNot(_.startsWith("#")))
  }

  /** Highest epoch this writer has committed, or None. The streaming
    * exactly-once check: a restarted query re-offering an epoch <= this
    * is a REPLAY and must not write again.
    */
  def lastCommittedEpoch(spark: SparkSession, table: String,
      writerId: String): Option[Long] =
    txnMap(latestRaw(spark, table)._2).get(writerId)

  /** Commit history (DESCRIBE HISTORY): one row per retained version
    * with the op kind, file delta, and writer txn watermarks — all from
    * the manifests, no data files touched. Vacuumed history is absent;
    * pre-`#op`-marker commits show op null.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    val vs = versions(spark, table)
    val rows = vs.foldLeft(
      (Set.empty[String], List.empty[(Long, Option[String], Int, Int, Map[String, Long])])) {
      case ((prev, acc), v) =>
        val raw = readManifestRaw(f, table, v)
        val cur = raw.filterNot(_.startsWith("#")).toSet
        val op = raw.collectFirst {
          case l if l.startsWith(OpPrefix) => l.drop(OpPrefix.length)
        }
        val row = (v, op, (cur -- prev).size, (prev -- cur).size, txnMap(raw))
        (cur, row :: acc)
    }._2.reverse
    rows.toDF("version", "op", "files_added", "files_removed", "txns")
  }

  /** The table's DECLARED schema at the latest version (None for
    * pre-schema tables, which infer from data files).
    */
  def tableSchema(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaLine(latestRaw(spark, table)._2)

  /** The declared schema AS OF `version` — time travel reads each
    * snapshot with the schema it was committed under.
    */
  def tableSchema(spark: SparkSession, table: String, version: Long)
      : Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, table)
    if (!f.exists(commitPath(table, version))) None
    else schemaLine(readManifestRaw(f, table, version))
  }

  /** Table properties at the latest version (ALTER TABLE SET
    * TBLPROPERTIES state). Empty for tables that never set any.
    */
  def tableProperties(spark: SparkSession, table: String): Map[String, String] =
    propMap(latestRaw(spark, table)._2)

  /** Set/unset table properties in ONE metadata commit (OCC like every
    * commit; op `properties`). Keys must be space-free — the manifest
    * line format is `#prop <key> <rest-of-line value>`.
    */
  def alterProperties(spark: SparkSession, table: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    require(set.nonEmpty || unset.nonEmpty, "nothing to change")
    (set.keys ++ unset).foreach(k => require(
      k.nonEmpty && !k.exists(_.isWhitespace),
      s"property key '$k' must be non-empty and space-free"))
    set.values.foreach(v => require(!v.contains("\n"),
      "property values must be single-line"))
    occCommit(spark, table, "alterProperties") { (_, lines) =>
      if (set.get(CdcProperty).exists(_.trim.equalsIgnoreCase("true")))
        // tables born via plain append have no declared schema line —
        // one footer read of a data file stands in (enable-time only)
        requireNoReservedCdfColumns(schemaLine(lines).orElse(
          lines.filterNot(_.startsWith("#")).headOption.map(f =>
            spark.read.parquet(s"$table/$f").schema)),
          s"enable $CdcProperty on $table")
      set.get(ClusterByProperty).foreach(spec =>
        validateClusterSpec(spec, schemaLine(lines).orElse(
          lines.filterNot(_.startsWith("#")).headOption.map(f =>
            spark.read.parquet(s"$table/$f").schema)), table))
      // bucketing is SET-ONCE (see BucketByProperty): a different spec
      // would silently re-interpret existing files' bucket names
      val curBucket = propMap(lines).get(BucketByProperty)
      set.get(BucketByProperty).foreach { spec =>
        require(parseBucketSpec(spec).isDefined,
          s"$BucketByProperty must be '<column>,<numBuckets>' " +
            s"(positive count), got '$spec'")
        require(curBucket.forall(_ == spec),
          s"$BucketByProperty is ${curBucket.get} and cannot change — " +
            "bucket layout is fixed at declaration")
        val (c, _) = parseBucketSpec(spec).get
        validateClusterSpec(c, schemaLine(lines).orElse(
          lines.filterNot(_.startsWith("#")).headOption.map(f =>
            spark.read.parquet(s"$table/$f").schema)), table,
          prop = BucketByProperty)
      }
      require(!(unset.contains(BucketByProperty) && curBucket.isDefined),
        s"$BucketByProperty cannot be unset — bucket layout is fixed " +
          "at declaration")
      set.filter(_._1.startsWith(ConstraintPrefix)).foreach {
        case (k, sql) =>
          val files = lines.filterNot(_.startsWith("#"))
          validateConstraint(spark, k.stripPrefix(ConstraintPrefix), sql,
            schemaLine(lines).orElse(files.headOption.map(f =>
              spark.read.parquet(s"$table/$f").schema)),
            if (files.isEmpty) None
            else Some(readFilesDeleteAware(spark, table, files,
              schemaLine(lines), delLines(lines), keepFileCol = false,
              posDels = delPosLines(lines))),
            table)
      }
      val next = (propMap(lines) ++ set) -- unset
      Commit(Rebase, base =>
        metaLines(base, "properties", newProps = Some(next)) ++
          dataFiles(base))
    }
  }

  /** Create an empty table with a declared schema: commit v1 with no
    * data files. The catalog / CTAS primitive — a table EXISTS once (and
    * only once) this manifest lands, atomically. Throws if any version
    * is already committed, unless `ifNotExists`.
    */
  def create(spark: SparkSession, table: String,
      schema0: org.apache.spark.sql.types.StructType,
      ifNotExists: Boolean = false): Long = {
    require(schema0.nonEmpty, s"cannot create $table with an empty schema")
    // every created table carries parquet field ids from birth — the
    // prerequisite for rename/drop evolution
    val (idFields, fid) = assignIds(schema0.fields.toSeq, maxFieldId(schema0))
    val schema = org.apache.spark.sql.types.StructType(idFields.toArray)
    occCommit(spark, table, "create") { (v, _) =>
      if (v == 0)
        Commit(Rebase, _ =>
          metaLines(Nil, "create", Some(schema), newFid = Some(fid)))
      else if (ifNotExists) Done(v)
      else throw new IllegalStateException(
        s"table $table already exists (version $v)")
    }
  }

  /** Column-append schema evolution: a METADATA-ONLY commit that widens
    * the declared schema with `newCols`. No data file is touched — files
    * written before this commit read the new columns as null, exactly
    * Delta's `ALTER TABLE ADD COLUMNS`. New columns must be nullable
    * (old rows have no value for them) and must not collide with
    * existing names (case-insensitively, matching Spark's resolver).
    * Pre-schema tables first materialize their inferred file schema so
    * evolution has a base to widen.
    */
  def addColumns(spark: SparkSession, table: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    newCols.foreach(f => require(f.nullable,
      s"new column ${f.name} must be nullable: rows written before this " +
        "commit have no value for it"))
    occCommit(spark, table, "addColumns") { (_, lines) =>
      val base = schemaLine(lines).getOrElse {
        val files = dataFiles(lines)
        require(files.nonEmpty,
          s"$table has no declared schema and no data files to infer one")
        spark.read.parquet(s"$table/${files.head}").schema
      }
      val existing = base.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val dup = newCols.map(_.name).find(n =>
        existing.contains(n.toLowerCase(java.util.Locale.ROOT)))
      require(dup.isEmpty, s"column ${dup.orNull} already exists in $table")
      if (cdcEnabled(lines))
        requireNoReservedCdfColumns(
          Some(org.apache.spark.sql.types.StructType(newCols)),
          s"add column(s) to CDC-enabled $table")
      // new columns get FRESH ids past the high-water mark — after a
      // DROP, a re-added same-named column must not inherit the old id
      val (idNew, fid) = assignIds(newCols, math.max(fidOf(lines),
        maxFieldId(base)))
      val widened = org.apache.spark.sql.types.StructType(base.fields ++ idNew)
      Commit(Rebase, b =>
        metaLines(b, "schema", Some(widened), newFid = Some(fid)) ++
          dataFiles(b))
    }
  }

  /** Record `schema` as the declared schema of an EXISTING table that
    * has none yet (metadata-only commit) — the atomic-CTAS closer: the
    * staged write's append committed data without a schema line, this
    * stamps the declared schema on top. No-op if a schema is already
    * declared. The schema must cover the data files' columns; callers
    * (the catalog) guarantee it — it IS the schema the write ran under.
    */
  private[graft] def declareSchema(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Long =
    occCommit(spark, table, "declareSchema") { (v, lines) =>
      if (schemaLine(lines).isDefined) Done(v)
      // NO field ids here: the staged CTAS data was already written
      // under the id-less schema, and stamping ids now would make the
      // id-matching read miss every column of those files. The table
      // stays name-matched until [[materializeFieldIds]] upgrades it.
      else Commit(Rebase, base =>
        metaLines(base, "schema", Some(schema)) ++ dataFiles(base))
    }

  /** Align `df` to the table's declared schema for a write, by NAME
    * (order-insensitive, case-insensitive like Spark's resolver):
    *   - declared columns missing from `df` → null (they must be nullable);
    *   - type mismatches → upcast when lossless (`Cast.canUpCast`), else refuse;
    *   - extra `df` columns → refused, unless `evolve`, in which case they
    *     are APPENDED to the declared schema and the widened schema is
    *     returned for the commit to record.
    * Returns the aligned frame and the extra fields (empty when not
    * evolving).
    */
  private def alignToSchema(df: DataFrame,
      declared: org.apache.spark.sql.types.StructType, evolve: Boolean,
      table: String): (DataFrame,
        Seq[org.apache.spark.sql.types.StructField]) = {
    import org.apache.spark.sql.functions.{col, lit}
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val byName = df.schema.fields.map(f => key(f.name) -> f).toMap
    require(byName.size == df.schema.size,
      s"write to $table has case-ambiguous duplicate column names")
    val declaredKeys = declared.fieldNames.map(key).toSet
    val extras = df.schema.fields.filterNot(f => declaredKeys.contains(key(f.name)))
    if (extras.nonEmpty && !evolve) throw new IllegalArgumentException(
      s"write to $table carries columns not in the table schema: " +
        extras.map(_.name).mkString(", ") +
        " — drop them or pass evolveSchema=true")
    // aliases carry the declared field METADATA (the parquet field id),
    // so staged parquet files physically record each column's id
    val cols = declared.fields.map { tf =>
      byName.get(key(tf.name)) match {
        case None =>
          require(tf.nullable, s"write to $table omits non-nullable " +
            s"column ${tf.name}")
          lit(null).cast(tf.dataType).as(tf.name, tf.metadata)
        case Some(sf) if sf.dataType == tf.dataType =>
          col(sf.name).as(tf.name, tf.metadata)
        case Some(sf) =>
          require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
            sf.dataType, tf.dataType),
            s"write to $table cannot losslessly cast column ${sf.name} " +
              s"from ${sf.dataType.simpleString} to ${tf.dataType.simpleString}")
          col(sf.name).cast(tf.dataType).as(tf.name, tf.metadata)
      }
    } ++ extras.map(f => col(f.name))
    (df.select(cols.toSeq: _*), extras.toSeq)
  }

  /** Widen `declared` with any of `extras` it does not already have —
    * re-resolved per commit retry so an evolving append merges with, not
    * clobbers, a concurrently evolved schema.
    */
  private def widen(declared: org.apache.spark.sql.types.StructType,
      extras: Seq[org.apache.spark.sql.types.StructField])
      : Option[org.apache.spark.sql.types.StructType] = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val have = declared.fieldNames.map(key).toSet
    // schema-merge columns get NO field id, deliberately: their data
    // files are staged BEFORE the widening commit, so a pre-assigned id
    // could collide with a concurrent writer's (two racers both stamp
    // id N onto different columns — the reader would then serve one
    // writer's data under the other's name). Id-less fields match by
    // NAME on read (per-field fallback), exactly the pre-id contract;
    // columns added via [[addColumns]] (schema commit BEFORE any file
    // carries them) do get ids and stay renameable.
    val add = extras.filterNot(f => have.contains(key(f.name)))
      .map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(FieldIdKey).build()))
    if (add.isEmpty) None
    else Some(org.apache.spark.sql.types.StructType(declared.fields ++ add))
  }

  /** Data files of the snapshot committed as `version` (for the DSv2
    * time-travel scan). Throws like [[read(spark:org\.apache\.spark\.sql\.SparkSession,table:String,version:Long)* read(version)]] if vacuumed/absent.
    */
  private[sources] def filesAt(spark: SparkSession, table: String,
      version: Long): Seq[String] = {
    val f = fs(spark, table)
    if (!f.exists(commitPath(table, version)))
      throw new NoSuchElementException(
        s"version $version of $table does not exist (vacuumed or never " +
          s"committed); available: ${versions(spark, table).mkString(", ")}")
    readManifest(f, table, version)
  }

  /** (version, commitTimeMillis) per retained commit, ascending — the
    * manifest file's mtime IS the commit time (it is written exactly
    * once, atomically). Backs `TIMESTAMP AS OF`.
    */
  def versionTimestamps(spark: SparkSession, table: String): Seq[(Long, Long)] = {
    val f = fs(spark, table)
    versions(spark, table).map(v =>
      v -> f.getFileStatus(commitPath(table, v)).getModificationTime)
  }

  /** All committed versions, ascending; empty for a new table. */
  /** Op markers of the retained commits in `(fromVersion, toVersion]` —
    * manifest metadata only, no data files touched. Lets an incremental
    * consumer decide from the LOG whether a CDF window can contain
    * non-insert rows (every op `append`/`compact`/`schema`/`properties`/
    * `set-default` contributes nothing or only inserts) instead of
    * paying a derivation scan to probe the rows themselves.
    */
  def opsInRange(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long): Seq[Option[String]] = {
    val f = fs(spark, table)
    ((math.max(fromVersion, 0L) + 1) to toVersion)
      .filter(_ >= 1)
      .map { v =>
        // a vacuumed manifest is UNKNOWN (None), never skipped — a
        // caller like insertOnlyRange must not certify a window whose
        // commits it cannot see
        if (!f.exists(commitPath(table, v))) None
        else readManifestRaw(f, table, v).collectFirst {
          case l if l.startsWith(OpPrefix) => l.drop(OpPrefix.length)
        }
      }
  }

  /** Whether every retained commit in `(fromVersion, toVersion]` is one
    * whose CDF contribution is insert-only (or empty). False the moment
    * any commit is row-level (upsert/update/delete/replace/restore/...)
    * or pre-dates the op marker — callers then take the general path.
    */
  def insertOnlyRange(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): Boolean = {
    val safe = Set("append", "compact", "schema", "properties",
      "set-default", "create")
    opsInRange(spark, table, fromVersion, toVersion)
      .forall(_.exists(safe.contains))
  }

  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/$CommitsDir")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted.toSeq
  }

  /** Atomically commit `files` as version `v`; false if someone else won
    * the race for `v`. Only [[occCommit]] calls it.
    */
  private def tryCommit(spark: SparkSession, table: String, v: Long,
      lines0: Seq[String]): Boolean = {
    // stats are best-effort metadata: their reconciliation must never
    // fail a commit
    val files =
      try reconcileStats(spark, table, v, lines0)
      catch { case _: Exception => lines0 }
    val f = fs(spark, table)
    val scheme = f.getUri.getScheme
    val isLocal = scheme == "file"
    // object stores (s3a, gs, abfs...) have NO atomic no-overwrite
    // primitive — a check-then-rename would let two racers both "win" a
    // version and silently lose one commit. Refuse, as Delta does
    // without an external CAS/lock service.
    if (!isLocal && !Set("hdfs", "viewfs", "webhdfs").contains(scheme))
      throw new UnsupportedOperationException(
        s"VersionedTable commits need atomic no-overwrite rename or " +
          s"link; filesystem scheme '$scheme' has neither — configure an " +
          "external commit coordinator")
    f.mkdirs(new Path(s"$table/$CommitsDir"))
    // Write the full manifest to a temp name, then publish with an ATOMIC
    // no-overwrite primitive, so readers never see a torn manifest and
    // exactly one racer wins a version. HDFS rename refuses an existing
    // destination atomically; POSIX/local rename OVERWRITES, so for file:
    // URIs we publish via hard-link creation — link(2) fails with EEXIST
    // atomically (the classic lock-file primitive).
    val tmp = new Path(s"$table/$CommitsDir/.tmp-${java.util.UUID.randomUUID}")
    val dst = commitPath(table, v)
    val won =
      try {
        val out = f.create(tmp, false)
        try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        if (isLocal) {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } else f.rename(tmp, dst)
      } catch {
        // FileAlreadyExistsException (a lost link race) is one of these
        case _: java.io.IOException => false
      }
    // `won` is final here: the link/rename above published or did not.
    // Cleanup is best-effort — a failing delete must never turn a won
    // publish into a reported lost race (the caller would then commit
    // the same staged files again as v+1).
    if (!won || isLocal)
      try f.delete(tmp, false)
      catch { case _: java.io.IOException => }
    won
  }

  // ---------- the OCC commit primitive ----------

  /** Attempts a commit makes before giving up. */
  private val MaxCommitAttempts = 20

  /** How a commit treats writes that landed after its snapshot read —
    * the op → rule table is in the header.
    */
  private sealed trait Conflict
  /** Commit over the snapshot prepare read, with no re-read: a raced
    * commit makes the publish lose and the next attempt re-prepares.
    */
  private case object Rebase extends Conflict
  /** Re-read at commit time; commit over the latest iff
    * `ok(version, lines)`, else drop the attempt's files and re-prepare.
    */
  private final case class Recheck(ok: (Long, Seq[String]) => Boolean)
    extends Conflict

  /** Retry unless the data files AND the pending delete layer are those
    * of the prepare read (a raced layer commit adds no data file, but a
    * rewrite's fresh file names would escape it).
    */
  private def sameFilesAndLayer(lines: Seq[String]): Conflict =
    Recheck((_, latest) =>
      dataFiles(latest).toSet == dataFiles(lines).toSet &&
        deleteLayer(latest) == deleteLayer(lines))

  /** Re-scan unless nothing at all committed since the prepare read. */
  private def sameVersion(v: Long): Conflict = Recheck((latest, _) => latest == v)

  /** What one attempt's prepare step decided. */
  private sealed trait Step
  /** Nothing to commit: return `version`. `discard` also deletes the
    * op's owned files (a racing instance already committed its epoch).
    */
  private final case class Done(version: Long, discard: Boolean = false)
    extends Step
  /** Publish `manifest(base)` as the next version under `rule`, where
    * `base` is the snapshot the rule commits over. `staged` are the files
    * this attempt wrote; they are deleted if the attempt loses or fails.
    */
  private final case class Commit(rule: Conflict,
      manifest: Seq[String] => Seq[String], staged: Seq[String] = Nil)
    extends Step

  /** The one OCC loop every commit goes through. Each attempt reads the
    * latest snapshot, runs `prepare` on it, fires [[commitRaceHook]],
    * applies the step's conflict rule and publishes through
    * [[tryCommit]]. `owned` are files the op staged once, before its
    * first attempt: they are deleted when the op gives up, fails, or
    * finds its epoch already committed. `prepare` must not `return`
    * (a non-local return would read as a failure and delete `owned`).
    */
  private def occCommit(spark: SparkSession, table: String, op: String,
      owned: Seq[String] = Nil)(
      prepare: (Long, Seq[String]) => Step): Long = {
    val f = fs(spark, table)
    def drop(names: Seq[String]): Unit =
      names.foreach(n => f.delete(new Path(table, n), false))
    var staged: Seq[String] = Nil
    try {
      var attempt = 0
      while (attempt < MaxCommitAttempts) {
        val (v, lines) = latestRaw(spark, table)
        prepare(v, lines) match {
          case Done(version, discard) =>
            if (discard) drop(owned)
            return version
          case Commit(rule, manifest, files) =>
            staged = files
            commitRaceHook()
            val base = rule match {
              case Rebase => Some((v, lines))
              case Recheck(ok) =>
                Some(latestRaw(spark, table)).filter(ok.tupled)
            }
            base match {
              case Some((bv, bl))
                  if tryCommit(spark, table, bv + 1, manifest(bl)) =>
                return bv + 1
              case _ =>
                drop(staged)
                staged = Nil
            }
        }
        attempt += 1
      }
      throw new IllegalStateException(
        s"$op lost $MaxCommitAttempts commit races for $table")
    } catch {
      case e: Throwable =>
        drop(staged ++ owned)
        throw e
    }
  }

  /** Stage `df` as new data files and return their table-relative names. */
  /** Spark's written part-file names carry the task partition index
    * (`part-00007-<uuid>...`); after `repartition(n, col)` that index
    * IS the bucket id. None = unexpected name shape (stage falls back
    * to unbucketed naming — sound, the scan just won't group).
    */
  private val SparkPartIdxRe = "^part-(\\d+)-.*".r
  private def partIndexOf(name: String): Option[Int] = name match {
    case SparkPartIdxRe(i) => Some(i.toInt)
    case _ => None
  }

  private def stage(spark: SparkSession, df00: DataFrame,
      table: String, prefix: String = "part-",
      cluster: Boolean = false, sortedBy: Seq[String] = Nil,
      markerSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    // bucket layout is applied HERE, not per call site: every data-file
    // write of a bucketed table (append, rewrite survivors, compaction,
    // replace) must keep files bucket-pure or the scan stops reporting
    // KeyGroupedPartitioning. CDC/delete-layer files are row-change
    // metadata, not snapshot data — never bucketed. `cluster` applies
    // the declared range layout for unbucketed tables in the same spot,
    // so the per-file `sorted` stats marker this function stamps can
    // never disagree with the data; `sortedBy` is for callers that
    // pre-sorted themselves (compaction's preserved range layout).
    val lines00 = if (prefix == "part-") latestRaw(spark, table)._2 else Nil
    // CHECK constraints ride the same central spot as layout: every
    // snapshot-data write is guarded, CDC/delete-layer files (row-change
    // metadata under other prefixes) never are. Applied BEFORE the
    // bucket/cluster repartition so the predicate runs map-side on the
    // incoming frame, not post-shuffle. Columns the DECLARED schema
    // marks non-nullable are enforced the same way (Delta NOT NULL
    // invariants) — without this, one null row silently poisons a
    // schema whose readers were promised none.
    val notNull = schemaLine(lines00).toSeq.flatMap(_.fields)
      .filter(f => !f.nullable &&
        df00.columns.exists(_.equalsIgnoreCase(f.name)))
      .map(f => s"not-null:${f.name}" -> s"`${f.name}` IS NOT NULL")
    val df0 = applyConstraints(df00, constraintsOf(lines00) ++ notNull)
    val lines0 = lines00
    val bucket = bucketSpecOf(lines0).flatMap { case (c, n) =>
      df0.columns.find(_.equalsIgnoreCase(c)).map(actual => (actual, n))
    }
    val clusterCols = appliedClusterCols(df0, clusterColsOf(lines0))
    val fileSort: Seq[String] = bucket match {
      case Some((c, _)) => if (clusterCols.nonEmpty) clusterCols else Seq(c)
      case None =>
        val viaCluster = if (cluster) clusterCols else Nil
        if (viaCluster.nonEmpty) viaCluster
        else sortedBy.flatMap(x => df0.columns.find(_.equalsIgnoreCase(x)))
    }
    val df = bucket match {
      case Some((c, n)) =>
        df0.repartition(n, org.apache.spark.sql.functions.col(c))
          .sortWithinPartitions(
            fileSort.map(org.apache.spark.sql.functions.col): _*)
      case None =>
        if (cluster && clusterCols.nonEmpty) clusterFrame(df0, clusterCols)
        else df0
    }
    val f = fs(spark, table)
    val tmp = new Path(table, s"_stage-${java.util.UUID.randomUUID}")
    // int64-micros timestamps, not INT96: INT96 carries NO usable parquet
    // footer statistics, so stats-based file skipping on event time — the
    // #1 predicate of a time-series lake — could never fire; int64 is
    // also the Iceberg/Delta interop encoding. Set around THIS write
    // only and restored after: a session-sticky flip would silently
    // change the encoding of the user's own unrelated parquet writes in
    // the same session (a lake write in a notebook must not re-encode a
    // later plain df.write). A racing concurrent stage restoring first
    // costs one INT96 lake file its ts stats — perf, never correctness.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsSession = df.sparkSession
    val tsPrev = tsSession.conf.get(tsKey, "INT96")
    if (tsPrev == "INT96")
      tsSession.conf.set(tsKey, "TIMESTAMP_MICROS")
    // opt-in parquet-NATIVE bloom filters (graft.bloom.columns property):
    // written inside the data files by the standard writer, probed at
    // plan time for point lookups (see BloomSkip). Per-write options —
    // nothing session-sticky. NDV hint via graft.bloom.ndv (per-file
    // expected distincts; default 100k keeps blooms ~100 KB).
    val bloomCols = bloomColumnsOf(lines00)
      .flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))
    val ndv = propMap(lines00).get("graft.bloom.ndv")
      .flatMap(_.toLongOption).getOrElse(100000L)
    val writer = bloomCols.foldLeft(df.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    try writer.parquet(tmp.toString)
    finally if (tsPrev == "INT96") tsSession.conf.set(tsKey, tsPrev)
    val staged = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      f.listStatus(tmp)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .foreach { s =>
          val pfx = bucket.flatMap { case (_, n) =>
            partIndexOf(s.getPath.getName).map(i =>
              prefix + bucketFileName(i, n))
          }.getOrElse(prefix)
          val name = s"$pfx${java.util.UUID.randomUUID}.parquet"
          // an ignored rename failure here would commit a manifest naming a
          // file that never landed, poisoning every subsequent read — throw
          // (cleaning up files already moved) instead
          if (!f.rename(s.getPath, new Path(table, name)))
            throw new java.io.IOException(
              s"failed to move staged file ${s.getPath} into $table")
          staged += name
        }
    } catch {
      case e: Throwable =>
        staged.foreach(n => f.delete(new Path(table, n), false))
        f.delete(tmp, true)
        throw e
    }
    f.delete(tmp, true)
    // remember the write-time sort for the stats commit (reconcileStats
    // stamps it into the fresh `#stats` line; carry-forward keeps it)
    if (fileSort.nonEmpty) {
      // REPLACE TABLE stages under a brand-new schema whose field ids
      // the old manifest can't know — the caller passes it explicitly
      val keys = sortStatsKeys(markerSchema.orElse(schemaLine(lines0)),
        fileSort)
      staged.foreach(n => stageSortCache.put((table, n), keys))
    }
    staged.toSeq
  }

  /** Stats keys (field-id preferred, so the marker survives column
    * RENAME exactly like bounds do) naming `cols` under the declared
    * schema; name-keyed for undeclared tables.
    */
  private def sortStatsKeys(
      schema: Option[org.apache.spark.sql.types.StructType],
      cols: Seq[String]): Seq[String] =
    cols.map { c =>
      schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c))) match {
        case Some(f) if f.metadata.contains(FieldIdKey) =>
          "i" + f.metadata.getLong(FieldIdKey)
        case Some(f) => "n" + f.name
        case None => "n" + c
      }
    }

  /** Write-time sort of files staged by this driver, pending their
    * stats commit. Same lifecycle as [[statsComputeCache]].
    */
  private val stageSortCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), Seq[String]](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), Seq[String]]): Boolean =
          size() > 65536 // == StatsComputeCacheMax (declared below — a
                         // forward val reference would read 0 at init)
      })

  /** Append `df`; retries commits until it wins. Returns the committed
    * version. On a table with a declared schema the frame is aligned by
    * name first ([[alignToSchema]]); `evolveSchema` lets extra columns
    * widen the schema in the same commit (merged, per retry, with any
    * concurrently evolved schema so no writer's columns are lost).
    */
  def append(spark: SparkSession, df: DataFrame, table: String,
      evolveSchema: Boolean = false, sortedBy: Seq[String] = Nil): Long = {
    val lines0 = latestRaw(spark, table)._2
    val (aligned, extras) = schemaLine(lines0) match {
      case Some(sc) => alignToSchema(df, sc, evolveSchema, table)
      case None => (df, Nil)
    }
    val staged = stage(spark, aligned, table, cluster = true,
      sortedBy = sortedBy)
    // writer txn watermarks carry forward; op marker is per-commit
    occCommit(spark, table, "append", owned = staged) { (_, _) =>
      Commit(Rebase, base =>
        metaLines(base, "append", schemaLine(base).flatMap(widen(_, extras))) ++
          dataFiles(base) ++ staged)
    }
  }

  /** Exactly-once append for streaming micro-batches: the commit records
    * "#txn writerId epoch" in the manifest, and an append whose epoch is
    * <= the writer's last committed epoch is a NO-OP (returns the current
    * version without staging). This is precisely Delta's `txn`/
    * `setTransaction` idempotence contract: foreachBatch delivers
    * at-least-once, so after a crash between sink-write and checkpoint-
    * advance the same batchId is re-offered — the manifest watermark, not
    * the checkpoint, is what de-duplicates it. The epoch check re-runs
    * inside the OCC retry loop, so two instances of the same restarted
    * query racing the same batch commit it exactly once.
    */
  def appendIdempotent(spark: SparkSession, df: DataFrame, table: String,
      writerId: String, epoch: Long): Long = {
    require(writerId.nonEmpty && !writerId.contains(" ") &&
      !writerId.contains("\n"), "writerId must be non-empty, no spaces")
    val (v0, lines0) = latestRaw(spark, table)
    if (txnMap(lines0).get(writerId).exists(_ >= epoch)) return v0
    val aligned = schemaLine(lines0) match {
      case Some(sc) => alignToSchema(df, sc, evolve = false, table)._1
      case None => df
    }
    commitStagedIdempotent(spark, table,
      stage(spark, aligned, table, cluster = true), writerId, epoch)
  }

  /** Stage `df` into the table dir (aligned to the declared schema,
    * constraints + layout applied — the central [[stage]] guarantees)
    * WITHOUT committing: the write-audit-publish entry point. The
    * returned file names are invisible to every reader until a commit
    * references them.
    */
  private[sources] def stageAligned(spark: SparkSession, df: DataFrame,
      table: String): Seq[String] = {
    val lines0 = latestRaw(spark, table)._2
    val aligned = schemaLine(lines0) match {
      case Some(sc) => alignToSchema(df, sc, evolve = false, table)._1
      case None => df
    }
    stage(spark, aligned, table, cluster = true)
  }

  /** Commit files ALREADY WRITTEN into the table dir (by distributed
    * streaming writers) as an idempotent epoch append: if `writerId`
    * already committed `epoch`, the files are deleted and the current
    * version returned — the exactly-once core of the native streaming
    * sink, same contract as [[appendIdempotent]].
    *
    * `requireVersion` makes the commit STRICT: if the table's latest
    * version is no longer the expected one, throw WITHOUT deleting the
    * staged files — the caller (WAP publish) keeps its session open to
    * rebase or abort.
    *
    * `deleteOnDuplicate` separates the two retry contracts. The
    * streaming sink re-STAGES fresh duplicate files on retry, so the
    * already-committed branch must delete them (true, the default). A
    * WAP publish retries with the SAME file names the first commit may
    * already reference — deleting them would corrupt the committed
    * manifest (silent data loss), so Wap.publish passes false: on a
    * duplicate the files are left alone (they are committed data), and
    * on a lost-races failure they also survive so the still-open
    * session marker never lists deleted files.
    */
  private[sources] def commitStagedIdempotent(spark: SparkSession,
      table: String, files: Seq[String], writerId: String, epoch: Long,
      requireVersion: Option[Long] = None,
      deleteOnDuplicate: Boolean = true): Long =
    occCommit(spark, table, "appendIdempotent",
        owned = if (deleteOnDuplicate) files else Nil) { (v, lines) =>
      // the epoch check re-runs per attempt: a racing instance of this
      // writer may have committed it — the batch is already in the table
      if (txnMap(lines).get(writerId).exists(_ >= epoch))
        Done(v, discard = true)
      else {
        requireVersion.filter(_ != v).foreach { expect =>
          throw new IllegalStateException(
            s"strict publish on $table expected base version $expect " +
              s"but found $v (concurrent commit); session left open")
        }
        Commit(Rebase, base =>
          metaLines(base, "append", txn = Some(writerId -> epoch)) ++
            dataFiles(base) ++ files)
      }
    }

  /** Snapshot read of the latest committed version. Pass `schema` so an
    * EMPTY/new table still yields a correctly-typed empty frame
    * (`spark.emptyDataFrame` has zero columns and breaks any downstream
    * column reference).
    */
  def read(spark: SparkSession, table: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val (_, lines) = latestRaw(spark, table)
    readFilesDeleteAware(spark, table, lines.filterNot(_.startsWith("#")),
      schema.orElse(schemaLine(lines)), delLines(lines),
      keepFileCol = false, posDels = delPosLines(lines))
  }

  /** Time-travel read: the exact snapshot committed as `version`. Manifests
    * persist on disk until vacuumed, so any un-vacuumed version is
    * readable — including pre-compaction snapshots (compaction keeps old
    * data files for exactly this reason).
    */
  def read(spark: SparkSession, table: String, version: Long): DataFrame = {
    val f = fs(spark, table)
    if (!f.exists(commitPath(table, version)))
      throw new NoSuchElementException(
        s"version $version of $table does not exist (vacuumed or never " +
          s"committed); available: ${versions(spark, table).mkString(", ")}")
    // each snapshot reads under the schema it was COMMITTED with — time
    // travel to before an ADD COLUMN does not show the later column, and
    // only the delete layer pending AT that version applies
    val raw = readManifestRaw(f, table, version)
    readFilesDeleteAware(spark, table, raw.filterNot(_.startsWith("#")),
      schemaLine(raw), delLines(raw), keepFileCol = false,
      posDels = delPosLines(raw))
  }

  /** Incremental changefeed: the rows ADDED by commits in
    * `(fromVersion, toVersion]`, each tagged with the `_commit_version`
    * that introduced it — the consumption primitive pairing with the
    * exactly-once streaming sink (write micro-batches in, tail new rows
    * out, both against manifest versions). A downstream job that
    * checkpoints the last version it processed reads exactly the new
    * data per tick, never rescanning the table — at 100 TB the
    * incremental read costs what the increment costs.
    *
    * Commit classification is structural: in this protocol a commit
    * either only adds files (append — its added files ARE the change) or
    * replaces files (compaction — a pure rewrite, NO data change; its
    * outputs are skipped). Appends that race a compaction land in their
    * own later commits, so the dichotomy is total.
    *
    * Like Delta's change feed, this needs the manifests in the range to
    * still exist: vacuum retention must cover consumer lag, else this
    * throws (never silently returns partial changes).
    */
  /** Table-relative files ADDED by each append commit in
    * `(fromVersion, min(toVersion, latest)]` — the manifest-diff core
    * shared by [[readChanges]] and the streaming source. Commits with
    * removals are compaction rewrites and contribute nothing. Throws if
    * any needed manifest was vacuumed (see [[readChanges]]).
    */
  def changedFilesBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long = Long.MaxValue,
      ignoreRowLevel: Boolean = false): Seq[(Long, Seq[String])] = {
    val f = fs(spark, table)
    val (vMax, _) = latest(spark, table)
    val hi = math.min(toVersion, vMax)
    val need = (math.max(fromVersion, 0L) to hi).filter(_ >= 1)
    val missing = need.filterNot(v => f.exists(commitPath(table, v)))
    if (missing.nonEmpty)
      throw new NoSuchElementException(
        s"changefeed ($fromVersion, $toVersion] of $table needs vacuumed " +
          s"manifest(s) ${missing.mkString(", ")} — retention must cover " +
          "consumer lag")
    val manifests: Map[Long, Seq[String]] =
      need.map(v => v -> readManifestRaw(f, table, v)).toMap + (0L -> Seq.empty)
    need.filter(_ > fromVersion).flatMap { v =>
      val raw = manifests(v)
      val cur = raw.filterNot(_.startsWith("#"))
      val prev = manifests(v - 1).filterNot(_.startsWith("#")).toSet
      val removed = prev -- cur
      // a merge-on-read delete is STRUCTURALLY empty (no data file added
      // or removed — the change hides in a #del metadata line), so the
      // structural dichotomy below would silently skip it; route it to
      // the row-level guard by op marker instead. EXCEPT: a delete-mor
      // commit that added NO layer line either (an empty CDC batch whose
      // only effect is advancing a #txn watermark) changed no rows and
      // is a genuine changefeed no-op.
      val isMor = raw.exists(_.startsWith(OpPrefix + "delete-mor")) &&
        deleteLayer(raw) != deleteLayer(manifests(v - 1))
      // a restore can be structurally add-only (re-referencing files a
      // past rewrite removed) while still changing rows via its layer
      // swap — never let it pass as a pure append
      val isRestore = raw.exists(_.startsWith(OpPrefix + "restore"))
      if (removed.isEmpty && !isMor && !isRestore) {
        // pure append (also an upsert/delete that touched no existing
        // file — its additions ARE genuinely new rows)
        val adds = cur.filterNot(prev)
        if (adds.isEmpty) None else Some(v -> adds)
      } else raw.collectFirst {
        case l if l.startsWith(OpPrefix) => l.drop(OpPrefix.length)
      } match {
        // compaction, materializeFieldIds (a "schema" op WITH
        // replacements — same rows, id-stamped files), or a pre-marker
        // manifest: pure rewrite, no row change
        case Some("compact") | Some("schema") | None => None
        case Some(rowOp) =>
          // an upsert/delete changed rows inside rewritten files — an
          // appended-rows feed CANNOT represent that. Fail loudly (the
          // consumer must resync from a snapshot) unless it explicitly
          // opted into skipping row-level commits — Delta's
          // ignoreChanges contract.
          if (ignoreRowLevel) None
          else throw new UnsupportedOperationException(
            s"changefeed hit row-level '$rowOp' commit v$v of $table: " +
              "an appended-rows feed cannot represent updates/deletes — " +
              "resync from a snapshot, or opt in to skipping them " +
              "(ignoreRowLevel / option ignoreRowLevelChanges)")
      }
    }
  }

  /** file name -> version of the commit that introduced it: the earliest
    * EXISTING manifest naming it (exact provenance unless that history
    * was vacuumed, in which case the file attributes to the earliest
    * retained manifest). Drives the batch `_commit_version` metadata
    * column.
    */
  def fileVersions(spark: SparkSession, table: String): Map[String, Long] = {
    val f = fs(spark, table)
    val out = scala.collection.mutable.HashMap.empty[String, Long]
    versions(spark, table).foreach { v =>
      readManifest(f, table, v).foreach { n =>
        if (!out.contains(n)) out(n) = v
      }
    }
    out.toMap
  }

  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long = Long.MaxValue,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      ignoreRowLevel: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val added = changedFilesBetween(spark, table, fromVersion, toVersion,
      ignoreRowLevel)
    // a schema-evolved table's increments span files with different
    // physical columns; reading them all under the declared (latest
    // retained in range) schema — an append-only superset — keeps the
    // unioned feed consistent, old batches null-filled
    val declared = schema.orElse(tableSchema(spark, table))
    if (added.isEmpty) {
      val base = declared.orElse {
        val (_, files) = latest(spark, table)
        if (files.nonEmpty)
          Some(spark.read.parquet(s"$table/${files.head}").schema)
        else None
      }.getOrElse(throw new IllegalArgumentException(
        s"no changes in ($fromVersion, $toVersion] and no schema available " +
          s"for empty changefeed of $table — pass schema="))
      readFiles(spark, table, Nil, Some(base))
        .withColumn("_commit_version", lit(0L).cast("long"))
        .where(lit(false))
    } else {
      added.map { case (v, files) =>
        readFiles(spark, table, files, declared)
          .withColumn("_commit_version", lit(v))
      }.reduce(_ unionByName _)
    }
  }

  /** FILE-level CDF planning for the DSv2 feed: `(version, file,
    * isCdc)` triples for commits in `(fromVersion, min(toVersion,
    * latest)]` — append commits contribute their added data files
    * (`isCdc=false`, the reader synthesizes `_change_type='insert'`),
    * row-level commits contribute the exact CDC file they wrote at
    * commit time (`isCdc=true`, `_change_type` is physical). A
    * row-level commit WITHOUT a CDC file cannot be served as files —
    * fail loudly (enable [[CdcProperty]] before the commit, or resync)
    * unless `ignoreRowLevel`. Pure rewrites contribute nothing;
    * REPLACE TABLE throws (schema boundary).
    */
  private[sources] def cdfFilesBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long = Long.MaxValue,
      ignoreRowLevel: Boolean = false): Seq[(Long, String, Boolean)] = {
    val f = fs(spark, table)
    val (vMax, _) = latest(spark, table)
    val hi = math.min(toVersion, vMax)
    val need = (math.max(fromVersion, 0L) to hi).filter(_ >= 1)
    val missing = need.filterNot(v => f.exists(commitPath(table, v)))
    if (missing.nonEmpty)
      throw new NoSuchElementException(
        s"CDF ($fromVersion, $toVersion] of $table needs vacuumed " +
          s"manifest(s) ${missing.mkString(", ")} — retention must cover " +
          "consumer lag")
    val raws: Map[Long, Seq[String]] =
      need.map(v => v -> readManifestRaw(f, table, v)).toMap +
        (0L -> Seq.empty[String])
    need.filter(_ > fromVersion).flatMap { v =>
      val raw = raws(v)
      val prevRaw = raws(v - 1)
      val cur = raw.filterNot(_.startsWith("#"))
      val prev = prevRaw.filterNot(_.startsWith("#")).toSet
      val removed = prev -- cur
      val added = cur.filterNot(prev)
      val op = raw.collectFirst {
        case l if l.startsWith(OpPrefix) => l.drop(OpPrefix.length)
      }
      val layerChanged = deleteLayer(raw) != deleteLayer(prevRaw)
      val cdc = cdcLines(raw)
      if (op.contains("replace-table"))
        throw new UnsupportedOperationException(
          s"CDF hit REPLACE TABLE at v$v of $table: the feed's schema " +
            "changed — resync from a snapshot")
      if (op.contains("compact") || op.contains("schema") ||
          (op.isEmpty && removed.nonEmpty && cdc.isEmpty)) Nil
      else if (cdc.nonEmpty) cdc.map(n => (v, n, true))
      else if (removed.isEmpty && !layerChanged)
        added.map(n => (v, n, false))
      else if (ignoreRowLevel) Nil
      else throw new UnsupportedOperationException(
        s"CDF hit row-level '${op.getOrElse("?")}' commit v$v of $table " +
          "with no CDC file — set table property " +
          s"$CdcProperty=true before row-level commits (so they write " +
          "their changes), or resync from a snapshot / opt in to " +
          "skipping them (ignoreRowLevelChanges)")
    }
  }

  /** TRUE change-data-feed: every commit in `(fromVersion, toVersion]`
    * as row-level changes tagged `_change_type` (insert /
    * update_preimage / update_postimage / delete) + `_commit_version` —
    * the Delta CDF shape, so an incremental consumer survives
    * UPDATE / MERGE / DELETE / merge-on-read commits without a resync
    * (unlike [[readChanges]], the appended-rows feed that fails loudly
    * on them).
    *
    * Derivation is bounded by each commit's TOUCHED files, never the
    * table: a copy-on-write commit diffs its removed files (read under
    * the PREVIOUS manifest's delete layers) against its written
    * replacements (under the new layers) with `EXCEPT ALL`; a
    * merge-on-read commit diffs only the files its new layer lines can
    * reach (equality: file version <= bound; position: the files named
    * in the staged positions). Compactions and watermark-only commits
    * contribute nothing. Ops without write-time row identity surface an
    * updated row as delete + insert (same final state for any keyed
    * consumer); `update` commits keep the precise
    * update_preimage/update_postimage labels.
    *
    * REPLACE TABLE changes the schema mid-feed — the one boundary a
    * single-schema feed cannot represent; it throws (resync from a
    * snapshot). Needs the manifests in range retained, like
    * [[readChanges]].
    */
  def readChangesCDF(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long = Long.MaxValue,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    val f = fs(spark, table)
    val (vMax, _) = latest(spark, table)
    val hi = math.min(toVersion, vMax)
    val need = (math.max(fromVersion, 0L) to hi).filter(_ >= 1)
    val missing = need.filterNot(v => f.exists(commitPath(table, v)))
    if (missing.nonEmpty)
      throw new NoSuchElementException(
        s"CDF ($fromVersion, $toVersion] of $table needs vacuumed " +
          s"manifest(s) ${missing.mkString(", ")} — retention must cover " +
          "consumer lag")
    val raws: Map[Long, Seq[String]] =
      need.map(v => v -> readManifestRaw(f, table, v)).toMap +
        (0L -> Seq.empty[String])
    val declared = schema.orElse(tableSchema(spark, table))
    def tag(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
    val parts = need.filter(_ > fromVersion).flatMap { v =>
      val raw = raws(v)
      val prevRaw = raws(v - 1)
      val cur = raw.filterNot(_.startsWith("#"))
      val prev = prevRaw.filterNot(_.startsWith("#"))
      val removed = prev.filterNot(cur.contains)
      val added = cur.filterNot(prev.contains)
      val op = raw.collectFirst {
        case l if l.startsWith(OpPrefix) => l.drop(OpPrefix.length)
      }
      val layerChanged = deleteLayer(raw) != deleteLayer(prevRaw)
      if (op.contains("replace-table"))
        throw new UnsupportedOperationException(
          s"CDF hit REPLACE TABLE at v$v of $table: the feed's schema " +
            "changed — resync from a snapshot")
      val cdc = cdcLines(raw)
      if (op.contains("compact") || op.contains("schema") ||
          (op.isEmpty && removed.nonEmpty && cdc.isEmpty))
        None // pure rewrite (compact / materializeFieldIds / pre-marker)
      else if (cdc.nonEmpty) {
        // the commit WROTE its exact changes (CDF property on): read
        // them — no derivation, precise update pre/post pairing
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        val sc = declared.map(d =>
          StructType(d.fields :+ StructField(ChangeTypeCol, StringType)))
        Some(readFiles(spark, table, cdc, sc)
          .withColumn("_commit_version", lit(v)))
      }
      else if (removed.isEmpty && added.isEmpty && !layerChanged) None
      else if (removed.isEmpty && !layerChanged)
        Some(tag(readFiles(spark, table, added, declared), "insert", v))
      else {
        // row-level commit: diff only the touched rows
        val (candPrev, candCur) =
          if (op.contains("restore") && layerChanged)
            // a restore that also changed the delete layers can alter
            // rows of RETAINED files — diff the full snapshots
            (prev, cur)
          else if (removed.nonEmpty || added.nonEmpty) (removed, added)
          else {
            // merge-on-read: candidates = files the NEW layer lines reach
            val newDel = delLines(raw).toSet -- delLines(prevRaw).toSet
            val newPos = delPosLines(raw).toSet -- delPosLines(prevRaw).toSet
            val fv = fileVersions(spark, table)
            val eqCand =
              if (newDel.isEmpty) Nil
              else {
                val maxDv = newDel.map(_._2).max
                cur.filter(n => fv.getOrElse(n, Long.MaxValue) <= maxDv)
              }
            val posCand =
              if (newPos.isEmpty) Nil
              else spark.read
                .parquet(newPos.toSeq.map(n => s"$table/$n"): _*)
                .select("__vt_file")
                .distinct().collect().map(_.getString(0)).toSeq
                .filter(cur.contains)
            val cand = (eqCand ++ posCand).distinct
            (cand, cand)
          }
        val pre = readFilesDeleteAware(spark, table, candPrev, declared,
          delLines(prevRaw), keepFileCol = false,
          posDels = delPosLines(prevRaw))
        val post = readFilesDeleteAware(spark, table, candCur, declared,
          delLines(raw), keepFileCol = false, posDels = delPosLines(raw))
        val preD = pre.exceptAll(post)
        val postD = post.exceptAll(pre)
        op match {
          case Some("update") =>
            Some(tag(preD, "update_preimage", v)
              .unionByName(tag(postD, "update_postimage", v)))
          case Some("delete") | Some("delete-mor") =>
            Some(tag(preD, "delete", v))
          case _ =>
            Some(tag(preD, "delete", v).unionByName(tag(postD, "insert", v)))
        }
      }
    }
    if (parts.isEmpty) {
      val base = declared.orElse {
        val (_, files) = latest(spark, table)
        if (files.nonEmpty)
          Some(spark.read.parquet(s"$table/${files.head}").schema)
        else None
      }.getOrElse(throw new IllegalArgumentException(
        s"no changes in ($fromVersion, $toVersion] and no schema " +
          s"available for empty CDF of $table — pass schema="))
      tag(readFiles(spark, table, Nil, Some(base)), "insert", 0L)
        .where(lit(false))
    } else parts.reduce(_ unionByName _)
  }

  /** Internal snapshot read for rewrite paths (compact/upsert/update/
    * delete/replaceWhere): always under the declared schema when one
    * exists, so rewrites of pre-evolution files materialize the evolved
    * columns (as nulls) instead of silently writing the old physical
    * layout; applies the pending merge-on-read delete layer so a rewrite
    * never resurrects deleted rows. `lines` is the PINNED raw manifest
    * of the snapshot the caller's OCC loop read — re-fetching here would
    * open a window where a raced delete-layer commit is applied to the
    * read but invisible to the caller's conflict check (or vice versa).
    */
  private def snapRead(spark: SparkSession, table: String,
      files: Seq[String], lines: Seq[String]): DataFrame =
    readFilesDeleteAware(spark, table, files, schemaLine(lines),
      delLines(lines), keepFileCol = false, posDels = delPosLines(lines))

  /** [[snapRead]] plus a `__vt_file` column (the table-relative data
    * file of each row) for affected-file discovery in copy-on-write
    * rewrites. `input_file_name()` is NOT usable for that once the
    * delete layer joins rows — the provenance is captured from
    * `_metadata` before any join.
    */
  private def snapReadWithFile(spark: SparkSession, table: String,
      files: Seq[String], lines: Seq[String]): DataFrame =
    readFilesDeleteAware(spark, table, files, schemaLine(lines),
      delLines(lines), keepFileCol = true, posDels = delPosLines(lines))

  /** The files of a [[snapReadWithFile]] frame holding a row where
    * `predicate` is TRUE — the copy-on-write rewrites' affected set.
    */
  private def filesMatching(snap: DataFrame,
      predicate: org.apache.spark.sql.Column): Seq[String] =
    snap.where(predicate).select(org.apache.spark.sql.functions.col(
      "__vt_file")).distinct().collect().map(_.getString(0)).toSeq

  /** [[snapReadWithFile]] plus `__vt_pos` (the row's physical index in
    * its file) — the provenance [[deleteWhereMergeOnRead]] stages.
    */
  private def snapReadWithFilePos(spark: SparkSession, table: String,
      files: Seq[String], lines: Seq[String]): DataFrame =
    readFilesDeleteAware(spark, table, files, schemaLine(lines),
      delLines(lines), keepFileCol = true, posDels = delPosLines(lines),
      keepPosCol = true)

  /** Pending merge-on-read layer lines (`#del` + `#delpos`) of a raw
    * manifest, as a set — the OCC conflict currency: a commit that
    * changes NO data file can still change rows (a raced
    * [[deleteByKeys]]/[[deleteWhereMergeOnRead]]), so every rewrite
    * commit must ALSO check the layer it read under is the layer it
    * commits over, else the raced deletes are either silently dropped
    * (compact's dropDeletes) or escaped by the rewritten files' fresh
    * names/higher versions.
    */
  private[sources] def deleteLayer(lines: Seq[String]): Set[String] =
    lines.filter(l =>
      l.startsWith(DelPrefix) || l.startsWith(DelPosPrefix)).toSet

  /** The CURRENT pending layer lines — what a DSv2 rewrite pins at scan
    * time and [[commitReplaceFiles]] re-checks at commit time.
    */
  private[sources] def pendingLayer(spark: SparkSession,
      table: String): Set[String] =
    deleteLayer(latestRaw(spark, table)._2)

  /** Test seam: [[occCommit]] invokes it in every attempt, between the
    * prepare step and the conflict check/publish, so specs can inject a
    * racing commit into any op's OCC window. A hook that commits must
    * guard against re-entry (its own commit fires it too). No-op in
    * production.
    */
  private[graft] var commitRaceHook: () => Unit = () => ()

  /** The shared read core: `files` under `schema`, with the pending
    * merge-on-read equality-delete layer `dels` applied. Per key-column
    * set, all delete files union into one (key → max delete version)
    * frame; one left equi-join per set plus the broadcast file→version
    * tag decides survival: a row dies iff some delete of its key is at
    * least as new as the row's file (strictly later re-inserts of the
    * key survive — the Iceberg equality-delete sequencing rule). Cost on
    * tables with NO pending deletes: zero (the plain scan). With
    * pending deletes: one narrow join per key set, until [[compact]]
    * materializes the layer.
    */
  private def readFilesDeleteAware(spark: SparkSession, table: String,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      dels: Seq[(String, Long, Seq[String])],
      keepFileCol: Boolean,
      posDels: Seq[String] = Nil,
      keepPosCol: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = readFiles(spark, table, files, schema)
    val plain = dels.isEmpty && posDels.isEmpty
    if (plain && !keepFileCol && !keepPosCol) return base
    if (files.isEmpty) {
      var out = base
      if (keepFileCol)
        out = out.withColumn("__vt_file", lit(null).cast("string"))
      if (keepPosCol)
        out = out.withColumn("__vt_pos", lit(null).cast("long"))
      return out
    }
    val tagged = base
      .withColumn("__vt_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__vt_pos", col("_metadata.row_index"))
    val outCols = (base.columns.toSeq ++
      (if (keepFileCol) Seq("__vt_file") else Nil) ++
      (if (keepPosCol) Seq("__vt_pos") else Nil)).map(col)
    if (plain) return tagged.select(outCols: _*)
    var cur = tagged
    // position layer first: exact (file, row) rows named by a pending
    // predicate delete. No version bound — positions pin to a file BY
    // NAME; any rewrite produces fresh names, so stale entries never
    // match.
    if (posDels.nonEmpty) {
      // ONE multi-path read (r16): a read per layer file cost a
      // schema-inference job each — a mirror that commits a layer per
      // micro-batch made every snapshot read pay ~30 ms × layers of
      // pure plan-time driver jobs
      val positions = spark.read
        .parquet(posDels.map(n => s"$table/$n"): _*)
        .select(col("__vt_file"), col("__vt_pos"))
        .distinct()
        .withColumn("__vt_dead", lit(1))
      cur = cur.join(positions, Seq("__vt_file", "__vt_pos"), "left")
        .where(col("__vt_dead").isNull).drop("__vt_dead")
    }
    if (dels.nonEmpty) {
      dels.flatMap(_._3).distinct.foreach(c =>
        require(base.columns.contains(c),
          s"merge-on-read delete key column '$c' is not in $table's schema"))
      val fvDf = {
        import spark.implicits._
        fileVersions(spark, table).toSeq.toDF("__vt_file", "__vt_fv")
      }
      cur = cur.join(broadcast(fvDf), Seq("__vt_file"), "left")
      dels.groupBy(_._3).foreach { case (keyCols, group) =>
        val keys = deleteKeyGroup(spark, table, group, keyCols, base.schema)
        cur = cur.join(keys, keyCols, "left")
          .where(col("__vt_dv").isNull || col("__vt_dv") < col("__vt_fv"))
          .drop("__vt_dv")
      }
    }
    cur.select(outCols: _*)
  }

  /** One equality-delete key group (the layer files sharing `keyCols`)
    * as (keys, `__vt_dv` = the newest delete version per key). One
    * multi-path read for the whole group (r16: a read per layer file
    * cost a schema-inference job each), under an explicit schema giving
    * each key its type in `tableSchema` — integral keys read as long —
    * because the group's files may have been staged from frames of
    * drifted key types (INT32 then INT64), which a schema inferred from
    * one file's footer fails to read. Each file's delete version tags
    * back on by file name — by a constant when the group is one file
    * (the common young-layer case: no join needed).
    */
  private def deleteKeyGroup(spark: SparkSession, table: String,
      group: Seq[(String, Long, Seq[String])], keyCols: Seq[String],
      tableSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val keySchema = StructType(keyCols.map(c => StructField(c,
      tableSchema(c).dataType match {
        case ByteType | ShortType | IntegerType => LongType
        case t => t
      })))
    val raw = spark.read.schema(keySchema)
      .parquet(group.map { case (delFile, _, _) => s"$table/$delFile" }: _*)
    val tagged = group match {
      case Seq((_, dv, _)) =>
        raw.select(keyCols.map(col): _*).withColumn("__vt_dv", lit(dv))
      case _ =>
        val dvDf = {
          import spark.implicits._
          group.map { case (delFile, dv, _) => (delFile, dv) }
            .toDF("__vt_dfile", "__vt_dv")
        }
        raw.select(keyCols.map(col) :+
            element_at(split(col("_metadata.file_path"), "/"), -1)
              .as("__vt_dfile"): _*)
          .join(broadcast(dvDf), Seq("__vt_dfile")).drop("__vt_dfile")
    }
    tagged.groupBy(keyCols.map(col): _*)
      .agg(max(col("__vt_dv")).as("__vt_dv"))
  }

  private def readFiles(spark: SparkSession, table: String,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    if (files.nonEmpty) {
      // an explicit schema (the declared table schema) makes files
      // written BEFORE a column was added read it as null — and skips
      // the footer-sampling schema-inference job entirely. Id-carrying
      // schemas resolve physical columns by FIELD ID (renames work),
      // falling back to name for pre-id files.
      ensureFieldIdRead(spark, schema)
      val reader = schema.fold(spark.read)(sc => spark.read.schema(sc))
      reader.parquet(files.map(n => s"$table/$n"): _*)
    } else schema match {
      case Some(sc) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None => spark.emptyDataFrame
    }
  }

  /** Compact the current snapshot into `numFiles` files. The commit
    * REPLACES exactly the input snapshot's files; appends that raced in
    * between are rebased over on retry — never lost, never duplicated.
    * Returns the committed version (or -1 if the table was empty).
    * Also MATERIALIZES any pending merge-on-read delete layer: the
    * rewrite reads through the anti-join, so the compacted files
    * physically lack the deleted rows and the `#del` lines drop from
    * the manifest (read overhead back to zero).
    *
    * `zorderDims` (+ `zorderBits`) optionally re-CLUSTERS while
    * compacting: rows are range-partitioned and sorted on the Morton
    * interleave of the given integral bucket columns (see
    * [[graft.functions.GraftFunctions.ZValue]]), so the compacted files
    * carry tight parquet min/max ranges in every clustered dimension —
    * compaction is exactly when a versioned lake re-sorts for data
    * skipping (Delta OPTIMIZE ZORDER BY's shape), and the OCC commit
    * protocol is unchanged.
    */
  /** Byte-targeted compaction — at 100 TB you size output FILES, not
    * their count: numFiles = ceil(snapshot bytes / target). The output
    * size is an estimate by input bytes (the Delta OPTIMIZE heuristic:
    * re-encoding the same data compresses about the same), and the
    * snapshot can advance between the estimate and compact()'s own
    * OCC loop — both fine, the target is a sizing hint, correctness
    * belongs to compact().
    */
  def compactToSize(spark: SparkSession, table: String,
      targetFileSizeBytes: Long,
      zorderDims: Seq[org.apache.spark.sql.Column] = Nil,
      zorderBits: Int = 16): Long = {
    require(targetFileSizeBytes > 0,
      s"target file size must be positive, got $targetFileSizeBytes")
    val f = fs(spark, table)
    val (_, lines) = latestRaw(spark, table)
    val files = lines.filterNot(_.startsWith("#"))
    if (files.isEmpty) return -1L
    // sizes come from the manifest's #stats lines already in hand — at
    // a 100k-file snapshot, per-file getFileStatus RPCs would cost
    // minutes of driver time; the filesystem is only consulted for
    // files lacking a stats byte count (pre-stats writers), and a file
    // vacuumed between the manifest read and the probe contributes 0 to
    // what is only a sizing estimate (compact()'s own OCC loop owns
    // correctness)
    val stats = parsedStatsAt(spark, table, None)
    val total = files.map { n =>
      stats.get(n).flatMap(_.bytes).getOrElse {
        try f.getFileStatus(new Path(table, n)).getLen
        catch { case _: java.io.FileNotFoundException => 0L }
      }
    }.sum
    val n = math.min(
      math.max(1L, (total + targetFileSizeBytes - 1) / targetFileSizeBytes),
      Int.MaxValue.toLong).toInt
    compact(spark, table, n, zorderDims, zorderBits)
  }

  def compact(spark: SparkSession, table: String, numFiles: Int,
      zorderDims: Seq[org.apache.spark.sql.Column] = Nil,
      zorderBits: Int = 16,
      curve: String = "zorder"): Long = {
    require(curve == "zorder" || curve == "hilbert",
      s"curve must be 'zorder' or 'hilbert', got '$curve'")
    require(curve != "hilbert" || zorderDims.size == 2,
      s"the hilbert curve is 2-D: pass exactly 2 dims, got ${zorderDims.size}")
    occCommit(spark, table, "compact") { (_, lines) =>
      val files = dataFiles(lines)
      if (files.isEmpty) Done(-1L)
      else {
        val snapshot = snapRead(spark, table, files, lines)
        val clusterCols = clusterColsOf(lines)
        val rangeSorted = zorderDims.isEmpty && clusterCols.nonEmpty
        val clustered =
          if (rangeSorted) {
            // no explicit dims on a clustered table: compaction preserves
            // the write-time range layout instead of destroying it with a
            // round-robin repartition
            val cs = clusterCols.map(org.apache.spark.sql.functions.col)
            snapshot.repartitionByRange(numFiles, cs: _*)
              .sortWithinPartitions(cs: _*)
          }
          else if (zorderDims.isEmpty) snapshot.repartition(numFiles)
          else {
            // hilbert: unit-step locality — a file's key range is a compact
            // blob, so min/max pruning on BOTH dims beats z-order's
            // quadrant jumps for the same rewrite cost
            val z =
              if (curve == "hilbert") graft.functions.GraftFunctions
                .hilbert(zorderBits)(zorderDims(0), zorderDims(1))
              else graft.functions.GraftFunctions
                .zvalue(zorderBits)(zorderDims: _*)
            snapshot.withColumn("__graft_z", z)
              .repartitionByRange(numFiles,
                org.apache.spark.sql.functions.col("__graft_z"))
              .sortWithinPartitions("__graft_z")
              .drop("__graft_z")
          }
        val compacted = stage(spark,
          stampFieldIds(clustered, schemaLine(lines)), table,
          // z-order interleaving is NOT a lexicographic sort — only the
          // preserved range layout may claim the sorted-file marker
          sortedBy = if (rangeSorted) clusterCols else Nil)
        // valid only while EVERY input file is still live (another
        // compactor replacing them would make our commit duplicate rows)
        // AND the pending delete layer is unchanged — a deleteByKeys/
        // deleteWhereMergeOnRead that raced in adds NO data file, so the
        // file check alone would pass and dropDeletes would then discard
        // a layer this rewrite never applied (permanent data loss).
        // Concurrent APPENDS are rebased over (kept alongside). Writer txn
        // watermarks carry forward — a compaction must not make a streaming
        // writer forget its committed epochs (that would re-admit replays).
        Commit(Recheck((_, latest) =>
            files.forall(dataFiles(latest).toSet) &&
              deleteLayer(latest) == deleteLayer(lines)),
          base => metaLines(base, "compact", dropDeletes = true) ++
            compacted ++ dataFiles(base).filterNot(files.toSet),
          staged = compacted)
      }
    }
  }

  // ---------- row-level operations (copy-on-write) ----------

  /** Footer-only parquet metadata read (no data pages). */
  private[graft] def readParquetFooter(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try r.getFooter finally r.close()
  }

  /** Does `file` possibly contain a key in [lo, hi]? Decided from the
    * parquet FOOTER's per-row-group min/max statistics — no data pages
    * are read. Conservative: unreadable footers, missing columns, or
    * absent statistics count as intersecting; an all-null block cannot
    * match a non-null equality key and does not.
    */
  private def fileIntersects(conf: org.apache.hadoop.conf.Configuration,
      file: Path, key: String, lo: Any, hi: Any,
      isString: Boolean): Boolean = {
    import scala.jdk.CollectionConverters._
    try {
      val md = readParquetFooter(conf, file)
      val cols = md.getBlocks.asScala
        .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == key))
      if (cols.isEmpty) return true
      cols.exists { c =>
        val s = c.getStatistics
        if (s == null || s.isEmpty) true
        else if (!s.hasNonNullValue) false // all-null block: no key match
        else if (isString) {
          val mn = s.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          val mx = s.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          mx >= lo.asInstanceOf[String] && mn <= hi.asInstanceOf[String]
        } else {
          val mn = s.genericGetMin.asInstanceOf[Number].longValue
          val mx = s.genericGetMax.asInstanceOf[Number].longValue
          mx >= lo.asInstanceOf[Long] && mn <= hi.asInstanceOf[Long]
        }
      }
    } catch { case _: Exception => true }
  }

  /** May `file` contain a row satisfying ALL of `filters`? Decided from
    * parquet footer min/max/null statistics, conservatively: anything
    * unprovable (unreadable footer, missing stats, unsupported filter or
    * incomparable types) answers true. Numeric comparison goes through
    * BigDecimal (no precision loss on int64), strings compare as UTF-8.
    * Per-row-group: the file may match if ANY block may.
    */
  private[sources] def fileMayMatch(
      conf: org.apache.hadoop.conf.Configuration, file: Path,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.sources._
    if (filters.isEmpty) return true
    try {
      val md = readParquetFooter(conf, file)
      md.getBlocks.asScala.exists { block =>
        val cols = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        // (minOpt, maxOpt, mayHaveNulls, allNulls) — None = unknown
        def meta(attr: String): Option[(Option[Any], Option[Any], Boolean, Boolean)] =
          cols.get(attr).map { c =>
            val s = c.getStatistics
            if (s == null || s.isEmpty) (None, None, true, false)
            else {
              val allNulls = !s.hasNonNullValue
              val nulls = s.getNumNulls
              val mn = if (allNulls) None else Option(s.genericGetMin)
              val mx = if (allNulls) None else Option(s.genericGetMax)
              (mn, mx, nulls != 0L, allNulls)
            }
          }
        // None = incomparable/unknown
        def cmp(stat: Any, v: Any): Option[Int] = (stat, v) match {
          case (a: Number, b: Number) =>
            Some(BigDecimal(a.toString).compare(BigDecimal(b.toString)))
          case (a: org.apache.parquet.io.api.Binary, b: String) =>
            Some(a.toStringUsingUTF8.compareTo(b))
          case (a: java.lang.Boolean, b: java.lang.Boolean) =>
            Some(a.compareTo(b))
          case _ => None
        }
        def may(f: Filter): Boolean = f match {
          case EqualTo(a, v) if v != null => meta(a).forall {
            case (mn, mx, _, allNulls) =>
              !allNulls &&
                mn.flatMap(cmp(_, v)).forall(_ <= 0) &&
                mx.flatMap(cmp(_, v)).forall(_ >= 0)
          }
          case EqualNullSafe(a, null) => may(IsNull(a))
          case EqualNullSafe(a, v) => may(EqualTo(a, v))
          case GreaterThan(a, v) => meta(a).forall {
            case (_, mx, _, allNulls) =>
              !allNulls && mx.flatMap(cmp(_, v)).forall(_ > 0)
          }
          case GreaterThanOrEqual(a, v) => meta(a).forall {
            case (_, mx, _, allNulls) =>
              !allNulls && mx.flatMap(cmp(_, v)).forall(_ >= 0)
          }
          case LessThan(a, v) => meta(a).forall {
            case (mn, _, _, allNulls) =>
              !allNulls && mn.flatMap(cmp(_, v)).forall(_ < 0)
          }
          case LessThanOrEqual(a, v) => meta(a).forall {
            case (mn, _, _, allNulls) =>
              !allNulls && mn.flatMap(cmp(_, v)).forall(_ <= 0)
          }
          case In(a, vs) => vs.exists(v => may(EqualTo(a, v)))
          case IsNull(a) => meta(a).forall(_._3)
          case IsNotNull(a) => meta(a).forall(!_._4)
          case And(l, r) => may(l) && may(r)
          case Or(l, r) => may(l) || may(r)
          case _ => true
        }
        filters.forall(may)
      }
    } catch { case _: Exception => true }
  }

  /** Commit for the SQL row-level rewrite: replace `remove` with `add`,
    * valid only while the snapshot still equals `expectedSnapshot` — the
    * rewritten rows were computed against it, so ANY concurrent commit
    * aborts with ConcurrentModificationException (Delta's conflict
    * contract; the caller re-runs the statement).
    */
  private[sources] def commitReplaceFiles(spark: SparkSession, table: String,
      expectedSnapshot: Seq[String], remove: Seq[String], add: Seq[String],
      op: String, expectedLayer: Option[Set[String]] = None): Long =
    // conflict rule ABORT: the precondition below re-runs per attempt,
    // so any commit that moved the files or the layer — including one
    // that won the publish race — throws instead of rebasing
    occCommit(spark, table, op) { (_, lines) =>
      // a raced delete-LAYER commit changes no data file but the
      // replacement files would escape it (fresh names/higher version),
      // so it conflicts exactly like a moved snapshot
      if (dataFiles(lines).toSet != expectedSnapshot.toSet ||
          expectedLayer.exists(_ != deleteLayer(lines)))
        throw new java.util.ConcurrentModificationException(
          s"$op of $table: snapshot changed since the statement's scan — " +
            "re-run the statement")
      // SQL rewrites only hand over final rows — derive this commit's
      // changes from its touched files (EXCEPT ALL under the pinned
      // layers), labeled by op like readChangesCDF
      val cdc =
        if (remove.isEmpty && add.isEmpty) Nil
        else stageCdcIfEnabled(spark, table, lines, {
          import org.apache.spark.sql.functions.lit
          val declared = schemaLine(lines)
          val pre = readFilesDeleteAware(spark, table, remove, declared,
            delLines(lines), keepFileCol = false,
            posDels = delPosLines(lines))
          val post = readFiles(spark, table, add, declared)
          val preD = pre.exceptAll(post)
          val postD = post.exceptAll(pre)
          op match {
            case "update" =>
              preD.withColumn(ChangeTypeCol, lit("update_preimage"))
                .unionByName(postD.withColumn(ChangeTypeCol,
                  lit("update_postimage")))
            case "delete" =>
              preD.withColumn(ChangeTypeCol, lit("delete"))
            case _ =>
              preD.withColumn(ChangeTypeCol, lit("delete"))
                .unionByName(postD.withColumn(ChangeTypeCol,
                  lit("insert")))
          }
        })
      Commit(Rebase, base =>
        metaLines(base, op) ++ cdc.map(CdcPrefix + _) ++
          dataFiles(base).filterNot(remove.contains) ++ add,
        staged = cdc)
    }

  /** Keyed UPSERT (merge): rows of `updates` REPLACE current rows with
    * the same `key`; unmatched update rows are inserts. Copy-on-write:
    * only files whose footer key range intersects the updates' key range
    * are rewritten (their survivors anti-joined against the update
    * keys); every other file is carried into the new manifest untouched,
    * and readers see one atomic snapshot flip. At 100 TB, pair with
    * [[compact]]'s z-order clustering on the key: a narrow upsert then
    * rewrites the handful of files covering its key range, not the
    * table — the same footer-stats pruning that serves reads serves
    * writes.
    *
    * `key` must be an integral or string column. SQL equality semantics:
    * null-keyed existing rows never match (they survive), null-keyed
    * update rows are plain inserts. OCC like [[compact]]: the commit
    * validates every rewritten input is still live, rebases over raced
    * appends, and retries from scratch otherwise; writer txn watermarks
    * carry forward. Returns the committed version (or the current one if
    * `updates` is empty).
    */
  /** @param txn optional (writerId, epoch) idempotence watermark: the
    *   upsert is a NO-OP if the writer already committed this epoch, and
    *   the commit records it — the exactly-once contract of
    *   [[appendIdempotent]] extended to merges, which is what a CDC
    *   apply stream needs (see
    *   [[graft.streaming.VersionedSink.upsertExactlyOnce]]).
    */
  def upsert(spark: SparkSession, updates0: DataFrame, table: String,
      key: String, txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    txn.foreach { case (w, _) =>
      require(w.nonEmpty && !w.contains(" ") && !w.contains("\n"),
        "writerId must be non-empty, no spaces")
    }
    val (v0, lines0) = latestRaw(spark, table)
    // replay check BEFORE staging anything
    if (txn.exists { case (w, e) => txnMap(lines0).get(w).exists(_ >= e) })
      return v0
    // align to the declared schema up front so the rewritten survivors
    // (read under that schema) union cleanly with the update rows
    val updates = schemaLine(lines0) match {
      case Some(sc) => alignToSchema(updates0, sc, evolve = false, table)._1
      case None => updates0
    }
    val keyType = updates.schema(key).dataType
    val isString = keyType == StringType
    require(isString ||
      Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(keyType),
      s"upsert key must be integral or string, got $keyType")
    val norm = if (isString) updates
      else updates.withColumn(key, col(key).cast(LongType))
    // the update-key projection drives the bounds agg AND every retry's
    // anti-join — materialize it ONCE instead of re-deriving `updates`
    // (often an expensive upstream frame) per consumer. NOT distinct:
    // left_anti ignores duplicate build keys, and dropping the
    // distinct saves a whole shuffle per upsert
    val updKeys = norm.select(col(key)).where(col(key).isNotNull).persist()
    val b = updKeys.agg(smin(col(key)), smax(col(key))).head()
    if (b.isNullAt(0)) {
      updKeys.unpersist()
      // no non-null keys: pure insert (or nothing at all). With a txn
      // the watermark must still advance — the batch WAS processed —
      // so route through the idempotent append.
      return txn match {
        case Some((w, e)) => appendIdempotent(spark, updates, table, w, e)
        case None =>
          if (updates.isEmpty) latest(spark, table)._1
          else append(spark, updates, table)
      }
    }
    val (lo, hi) = (b.get(0), b.get(1))
    val conf = spark.sparkContext.hadoopConfiguration
    val newFiles = stage(spark, updates, table, cluster = true)
    try occCommit(spark, table, "upsert", owned = newFiles) { (v, lines) =>
      // replay re-check per attempt: a racing instance of the same
      // writer may have committed this epoch while we retried
      if (txn.exists { case (w, e) => txnMap(lines).get(w).exists(_ >= e) })
        Done(v, discard = true)
      else {
        val files = dataFiles(lines)
        val affected = files.filter(n =>
          fileIntersects(conf, new Path(table, n), key, lo, hi, isString))
        // delete-aware snapshot read (NOT a raw parquet read): a
        // pending merge-on-read layer may hide rows of the affected
        // files, and a rewrite that copied them forward would give
        // them a fresh name/higher file version that escapes both
        // layer types — silently resurrecting deleted rows. ONE lazy
        // frame shared by the survivor rewrite and the CDC staging
        // (resolution work per snapshot version is cached, but the
        // plan/setup cost isn't free either).
        lazy val existing =
          if (affected.isEmpty) null
          else snapRead(spark, table, affected, lines)
        val rewritten =
          if (affected.isEmpty) Nil
          else {
            val survivors = existing.join(updKeys, Seq(key), "left_anti")
            stage(spark, stampFieldIds(survivors, schemaLine(lines)), table)
          }
        val cdc = stageCdcIfEnabled(spark, table, lines, {
          // write-time rows give EXACT pre/post pairing (the derivation
          // fallback can only say delete+insert): replaced rows are
          // update_preimage, their new versions update_postimage,
          // unmatched update rows plain inserts
          import org.apache.spark.sql.functions.lit
          if (affected.isEmpty)
            updates.withColumn(ChangeTypeCol, lit("insert"))
          else {
            val pre = existing.join(updKeys, Seq(key), "left_semi")
            val preKeys = pre.select(col(key))
            pre.withColumn(ChangeTypeCol, lit("update_preimage"))
              .unionByName(updates.join(preKeys, Seq(key), "left_semi")
                .withColumn(ChangeTypeCol, lit("update_postimage")))
              .unionByName(updates.join(preKeys, Seq(key), "left_anti")
                .withColumn(ChangeTypeCol, lit("insert")))
          }
        })
        // WRITE-WRITE conflict detection (Delta's ConcurrentAppend rule):
        // a file appended between our snapshot and our commit may hold
        // rows with keys this upsert replaces — rebasing over it would
        // leave both versions live. Rebase only appends whose footer key
        // range is DISJOINT from the update range; otherwise retry from
        // the new snapshot (the re-run anti-joins them too). The
        // rewritten files escape any delete layer committed AFTER our
        // snapshot read (fresh names, higher file version), so a changed
        // layer forces a retry like a conflicting append. Sustained
        // intersecting appends legitimately starve an optimistic upsert
        // — Delta's ConcurrentAppendException: the caller backs off.
        Commit(Recheck { (_, latest) =>
            val files2 = dataFiles(latest)
            !files2.filterNot(files.contains).exists(n => fileIntersects(
              conf, new Path(table, n), key, lo, hi, isString)) &&
              affected.forall(files2.contains) &&
              deleteLayer(latest) == deleteLayer(lines)
          },
          base => metaLines(base, "upsert", txn = txn) ++
            cdc.map(CdcPrefix + _) ++
            dataFiles(base).filterNot(affected.contains) ++ rewritten ++
            newFiles,
          staged = rewritten ++ cdc)
      }
    } finally updKeys.unpersist()
  }

  /** Row-level UPDATE: SET `assignments` on rows matching `predicate`
    * (SQL semantics — null predicate leaves the row unchanged).
    * Copy-on-write like [[delete]]: one pushed-down scan finds files
    * containing matches, only those rewrite — matching rows with the
    * assignments applied, non-matching rows verbatim — in ONE atomic
    * commit. Assignment expressions may reference the row's old columns
    * (`value -> col("value") * 2`).
    */
  def update(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "update needs at least one assignment")
    occCommit(spark, table, "update") { (v, lines) =>
      val files = dataFiles(lines)
      val affected =
        if (files.isEmpty) Nil
        else {
          val snap = snapReadWithFile(spark, table, files, lines)
          assignments.keys.foreach { c =>
            require(snap.columns.contains(c), s"no such column to SET: $c")
          }
          filesMatching(snap, predicate)
        }
      if (affected.isEmpty) Done(v)
      else {
        val hit = coalesce(predicate, lit(false))
        val rewrittenDf = assignments.foldLeft(
          snapRead(spark, table, affected, lines)) {
          case (df, (c, expr)) =>
            df.withColumn(c, when(hit, expr).otherwise(col(c)))
        }
        val rewritten = stage(spark,
          stampFieldIds(rewrittenDf, schemaLine(lines)), table)
        val cdc = stageCdcIfEnabled(spark, table, lines, {
          // apply the assignments to the PRE rows (the hit predicate is
          // over original columns, so it must not re-evaluate post-SET)
          val pre = snapRead(spark, table, affected, lines).where(hit)
          val post = assignments.foldLeft(pre) {
            case (df, (c, expr)) => df.withColumn(c, expr)
          }
          pre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(post.withColumn(ChangeTypeCol,
              lit("update_postimage")))
        })
        // same conflict rule as delete
        Commit(sameFilesAndLayer(lines), base =>
          metaLines(base, "update") ++ cdc.map(CdcPrefix + _) ++
            dataFiles(base).filterNot(affected.contains) ++ rewritten,
          staged = rewritten ++ cdc)
      }
    }
  }

  /** Atomic predicate overwrite (Delta's replaceWhere): ONE commit that
    * removes rows matching `predicate` and inserts `df` — the
    * delete-then-append composed without the torn-state window between
    * two commits. Backs `INSERT OVERWRITE ... WHERE` /
    * DataFrameWriterV2.overwrite(condition). Same OCC conflict rule as
    * [[delete]]: any raced data file forces a retry over the fresh
    * snapshot.
    */
  def replaceWhere(spark: SparkSession, df: DataFrame, table: String,
      predicate: org.apache.spark.sql.Column,
      sortedBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val lines1 = latestRaw(spark, table)._2
    val newFiles = stage(spark,
      stampFieldIds(df, schemaLine(lines1)), table, cluster = true,
      sortedBy = sortedBy)
    occCommit(spark, table, "replaceWhere", owned = newFiles) { (_, lines) =>
      val files = dataFiles(lines)
      val affected =
        if (files.isEmpty) Nil
        else filesMatching(snapReadWithFile(spark, table, files, lines),
          predicate)
      val rewritten =
        if (affected.isEmpty) Nil
        else stage(spark, stampFieldIds(snapRead(spark, table, affected, lines)
          .where(not(coalesce(predicate, lit(false)))), schemaLine(lines)),
          table)
      val cdc = stageCdcIfEnabled(spark, table, lines, {
        val inserts = df.withColumn(ChangeTypeCol, lit("insert"))
        if (affected.isEmpty) inserts
        else snapRead(spark, table, affected, lines)
          .where(coalesce(predicate, lit(false)))
          .withColumn(ChangeTypeCol, lit("delete"))
          // df need not carry every declared column (reads null-fill) —
          // the CDC rows mirror that
          .unionByName(inserts, allowMissingColumns = true)
      })
      Commit(sameFilesAndLayer(lines), base =>
        metaLines(base, "replace") ++ cdc.map(CdcPrefix + _) ++
          dataFiles(base).filterNot(affected.contains) ++ rewritten ++
          newFiles,
        staged = rewritten ++ cdc)
    }
  }

  /** Overwrite: one atomic commit whose snapshot is exactly `df` — the
    * old files are dropped from the manifest (kept on disk for
    * time-travel until vacuum). Marked `#op overwrite`: like upsert and
    * delete, an appended-rows changefeed cannot represent it and fails
    * loudly unless the consumer opted into skipping row-level commits.
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
      evolveSchema: Boolean = false,
      sortedBy: Seq[String] = Nil): Long = {
    val lines0 = latestRaw(spark, table)._2
    val (aligned, extras) = schemaLine(lines0) match {
      case Some(sc) => alignToSchema(df, sc, evolveSchema, table)
      case None => (df, Nil)
    }
    val staged = stage(spark, aligned, table, cluster = true,
      sortedBy = sortedBy)
    occCommit(spark, table, "overwrite", owned = staged) { (_, _) =>
      Commit(Rebase, base =>
        metaLines(base, "overwrite", schemaLine(base).flatMap(widen(_, extras)),
          dropDeletes = true) ++ staged)
    }
  }

  /** REPLACE TABLE: one atomic commit whose snapshot is exactly `df`
    * under a brand-new declared `schema` — data AND schema flip
    * together (unlike [[overwrite]], which keeps the declared schema).
    * Old versions stay time-travelable under their own schemas; pending
    * delete layers and properties of the old incarnation drop; writer
    * txn watermarks CARRY (a restarted streaming writer must not replay
    * its epochs into the replaced table). The new schema gets fresh
    * field ids past the `#fid` high-water mark, so the new incarnation
    * is rename/drop-ready and can never alias old files' ids.
    */
  def replaceTable(spark: SparkSession, df: DataFrame, table: String,
      schema0: org.apache.spark.sql.types.StructType,
      sortedBy: Seq[String] = Nil): Long = {
    require(schema0.nonEmpty, s"cannot replace $table with an empty schema")
    // ids resolved ONCE before staging (files are written with them);
    // the commit's #fid only ever moves UP past concurrent allocations
    val bare = org.apache.spark.sql.types.StructType(schema0.fields.map(f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())))
    val fid0 = fidOf(latestRaw(spark, table)._2)
    val (idFields, fid) = assignIds(bare.fields.toSeq, fid0)
    val schema = org.apache.spark.sql.types.StructType(idFields.toArray)
    val aligned = alignToSchema(df, schema, evolve = false, table)._1
    val staged = stage(spark, aligned, table, sortedBy = sortedBy,
      markerSchema = Some(schema))
    // old props and delete layers drop; txn watermarks and tags carry
    occCommit(spark, table, "replaceTable", owned = staged) { (_, _) =>
      Commit(Rebase, base =>
        metaLines(base, "replace-table", Some(schema), dropDeletes = true,
          newProps = Some(Map.empty),
          newFid = Some(math.max(fid, fidOf(base)))) ++ staged)
    }
  }

  /** RESTORE TABLE to the snapshot of `version` (Delta `RESTORE ...
    * VERSION AS OF` semantics): ONE metadata commit re-references the
    * target snapshot's data files, delete layers, and declared schema —
    * no data is copied or rewritten, so restoring a 100 TB table costs
    * one manifest write. The history is preserved (the bad commits stay
    * time-travelable; restore itself is a new commit on top), writer txn
    * watermarks carry FORWARD (a restore must not re-admit streaming
    * replays), the field-id high-water never regresses (a column
    * re-added after restore must not inherit a dropped id), and CURRENT
    * table properties are kept (restore moves data, not configuration —
    * matching the set-once bucket-layout contract).
    *
    * Requires the target manifest and every file it references to still
    * exist — [[vacuum]] retention bounds how far back a restore can
    * reach, and a vacuumed target fails loudly here, never partially.
    *
    * With [[CdcProperty]] enabled the commit stages its exact row
    * changes (rows only in the current snapshot as `delete`, rows only
    * in the target as `insert`), diffing just the structurally changed
    * files unless the delete layers differ (then the full snapshots —
    * layers reach into retained files). Changefeed consumers without
    * CDC see it as a row-level commit (resync or opt into skipping).
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    import org.apache.spark.sql.functions.lit
    val f = fs(spark, table)
    require(version >= 1, s"cannot restore $table to version $version")
    require(f.exists(commitPath(table, version)),
      s"cannot restore $table to v$version: no such committed version " +
        "(or its manifest was vacuumed — retention bounds restore reach)")
    val target = readManifestRaw(f, table, version)
    val targetFiles = target.filterNot(_.startsWith("#"))
    val targetRefs = targetFiles ++ delLines(target).map(_._1) ++
      delPosLines(target)
    val gone = targetRefs.filterNot(n => f.exists(new Path(table, n)))
    require(gone.isEmpty,
      s"cannot restore $table to v$version: referenced file(s) " +
        s"${gone.take(3).mkString(", ")}${if (gone.sizeIs > 3) ", …" else ""}" +
        " were vacuumed")
    val targetSchema = schemaLine(target)
    occCommit(spark, table, "restore") { (v, lines) =>
      val curFiles = dataFiles(lines)
      val sameState = curFiles.toSet == targetFiles.toSet &&
        deleteLayer(lines) == deleteLayer(target) &&
        schemaLine(lines).map(_.json) == targetSchema.map(_.json)
      if (v == version || sameState) Done(v)
      else {
        val removed = curFiles.filterNot(targetFiles.contains)
        val added = targetFiles.filterNot(curFiles.contains)
        val layerChanged = deleteLayer(lines) != deleteLayer(target)
        // CDC context: current props decide enablement, but the change
        // frame is built under the TARGET schema (the declared schema
        // after this commit) so its field-id stamping matches
        val cdcCtx = lines.filterNot(_.startsWith(SchemaPrefix)) ++
          targetSchema.map(SchemaPrefix + _.json)
        val cdc = stageCdcIfEnabled(spark, table, cdcCtx, {
          val (preFiles, postFiles) =
            if (layerChanged) (curFiles, targetFiles) else (removed, added)
          val pre = readFilesDeleteAware(spark, table, preFiles,
            targetSchema, delLines(lines), keepFileCol = false,
            posDels = delPosLines(lines))
          val post = readFilesDeleteAware(spark, table, postFiles,
            targetSchema, delLines(target), keepFileCol = false,
            posDels = delPosLines(target))
          pre.exceptAll(post).withColumn(ChangeTypeCol, lit("delete"))
            .unionByName(
              post.exceptAll(pre).withColumn(ChangeTypeCol, lit("insert")))
        })
        // strict conflict rule: ANY commit since the pinned snapshot (new
        // files, layer change, schema change) invalidates the staged CDC
        // diff and the no-op check — rescan from scratch. The schema,
        // layers and stats come from the target; txn watermarks, tags,
        // properties and the (never regressing) field-id mark carry.
        Commit(sameVersion(v), base =>
          metaLines(base.filterNot(_.startsWith(SchemaPrefix)), "restore",
            newSchema = targetSchema, dropDeletes = true,
            newFid = Some(math.max(fidOf(base), fidOf(target)))) ++
            target.filter(l => l.startsWith(DelPrefix) ||
              l.startsWith(DelPosPrefix) || l.startsWith(StatsPrefix)) ++
            cdc.map(CdcPrefix + _) ++ targetFiles,
          staged = cdc)
      }
    }
  }

  // ---------- named snapshot refs (tags) ----------

  /** name → pinned version, from the latest manifest (or any `lines`). */
  private[sources] def tagMap(lines: Seq[String]): Map[String, Long] =
    lines.filter(_.startsWith(TagPrefix)).flatMap { l =>
      l.drop(TagPrefix.length).split(" ") match {
        case Array(n, v) => v.toLongOption.map(n -> _)
        case _ => None
      }
    }.toMap

  private def tagLines(m: Map[String, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (n, v) => s"$TagPrefix$n $v" }

  /** Published tags of `table`. */
  def tags(spark: SparkSession, table: String): Map[String, Long] =
    tagMap(latestRaw(spark, table)._2)

  private def requireTagName(name: String): Unit = require(
    name.nonEmpty && !name.exists(c => c.isWhitespace || c == '\n') &&
      !name.forall(_.isDigit),
    s"tag name '$name' must be non-empty, whitespace-free, and not a " +
      "bare number (numbers are version references)")

  /** Create or move the named snapshot ref `name` to `version`
    * (default: the current latest). One metadata commit; the tagged
    * version's manifest and every file it references become
    * vacuum-protected until [[untag]]. Returns the committed version
    * (unchanged when the tag already points there).
    */
  def tag(spark: SparkSession, table: String, name: String,
      version: Option[Long] = None): Long = {
    requireTagName(name)
    occCommit(spark, table, "tag") { (v, lines) =>
      val target = version.getOrElse(v)
      require(target >= 1 && target <= v,
        s"cannot tag $table@$target: no such committed version (latest $v)")
      require(fs(spark, table).exists(commitPath(table, target)),
        s"cannot tag $table@$target: its manifest was vacuumed")
      if (tagMap(lines).get(name).contains(target)) Done(v)
      else Commit(Rebase, base =>
        metaLines(base, "tag", newTags = Some(tagMap(base) + (name -> target))) ++
          dataFiles(base))
    }
  }

  /** Drop the named ref; its version stays time-travelable by number
    * until vacuum reclaims it. No-op (current version returned) if the
    * tag does not exist.
    */
  def untag(spark: SparkSession, table: String, name: String): Long =
    occCommit(spark, table, "untag") { (v, lines) =>
      if (!tagMap(lines).contains(name)) Done(v)
      else Commit(Rebase, base =>
        metaLines(base, "untag", newTags = Some(tagMap(base) - name)) ++
          dataFiles(base))
    }

  /** A version reference as read surfaces accept it: a bare number is
    * a commit version, anything else a tag name (loud error listing
    * the published tags when it does not resolve).
    */
  def resolveVersionRef(spark: SparkSession, table: String,
      ref: String): Long =
    ref.trim.toLongOption.getOrElse {
      val m = tags(spark, table)
      m.getOrElse(ref.trim, throw new NoSuchElementException(
        s"$table has no tag '${ref.trim}'" + (if (m.isEmpty) ""
        else s" — published tags: ${m.keys.toSeq.sorted.mkString(", ")}")))
    }

  /** Row-level DELETE: removes rows where `predicate` is TRUE (SQL
    * semantics — null keeps). Copy-on-write like [[upsert]]: one
    * pruned-and-pushed-down scan finds the files that actually contain
    * matches (row provenance from `_metadata`), only those are rewritten without their
    * matching rows, everything else carries over untouched. Returns the
    * committed version (unchanged if nothing matched).
    */
  def delete(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    occCommit(spark, table, "delete") { (v, lines) =>
      val files = dataFiles(lines)
      val affected =
        if (files.isEmpty) Nil
        else filesMatching(snapReadWithFile(spark, table, files, lines),
          predicate)
      if (affected.isEmpty) Done(v)
      else {
        val survivors = snapRead(spark, table, affected, lines)
          .where(not(coalesce(predicate, lit(false))))
        val rewritten = stage(spark,
          stampFieldIds(survivors, schemaLine(lines)), table)
        val cdc = stageCdcIfEnabled(spark, table, lines,
          snapRead(spark, table, affected, lines)
            .where(coalesce(predicate, lit(false)))
            .withColumn(ChangeTypeCol, lit("delete")))
        // conflict rule: an arbitrary predicate can't be footer-checked
        // against raced appends (they may contain matching rows), so ANY
        // new data file forces a retry over the fresh snapshot; likewise
        // a raced delete-layer commit (no data file change, but the
        // rewritten files would escape the new layer). Stricter than
        // upsert's key-range test; deletes under heavy append traffic
        // pay retries, never correctness.
        Commit(sameFilesAndLayer(lines), base =>
          metaLines(base, "delete") ++ cdc.map(CdcPrefix + _) ++
            dataFiles(base).filterNot(affected.contains) ++ rewritten,
          staged = rewritten ++ cdc)
      }
    }
  }

  /** Delete data files referenced by NO manifest version >= `keepFrom`
    * (older-snapshot readers must be done first — the usual vacuum
    * contract), plus manifests < keepFrom. `retentionMs` is the file-age
    * guard that makes vacuum safe alongside in-flight writers: their
    * staged-but-uncommitted files look unreferenced but are NEW — only
    * unreferenced files older than the window are reaped (the same
    * contract as Delta's retention check; default 7 days). Pass 0 only
    * when no writer can be in flight.
    */
  /** Merge-on-read DELETE by key: the CDC shape — `keys` is a frame
    * whose columns name the equality key(s) and whose rows are the keys
    * to delete. NOTHING is rewritten: the keys are staged as a small
    * delete file and ONE metadata commit adds a `#del` layer that every
    * reader anti-joins (see [[readFilesDeleteAware]]). Use when delete
    * write-cost matters more than read-cost — a 1-row delete on a 100 TB
    * table costs one tiny file instead of a file rewrite — then
    * [[compact]] materializes the layer back to zero read overhead.
    *
    * Version-layered like Iceberg equality deletes: rows in files
    * committed AFTER this delete are untouched, so re-inserting a
    * deleted key works naturally. Null keys never match (SQL equality)
    * and are dropped from the delete set. The DSv2 `graft-table` scan
    * REFUSES tables with a pending delete layer (its executor-side
    * parquet reader cannot apply joins — the same reader-protocol gate
    * as Delta's deletion vectors); compact first, or read through this
    * API.
    */
  /** @param txn optional (writerId, epoch) idempotence watermark — the
    *   exactly-once contract of [[appendIdempotent]] for CDC delete
    *   streams: a replayed epoch is a no-op, and an empty batch still
    *   advances the watermark (the batch WAS processed).
    */
  def deleteByKeys(spark: SparkSession, table: String, keys: DataFrame,
      txn: Option[(String, Long)] = None): Long = {
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    keyCols.foreach(c => require(!c.exists(_.isWhitespace),
      s"key column name '$c' must not contain whitespace (manifest format)"))
    txn.foreach { case (w, _) =>
      require(w.nonEmpty && !w.contains(" ") && !w.contains("\n"),
        "writerId must be non-empty, no spaces")
    }
    val snapCols = read(spark, table).columns.toSet
    keyCols.foreach(c => require(snapCols.contains(c),
      s"delete key column '$c' is not a column of $table"))
    // replay check BEFORE staging anything
    txn match {
      case Some((w, e))
          if txnMap(latestRaw(spark, table)._2).get(w).exists(_ >= e) =>
        return latest(spark, table)._1
      case _ =>
    }
    val clean = keys.na.drop("any", keyCols).dropDuplicates(keyCols)
    val noKeys = clean.isEmpty
    if (noKeys && txn.isEmpty) return latest(spark, table)._1
    val staged =
      if (noKeys) Nil else stage(spark, clean, table, prefix = "del-")
    occCommit(spark, table, "deleteByKeys", owned = staged) { (v, lines) =>
      // replay re-check per attempt (racing instance of the same
      // restarted query)
      if (txn.exists { case (w, e) => txnMap(lines).get(w).exists(_ >= e) })
        Done(v, discard = true)
      else {
        // CDF property on: record the exact rows this layer hides (the
        // VISIBLE rows matching the keys) — costs one bounded scan, only
        // when the table opted into the feed
        val cdc =
          if (noKeys) Nil
          else stageCdcIfEnabled(spark, table, lines,
            snapRead(spark, table, dataFiles(lines), lines)
              .join(clean, keyCols, "left_semi")
              .withColumn(ChangeTypeCol,
                org.apache.spark.sql.functions.lit("delete")))
        Commit(Rebase, base =>
          metaLines(base, "delete-mor", txn = txn) ++
            staged.map(n =>
              DelPrefix + ((n +: (v + 1).toString +: keyCols).mkString(" "))) ++
            cdc.map(CdcPrefix + _) ++ dataFiles(base),
          staged = cdc)
      }
    }
  }

  /** Merge-on-read DELETE by PREDICATE — [[deleteByKeys]]' arbitrary-
    * predicate sibling, the deletion-vector shape: ONE pushed-down scan
    * finds the matching rows' exact (file, row-index) positions, those
    * ride a small staged parquet, and a metadata commit adds a
    * `#delpos` layer readers anti-join on (file, position). Nothing is
    * rewritten — a predicate matching 0.1% of rows scattered across
    * every file costs the scan plus a position file, where copy-on-write
    * [[delete]] would rewrite every file. Positions need NO version
    * bound: they pin rows by FILE NAME, and rewrites produce fresh
    * names, so stale entries can never match (self-cleaning — re-inserts
    * are untouched by construction). [[compact]] materializes the layer;
    * until then the DSv2 scan serves it DIRECTLY (an ordinal-filtering
    * reader skips the dead positions — no gate, unlike equality
    * layers), bounded by [[pendingPositionDeletes]]' map-size cap.
    *
    * SQL semantics: rows where `predicate` is TRUE are deleted, null
    * keeps. Unlike the copy-on-write delete there is NO write-write
    * conflict window on data files (the commit touches none), but the
    * scan must still be of the CURRENT snapshot — the OCC loop re-scans
    * if a commit raced in, since positions computed against a replaced
    * file would silently miss.
    */
  def deleteWhereMergeOnRead(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    occCommit(spark, table, "deleteWhereMergeOnRead") { (v, lines) =>
      val files = dataFiles(lines)
      lazy val matched = snapReadWithFilePos(spark, table, files, lines)
        .where(predicate)
      lazy val hits = matched.select(col("__vt_file"), col("__vt_pos"))
      if (files.isEmpty || hits.isEmpty) Done(v)
      else {
        val posFiles = stage(spark, hits, table, prefix = "delpos-")
        val cdc = stageCdcIfEnabled(spark, table, lines,
          matched.drop("__vt_file", "__vt_pos")
            .withColumn(ChangeTypeCol, lit("delete")))
        // any raced commit (append/rewrite/compact) invalidates the
        // scanned snapshot: stale positions would be wrong for rewritten
        // files and absent for new ones — rescan from scratch
        Commit(sameVersion(v), base =>
          metaLines(base, "delete-mor") ++ posFiles.map(DelPosPrefix + _) ++
            cdc.map(CdcPrefix + _) ++ dataFiles(base),
          staged = posFiles ++ cdc)
      }
    }
  }

  /** Does every current data file physically carry parquet field ids?
    * Footer-only check — the gate for rename/drop: a file WITHOUT ids
    * can only match by name, so a rename would silently null its
    * column. Conservative: unreadable footers count as id-less.
    */
  private def filesCarryFieldIds(spark: SparkSession, table: String,
      files: Seq[String]): Boolean = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.forall { n =>
      try readParquetFooter(conf, new Path(table, n))
        .getFileMetaData.getSchema.getFields.asScala.forall(_.getId != null)
      catch { case _: Exception => false }
    }
  }

  /** Gate for NESTED rename/drop: in every current data file that
    * contains the path, the LEAF must physically carry a field id —
    * else post-rename reads of that file would fall back to name
    * matching, miss the new name, and silently null the column (or,
    * for drop + re-add, resurrect dropped data). Files missing the
    * column entirely pass (they legitimately read it as null, like any
    * pre-evolution file). The walk matches by id where the file has
    * one, by name otherwise, and unwraps parquet LIST/MAP machinery
    * (whose synthetic wrapper fields never carry ids).
    */
  private def filesCarryLeafId(spark: SparkSession, table: String,
      files: Seq[String],
      pathFields: Seq[org.apache.spark.sql.types.StructField]): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.{GroupType, Type}
    import org.apache.parquet.schema.LogicalTypeAnnotation.{ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
    def unwrap(t: Type): Type = t match {
      case g: GroupType
          if g.getLogicalTypeAnnotation
            .isInstanceOf[ListLogicalTypeAnnotation] &&
            g.getFieldCount == 1 =>
        val rep = g.getType(0)
        rep match {
          // 3-level list: wrapper group holding "element"
          case w: GroupType if w.getFieldCount == 1 => unwrap(w.getType(0))
          case other => unwrap(other) // legacy 2-level: repeated element
        }
      case g: GroupType
          if g.getLogicalTypeAnnotation
            .isInstanceOf[MapLogicalTypeAnnotation] &&
            g.getFieldCount == 1 =>
        unwrap(g.getType(0).asGroupType.getType(1)) // descend map VALUES
      case other => other
    }
    def leafHasId(group: GroupType,
        rest: Seq[org.apache.spark.sql.types.StructField]): Boolean = {
      val pf = rest.head
      val want = fieldId(pf)
      val found = group.getFields.asScala.find(c =>
        want.exists(id => c.getId != null && c.getId.intValue.toLong == id))
        .orElse(group.getFields.asScala.find(
          _.getName.equalsIgnoreCase(pf.name)))
      found match {
        case None => true // column absent from this file: reads as null
        case Some(c) if rest.length == 1 => c.getId != null
        case Some(c) => unwrap(c) match {
          case g: GroupType => leafHasId(g, rest.tail)
          case _ => true // shape predates the struct: reads as null
        }
      }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    files.forall { n =>
      try leafHasId(readParquetFooter(conf, new Path(table, n))
        .getFileMetaData.getSchema, pathFields)
      catch { case _: Exception => false }
    }
  }

  /** Resolve a column name against `sc` case-insensitively (Spark's
    * resolver); throws if absent.
    */
  private def resolveField(sc: org.apache.spark.sql.types.StructType,
      name: String, table: String): org.apache.spark.sql.types.StructField =
    sc.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no such column '$name' in $table (have: " +
          sc.fieldNames.mkString(", ") + ")"))

  // ---------- nested column paths (rename/drop/move inside structs) ---

  /** Split a dotted column reference, preferring a literal top-level
    * match (a column literally named "a.b" wins over the path a → b).
    */
  private def pathParts(sc: org.apache.spark.sql.types.StructType,
      name: String): Seq[String] =
    if (!name.contains('.') || sc.fields.exists(_.name.equalsIgnoreCase(name)))
      Seq(name)
    else name.split('.').toSeq

  /** The StructField chain a path resolves through (descending arrays
    * and map values transparently, like Spark's own nested resolution);
    * last element is the leaf.
    */
  private def fieldsAlong(sc: org.apache.spark.sql.types.StructType,
      parts: Seq[String], table: String)
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    def structOf(dt: DataType, ctx: String): StructType = dt match {
      case s: StructType => s
      case a: ArrayType => structOf(a.elementType, ctx)
      case m: MapType => structOf(m.valueType, ctx)
      case other => throw new IllegalArgumentException(
        s"'$ctx' is a ${other.simpleString}, not a struct — cannot " +
          "descend into it")
    }
    val first = resolveField(sc, parts.head, table)
    parts.tail.foldLeft((Seq(first), first, parts.head)) {
      case ((acc, f, ctx), p) =>
        val nf = resolveField(structOf(f.dataType, ctx), p,
          s"$ctx (in $table)")
        (acc :+ nf, nf, s"$ctx.$p")
    }._1
  }

  /** Rebuild `sc` with the struct containing the path's LEAF mapped
    * through `fn` (the leaf is `parts.last`, a member of that struct).
    * Descends through arrays / map values like [[fieldAt]].
    */
  private def transformParentStruct(
      sc: org.apache.spark.sql.types.StructType, parts: Seq[String],
      table: String)(
      fn: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def drill(dt: DataType, rest: Seq[String], ctx: String): DataType =
      dt match {
        case s: StructType => walk(s, rest, ctx)
        case a: ArrayType =>
          a.copy(elementType = drill(a.elementType, rest, ctx))
        case m: MapType =>
          m.copy(valueType = drill(m.valueType, rest, ctx))
        case other => throw new IllegalArgumentException(
          s"'$ctx' is a ${other.simpleString}, not a struct — cannot " +
            "descend into it")
      }
    def walk(s: StructType, rest: Seq[String], ctx: String): StructType =
      if (rest.isEmpty) fn(s)
      else {
        val f = resolveField(s, rest.head, s"$ctx$table")
        StructType(s.fields.map(x =>
          if (x eq f)
            x.copy(dataType =
              drill(x.dataType, rest.tail, s"$ctx${rest.head}."))
          else x))
      }
    walk(sc, parts.init, "")
  }

  /** Upgrade a table WITHOUT parquet field ids to the id-carrying form
    * rename/drop evolution needs: ONE commit that (a) stamps fresh ids
    * onto every declared field lacking one and (b) replaces every data
    * file with a rewrite carrying the ids physically — the two must
    * flip together, because an id-carrying schema nulls/refuses id-less
    * files. Reads the snapshot under the CURRENT (name-matched) schema,
    * so no data is lost in the rewrite. OCC like [[compact]], including
    * the delete-layer conflict check; the pending layer is applied by
    * the rewrite (dropDeletes). Tables born via [[create]] never need
    * this; CTAS/declareSchema tables do, once, before their first
    * rename/drop. No-op (returns the current version) if the schema
    * already has ids everywhere.
    */
  def materializeFieldIds(spark: SparkSession, table: String,
      numFiles: Int): Long =
    occCommit(spark, table, "materializeFieldIds") { (v, lines) =>
      val declared = schemaLine(lines).getOrElse(throw new IllegalStateException(
        s"materializeFieldIds needs a declared schema on $table"))
      if (declared.fields.forall(f => fieldId(f).isDefined)) Done(v)
      else {
        val (idFields, fid) = assignIds(declared.fields.toSeq,
          math.max(fidOf(lines), maxFieldId(declared)))
        val idSchema = org.apache.spark.sql.types.StructType(idFields.toArray)
        val files = dataFiles(lines)
        // nothing to rewrite on an empty table: a metadata-only flip
        val rewritten =
          if (files.isEmpty) Nil
          else stage(spark, stampFieldIds(
            snapRead(spark, table, files, lines).repartition(numFiles),
            Some(idSchema)), table)
        // same conflict rules as compact: every input file still live,
        // delete layer unchanged; raced appends CANNOT rebase here
        // (they'd stay id-less under the new schema) — strict equality
        Commit(sameFilesAndLayer(lines), base =>
          metaLines(base, "schema", Some(idSchema),
            dropDeletes = files.nonEmpty, newFid = Some(fid)) ++ rewritten,
          staged = rewritten)
      }
    }

  /** RENAME COLUMN: a metadata-only commit replacing the declared
    * schema — the field keeps its parquet field ID, so every data file
    * written under the old name still resolves (reads match physical
    * columns by id, not name). Time travel shows each snapshot under
    * the names it was committed with. Refuses when any current data
    * file predates field ids (match-by-name would silently null the
    * renamed column) — run [[compact]] first to rewrite files under the
    * id-carrying schema. Also refuses while a pending equality-delete
    * layer keys on the column (its manifest line stores the NAME).
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long = {
    require(to.nonEmpty && !to.contains("\n") && !to.contains("."),
      "bad target name (rename the leaf only — no dots)")
    require(!ReservedCdfCols.exists(_.equalsIgnoreCase(to)),
      s"'$to' is a reserved change-data-feed column name")
    occCommit(spark, table, "renameColumn") { (_, lines) =>
      val declared = schemaLine(lines).getOrElse(throw new IllegalStateException(
        s"renameColumn needs a declared schema on $table"))
      val parts = pathParts(declared, from)
      requireNoConstraintOn(spark, lines, parts.head, table)
      val chain = fieldsAlong(declared, parts, table)
      val target = chain.last
      require(fieldId(target).isDefined,
        s"column '$from' of $table has no field id — run " +
          "VersionedTable.materializeFieldIds first (schema-merge " +
          "evolution columns stay name-matched)")
      val files = dataFiles(lines)
      if (parts.length == 1)
        require(filesCarryFieldIds(spark, table, files),
          s"$table has data files without physical field ids — a rename " +
            "would break their reads; run " +
            "VersionedTable.materializeFieldIds first")
      else
        require(filesCarryLeafId(spark, table, files, chain),
          s"$table has data files whose '$from' carries no physical " +
            "field id — a rename would silently null it there; run " +
            "VersionedTable.materializeFieldIds first")
      require(!delLines(lines).exists(
        _._3.exists(_.equalsIgnoreCase(parts.head))),
        s"a pending merge-on-read delete layer keys on '${parts.head}' — " +
          "run VersionedTable.compact to materialize it first")
      val renamed = transformParentStruct(declared, parts, table) { st =>
        require(!st.fields.exists(f => !(f eq target) &&
          f.name.equalsIgnoreCase(to)),
          s"column '$to' already exists beside '$from' in $table")
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          if (f eq target) f.copy(name = to) else f))
      }
      // clustering/bucketing follow a renamed column — the property
      // names the same physical data before and after
      val cc = clusterColsOf(lines)
      val props0 = propMap(lines)
      val props1 =
        if (parts.length == 1 && cc.exists(_.equalsIgnoreCase(from)))
          Some(props0 + (ClusterByProperty ->
            cc.map(c => if (c.equalsIgnoreCase(from)) to else c)
              .mkString(",")))
        else None
      val newProps = bucketSpecOf(lines) match {
        case Some((bc, n)) if parts.length == 1 && bc.equalsIgnoreCase(from) =>
          Some(props1.getOrElse(props0) + (BucketByProperty -> s"$to,$n"))
        case _ => props1
      }
      Commit(Rebase, base =>
        metaLines(base, "schema", Some(renamed), newProps = newProps) ++
          dataFiles(base))
    }
  }

  /** DROP COLUMN: a metadata-only commit narrowing the declared schema.
    * Data files keep the physical column; reads simply never request
    * it. The `#fid` high-water mark is PRESERVED, so a later re-add of
    * the same name gets a fresh id and old files' dropped data can
    * never resurrect under it. Same file-id gate as [[renameColumn]]
    * (a re-added column would otherwise name-match old physical data),
    * and refuses while a pending equality-delete layer keys on the
    * column.
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long =
    occCommit(spark, table, "dropColumn") { (_, lines) =>
      val declared = schemaLine(lines).getOrElse(throw new IllegalStateException(
        s"dropColumn needs a declared schema on $table"))
      val parts = pathParts(declared, name)
      requireNoConstraintOn(spark, lines, parts.head, table)
      val chain = fieldsAlong(declared, parts, table)
      val target = chain.last
      val files = dataFiles(lines)
      if (parts.length == 1)
        require(!clusterColsOf(lines).exists(_.equalsIgnoreCase(name)),
          s"'$name' is a $ClusterByProperty column of $table — clear or " +
            "change the clustering property first")
      if (parts.length == 1)
        require(!bucketSpecOf(lines).exists(_._1.equalsIgnoreCase(name)),
          s"'$name' is the $BucketByProperty column of $table — the " +
            "bucket layout is fixed at declaration")
      if (parts.length == 1)
        require(filesCarryFieldIds(spark, table, files),
          s"$table has data files without physical field ids — run " +
            "VersionedTable.materializeFieldIds first")
      else
        require(filesCarryLeafId(spark, table, files, chain),
          s"$table has data files whose '$name' carries no physical " +
            "field id — a re-added same-named field would resurrect " +
            "their data; run VersionedTable.materializeFieldIds first")
      require(!delLines(lines).exists(
        _._3.exists(_.equalsIgnoreCase(parts.head))),
        s"a pending merge-on-read delete layer keys on '${parts.head}' — " +
          "run VersionedTable.compact to materialize it first")
      val narrowed = transformParentStruct(declared, parts, table) { st =>
        require(st.fields.length > 1,
          if (parts.length == 1) s"cannot drop the only column of $table"
          else s"cannot drop the only field of struct " +
            s"'${parts.init.mkString(".")}' in $table — drop the struct")
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_ eq target))
      }
      Commit(Rebase, base =>
        metaLines(base, "schema", Some(narrowed)) ++ dataFiles(base))
    }

  /** Column position for [[moveColumn]] / SQL `ALTER TABLE ... ALTER
    * COLUMN x FIRST | AFTER y`.
    */
  sealed trait ColumnPosition
  object ColumnPosition {
    case object First extends ColumnPosition
    /** after a SIBLING at the same nesting level */
    final case class After(column: String) extends ColumnPosition
  }

  /** Reorder a (possibly nested) column within its parent struct — a
    * METADATA-ONLY commit, no file rewrite: reads serve the declared
    * order and resolve file columns by field id / name, so physical
    * layout never constrains declared order (Iceberg semantics). Writes
    * align by name, so existing writers are unaffected.
    */
  def moveColumn(spark: SparkSession, table: String, name: String,
      position: ColumnPosition): Long =
    occCommit(spark, table, "moveColumn") { (v, lines) =>
      val declared = schemaLine(lines).getOrElse(throw new IllegalStateException(
        s"moveColumn needs a declared schema on $table"))
      val parts = pathParts(declared, name)
      val target = fieldsAlong(declared, parts, table).last
      val moved = transformParentStruct(declared, parts, table) { st =>
        val rest = st.fields.filterNot(_ eq target)
        val reordered = position match {
          case ColumnPosition.First => target +: rest
          case ColumnPosition.After(other) =>
            require(!other.equalsIgnoreCase(parts.last),
              s"cannot move '$name' after itself")
            val j = rest.indexWhere(_.name.equalsIgnoreCase(other))
            require(j >= 0, s"no sibling column '$other' beside " +
              s"'$name' in $table (have: " +
              rest.map(_.name).mkString(", ") + ")")
            (rest.take(j + 1) :+ target) ++ rest.drop(j + 1)
        }
        org.apache.spark.sql.types.StructType(reordered)
      }
      if (moved == declared) Done(v) // already in position: no commit
      else Commit(Rebase, base =>
        metaLines(base, "schema", Some(moved)) ++ dataFiles(base))
    }

  private def manifestLinesAt(spark: SparkSession, table: String,
      version: Option[Long]): Seq[String] = version match {
    case None => latestRaw(spark, table)._2
    case Some(v) =>
      val f = fs(spark, table)
      if (f.exists(commitPath(table, v))) readManifestRaw(f, table, v)
      else Nil
  }

  /** True if the snapshot carries an unmaterialized EQUALITY-delete
    * layer. No longer a reader gate — the DSv2 scan resolves equality
    * layers to positions at plan time
    * ([[pendingEqualityDeletePositions]]) — but still the cheap status
    * probe for tooling ("does this table pay a layer-resolution job per
    * scan until compaction?").
    */
  def hasPendingEqualityDeletes(spark: SparkSession,
      table: String, version: Option[Long] = None): Boolean =
    delLines(manifestLinesAt(spark, table, version)).nonEmpty

  /** The pending position-delete layer as (file name → compressed
    * ordinal bitmap), for the DSv2 scan's filtering reader. Bitmaps are
    * built per-file ON EXECUTORS (one shuffle on the file name), only
    * the compressed forms come to the driver, and callers ship the map
    * as a BROADCAST (one copy per executor, not per task closure).
    * Bounded by total compressed BYTES, not position count — contiguous
    * delete runs compress ~1000×, so hundreds of millions of pending
    * positions fit where the old sorted-long-array form capped at 5M.
    * Past the byte cap the scan refuses loudly and demands a
    * compaction — never slow-then-OOM. Empty map when no layer pends.
    */
  private[graft] def pendingPositionDeletes(spark: SparkSession,
      table: String, version: Option[Long] = None,
      maxBytes: Long = 256L << 20): Map[String, PositionBitmap] = {
    val v = version.getOrElse(latest(spark, table)._1)
    val posFiles = delPosLines(manifestLinesAt(spark, table, Some(v)))
    if (posFiles.isEmpty) return Map.empty
    cachedBitmaps(table, v, "pos") {
      // one multi-path read: a read per layer file costs a plan-time
      // schema-inference job each (r16, same as readFilesDeleteAware)
      val df = spark.read.parquet(posFiles.map(n => s"$table/$n"): _*)
        .select("__vt_file", "__vt_pos")
      collectBitmaps(spark, df, table, maxBytes)
    }
  }

  /** (file, pos) rows → per-file compressed bitmaps, built on the
    * executors, byte-capped on the driver.
    */
  private def collectBitmaps(spark: SparkSession,
      filePos: DataFrame, table: String, maxBytes: Long)
      : Map[String, PositionBitmap] = {
    import spark.implicits._
    implicit val bmEnc: org.apache.spark.sql.Encoder[(String, PositionBitmap)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.javaSerialization[PositionBitmap])
    val bitmaps = filePos.as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups((f, it) =>
        (f, PositionBitmap.fromUnsorted(it.map(_._2).toArray)))
      .collect().toMap
    val bytes = bitmaps.valuesIterator.map(_.estimatedBytes).sum
    require(bytes <= maxBytes,
      s"$table's pending delete positions compress to $bytes bytes " +
        s"(> $maxBytes): the layer is too large to broadcast — run " +
        "VersionedTable.compact to materialize it first")
    bitmaps
  }

  /** The pending EQUALITY-delete layer resolved to exact dead (file →
    * sorted row ordinals) — what lets the DSv2 scan serve equality
    * layers through the same ordinal-filtering reader as position
    * layers. One distributed plan-time job scans ONLY the key columns
    * (plus `_metadata` provenance) of the data files a layer can reach
    * (file version <= the layer's max bound), joins them against the
    * staged delete keys under the Iceberg sequencing rule (a row is
    * dead iff some delete of its key is at least as new as the row's
    * file), and collects the compressed per-file bitmaps — byte-capped
    * exactly like [[pendingPositionDeletes]], refusing loudly past it.
    * Null keys never match (SQL equality). Empty map when no layer is
    * pending.
    */
  private[graft] def pendingEqualityDeletePositions(spark: SparkSession,
      table: String, version: Option[Long] = None,
      maxBytes: Long = 256L << 20): Map[String, PositionBitmap] = {
    val v = version.getOrElse(latest(spark, table)._1)
    val lines = manifestLinesAt(spark, table, Some(v))
    if (delLines(lines).isEmpty) return Map.empty
    cachedBitmaps(table, v, "eq") {
      resolveEqualityDeletes(spark, table, lines, maxBytes)
    }
  }

  private def resolveEqualityDeletes(spark: SparkSession, table: String,
      lines: Seq[String], maxBytes: Long): Map[String, PositionBitmap] = {
    import org.apache.spark.sql.functions._
    val dels = delLines(lines)
    if (dels.isEmpty) return Map.empty
    val files = lines.filterNot(_.startsWith("#"))
    if (files.isEmpty) return Map.empty
    val fvAll = fileVersions(spark, table)
    val schema = schemaLine(lines)
    val deadParts = dels.groupBy(_._3).toSeq.flatMap { case (keyCols, group) =>
      val maxDv = group.map(_._2).max
      // a delete bound only reaches files committed at or before it —
      // later files (re-inserts) are skipped at the SCAN, not the join
      val candidates = files.filter(n =>
        fvAll.getOrElse(n, Long.MaxValue) <= maxDv)
      if (candidates.isEmpty) None
      else {
        // declared schema so pre-evolution files missing a key column
        // read it as null (never matches) — same as the batch read path.
        // Field-id matching must be on here too: after a renameColumn,
        // name-matching would read the key column of pre-rename files as
        // null and silently resolve zero dead rows.
        ensureFieldIdRead(spark, schema)
        val reader = schema.fold(spark.read)(sc => spark.read.schema(sc))
        val data = reader.parquet(candidates.map(n => s"$table/$n"): _*)
        val keys = deleteKeyGroup(spark, table, group, keyCols, data.schema)
        val base = data
          .select(keyCols.map(col) :+
            element_at(split(col("_metadata.file_path"), "/"), -1)
              .as("__vt_file") :+
            col("_metadata.row_index").as("__vt_pos"): _*)
        import spark.implicits._
        val fvDf = fvAll.toSeq.toDF("__vt_file", "__vt_fv")
        Some(base.join(broadcast(fvDf), Seq("__vt_file"))
          .join(keys, keyCols.toSeq, "inner")
          .where(col("__vt_dv") >= col("__vt_fv"))
          .select(col("__vt_file"), col("__vt_pos")))
      }
    }
    if (deadParts.isEmpty) return Map.empty
    collectBitmaps(spark, deadParts.reduce(_ unionByName _), table, maxBytes)
  }

  /** Field-id-keyed schema drift between two versions — the "what
    * changed in this table's shape" report for consumers pinned to an
    * old reader schema. Because every declared column carries a parquet
    * field id from birth, drift classifies EXACTLY (no name-matching
    * heuristics): same id + new name = `renamed`, same id + new type =
    * `retyped` (both when applicable), id only in `toVersion` = `added`,
    * id only in `fromVersion` = `removed`. Manifest-only — no data file
    * is touched. Versions without a declared schema yield an error
    * (pre-schema tables infer from files; their drift is undefined).
    */
  def schemaDiff(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val f = fs(spark, table)
    def schemaAt(v: Long): org.apache.spark.sql.types.StructType = {
      require(f.exists(commitPath(table, v)),
        s"schemaDiff: $table has no committed version $v")
      schemaLine(readManifestRaw(f, table, v)).getOrElse(
        throw new IllegalArgumentException(
          s"schemaDiff: $table@v$v has no declared schema"))
    }
    val from = schemaAt(fromVersion).fields.flatMap(fl =>
      fieldId(fl).map(_ -> fl)).toMap
    val to = schemaAt(toVersion).fields.flatMap(fl =>
      fieldId(fl).map(_ -> fl)).toMap
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    (from.keySet ++ to.keySet).toSeq.sorted.foreach { id =>
      (from.get(id), to.get(id)) match {
        case (Some(a), None) =>
          rows += (("removed", a.name, a.dataType.simpleString))
        case (None, Some(b)) =>
          rows += (("added", b.name, b.dataType.simpleString))
        case (Some(a), Some(b)) =>
          if (a.name != b.name)
            rows += (("renamed", b.name, s"was ${a.name}"))
          if (a.dataType != b.dataType)
            rows += (("retyped", b.name,
              s"${a.dataType.simpleString} -> ${b.dataType.simpleString}"))
        case _ =>
      }
    }
    import spark.implicits._
    rows.toSeq.sortBy(r => (r._1, r._2))
      .toDF("change", "column", "detail")
  }

  /** Deep CLONE: materialize `source`@`version` (default: latest) as a
    * NEW independent table at `target` — data files, delete layer,
    * schema (field ids included), stats, and properties are carried
    * byte-for-byte, so the clone preserves the source's exact layout
    * (clustering, bucketing, file-level min/max pruning) without a
    * rewrite, and is immediately safe against source `vacuum`/drops
    * (the files are COPIED — the manifest format deliberately keeps
    * file refs table-relative, so a Delta-style shallow clone cannot
    * exist here and a dangling-reference failure mode cannot either).
    * The usual uses: dev/test snapshots of a production table, a
    * pre-migration backup, or pinning a training corpus at a version
    * beyond the source's retention horizon.
    *
    * Source history does NOT carry over (txn watermarks, tags, CDC
    * files are per-table commit history, not state): the clone is born
    * at version 1 with op `clone`. Cost is one file copy per referenced
    * file — no Spark job, no shuffle, no decode.
    */
  def cloneTable(spark: SparkSession, source: String, target: String,
      version: Option[Long] = None): Long = {
    val f = fs(spark, source)
    val v = version.getOrElse(latestRaw(spark, source)._1)
    require(v >= 1, s"cannot clone $source: no committed version")
    require(f.exists(commitPath(source, v)),
      s"cannot clone $source@v$v: no such committed version " +
        "(or its manifest was vacuumed — retention bounds clone reach)")
    val lines = readManifestRaw(f, source, v)
    val dataFiles = lines.filterNot(_.startsWith("#"))
    val refs = dataFiles ++ delLines(lines).map(_._1) ++ delPosLines(lines)
    val gone = refs.filterNot(n => f.exists(new Path(source, n)))
    require(gone.isEmpty,
      s"cannot clone $source@v$v: referenced file(s) " +
        s"${gone.take(3).mkString(", ")}${if (gone.sizeIs > 3) ", …" else ""}" +
        " were vacuumed")
    val (tv, _) = latestRaw(spark, target)
    require(tv == 0, s"clone target $target already exists (version $tv)")
    val tf = fs(spark, target)
    val conf = spark.sparkContext.hadoopConfiguration
    refs.distinct.foreach { n =>
      val dst = new Path(target, n)
      tf.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        f, new Path(source, n), tf, dst, false, false, conf)
    }
    // v1 manifest = the source snapshot's STATE lines (schema, fid,
    // props, delete layer, stats) + op + data files; history lines
    // (txn/tag/cdc) are intentionally absent
    val state = lines.filter(l => l.startsWith(SchemaPrefix) ||
      l.startsWith(FidPrefix) || l.startsWith(PropPrefix) ||
      l.startsWith(DelPrefix) || l.startsWith(DelPosPrefix) ||
      l.startsWith(StatsPrefix))
    occCommit(spark, target, "cloneTable") { (v, _) =>
      // target-exists was checked above; a racer creating the same
      // target concurrently is the only way to find a version here
      require(v == 0,
        s"clone lost the v1 commit race on $target (concurrent create?)")
      Commit(Rebase, _ => state ++ Seq(OpPrefix + "clone") ++ dataFiles)
    }
  }

  def vacuum(spark: SparkSession, table: String, keepFrom: Long,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val f = fs(spark, table)
    val (vMax, latestLines) = latestRaw(spark, table)
    if (vMax == 0) return 0
    // CLAMP below the oldest pending equality-delete bound: the layer's
    // survival rule compares each file's INTRODUCING version (attributed
    // as the earliest RETAINED manifest naming it — fileVersions) to the
    // delete's version bound. Vacuuming the introducing manifest of a
    // file committed at or before the bound would inflate its attributed
    // version ABOVE the bound and silently resurrect its deleted rows.
    // Keeping every manifest >= the oldest bound keeps all attributions
    // at or below every pending bound. Compaction materializes the layer
    // and lifts the clamp.
    val minDelBound = delLines(latestLines).map(_._2).minOption
    val lo = math.max(1L,
      math.min(minDelBound.fold(keepFrom)(math.min(keepFrom, _)), vMax))
    // tagged versions are vacuum-protected: their manifests survive the
    // low-water cut and their referenced files join the keep set
    val tagged = tagMap(latestLines).values
      .filter(v => v >= 1 && v <= vMax).toSet
    val referenced = ((lo to vMax) ++ tagged.filter(_ < lo))
      .toSeq.sorted.flatMap { v =>
      val p = commitPath(table, v)
      if (!f.exists(p)) Nil
      else {
        val data = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        val in = f.open(p)
        try in.readFully(data) finally in.close()
        val lines = new String(data, "UTF-8").split("\n")
          .filter(_.nonEmpty).toSeq
        // data files are bare lines; merge-on-read delete files and CDC
        // files are referenced from inside #del/#delpos/#cdc metadata
        // lines — all must survive while any retained manifest names them
        lines.filterNot(_.startsWith("#")) ++
          delLines(lines).map(_._1) ++ delPosLines(lines) ++ cdcLines(lines)
      }
    }.toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val dataFiles = f.listStatus(new Path(table))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    var removed = 0
    dataFiles.foreach { s =>
      if (!referenced.contains(s.getPath.getName) &&
          s.getModificationTime <= cutoff) {
        f.delete(s.getPath, false); removed += 1
      }
    }
    // a writer killed between its parquet write and the staging rename
    // leaves a whole `_stage-<uuid>` directory behind — never referenced
    // by any manifest, invisible to the root file sweep above (it only
    // lists FILES). Reclaim stage dirs older than the retention window;
    // a live stage is younger than any sane retention by construction
    // (staging is one write + rename, not a long-lived residency).
    f.listStatus(new Path(table))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_stage-") &&
        s.getModificationTime <= cutoff)
      .foreach { s =>
        if (f.delete(s.getPath, true)) removed += 1
      }
    // abandoned write-audit-publish sessions: their staged .parquet
    // files fall to the unreferenced sweep above; the session marker is
    // reclaimed on the same retention clock (a live WAP session is
    // younger than any sane retention — the [[Wap]] contract)
    f.listStatus(new Path(table))
      .filter(s => s.isFile &&
        s.getPath.getName.startsWith("_wap-") &&
        s.getPath.getName.endsWith(".marker") &&
        s.getModificationTime <= cutoff)
      .foreach { s =>
        if (f.delete(s.getPath, false)) removed += 1
      }
    (1L until lo).filterNot(tagged.contains).foreach { v =>
      val p = commitPath(table, v)
      if (f.exists(p)) f.delete(p, false)
    }
    removed
  }
}
