package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftshim.FileReadShim
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-table` — DataSource V2 surface over [[VersionedTable]]:
  *
  *   - `spark.readStream.format("graft-table").load(path)` tails the
  *     table's CHANGEFEED: each micro-batch is the rows appended by
  *     manifest commits since the last processed version (offsets ARE
  *     versions, so recovery replans the exact same range — the source
  *     side of the exactly-once story whose sink side is
  *     [[graft.streaming.VersionedSink]]). Compaction commits are
  *     structural rewrites and never appear in the feed.
  *   - `spark.read.format("graft-table").load(path)` reads the latest
  *     committed SNAPSHOT (manifest-listed files only — stray/staged
  *     files are invisible, unlike a plain parquet directory read).
  *
  * The table schema is the DATA schema; `_commit_version` (commit that
  * introduced the row's file, from manifest history) and `_file`
  * (table-relative file name, the row-level grouping key) are METADATA
  * columns batch queries opt into by name. Streaming rows are data-only
  * (per-batch versions come from the offsets / foreachBatch batchId).
  *
  * Writes: `df.write` append/overwrite, SQL `INSERT INTO` /
  * `INSERT OVERWRITE`, `overwrite(condition)` → atomic replaceWhere,
  * SQL `DELETE FROM` (metadata fast path or rewrite), and SQL
  * `UPDATE` / `MERGE INTO` via [[GraftRowLevelOperation]] — every path
  * lands as one OCC manifest commit with snapshot isolation and time
  * travel.
  *
  * Execution reuses Spark's own vectorized parquet reader via
  * [[org.apache.spark.sql.graftshim.FileReadShim]]; planning is one
  * manifest diff per trigger on the driver — at 100 TB a trigger costs
  * the increment it ships, never a table scan or directory listing
  * (file-listing streaming sources degrade with total file count; a
  * manifest diff is O(files per commit)).
  *
  * Options: `startingVersion` (exclusive, default 0 = full history),
  * `maxVersionsPerTrigger`, `ignoreRowLevelChanges` for the stream.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  override def supportsExternalMetadata(): Boolean = true

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-table needs a path")
    // normalize to an absolute URI-less path form consistent with
    // VersionedTable's string-path API
    new Path(p).toString
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = tablePath(options)
    if (options.getBoolean(GraftTableScan.ReadChangeFeedOption, false)) {
      val dataSchema = VersionedTable.tableSchema(spark, table).getOrElse {
        val files = VersionedTable.latest(spark, table)._2
        require(files.nonEmpty,
          s"graft-table CDF at $table has no committed data to infer " +
            "a schema from")
        spark.read.parquet(s"$table/${files.head}").schema
      }
      VersionedTable.requireNoReservedCdfColumns(Some(dataSchema),
        s"read the change feed of $table")
      return GraftTableScan.cdfSchema(dataSchema)
    }
    val asOf = Option(options.get(GraftTableScan.VersionAsOfOption))
      .map(VersionedTable.resolveVersionRef(spark, table, _))
    // declared schema first: it is authoritative on evolved tables (data
    // files written before an ADD COLUMN lack the new column) and serves
    // empty CREATEd tables that have no file to infer from. Time travel
    // reads under the schema the snapshot was committed with.
    val declared = asOf match {
      case Some(v) => VersionedTable.tableSchema(spark, table, v)
      case None => VersionedTable.tableSchema(spark, table)
    }
    declared.getOrElse {
      val files = asOf match {
        case Some(v) => VersionedTable.filesAt(spark, table, v)
        case None => VersionedTable.latest(spark, table)._2
      }
      require(files.nonEmpty,
        s"graft-table at $table has no committed data to infer a schema " +
          "from — pass an explicit schema")
      spark.read.parquet(s"$table/${files.head}").schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (opts.getBoolean(GraftTableScan.ReadChangeFeedOption, false))
      new GraftCdfTable(tablePath(opts), StructType(schema.fields.filterNot(
        f => f.name == VersionedTable.ChangeTypeCol ||
          f.name == GraftTableScan.VersionCol)))
    else new GraftTable(tablePath(opts), schema)
  }
}

/** The CHANGE-DATA-FEED view of a table
  * (`option("readChangeFeed", true)`): rows are typed changes —
  * data columns + `_change_type` + `_commit_version` — served straight
  * from each commit's files: appends read their added files (insert),
  * row-level commits read the exact CDC file they wrote at commit time
  * (table property `graft.enableChangeDataFeed=true`); a row-level
  * commit WITHOUT a CDC file fails loudly (enable the property, or
  * resync from a snapshot). Batch reads take
  * `startingVersion`/`endingVersion`; streaming uses the same
  * version-offset machinery as the plain source.
  */
private[sources] class GraftCdfTable(path: String, dataSchema: StructType)
  extends Table with SupportsRead {
  override def name(): String = s"graft-table-cdf `$path`"
  @annotation.nowarn("cat=deprecation")
  override def schema(): StructType = GraftTableScan.cdfSchema(dataSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      // `_commit_version` range predicates narrow PARTITION PLANNING
      // (whole commits skipped before any file is listed); every filter
      // stays residual, so the bounds can only prune, never change
      // answers
      private var from = 0L // exclusive
      private var to = Long.MaxValue // inclusive
      private var pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        import org.apache.spark.sql.sources._
        val V = GraftTableScan.VersionCol
        def asLong(v: Any): Option[Long] = v match {
          case n: Number => Some(n.longValue)
          case _ => None
        }
        // x - 1 needs an underflow guard: `>= Long.MinValue` is a
        // tautology, but the naive x-1 wraps to Long.MaxValue and
        // prunes EVERY partition at plan time — damage the residual
        // filter can never undo. A MinValue bound is simply "no bound".
        def decClamped(x: Long): Long =
          if (x == Long.MinValue) Long.MinValue else x - 1
        filters.foreach {
          case GreaterThan(V, v) => asLong(v).foreach(x =>
            from = math.max(from, x))
          case GreaterThanOrEqual(V, v) => asLong(v).foreach(x =>
            from = math.max(from, decClamped(x)))
          case LessThan(V, v) => asLong(v).foreach(x =>
            to = math.min(to, decClamped(x)))
          case LessThanOrEqual(V, v) => asLong(v).foreach(x =>
            to = math.min(to, x))
          case EqualTo(V, v) => asLong(v).foreach { x =>
            from = math.max(from, decClamped(x)); to = math.min(to, x)
          }
          case _ => ()
        }
        pushed = filters.filter(_.references.contains(V))
        filters // all residual
      }
      override def pushedFilters()
          : Array[org.apache.spark.sql.sources.Filter] = pushed
      override def build(): Scan =
        new GraftCdfScan(path, dataSchema, options, from, to)
    }
}

private[sources] class GraftTable(path: String, dataSchema: StructType,
    pinnedVersion: Option[Long] = None,
    tableProps: Map[String, String] = Map.empty,
    // CTAS-only: the declared cluster columns, applied to the initial
    // write directly — the graft.clusterBy property commit necessarily
    // lands after the data, so the ingest-side property check cannot
    // see it yet (and stays a no-op then: at most one range exchange)
    pendingClusterBy: Seq[String] = Nil)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def refuseIfPinned(what: String): Unit =
    require(pinnedVersion.isEmpty,
      s"cannot $what a VERSION AS OF snapshot of $path — load the table " +
        "without time travel to modify it")

  /** The change-data-feed twin of this table, for the analyzer rule that
    * honors `option("readChangeFeed", true)` on catalog-identified reads
    * ([[ResolveCdfRead]]). Refuses on a time-travel pin: the feed IS the
    * history, a snapshot pin would contradict it.
    */
  private[sources] def changeFeedTable: GraftCdfTable = {
    require(pinnedVersion.isEmpty,
      s"readChangeFeed cannot combine with VERSION AS OF on $path — " +
        "bound the feed with startingVersion/endingVersion instead")
    VersionedTable.requireNoReservedCdfColumns(Some(dataSchema),
      s"read the change feed of $path")
    new GraftCdfTable(path, dataSchema)
  }

  override def name(): String =
    s"graft-table `$path`" + pinnedVersion.fold("")(v => s"@v$v")

  // manifest-recorded table properties (DESCRIBE EXTENDED etc.); the
  // catalog passes them at load, path-based loads default empty
  override def properties(): java.util.Map[String, String] =
    tableProps.asJava

  // the graft.constraint.* properties surfaced through the DSv2
  // constraint API — always ENFORCED (stage() filters every data
  // write) and VALID (the ADD-time snapshot scan proved existing
  // rows). Path-based loads see none (props arrive from the catalog),
  // but the table-level filter still enforces.
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableProps.toSeq
      .filter(_._1.startsWith(VersionedTable.ConstraintPrefix))
      .sortBy(_._1)
      .map { case (k, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(VersionedTable.ConstraintPrefix))
          .predicateSql(sql).enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
  // the table schema is the DATA schema: writes resolve against it
  // naturally (no ACCEPT_ANY_SCHEMA — that flag sets
  // skipSchemaResolution on DML commands, which blocks the UPDATE/MERGE
  // row-level rewrites), and _commit_version is a METADATA column batch
  // queries opt into by name, like _metadata on file sources
  override def schema(): StructType = dataSchema
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTableScan.VersionCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "manifest version of the commit that added this row's file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTableScan.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "table-relative data file holding this row (runtime group " +
            "filtering key for row-level operations)"
      })
  // BATCH_WRITE satisfies DataFrameWriter's capability gate; the planner
  // still routes through the V1 bridge because build() returns V1Write.
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  // ---- batch writes: the V1 bridge hands the whole DataFrame to the
  // driver, where the manifest protocol does what executors cannot —
  // stage files, then publish ONE atomic commit (append or overwrite).
  // INSERT INTO / df.write.format("graft-table") both land here.
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    refuseIfPinned("write to")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      private var replaceCond
          : Option[org.apache.spark.sql.Column] = None
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteAll = true; this
      }
      // INSERT OVERWRITE / DataFrameWriterV2.overwrite(condition):
      // an atomic replaceWhere commit (delete-matching + insert, one
      // snapshot flip)
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        val cols = filters.map(f => toColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"cannot overwrite by filter $f")))
        if (cols.isEmpty ||
            filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
          overwriteAll = true
        else replaceCond = Some(cols.reduce(_ && _))
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          // ---- native streaming sink: executors write parquet files
          // straight into the table dir (same distributed writers as the
          // row-level path), and each epoch commit is idempotent under
          // (queryId, epochId) — the manifest txn watermark, not the
          // checkpoint, de-duplicates replays. writeStream.format(
          // "graft-table").start(path) is exactly-once end to end.
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new GraftStreamingWrite(path, dataSchema,
              info.schema(), info.queryId())

          override def toInsertableRelation()
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                // Spark's output resolution already aligned and cast the
                // query to the table schema (positionally per the
                // InsertableRelation contract) — normalize names and
                // double-check types (a mismatched parquet file would
                // poison every subsequent read)
                val want = dataSchema.fieldNames.toSeq
                val clean = data.drop(GraftTableScan.VersionCol)
                require(clean.columns.length == want.length,
                  s"cannot write ${clean.columns.toSeq} into schema $want")
                val aligned = clean.toDF(want: _*)
                // compare SHAPES: nested nullability and metadata (the
                // declared schema carries parquet field ids inside
                // struct types) legitimately differ from a query's
                // output type; Spark's output resolution already
                // enforced writable nullability
                def shape(dt: org.apache.spark.sql.types.DataType)
                    : org.apache.spark.sql.types.DataType = {
                  import org.apache.spark.sql.types._
                  dt match {
                    case s: StructType => StructType(s.fields.map(f =>
                      StructField(f.name.toLowerCase(java.util.Locale.ROOT),
                        shape(f.dataType))))
                    case a: ArrayType =>
                      ArrayType(shape(a.elementType), containsNull = true)
                    case m: MapType => MapType(shape(m.keyType),
                      shape(m.valueType), valueContainsNull = true)
                    case other => other
                  }
                }
                val mismatched = aligned.schema.fields.zip(dataSchema.fields)
                  .collect {
                    case (got, exp) if shape(got.dataType) !=
                        shape(exp.dataType) =>
                      s"${exp.name}: ${got.dataType} != ${exp.dataType}" }
                if (mismatched.nonEmpty) throw new IllegalArgumentException(
                  s"type mismatch writing graft-table: ${mismatched.mkString(", ")}")
                // clusterFrame only applies (and so only SORTS) when
                // every declared column is present — the marker must
                // say exactly what happened
                val appliedCluster = pendingClusterBy.filter(_ =>
                  pendingClusterBy.forall(c =>
                    aligned.columns.exists(_.equalsIgnoreCase(c))))
                val laid =
                  if (appliedCluster.isEmpty) aligned
                  else VersionedTable.clusterFrame(aligned, appliedCluster)
                replaceCond match {
                  case Some(cond) =>
                    VersionedTable.replaceWhere(
                      data.sparkSession, laid, path, cond,
                      sortedBy = appliedCluster)
                  case None if overwriteAll || overwrite =>
                    VersionedTable.overwrite(data.sparkSession, laid, path,
                      sortedBy = appliedCluster)
                  case None =>
                    VersionedTable.append(data.sparkSession, laid, path,
                      sortedBy = appliedCluster)
                }
                ()
              }
            }
        }
    }
  }

  // ---- SQL DML: DELETE FROM <table> WHERE ... ----
  // Filters arrive as v1 sources.Filter; rebuild the Column predicate and
  // run the copy-on-write delete (footer-pruned scan, OCC commit).
  private def toColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c) => toColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    refuseIfPinned("DELETE from")
    val pred = filters.flatMap(toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    VersionedTable.delete(SparkSession.active, path, pred)
    ()
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog VERSION AS OF load pins every scan of this table object
    val merged = pinnedVersion match {
      case Some(v) =>
        val m = new java.util.HashMap[String, String](options)
        m.put(GraftTableScan.VersionAsOfOption, v.toString)
        new CaseInsensitiveStringMap(m)
      case None => options
    }
    GraftTableScan.builder(path, dataSchema, merged)
  }

  // ---- SQL UPDATE / MERGE INTO: group-based row-level rewrite ----
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseIfPinned("UPDATE/MERGE")
    () => new GraftRowLevelOperation(path, dataSchema, info.command())
  }
}

private[graft] object GraftTableScan {
  /** Diagnostic/test hook: (kept, total) files of the most recent batch
    * planning — how much the stats-based skipping actually pruned.
    * GLOBAL and therefore racy under parallel suites — prefer
    * [[plannedFor]], which is keyed by table path.
    */
  private[graft] val lastPlanned =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Per-table planning telemetry: last (kept, total) for each table
    * path — immune to concurrent scans of OTHER tables (the global
    * hook's parallel-suite race). Keys normalize through the Hadoop
    * Path URI so `file:/x/t` and `/x/t` compare equal.
    */
  private[graft] val plannedByTable =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private[graft] def recordPlanned(table: String, v: (Int, Int)): Unit = {
    lastPlanned.set(v)
    plannedByTable.put(normPath(table), v)
    ()
  }

  private[graft] def plannedFor(table: String): (Int, Int) =
    plannedByTable.getOrDefault(normPath(table), (0, 0))

  val VersionCol = "_commit_version"
  val FileCol = "_file"
  /** reader option pinning a batch scan to one committed snapshot:
    * `spark.read.format("graft-table").option("versionAsOf", 3)` or SQL
    * `VERSION AS OF 3` via [[GraftCatalog]] (options are lower-cased).
    */
  val VersionAsOfOption = "versionasof"
  /** reader option selecting the change-data-feed view. */
  val ReadChangeFeedOption = "readchangefeed"
  /** CDF output: data columns + change type + commit version. */
  def cdfSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Seq(
      StructField(VersionedTable.ChangeTypeCol, StringType, nullable = false),
      StructField(VersionCol, LongType, nullable = false)))
  val MetaCols: Seq[StructField] = Seq(
    StructField(VersionCol, LongType, nullable = false),
    StructField(FileCol, StringType, nullable = false))
  def outputSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields :+
      StructField(VersionCol, LongType, nullable = false))
  def partitionSchema: StructType =
    StructType(Seq(StructField(VersionCol, LongType, nullable = false)))
  /** the requested metadata columns, in canonical order */
  def metaSubset(required: StructType): StructType =
    StructType(MetaCols.filter(f => required.fieldNames.contains(f.name)))
  /** partition values matching [[metaSubset]] for one file */
  def metaValues(sub: StructType, version: Long, file: String): Seq[Any] =
    sub.fields.toSeq.map {
      case f if f.name == VersionCol => version
      case _ => file
    }

  /** The table's scan builder (also used by the row-level operation). */
  def builder(path: String, dataSchema: StructType,
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit
      with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
      // default output = data columns; _commit_version arrives via
      // pruneColumns only when a batch query references the metadata col
      private var required: StructType = dataSchema
      private var parquetFilters: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        // hand data-column predicates to parquet for row-group/page
        // skipping, but return EVERY filter as residual: Spark
        // re-evaluates them, so stats-based skipping can only prune,
        // never change answers. _commit_version is a partition value the
        // files don't contain — parquet never sees it.
        parquetFilters = filters.filterNot(
          _.references.contains(GraftTableScan.VersionCol))
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        parquetFilters

      // limit / top-n pushdown, always PARTIAL (Spark re-applies the
      // real limit and sort above the scan — pruning is a pure
      // optimization): planning then keeps only a file subset whose
      // manifest row counts / bounds provably cover every valid
      // result (FileStats.limitPruneFiles). Spark only offers the
      // push when the limit sits directly on the scan, and our
      // filters are all residual, so a Filter node blocks it — the
      // one shape where row-count certification would be unsound.
      private var pushedLimit: Option[Int] = None
      private var pushedTopN: Option[(String, Boolean)] = None
      private def limitPushAllowed(limit: Int): Boolean =
        limit > 0 && parquetFilters.isEmpty &&
          !options.containsKey(GraftTableScan.ReadChangeFeedOption) &&
          !"false".equalsIgnoreCase(
            options.getOrDefault("limitpushdown", ""))
      override def pushLimit(limit: Int): Boolean =
        limitPushAllowed(limit) && { pushedLimit = Some(limit); true }
      override def isPartiallyPushed(): Boolean = true
      override def pushTopN(
          orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
          limit: Int): Boolean = {
        import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
        // single top-level column, default null ordering only — the
        // bound arithmetic in limitPruneFiles assumes exactly these
        limitPushAllowed(limit) && orders.length == 1 && {
          val so = orders.head
          val colName = so.expression match {
            case r: NamedReference if r.fieldNames.length == 1 =>
              Some(r.fieldNames.head)
            case _ => None
          }
          val desc = (so.direction, so.nullOrdering) match {
            case (SortDirection.ASCENDING, NullOrdering.NULLS_FIRST) =>
              Some(false)
            case (SortDirection.DESCENDING, NullOrdering.NULLS_LAST) =>
              Some(true)
            case _ => None
          }
          (colName, desc) match {
            case (Some(c), Some(d)) =>
              pushedTopN = Some((c, d)); pushedLimit = Some(limit); true
            case _ => false
          }
        }
      }

      // metadata-only aggregates: an unfiltered, ungrouped COUNT/MIN/MAX
      // resolves to ONE row from the manifest's #stats lines and the
      // query plans a LocalTableScan — zero tasks (see StatsAggregate
      // for the soundness gates). The snapshot is pinned HERE, at
      // decision time, so the answer is one consistent version even if
      // the table advances before execution.
      private var aggResult
          : Option[(StructType,
            Array[org.apache.spark.sql.catalyst.InternalRow])] = None
      private def planAgg(agg
          : org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType,
            Array[org.apache.spark.sql.catalyst.InternalRow])] =
        if (parquetFilters.nonEmpty ||
            options.containsKey(GraftTableScan.ReadChangeFeedOption) ||
            "false".equalsIgnoreCase(options.getOrDefault("aggpushdown", "")))
          None
        else try {
          val asOf = Option(options.get(GraftTableScan.VersionAsOfOption))
            .map(VersionedTable.resolveVersionRef(
              SparkSession.active, path, _))
          val (files, layers, stats) = VersionedTable.aggPlanSnapshot(
            SparkSession.active, path, asOf)
          // file→introducing-commit map, computed only if the aggregate
          // actually groups by _commit_version (by-name param)
          StatsAggregate.plan(agg, dataSchema, files, stats, layers,
            try Some(VersionedTable.fileVersions(SparkSession.active, path))
            catch { case _: Exception => None })
        } catch { case _: Exception => None }
      override def supportCompletePushDown(agg
          : org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = {
        aggResult = planAgg(agg)
        aggResult.isDefined
      }
      // a single FINAL row is also a valid PARTIAL result (count sums,
      // min/max fold idempotently), so the same plan serves both paths
      override def pushAggregation(agg
          : org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = {
        if (aggResult.isEmpty) aggResult = planAgg(agg)
        aggResult.isDefined
      }

      override def build(): Scan = aggResult match {
        case Some((aggSchema, aggRows)) =>
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows()
                : Array[org.apache.spark.sql.catalyst.InternalRow] =
              aggRows
            override def readSchema(): StructType = aggSchema
            override def description(): String =
              s"graft-table stats-aggregate $path"
          }
        case None => new GraftTableScan(path, dataSchema,
          options.asCaseSensitiveMap().asScala.toMap
            .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v },
          required, parquetFilters, pushedLimit, pushedTopN)
      }
    }
}

private[sources] class GraftTableScan(path: String, dataSchema: StructType,
    options: Map[String, String],
    required: StructType,
    parquetFilters: Array[org.apache.spark.sql.sources.Filter],
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(String, Boolean)] = None)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** `versionAsOf` resolved ONCE per scan: a bare number is a commit
    * version, anything else a tag name ([[VersionedTable
    * .resolveVersionRef]]).
    */
  private lazy val asOfResolved: Option[Long] =
    options.get(GraftTableScan.VersionAsOfOption)
      .map(VersionedTable.resolveVersionRef(spark, path, _))

  /** Bucket layout of the scanned snapshot, when it is complete and
    * usable (every file bucket-named, no delete layers) AND the user
    * opted into v2 bucketing. Drives BOTH [[outputPartitioning]] and
    * the bucket-grouped [[toBatch]] planning — the two halves Spark
    * requires to agree for a storage-partitioned join.
    */
  private lazy val bucketLayout: Option[(String, Int)] =
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
        .equalsIgnoreCase("true")) None
    else if (options.contains(GraftTableScan.ReadChangeFeedOption)) None
    else
      try VersionedTable.bucketLayoutAt(spark, path, asOfResolved)
      catch { case _: Exception => None }

  /** Sort columns every planned partition provably yields ascending /
    * nulls-first ([[VersionedTable.reportableOrderingAt]]: write-time
    * sorted-file markers, plus strict per-bucket range disjointness for
    * multi-file buckets), truncated to the prefix that survived column
    * pruning (Spark resolves the claim against the scan OUTPUT — a
    * pruned-away column would fail analysis). Drives BOTH
    * [[outputOrdering]] and the min-bound file order inside bucket
    * partitions — the two halves that must agree for the claim to hold.
    */
  private lazy val (orderingCols: Seq[String],
      orderingFirstKeys: Set[String]) =
    if (options.contains(GraftTableScan.ReadChangeFeedOption))
      (Nil, Set.empty[String])
    else
      try {
        val (cols, firstKeys) = VersionedTable.reportableOrderingAt(spark,
          path, asOfResolved, bucketLayout)
        (cols.takeWhile(c =>
          required.fieldNames.exists(_.equalsIgnoreCase(c))), firstKeys)
      } catch { case _: Exception => (Nil, Set.empty[String]) }

  /** With a reported ordering, sort-merge joins and sort-based
    * aggregations over same-bucketed tables drop their per-partition
    * SortExec too — on top of SPJ's dropped exchanges, the whole join
    * plans as a pure merge.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderingCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketLayout match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, c)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  // Join-driven runtime pruning (the storage half of dynamic partition
  // pruning): Spark hands the build side's key values to filter() before
  // the batch plans, and the same manifest stats that serve static
  // skipping drop whole files whose bounds can't contain any key. Purely
  // an optimization — the join re-checks every surviving row.
  @volatile private var runtimeFilters
      : Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (options.get("runtimefilepruning").contains("false"))
      Array.empty
    else
      // only columns that survived column pruning: Spark resolves these
      // against the scan's OUTPUT, so a pruned-away column would fail
      // analysis
      dataSchema.fields.filter(f => required.fieldNames.contains(f.name))
        .map(f =>
          org.apache.spark.sql.connector.expressions.Expressions
            .column(f.name))
  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    runtimeFilters = predicates.flatMap(
      org.apache.spark.sql.GraftSqlShim.predicateToV1)

  /** Snapshot size from the manifest (sum of committed file lengths) —
    * lets Catalyst make a real broadcast decision when a graft-table
    * batch read joins something, instead of defaulting to "huge".
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private lazy val (bytes, rowCount) =
        try {
          import scala.jdk.CollectionConverters._
          val conf = spark.sparkContext.hadoopConfiguration
          val f = new Path(path).getFileSystem(conf)
          val asOf = asOfResolved
          val files = asOf match {
            case Some(v) => VersionedTable.filesAt(spark, path, v)
            case None => VersionedTable.latest(spark, path)._2
          }
          // manifest stats first: size AND exact rows with zero
          // filesystem calls, restricted to the files the pushed
          // filters can actually touch (so Catalyst sizes a filtered
          // graft-table join side realistically — often the difference
          // between a broadcast and a 100 TB shuffle); footer/status
          // fallback only for stats-less files
          val stats = VersionedTable.parsedStatsAt(spark, path, asOf)
          val keys = FileStats.lookupKeys(dataSchema)
          val kept =
            if (parquetFilters.isEmpty || stats.isEmpty ||
                options.get("statsskipping").contains("false")) files
            else files.filter(n => stats.get(n).forall(
              FileStats.fileMayMatch(_, keys, parquetFilters.toSeq)))
          val sizes = kept.map { n =>
            stats.get(n).flatMap(_.bytes).getOrElse(
              f.getFileStatus(new Path(path, n)).getLen)
          }.sum
          val rows = kept.map { n =>
            stats.get(n).flatMap(_.rows).getOrElse(
              VersionedTable.readParquetFooter(conf, new Path(path, n))
                .getBlocks.asScala.map(_.getRowCount).sum)
          }.sum
          (java.util.OptionalLong.of(sizes), java.util.OptionalLong.of(rows))
        } catch { case _: Exception =>
          (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
        }
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rowCount
    }

  private def spark = SparkSession.active

  // pruned file-side projection, in file field order; metadata columns
  // (_commit_version, _file) ride as partition values only when asked
  private val readDataSchema = StructType(
    dataSchema.fields.filter(f => required.fieldNames.contains(f.name)))
  private val partSchema = GraftTableScan.metaSubset(required)

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ partSchema.fields)

  override def description(): String = s"graft-table changefeed $path"

  // Delta's ignoreChanges contract: without it, the stream fails loudly
  // on an upsert/delete commit instead of silently mis-shipping it
  private val ignoreRowLevel =
    options.get("ignorerowlevelchanges").exists(_.toBoolean)

  /** (version, file, size) triples for commits in `(from, to]`. */
  private def plan(from: Long, to: Long): Array[InputPartition] = {
    val f = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perCommit = VersionedTable.changedFilesBetween(spark, path, from, to,
      ignoreRowLevel)
    // one partition per file: commits are typically few files, and Spark
    // coalesces tiny streaming batches downstream anyway
    perCommit.flatMap { case (v, names) =>
      names.map { n =>
        val p = new Path(path, n)
        (p.toString, f.getFileStatus(p).getLen,
          GraftTableScan.metaValues(partSchema, v, n))
      }
    }.zipWithIndex.map { case (file, i) =>
      FileReadShim.filePartitionValues(i, Seq(file))
    }.toArray
  }

  private def readerFactory: PartitionReaderFactory =
    FileReadShim.parquetReaderFactory(spark, readDataSchema, partSchema,
      parquetFilters)

  // ---- batch: latest snapshot (or the `versionAsOf`-pinned one); each
  // file tagged with the version of the commit that introduced it
  // (metadata column) ----
  override def toBatch: Batch = new Batch {
    private lazy val asOf = asOfResolved
    // BOTH pending merge-on-read layers are served by this scan itself
    // through the ordinal-filtering reader: POSITION deletes name dead
    // (file, row-index) pairs directly; EQUALITY deletes are resolved
    // to the same shape by one plan-time job over the affected files'
    // key columns (VersionedTable.pendingEqualityDeletePositions —
    // Iceberg sequencing rule applied at the scan). Each map is bounded
    // (loud refusal past 256 MiB of compressed bitmaps → compact first),
    // so the merged closure stays task-shippable.
    private lazy val posDeletes: Map[String, PositionBitmap] = {
      val pos = VersionedTable.pendingPositionDeletes(spark, path, asOf)
      val eq = VersionedTable.pendingEqualityDeletePositions(spark, path, asOf)
      if (eq.isEmpty) pos
      else if (pos.isEmpty) eq
      else (pos.keySet ++ eq.keySet).iterator.map { k =>
        k -> ((pos.get(k), eq.get(k)) match {
          case (Some(a), Some(b)) => a.union(b)
          case (a, b) => a.orElse(b).get
        })
      }.toMap
    }
    override def planInputPartitions(): Array[InputPartition] = {
      val f = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = asOf match {
        case Some(v) => VersionedTable.filesAt(spark, path, v)
        case None => VersionedTable.latest(spark, path)._2
      }
      // plan-time file skipping: pushed + runtime predicates against the
      // manifest's per-file column bounds — files that provably cannot
      // match never become tasks. Missing stats keep the file; Spark
      // re-evaluates every filter above the scan.
      val stats = VersionedTable.parsedStatsAt(spark, path, asOf)
      val effective = parquetFilters ++ runtimeFilters
      val kept0 =
        if (effective.isEmpty || stats.isEmpty ||
            options.get("statsskipping").contains("false")) files
        else {
          val keys = FileStats.lookupKeys(dataSchema)
          files.filter(n => stats.get(n).forall(
            FileStats.fileMayMatch(_, keys, effective.toSeq)))
        }
      // second pass, point lookups only: parquet-native bloom probes on
      // the bounds-survivors of tables that opted in (footer + bloom
      // header reads, no data pages — see BloomSkip)
      val kept =
        if (effective.isEmpty ||
          options.get("bloomskipping").contains("false")) kept0
        else {
          val bloomCols = VersionedTable.bloomColumnsAt(spark, path, asOf)
          val probes =
            if (bloomCols.isEmpty) Nil
            else BloomSkip.probesOf(effective.toSeq, bloomCols)
          if (probes.isEmpty) kept0
          else {
            val conf = spark.sparkContext.hadoopConfiguration
            BloomSkip.filterFiles(conf, path, kept0, probes)
          }
        }
      // pushed LIMIT / ORDER-BY-LIMIT file pruning: only when nothing
      // else narrows rows invisibly — any filter (static or runtime-
      // DPP) or pending delete layer voids the manifest row counts the
      // certification rests on. Spark re-applies the real limit above.
      val limited =
        if (pushedLimit.isEmpty || effective.nonEmpty || posDeletes.nonEmpty)
          kept
        else FileStats.limitPruneFiles(stats.get, kept, pushedLimit.get,
          pushedTopN.map { case (c, desc) =>
            (VersionedTable.statsKeyCandidates(Some(dataSchema), c), desc)
          })
      GraftTableScan.recordPlanned(path, (limited.size, files.size))
      // provenance lookup only when the query asked for the version col
      val provenance =
        if (!partSchema.fieldNames.contains(GraftTableScan.VersionCol))
          Map.empty[String, Long]
        else VersionedTable.fileVersions(spark, path)
      def fileEntry(n: String): (String, Long, Seq[Any]) = {
        val p = new Path(path, n)
        // commit-time byte length from the manifest stats — planning a
        // 100k-file snapshot must not issue 100k getFileStatus RPCs
        val len = stats.get(n).flatMap(_.bytes)
          .getOrElse(f.getFileStatus(p).getLen)
        (p.toString, len,
          GraftTableScan.metaValues(partSchema,
            provenance.getOrElse(n, 0L), n))
      }
      bucketLayout match {
        case Some((_, n)) =>
          // one partition per present bucket, keyed for SPJ; posDeletes
          // is empty by construction (bucketLayoutAt refuses layered
          // snapshots), so multi-file partitions are safe. Under an
          // active ordering claim a bucket's files concatenate in
          // min-bound order — the order the claim's strict-disjointness
          // check certified.
          limited.groupBy(f => VersionedTable.bucketOfFile(f, n).get)
            .toSeq.sortBy(_._1).zipWithIndex
            .map { case ((bucket, names), i) =>
              val ordered =
                if (orderingCols.isEmpty || names.sizeIs <= 1) names
                else VersionedTable.orderFilesByMin(stats,
                  orderingFirstKeys, names)
              FileReadShim.keyedFilePartitionValues(i,
                ordered.map(fileEntry), bucket)
            }.toArray
        case None =>
          limited.zipWithIndex.map { case (nme, i) =>
            FileReadShim.filePartitionValues(i, Seq(fileEntry(nme)))
          }.toArray
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      if (posDeletes.isEmpty) readerFactory
      else
        // ordinal == row_index needs the reader to see EVERY physical
        // row in order: plan one whole file per partition (already the
        // case) and push NO parquet filters (they are residual — Spark
        // re-evaluates them above the scan, so dropping the pushdown
        // only costs skipping, never correctness)
        FileReadShim.posFilteringFactory(
          FileReadShim.parquetReaderFactory(spark, readDataSchema,
            partSchema, Array.empty),
          spark.sparkContext.broadcast(posDeletes))
  }

  // ---- streaming: manifest versions as offsets ----
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!options.contains(GraftTableScan.VersionAsOfOption),
      "versionAsOf pins one batch snapshot — a stream tails the " +
        "changefeed; use option(\"startingVersion\", ...) semantics via " +
        "the checkpoint instead")
    new VersionStream(path,
      options.getOrElse("startingversion", "0").toLong,
      options.get("maxversionspertrigger").map(_.toLong),
      plan, () => readerFactory)
  }
}

/** The micro-batch stream of both changefeed scans (appended rows and
  * CDF): committed manifest versions are the offsets, and
  * `plan(from, to)` plans the commits in `(from, to]`. AvailableNow
  * pins the target version at query start, so the query drains exactly
  * the data committed before the trigger and stops. `maxVersions`
  * (option `maxVersionsPerTrigger`) is admission control: it caps how
  * many table versions one micro-batch may span, so a backfill from
  * version 0 of a long-lived table becomes a sequence of bounded
  * batches instead of one giant one (each still exactly-once — offsets
  * advance per processed batch).
  */
private[sources] class VersionStream(path: String, startingVersion: Long,
    maxVersions: Option[Long],
    plan: (Long, Long) => Array[InputPartition],
    readerFactory: () => PartitionReaderFactory)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  @volatile private var pinned: Option[Long] = None
  private def latestVersion: Long =
    VersionedTable.latest(SparkSession.active, path)._1

  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(latestVersion)
  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def latestOffset(): Offset =
    VersionOffset(pinned.getOrElse(latestVersion))
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val target = pinned.getOrElse(latestVersion)
    val from = start.asInstanceOf[VersionOffset].version
    VersionOffset(maxVersions match {
      case Some(m) => math.min(from + m, target)
      case None => target
    })
  }
  override def reportLatestOffset(): Offset = VersionOffset(latestVersion)
  override def deserializeOffset(json: String): Offset =
    VersionOffset.fromJson(json)
  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    plan(start.asInstanceOf[VersionOffset].version,
      end.asInstanceOf[VersionOffset].version)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The CDF scan: file-served typed changes, planned by
  * [[VersionedTable.cdfFilesBetween]] over the commit log's one walk
  * (the appended-rows scan plans by
  * [[VersionedTable.changedFilesBetween]] over the same walk), streamed
  * by the shared [[VersionStream]]. Output order is
  * (data..., _change_type, _commit_version) from BOTH partition kinds —
  * append partitions read data columns and append (type, version) as
  * partition values; CDC partitions read (data..., _change_type)
  * physically and append (version).
  */
private[sources] class GraftCdfScan(path: String, dataSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushedFrom: Long = 0L, pushedTo: Long = Long.MaxValue) extends Scan {

  private def spark = SparkSession.active

  override def readSchema(): StructType = GraftTableScan.cdfSchema(dataSchema)
  override def description(): String =
    s"graft-table CDF $path (versions ($pushedFrom, " +
      s"${if (pushedTo == Long.MaxValue) "latest" else pushedTo}])"

  private val ignoreRowLevel =
    options.getBoolean("ignorerowlevelchanges", false)

  private def plan(from: Long, to: Long): Array[InputPartition] = {
    val f = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.cdfFilesBetween(spark, path, from, to, ignoreRowLevel)
      .zipWithIndex.map { case ((v, name, isCdc), i) =>
        val p = new Path(path, name)
        val values: Seq[Any] =
          if (isCdc) Seq(v) else Seq("insert", v)
        FileReadShim.filePartitionValues(i,
          Seq((p.toString, f.getFileStatus(p).getLen, values)))
      }.toArray
  }

  private def dispatchFactory: PartitionReaderFactory = {
    val insertFactory = FileReadShim.parquetReaderFactory(spark, dataSchema,
      StructType(Seq(
        StructField(VersionedTable.ChangeTypeCol, StringType,
          nullable = false),
        StructField(GraftTableScan.VersionCol, LongType, nullable = false))))
    val cdcFactory = FileReadShim.parquetReaderFactory(spark,
      StructType(dataSchema.fields :+
        StructField(VersionedTable.ChangeTypeCol, StringType)),
      StructType(Seq(
        StructField(GraftTableScan.VersionCol, LongType, nullable = false))))
    new PartitionReaderFactory {
      override def supportColumnarReads(p: InputPartition): Boolean = false
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val names = FileReadShim.partitionFileNames(p)
        if (names.forall(_.startsWith("cdc-"))) cdcFactory.createReader(p)
        else insertFactory.createReader(p)
      }
    }
  }

  override def toBatch: Batch = new Batch {
    private val from = math.max(pushedFrom,
      Option(options.get("startingversion")).map(_.toLong).getOrElse(0L))
    private val to = math.min(pushedTo,
      Option(options.get("endingversion")).map(_.toLong)
        .getOrElse(Long.MaxValue))
    override def planInputPartitions(): Array[InputPartition] = plan(from, to)
    override def createReaderFactory(): PartitionReaderFactory =
      dispatchFactory
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new VersionStream(path,
      Option(options.get("startingversion")).map(_.toLong).getOrElse(0L),
      Option(options.get("maxversionspertrigger")).map(_.toLong),
      plan, () => dispatchFactory)
}

/** Streaming offset = committed manifest version. */
case class VersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object VersionOffset {
  private val Re = """\{\s*"version"\s*:\s*(\d+)\s*\}""".r
  def fromJson(json: String): VersionOffset = json match {
    case Re(v) => VersionOffset(v.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft-table offset: $other")
  }
}
