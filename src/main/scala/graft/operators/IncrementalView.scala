package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.VersionedTable

/** Incremental materialized-view maintenance over the lake's
  * change-data-feed — the missing half of the CDF story: [[graft.streaming.VersionedSink]]
  * replicates a feed row-for-row; this maintains a persisted ROLLUP
  * from it without ever rescanning the source.
  *
  * The view is a versioned lake table keyed by the group (so it has the
  * full commit protocol: optimistic concurrency, time travel, CDF of
  * its own) holding, per group, the distributive aggregate state
  *
  *   - `_mv_rows`  — signed row count of the group,
  *   - `_mv_sum_<m>` — exact DECIMAL(38, scale) sum per measure,
  *   - `_mv_n_<m>`   — non-null count per measure (so AVG is derivable
  *     with SQL semantics: sum over non-null / count of non-null),
  *   - `_mv_min_<m>` / `_mv_max_<m>` — optional extremes, folded
  *     incrementally under append-only feeds; a window containing
  *     deletes/updates recomputes them for ONLY the touched groups
  *     from the source snapshot at the window's end version (a delete
  *     may have removed the extreme — no per-group delta can repair it),
  *   - `_mv_hll_<m>` — optional approx-COUNT(DISTINCT) as mergeable
  *     HLL sketch bytes (union at merge, estimate at read; same
  *     touched-group recompute under deletes — an HLL cannot un-count
  *     a deleted value),
  *   - `_mv_th_<m>` — optional distinct counts as mergeable THETA
  *     sketch bytes ([[graft.functions.ThetaSketchAgg]]) — same fold /
  *     recompute rules as HLL, but the stored state additionally
  *     answers cross-group set algebra (intersection / difference via
  *     `graft_theta_setop` over the view rows), which HLL cannot.
  *
  * Decimal sums make maintenance EXACT: decimal addition is associative
  * and commutative, so folding the feed's signed deltas (+1 for
  * `insert`/`update_postimage`, -1 for `delete`/`update_preimage`)
  * into the state is bit-identical to recomputing the aggregate from
  * the current snapshot — the equality the oracle checks. Double sums
  * would drift by fold order and could never be refreshed exactly.
  *
  * Scale shape (100 TB lens): a [[refresh]] touches (a) the commits in
  * the CDF window — bounded by each commit's touched files, never the
  * table — and (b) one linear scan of the view pruned to the touched
  * groups (semi join; AQE broadcasts the delta side when small). The
  * source is never rescanned after [[create]]. Writes are one keyed
  * commit ([[VersionedTable.merge]]: upsert survivors, delete emptied
  * groups) that also advances the view's writer-txn watermark and
  * stamps the source version it reflects, so a crashed-and-retried
  * refresh is exactly-once (the Delta `txn` discipline) and the stamp
  * can never lag the state.
  *
  * Reference analog: the reference recomputes its BigQuery analytics
  * (the `Queries` folder's whole-table aggregates) from scratch every
  * run;
  * this is the engine-native upgrade that keeps those rollups fresh
  * under the 12-hourly merge cadence without the rescan.
  */
object IncrementalView {

  /** Property keys stamped on the view table. */
  val SourceProperty = "graft.mv.source"
  val KeysProperty = "graft.mv.keys"
  val MeasuresProperty = "graft.mv.measures"
  val MinMaxProperty = "graft.mv.minmax"
  val ApproxProperty = "graft.mv.approx"
  val QuantileProperty = "graft.mv.quantile"
  val QuantileEpsProperty = "graft.mv.quantile.eps"
  val ThetaProperty = "graft.mv.theta"
  val ThetaKProperty = "graft.mv.theta.k"
  val ScaleProperty = "graft.mv.scale"
  val SourceVersionProperty = "graft.mv.source.version"
  /** Optional JOIN enrichment: a dimension table inner-joined into the
    * fact rows before aggregation — at create AND at every delta,
    * always AS OF the version stamped at create time. */
  val DimProperty = "graft.mv.dim"
  val DimJoinProperty = "graft.mv.dimjoin"
  val DimVersionProperty = "graft.mv.dim.version"

  /** Synthetic single-column group key (the view table's upsert /
    * delete key). `\u0001`-joined, null-distinguishing encoding.
    */
  val KeyCol = "_mv_key"
  val RowsCol = "_mv_rows"
  def sumCol(m: String): String = s"_mv_sum_$m"
  def nCol(m: String): String = s"_mv_n_$m"
  def minCol(m: String): String = s"_mv_min_$m"
  def maxCol(m: String): String = s"_mv_max_$m"
  def hllCol(m: String): String = s"_mv_hll_$m"
  def qCol(m: String): String = s"_mv_q_$m"
  def thetaCol(m: String): String = s"_mv_th_$m"

  private val Sep = "\u0001"

  /** The writer id of the view's txn watermark (epoch = the source
    * version folded in). Views last written by the two-commit apply
    * (upsert, then delete) carry `graft-mv-upsert` / `graft-mv-delete`
    * instead.
    */
  private val MvWriter = "graft-mv"

  /** The source version whose window is already folded into the view:
    * its watermark, else the legacy upsert one — past that, a retry
    * would fold the upserted survivors a second time.
    */
  private def appliedEpoch(spark: SparkSession, view: String): Option[Long] =
    VersionedTable.lastCommittedEpoch(spark, view, MvWriter).orElse(
      VersionedTable.lastCommittedEpoch(spark, view, "graft-mv-upsert"))

  /** A key or measure spec is `name` (a source column) or `name=expr`
    * (any deterministic SQL expression over a source row — e.g.
    * `bucket_hour=hour(ts)` makes the time-bucketed rollup, THE
    * canonical materialized view). Specs are `;`-separated in the
    * table properties, hence the separator ban. Returns
    * (alias, column, isExpression) per spec.
    */
  private[operators] def parseSpecs(
      specs: Seq[String]): Seq[(String, Column, Boolean)] =
    specs.map { s =>
      require(!s.contains(";"),
        s"view key/measure '$s' must not contain ';' (property separator)")
      s.split("=", 2) match {
        case Array(name) => (name.trim, col(name.trim), false)
        case Array(name, e) => (name.trim, expr(e.trim), true)
      }
    }

  private val Esc = "\u0002"

  /** Join the stringified key values unambiguously: null and the string
    * "null" are distinguished ("v"/"n" prefix), and occurrences of the
    * separator/escape INSIDE a value are escaped (esc doubled, then
    * sep prefixed with esc), so distinct key tuples can never collide
    * on one `_mv_key` — a collision would cross-merge two groups'
    * states and corrupt the keyed upsert/delete.
    */
  private def syntheticKey(keys: Seq[Column]): Column =
    keys.map { k =>
      val escaped = regexp_replace(
        regexp_replace(k.cast("string"), Esc, Esc + Esc), Sep, Esc + Sep)
      coalesce(concat(lit("v"), escaped), lit("n"))
    }.reduce((a, b) => concat(a, lit(Sep), b))

  /** Signed aggregate state of `rows` (sign = +1 for a snapshot; the
    * CDF sign column for a delta). One shuffle on the group key.
    * Key/measure expressions evaluate per input row BEFORE grouping, so
    * a CDF delta computes them on exactly the changed rows.
    */
  private def stateOf(rows: DataFrame, keys: Seq[(String, Column, Boolean)],
      measures: Seq[(String, Column, Boolean)],
      minmax: Seq[(String, Column, Boolean)],
      approx: Seq[(String, Column, Boolean)],
      quantile: Seq[(String, Column, Boolean)], qEps: Double,
      theta: Seq[(String, Column, Boolean)], thetaK: Int,
      scale: Int, sign: Column): DataFrame = {
    val aggs =
      (sum(sign).cast(LongType).as(RowsCol) +:
        measures.flatMap { case (m, mc, _) =>
          val v = mc.cast(DecimalType(38, scale))
          Seq(
            sum(when(sign < 0, -v).otherwise(v)).cast(DecimalType(38, scale))
              .as(sumCol(m)),
            sum(when(mc.isNotNull, sign).otherwise(lit(0L)))
              .cast(LongType).as(nCol(m)))
        }) ++
        minmax.flatMap { case (m, mc, _) =>
          Seq(min(mc).as(minCol(m)), max(mc).as(maxCol(m)))
        } ++
        approx.map { case (m, mc, _) =>
          hll_sketch_agg(mc).as(hllCol(m))
        } ++
        quantile.map { case (m, mc, _) =>
          graft.functions.GraftFunctions.quantileSketch(mc, qEps)
            .as(qCol(m))
        } ++
        theta.map { case (m, mc, _) =>
          graft.functions.GraftFunctions
            .theta(mc.cast(org.apache.spark.sql.types.StringType), thetaK)
            .as(thetaCol(m))
        }
    keyed(rows, keys)
      .groupBy(col(KeyCol) +: keys.map { case (n, _, _) => col(n) }: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Materialize the key alias columns and the synthetic [[KeyCol]] on a
    * source-shaped frame (shared by [[stateOf]] and the touched-group
    * snapshot recompute).
    */
  private def keyed(rows: DataFrame,
      keys: Seq[(String, Column, Boolean)]): DataFrame = {
    // an expression key materializes under its alias BEFORE grouping;
    // refuse an alias that shadows a source column — measures evaluate
    // over the same frame and would silently read the replaced value
    keys.foreach { case (name, _, isExpr) =>
      require(!isExpr || !rows.columns.contains(name),
        s"expression key alias '$name' shadows a source column — " +
          "pick a fresh alias")
    }
    keys.foldLeft(rows) { case (df, (name, k, _)) =>
      df.withColumn(name, k)
    }.withColumn(KeyCol, syntheticKey(keys.map { case (n, _, _) => col(n) }))
  }

  /** Materialize the view from the source's CURRENT snapshot and stamp
    * the source version it reflects. One source scan — the last one the
    * view will ever need.
    *
    * @param minmax extra MIN/MAX-maintained measures. Min/max are not
    *   delta-maintainable under deletes or updates (the removed row may
    *   have BEEN the extreme), so a refresh window containing row-level
    *   commits recomputes min/max for ONLY the touched groups from the
    *   source snapshot at the window's end version — untouched groups
    *   and the additive sum/count state stay incremental.
    * @param approxDistinct extra approx-COUNT(DISTINCT) measures carried
    *   as mergeable HLL sketch state (Datasketches; union at merge,
    *   estimate at read). Folds forward under inserts; the same
    *   touched-group recompute under deletes/updates. Sketch insertion
    *   is order-independent, so the folded sketch equals the
    *   directly-computed one exactly.
    */
  def create(spark: SparkSession, source: String, view: String,
      keys: Seq[String], measures: Seq[String], scale: Int = 2,
      minmax: Seq[String] = Nil,
      approxDistinct: Seq[String] = Nil,
      quantile: Seq[String] = Nil,
      quantileEps: Double = 1e-4,
      thetaDistinct: Seq[String] = Nil,
      thetaK: Int = 4096,
      dim: Option[String] = None,
      dimJoin: Seq[(String, String)] = Nil): Unit = {
    require(keys.nonEmpty, "incremental view needs at least one group key")
    require(measures.nonEmpty || minmax.nonEmpty ||
      approxDistinct.nonEmpty || quantile.nonEmpty ||
      thetaDistinct.nonEmpty,
      "incremental view needs at least one measure")
    require(dim.isEmpty == dimJoin.isEmpty,
      "dim and dimJoin come together (the join-enriched view)")
    dimJoin.foreach { case (f, dc) =>
      require(!f.contains(";") && !dc.contains(";") &&
        !f.contains("=") && !dc.contains("="),
        s"join key '$f=$dc' must not contain ';' or '='") }
    val (version, _) = VersionedTable.latest(spark, source)
    // pin the dim snapshot ONCE: every later delta joins this exact
    // version (see [[enriched]] — exactness by construction)
    val dimVersion = dim.map(d =>
      VersionedTable.latest(spark, d)._1).getOrElse(0L)
    val snap = enriched(spark, VersionedTable.read(spark, source),
      dim, dimJoin, dimVersion)
    val state = stateOf(snap, parseSpecs(keys), parseSpecs(measures),
      parseSpecs(minmax), parseSpecs(approxDistinct),
      parseSpecs(quantile), quantileEps,
      parseSpecs(thetaDistinct), thetaK, scale, lit(1L))
    VersionedTable.create(spark, view, state.schema)
    VersionedTable.append(spark, state, view)
    VersionedTable.alterProperties(spark, view, Map(
      SourceProperty -> source,
      KeysProperty -> keys.mkString(";"),
      MeasuresProperty -> measures.mkString(";"),
      MinMaxProperty -> minmax.mkString(";"),
      ApproxProperty -> approxDistinct.mkString(";"),
      QuantileProperty -> quantile.mkString(";"),
      QuantileEpsProperty -> quantileEps.toString,
      ThetaProperty -> thetaDistinct.mkString(";"),
      ThetaKProperty -> thetaK.toString,
      ScaleProperty -> scale.toString,
      SourceVersionProperty -> version.toString,
      DimProperty -> dim.getOrElse(""),
      DimJoinProperty ->
        dimJoin.map { case (f, d) => s"$f=$d" }.mkString(";"),
      DimVersionProperty -> dimVersion.toString))
  }

  private case class Spec(source: String, keys: Seq[String],
      measures: Seq[String], minmax: Seq[String], approx: Seq[String],
      quantile: Seq[String], quantileEps: Double,
      theta: Seq[String], thetaK: Int,
      scale: Int, stampedVersion: Long,
      dim: Option[String], dimJoin: Seq[(String, String)],
      dimVersion: Long)

  private def splitSpecs(s: String): Seq[String] =
    s.split(";").toSeq.map(_.trim).filter(_.nonEmpty)

  private def specOf(spark: SparkSession, view: String): Spec = {
    val props = VersionedTable.tableProperties(spark, view)
    def prop(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"$view is not an incremental view: missing table property $k"))
    Spec(prop(SourceProperty), splitSpecs(prop(KeysProperty)),
      splitSpecs(prop(MeasuresProperty)),
      splitSpecs(props.getOrElse(MinMaxProperty, "")),
      splitSpecs(props.getOrElse(ApproxProperty, "")),
      splitSpecs(props.getOrElse(QuantileProperty, "")),
      props.getOrElse(QuantileEpsProperty, "1e-4").toDouble,
      splitSpecs(props.getOrElse(ThetaProperty, "")),
      props.getOrElse(ThetaKProperty, "4096").toInt,
      prop(ScaleProperty).toInt,
      prop(SourceVersionProperty).toLong,
      props.get(DimProperty).filter(_.nonEmpty),
      splitSpecs(props.getOrElse(DimJoinProperty, "")).map { p =>
        val a = p.split("=", 2)
        (a(0).trim, a(1).trim)
      },
      props.getOrElse(DimVersionProperty, "0").toLong)
  }

  /** Inner-join the dimension AS OF the version stamped at view-create
    * time into fact-shaped rows (a CDF delta keeps its `_change_type`
    * tag through the join). The dim side's join columns drop so a
    * shared name can never turn ambiguous downstream.
    *
    * Exactness by construction: PINNING the dim version makes the
    * enrichment a pure function of the fact row, so a fact row's
    * delete/update joins to exactly what its insert joined to — a dim
    * key appearing (or a row changing) AFTER create can never corrupt
    * already-folded state, and the delta fold and the touched-group
    * recompute inside one refresh can never see two dim states. A
    * moved dimension means a different view: rebuild (the standard MV
    * contract), or version the SCD and join on the version key. Fact
    * rows without a match carry nothing, and so do their deletes —
    * consistent.
    */
  private def enriched(spark: SparkSession, rows: DataFrame,
      dim: Option[String], dimJoin: Seq[(String, String)],
      dimVersion: Long): DataFrame =
    dim match {
      case None => rows
      case Some(d) =>
        require(dimJoin.nonEmpty, "join view needs at least one join key")
        val dimDf = VersionedTable.read(spark, d, dimVersion)
        val cond = dimJoin.map { case (f, dc) => rows(f) === dimDf(dc) }
          .reduce(_ && _)
        dimJoin.foldLeft(rows.join(dimDf, cond, "inner")) {
          case (df, (_, dc)) => df.drop(dimDf(dc))
        }
    }

  /** Fold one CDF frame (rows tagged `_change_type`) into the view state
    * under idempotence epoch `epoch` and stamp `epoch` as the source
    * version the view reflects — the shared core of the batch
    * [[refresh]] and the streaming [[startMaintain]]. Additive state
    * makes any partition of the feed into apply calls equivalent, as
    * long as each call's rows are all from commits <= its epoch and the
    * calls arrive in commit order (both maintainers guarantee it). A
    * window already folded (a retry after the commit landed) only moves
    * a stamp that lags.
    */
  private def applyCdf(spark: SparkSession, view: String, spec: Spec,
      cdf: DataFrame, epoch: Long,
      insertOnlyHint: Option[Boolean] = None): Unit = {
    import spec.scale
    if (appliedEpoch(spark, view).exists(_ >= epoch)) {
      if (spec.stampedVersion < epoch)
        VersionedTable.alterProperties(spark, view,
          Map(SourceVersionProperty -> epoch.toString))
      return
    }
    val keySpecs = parseSpecs(spec.keys)
    val measureSpecs = parseSpecs(spec.measures)
    val minmaxSpecs = parseSpecs(spec.minmax)
    val approxSpecs = parseSpecs(spec.approx)
    val quantileSpecs = parseSpecs(spec.quantile)
    val thetaSpecs = parseSpecs(spec.theta)
    val keys = keySpecs.map(_._1)
    val measures = measureSpecs.map(_._1)
    val minmax = minmaxSpecs.map(_._1)
    val approx = approxSpecs.map(_._1)
    val quantile = quantileSpecs.map(_._1)
    val thetaM = thetaSpecs.map(_._1)
    // min/max, HLL, and GK state only fold forward: a delete/update may
    // remove the extreme (or a counted distinct value), which no
    // per-group delta can repair. A window containing row-level commits
    // therefore switches the NON-additive state to a recompute of ONLY
    // the touched groups from the source snapshot AT the window's end
    // version (keyed semi-join scan — the untouched groups and the
    // additive sum/count fold stay incremental; the source is never
    // fully rescanned).
    val nonAdditive = minmax.nonEmpty || approx.nonEmpty ||
      quantile.nonEmpty || thetaM.nonEmpty
    // The batch refresh already knows from the commit LOG whether the
    // window can contain non-insert rows (insertOnlyHint) — deciding
    // from metadata skips a whole evaluation of the CDF derivation on
    // the hot pure-append path. Only a caller without the log view
    // (the streaming maintainer's persisted batch) pays the row probe.
    val recomputeTouched = nonAdditive && (insertOnlyHint match {
      case Some(insertOnly) => !insertOnly
      case None =>
        !cdf.where(col(VersionedTable.ChangeTypeCol) =!= "insert").isEmpty
    })
    val sign = when(col(VersionedTable.ChangeTypeCol)
        .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    // keep a group if ANY state component moved — an update that only
    // changes a value nets rows=0 and n=0 but a nonzero sum delta. In
    // recompute mode keep EVERY touched group: an update can change an
    // extreme while netting zero in every additive component.
    val moved =
      if (recomputeTouched) lit(true)
      else measures
        .flatMap(m => Seq(col(nCol(m)) =!= 0L,
          coalesce(col(sumCol(m)), lit(0).cast(DecimalType(38, scale))) =!= 0))
        .foldLeft(col(RowsCol) =!= 0L)(_ or _)
    // the delta frame is consumed several times (emptiness probe, the
    // semi-join build side, and the outer-join left side) — persist it
    // so one refresh folds the CDF window ONCE, not once per action.
    // A join view enriches the delta rows against the dimension FIRST
    // (exactly the changed rows hit the join, never the fact table).
    val delta = stateOf(
      enriched(spark, cdf, spec.dim, spec.dimJoin, spec.dimVersion),
      keySpecs, measureSpecs, minmaxSpecs,
      approxSpecs, quantileSpecs, spec.quantileEps,
      thetaSpecs, spec.thetaK, scale, sign)
      .where(moved)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val recomputed =
        if (!recomputeTouched) None
        else {
          // snapshot at the window-end version, NOT latest: the stream
          // maintainer's batch may be behind the source head, and state
          // past the epoch belongs to later windows
          val snap = enriched(spark,
            VersionedTable.read(spark, spec.source, epoch),
            spec.dim, spec.dimJoin, spec.dimVersion)
          val pruned = keyed(snap, keySpecs)
            .join(delta.select(KeyCol), Seq(KeyCol), "left_semi")
          val aggs =
            minmaxSpecs.flatMap { case (m, mc, _) =>
              Seq(min(mc).as(minCol(m)), max(mc).as(maxCol(m)))
            } ++
              approxSpecs.map { case (m, mc, _) =>
                hll_sketch_agg(mc).as(hllCol(m))
              } ++
              quantileSpecs.map { case (m, mc, _) =>
                graft.functions.GraftFunctions
                  .quantileSketch(mc, spec.quantileEps).as(qCol(m))
              } ++
              thetaSpecs.map { case (m, mc, _) =>
                graft.functions.GraftFunctions
                  .theta(mc.cast(org.apache.spark.sql.types.StringType),
                    spec.thetaK).as(thetaCol(m))
              }
          Some(pruned.groupBy(KeyCol).agg(aggs.head, aggs.tail: _*))
        }
      applyDelta(spark, view, delta, keys, measures, minmax, approx,
        quantile, thetaM, scale, epoch, recomputed)
    } finally { delta.unpersist(false); () }
  }

  private def applyDelta(spark: SparkSession, view: String,
      delta: DataFrame, keys: Seq[String], measures: Seq[String],
      minmax: Seq[String], approx: Seq[String], quantile: Seq[String],
      thetaM: Seq[String],
      scale: Int, epoch: Long,
      recomputed: Option[DataFrame] = None): Unit = {
    // current state of ONLY the touched groups (semi join prunes the
    // view scan; AQE broadcasts the delta side when it is small)
    val curState = VersionedTable.read(spark, view)
      .join(delta.select(KeyCol), Seq(KeyCol), "left_semi")

    val zeroDec = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, scale))
    val mergedCols =
      keys.map(k => col(s"d.$k").as(k)) ++
        Seq((coalesce(col(s"c.$RowsCol"), lit(0L)) +
          col(s"d.$RowsCol")).as(RowsCol)) ++
        measures.flatMap { m =>
          Seq(
            (coalesce(col(s"c.${sumCol(m)}"), zeroDec) +
              coalesce(col(s"d.${sumCol(m)}"), zeroDec))
              .cast(DecimalType(38, scale)).as(sumCol(m)),
            (coalesce(col(s"c.${nCol(m)}"), lit(0L)) +
              col(s"d.${nCol(m)}")).as(nCol(m)))
        } ++
        minmax.flatMap { m =>
          if (recomputed.isDefined)
            // snapshot recompute is authoritative for touched groups
            Seq(col(s"r.${minCol(m)}").as(minCol(m)),
              col(s"r.${maxCol(m)}").as(maxCol(m)))
          else
            // least/greatest skip nulls (all-null => null) — exactly the
            // merge of two partial extremes
            Seq(least(col(s"c.${minCol(m)}"), col(s"d.${minCol(m)}"))
                .as(minCol(m)),
              greatest(col(s"c.${maxCol(m)}"), col(s"d.${maxCol(m)}"))
                .as(maxCol(m)))
        } ++
        approx.map { m =>
          if (recomputed.isDefined) col(s"r.${hllCol(m)}").as(hllCol(m))
          else {
            val c = col(s"c.${hllCol(m)}")
            val d = col(s"d.${hllCol(m)}")
            when(c.isNull, d).when(d.isNull, c)
              .otherwise(hll_union(c, d)).as(hllCol(m))
          }
        } ++
        quantile.map { m =>
          if (recomputed.isDefined) col(s"r.${qCol(m)}").as(qCol(m))
          else
            // QuantileUnion is null-safe on either side
            graft.functions.GraftFunctions.quantileUnion(
              col(s"c.${qCol(m)}"), col(s"d.${qCol(m)}")).as(qCol(m))
        } ++
        thetaM.map { m =>
          if (recomputed.isDefined) col(s"r.${thetaCol(m)}").as(thetaCol(m))
          else {
            val c = col(s"c.${thetaCol(m)}")
            val d = col(s"d.${thetaCol(m)}")
            when(c.isNull, d).when(d.isNull, c)
              .otherwise(graft.functions.GraftFunctions
                .thetaSetOp(c, d, "union")).as(thetaCol(m))
          }
        }
    val joinedBase = delta.alias("d")
      .join(curState.alias("c"), Seq(KeyCol), "left_outer")
    val merged = recomputed
      .map(r => joinedBase.join(r.alias("r"), Seq(KeyCol), "left_outer"))
      .getOrElse(joinedBase)
      .select(col(KeyCol) +: mergedCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val viewSchemaCols = curState.columns.toSeq
      val survivors = merged.where(col(RowsCol) > 0L)
        .select(viewSchemaCols.map(col): _*)
      val dead = merged.where(col(RowsCol) <= 0L).select(KeyCol)

      // ONE commit: survivors, dead groups, the writer-txn watermark and
      // the source-version stamp land together, so a crashed apply left
      // nothing behind and a retried one is skipped at the epoch — it
      // can never fold the window a second time. An empty delta still
      // commits (watermark + stamp, no data file).
      VersionedTable.merge(spark, view, KeyCol, survivors, dead,
        txn = Some((MvWriter, epoch)),
        setProps = Map(SourceVersionProperty -> epoch.toString))
    } finally { merged.unpersist(false); () }
  }

  /** Fold the source commits past the stamped version into the view via
    * its CDF, in one view commit. Returns the number of source versions
    * applied (0 = the view was already fresh; no commit is written).
    */
  def refresh(spark: SparkSession, view: String): Long = {
    val spec = specOf(spark, view)
    val from = spec.stampedVersion
    val (cur, _) = VersionedTable.latest(spark, spec.source)
    if (cur <= from) return 0L
    val cdf = VersionedTable.readChangesCDF(spark, spec.source, from, cur)
    applyCdf(spark, view, spec, cdf, cur,
      insertOnlyHint =
        Some(VersionedTable.insertOnlyRange(spark, spec.source, from, cur)))
    cur - from
  }

  /** Rebase a join-enriched view onto a NEW pinned dimension version —
    * the explicit lifecycle op for an evolved SCD dimension (the
    * alternative was drop+recreate). The folded state is recomputed in
    * full from the source snapshot AS OF the view's stamped source
    * version, enriched at the new dim pin, and swapped in with ONE
    * overwrite commit that also stamps the new dim version — by
    * construction the result is identical to a from-scratch [[create]]
    * at (source@stampedVersion, dim@newVersion), and every subsequent
    * [[refresh]] / [[startMaintain]] delta joins the new pin (specOf
    * re-reads the stamped properties). Defaults to the dimension's latest version.
    * Returns the version rebased onto (a no-op when already there).
    *
    * Scale shape: one source-snapshot scan + the dim join + one
    * grouped fold — the create() cost, paid explicitly and rarely
    * (dimension moves are events, not a steady state); the fact-table
    * CDF history is never replayed.
    */
  def rebaseDim(spark: SparkSession, view: String,
      dimVersion: Option[Long] = None): Long = {
    val spec = specOf(spark, view)
    val d = spec.dim.getOrElse(throw new IllegalArgumentException(
      s"$view is not a join view — no dimension to rebase"))
    val newVer = dimVersion.getOrElse(VersionedTable.latest(spark, d)._1)
    if (newVer == spec.dimVersion) return newVer
    val snap = enriched(spark,
      VersionedTable.read(spark, spec.source, spec.stampedVersion),
      spec.dim, spec.dimJoin, newVer)
    val state = stateOf(snap, parseSpecs(spec.keys),
      parseSpecs(spec.measures), parseSpecs(spec.minmax),
      parseSpecs(spec.approx), parseSpecs(spec.quantile),
      spec.quantileEps, parseSpecs(spec.theta), spec.thetaK,
      spec.scale, lit(1L))
    // state and dim stamp in ONE commit: a crash between two commits
    // would leave state folded at the new pin under the old stamp
    VersionedTable.overwrite(spark, state, view,
      setProps = Map(DimVersionProperty -> newVer.toString))
    newVer
  }

  /** Continuous maintenance: the same fold, driven by the streaming
    * change-data-feed source. Each micro-batch applies its signed delta
    * under epoch = the batch's max `_commit_version`, so Structured
    * Streaming's at-least-once foreachBatch replay cannot double-apply
    * (same discipline as [[graft.streaming.VersionedSink.startReplicateCDF]]).
    * The source-version stamp advances with each batch, so a later
    * batch [[refresh]] continues from wherever the stream stopped.
    *
    * Single-maintainer contract: one maintainer (stream OR batch) at a
    * time — the state read inside the fold must be the pre-apply
    * snapshot.
    */
  def startMaintain(spark: SparkSession, view: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spec0 = specOf(spark, view)
    spark.readStream.format("graft-table")
      .option("readChangeFeed", "true")
      // exclusive: the stream begins at the first commit PAST the stamp
      .option("startingVersion", spec0.stampedVersion.toString)
      .load(spec0.source)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // one job: the batch's max version, null for an empty batch
          val top = b.agg(max(col("_commit_version"))).head()
          if (!top.isNullAt(0)) {
            val s = batch.sparkSession
            // re-read the spec each batch: the stamp moves under us
            applyCdf(s, view, specOf(s, view), b, top.getLong(0))
          }
        } finally { b.unpersist(false); () }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** The view as a query result: group keys + per-measure `cnt_<m>` /
    * `sum_<m>` / `avg_<m>` with SQL semantics (sum/avg over non-null;
    * avg null for all-null groups), doubles by the engine's exact-
    * decimal convention. Internal state columns stay internal.
    */
  def read(spark: SparkSession, view: String): DataFrame = {
    val props = VersionedTable.tableProperties(spark, view)
    def names(p: String): Seq[String] =
      splitSpecs(props.getOrElse(p, "")).map(_.split("=", 2)(0).trim)
    val keys = names(KeysProperty)
    val measures = names(MeasuresProperty)
    val minmax = names(MinMaxProperty)
    val out =
      keys.map(col) ++ Seq(col(RowsCol).as("n_rows")) ++
        measures.flatMap { m =>
          val s = col(sumCol(m)).cast(DoubleType)
          val n = col(nCol(m))
          Seq(n.as(s"cnt_$m"),
            when(n > 0L, s).as(s"sum_$m"),
            when(n > 0L, s / n).as(s"avg_$m"))
        } ++
        minmax.flatMap { m =>
          Seq(col(minCol(m)).as(s"min_$m"), col(maxCol(m)).as(s"max_$m"))
        } ++
        names(ApproxProperty).map { m =>
          when(col(hllCol(m)).isNotNull,
            hll_sketch_estimate(col(hllCol(m)))).as(s"approx_$m")
        } ++
        names(QuantileProperty).map { m =>
          graft.functions.GraftFunctions.quantileEstimate(
            col(qCol(m)), lit(0.5)).as(s"p50_$m")
        } ++
        names(ThetaProperty).map { m =>
          when(col(thetaCol(m)).isNotNull,
            graft.functions.GraftFunctions.thetaEstimate(col(thetaCol(m))))
            .as(s"theta_$m")
        }
    VersionedTable.read(spark, view).select(out: _*)
  }
}
