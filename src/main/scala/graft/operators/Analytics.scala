package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Analytical-layer aggregations (SURVEY.md §2.4 A2/A4-A7 — the reference's
  * four BigQuery queries re-expressed as DataFrame transforms; in the engine
  * they run as `spark.sql` / DataFrame over lake tables).
  *
  * All aggregates here are partial-aggregate friendly (map-side combine
  * before the shuffle) and group on low-cardinality keys — at 100 TB the
  * shuffle carries only (groups × partitions) pre-aggregated rows.
  */
object Analytics {

  /** Exact, order-independent sum of a double measure.
    *
    * Plain double SUM is non-associative: the result depends on partition
    * boundaries and merge order, so two runs (or two engines) can differ in
    * the last ulp. Casting each input to DECIMAL(scale 2 — the reference's
    * measure type, `...load_latest...py:64`) makes the aggregation exact and
    * therefore deterministic; the final cast back to double is a single
    * well-defined conversion. This mirrors the reference's own
    * DecimalType(10,2) measure convention while fixing its float drift.
    */
  def stableSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** The FIXED IEEE Pearson sequence over five exact double moments —
    * (n·Σxy − Σx·Σy, √(n·Σxx − Σx²)·√(n·Σyy − Σy²)). Shared by
    * [[autocorrelation]], [[crossCorrelation]], and
    * [[Graph.degreeAssortativity]] so the op order that makes the
    * correlation hash-oracle-able is single-sourced: a reordering in
    * one consumer can no longer silently break only that operator.
    */
  private[operators] def pearsonNumDen(n: Column, sx: Column,
      sy: Column, sxx: Column, syy: Column,
      sxy: Column): (Column, Column) =
    (n * sxy - sx * sy,
      sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))

  /** Exact mean: exact decimal sum divided by count, in double. */
  def stableAvg(c: Column, scale: Int = 2): Column =
    stableSum(c, scale) / count(c)

  /** A2 — rows per group. Ref `mergeHistoricalWeather.py:56`. */
  def groupCount(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).count().orderBy(key)

  /** A4 — monthly average of a measure.
    * Ref `Queries/Average Energy Consumption by Month.sql`.
    */
  def monthlyAvg(df: DataFrame, timeCol: String, measure: String): DataFrame =
    df.groupBy(month(col(timeCol)).as("month"))
      .agg(stableAvg(col(measure)).as("avg_" + measure))
      .orderBy("month")

  /** A5 — hour-of-day average. Ref `Queries/How does energy consumption
    * vary by time of day_.sql`.
    */
  def hourlyAvg(df: DataFrame, timeCol: String, measure: String): DataFrame =
    df.groupBy(hour(col(timeCol)).as("hour_of_day"))
      .agg(stableAvg(col(measure)).as("avg_" + measure))
      .orderBy("hour_of_day")

  /** A6 — percentage-of-total distribution across N measure columns in one
    * global aggregate (single row). Ref `Queries/Percentage Distribution of
    * Each Energy.sql`: `ROUND(SUM(src)/SUM(src1+..+srcN)*100, 2)` — note the
    * denominator is the SUM of the row-wise total, so a null in any measure
    * drops that entire row from the denominator (parity-relevant).
    */
  def percentageDistribution(df: DataFrame, measures: Seq[String]): DataFrame = {
    val rowTotal = measures.map(col).reduce(_ + _)
    val total = stableSum(rowTotal)
    df.agg(
      round(stableSum(col(measures.head)) / total * 100, 2).as("pct_" + measures.head),
      measures.tail.map(m =>
        round(stableSum(col(m)) / total * 100, 2).as("pct_" + m)): _*)
  }

  /** Incremental rollup maintenance: merge a new batch into an existing
    * pre-aggregated table of (keys, cnt, decimal sums). Because count and
    * decimal-sum are commutative monoids, re-aggregating `existing ∪
    * partial(batch)` equals aggregating all raw data — the 12-h-cadence
    * append→re-aggregate pattern without ever rescanning history.
    * `measures` maps measure column → output sum column.
    */
  def rollupBatch(batch: DataFrame, keys: Seq[String],
      measures: Map[String, String]): DataFrame =
    batch.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      measures.toSeq.sortBy(_._2).map { case (m, out) =>
        sum(col(m).cast(DecimalType(18, 2))).cast(DecimalType(28, 2)).as(out)
      }: _*)

  def mergeRollup(existing: DataFrame, batchRollup: DataFrame,
      keys: Seq[String], sumCols: Seq[String]): DataFrame =
    existing.unionByName(batchRollup)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).cast(LongType).as("cnt"),
        sumCols.map(c => sum(col(c)).cast(DecimalType(28, 2)).as(c)): _*)

  /** Exact second-moment statistics: sample stddev of two measures and
    * their Pearson correlation, computed from EXACT decimal power sums
    * (Σx, Σy, Σx², Σy², Σxy, n) rather than the built-in streaming
    * co-moment aggregates (corr/stddev_samp), whose merge order makes the
    * last ulp partition-dependent. Inputs are cast to DECIMAL(18,2) per
    * element (the reference's measure convention) so products and sums are
    * exact and order-independent; the closed-form double arithmetic on top
    * is a fixed expression tree — bit-identical across engines. One
    * map-side-combined pass (the extension of the reference's
    * "weather-vs-price correlation", which README.md:286 eyeballs from
    * A7's output).
    */
  def exactStats(df: DataFrame, x: String, y: String): DataFrame = {
    val agg = momentAgg(df, Nil, x, y, scale = 2)
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val sxx = col("__sxx"); val syy = col("__syy"); val sxy = col("__sxy")
    agg.select(
      n.cast(LongType).as("n"),
      sqrt((sxx - sx * sx / n) / (n - 1)).as("stddev_x"),
      sqrt((syy - sy * sy / n) / (n - 1)).as("stddev_y"),
      ((sxy - sx * sy / n) /
        (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))).as("corr_xy"))
  }

  /** Per-group shape-of-distribution profile: skewness g₁ and excess
    * kurtosis g₂ from the four decimal-exact power sums — the "is this
    * metric long-tailed / heavy-tailed?" question a quality or latency
    * column gets before anyone trusts its mean. Raw-moment identities
    * over ONE partial-aggregated pass (no second centering scan):
    *   m = s₁/n, v = s₂/n − m²
    *   g₁ = (s₃/n − 3m·s₂/n + 2m³) / v^{3/2}
    *   g₂ = (s₄/n − 4m·s₃/n + 6m²·s₂/n − 3m⁴) / v² − 3
    * Power sums accumulate as exact decimals with pinned per-step
    * widths — x² lands in DECIMAL(18,4) so the x³/x⁴ products stay
    * inside 38 digits in BOTH engines' width rules (DuckDB errors past
    * 38 rather than rescaling): the contract is |measure| < 10⁷ at
    * scale 2 (unit-scale a wider measure first). Each sum casts to
    * double ONCE and the statistics are a fixed IEEE tree (round-6
    * canonicalized). Groups with zero variance emit null.
    */
  def momentsProfile(df: DataFrame, keyCols: Seq[String],
      measure: String): DataFrame = {
    // the |x| < 10^7 contract is ENFORCED, not assumed: past it the
    // x² cast would overflow to null under non-ANSI and the row would
    // silently drop out of s2/s3/s4 while staying in n/s1 — wrong
    // moments with no error (the kendallTau loud-guard discipline)
    val d0 = col(measure).cast(DecimalType(18, 2))
    val d = when(d0.isNull || abs(d0) < 10000000L, d0)
      .otherwise(raise_error(concat(
        lit(s"momentsProfile: |$measure| = "), abs(d0).cast(StringType),
        lit(" breaks the |measure| < 1e7 exact-width contract — " +
          "unit-scale the measure first"))).cast(DecimalType(18, 2)))
    val x2 = (d * d).cast(DecimalType(18, 4))
    val agg = df.where(d.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).cast(DoubleType).as("__n"),
        sum(d).cast(DoubleType).as("__s1"),
        sum(x2).cast(DoubleType).as("__s2"),
        sum((x2 * d).cast(DecimalType(38, 6))).cast(DoubleType).as("__s3"),
        sum((x2 * x2).cast(DecimalType(38, 8))).cast(DoubleType).as("__s4"))
    val n = col("__n")
    val m = col("__s1") / n
    val v = col("__s2") / n - m * m
    val g1 = (col("__s3") / n - lit(3.0) * m * (col("__s2") / n) +
      lit(2.0) * m * m * m) / (sqrt(v) * v)
    val g2 = (col("__s4") / n - lit(4.0) * m * (col("__s3") / n) +
      lit(6.0) * m * m * (col("__s2") / n) -
      lit(3.0) * m * m * m * m) / (v * v) - lit(3.0)
    agg.select(keyCols.map(col) ++ Seq(
      n.cast(LongType).as("n"),
      (round(m, 6) + lit(0.0)).as("mean"),
      when(v > 0, round(g1, 6) + lit(0.0)).as("skewness"),
      when(v > 0, round(g2, 6) + lit(0.0)).as("kurtosis_excess")): _*)
  }

  /** The five decimal-exact moment sums (n, Σx, Σy, Σx², Σy², Σxy) as
    * one partial-aggregated pass — THE shared discipline of
    * [[exactStats]] and [[olsByGroup]]. Pairwise-complete rows only:
    * count(*) over rows where a measure is null would mismatch the
    * null-skipping sums and silently skew every moment. Decimal
    * accumulation, one well-defined cast to double at the end, so every
    * derived statistic is partition-order independent.
    */
  private def momentAgg(df: DataFrame, keyCols: Seq[String], x: String,
      y: String, scale: Int): DataFrame = {
    val xd = col(x).cast(DecimalType(18, scale))
    val yd = col(y).cast(DecimalType(18, scale))
    val complete = df.where(col(x).isNotNull && col(y).isNotNull)
    complete.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      sum(xd).cast(DoubleType).as("__sx"),
      sum(yd).cast(DoubleType).as("__sy"),
      sum(xd * xd).cast(DoubleType).as("__sxx"),
      sum(yd * yd).cast(DoubleType).as("__syy"),
      sum(xd * yd).cast(DoubleType).as("__sxy"))
  }

  /** Exact-moment ordinary least squares per group: slope, intercept,
    * and r² of y on x from the five decimal-exact moment sums
    * ([[exactStats]]'s discipline, grouped) — one partial-aggregated
    * pass, results independent of partition layout, every float op a
    * single well-defined IEEE step so the output is engine-portable
    * WITHOUT rounding. The closed form the built-in `regr_slope`
    * cannot give deterministically (its double sums are order-
    * dependent). Groups need ≥ 2 distinct x values for a defined slope
    * (otherwise the variance denominator is 0 → null/NaN per IEEE,
    * surfaced as-is).
    */
  def olsByGroup(df: DataFrame, keyCols: Seq[String], x: String,
      y: String, scale: Int = 2): DataFrame = {
    val agg = momentAgg(df, keyCols, x, y, scale)
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val sxx = col("__sxx"); val syy = col("__syy"); val sxy = col("__sxy")
    val cov = sxy - sx * sy / n
    val vx = sxx - sx * sx / n
    val vy = syy - sy * sy / n
    val slope = cov / vx
    agg.select(keyCols.map(col) ++ Seq(
      n.cast(LongType).as("n"),
      slope.as("slope"),
      ((sy - slope * sx) / n).as("intercept"),
      ((cov * cov) / (vx * vy)).as("r2")): _*)
  }

  /** A7 — multi-key grouped average, ordered by the aggregate descending.
    * Ref `README.md:290-300` (avg price per exact weather condition).
    * Tie-broken on the group keys so output order is total and stable.
    */
  def multiKeyAvg(df: DataFrame, keys: Seq[String], measure: String,
      alias: String = "average_price"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(round(stableAvg(col(measure)), 2).as(alias))
      .orderBy(desc(alias) +: keys.map(col): _*)

  /** Gap-fill resample: regularize an irregular per-key time series onto a
    * fixed `stepMicros` grid (anchored at each key's first observation)
    * and forward-fill missing cells — the "resample().ffill()" of the
    * reference's 5/15-minute energy feeds, e.g. regularizing sensor
    * readings before an as-of merge. Policy within a cell: MAX of the
    * observations (deterministic; no float-order sensitivity — the whole
    * operator is max/ffill, no sums). Leading cells are never null: the
    * grid starts at the key's first observation.
    *
    * Shape at scale: one narrow bounds agg (keys rows, broadcast back),
    * one cell downsample agg, one left join on (keys, cell), one window
    * per key. Grid size = span/step per key — the caller's step bounds
    * the explosion. If one key's grid outgrows a task, pre-split the
    * window on a coarse time bucket and carry the fill across buckets
    * (the as-of carry-spine trick); not needed for feed-cadence data.
    *
    * Output: `keyCols :+ (gts timestamp) :+ (valueCol filled)`.
    */
  /** Resample each key's series onto a fixed `stepMicros` grid with
    * LINEAR interpolation across gaps (forward/back-fill only at the
    * edges, where one neighbor is missing). Same scale shape as
    * [[gapFill]]: per-key bounds agg, grid explode, one cell agg, and
    * two frame-bounded windows per key — the windows run inside each
    * key's partition, so 100 TB of series parallelize by key. For a key
    * whose grid is huge relative to its observations the explode
    * dominates; that is inherent to materializing the grid, not a plan
    * defect.
    *
    * Interpolation arithmetic is plain IEEE double (`prev + (next -
    * prev) * elapsed/gap`) so an engine re-deriving it bit-for-bit
    * agrees exactly (g2's DuckDB oracle does).
    */
  def resampleLinear(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"step must be positive, got $stepMicros")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(keyCols.map(col) :+
      unix_micros(col(tsCol).cast(TimestampType)).as("__us") :+
      col(valueCol): _*)
    val bounds = keyed.groupBy(keyCols.map(col): _*)
      .agg(min("__us").as("__lo"), max("__us").as("__hi"))
    val grid = bounds
      .withColumn("__gus",
        explode(sequence(col("__lo"), col("__hi"), lit(stepMicros))))
      .select(keyCols.map(col) :+ col("__gus"): _*)
    val obs = keyed.join(broadcast(bounds), keyCols)
      .withColumn("__gus",
        col("__lo") + expr(s"((__us - __lo) div ${stepMicros}L)") * stepMicros)
    val cells = obs.groupBy((keyCols :+ "__gus").map(col): _*)
      .agg(max(col(valueCol)).as("__cv"))
    val back = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__gus"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__gus"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(cells, keyCols :+ "__gus", "left")
      .withColumn("__pv", last(col("__cv"), ignoreNulls = true).over(back))
      .withColumn("__pt", last(when(col("__cv").isNotNull, col("__gus")),
        ignoreNulls = true).over(back))
      .withColumn("__nv", first(col("__cv"), ignoreNulls = true).over(fwd))
      .withColumn("__nt", first(when(col("__cv").isNotNull, col("__gus")),
        ignoreNulls = true).over(fwd))
      .select(keyCols.map(col) :+
        timestamp_micros(col("__gus")).as("gts") :+
        when(col("__cv").isNotNull, col("__cv"))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__gus") - col("__pt")).cast(DoubleType) /
              (col("__nt") - col("__pt")).cast(DoubleType)))
          .as(valueCol): _*)
  }

  /** Defensive epoch-micros of a timestamp-like column: the cast makes
    * TIMESTAMP_NTZ (and already-zoned) inputs both land on session-zone
    * micros — the idiom that kept the operator layer alive through the
    * testdata's ts re-encoding (UTC session ⇒ instant-preserving). Every
    * operator touching a time column MUST go through this, never raw
    * `unix_micros(col(...))`.
    *
    * A value that does NOT cast to timestamp raises instead of nulling
    * out: under ANSI-off a 2024-scale raw-micros long cast as SECONDS
    * overflows the timestamp range to null, which would silently lump a
    * whole key into one session. LongType columns are PRE-COMPUTED
    * micros under the engine-wide contract (`AsOfJoin.rawMicros`) and
    * must be resolved schema-aware via [[microsOf]], which passes them
    * through raw.
    */
  def epochMicros(c: Column): Column = {
    val ts = c.cast(TimestampType)
    when(c.isNull, lit(null).cast(LongType))
      .when(ts.isNull, raise_error(concat(
        lit("graft epochMicros: value does not cast to timestamp: "),
        c.cast(StringType),
        lit(" (a LongType raw-micros column must go through the " +
          "schema-aware microsOf overload — casting a long reads it " +
          "as SECONDS)"))))
      .otherwise(unix_micros(ts))
  }

  /** Schema-aware micros conversion — the `AsOfJoin.rawMicros` contract
    * for the Analytics family, returned as a transformer so derived
    * columns over the same source column (`lag(ts)` etc.) share it:
    * LongType time columns pass through RAW as pre-computed micros;
    * timestamp-family columns go through the defensive [[epochMicros]].
    */
  def microsOf(df: DataFrame, name: String): Column => Column =
    df.schema(name).dataType match {
      case LongType => identity
      case _ => epochMicros
    }

  /** Sessionization (W2): assign per-key integer session ids, where a new
    * session starts after `gapMicros` of inactivity (strict: a gap of
    * exactly `gapMicros` continues the session). Appends `outCol` to the
    * input row set; `tieBreak` columns make the intra-key order total when
    * timestamps can collide (required for deterministic ids).
    *
    * Scale shape: ONE hash exchange on the keys, then two frame-bounded
    * window passes inside each key's partition (lag + running sum) — no
    * global sort, no driver state. Keys partition the work, so 100 TB of
    * events parallelize by user; a single key's history must fit a task's
    * spill budget (windows spill to disk, not OOM).
    */
  def sessionize(df: DataFrame, keyCols: Seq[String], tsCol: String,
      gapMicros: Long, tieBreak: Seq[String] = Nil,
      outCol: String = "session_id"): DataFrame = {
    require(gapMicros > 0, s"gap must be positive, got $gapMicros")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val us = microsOf(df, tsCol)
    val gap = us(col(tsCol)) - us(prev)
    df.withColumn("__new_s",
        when(prev.isNull || gap > gapMicros, 1).otherwise(0))
      .withColumn(outCol,
        sum(col("__new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(IntegerType))
      .drop("__new_s")
  }

  /** Event-time trailing RANGE window (W8): per key, count and exact mean
    * of `measure` over the closed interval [t − `rangeMicros`, t] —
    * peer-inclusive on timestamp ties, like SQL RANGE frames. Appends
    * `cntCol` / `avgCol`. The mean goes through decimal stabilization
    * ([[stableSum]]'s convention) so it is partition-order independent.
    *
    * Scale shape: one hash exchange on the keys + one sorted RANGE window
    * inside each key's partition; the frame is bounded by time, so state
    * per row is the in-range slice — no unbounded accumulation.
    */
  def trailingRangeStats(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, rangeMicros: Long,
      cntCol: String = "n", avgCol: String = "avg"): DataFrame = {
    require(rangeMicros >= 0, s"range must be >= 0, got $rangeMicros")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(microsOf(df, tsCol)(col(tsCol)))
      .rangeBetween(-rangeMicros, 0)
    df.withColumn(cntCol, count(col(measure)).over(w))
      .withColumn(avgCol,
        (sum(col(measure).cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType) / count(col(measure)).over(w)))
  }

  /** Rolling z-score anomaly detection: per key, flag rows whose measure
    * deviates from the TRAILING `lookback`-row window (the row itself
    * excluded, so an outlier never suppresses its own detection) by more
    * than `zThreshold` standard deviations. The classic streaming-ish
    * outlier gate for telemetry/quality series, expressed as one sorted
    * window per key.
    *
    * Cross-engine exactness: the frame's sum and sum-of-squares go
    * through the DECIMAL(18,2) stabilization (the [[stableSum]] /
    * [[trailingRangeStats]] convention — order-independent, so partition
    * boundaries can't move the result), and the z arithmetic from those
    * exact sums is a FIXED chain of IEEE double ops —
    * `(x − s1/n) / sqrt((s2 − s1·s1/n)/(n−1))` — that any engine
    * re-deriving it in the same order reproduces bit-for-bit (ts1's
    * DuckDB oracle does).
    *
    * Rows are emitted only when the window holds at least `minObs`
    * observations AND the window variance is strictly positive (a
    * constant window has no scale — a deviation from it is reported by
    * the first condition that acquires variance, not a division by
    * zero).
    *
    * Observation contract: a row participates (as window occupant AND
    * as candidate) only when its time is non-null and its measure
    * STABILIZES — non-null and inside DECIMAL(18,2) range (NaN, ±Inf,
    * |x| ≥ 10¹⁶ cast to null and are excluded). This makes frame
    * membership identical between this operator and its streaming twin
    * (`streaming.AnomalyStream`), whose state cannot hold a
    * non-stabilizable value.
    *
    * Scale shape: one hash exchange on the keys, one sorted ROWS window
    * inside each key's partition — frame state is `lookback` rows, no
    * unbounded accumulation; 100 TB of series parallelize by key.
    */
  def rollingZScoreAnomalies(df: DataFrame, keyCols: Seq[String],
      tsCol: String, measure: String, lookback: Int,
      zThreshold: Double, minObs: Int = 2,
      tieBreak: Seq[String] = Nil, zCol: String = "z"): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    require(minObs >= 2, s"minObs must be >= 2 (variance needs two), got $minObs")
    require(zThreshold > 0, s"zThreshold must be positive, got $zThreshold")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-lookback, -1)
    val x = col(measure)
    val dec = x.cast(DecimalType(18, 2))
    val n = count(x).over(w)
    val s1 = sum(dec).over(w).cast(DoubleType)
    val s2 = sum((dec * dec).cast(DecimalType(38, 4))).over(w)
      .cast(DoubleType)
    // fixed-order IEEE chain; oracle mirrors it token-for-token
    val variance = (s2 - s1 * s1 / n) / (n - lit(1))
    val z = (x - s1 / n) / sqrt(variance)
    df.where(col(tsCol).isNotNull && x.isNotNull && dec.isNotNull)
      .withColumn("__n", n).withColumn("__var", variance)
      .withColumn(zCol, z)
      .where(col("__n") >= minObs && col("__var") > 0 &&
        abs(col(zCol)) > zThreshold)
      .drop("__n", "__var")
  }

  /** Two-sided CUSUM change-point detection per key (Page 1954) — the
    * drift detector beside [[rollingZScoreAnomalies]]'s spike detector:
    * a z-score gate misses a slow mean shift that never produces one
    * extreme observation; CUSUM accumulates every small excursion.
    *
    * Recurrences (k⁺ = target + slack, k⁻ = target − slack):
    *   s⁺_t = max(0, s⁺_{t−1} + (x_t − k⁺))
    *   s⁻_t = max(0, s⁻_{t−1} + (k⁻ − x_t))
    * alarm when either side exceeds `threshold`. Computed via the
    * closed form s_t = W_t − min(0, min_{j≤t} W_j) over the running sum
    * W of the deviations — two window passes (running sum, then running
    * min of it) instead of a sequential scan, so the operator is pure
    * window algebra: one hash exchange on the keys, one sort per key,
    * both window passes reuse that sort. 100 TB of series parallelize
    * by key; no per-key state beyond the frame.
    *
    * Everything is exact decimal — the running sums, the mins, and the
    * threshold compare — so alarms are bit-identical across engines and
    * partition layouts. Observation contract matches the ts1 anomaly
    * gate: rows with null time or a measure that does not stabilize to
    * DECIMAL(18,2) are excluded.
    */
  def cusum(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, target: java.math.BigDecimal,
      slack: java.math.BigDecimal, threshold: java.math.BigDecimal,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(slack.signum >= 0, s"slack must be >= 0, got $slack")
    require(threshold.signum > 0, s"threshold must be > 0, got $threshold")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = col(measure).cast(DecimalType(18, 2))
    val kUp = lit(target.add(slack))
    val kDn = lit(target.subtract(slack))
    val runs = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .withColumn("__wp", sum(dec - kUp).over(w))
      .withColumn("__wn", sum(kDn - dec).over(w))
    // CUSUM closed form: the floor-at-zero recurrence equals the running
    // sum minus its lowest prefix (clamped at the virtual W_0 = 0)
    val scores = runs
      .withColumn("s_pos",
        (col("__wp") - least(min(col("__wp")).over(w), lit(0)))
          .cast(DecimalType(38, 2)))
      .withColumn("s_neg",
        (col("__wn") - least(min(col("__wn")).over(w), lit(0)))
          .cast(DecimalType(38, 2)))
    val th = lit(threshold)
    scores
      .where(col("s_pos") > th || col("s_neg") > th)
      .withColumn("side",
        when(col("s_pos") > th && col("s_neg") > th, "both")
          .when(col("s_pos") > th, "hi").otherwise("lo"))
      .drop("__wp", "__wn")
  }

  /** Page–Hinkley drift detector per key — [[cusum]]'s sibling for the
    * SELF-REFERENCED mean: deviations accumulate against the series'
    * own running mean x̄_t = S_t/t (no target to configure), two-sided:
    *
    *   g⁺_t = x_t − x̄_t − δ,   M⁺_T = Σ_{t≤T} g⁺_t,
    *   alarm when M⁺_T − min_{s≤T} M⁺_s > λ   (g⁻/M⁻ mirrored)
    *
    * — the change detector for streams whose baseline is unknown or
    * slowly wandering (Page 1954; the standard PH form with the
    * inclusive running mean).
    *
    * Determinism: x stabilizes to DECIMAL(18,2), S_t is an exact
    * running decimal; each g_t is ONE fixed IEEE sequence
    * (x − S/t − δ as doubles) quantized to DECIMAL(38,12), so the
    * running M sums and prefix mins are exact and alarms are
    * bit-identical across engines and partition layouts. Published
    * scores are canonical DOUBLEs (the no-DECIMAL output contract).
    *
    * Scale shape: one per-key sort feeding four window passes over the
    * same frame — keys parallelize, no per-key state beyond the frame.
    */
  def pageHinkley(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, delta: Double, lambda: java.math.BigDecimal,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(delta >= 0, s"delta must be >= 0, got $delta")
    require(lambda.signum > 0, s"lambda must be > 0, got $lambda")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = col(measure).cast(DecimalType(18, 2))
    val q = DecimalType(38, 12)
    val runs = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .withColumn("__s", sum(dec).over(w))
      .withColumn("__t", count(lit(1)).over(w))
    val mean = col("__s").cast(DoubleType) / col("__t").cast(DoubleType)
    val x = dec.cast(DoubleType)
    val scored = runs
      .withColumn("__gp", (x - mean - lit(delta)).cast(q))
      .withColumn("__gn", (mean - x - lit(delta)).cast(q))
      .withColumn("__mp", sum(col("__gp")).over(w))
      .withColumn("__mn", sum(col("__gn")).over(w))
      .withColumn("__php", col("__mp") - min(col("__mp")).over(w))
      .withColumn("__phn", col("__mn") - min(col("__mn")).over(w))
    val th = lit(lambda)
    scored
      .where(col("__php") > th || col("__phn") > th)
      .withColumn("side",
        when(col("__php") > th && col("__phn") > th, "both")
          .when(col("__php") > th, "hi").otherwise("lo"))
      // round-6 after the wide-decimal→double cast (a16 discipline:
      // raw int128 past 2^53 double-rounds differently in DuckDB)
      .withColumn("ph_pos",
        round(col("__php").cast(DoubleType), 6) + lit(0.0))
      .withColumn("ph_neg",
        round(col("__phn").cast(DoubleType), 6) + lit(0.0))
      .drop("__s", "__t", "__gp", "__gn", "__mp", "__mn", "__php", "__phn")
  }

  /** Global 1-based row number in `sortCols` order WITHOUT the
    * single-task global window: `row_number() OVER (ORDER BY …)` puts
    * 100 TB through ONE task (Spark's empty-partitionBy window), which
    * is the canonical scale cliff. Here the frame range-partitions on
    * the sort key, each partition sorts its own run, and
    * `RDD.zipWithIndex` stitches the global index: a partition-count
    * job collects per-partition sizes into prefix offsets, then the
    * numbering pass adds `offset(partition) + local`. Both jobs run
    * over the SAME shuffled RDD instance, so the range shuffle is
    * written once and its files reused — and, critically, both passes
    * see identical partition boundaries. (A two-branch DataFrame
    * formulation is NOT safe here: column pruning specializes each
    * branch's scan, the range exchanges stop being equal, ReuseExchange
    * passes them by, and two independently-sampled RangePartitioners
    * disagree on boundaries — observed as duplicated row numbers. The
    * single-RDD shape is the correctness anchor, not a style choice.)
    *
    * `sortCols` must be a total order (add a unique tie-break) for the
    * numbering to be deterministic.
    */
  def globalRowNumber(df: DataFrame, sortCols: Seq[String],
      out: String = "rn", numPartitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "globalRowNumber needs at least one sort col")
    val spark = df.sparkSession
    val np = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val order = sortCols.map(col(_).asc)
    val sorted = df
      .repartitionByRange(np, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(out, LongType, nullable = false))
    // r15 optimization (guide §1.2 step 2): number the INTERNAL rows.
    // The previous `.rdd` + `Row.fromSeq(r.toSeq :+ i)` +
    // `createDataFrame` round-tripped every row through external Row
    // objects and CatalystTypeConverters twice — pure per-row overhead
    // on an operator whose whole point is touching 100 TB once. The
    // single-RDD zipWithIndex anchor (see above) is unchanged; rows are
    // appended a long via JoinedRow over the streamed iterator (no
    // retention, so UnsafeRow reuse is safe — the scan contract).
    val internal = sorted.queryExecution.toRdd
    val indexed = internal.zipWithIndex().mapPartitions { it =>
      val extra = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.map { case (r, i) =>
        extra.update(0, i + 1L)
        joined(r, extra)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftshim.SparkShim
      .internalCreateDataFrame(spark, indexed, schema)
  }

  /** Doubled midrank (2·average rank — an exact integer) per DISTINCT
    * value of the single-column frame `values` (column `__v`, non-null):
    * the VALUE-LEVEL replacement for "globalRowNumber every row, then
    * average positions per value" (r16, guide §2: shuffle distinct
    * values, not rows). A value with `cnt` occurrences preceded by `B`
    * smaller rows holds positions B+1..B+cnt (any tie order), so
    * 2·avg(position) = 2·Σpos/cnt = 2B+cnt+1 — the IDENTICAL integer
    * the row-level formulation produced ((2·Σpos) div cnt of exactly
    * divisible decimals), with the full-row range shuffle replaced by a
    * partial-aggregated count per distinct value plus a prefix sum.
    *
    * The prefix sum reuses [[globalRowNumber]]'s single-RDD anchor:
    * per-partition count totals and the running-sum pass both read the
    * SAME shuffled RDD instance, so the range shuffle is written once
    * and both jobs see identical partition boundaries. 2B+cnt+1 stays
    * a long for any input below 2^62 rows — the same LongType the old
    * IntegralDivide emitted.
    *
    * Returns (`__v`, `out` LONG).
    */
  private[graft] def doubledMidranks(values: DataFrame,
      out: String): DataFrame =
    doubledMidranksAxes(values.select(lit(0).as("__ax"), col("__v")), out)
      .select(col("__v"), col(out))

  /** Multi-axis [[doubledMidranks]]: input carries (`__ax` INT,
    * `__v`), ranks are computed INDEPENDENTLY per axis in one
    * groupBy + one range shuffle + one prefix-sum pass — a consumer
    * ranking several columns (spearman's two) pays one build instead
    * of one per column. Returns (`__ax`, `__v`, `out` LONG).
    */
  private[graft] def doubledMidranksAxes(values: DataFrame,
      out: String): DataFrame = {
    val spark = values.sparkSession
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val counts = values.groupBy(col("__ax"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val sorted = counts
      .repartitionByRange(np, col("__ax").asc, col("__v").asc)
      .sortWithinPartitions(col("__ax").asc, col("__v").asc)
    val axIdx = sorted.schema.fieldIndex("__ax")
    val cntIdx = sorted.schema.fieldIndex("__cnt")
    val internal = sorted.queryExecution.toRdd
    // job 1: per-(partition, axis) row-count totals → per-axis prefix
    // offsets (an axis may span a partition boundary; offsets key on
    // both)
    val partTotals = internal.mapPartitionsWithIndex { case (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      it.foreach { r =>
        val ax = r.getInt(axIdx)
        m(ax) = m.getOrElse(ax, 0L) + r.getLong(cntIdx)
      }
      m.iterator.map { case (ax, s) => ((i, ax), s) }.toList.iterator
    }.collect().toMap
    val nParts = internal.getNumPartitions
    val axes = partTotals.keys.map(_._2).toSeq.distinct
    // offset of (partition i, axis ax) = total of ax in partitions < i,
    // one running sum per axis
    val offsets: Map[(Int, Int), Long] = axes.flatMap { ax =>
      (0 until nParts).scanLeft(0L)((acc, j) =>
        acc + partTotals.getOrElse((j, ax), 0L))
        .zipWithIndex.take(nParts).map { case (s, i) => ((i, ax), s) }
    }.toMap
    // job 2 (same RDD instance — shuffle files reused, identical
    // boundaries): running before-count per axis within each partition
    val schema = StructType(sorted.schema.fields :+
      StructField(out, LongType, nullable = false))
    val ranked = internal.mapPartitionsWithIndex { case (i, it) =>
      val before = scala.collection.mutable.HashMap.empty[Int, Long]
      val extra = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.map { r =>
        val ax = r.getInt(axIdx)
        val b = before.getOrElseUpdate(ax, offsets.getOrElse((i, ax), 0L))
        val cnt = r.getLong(cntIdx)
        extra.update(0, 2L * b + cnt + 1L)
        before(ax) = b + cnt
        joined(r, extra)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftshim.SparkShim
      .internalCreateDataFrame(spark, ranked, schema)
      .select(col("__ax"), col("__v"), col(out))
  }

  /** Hopping (sliding) time-window aggregation: count + exact-decimal
    * average per `windowDur` window sliding every `slideDur`, per key —
    * Spark's native `window()` generator, so each row map-side expands
    * into its windowDur/slideDur windows and the aggregate is ONE
    * standard partial-agg shuffle on (window, keys); no self-join, no
    * grid build, and the identical expression runs under Structured
    * Streaming with a watermark. Rows with null time are excluded (they
    * belong to no window).
    */
  def hoppingAvg(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, windowDur: String, slideDur: String): DataFrame = {
    val grouped = df.where(col(tsCol).isNotNull)
      .groupBy(window(col(tsCol), windowDur, slideDur) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        stableAvg(col(measure)).as("avg_" + measure))
    grouped.select(Seq(col("window.start").as("window_start"),
      col("window.end").as("window_end")) ++ keyCols.map(col) ++
      Seq(col("n"), col("avg_" + measure)): _*)
  }

  /** Per-group 2D Pareto frontier (skyline), maximizing both `xCol` and
    * `yCol`: the points no other group member weakly dominates. The
    * naive formulation is the quadratic NOT-EXISTS dominance scan; this
    * is the sort-sweep instead — distinct (x, y) pairs, one window sort
    * per group on (x DESC, y DESC), and a point survives iff its y
    * exceeds the running max y of all strictly-preceding rows. One
    * distinct shuffle + one partitioned sort, both on the group key:
    * 100 TB of groups sweep in parallel, and no group ever pays n².
    * Frontier semantics are over DISTINCT pairs (duplicates of a
    * frontier point collapse); rows with null x/y are excluded.
    */
  def paretoFrontier2D(df: DataFrame, keyCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((keyCols.map(col) :+ col(xCol)) :+ col(yCol): _*)
      .distinct()
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(xCol).desc, col(yCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("__cm", max(col(yCol)).over(w))
      .where(col("__cm").isNull || col(yCol) > col("__cm"))
      .drop("__cm")
  }

  /** Per-group winsorization: clamp `valueCol` into the group's
    * [`lo`, `hi`] discrete quantiles — the outlier treatment that keeps
    * every output an ACTUAL data value (unlike interpolated-percentile
    * clamps, whose thresholds are synthetic floats no engine agrees
    * on bit-for-bit). Thresholds come from the lossless-eps GK sketch
    * (== `quantile_disc`, the a22b/a24 proof), one partial-aggregated
    * shuffle of group-count rows; the clamp itself is a broadcast join
    * + map-side CASE, so 100 TB winsorizes in one pass over the data
    * with the big side never reshuffled. Null measures stay null; rows
    * whose group key is null drop (inner-join key semantics, matching
    * SQL `JOIN … USING`).
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double = 0.05, hi: Double = 0.95,
      outCol: String = "value_w"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"need 0 <= lo <= hi <= 1")
    import graft.functions.GraftFunctions.{quantileEstimate, quantileSketch}
    val thresholds = df
      .groupBy(col(groupCol))
      .agg(
        quantileEstimate(quantileSketch(col(valueCol), 1e-9), lit(lo))
          .as("__lo"),
        quantileEstimate(quantileSketch(col(valueCol), 1e-9), lit(hi))
          .as("__hi"))
    df.join(broadcast(thresholds), groupCol)
      .withColumn(outCol,
        when(col(valueCol).isNull, lit(null))
          .when(col(valueCol) < col("__lo"), col("__lo"))
          .when(col(valueCol) > col("__hi"), col("__hi"))
          .otherwise(col(valueCol)))
      .drop("__lo", "__hi")
  }

  /** Robust per-group statistics — the outlier-resistant profile a
    * quality pipeline reads before trusting means: exact median, MAD
    * (median absolute deviation from the group median), and the
    * [pLo, pHi]-trimmed mean (observations outside the group's
    * percentile band dropped, remaining summed exactly).
    *
    * All three are cross-engine exact: Spark's sort-based `percentile`
    * matches `quantile_cont` bit-for-bit (the a18 precedent), the
    * deviation `abs(x − med)` is one deterministic IEEE op, and the
    * trimmed mean is an exact-decimal sum over a deterministic band
    * test — no variance-style moment drift anywhere.
    *
    * Scale shape: two aggregations over the measure (exact percentiles
    * sort within each group's partition) with a BROADCAST of the tiny
    * per-group band frame between them; no self-join of the data.
    * Exact sort-based percentiles hold each group's values in its
    * task (spilling, not OOM) — at 100 TB switch the first stage to
    * the GK sketch quantiles (a22/a24) and keep the second unchanged.
    */
  def robustStats(df: DataFrame, key: String, measure: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val q = df.groupBy(col(key).as("__g")).agg(
      expr(s"percentile($measure, 0.5)").as("__med"),
      expr(s"percentile($measure, $pLo)").as("__qlo"),
      expr(s"percentile($measure, $pHi)").as("__qhi"))
    val inBand = col(measure).between(col("__qlo"), col("__qhi"))
    df.join(broadcast(q), col(key) === col("__g"))
      .groupBy(col(key))
      .agg(
        max(col("__med")).as(s"median_$measure"),
        expr(s"percentile(abs($measure - __med), 0.5)")
          .as(s"mad_$measure"),
        (sum(when(inBand, col(measure).cast(DecimalType(18, 2))))
          .cast(DoubleType) /
          count(when(inBand, lit(1)))).as(s"trimmed_avg_$measure"))
  }

  /** Partial correlation — corr(x, y) with z held fixed:
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √(1−r_xz²)·√(1−r_yz²)
    *
    * the "is the x–y association real or just z pulling both?"
    * question (price vs quantity controlling discount). Built on
    * [[corrMatrix]]'s one exact-moment pass, so the three pairwise
    * r's are bit-identical across engines and the partial form is one
    * more fixed IEEE sequence; NULL when either control correlation
    * is ±1 (the formula degenerates).
    */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val m = corrMatrix(df, Seq(xCol, yCol, zCol))
    def pick(a: String, b: String): Column =
      max(when(col("col_x") === a && col("col_y") === b, col("corr")))
    val agg = m.agg(max(col("n")).as("n"),
      pick(xCol, yCol).as("__rxy"),
      pick(xCol, zCol).as("__rxz"),
      pick(yCol, zCol).as("__ryz"))
    val par = (col("__rxy") - col("__rxz") * col("__ryz")) /
      (sqrt(lit(1.0) - col("__rxz") * col("__rxz")) *
        sqrt(lit(1.0) - col("__ryz") * col("__ryz")))
    // degeneracy gate on the ROUNDED r's: an exactly-collinear control
    // can read 1 ± ulp after the sqrt pair, so the raw value is the
    // wrong thing to compare with 1
    agg.select(col("n"),
      (round(col("__rxy"), 6) + lit(0.0)).as("r_xy"),
      (round(col("__rxz"), 6) + lit(0.0)).as("r_xz"),
      (round(col("__ryz"), 6) + lit(0.0)).as("r_yz"),
      (when(abs(round(col("__rxz"), 6)) < 1 &&
        abs(round(col("__ryz"), 6)) < 1,
        round(par, 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType))).as("r_xy_given_z"))
  }

  /** Robust scaling — (x − median) / IQR per group, the feature-
    * engineering standard that outliers cannot poison the way
    * (x − mean)/stddev lets them (the [[robustStats]] center/scale
    * applied row-wise). Groups with IQR = 0 (constant bulk) emit NULL
    * scaled values rather than dividing by zero. One tiny percentile
    * frame broadcast back over one scan; exact interpolated
    * percentiles (the a28 convention), one subtraction + one division
    * per row, round-6.
    */
  def robustScale(df: DataFrame, keyCol: String,
      measure: String): DataFrame = {
    val q = df.groupBy(col(keyCol).as("__g")).agg(
      expr(s"percentile($measure, 0.5)").as("__med"),
      expr(s"percentile($measure, 0.25)").as("__q1"),
      expr(s"percentile($measure, 0.75)").as("__q3"))
    val iqr = col("__q3") - col("__q1")
    // null-SAFE join: rows with a null group key keep their own
    // (null-group) scale and ROWS ARE NEVER DROPPED by a transform
    df.join(broadcast(q), col(keyCol) <=> col("__g"))
      .withColumn("scaled_" + measure,
        when(iqr > 0,
          round((col(measure) - col("__med")) / iqr, 6) + lit(0.0))
          .otherwise(lit(null).cast(DoubleType)))
      .drop("__g", "__med", "__q1", "__q3")
  }

  /** Interval coverage per key: merge overlapping-or-touching
    * `[start, end)` intervals into islands (the gaps-and-islands
    * pattern — session coverage, machine uptime, time-in-state) and
    * report per key the island count, total covered span, and longest
    * island. Pure integer arithmetic over the interval bounds — exact
    * and engine-portable.
    *
    * An island starts where `start` exceeds the running max of all
    * earlier ends (ties in the sort order cannot flip the result: of
    * two identical intervals, whichever sorts first opens the island
    * and the other lands inside it). Scale shape: one window over the
    * per-key sorted intervals + two narrow groupBys — no joins; a
    * skewed key serializes only its own partition (the inherent
    * sequential dependency of coverage).
    */
  def intervalCoverage(df: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val W = org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val ordered = W.partitionBy(keys: _*)
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(ordered.rowsBetween(W.unboundedPreceding, -1))
    val newIsland = when(prevMax.isNull ||
      col(startCol) > prevMax, 1L).otherwise(0L)
    val islands = df
      .withColumn("__nf", newIsland)
      .withColumn("__iid", sum(col("__nf"))
        .over(ordered.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(keys :+ col("__iid"): _*)
      .agg(min(col(startCol)).as("__is"), max(col(endCol)).as("__ie"))
    islands.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered"),
        max(col("__ie") - col("__is")).as("max_island"))
  }

  /** Exact WEIGHTED quantiles per group: the p-quantile is the smallest
    * value whose cumulative weight reaches p of the total — the
    * token-weighted statistic a corpus pipeline needs (median quality
    * weighted by token count, not per-document). Quantile points are
    * RATIONALS (name, num, den) so the threshold test
    * den·cum ≥ num·total stays exact decimal arithmetic end to end (a
    * double p would put an ulp on the boundary and flip the picked
    * value between engines). Scale shape: one (group, value)
    * pre-aggregation shuffle (so ties collapse BEFORE the window and
    * the result is independent of row order), one window over the
    * distinct-value frame — not the corpus — and one min per group.
    */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String,
      points: Seq[(String, Int, Int)]): DataFrame = {
    require(points.nonEmpty, "need at least one quantile point")
    points.foreach { case (n, num, den) =>
      require(num >= 0 && den > 0 && num <= den,
        s"quantile $n must be a rational in [0, 1], got $num/$den")
    }
    val byVal = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(sum(col(weightCol).cast(DecimalType(18, 2))).as("__w"))
    val byValue = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__v"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val cum = byVal
      .withColumn("__cw", sum(col("__w")).over(byValue))
      .withColumn("__tw", sum(col("__w")).over(whole))
    val aggs = points.map { case (name, num, den) =>
      min(when(col("__cw") * den >= col("__tw") * num, col("__v")))
        .as(name)
    }
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Z-order dimension builders (Z1) + the interleaved cluster value.
    * A z-value needs each dimension reduced to a small unsigned bucket
    * range; these two cover the common cases — a modular hash of an id
    * column and a time bucket of `widthMicros` — with the defensive
    * timestamp idiom built in. Feed the dims to [[zOrderValue]] (query
    * side) or `LakeWriter.zOrderWrite` / `VersionedTable.compact`
    * (write side).
    */
  def modDim(c: Column, buckets: Int): Column =
    // pmod, not %: negative ids must land in [0, buckets) — ZValue masks
    // dims with `& mask`, so a -1 leaking through would alias onto the
    // TOP bucket and corrupt z-order locality
    pmod(c, lit(buckets)).cast(LongType)

  def timeBucketDim(ts: Column, widthMicros: Long, buckets: Int): Column = {
    require(widthMicros > 0, s"bucket width must be positive, got $widthMicros")
    // FLOOR division, exact over the full long range: subtracting the
    // (always-positive) pmod makes the dividend an exact multiple, and
    // the integral divide of longs avoids the double rounding that can
    // shift a bucket (see gapFill) AND the 2^53 domain bound a
    // double-based trick would impose. Floor (not truncate-toward-zero)
    // so pre-epoch timestamps land in their own width-sized buckets
    // instead of sharing a double-width bucket 0 with [0, width).
    import org.apache.spark.sql.graftshim.SparkShim
    val us = epochMicros(ts)
    val div = SparkShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        SparkShim.toExpression(us - pmod(us, lit(widthMicros))),
        org.apache.spark.sql.catalyst.expressions.Literal(widthMicros)))
    // pmod: pre-epoch instants have NEGATIVE hour-quotients (floor
    // semantics keep their own width-sized buckets), but the z-dim
    // contract is [0, buckets) — a raw % would hand ZValue a -1 that
    // `& mask` wraps onto the top bucket
    pmod(div, lit(buckets)).cast(LongType)
  }

  /** Morton (bit-interleaved) z-value of the given bucket dims — the
    * multi-dimensional data-skipping sort key. Pure map-side expression.
    */
  def zOrderValue(dims: Seq[Column], bits: Int = 10): Column =
    graft.functions.GraftFunctions.zvalue(bits)(dims: _*)

  /** 2-D Hilbert clustering key (see
    * [[graft.functions.GraftFunctions.HilbertValue]]): better range
    * locality than [[zOrderValue]] at the cost of 2 dims only. */
  def hilbertValue(x: Column, y: Column, bits: Int = 10): Column =
    graft.functions.GraftFunctions.hilbert(bits)(x, y)

  def gapFill(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"step must be positive, got $stepMicros")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(keyCols.map(col) :+
      unix_micros(col(tsCol).cast(TimestampType)).as("__us") :+
      col(valueCol): _*)
    val bounds = keyed.groupBy(keyCols.map(col): _*)
      .agg(min("__us").as("__lo"), max("__us").as("__hi"))
    val grid = bounds
      .withColumn("__gus",
        explode(sequence(col("__lo"), col("__hi"), lit(stepMicros))))
      .select(keyCols.map(col) :+ col("__gus"): _*)
    // integer `div`, not `/`: double division of epoch micros can round
    // a just-below-integer quotient up and shift the cell
    val obs = keyed.join(broadcast(bounds), keyCols)
      .withColumn("__gus",
        col("__lo") + expr(s"((__us - __lo) div ${stepMicros}L)") * stepMicros)
    val cells = obs.groupBy((keyCols :+ "__gus").map(col): _*)
      .agg(max(col(valueCol)).as("__cv"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__gus"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(cells, keyCols :+ "__gus", "left")
      .select(keyCols.map(col) :+
        timestamp_micros(col("__gus")).as("gts") :+
        last(col("__cv"), ignoreNulls = true).over(w).as(valueCol): _*)
  }

  /** Slowly-changing-dimension type 2 build from a change log: collapse
    * consecutive rows per key whose tracked attributes did not change,
    * then stamp each surviving version with
    * `effective_from` (its own timestamp), `effective_to` (the next
    * version's timestamp, null while current), and `is_current`.
    * The classic lakehouse dimension-maintenance operator (the
    * reference's BigQuery tables are all SCD type 1 overwrites; this is
    * the history-preserving upgrade).
    *
    * `orderCols` must make the per-key order total (pass a tie-breaker
    * id after the timestamp — a nondeterministic order would make
    * "changed vs previous" itself nondeterministic). Attribute
    * comparison is null-safe (`<=>`), so null→value and value→null both
    * count as changes while null→null does not. Two window passes over
    * the same per-key partitioning — one shuffle; per-key state is
    * O(1) (lag/lead), never a whole group.
    */
  /** Per-group Shannon entropy of a categorical column:
    * H = ln(n) − (Σ c·ln c)/n over the category counts c — the
    * class-balance / source-diversity diagnostic a mixing pipeline
    * reads next to the a6 share distribution. Counts are exact; the
    * ln-term sum is the only float (category cardinality per group is
    * small, and presentation rounds to 6 — the t16 ln convention).
    * Null categories are excluded. Two partial-agg shuffles of count
    * rows — at 100 TB the data is touched once.
    */
  def entropy(df: DataFrame, keyCols: Seq[String], catCol: String,
      outCol: String = "entropy"): DataFrame = {
    val counts = df.where(col(catCol).isNotNull)
      .groupBy(keyCols.map(col) :+ col(catCol): _*)
      .agg(count(lit(1)).as("__c"))
    counts
      .withColumn("__t",
        col("__c").cast(DoubleType) * log(col("__c").cast(DoubleType)))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__c")).as("n"), sum(col("__t")).as("__st"))
      .withColumn(outCol,
        log(col("n").cast(DoubleType)) -
          col("__st") / col("n").cast(DoubleType))
      .drop("__st")
  }

  /** Per-group Gini coefficient of a non-negative measure — the
    * inequality/concentration diagnostic (how skewed is token mass
    * across sources? value across users?):
    * G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) with x ascending, i its
    * 1-based rank. Every moment is exact (DECIMAL(18,2)-stabilized
    * measure, rank×value products summed as DECIMAL(38,2)); the final
    * G is one fixed-order IEEE chain an oracle mirrors token-for-token.
    * Rank ties (equal x) permute only equal values, so Σ i·x is
    * tie-order invariant — no tie-break column needed. Rows with null /
    * non-stabilizing / negative measures are excluded; groups with
    * Σx = 0 are dropped (G undefined).
    *
    * Shape: one hash exchange on the keys, one sorted rank window per
    * key, one partial-agg — series parallelize by group.
    */
  def gini(df: DataFrame, keyCols: Seq[String], measure: String,
      outCol: String = "gini"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    val base = df
      .where(col(measure).isNotNull && dec.isNotNull && dec >= 0)
      .select(keyCols.map(col) :+ dec.as("__x"): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__x"))
    val sums = base.withColumn("__i", row_number().over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).cast(DoubleType).as("__sx"),
        sum((col("__x") * col("__i")).cast(DecimalType(38, 2)))
          .cast(DoubleType).as("__six"))
    val nD = col("n").cast(DoubleType)
    sums.where(col("__sx") > 0)
      .withColumn(outCol,
        (lit(2.0) * col("__six") - (nD + lit(1.0)) * col("__sx")) /
          (nD * col("__sx")))
      .drop("__sx", "__six")
  }

  /** Per-key exponentially weighted moving average:
    * e₁ = x₁, e_t = α·x_t + (1−α)·e_{t−1} — the classic smoother beside
    * ts1's spike gate and ts2's drift gate. The recurrence is inherently
    * sequential per key, so each key's series is folded ONCE inside its
    * own task (sorted `collect_list` + the native linear-time
    * [[graft.functions.SeqFolds.EwmaFold]] kernel, loud 50M/key bound) —
    * 100 TB of series parallelize by key, and the per-key state is the
    * series itself (the same bound any sequential recurrence carries;
    * keys here are users/devices/sensors with bounded history, not the
    * corpus).
    *
    * Determinism: the measure stabilizes to DECIMAL(18,2) first (the
    * ts1/ts2 observation contract — null time or non-stabilizing
    * measure excludes the row), the fold order is the total order
    * (`tsCol`, `tieBreak`…), and each step is the fixed IEEE chain
    * `α·x + (1−α)·e` that an oracle's recursive CTE mirrors
    * token-for-token. `1−α` is computed once here, as one IEEE
    * subtraction — mirror the same literal on the oracle side.
    */
  def ewma(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, alpha: Double, tieBreak: Seq[String] = Nil,
      outCol: String = "ewma"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(keyCols.nonEmpty, "ewma needs at least one key column")
    val dec = col(measure).cast(DecimalType(18, 2))
    val ordNames = tsCol +: tieBreak
    val rowStruct = struct(
      ordNames.map(col) :+ dec.cast(DoubleType).as("__x"): _*)
    val grouped = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(rowStruct)).as("__s"))
    // native linear fold (SeqFolds.EwmaFold): the HOF-aggregate
    // formulation copied the accumulated output array every step —
    // O(m²) element copies per key, a scale defect for deep keys
    val folded = grouped.withColumn("__e",
      graft.functions.SeqFolds.ewmaFold(
        transform(col("__s"), _.getField("__x")), alpha))
    folded
      .select(keyCols.map(col) :+ col("__e") :+
        posexplode(col("__s")).as(Seq("__i", "__r")): _*)
      .select(keyCols.map(col) ++
        ordNames.map(n => col(s"__r.$n").as(n)) ++ Seq(
          col("__r.__x").as(measure),
          element_at(col("__e"), col("__i") + 1).as(outCol)): _*)
  }

  /** Per-key isotonic regression (monotone-nondecreasing least-squares
    * fit) by Pool-Adjacent-Violators over the (tsCol, tieBreak…) total
    * order — the calibration primitive: fit a monotone response to a
    * time- or score-ordered series (probability calibration curves,
    * monotone dose-response, trend floors).
    *
    * Same execution plan as [[ewma]]: sorted `collect_list` per key +
    * ONE native linear fold ([[graft.functions.SeqFolds.PavFold]],
    * loud 50M/key bound). Values are quantized to exact integer cents
    * (DECIMAL(18,2)·100) before pooling, so block sums are exact longs,
    * pooling comparisons are exact integer cross-multiplications, and
    * each fitted value is ONE IEEE chain `cents/(100·n)` — which a SQL
    * oracle re-derives from prefix sums via the minimax
    * characterization fitted(k) = max_{i≤k} min_{j≥k} mean(i..j).
    */
  def isotonicFit(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, tieBreak: Seq[String] = Nil,
      outCol: String = "fitted"): DataFrame = {
    require(keyCols.nonEmpty, "isotonicFit needs at least one key column")
    val dec = col(measure).cast(DecimalType(18, 2))
    val ordNames = tsCol +: tieBreak
    val rowStruct = struct(
      ordNames.map(col) :+ dec.cast(DoubleType).as("__x") :+
        (dec * lit(100)).cast(LongType).as("__c"): _*)
    val grouped = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(rowStruct)).as("__s"))
    val folded = grouped.withColumn("__f",
      graft.functions.SeqFolds.pavFold(
        transform(col("__s"), _.getField("__c"))))
    folded
      .select(keyCols.map(col) :+ col("__f") :+
        posexplode(col("__s")).as(Seq("__i", "__r")): _*)
      .select(keyCols.map(col) ++
        ordNames.map(n => col(s"__r.$n").as(n)) ++ Seq(
          col("__r.__x").as(measure),
          element_at(col("__f"), col("__i") + 1).as(outCol)): _*)
  }

  /** Per-key Holt double exponential smoothing (level + linear trend):
    *   l₁ = x₁, b₁ = 0;
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1}),
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}.
    * The EWMA shape extended with a trend state — same execution plan as
    * [[ewma]]: sorted `collect_list` per key + ONE native linear fold
    * ([[graft.functions.SeqFolds.HoltFold]], loud 50M/key bound),
    * so keys parallelize and each series folds exactly once inside its
    * task. Same observation contract (null time / non-stabilizing
    * measure excluded), same determinism argument: every step is a fixed
    * IEEE chain over the total (tsCol, tieBreak…) order that a recursive
    * CTE mirrors token-for-token, with `1−α` / `1−β` computed once here
    * as single IEEE subtractions (mirror the resulting literals on the
    * oracle side).
    */
  def holt(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, alpha: Double, beta: Double,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(keyCols.nonEmpty, "holt needs at least one key column")
    val dec = col(measure).cast(DecimalType(18, 2))
    val ordNames = tsCol +: tieBreak
    val rowStruct = struct(
      ordNames.map(col) :+ dec.cast(DoubleType).as("__x"): _*)
    val grouped = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(rowStruct)).as("__s"))
    // native linear fold (SeqFolds.HoltFold) — the oracle's CTE spells
    // nl twice inside nb; the kernel computes it once, which is
    // bit-identical (duplicated tree over the same inputs = same double)
    val folded = grouped.withColumn("__f",
      graft.functions.SeqFolds.holtFold(
        transform(col("__s"), _.getField("__x")), alpha, beta))
    folded
      .select(keyCols.map(col) :+ col("__f") :+
        posexplode(col("__s")).as(Seq("__i", "__r")): _*)
      .select(keyCols.map(col) ++
        ordNames.map(n => col(s"__r.$n").as(n)) ++ Seq(
          col("__r.__x").as(measure),
          element_at(col("__f.ls"), col("__i") + 1).as("level"),
          element_at(col("__f.bs"), col("__i") + 1).as("trend")): _*)
  }

  /** Additive Holt–Winters per key — [[holt]] plus a seasonal state of
    * `period` components (the triple-smoothing forecaster for series
    * with BOTH drift and a repeating cycle):
    *
    *   init (t = m):  l = mean(x_1..x_m),  b = 0,  s_i = x_i − l
    *   t > m:         l' = α(x_t − s_{t−m}) + (1−α)(l + b)
    *                  b' = β(l' − l) + (1−β)b
    *                  s' = γ(x_t − l') + (1−γ)s_{t−m}
    *
    * (the standard simple initialization; rows t ≤ m carry the warm-up
    * and are not emitted, like [[seasonalDecompose]]'s edges). Keys
    * with ≤ `period` observations emit nothing.
    *
    * Determinism: the init level is an exact-decimal sum divided once;
    * every step is a fixed IEEE tree over doubles with l' SPELLED
    * TWICE in b'/s' (SQL cannot reference a same-select alias, so the
    * engine duplicates the same expression tree — the [[holt]]
    * convention), making the chains bit-identical to the oracle's
    * recursive CTE, which carries the seasonal state as a LIST.
    *
    * Scale shape: the [[holt]] sorted fold — one shuffle to collect
    * each key's series, one map-side fold; keys parallelize, state is
    * O(period) per key. The per-key history contract (users/devices/
    * sensors) bounds the collected array like ewma/holt.
    */
  def holtWinters(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, alpha: Double, beta: Double, gamma: Double,
      period: Int, tieBreak: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    require(period >= 2 && period <= 10000,
      s"period must be in [2, 10000], got $period")
    require(keyCols.nonEmpty, "holtWinters needs at least one key column")
    val m = period
    val dec = col(measure).cast(DecimalType(18, 2))
    val ordNames = tsCol +: tieBreak
    val rowStruct = struct(
      ordNames.map(col) :+ dec.as("__xd") :+
        dec.cast(DoubleType).as("__x"): _*)
    val grouped = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(rowStruct)).as("__s"))
      .where(size(col("__s")) > m)
    val warm = slice(col("__s"), 1, m)
    val zeroDec = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 2))
    val l0 = aggregate(warm, zeroDec,
      (acc, e) => (acc + e.getField("__xd")).cast(DecimalType(38, 2)))
      .cast(DoubleType) / lit(m.toDouble)
    val rest = slice(col("__s"), lit(m + 1), size(col("__s")) - m)
    // native linear fold (SeqFolds.HoltWintersFold): the seasonal state
    // is a true ring buffer (the HOF fold re-sliced all `period`
    // components every step ON TOP of the O(m²) output concat); nl is
    // spelled twice in the oracle's CTE but computed once here — the
    // holt convention, bit-identical either way
    val folded = grouped
      .withColumn("__l0", l0)
      .withColumn("__f", graft.functions.SeqFolds.holtWintersFold(
        transform(rest, _.getField("__x")),
        transform(warm, e => e.getField("__x") - col("__l0")),
        col("__l0"), alpha, beta, gamma))
      .withColumn("__rest", rest)
    folded
      .select(keyCols.map(col) :+ col("__f") :+
        posexplode(col("__rest")).as(Seq("__i", "__r")): _*)
      .select(keyCols.map(col) ++
        ordNames.map(n => col(s"__r.$n").as(n)) ++ Seq(
          col("__r.__x").as(measure),
          element_at(col("__f.ls"), col("__i") + 1).as("level"),
          element_at(col("__f.bs"), col("__i") + 1).as("trend"),
          element_at(col("__f.ss"), col("__i") + 1).as("seasonal")): _*)
  }

  /** Additive seasonal decomposition per key — the classical
    * trend/seasonal/residual split (STL's moving-average ancestor)
    * over the observation SEQUENCE: trend is a centered `period`-row
    * moving average, the seasonal component is the per-phase mean of
    * the detrended series (phase = hour-of-day for the default
    * period 24), and the residual is what remains. Rows without a full
    * centered window (the series edges) are excluded, as classical
    * decomposition does.
    *
    * Determinism discipline: the ONLY sums are exact decimals — the
    * trend window sum S, and the per-phase sum G of the exact
    * detrended-×period value (period·x − S, still a decimal). Every
    * emitted float is a fixed chain from those exacts:
    * trend = S/period, seasonal = G/(period·n_phase),
    * residual = x − trend − seasonal — so the output is
    * partition-order independent and hash-oracled, no rounding needed.
    *
    * Scale shape: one per-key window (keys parallelize), one
    * (key, phase) partial-agg, one broadcast-sized join back (phases
    * per key = period). The window is ROWS-based: decomposition over
    * the observation sequence, the right frame for regularly-sampled
    * feeds; gap-fill first (g1) if the sampling is irregular.
    */
  def seasonalDecompose(df: DataFrame, keyCols: Seq[String],
      tsCol: String, measure: String, period: Int = 24,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "seasonalDecompose needs a key column")
    require(period >= 2 && period <= 10000,
      s"period must be in [2, 10000], got $period")
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val half = period / 2
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-half, period - half - 1)
    val windowed = df
      .where(col(tsCol).isNotNull && dec.isNotNull)
      .withColumn("__x", dec)
      .withColumn("__cnt", count(col("__x")).over(w))
      .withColumn("__s", sum(col("__x")).over(w))
      .where(col("__cnt") === period) // full centered window only
      .withColumn("__d", (lit(period) * col("__x") - col("__s"))
        .cast(DecimalType(38, 2))) // period·x − S: exact detrended ×period
      .withColumn("__phase", hour(col(tsCol)))
    val phase = windowed
      .groupBy(keyCols.map(col) :+ col("__phase"): _*)
      .agg(sum(col("__d")).cast(DecimalType(38, 2)).as("__g"),
        count(lit(1)).as("__np"))
    val joined = windowed.join(phase, keyCols :+ "__phase")
    val trend = col("__s").cast(DoubleType) / period
    val seasonal = col("__g").cast(DoubleType) /
      (lit(period.toDouble) * col("__np"))
    joined.select(keyCols.map(col) ++ tieBreak.map(col) ++ Seq(
      col(tsCol),
      col("__x").cast(DoubleType).as(measure),
      (trend + lit(0.0)).as("trend"),
      (seasonal + lit(0.0)).as("seasonal"),
      (col("__x").cast(DoubleType) - trend - seasonal + lit(0.0))
        .as("residual")): _*)
  }

  /** Kaplan–Meier survival curves per cohort — the churn/retention
    * estimator ("what fraction of users survive past day t?") under
    * right-censoring: a subject contributes an event at its observed
    * time, or leaves the risk set silently when censored. Per cohort
    * over distinct event times t (ascending):
    *   S(t) = Π_{u ≤ t, d_u > 0} (n_u − d_u) / n_u
    * with d_u = events at u, n_u = subjects still at risk entering u
    * (exact integers from one groupBy + one cumulative window).
    * Censored-only times stay in the output (n_censored > 0, survival
    * unchanged) — the standard KM step function.
    *
    * Determinism: the product folds sequentially over the per-cohort
    * time-sorted step list (the holt shape — collect, sort_array,
    * aggregate), each step ONE correctly-rounded division then ONE
    * multiply, so the doubles are bit-identical to the oracle's
    * recursive CTE replaying the same order. Emitted RAW (the ts3
    * convention — round(·,6) is the divergence risk, not the cure).
    *
    * Scale shape: groupBy (cohort, t) partial-agg, a per-cohort window
    * over DISTINCT TIMES (not subjects — the collected list is one
    * entry per distinct time, the curve's own size; a cohort's curve
    * beyond ~10^6 steps should be time-bucketed first), one explode.
    */
  /** Shared risk-set construction for [[kaplanMeier]] and
    * [[nelsonAalen]]: per-cohort time-sorted step list with exact
    * integer (t, d, c, n) per distinct event time.
    */
  private def survivalSteps(df: DataFrame, keyCols: Seq[String],
      timeCol: String, eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val steps = df
      .where(col(timeCol).isNotNull && col(timeCol) >= 0 &&
        col(eventCol).isNotNull)
      .groupBy(keyCols.map(col) :+ col(timeCol).cast(LongType).as("__t"): _*)
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("__d"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("__c"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__t"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    steps
      .withColumn("__n",
        sum(col("__d") + col("__c")).over(wAll) -
          coalesce(sum(col("__d") + col("__c"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__d"),
        col("__c"), col("__n")))).as("__s"))
  }

  private def survivalTail(grouped: DataFrame, keyCols: Seq[String],
      fold: Column, outCol: String): DataFrame =
    grouped
      .withColumn("__f", fold)
      .select(keyCols.map(col) :+ col("__f") :+
        posexplode(col("__s")).as(Seq("__i", "__r")): _*)
      .select(keyCols.map(col) ++ Seq(
        col("__r.__t").as("t"),
        col("__r.__n").as("n_risk"),
        col("__r.__d").as("n_events"),
        col("__r.__c").as("n_censored"),
        element_at(col("__f"), col("__i") + 1).as(outCol)): _*)

  def kaplanMeier(df: DataFrame, keyCols: Seq[String], timeCol: String,
      eventCol: String): DataFrame = {
    require(keyCols.nonEmpty, "kaplanMeier needs at least one key column")
    // native linear fold (SeqFolds.KaplanMeierFold): one division, one
    // multiply per step over preallocated arrays — same IEEE chain the
    // HOF fold and the recursive-CTE oracle evaluate
    survivalTail(survivalSteps(df, keyCols, timeCol, eventCol), keyCols,
      graft.functions.SeqFolds.kmFold(
        transform(col("__s"), _.getField("__d")),
        transform(col("__s"), _.getField("__n"))),
      "survival")
  }

  /** Nelson–Aalen cumulative hazard per cohort — the additive sibling
    * of [[kaplanMeier]] over the SAME exact risk sets:
    *   H(t) = Σ_{u ≤ t, d_u > 0} d_u / n_u
    * — the hazard-scale view (≈ −ln S(t); preferred for small samples
    * and for comparing cumulative event intensity). Each step is ONE
    * division and ONE addition in time order (SeqFolds.NelsonAalenFold),
    * so the doubles are bit-identical to a recursive-CTE replay.
    */
  def nelsonAalen(df: DataFrame, keyCols: Seq[String], timeCol: String,
      eventCol: String): DataFrame = {
    require(keyCols.nonEmpty, "nelsonAalen needs at least one key column")
    survivalTail(survivalSteps(df, keyCols, timeCol, eventCol), keyCols,
      graft.functions.SeqFolds.naFold(
        transform(col("__s"), _.getField("__d")),
        transform(col("__s"), _.getField("__n"))),
      "cum_hazard")
  }

  /** Multi-group log-rank comparison over the SAME risk sets as
    * [[kaplanMeier]]/[[nelsonAalen]] — "do these cohorts' survival
    * curves differ beyond noise?", the significance companion the
    * curve pair was missing. Per group g: observed events
    * O_g = Σ_t d_gt and expected-under-H₀ E_g = Σ_t n_gt·d_t/n_t over
    * the GLOBAL event times t (d_t > 0), plus the conservative
    * per-group statistic (O_g−E_g)²/E_g (the classic k-sample
    * approximation to the full covariance form; Σ over groups ~ χ²
    * with k−1 df, documented as conservative).
    *
    * Cross-engine determinism: d/n are exact longs; each expected-term
    * is quantized floor(10⁶·(n_gt·d_t)/n_t) — one exact long product,
    * one IEEE division, one multiply+floor, bit-identical in any IEEE
    * engine — and E_g is the EXACT long sum of those terms, published
    * as `expected_q6`. The χ² contribution is one fixed double chain
    * over (O_g, E_g/10⁶).
    *
    * Scale shape: one (group, t) partial-agg shuffle; the per-group
    * risk counts n_gt come from a DESCENDING cumulative window over
    * the group's OWN time list unioned with the global event times —
    * the grid is |groups|×|event times| (groups and distinct churn
    * days, never subjects), broadcast-crossed like sim21.
    */
  def logRank(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(col(timeCol).isNotNull && col(timeCol) >= 0 &&
        col(eventCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(timeCol).cast(LongType).as("__t"),
        when(col(eventCol), 1L).otherwise(0L).as("__e"))
    // per (group, time): events and total leaving (event or censor)
    val gt = base.groupBy(col("__g"), col("__t"))
      .agg(sum(col("__e")).as("__d"), count(lit(1)).as("__a"))
      .localCheckpoint(true)
    // global event times (d_t > 0) — the only rows that contribute
    val times = gt.groupBy(col("__t"))
      .agg(sum(col("__d")).as("__dt"), sum(col("__a")).as("__at"))
      .where(col("__dt") > 0)
    val groups = gt.select(col("__g")).distinct()
    // groups × event-times grid (small × small), filled with the
    // group's own (d, a) where present, 0 elsewhere, so the
    // descending cumulative count is defined at every global event
    // time even when the group has no subject leaving at t
    val grid = groups.crossJoin(broadcast(times.select(col("__t"))))
      .join(gt, Seq("__g", "__t"), "left_outer")
      .select(col("__g"), col("__t"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__a"), lit(0L)).as("__a"))
    // n_gt = members of g still at risk at t = Σ_{u >= t} a_gu: the
    // union of the grid with the group's own times (the grid alone
    // would miss censor-only times BELOW an event time), then one
    // descending cumulative sum per group
    val uni = grid.select(col("__g"), col("__t"), col("__d"), col("__a"))
      .unionByName(gt.join(times.select(col("__t")), Seq("__t"),
        "left_anti").select(col("__g"), col("__t"), col("__d"),
        col("__a")))
      .groupBy(col("__g"), col("__t"))
      .agg(max(col("__d")).as("__d"), max(col("__a")).as("__a"))
    val wDesc = Window.partitionBy(col("__g"))
      .orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = uni.withColumn("__n", sum(col("__a")).over(wDesc))
    // keep global event times only; attach global (d_t, n_t)
    val joined = risk
      .join(times.select(col("__t"), col("__dt")), Seq("__t"))
      .withColumn("__nt",
        sum(col("__n")).over(Window.partitionBy(col("__t"))))
      .where(col("__nt") > 0)
    val termQ6 = floor(lit(1000000.0) *
      ((col("__n") * col("__dt")).cast(DoubleType) /
        col("__nt").cast(DoubleType))).cast(LongType)
    val agg = joined.groupBy(col("__g").as(groupCol))
      .agg(sum(col("__d")).as("observed"),
        sum(termQ6).as("expected_q6"))
    val e = col("expected_q6").cast(DoubleType) / lit(1000000.0)
    agg.withColumn("chi2_contrib",
      when(col("expected_q6") > 0,
        (col("observed").cast(DoubleType) - e) *
          (col("observed").cast(DoubleType) - e) / e))
  }

  /** CUPED adjustment (Controlled-experiment Using Pre-Experiment Data;
    * Deng et al. 2013): per-unit adjusted metric
    * `y − θ·(x − x̄)` with `θ = cov(x, y)/var(x)` — the
    * variance-reduction workhorse of experimentation platforms (a
    * pre-period covariate soaks up between-unit variance so the
    * experiment needs fewer units for the same power).
    *
    * Determinism: x and y are doubles (per-unit averages), so their
    * raw power sums would be partition-order-dependent — both are
    * QUANTIZED to exact integer cents (floor(v·100)) first; moment
    * sums are exact (longs; the wide squares through DECIMAL(38,0)),
    * θ's fixed IEEE chain is round-6'd (the a16 wide-decimal cast
    * caveat), x̄ is one exact-sum division, and each adjusted value is
    * then a fixed chain over (yq, xq, θ, x̄) — engine-identical.
    * Units with a degenerate var(x) = 0 get adjusted = null.
    *
    * Scale shape: one global moment partial-agg, one broadcast one-row
    * cross back onto the units — no window, no per-unit state.
    */
  def cuped(df: DataFrame, idCol: String, preCol: String,
      postCol: String): DataFrame = {
    val base = df
      .where(col(preCol).isNotNull && col(postCol).isNotNull)
      .select(col(idCol),
        floor(col(preCol).cast(DoubleType) * lit(100.0))
          .cast(LongType).as("__xq"),
        floor(col(postCol).cast(DoubleType) * lit(100.0))
          .cast(LongType).as("__yq"))
    val m = base.agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      sum(col("__xq")).cast(DoubleType).as("__sx"),
      sum(col("__yq")).cast(DoubleType).as("__sy"),
      sum((col("__xq").cast(DecimalType(19, 0)) *
        col("__xq").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).cast(DoubleType).as("__sxx"),
      sum((col("__xq").cast(DecimalType(19, 0)) *
        col("__yq").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).cast(DoubleType).as("__sxy"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val stats = m.select(
      when(den > 0, round((col("__n") * col("__sxy") -
        col("__sx") * col("__sy")) / den, 6)).as("__theta"),
      (col("__sx") / (lit(100.0) * col("__n"))).as("__xbar"))
    base.crossJoin(broadcast(stats))
      .select(col(idCol),
        (col("__yq").cast(DoubleType) / lit(100.0)).as("y"),
        when(col("__theta").isNotNull,
          col("__yq").cast(DoubleType) / lit(100.0) -
            col("__theta") * (col("__xq").cast(DoubleType) / lit(100.0) -
              col("__xbar"))).as("adjusted"))
  }

  /** Poisson(1) cumulative probabilities P(X ≤ k), k = 0..7 — spelled as
    * EXACT double literals shared by the Scala plan and the oracle SQL
    * (e^{-1}-derived; re-deriving them with `math.exp` in one engine and
    * a literal in the other would diverge in the last ulp).
    */
  private[operators] val PoissonCum = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253)

  /** Deterministic Poisson-bootstrap confidence interval for a per-group
    * mean — the evaluation harness that turns "the corpus metric moved"
    * into "moved beyond resampling noise", in ONE pass with no RNG
    * state. The classic bootstrap multinomial-resamples n rows B times
    * (O(n·B) shuffled data); the Poisson bootstrap replaces each row's
    * replicate count with an INDEPENDENT Poisson(1) weight, which makes
    * every weight a map-side function of (row id, replicate) — here the
    * md5-uniform quantile-inverted through [[PoissonCum]], so the whole
    * procedure is reproducible across engines, partitionings, and runs.
    *
    * The interval is rank-based (no interpolation): replicate means
    * sorted ascending (ties on replicate id), ci_lo = the `kLo`-th,
    * ci_hi = the `kHi`-th (clamped to the replicates that survived; a
    * replicate whose total weight is 0 is dropped). Replicate means and
    * the point mean follow the exact-decimal-sums + one canonicalized
    * double division convention (a7).
    *
    * Scale: rows explode ×B map-side into a (key, b) partial-agg — the
    * shuffle carries B narrow rows per key, never resampled data; the
    * per-key ranking window is B rows.
    */
  def bootstrapMeanCI(df: DataFrame, keyCols: Seq[String], idCol: Column,
      measure: String, replicates: Int = 40,
      kLo: Int = 1, kHi: Int = 39): DataFrame = {
    require(keyCols.nonEmpty, "bootstrapMeanCI needs at least one key")
    require(replicates >= 4 && replicates <= 1024,
      s"replicates must be in [4, 1024], got $replicates")
    require(1 <= kLo && kLo <= kHi && kHi <= replicates,
      s"need 1 <= kLo <= kHi <= replicates, got ($kLo, $kHi)")
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    // fan the narrow base out BEFORE the ×B explode: the B·n md5 draws
    // + partial aggregation otherwise inherit the scan's partitioning
    // (one task on a one-file input). Exact decimal sums are
    // partitioning-insensitive; the exchange reuses for the point pass.
    val valid = Fanout.fanOut(df.where(dec.isNotNull)
      .select(keyCols.map(col) :+ dec.as("__v") :+
        idCol.cast(StringType).as("__id"): _*))
    val u = Sampling.hashUniform(
      concat(col("__id"), lit(":"), col("__b").cast(StringType)))
    val weight = PoissonCum.zipWithIndex.reverse
      .foldLeft(lit(PoissonCum.size): Column) { case (acc, (t, k)) =>
        when(u < lit(t), lit(k)).otherwise(acc)
      }
    val reps = valid
      .withColumn("__b", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("__w", weight)
      .groupBy(keyCols.map(col) :+ col("__b"): _*)
      .agg(sum(col("__v") * col("__w")).as("__ws"),
        sum(col("__w")).as("__n"))
      .where(col("__n") > 0)
      // NO round(): the decimal sums stay far below 2^53 unscaled, so
      // decimal→double is correctly rounded in BOTH engines and the one
      // IEEE division is bit-identical — while round(·,6) would
      // re-introduce the half-up-at-representation-boundary divergence
      // it usually papers over (observed at sf0.1: 32.0646875 rounding
      // ...688 in one engine, ...687 in the other)
      .withColumn("__m",
        col("__ws").cast(DoubleType) / col("__n") + lit(0.0))
    val wRank = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__m"), col("__b"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val ranked = reps
      .withColumn("__r", row_number().over(wRank))
      .withColumn("__cnt", count(lit(1)).over(wAll))
    val ci = ranked.groupBy(keyCols.map(col): _*)
      .agg(
        max(when(col("__r") === least(lit(kLo), col("__cnt")), col("__m")))
          .as("ci_lo"),
        max(when(col("__r") === least(lit(kHi), col("__cnt")), col("__m")))
          .as("ci_hi"),
        count(lit(1)).as("b_used"))
    val point = valid.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (sum(col("__v")).cast(DoubleType) / count(lit(1))
          + lit(0.0)).as("mean"))
    point.join(ci, keyCols)
      .select(keyCols.map(col) ++ Seq(col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"), col("b_used")): _*)
  }

  /** Leave-one-group-out influence — first-order data valuation: for
    * each group (source/domain/shard), the group's mean of `measure`
    * vs the mean of EVERYTHING ELSE, and their difference. `influence`
    * > 0 means removing the group would LOWER the corpus metric — the
    * one-pass screen for "which source is dragging quality" before a
    * remix ([[Sampling.resampleToMix]] consumes the verdict).
    *
    * One partial-agg shuffle on the group + a broadcast 1-ROW totals
    * frame; sums are exact decimals and every emitted double is a
    * single division (or one subtraction of two) of exact values —
    * round-free (the a37 convention), valid while the decimal sums stay
    * below 2^53 unscaled. Groups that ARE the whole corpus (no rest to
    * compare against) are excluded.
    */
  def leaveOneOutInfluence(df: DataFrame, groupCol: String,
      measure: String): DataFrame = {
    val dec = col(measure).cast(DecimalType(18, 2))
    val per = df.where(dec.isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(dec).as("__s"), count(lit(1)).as("n"))
    val tot = per.agg(sum(col("__s")).as("__t"), sum(col("n")).as("__n"))
    val meanGroup = col("__s").cast(DoubleType) / col("n") + lit(0.0)
    val meanRest = (col("__t") - col("__s")).cast(DoubleType) /
      (col("__n") - col("n")) + lit(0.0)
    per.crossJoin(broadcast(tot))
      .where(col("__n") > col("n"))
      .select(col(groupCol), col("n"),
        meanGroup.as("mean_group"),
        meanRest.as("mean_rest"),
        (meanGroup - meanRest + lit(0.0)).as("influence"))
  }

  /** [[ohlcBars]] re-expressed on Spark's time-window generator instead
    * of a long bucket id — SEMANTICALLY the same bars (window_start =
    * bucket·width for epoch-aligned widths, spec-pinned), but the
    * grouping key is an event-time window, which is what Structured
    * Streaming's watermark can close: the identical expression runs
    * under `readStream` in append mode and emits exactly the batch bars
    * for every sealed window. min_by/max_by are mergeable aggregates,
    * so partial aggregation and streaming state both stay narrow.
    */
  def ohlcBarsWindowed(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, windowDur: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "ohlcBarsWindowed needs at least one key")
    val ord = struct(
      (unix_micros(col(tsCol).cast(TimestampType)) +: tieBreak.map(col)): _*)
    df.where(col(tsCol).isNotNull && col(measure).isNotNull)
      .groupBy(window(col(tsCol), windowDur) +: keyCols.map(col): _*)
      .agg(
        min_by(col(measure), ord).as("open"),
        max(col(measure)).as("high"),
        min(col(measure)).as("low"),
        max_by(col(measure), ord).as("close"),
        count(lit(1)).as("n"))
      .select(Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ keyCols.map(col) ++
        Seq(col("open"), col("high"), col("low"), col("close"),
          col("n")): _*)
  }

  /** Per-key two-sample Kolmogorov–Smirnov statistic — the maximum gap
    * between the two groups' empirical CDFs: where [[rankSumTest]]
    * detects a location shift, KS detects ANY distributional difference
    * (spread, shape, modality). Exact integers throughout: the gap at
    * value v is |cumA(v)·n_b − cumB(v)·n_a| (cross-multiplied to avoid
    * fractions), `d_num` is its maximum, and `d` = d_num/(n_a·n_b) is
    * the ONE double division. Same scale shape as the rank-sum test:
    * cumulative windows over per-key DISTINCT values, never a global
    * row window.
    */
  def ksTest(df: DataFrame, keyCols: Seq[String], groupCol: String,
      groupA: String, groupB: String, measure: String): DataFrame = {
    require(keyCols.nonEmpty, "ksTest needs at least one key column")
    require(groupA != groupB, "the two groups must differ")
    import org.apache.spark.sql.expressions.Window
    val vals = df
      .where(col(groupCol).isin(groupA, groupB) && col(measure).isNotNull)
      .groupBy(keyCols.map(col) :+ col(measure).as("__v"): _*)
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val wCum = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val cum = vals
      .withColumn("__cumA", sum(col("__ca")).over(wCum))
      .withColumn("__cumB", sum(col("__cb")).over(wCum))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
    cum.groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(abs(col("__cumA") * col("__nb") - col("__cumB") * col("__na")))
          .as("d_num"))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("d",
        col("d_num").cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType) + lit(0.0))
  }

  /** Per-key Mann–Whitney rank-sum test between two groups — the
    * nonparametric "did treatment B shift the metric vs A" check that
    * needs no distributional assumption (the complement of
    * [[bootstrapMeanCI]]'s resampling view). Emits EXACT integer
    * statistics: with midrank tie handling every rank is a multiple of
    * ½, so `r1_x2` (twice group A's rank sum) and `u1_x2` (twice the U
    * statistic) are exact BIGINTs; `auc` = U₁/(n₁n₂) — the probability
    * a random A observation exceeds a random B one (common-language
    * effect size / AUC) — is ONE double division of exact integers.
    *
    * Scale: ranks come from per-key cumulative counts over DISTINCT
    * values (a domain-sized window partitioned by key), never a global
    * row-sized window; one groupBy shuffle + one windowed pass.
    */
  def rankSumTest(df: DataFrame, keyCols: Seq[String], groupCol: String,
      groupA: String, groupB: String, measure: String): DataFrame = {
    require(keyCols.nonEmpty, "rankSumTest needs at least one key column")
    require(groupA != groupB, "the two groups must differ")
    import org.apache.spark.sql.expressions.Window
    val vals = df
      .where(col(groupCol).isin(groupA, groupB) && col(measure).isNotNull)
      .groupBy(keyCols.map(col) :+ col(measure).as("__v"): _*)
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals.withColumn("__lt",
      coalesce(sum(col("__cnt")).over(w), lit(0L)))
    ranked.groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("__ca")).as("n_a"),
        sum(col("__cnt") - col("__ca")).as("n_b"),
        // 2·R1 = Σ_values ca · (2·cumLt + cnt + 1)  (midranks doubled)
        sum(col("__ca") * (lit(2) * col("__lt") + col("__cnt") + 1))
          .as("r1_x2"))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("u1_x2",
        col("r1_x2") - col("n_a") * (col("n_a") + 1))
      .withColumn("auc",
        col("u1_x2").cast(DoubleType) /
          (lit(2.0) * col("n_a") * col("n_b")) + lit(0.0))
  }

  /** Monte-Carlo randomization test for a two-group difference in
    * means — the permutation test's unconditional sibling. Replicate b
    * reassigns every observation independently to pseudo-group A with
    * the OBSERVED group-A proportion via the hash-uniform draw
    * u(id, b): binomial (unconditional) relabeling, NOT the exact
    * conditional permutation — an exact permutation must rank all n
    * rows inside every replicate (one task per replicate at 100 TB),
    * while this is the a37 bootstrap shape: one map-side explode of
    * `replicates` narrow rows per observation, then per-(key, b)
    * partial aggregation. Under exchangeable labels the binomial null
    * is the standard unconditional randomization null; the conditional
    * and unconditional tests coincide as n grows.
    *
    * Every replicate decision is EXACT: the two-sided comparison
    * |ā − b̄| ≥ |Ā − B̄| is cross-multiplied into integer cents,
    *   |sa·nb − sb·na| · (NA·NB)  vs  |SA·NB − SB·NA| · (na·nb),
    * with DECIMAL(38,0) products (cents sums stay far below 10^19 and
    * the products below 10^30 — exact), so no replicate ever flips on
    * a float ulp and the whole test is hash-oracled (DuckDB mirrors
    * with HUGEINT). p = (1 + #extreme) / (B + 1), the standard add-one
    * randomization estimate.
    */
  def randomizationTest(df: DataFrame, keyCols: Seq[String],
      groupCol: String, groupA: String, groupB: String, measure: String,
      idCol: Column, replicates: Int = 50): DataFrame = {
    require(keyCols.nonEmpty, "randomizationTest needs at least one key")
    require(groupA != groupB, "the two groups must differ")
    require(replicates >= 9 && replicates <= 1024,
      s"replicates must be in [9, 1024], got $replicates")
    val dec = col(measure).cast(DecimalType(18, 2))
    val d38 = DecimalType(38, 0)
    // fanned out before the ×B explode for the same reason as
    // bootstrapMeanCI: the B·n relabeling draws must not inherit a
    // one-file scan's single task. Exact integer-cents sums are
    // partitioning-insensitive.
    val base = Fanout.fanOut(df
      .where(col(groupCol).isin(groupA, groupB) && dec.isNotNull)
      .select(keyCols.map(col) :+
        (dec * 100).cast(DecimalType(20, 0)).as("__c") :+
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("__ia") :+
        idCol.cast(StringType).as("__id"): _*))
    val obs = base.groupBy(keyCols.map(col): _*)
      .agg(
        coalesce(sum(when(col("__ia") === 1L, col("__c"))), lit(0))
          .cast(d38).as("__gsa"),
        coalesce(sum(when(col("__ia") === 0L, col("__c"))), lit(0))
          .cast(d38).as("__gsb"),
        sum(col("__ia")).as("__gna"),
        sum(lit(1L) - col("__ia")).as("__gnb"))
      .where(col("__gna") > 0 && col("__gnb") > 0)
      .withColumn("__tobs",
        abs(col("__gsa") * col("__gnb") - col("__gsb") * col("__gna"))
          .cast(d38))
    // pseudo-group A with the observed proportion; ONE IEEE division
    // + compare, spelled identically in the oracle
    val pA = col("__gna").cast(DoubleType) /
      (col("__gna") + col("__gnb")).cast(DoubleType)
    val reps = base
      .join(broadcast(obs.select(keyCols.map(col) :+ col("__gna") :+
        col("__gnb") :+ col("__gsa") :+ col("__gsb") :+
        col("__tobs"): _*)), keyCols)
      .withColumn("__b", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("__a",
        Sampling.hashUniform(concat(col("__id"), lit(":"),
          col("__b").cast(StringType))) < pA)
      .groupBy(keyCols.map(col) :+ col("__b"): _*)
      .agg(
        coalesce(sum(when(col("__a"), col("__c"))), lit(0))
          .cast(d38).as("__sa"),
        coalesce(sum(when(!col("__a"), col("__c"))), lit(0))
          .cast(d38).as("__sb"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__na"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__nb"),
        max(col("__gna")).as("__gna"), max(col("__gnb")).as("__gnb"),
        max(col("__gsa")).as("__gsa"), max(col("__gsb")).as("__gsb"),
        max(col("__tobs")).as("__tobs"))
      .where(col("__na") > 0 && col("__nb") > 0)
      .withColumn("__extreme",
        when(abs(col("__sa") * col("__nb") - col("__sb") * col("__na"))
          .cast(d38) * (col("__gna") * col("__gnb")).cast(d38) >=
          col("__tobs") * (col("__na") * col("__nb")).cast(d38),
          1L).otherwise(0L))
    reps.groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__gna")).as("n_a"), max(col("__gnb")).as("n_b"),
        ((max(col("__gsa")).cast(DoubleType) /
            max(col("__gna")).cast(DoubleType) -
          max(col("__gsb")).cast(DoubleType) /
            max(col("__gnb")).cast(DoubleType)) / 100.0 + lit(0.0))
          .as("mean_diff"),
        count(lit(1)).as("b_used"),
        sum(col("__extreme")).as("n_extreme"))
      .withColumn("p_value",
        (lit(1.0) + col("n_extreme").cast(DoubleType)) /
          (col("b_used").cast(DoubleType) + 1.0) + lit(0.0))
  }

  /** Per-key time-weighted average (TWAP): each observation's value
    * holds from its timestamp to the NEXT observation's (step-function
    * semantics — the standard market/telemetry convention), so
    * TWAP = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_N − t₁). A plain AVG over-weights
    * bursts; this is the average that survives irregular sampling.
    *
    * Exactness: values quantize to DECIMAL(18,2) (the ewma contract),
    * durations are exact micros longs, the weighted sum is one exact
    * DECIMAL(38,2) aggregate, and the ONLY float step is the final
    * division, round(·,6)-canonicalized — fully hash-oracled. Keys with
    * fewer than 2 valid observations have no span and are excluded.
    * Scale: one lead() window per key + one partial-agg shuffle.
    */
  def twap(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "twap needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol).asc +: tieBreak.map(col(_).asc)): _*)
    val stepped = df
      .where(col(tsCol).isNotNull && dec.isNotNull)
      .withColumn("__us", unix_micros(col(tsCol).cast(TimestampType)))
      .withColumn("__dt", lead(col("__us"), 1).over(w) - col("__us"))
      .where(col("__dt").isNotNull) // the last observation bounds, not adds
    stepped
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum((dec * col("__dt")).cast(DecimalType(38, 2))).as("__wsum"),
        sum(col("__dt")).as("__span"),
        count(lit(1)).as("n_segments"))
      .where(col("__span") > 0)
      .select(keyCols.map(col) ++ Seq(
        col("n_segments"),
        col("__span").as("span_us"),
        (round(col("__wsum").cast(DoubleType) /
          col("__span").cast(DoubleType), 6) + lit(0.0)).as("twap")): _*)
  }

  /** Windowed TWAP: [[twap]] broken into fixed time buckets — each
    * observation's value holds until the key's NEXT observation, and a
    * segment spanning several windows contributes its exact overlap to
    * each (the step-function integral, clipped per window). Emits one
    * row per (key, bucket) with covered time > 0: `twap` =
    * integral/covered, `covered_us`, `n_segments`. The last observation
    * closes the integral (contributes nothing), matching [[twap]].
    *
    * Scale shape: one lead() window per key, then each segment explodes
    * into the windows it overlaps — fan-out = segment span / window
    * width, guarded by `maxWindowsPerSegment` (a data-quality segment
    * spanning years × small windows would otherwise detonate the
    * explode; the guard raises rather than silently clipping coverage).
    * One partial-agg shuffle on (key, bucket) after the map-side split.
    *
    * Exactness: decimal·µs overlap products summed exactly; the final
    * quotient is raw IEEE (the a37 convention) — valid while
    * value·window·scale stays below 2^53 (≈ values ≤ 10⁴ on day windows).
    */
  def twapWindowed(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, windowMicros: Long, tieBreak: Seq[String] = Nil,
      maxWindowsPerSegment: Int = 1 << 16): DataFrame = {
    require(keyCols.nonEmpty, "twapWindowed needs at least one key column")
    require(windowMicros > 0, s"window must be positive, got $windowMicros")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.SparkShim
    val dec = col(measure).cast(DecimalType(18, 2))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol).asc +: tieBreak.map(col(_).asc)): _*)
    val floorDiv = (c: Column) => SparkShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        SparkShim.toExpression(c - pmod(c, lit(windowMicros))),
        org.apache.spark.sql.catalyst.expressions.Literal(windowMicros)))
    val stepped = df
      .where(col(tsCol).isNotNull && dec.isNotNull)
      .withColumn("__us", unix_micros(col(tsCol).cast(TimestampType)))
      .withColumn("__next", lead(col("__us"), 1).over(w))
      .where(col("__next").isNotNull && col("__next") > col("__us"))
      .withColumn("__w0", floorDiv(col("__us")).cast(LongType))
      .withColumn("__w1", floorDiv(col("__next") - 1).cast(LongType))
    val guarded = stepped.withColumn("__w1",
      when(col("__w1") - col("__w0") < lit(maxWindowsPerSegment.toLong),
        col("__w1"))
        .otherwise(raise_error(concat(
          lit(s"twapWindowed: a segment spans > $maxWindowsPerSegment " +
            "windows (segment start µs "), col("__us"), lit(")")))))
    guarded
      .withColumn("bucket", explode(sequence(col("__w0"), col("__w1"))))
      .withColumn("__ov",
        least(col("__next"), (col("bucket") + 1) * windowMicros) -
          greatest(col("__us"), col("bucket") * windowMicros))
      .groupBy(keyCols.map(col) :+ col("bucket"): _*)
      .agg(
        sum((dec * col("__ov")).cast(DecimalType(38, 2))).as("__int"),
        sum(col("__ov")).as("covered_us"),
        count(lit(1)).as("n_segments"))
      .where(col("covered_us") > 0)
      .select(keyCols.map(col) ++ Seq(col("bucket"), col("n_segments"),
        col("covered_us"),
        (col("__int").cast(DoubleType) / col("covered_us") + lit(0.0))
          .as("twap")): _*)
  }

  /** Per-key OHLC bars (candlestick downsampling): for each fixed
    * time bucket, the first (open), max (high), min (low), and last
    * (close) value plus the observation count — THE standard lossy
    * time-series compaction before charting/feature extraction. All
    * four picks are exact stored values (no arithmetic): open/close via
    * mergeable `min_by`/`max_by` on the (ts, tieBreak) struct — one
    * partial-agg shuffle on (key, bucket), no window, deterministic
    * because tieBreak must make the ordering total.
    */
  def ohlcBars(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, bucketMicros: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(bucketMicros > 0, s"bucket must be positive, got $bucketMicros")
    require(keyCols.nonEmpty, "ohlcBars needs at least one key column")
    val us = unix_micros(col(tsCol).cast(TimestampType))
    val ord = struct((col("__us") +: tieBreak.map(col)): _*)
    // exact floor division of longs (the timeBucketDim idiom): a double
    // divide would wobble buckets past 2^53 µs
    import org.apache.spark.sql.graftshim.SparkShim
    val floorDiv = (c: Column) => SparkShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        SparkShim.toExpression(c - pmod(c, lit(bucketMicros))),
        org.apache.spark.sql.catalyst.expressions.Literal(bucketMicros)))
    df.where(col(tsCol).isNotNull && col(measure).isNotNull)
      .withColumn("__us", us)
      .withColumn("__bucket", floorDiv(col("__us")).cast(LongType))
      .groupBy(keyCols.map(col) :+ col("__bucket").as("bucket"): _*)
      .agg(
        min_by(col(measure), ord).as("open"),
        max(col(measure)).as("high"),
        min(col(measure)).as("low"),
        max_by(col(measure), ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** Per-key autocorrelation function: for each lag ℓ in 1..`maxLag`,
    * the Pearson correlation of the pairs (x_t, x_{t+ℓ}) within the key
    * (the lag-pair ACF variant — no global-mean subtraction, so every
    * moment is an exact decimal sum and the only floating point is the
    * final correlation chain, identical across engines).
    *
    * Shape: ONE per-key window sort (the total order is
    * (`tsCol`, `tieBreak`…)) computing `lead(x, k)` for every lag in
    * one WindowExec pass, then a map-side explode to (lag, x_t, x_{t+ℓ})
    * rows — O(m·maxLag) per key. (A key-equality self-join with a
    * row-number band LOOKS bounded but compares every row pair inside
    * each key's join group — O(m²) in key depth; caught by
    * `scalecheck.py --longkey` at 75x on a 10x-deep key.)
    * Sums are DECIMAL(18,2)/(38,4)-exact (the ts1 idiom); the final
    * `r = (n·sxy − sx·sy) / (√(n·sxx − sx²) · √(n·syy − sy²))` is a
    * fixed-order IEEE chain the oracle mirrors token-for-token.
    * Lags with fewer than `minPairs` pairs or a degenerate (zero)
    * denominator are dropped.
    *
    * Depth scaling (measured, r14/r15 `scalecheck.py --longkey`): at
    * 10x key depth the per-row cost rises ~3.5x — the family outlier
    * but EXPECTED and sub-quadratic: each of the m rows still does
    * O(maxLag) work, while the per-key window sort adds its log m and
    * a 10x-larger single-partition window buffer loses cache locality
    * (every other fold in the family carries O(1) state per row; this
    * one materializes a maxLag-struct array per row). A 10x-depth
    * ratio up to ~5x is within design; ~75x is the O(m²) self-join
    * regression this kernel replaced.
    */
  def autocorrelation(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, maxLag: Int, tieBreak: Seq[String] = Nil,
      minPairs: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    require(minPairs >= 2, s"minPairs must be >= 2, got $minPairs")
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    // lag-k pairs via lead() over ONE per-key window sort — O(m·maxLag)
    // per key. The previous formulation self-joined on key equality with
    // a row-number band, which compares every pair INSIDE each key's
    // join group: O(m²) per key, invisible to the 10x row sweep (keys
    // stay shallow) but 75x at 10x KEY DEPTH (scalecheck --longkey).
    // The pair multiset is identical and the sums below are exact
    // decimals (order-independent), so results are bit-unchanged.
    val base = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .select(keyCols.map(col) ++ (tsCol +: tieBreak).map(col) :+
        dec.as("__x"): _*)
    val leads = base.withColumn("__ps", array((1 to maxLag).map(k =>
      struct(lit(k).as("lag"), lead(col("__x"), k).over(w).as("xb"))): _*))
    val pairs = leads
      .select(keyCols.map(col) :+ col("__x").as("__xa") :+
        explode(col("__ps")).as("__p"): _*)
      .where(col("__p").getField("xb").isNotNull)
      .select(keyCols.map(col) :+ col("__xa") :+
        col("__p").getField("lag").as("lag") :+
        col("__p").getField("xb").as("__xb"): _*)
    val sums = pairs
      .groupBy(keyCols.map(col) :+ col("lag"): _*)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__xa")).cast(DoubleType).as("__sx"),
        sum(col("__xb")).cast(DoubleType).as("__sy"),
        sum((col("__xa") * col("__xa")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__sxx"),
        sum((col("__xb") * col("__xb")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__syy"),
        sum((col("__xa") * col("__xb")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__sxy"))
    val (num, den) = pearsonNumDen(col("n_pairs").cast(DoubleType),
      col("__sx"), col("__sy"), col("__sxx"), col("__syy"),
      col("__sxy"))
    sums
      .withColumn("__den", den)
      .where(col("n_pairs") >= minPairs && col("__den") > 0)
      .withColumn("acf", num / col("__den"))
      .drop("__sx", "__sy", "__sxx", "__syy", "__sxy", "__den")
  }

  /** Ljung–Box white-noise test per key over [[autocorrelation]]'s
    * lag-pair ACF:
    *
    *   Q = m(m+2) Σ_{k≤maxLag} ρ_k²/(m−k)
    *
    * the "is there ANY serial structure left" screen run on residuals
    * after a fit ([[ewma]]/[[holt]]) — large Q rejects white noise.
    * Only lags that pass the ACF's own gates (n_pairs ≥ minPairs,
    * positive denominator) enter; `n_lags` reports how many did, so a
    * short or constant series is visibly partial rather than silently
    * zero.
    *
    * Determinism: each lag's ρ_k²/(m−k) is one fixed IEEE sequence from
    * the already-deterministic ACF, quantized to DECIMAL(38,18) and
    * summed exactly over ≤ maxLag terms; Q is one double product,
    * round-6. Scale shape: the ACF's shuffles plus one |keys|-sized
    * count join — keys parallelize, no new per-row work.
    */
  def ljungBox(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, maxLag: Int, tieBreak: Seq[String] = Nil,
      minPairs: Int = 3): DataFrame = {
    val acf = autocorrelation(df, keyCols, tsCol, measure, maxLag,
      tieBreak, minPairs)
    val dec = col(measure).cast(DecimalType(18, 2))
    val m = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull && dec.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__m"))
    val mD = col("__m").cast(DoubleType)
    val term = ((col("acf") * col("acf")) /
      (mD - col("lag").cast(DoubleType))).cast(DecimalType(38, 18))
    acf.join(m, keyCols)
      .groupBy((keyCols.map(col) :+ col("__m")): _*)
      .agg(count(lit(1)).as("n_lags"), sum(term).as("__tsum"))
      .select(keyCols.map(col) :+
        col("__m").cast(LongType).as("n") :+ col("n_lags") :+
        ((round(mD * (mD + lit(2.0)) * col("__tsum").cast(DoubleType), 6)
          + lit(0.0)).as("q_stat")): _*)
  }

  /** Rolling trailing-window Pearson correlation between two measures
    * per key — the "rolling beta" primitive (pairs monitoring, sensor
    * cross-checks, trendiness when `y` is a time index): over the last
    * `windowRows` observations at every row,
    *
    *   ρ = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))
    *
    * Rows before a full window, and windows with a degenerate
    * denominator (constant x or y), are excluded.
    *
    * Determinism: both measures stabilize to DECIMAL(18,2); every
    * window sum is exact decimal (product operands pinned to
    * DECIMAL(38,4)), and ρ is the shared [[pearsonNumDen]] IEEE chain
    * over their exact double conversions — emitted RAW (the ts4
    * convention; with in-contract magnitudes every conversion is below
    * 2^53 and bit-exact).
    *
    * Scale shape: one per-key sort feeding six sums over ONE window
    * frame — keys parallelize, no per-key state beyond the frame.
    */
  def rollingCorrelation(df: DataFrame, keyCols: Seq[String],
      tsCol: String, xCol: String, yCol: String, windowRows: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(windowRows >= 3 && windowRows <= 1000000,
      s"windowRows must be in [3, 1000000], got $windowRows")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-(windowRows - 1).toLong, Window.currentRow)
    val x = col(xCol).cast(DecimalType(18, 2))
    val y = col(yCol).cast(DecimalType(18, 2))
    val p = DecimalType(38, 4)
    val base = df.where(col(tsCol).isNotNull &&
      x.isNotNull && y.isNotNull)
    val sums = base
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(x).over(w).cast(DoubleType))
      .withColumn("__sy", sum(y).over(w).cast(DoubleType))
      .withColumn("__sxx", sum((x * x).cast(p)).over(w).cast(DoubleType))
      .withColumn("__syy", sum((y * y).cast(p)).over(w).cast(DoubleType))
      .withColumn("__sxy", sum((x * y).cast(p)).over(w).cast(DoubleType))
    val (num, den) = pearsonNumDen(col("__n").cast(DoubleType),
      col("__sx"), col("__sy"), col("__sxx"), col("__syy"), col("__sxy"))
    sums
      .withColumn("__den", den)
      .where(col("__n") === windowRows.toLong && col("__den") > 0)
      .withColumn("roll_corr", num / col("__den"))
      .drop("__n", "__sx", "__sy", "__sxx", "__syy", "__sxy", "__den")
  }

  /** Split conformal prediction intervals — the distribution-free
    * uncertainty wrapper for ANY point predictor (Vovk et al.; the
    * modern eval-harness staple): the calibration set's absolute
    * residuals |y − ŷ| are ranked, q = the ⌈(n+1)·(1−α)⌉-th smallest
    * (rank-based, NO interpolation — exact and engine-portable), and
    * every test prediction gets the interval [ŷ − q, ŷ + q] plus its
    * coverage flag. Guarantees ≥ 1−α marginal coverage for
    * exchangeable data, whatever the model.
    *
    * `alphaPct` is an integer percent (10 = 90% intervals) so the rank
    * is exact integer arithmetic: rank = ⌈(n+1)(100−α)/100⌉ clamped to
    * n. Determinism: residuals are fixed double chains; the k-th
    * smallest of an identical multiset is identical in any engine
    * (ties don't matter — the VALUE at a rank is tie-invariant).
    *
    * Scale shape: residuals partial-agg to DISTINCT values before the
    * one ordered cumulative window (the a31 weighted-quantile
    * discipline — the window runs over the residual value domain, not
    * the calibration rows); q broadcasts to the test side as a 1-row
    * frame.
    */
  def conformalInterval(cal: DataFrame, test: DataFrame,
      predCol: String, actualCol: String, alphaPct: Int): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 50,
      s"alphaPct must be in [1, 50], got $alphaPct")
    import org.apache.spark.sql.expressions.Window
    val resid = abs(col(actualCol).cast(DoubleType) -
      col(predCol).cast(DoubleType))
    val counts = cal
      .where(col(predCol).isNotNull && col(actualCol).isNotNull)
      .select(resid.as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val q = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__gn", sum(col("__c")).over(wAll))
      .withColumn("__rank", {
        // rank = ceil((n+1)(100−α)/100) in exact integer arithmetic:
        // (a+99) div 100 via the subtract-mod idiom (`/` on longs is
        // double division in Spark; the subtraction makes it exact)
        val a99 = (col("__gn") + 1L) * lit((100 - alphaPct).toLong) + 99L
        least(((a99 - pmod(a99, lit(100L))) / lit(100L)).cast(LongType),
          col("__gn"))
      })
      .where(col("__cum") >= col("__rank"))
      .agg(min(col("__r")).as("__q"))
    test
      .where(col(predCol).isNotNull && col(actualCol).isNotNull)
      .crossJoin(broadcast(q))
      .withColumn("lo", col(predCol).cast(DoubleType) - col("__q"))
      .withColumn("hi", col(predCol).cast(DoubleType) + col("__q"))
      .withColumn("covered",
        col(actualCol).cast(DoubleType) >= col("lo") &&
          col(actualCol).cast(DoubleType) <= col("hi"))
      .drop("__q")
  }

  /** Cohort retention matrix — the product-analytics classic: users
    * bucketed by FIRST-ACTIVITY period (the cohort), then for each
    * later period the count of that cohort's users active in it, plus
    * the share of the cohort size. `periodMicros` sets the bucket (day
    * = 86400e6, week = 7×). Age 0 is the cohort period itself
    * (retention 1.0 by construction — kept as the denominators' own
    * audit row).
    *
    * Determinism: first-activity is a min over exact micros, counts
    * are exact distinct users, retention is one double division.
    * Scale shape: one per-user min agg, one (user, period) distinct
    * agg, one (cohort, age) count agg — three partial-agg shuffles,
    * no window, no join back to the event log.
    *
    * Epoch contract (ADVICE r14): bucketing uses `pmod` (floor
    * semantics), while a truncating `%` (the a64 oracle's `(e - e % p)
    * // p`) diverges for PRE-1970 timestamps — negative-epoch events
    * would land one bucket apart between the two conventions. This
    * operator assumes epoch >= 0 event time (true of every feed here);
    * an oracle over pre-1970 data must mirror the floor form,
    * `((e % p) + p) % p`, as ts22 does for user_id.
    */
  def retentionMatrix(df: DataFrame, userCol: String, tsCol: String,
      periodMicros: Long = 86400000000L): DataFrame = {
    require(periodMicros > 0, s"periodMicros must be > 0, got $periodMicros")
    val bucket = (unix_micros(col(tsCol)) -
      pmod(unix_micros(col(tsCol)), lit(periodMicros))) / lit(periodMicros)
    val active = df
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), bucket.cast(LongType).as("__p"))
      .distinct()
    val cohorts = active.groupBy(col("__u"))
      .agg(min(col("__p")).as("__c"))
    val sizes = cohorts.groupBy(col("__c")).agg(count(lit(1)).as("__size"))
    active.join(cohorts, "__u")
      .groupBy(col("__c").as("cohort"), (col("__p") - col("__c")).as("age"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes.select(col("__c").as("cohort"), col("__size")), "cohort")
      .select(col("cohort"), col("age"), col("n_active"),
        col("__size").as("cohort_size"),
        (col("n_active").cast(DoubleType) /
          col("__size").cast(DoubleType)).as("retention"))
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * count (state_t → state_{t+1}) pairs within each key's time order,
    * aggregate the counts globally, and attach the row-conditional
    * probability P(to | from) = n / Σ_from n. The sequence-structure
    * profile of an event log (what follows what) — and the building
    * block for sequence-aware sampling in a training-data pipeline.
    *
    * Determinism: pairs come from `lead` over the (tsCol, tieBreak…)
    * total order, counts are exact, and `p` is one double division.
    * Scale shape: one per-key window sort, one (from, to) partial-agg
    * shuffle, one tiny per-from window over the state alphabet.
    */
  def transitionMatrix(df: DataFrame, keyCols: Seq[String], tsCol: String,
      stateCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "transitionMatrix needs at least one key")
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val pairs = df
      .where(col(tsCol).isNotNull && col(stateCol).isNotNull)
      .withColumn("__to", lead(col(stateCol), 1).over(w))
      .where(col("__to").isNotNull)
    val counts = pairs
      .groupBy(col(stateCol).as("from_state"), col("__to").as("to_state"))
      .agg(count(lit(1)).as("n_transitions"))
    val wFrom = Window.partitionBy(col("from_state"))
    counts.withColumn("p",
      col("n_transitions").cast(DoubleType) /
        sum(col("n_transitions")).over(wFrom).cast(DoubleType))
  }

  /** Trend / seasonal strength per key (Hyndman's tsfeatures measures)
    * over a [[seasonalDecompose]] output:
    *
    *   F_trend    = max(0, 1 − SSE(resid) / SSE(trend + resid))
    *   F_seasonal = max(0, 1 − SSE(resid) / SSE(seasonal + resid))
    *
    * (FPP3 §4.3: F_T is measured on the seasonally ADJUSTED series
    * T+R, F_S on the DETRENDED series S+R — a flat trend under a
    * noisy residual drives F_T to 0, not F_S.)
    *
    * — the forecastability profile: ~1 means the component explains
    * the series, ~0 means noise. SSE ratios equal variance ratios (n
    * cancels), so no divisions by n enter the chain.
    *
    * Determinism: the decomposition's doubles are engine-identical;
    * each component is QUANTIZED via floor(x·10⁶) — one double
    * multiply then floor, both bit-identical in any IEEE engine
    * (double→DECIMAL casts are NOT: Spark rounds half-up, DuckDB
    * half-even — the boundary bit this query actually hit at sf0.01).
    * Sums of the quantized longs are exact; squares go through
    * DECIMAL(28,0)² on the int128 path; each strength is one fixed
    * double chain over those exacts. Keys whose denominator SSE is 0
    * (a constant component) emit null for that strength.
    *
    * Scale shape: one partial-agg pass over the decomposition — keys
    * parallelize, no window, no join.
    */
  def decompositionStrength(decomposed: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "decompositionStrength needs a key column")
    val q6 = (c: Column) => floor(c * lit(1000000.0))
    def sums(c: Column, tag: String) = Seq(
      sum(q6(c)).as(s"__s_$tag"),
      sum((q6(c).cast(DecimalType(28, 0)) * q6(c).cast(DecimalType(28, 0)))
        .cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
        .as(s"__q_$tag"))
    val agg = decomposed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (sums(col("residual"), "r") ++
          sums(col("seasonal") + col("residual"), "dt") ++
          sums(col("trend") + col("residual"), "ds")): _*)
    def sse(tag: String): Column = {
      val s = col(s"__s_$tag").cast(DoubleType)
      col(s"__q_$tag").cast(DoubleType) - s * s / col("n").cast(DoubleType)
    }
    def strength(den: String): Column =
      when(sse(den) > 0.0,
        greatest(lit(0.0), lit(1.0) - sse("r") / sse(den)))
    agg.select(keyCols.map(col) :+ col("n") :+
      strength("ds").as("trend_strength") :+
      strength("dt").as("seasonal_strength"): _*)
  }

  /** Single changepoint per key — the first step of binary segmentation
    * (Scott & Knott's split criterion): over the time-ordered series,
    * the split index t minimizing SSE(x_1..x_t) + SSE(x_{t+1}..x_n),
    * with SSE(s) = Σx² − (Σx)²/|s| — the point where the mean shifts
    * most. Emits one row per key with ≥ 2·`minSeg` observations:
    * the split time, both segment means, and the variance-reduction
    * `gain` = SSE(all) − min split SSE (0 for a flat series).
    *
    * Determinism: every moment is an exact decimal window sum (running
    * + whole-partition); the right segment's sums are exact decimal
    * subtractions; each candidate's score is ONE fixed double chain
    * over those exacts, and the argmin orders by (score, ts, tieBreak)
    * — identical doubles in any engine replaying the same chain, so
    * the pick matches the oracle's row_number()=1.
    *
    * Scale shape: two per-key windows (running + total) and one
    * per-key rank — keys parallelize, O(n) per key, no self-join, no
    * collect. The O(n²) alternative (re-summing each candidate split)
    * is exactly what the prefix-sum formulation avoids.
    */
  def changepoint(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, minSeg: Int = 5,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(minSeg >= 2 && minSeg <= 1000000,
      s"minSeg must be in [2, 1000000], got $minSeg")
    require(keyCols.nonEmpty, "changepoint needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val x = col(measure).cast(DecimalType(18, 2))
    val p = DecimalType(38, 4)
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val wRun = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val sums = df
      .where(col(tsCol).isNotNull && x.isNotNull)
      .select(keyCols.map(col) ++ (tsCol +: tieBreak).map(col) :+
        x.as("__x"): _*)
      .withColumn("__nl", count(lit(1)).over(wRun))
      .withColumn("__sxl",
        sum(col("__x")).over(wRun).cast(DecimalType(38, 2)))
      .withColumn("__s2l",
        sum((col("__x") * col("__x")).cast(p)).over(wRun).cast(p))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sx",
        sum(col("__x")).over(wAll).cast(DecimalType(38, 2)))
      .withColumn("__s2",
        sum((col("__x") * col("__x")).cast(p)).over(wAll).cast(p))
    def sse(n: Column, sx: Column, s2: Column): Column = {
      val sxd = sx.cast(DoubleType)
      s2.cast(DoubleType) - sxd * sxd / n.cast(DoubleType)
    }
    val nl = col("__nl")
    val nr = col("__n") - col("__nl")
    val sxr = (col("__sx") - col("__sxl")).cast(DecimalType(38, 2))
    val s2r = (col("__s2") - col("__s2l")).cast(p)
    val cand = sums
      .where(nl >= minSeg.toLong && nr >= minSeg.toLong)
      .withColumn("__score",
        sse(nl, col("__sxl"), col("__s2l")) + sse(nr, sxr, s2r))
    val wPick = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__score").asc +: order: _*)
    cand
      .withColumn("__rk", row_number().over(wPick))
      .where(col("__rk") === 1)
      .select(keyCols.map(col) ++ Seq(
        col("__n").as("n"),
        col(tsCol).as("cp_ts"),
        col("__nl").as("n_left"),
        (col("__sxl").cast(DoubleType) / nl.cast(DoubleType))
          .as("mean_left"),
        (sxr.cast(DoubleType) / nr.cast(DoubleType)).as("mean_right"),
        (sse(col("__n"), col("__sx"), col("__s2")) - col("__score"))
          .as("gain")): _*)
  }

  /** Threshold-streak (run-length) profile per key: contiguous runs of
    * rows satisfying `flag` in time order — "longest stretch above the
    * limit", "how many excursions" (uptime/SLA/overload analysis; the
    * gaps-and-islands pattern of [[intervalCoverage]] applied to a
    * predicate instead of intervals). Pure integer counting over one
    * per-key window + two narrow aggregates — exact, no arithmetic on
    * the measure beyond the predicate itself.
    *
    * @param flag deterministic boolean over a row (e.g. value > 60)
    */
  def thresholdStreaks(df: DataFrame, keyCols: Seq[String], tsCol: String,
      flag: Column, tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    // a NULL flag (unknown measurement) stays in the sequence and
    // BREAKS adjacency — two runs separated by a data gap must not
    // merge into one inflated streak. Null-safe change detection
    // (<=> negated) treats true→null→true as three segments; only
    // the true segments survive the final filter.
    val prev = lag(col("__f"), 1).over(w)
    val islands = df.where(col(tsCol).isNotNull)
      .withColumn("__f", flag)
      .withColumn("__chg",
        when(row_number().over(w) === 1 || !(col("__f") <=> prev), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .where(col("__f"))
      .groupBy(keyCols.map(col) :+ col("__isl"): _*)
      .agg(count(lit(1)).as("__len"))
    islands.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_streaks"),
        max(col("__len")).as("max_streak"),
        sum(col("__len")).as("n_above"))
  }

  /** Local-extrema (peak) detection per key: rows strictly greater
    * than BOTH neighbors in time order (series endpoints never flag —
    * no one-sided guesses). The change-point primitive beside [[cusum]]
    * — pure value passthrough and two comparisons, no arithmetic at
    * all, so the output hash-oracles trivially. One per-key window
    * (keys parallelize).
    */
  def localPeaks(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.where(col(tsCol).isNotNull && col(measure).isNotNull)
      .select((keyCols ++ tieBreak).distinct.map(col) :+ col(tsCol) :+
        col(measure): _*)
      .withColumn("__prev", lag(col(measure), 1).over(w))
      .withColumn("__next", lead(col(measure), 1).over(w))
      .where(col(measure) > col("__prev") && col(measure) > col("__next"))
      .withColumnRenamed("__prev", "prev_" + measure)
      .withColumnRenamed("__next", "next_" + measure)
  }

  /** One-way ANOVA — does the measure's MEAN differ across k groups?
    * The k-group generalization of [[welchTTest]] (classic
    * equal-variance form): from one exact-decimal moment pass,
    *
    *   SSB = Σ_g S_g²/n_g − S²/N,   SSW = ΣΣx² − Σ_g S_g²/n_g
    *   F = (SSB/(k−1)) / (SSW/(N−k)),  η² = SSB/(SSB+SSW)
    *
    * Per-group S_g²/n_g terms are one fixed double sequence each and
    * accumulate through DECIMAL(38,12) (fold-order independent across
    * groups; 26 integer digits — a (28,12) cast nulls out past 1e16
    * and would silently drop the group from SSB/SSW under non-ANSI
    * semantics). Round-6 absorbs the cast ulp. One groupBy over the
    * source, then algebra on the k-row frame.
    */
  def anovaOneWay(df: DataFrame, groupCol: String,
      measure: String): DataFrame = {
    val v = col(measure).cast(DecimalType(18, 2))
    val per = df.where(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ng"),
        sum(v).as("__sg"),
        sum((v * v).cast(DecimalType(38, 4))).as("__ssg"))
    val term = {
      val sgd = col("__sg").cast(DoubleType)
      (sgd * sgd / col("__ng")).cast(DecimalType(38, 12))
    }
    val agg = per.agg(
      count(lit(1)).as("k"),
      sum(col("__ng")).as("__n"),
      sum(col("__sg")).cast(DoubleType).as("__s"),
      sum(col("__ssg")).cast(DoubleType).as("__ss"),
      sum(term).cast(DoubleType).as("__t"))
    val nD = col("__n").cast(DoubleType)
    val ssb = col("__t") - col("__s") * col("__s") / nD
    val ssw = col("__ss") - col("__t")
    val f = (ssb / (col("k") - 1)) / (ssw / (col("__n") - col("k")))
    agg.select(col("k"), col("__n").cast(LongType).as("n"),
      (round(ssb, 6) + lit(0.0)).as("ss_between"),
      (round(ssw, 6) + lit(0.0)).as("ss_within"),
      (when(col("k") > 1 && ssw > 0 && col("__n") > col("k"),
        round(f, 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType))).as("f_stat"),
      (when(ssb + ssw > 0, round(ssb / (ssb + ssw), 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType))).as("eta_sq"))
  }

  /** MASE — mean absolute scaled error (Hyndman & Koehler 2006) of the
    * m-step seasonal-naive forecaster, per key:
    *
    *   MASE = mean|xₜ − xₜ₋ₘ| / mean|xₜ − xₜ₋₁|
    *
    * The scale-free "is there m-periodic structure?" score: MASE < 1
    * means repeating last season beats repeating the last value — the
    * pre-flight check before fitting a seasonal model ([[holt]],
    * [[decompose]]) per key across millions of keys.
    *
    * Determinism: values quantize to DECIMAL(18,2) at the boundary
    * (the [[twap]] cast), absolute differences sum exactly per key,
    * and each MAE is ONE division; MASE is spelled as the division of
    * the two MAE doubles on both engines. Keys with a zero naive MAE
    * (constant series — MASE undefined) are excluded.
    *
    * Scale shape: two lags over one per-key window (keys parallelize;
    * no global window) + one per-key aggregate — a single shuffle on
    * the key.
    */
  def maseEval(df: DataFrame, keyCols: Seq[String], tsCol: String,
      measure: String, season: Int = 7,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    import org.apache.spark.sql.expressions.Window
    val dec = col(measure).cast(DecimalType(18, 2))
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val diffed = df
      .where(col(tsCol).isNotNull && col(measure).isNotNull)
      .select((keyCols ++ tieBreak).distinct.map(col) :+ col(tsCol) :+
        dec.as("__x"): _*)
      .withColumn("__e1", abs(col("__x") - lag(col("__x"), 1).over(w)))
      .withColumn("__em",
        abs(col("__x") - lag(col("__x"), season).over(w)))
    val mae1 = col("__s1").cast(DoubleType) / col("n_naive")
    val maem = col("__sm").cast(DoubleType) / col("n_seasonal")
    diffed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__e1")).as("__s1"),
        count(col("__e1")).as("n_naive"),
        sum(col("__em")).as("__sm"),
        count(col("__em")).as("n_seasonal"))
      .where(col("__s1") > 0 && col("n_seasonal") > 0)
      .select(keyCols.map(col) :+ col("n") :+ col("n_naive") :+
        col("n_seasonal") :+
        (round(mae1, 6) + lit(0.0)).as("mae_naive") :+
        (round(maem, 6) + lit(0.0)).as("mae_seasonal") :+
        (round(maem / mae1, 6) + lit(0.0)).as("mase"): _*)
  }

  /** Calibration (reliability) bins + expected calibration error for a
    * probabilistic binary classifier: fixed-width bins over the
    * predicted score, each with mean predicted probability vs the
    * empirical positive rate — the "does 0.8 mean 80%?" audit.
    *
    * ECE folds to exact algebra: the standard
    * Σ_b (n_b/N)·|mean_score_b − frac_pos_b| telescopes to
    * Σ_b |Σscores_b − n_pos_b| / N, so with scores accumulated in
    * DECIMAL(28,18) the ECE is ONE division of an exact decimal by an
    * exact count — no per-bin double chain. Per-bin mean/frac/gap are
    * each a fixed sequence of one-division doubles; round-6 absorbs
    * the wide-decimal→double cast ulp.
    *
    * Scale shape: one map-side bin assignment + one groupBy(bin) over
    * the scored rows (B ≤ a few hundred groups), then all algebra on
    * the B-row bin table. One scan, one shuffle.
    *
    * @param scoreCol predicted probability in [0, 1] (scores exactly
    *                 1.0 land in the top bin)
    * @param labelCol binary outcome (numeric 0/1 or boolean)
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"bins must be in [2, 100000], got $bins")
    val d = DecimalType(28, 18)
    val bin = least(floor(col(scoreCol) * bins), lit(bins - 1L))
      .cast(IntegerType)
    val per = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(bin.as("bin"), col(scoreCol).cast(d).as("__sc"),
        col(labelCol).cast(LongType).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__sc")).as("__ssum"))
    val tot = per.agg(sum(col("n")).as("__N"),
      sum(abs(col("__ssum") - col("n_pos").cast(DecimalType(38, 18))))
        .as("__gapsum"))
    val meanScore = col("__ssum").cast(DoubleType) / col("n")
    val fracPos = col("n_pos").cast(DoubleType) / col("n")
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        (round(meanScore, 6) + lit(0.0)).as("mean_score"),
        (round(fracPos, 6) + lit(0.0)).as("frac_pos"),
        (round(abs(meanScore - fracPos), 6) + lit(0.0)).as("gap"),
        (round(col("__gapsum").cast(DoubleType) / col("__N"), 6)
          + lit(0.0)).as("ece"))
  }

  /** Cohen's d and Hedges' g effect sizes per key — the magnitude
    * companion to [[welchTTest]]'s significance (a tiny p with a
    * trivial d is the classic big-data trap):
    *
    *   d = (m̄_A − m̄_B) / s_p,
    *   s_p² = ((n_A−1)v_A + (n_B−1)v_B) / (n_A+n_B−2),
    *   g = d · (1 − 3/(4(n_A+n_B) − 9))   (small-sample correction)
    *
    * Exact decimal power sums per arm in ONE conditional-aggregate
    * pass; d and g are fixed IEEE trees, round-6. Keys with an arm
    * under 2 observations or zero pooled variance report NULL.
    */
  def effectSize(df: DataFrame, keyCols: Seq[String], groupCol: String,
      groupA: String, groupB: String, measure: String): DataFrame = {
    require(keyCols.nonEmpty, "effectSize needs at least one key column")
    val v = col(measure).cast(DecimalType(18, 2))
    val inA = col(groupCol) === groupA
    val inB = col(groupCol) === groupB
    def n(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    def sm(cond: Column) =
      sum(when(cond, v)).cast(DoubleType)
    def ss(cond: Column) =
      sum(when(cond, (v * v).cast(DecimalType(38, 4)))).cast(DoubleType)
    val agg = df
      .where(v.isNotNull && (inA || inB))
      .groupBy(keyCols.map(col): _*)
      .agg(n(inA).as("n_a"), sm(inA).as("__sa"), ss(inA).as("__ssa"),
        n(inB).as("n_b"), sm(inB).as("__sb"), ss(inB).as("__ssb"))
    val na = col("n_a").cast(DoubleType)
    val nb = col("n_b").cast(DoubleType)
    val ma = col("__sa") / na
    val mb = col("__sb") / nb
    val va = (na * col("__ssa") - col("__sa") * col("__sa")) /
      (na * (na - lit(1.0)))
    val vb = (nb * col("__ssb") - col("__sb") * col("__sb")) /
      (nb * (nb - lit(1.0)))
    val pooled = ((na - lit(1.0)) * va + (nb - lit(1.0)) * vb) /
      (na + nb - lit(2.0))
    val d = (ma - mb) / sqrt(pooled)
    val g = d * (lit(1.0) - lit(3.0) /
      (lit(4.0) * (na + nb) - lit(9.0)))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L && pooled > 0
    agg.select(keyCols.map(col) ++ Seq(col("n_a"), col("n_b"),
      when(ok, round(d, 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType)).as("cohens_d"),
      when(ok, round(g, 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType)).as("hedges_g")): _*)
  }

  /** Paired t-test over per-unit difference pairs — the sibling of
    * [[welchTTest]] for WITHIN-unit comparisons (each unit supplies
    * both arms, so between-unit variance cancels): per unit the
    * caller-defined pair sums (exact decimals) difference to d_u, and
    *
    *   t = d̄·√n / s_d,   s_d² = (n·Σd² − (Σd)²) / (n(n−1))
    *
    * Determinism: d is an exact DECIMAL(38,2) difference of two exact
    * sums; Σd and Σd² (operands pre-cast DECIMAL(28,2) → int128
    * multiply) are exact; t is one fixed IEEE tree from them, round-6.
    * Degenerate gates: n ≤ 1 or zero variance → NULL t.
    *
    * One groupBy(unit) + one 1-row aggregate — two shuffles, both
    * map-side combined.
    *
    * @param armA rows counted into the unit's first-arm sum
    * @param armB rows counted into the unit's second-arm sum
    */
  def pairedTTest(df: DataFrame, unitCol: String, measure: String,
      armA: Column, armB: Column): DataFrame = {
    val v = col(measure).cast(DecimalType(18, 2))
    val z = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 2))
    val per = df.where(col(unitCol).isNotNull && v.isNotNull)
      .groupBy(col(unitCol))
      .agg(
        coalesce(sum(when(armA, v)), z).cast(DecimalType(38, 2)).as("__xa"),
        coalesce(sum(when(armB, v)), z).cast(DecimalType(38, 2)).as("__xb"))
    val d = (col("__xa") - col("__xb")).cast(DecimalType(28, 2))
    val agg = per.select(d.as("__d"))
      .agg(count(lit(1)).as("n"),
        sum(col("__d")).cast(DoubleType).as("__sd"),
        sum((col("__d") * col("__d")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__sdd"))
    val nD = col("n").cast(DoubleType)
    val meanD = col("__sd") / nD
    val varNum = nD * col("__sdd") - col("__sd") * col("__sd")
    val sd = sqrt(varNum / (nD * (nD - lit(1.0))))
    val tStat = meanD * sqrt(nD) / sd
    agg.select(col("n"),
      (round(meanD, 6) + lit(0.0)).as("mean_diff"),
      when(col("n") > 1 && varNum > 0, round(tStat, 6) + lit(0.0))
        .otherwise(lit(null).cast(DoubleType)).as("t_stat"))
  }

  /** Brier score with the Murphy (1973) decomposition — the proper
    * scoring rule behind [[calibrationBins]]'s reliability diagram, as
    * one row:
    *
    *   brier = Σ(s−y)²/N,   rel = Σ_b n_b(p̄_b − ȳ_b)²/N,
    *   res = Σ_b n_b(ȳ_b − ȳ)²/N,   unc = ȳ(1−ȳ)
    *
    * (brier ≈ rel − res + unc up to within-bin score variance — the
    * binned decomposition's usual residual, reported as `residual` so
    * the identity is auditable). rel is "how miscalibrated", res "how
    * much sharper than the base rate" — the pair that says WHY a model
    * scores what it scores.
    *
    * Determinism: each per-row square and per-bin term is one fixed
    * IEEE sequence, quantized to DECIMAL(38,18) and summed exactly
    * (fold-order independent); the final divisions round-6.
    *
    * Scale shape: one groupBy(bin) over the source (map-side combine,
    * ≤ `bins` groups), then algebra on the bins-row frame.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"bins must be in [2, 100000], got $bins")
    val d18 = DecimalType(38, 18)
    val bin = least(floor(col(scoreCol) * bins), lit(bins - 1L))
      .cast(IntegerType)
    val s = col(scoreCol).cast(DoubleType)
    val y = col(labelCol).cast(LongType)
    val sq = ((s - y.cast(DoubleType)) * (s - y.cast(DoubleType)))
      .cast(d18)
    val per = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(bin.as("__b"), s.as("__s"), y.as("__y"), sq.as("__sq"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"),
        sum(col("__s").cast(d18)).as("__ssum"),
        sum(col("__sq")).as("__sqsum"))
    // global columns prefixed __g*, never by case: Spark resolution is
    // case-insensitive and __N beside __n is AMBIGUOUS_REFERENCE
    val tot = per.agg(sum(col("__n")).as("__gn"),
      sum(col("__pos")).as("__gp"), sum(col("__sqsum")).as("__gsq"))
    val nD = col("__n").cast(DoubleType)
    val pbarB = col("__ssum").cast(DoubleType) / nD
    val ybarB = col("__pos").cast(DoubleType) / nD
    val ybar = col("__gp").cast(DoubleType) / col("__gn").cast(DoubleType)
    val relTerm = (nD * ((pbarB - ybarB) * (pbarB - ybarB))).cast(d18)
    val resTerm = (nD * ((ybarB - ybar) * (ybarB - ybar))).cast(d18)
    val folded = per.crossJoin(broadcast(tot))
      .groupBy(col("__gn"), col("__gp"), col("__gsq"))
      .agg(sum(relTerm).as("__grl"), sum(resTerm).as("__grs"))
    val nnD = col("__gn").cast(DoubleType)
    val yb = col("__gp").cast(DoubleType) / nnD
    val brier = col("__gsq").cast(DoubleType) / nnD
    val rel = col("__grl").cast(DoubleType) / nnD
    val res = col("__grs").cast(DoubleType) / nnD
    val unc = yb * (lit(1.0) - yb)
    folded.select(col("__gn").cast(LongType).as("n"),
      (round(brier, 6) + lit(0.0)).as("brier"),
      (round(rel, 6) + lit(0.0)).as("reliability"),
      (round(res, 6) + lit(0.0)).as("resolution"),
      (round(unc, 6) + lit(0.0)).as("uncertainty"),
      (round(brier - (rel - res + unc), 6) + lit(0.0)).as("residual"))
  }

  /** Wilson score interval — the binomial confidence interval that
    * behaves at the extremes (small n, rates near 0/1) where the
    * normal ±z·√(p(1−p)/n) interval degenerates; per group:
    *
    *   center = (p̂ + z²/2n) / (1 + z²/n)
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
    *
    * The per-group answer to "is this conversion/defect rate really
    * above X?" across millions of groups. n and k are exact counts;
    * the interval is a FIXED sequence of IEEE ops from them (z enters
    * only as z·z, spelled as the product on both engines — the literal
    * 3.8416 is a different double), so scores are bit-identical with
    * no rounding convention; round-6 is kept for house style only.
    *
    * One groupBy over the source — map-side combine, one shuffle.
    */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val g = df.where(col(successCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast(LongType)).as("k"))
    val nD = col("n").cast(DoubleType)
    val phat = col("k").cast(DoubleType) / nD
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / nD
    val center = (phat + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(phat * (lit(1.0) - phat) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    g.select(col(groupCol), col("n"), col("k"),
      (round(phat, 6) + lit(0.0)).as("rate"),
      (round(center - half, 6) + lit(0.0)).as("wilson_lo"),
      (round(center + half, 6) + lit(0.0)).as("wilson_hi"))
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical raters (annotator vs annotator, classifier vs
    * reference labels):
    *
    *   κ = (pₒ − pₑ) / (1 − pₑ)
    *     = (agree·N − Σ_c rt_c·ct_c) / (N² − Σ_c rt_c·ct_c)
    *
    * — after clearing denominators, ONE division of exact integers
    * (agree, N, and the marginal products are all exact counts in
    * DECIMAL(38,0), so N up to ~10¹⁸ never overflows N²). pₒ and pₑ
    * are each one exact division too; everything hash-oracles.
    *
    * Degenerate case pₑ = 1 (both raters constant and equal — κ is
    * 0/0) yields NULL kappa rather than a crash.
    *
    * Scale shape: one groupBy(a,b) count over the source, then all
    * algebra on the CELL table (|A|·|B| rows) — marginals re-agg the
    * cells, the per-class product joins class-to-class. One scan,
    * one shuffle.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val cells = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val rt = cells.groupBy(col("__a").as("__ka"))
      .agg(sum(col("__c")).as("__rt"))
    val ct = cells.groupBy(col("__b").as("__kb"))
      .agg(sum(col("__c")).as("__ct"))
    // classes only one rater ever uses contribute 0 to pₑ — inner join
    val peNum = rt.join(ct, col("__ka") === col("__kb"))
      .agg(coalesce(sum(col("__rt").cast(d38) * col("__ct").cast(d38)),
        lit(0).cast(d38)).as("__pe_num"))
    val tot = cells.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__agree"))
    val n = col("__n").cast(d38)
    val agree = col("__agree").cast(d38)
    val kNum = (agree * n - col("__pe_num")).cast(DoubleType)
    val kDen = (n * n - col("__pe_num")).cast(DoubleType)
    tot.crossJoin(peNum)
      .select(col("__n").cast(LongType).as("n"),
        col("__agree").cast(LongType).as("n_agree"),
        (round(agree.cast(DoubleType) / n.cast(DoubleType), 6)
          + lit(0.0)).as("po"),
        (round(col("__pe_num").cast(DoubleType) /
          (n * n).cast(DoubleType), 6) + lit(0.0)).as("pe"),
        (when(kDen > 0, round(kNum / kDen, 6) + lit(0.0))
          .otherwise(lit(null).cast(DoubleType))).as("kappa"))
  }

  /** Co-occurrence pair mining (the bipartite projection / market-
    * basket step): items sharing a basket become weighted edges with
    * the classic association stats —
    *
    *   support(a,b) = #baskets containing both
    *   lift(a,b)    = support·N / (n_a·n_b)
    *
    * (lift > 1 ⟺ co-occurrence above independence). The projection
    * of (order, part), (doc, shingle), (user, item) into an item-item
    * graph is how the g-family gets edge lists from transactional
    * data.
    *
    * Determinism: every output is an exact count or ONE division of
    * exact DECIMAL(38,0) products (overflow-proof past 2⁶³).
    *
    * Scale shape: distinct (basket, item) once, one self-join hash-
    * shuffled on basket — fan-out C(k,2) per basket, so `maxBasketSize`
    * excludes degenerate hub baskets BEFORE the join (the wedge bound,
    * same contract as linkPrediction's maxDegree); `minSupport` cuts
    * the long tail before the marginal joins.
    */
  def coOccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2,
      s"maxBasketSize must be >= 2, got $maxBasketSize")
    val d38 = DecimalType(38, 0)
    val bi = df.where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sizes = bi.groupBy(col("__b")).agg(count(lit(1)).as("__bs"))
    val kept = bi.join(sizes.where(col("__bs") <= maxBasketSize), "__b")
      .select(col("__b"), col("__i"))
      .localCheckpoint(true) // read by the self-join AND both marginals
    val itemTot = kept.groupBy(col("__i").as("__it"))
      .agg(count(lit(1)).as("__ni"))
    val tot = kept.agg(countDistinct(col("__b")).as("__nb"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .where(col("n_baskets") >= minSupport)
    pairs
      .join(itemTot.select(col("__it").as("item_a"),
        col("__ni").as("n_a")), "item_a")
      .join(itemTot.select(col("__it").as("item_b"),
        col("__ni").as("n_b")), "item_b")
      .crossJoin(broadcast(tot))
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        col("n_a"), col("n_b"),
        (round((col("n_baskets").cast(d38) * col("__nb").cast(d38))
          .cast(DoubleType) /
          (col("n_a").cast(d38) * col("n_b").cast(d38))
            .cast(DoubleType), 6) + lit(0.0)).as("lift"))
  }

  /** Cross-correlation between two regular series at lags 0..maxLag:
    * Pearson corr(aᵢ, bᵢ₊ₗ) over the buckets both series observe —
    * "does series A lead series B, and by how much?" (the lag with the
    * peak |xcorr| is the lead/lag estimate; at lag 0 this is plain
    * correlation of the two series).
    *
    * Both inputs are (index, value) frames on a SHARED integer index
    * (epoch-hour buckets, row numbers) — sparse indices pair only
    * where both sides exist, exactly like [[autocorrelation]]'s
    * observation-index convention. Values quantize to DECIMAL(18,2);
    * all five moments are exact decimal sums per lag; the corr is the
    * same fixed IEEE sequence [[autocorrelation]] pins.
    *
    * Scale shape: the lag fan-out is a map-side explode of A by
    * (maxLag+1), then ONE hash join on the (shifted) index and one
    * (lag) aggregate — no window, no sort; series length and lag
    * count bound the work.
    */
  def crossCorrelation(a: DataFrame, b: DataFrame, idxCol: String,
      valCol: String, maxLag: Int, minPairs: Int = 3): DataFrame = {
    require(maxLag >= 0 && maxLag <= 10000,
      s"maxLag must be in [0, 10000], got $maxLag")
    require(minPairs >= 2, s"minPairs must be >= 2, got $minPairs")
    val dec = DecimalType(18, 2)
    val av = a.where(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(idxCol).cast(LongType).as("__ia"),
        col(valCol).cast(dec).as("__xa"))
    val bv = b.where(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(idxCol).cast(LongType).as("__ib"),
        col(valCol).cast(dec).as("__xb"))
    val fanned = av.select(col("__ia"), col("__xa"),
      explode(sequence(lit(0), lit(maxLag))).as("lag"))
    val pairs = fanned.join(bv,
      col("__ib") === col("__ia") + col("lag"))
    val sums = pairs.groupBy(col("lag").cast(IntegerType).as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__xa")).cast(DoubleType).as("__sx"),
        sum(col("__xb")).cast(DoubleType).as("__sy"),
        sum((col("__xa") * col("__xa")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__sxx"),
        sum((col("__xb") * col("__xb")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__syy"),
        sum((col("__xa") * col("__xb")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("__sxy"))
    val (num, den) = pearsonNumDen(col("n_pairs").cast(DoubleType),
      col("__sx"), col("__sy"), col("__sxx"), col("__syy"),
      col("__sxy"))
    sums.withColumn("__den", den)
      .where(col("n_pairs") >= minPairs && col("__den") > 0)
      .withColumn("xcorr", num / col("__den"))
      .drop("__sx", "__sy", "__sxx", "__syy", "__sxy", "__den")
  }

  def scd2(changes: DataFrame, keyCols: Seq[String], tsCol: String,
      attrCols: Seq[String], orderCols: Seq[String] = Nil): DataFrame = {
    require(attrCols.nonEmpty, "scd2 needs at least one tracked attribute")
    import org.apache.spark.sql.expressions.Window
    val ord = (if (orderCols.nonEmpty) orderCols else Seq(tsCol)).map(col)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val changed = attrCols.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val versions = changes
      .withColumn("__keep", row_number().over(w) === 1 || changed)
      .where(col("__keep")).drop("__keep")
    // the same immutable spec serves both passes (collapse + stamps)
    versions
      .withColumn("effective_from", col(tsCol))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
      .select((keyCols ++ attrCols).map(col) :+ col("effective_from") :+
        col("effective_to") :+ col("is_current"): _*)
  }

  /** One-pass pairwise Pearson correlation matrix over `cols`: ONE
    * aggregate computes every moment (n, Σxᵢ, Σxᵢxⱼ for i ≤ j — all
    * exact decimals, the [[exactStats]] discipline), then the single
    * moment row explodes into the k·(k−1)/2 pair rows. At 100 TB this is
    * one map-side-combined scan whatever k is — k scans (or k²/2 corr()
    * calls) would re-read the table per pair, and the built-in streaming
    * co-moment agg is merge-order dependent in the last ulp anyway.
    *
    * Rows with a null in ANY of `cols` are excluded (listwise-complete:
    * every pair sees the same n, which is what makes one moment pass
    * valid for the whole matrix — pairwise-complete would need per-pair
    * null masks and per-pair n).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String],
      scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    // completeness is judged on the CAST value (an unrepresentable
    // measure casts to null under non-ANSI semantics and must leave the
    // row out of every moment, or n and the sums would disagree)
    val complete = df.where(cols
      .map(col(_).cast(DecimalType(18, scale)).isNotNull).reduce(_ && _))
    val dec = cols.map(c => col(c).cast(DecimalType(18, scale)))
    val k = cols.size
    val moments: Seq[Column] =
      count(lit(1)).cast(DoubleType).as("__n") +:
      (cols.indices.map(i => sum(dec(i)).cast(DoubleType).as(s"__s$i")) ++
        (for { i <- cols.indices; j <- i until k } yield
          sum((dec(i) * dec(j)).cast(DecimalType(38, 2 * scale)))
            .cast(DoubleType).as(s"__p${i}_$j")))
    val agg = complete.agg(moments.head, moments.tail: _*)
    val n = col("__n")
    def cen(i: Int, j: Int) =
      col(s"__p${i}_$j") - col(s"__s$i") * col(s"__s$j") / n
    val pairs = for { i <- cols.indices; j <- (i + 1) until k } yield
      struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
        (cen(i, j) / (sqrt(cen(i, i)) * sqrt(cen(j, j)))).as("corr"))
    agg.select(n.cast(LongType).as("__nl"),
        explode(array(pairs: _*)).as("__p"))
      .select(col("__p.col_x").as("col_x"), col("__p.col_y").as("col_y"),
        col("__nl").as("n"), col("__p.corr").as("corr"))
  }

  /** Spearman rank correlation, exactly. The average rank of a tied
    * group is (first + last)/2, so TWICE the average rank is an exact
    * integer — computed VALUE-LEVEL by [[doubledMidranks]]
    * (2B+cnt+1 per distinct value; equal to the row-position average
    * the definition states, see there). Rows then join back to their
    * two integer ranks and the statistic is Pearson over exact-decimal
    * rank moments — float enters only in the final fixed expression
    * tree (ρ is invariant under the ×2 rank scaling).
    *
    * Scale shape: two rank maps (distinct-value-sized: a partial-agg
    * count + a prefix sum over distinct values — no row-level range
    * shuffle, no single-task window), two equi-joins, one moment
    * aggregate. Nothing corpus-sized reaches the driver.
    */
  def spearman(df: DataFrame, x: String, y: String,
      scale: Int = 2): DataFrame = {
    // the cast/filtered pair frame feeds THREE consumers (two rank
    // maps + the rank join): checkpoint it once at session width so
    // the source is scanned and cast exactly once (r16, guide §5 —
    // within-query reuse; Fanout.fanOut widens the one-file local
    // bench scan, a no-op on an already-split 100 TB input)
    // fan out the SCAN (decimal cast + filter then run at session
    // width — measured 1.05 s in 3 tasks when the cast sat below the
    // repartition; column pruning keeps the shuffle to the two
    // measure columns; hash distribution skips round-robin's
    // sort-before-repartition)
    val complete = Fanout.fanOutBy(df.select(col(x), col(y)),
        col(x), col(y))
      .select(col(x).cast(DecimalType(18, scale)).as("__x"),
        col(y).cast(DecimalType(18, scale)).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .localCheckpoint(true)
    // r16 (guide §2): value-level ranking — the doubled midrank of a
    // value is 2B+cnt+1 (B = rows strictly smaller), the identical
    // integer the previous row-level formulation computed as
    // (2·Σ positions) div cnt, without range-shuffling every row
    // twice. Both columns rank in ONE axis-tagged build (one groupBy,
    // one prefix sum) instead of one build per column.
    val axed = complete.select(explode(array(
        struct(lit(0).as("__ax"), col("__x").as("__v")),
        struct(lit(1).as("__ax"), col("__y").as("__v")))).as("__s"))
      .select(col("__s.__ax").as("__ax"), col("__s.__v").as("__v"))
    val both = doubledMidranksAxes(axed, "__r")
    val rx = both.where(col("__ax") === 0)
      .select(col("__v"), col("__r").as("__ra"))
    val ry = both.where(col("__ax") === 1)
      .select(col("__v"), col("__r").as("__rb"))
    val ranked = complete
      .join(rx, complete("__x") === rx("__v")).drop("__v")
      .join(ry, complete("__y") === ry("__v")).drop("__v")
    val ra = col("__ra").cast(DecimalType(18, 0))
    val rb = col("__rb").cast(DecimalType(18, 0))
    val sums = ranked.agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      sum(ra).cast(DoubleType).as("__sx"),
      sum(rb).cast(DoubleType).as("__sy"),
      sum((ra * ra).cast(DecimalType(38, 0))).cast(DoubleType).as("__sxx"),
      sum((rb * rb).cast(DecimalType(38, 0))).cast(DoubleType).as("__syy"),
      sum((ra * rb).cast(DecimalType(38, 0))).cast(DoubleType).as("__sxy"))
    val n = col("__n")
    sums.select(
      n.cast(LongType).as("n"),
      ((col("__sxy") - col("__sx") * col("__sy") / n) /
        (sqrt(col("__sxx") - col("__sx") * col("__sx") / n) *
          sqrt(col("__syy") - col("__sy") * col("__sy") / n))).as("rho"))
  }

  /** Welch's unequal-variance t-test between two arms, from exact
    * decimal power sums gathered in ONE conditional-aggregate pass
    * (sum FILTER per arm — no self-join, no two scans). Mean and
    * sample variance per arm come out of the exact sums; the t
    * statistic and the Welch–Satterthwaite degrees of freedom are a
    * fixed double expression tree on top, bit-identical across engines.
    */
  def welchTTest(df: DataFrame, groupCol: String, measure: String,
      groupA: String, groupB: String, scale: Int = 2): DataFrame = {
    val xd = col(measure).cast(DecimalType(18, scale))
    // membership requires a representable measure (cast-not-null), so
    // the arm counts and the arm sums always see the same rows
    val inA = col(groupCol) === groupA && xd.isNotNull
    val inB = col(groupCol) === groupB && xd.isNotNull
    val sums = df.agg(
      sum(when(inA, 1L).otherwise(0L)).cast(DoubleType).as("__na"),
      sum(when(inB, 1L).otherwise(0L)).cast(DoubleType).as("__nb"),
      sum(when(inA, xd)).cast(DoubleType).as("__sa"),
      sum(when(inB, xd)).cast(DoubleType).as("__sb"),
      sum(when(inA, (xd * xd).cast(DecimalType(38, 2 * scale))))
        .cast(DoubleType).as("__qa"),
      sum(when(inB, (xd * xd).cast(DecimalType(38, 2 * scale))))
        .cast(DoubleType).as("__qb"))
    val na = col("__na"); val nb = col("__nb")
    val ma = col("__sa") / na; val mb = col("__sb") / nb
    val va = (col("__qa") - col("__sa") * col("__sa") / na) / (na - 1)
    val vb = (col("__qb") - col("__sb") * col("__sb") / nb) / (nb - 1)
    val sa2 = va / na; val sb2 = vb / nb
    val t = (ma - mb) / sqrt(sa2 + sb2)
    val dfW = (sa2 + sb2) * (sa2 + sb2) /
      (sa2 * sa2 / (na - 1) + sb2 * sb2 / (nb - 1))
    sums.select(
      na.cast(LongType).as("n_a"), nb.cast(LongType).as("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      va.as("var_a"), vb.as("var_b"),
      t.as("t_stat"), dfW.as("df"))
  }

  /** Kendall rank correlation (τ-b), exactly, at any scale. The naive
    * statistic is O(n²) over ROWS; over the VALUE-PAIR contingency it is
    * O(k²) over CELLS: with n_ab = |{rows: x=a, y=b}|,
    *   C = Σ n_ab·n_cd over cell pairs with c>a, d>b (concordant),
    *   D = Σ n_ab·n_cd over cell pairs with c>a, d<b (discordant),
    *   τ_b = (C − D) / (√(n0−t_x)·√(n0−t_y)),
    * n0 = n(n−1)/2, t_x/t_y the tied-pair counts from the marginals.
    * Every sum is an exact decimal (n can exceed 2^63 pairs); the τ
    * itself is the only float, a fixed tree of correctly-rounded casts.
    *
    * Scale shape: one groupBy(x,y) count scans the table once; the
    * strict self-join runs over CELLS (|X|·|Y| of them — measures with
    * bounded distinct domains, the operator's documented contract), so
    * the quadratic term never touches row counts. Intended for the
    * quantity/discount-style columns a 100 TB fact table actually has;
    * a continuous measure should be bucketed first. The contract is
    * ENFORCED: the cell frame is materialized (localCheckpoint — it is
    * ≤ `maxCells` rows by contract, and the O(cells²) join reuses it)
    * and a loud require refuses a domain past `maxCells` BEFORE the
    * quadratic join can run, instead of silently blowing up on a
    * continuous column.
    */
  def kendallTau(df: DataFrame, x: String, y: String,
      scale: Int = 2, maxCells: Long = 65536): DataFrame = {
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    val xd = col(x).cast(DecimalType(18, scale))
    val yd = col(y).cast(DecimalType(18, scale))
    val complete = df.select(xd.as("__x"), yd.as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val cells = complete.groupBy("__x", "__y")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("__n"))
      .localCheckpoint(true)
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"kendallTau: $nCells distinct ($x, $y) cells exceeds " +
        s"maxCells=$maxCells — the cell self-join is O(cells²); bucket " +
        "the continuous measure first (round / width_bucket) or raise " +
        "maxCells knowingly")
    val a = cells.select(col("__x").as("__ax"), col("__y").as("__ay"),
      col("__n").as("__na"))
    val b = cells.select(col("__x").as("__bx"), col("__y").as("__by"),
      col("__n").as("__nb"))
    // every unordered cell pair meets exactly once (strict x order)
    val cd = a.join(b, col("__bx") > col("__ax"))
      .agg(
        coalesce(sum(when(col("__by") > col("__ay"),
          (col("__na") * col("__nb")).cast(DecimalType(38, 0)))),
          lit(0).cast(DecimalType(38, 0))).as("__C"),
        coalesce(sum(when(col("__by") < col("__ay"),
          (col("__na") * col("__nb")).cast(DecimalType(38, 0)))),
          lit(0).cast(DecimalType(38, 0))).as("__D"))
    // n0 − t_key (pairs NOT tied on the key) computed DIRECTLY as
    // Σ_{a<c} m_a·m_c over the marginal — division-free, so no
    // cross-engine decimal-division semantics ever enter
    def untiedPairs(keyCol: String, out: String): DataFrame = {
      val m = cells.groupBy(keyCol)
        .agg(sum(col("__n")).cast(DecimalType(38, 0)).as("__m"))
      val l = m.select(col(keyCol).as("__ka"), col("__m").as("__ma"))
      val r = m.select(col(keyCol).as("__kb"), col("__m").as("__mb"))
      l.join(r, col("__kb") > col("__ka"))
        .agg(coalesce(sum((col("__ma") * col("__mb"))
          .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
          .as(out))
    }
    val totals = cells.agg(
      sum(col("__n")).cast(DecimalType(38, 0)).as("__nn"),
      count(lit(1)).as("n_cells"))
    val joined = totals
      .crossJoin(broadcast(cd))
      .crossJoin(broadcast(untiedPairs("__x", "__ux")))
      .crossJoin(broadcast(untiedPairs("__y", "__uy")))
    val cD = col("__C").cast(DoubleType); val dD = col("__D").cast(DoubleType)
    joined.select(
      col("__nn").cast(LongType).as("n"),
      col("n_cells"),
      cD.as("concordant"), dD.as("discordant"),
      ((cD - dD) /
        (sqrt(col("__ux").cast(DoubleType)) *
          sqrt(col("__uy").cast(DoubleType)))).as("tau_b"))
  }

  /** Mann–Kendall monotone-trend test per key: over the (ts, tie)
    * total order, S = Σ_{i<j} sgn(x_j − x_i) (exact integer), the
    * tie-corrected variance numerator
    * var18 = m(m−1)(2m+5) − Σ_t t(t−1)(2t+5) (exact integer; variance
    * = var18/18), and the continuity-corrected z = (S∓1)/√(var18/18) —
    * a fixed double tree. S = 0 pins z = 0 exactly (S ≠ 0 implies
    * var18 > 0, so the division is always defined).
    *
    * Per-key O(m log m) inside `mapGroups`: S = P − T − 2D with
    * P = m(m−1)/2 total pairs, T = Σ t(t−1)/2 tied pairs, and D the
    * strict inversion count from one merge sort — every term an exact
    * long, so S is bit-identical to the definitional pair scan (pinned
    * by a property test). Keys parallelize; a 100k-observation key
    * costs ~1.7M comparisons in its task, not 5×10⁹. m is required
    * < 2⁶³ᐟ³-safe (≈ 1M) so m(m−1)(2m+5) stays an exact long.
    *
    * Observation contract: rows with null key/time or a measure that
    * does not stabilize to DECIMAL(18,2) are excluded (shared with
    * ts3/ts8); keys cast to long.
    */
  def mannKendall(df: DataFrame, keyCol: String, tsCol: String,
      measure: String, tieBreak: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = df.select(
      col(keyCol).cast(LongType).as("k"),
      col(tsCol).cast(TimestampType).as("ts"),
      col(tieBreak).cast(LongType).as("tie"),
      col(measure).cast(DecimalType(18, 2)).cast(DoubleType).as("x"))
      .where(col("k").isNotNull && col("ts").isNotNull &&
        col("tie").isNotNull && col("x").isNotNull)
      .as[(Long, java.sql.Timestamp, Long, Double)]
    prepared.groupByKey(_._1).mapGroups { (k, it) =>
      // micros, not getTime ms — sub-millisecond order must match the
      // oracle's epoch_us ordering
      val xs = it.map { case (_, ts, tie, x) =>
        (Math.floorDiv(ts.getTime, 1000L) * 1000000L +
          ts.getNanos / 1000L, tie, x)
      }.toArray.sortBy(r => (r._1, r._2))
      val m = xs.length
      require(m < 1000000,
        s"mannKendall key $k has $m observations; the exact long " +
          "variance arithmetic is bounded at 1M per key")
      val mL = m.toLong
      // S = (#concordant − #discordant) = P − T − 2D: concordant +
      // discordant = P − T (pairs that are not ties), discordant = the
      // strict inversions D of the time-ordered value sequence
      val pairs = mL * (mL - 1) / 2
      val tiedPairs = xs.groupBy(_._3).valuesIterator
        .map { g => val t = g.length.toLong; t * (t - 1) / 2 }.sum
      val s = pairs - tiedPairs -
        2L * strictInversions(xs.map(_._3))
      val tieSum = xs.groupBy(_._3).valuesIterator
        .map { g => val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }
        .sum
      val var18 = mL * (mL - 1) * (2 * mL + 5) - tieSum
      val z =
        if (s == 0L) 0.0
        else if (s > 0L) (s.toDouble - 1.0) /
          math.sqrt(var18.toDouble / 18.0)
        else (s.toDouble + 1.0) / math.sqrt(var18.toDouble / 18.0)
      (k, mL, s, var18, z)
    }.toDF("key", "n", "s", "var18", "z")
  }

  /** Strict inversions (pairs i < j with a(i) > a(j)) by merge sort —
    * exact long count, ties never counted (the `<=` keeps equal runs
    * stable and un-inverted). Mutates its input. O(m log m) where the
    * definitional pair scan is O(m²); bit-equal by MannKendallSpec's
    * property test.
    */
  private[graft] def strictInversions(a: Array[Double]): Long = {
    val buf = new Array[Double](a.length)
    def go(lo: Int, hi: Int): Long = // [lo, hi)
      if (hi - lo <= 1) 0L
      else {
        val mid = (lo + hi) >>> 1
        var inv = go(lo, mid) + go(mid, hi)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          if (a(i) <= a(j)) { buf(k) = a(i); i += 1 }
          else { buf(k) = a(j); j += 1; inv += (mid - i) }
          k += 1
        }
        while (i < mid) { buf(k) = a(i); i += 1; k += 1 }
        while (j < hi) { buf(k) = a(j); j += 1; k += 1 }
        System.arraycopy(buf, lo, a, lo, hi - lo)
        inv
      }
    go(0, a.length)
  }

  /** The Benford first-digit expectations log₁₀(1+1/d), d = 1..9,
    * quantized to six decimals — shared literals for plan and oracle
    * (the [[graft.operators.Similarity.dcgWeights]] discipline). */
  private[graft] def benfordExpected: Seq[java.math.BigDecimal] =
    (1 to 9).map { d =>
      new java.math.BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }

  /** Benford first-digit audit of a positive measure — the classic
    * fabricated-data / unit-mixing screen. The first SIGNIFICANT digit
    * is extracted lexically (first [1-9] of the decimal rendering, so
    * 0.05 → 5 and 123.45 → 1 — no log10 whose last ulp could differ
    * across engines), counted per digit, and compared to the quantized
    * Benford expectation. `share` is one double division per digit;
    * `gap` one subtraction. Rows with a null/≤0 measure are excluded.
    * One map-side-combined count shuffle (9 groups) + a 1-row total.
    */
  def benfordDigits(df: DataFrame, measure: String,
      scale: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val xd = col(measure).cast(DecimalType(18, scale))
    val digit = regexp_extract(xd.cast(StringType), "[1-9]", 0)
      .cast(IntegerType)
    val counts = df.where(xd.isNotNull && xd > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_digit"))
    val digits = spark.range(1, 10)
      .select(col("id").cast(IntegerType).as("digit"))
    val expected = benfordExpected.zipWithIndex
      .foldLeft(lit(null).cast(DecimalType(9, 6))) { case (acc, (e, i)) =>
        when(col("digit") === (i + 1), lit(e).cast(DecimalType(9, 6)))
          .otherwise(acc)
      }
    val total = counts.agg(sum(col("n_digit")).as("__N"))
    digits
      .join(counts, Seq("digit"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n_digit"), lit(0L)).as("n_digit"),
        (coalesce(col("n_digit"), lit(0L)).cast(DoubleType) /
          col("__N").cast(DoubleType)).as("share"),
        expected.cast(DoubleType).as("expected"),
        ((coalesce(col("n_digit"), lit(0L)).cast(DoubleType) /
          col("__N").cast(DoubleType)) -
          expected.cast(DoubleType)).as("gap"))
  }

  /** Theil–Sen robust regression over the value-pair contingency: slope
    * = the WEIGHTED lower median of pairwise slopes (y_c−y_a)/(x_c−x_a)
    * across cell pairs (weight n_a·n_c), intercept = the weighted lower
    * median of per-cell residuals y − slope·x (weight n). Exactness
    * argument: slopes compare through their correctly-rounded double
    * value — two EQUAL rationals always round to the SAME double
    * (num/den division of exactly-represented decimals is correctly
    * rounded), so the value ordering is engine-independent and peers
    * share a RANGE-frame cumulative weight; "lower median" = the
    * smallest value whose doubled running weight reaches the total (no
    * division anywhere in the selection).
    *
    * Scale shape: the [[kendallTau]] contract — one groupBy(x,y) scan,
    * then cell-pair work (O(k²) over bounded distinct domains, never
    * rows); the median windows order CELL-pair frames, not the table.
    */
  def theilSen(df: DataFrame, x: String, y: String,
      scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val xd = col(x).cast(DecimalType(18, scale))
    val yd = col(y).cast(DecimalType(18, scale))
    val complete = df.select(xd.as("__x"), yd.as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val cells = complete.groupBy("__x", "__y")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("__n"))
    val a = cells.select(col("__x").as("__ax"), col("__y").as("__ay"),
      col("__n").as("__na"))
    val b = cells.select(col("__x").as("__bx"), col("__y").as("__by"),
      col("__n").as("__nb"))
    val pairs = a.join(b, col("__bx") > col("__ax"))
      .select(
        (col("__by") - col("__ay")).cast(DecimalType(19, scale))
          .as("__num"),
        (col("__bx") - col("__ax")).cast(DecimalType(19, scale))
          .as("__den"),
        (col("__na") * col("__nb")).cast(DecimalType(38, 0)).as("__w"))
      .withColumn("__k",
        col("__num").cast(DoubleType) / col("__den").cast(DoubleType))
    val wSlope = Window.orderBy(col("__k"))
    val slopeRow = pairs
      .withColumn("__cum", sum(col("__w")).over(wSlope))
      .withColumn("__tot", sum(col("__w")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__np", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .where(col("__cum") * 2 >= col("__tot"))
      .orderBy(col("__k")).limit(1)
      .select(col("__k").as("slope"), col("__np").as("n_pairs"))
    val resid = cells.crossJoin(broadcast(slopeRow))
      .select(col("__n").as("__w"), col("slope"), col("n_pairs"),
        (col("__y").cast(DoubleType) -
          col("slope") * col("__x").cast(DoubleType)).as("__r"))
    val wInt = Window.orderBy(col("__r"))
    val interceptRow = resid
      .withColumn("__cum", sum(col("__w")).over(wInt))
      .withColumn("__tot", sum(col("__w")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .where(col("__cum") * 2 >= col("__tot"))
      .orderBy(col("__r")).limit(1)
      .select(col("slope"), col("n_pairs"), col("__r").as("intercept"),
        col("__tot").cast(LongType).as("n"))
    interceptRow.crossJoin(broadcast(
        cells.agg(count(lit(1)).as("n_cells"))))
      .select(col("n"), col("n_cells"), col("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** Two-proportion z-test — the A/B conversion-rate primitive. One
    * conditional-aggregate pass collects exact trial/success counts per
    * arm; rates, the pooled rate, and the z statistic are a fixed double
    * tree over them. `success` is any boolean column expression;
    * rows outside both arms are ignored.
    */
  def propTest(df: DataFrame, groupCol: String, success: Column,
      groupA: String, groupB: String): DataFrame = {
    val inA = col(groupCol) === groupA
    val inB = col(groupCol) === groupB
    val s = success.cast(BooleanType)
    val sums = df.agg(
      sum(when(inA, 1L).otherwise(0L)).as("__na"),
      sum(when(inB, 1L).otherwise(0L)).as("__nb"),
      sum(when(inA && s, 1L).otherwise(0L)).as("__xa"),
      sum(when(inB && s, 1L).otherwise(0L)).as("__xb"))
    val na = col("__na").cast(DoubleType)
    val nb = col("__nb").cast(DoubleType)
    val xa = col("__xa").cast(DoubleType)
    val xb = col("__xb").cast(DoubleType)
    val pa = xa / na; val pb = xb / nb
    val pool = (xa + xb) / (na + nb)
    val z = (pa - pb) /
      sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb))
    sums.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      col("__xa").as("x_a"), col("__xb").as("x_b"),
      pa.as("rate_a"), pb.as("rate_b"), pool.as("rate_pooled"),
      z.as("z"))
  }

  /** Chi-square independence: the per-cell contingency table between two
    * categorical columns with observed count, expected count, and the
    * cell's χ² contribution. All counts and the contribution's
    * numerator/denominator are exact integers — expected = rowTot·colTot
    * / N and contribution = (o·N − rowTot·colTot)² / (rowTot·colTot·N) —
    * so each double is ONE correctly-rounded division of exact decimals,
    * deterministic across engines. (The scalar Σ statistic is a
    * partition-order-dependent double sum; [[chi2Statistic]] pins it
    * with a sorted fold for in-engine use — the oracle-able artifact is
    * this exact per-cell table.)
    *
    * Shape: one groupBy(a,b) count, two marginal re-aggs of THAT result
    * (cells, not rows), broadcast-joined back — the source is scanned
    * once however large it is.
    */
  def chi2Cells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val complete = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
    val cells = complete.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col(aCol))
      .agg(sum(col("observed")).as("__rt"))
    val colTot = cells.groupBy(col(bCol))
      .agg(sum(col("observed")).as("__ct"))
    val nTot = cells.agg(sum(col("observed")).as("__N"))
    val o = col("observed").cast(DecimalType(38, 0))
    val rt = col("__rt").cast(DecimalType(38, 0))
    val ct = col("__ct").cast(DecimalType(38, 0))
    val nn = col("__N").cast(DecimalType(38, 0))
    val dev = (o * nn - rt * ct).cast(DecimalType(38, 0))
    cells
      .join(broadcast(rowTot), aCol).join(broadcast(colTot), bCol)
      .crossJoin(broadcast(nTot))
      .select(col(aCol), col(bCol), col("observed"),
        ((rt * ct).cast(DoubleType) / nn.cast(DoubleType)).as("expected"),
        ((dev * dev).cast(DoubleType) /
          (rt * ct * nn).cast(DoubleType)).as("contrib"))
  }

  /** The scalar χ² statistic from [[chi2Cells]], summed in a PINNED
    * order (sorted array fold) so the double total is deterministic —
    * cells are few (|A|·|B|), so the fold is one tiny post-agg step. */
  def chi2Statistic(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chi2Cells(df, aCol, bCol)
      .agg(sort_array(collect_list(struct(col(aCol), col(bCol),
        col("contrib")))).as("__cells"),
        count(lit(1)).as("n_cells"))
      .select(col("n_cells"),
        aggregate(col("__cells"), lit(0.0),
          (acc, c) => acc + c.getField("contrib")).as("chi2"))

  /** Cramér's V — the [0,1] effect size the χ² statistic lacks
    * (χ² grows with N even for a fixed association strength):
    *
    *   V = √( χ² / (N · (min(r,c) − 1)) )
    *
    * over the same contingency as [[chi2Cells]]. [[chi2Cells]] carries
    * only OBSERVED cells; an empty cell's χ² contribution is exactly
    * its expected count, and Σexpected over the FULL r×c grid is N, so
    * the zero-cell mass is recovered in closed form:
    *
    *   χ²_full = Σ_observed contrib + (N − Σ_observed expected)
    *
    * — no grid densification, no second scan. Unlike
    * [[chi2Statistic]]'s sorted double fold, both sums here accumulate
    * the (already one-division-exact) per-cell doubles through
    * DECIMAL(28,18), so the total is fold-order independent and the
    * whole row hash-oracles; round-6 absorbs the wide-decimal → double
    * cast ulp. One aggregate over the CELL table (|A|·|B| rows), never
    * the source rows.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = chi2Cells(df, aCol, bCol)
    val chi2Full = col("__chi2d") +
      (col("__n").cast(DecimalType(28, 18)) - col("__expd"))
    cells
      .agg(sum(col("contrib").cast(DecimalType(28, 18))).as("__chi2d"),
        sum(col("expected").cast(DecimalType(28, 18))).as("__expd"),
        sum(col("observed")).as("__n"),
        countDistinct(col(aCol)).as("__r"),
        countDistinct(col(bCol)).as("__k"))
      .select(col("__n").cast(LongType).as("n"),
        col("__r").as("n_rows"), col("__k").as("n_cols"),
        ((col("__r") - 1) * (col("__k") - 1)).as("dof"),
        (round(chi2Full.cast(DoubleType), 6) + lit(0.0))
          .as("chi2"),
        // a 1×k (or k×1) table has no association to measure: gate
        // the min(r,c)−1 denominator instead of dividing by zero
        (when(least(col("__r"), col("__k")) > 1,
          round(sqrt(chi2Full.cast(DoubleType) /
            (col("__n") * (least(col("__r"), col("__k")) - 1))
              .cast(DoubleType)), 6) + lit(0.0))
          .otherwise(lit(null).cast(DoubleType))).as("cramers_v"))
  }
}
