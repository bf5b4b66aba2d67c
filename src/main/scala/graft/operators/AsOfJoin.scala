package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed backward as-of join (SURVEY.md §2.3 J2, §7.3).
  *
  * Reference semantics: `pd.merge_asof(fuel_mix, load, on="time")`
  * (`pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:59-79`) — for each
  * left row, attach the value columns of the latest right row with
  * `right.time <= left.time` (exact matches allowed); unmatched left rows
  * get nulls (dropped later by the reference's `dropna`). The reference
  * executes this on the DRIVER via `toPandas()` — its scalability cliff.
  *
  * This implementation is fully distributed and shuffle-bounded:
  *
  *  1. Bucket both sides on a fixed time grid (`numBuckets` spans of the
  *     observed min..max range), union them with a side tag, and run ONE
  *     window per (equi-keys, bucket) partition:
  *     `last(value, ignoreNulls) OVER (ORDER BY t, tag ROWS UNBOUNDED
  *     PRECEDING)`. Right rows sort before left rows at equal `t`, so exact
  *     matches are included (pandas `allow_exact_matches=True`).
  *  2. Left rows whose bucket had no earlier right row take a "carry-in":
  *     the last right values of any earlier bucket, forward-filled over the
  *     tiny (keys × buckets) spine frame and broadcast back.
  *
  * No global sort, no single-partition window: parallelism is
  * (distinct equi keys) × numBuckets, so a keyless as-of (the reference's
  * case) still spreads over numBuckets partitions. The carry-in spine is
  * O(keys × buckets) rows — negligible, always broadcastable.
  *
  * Determinism: when several right rows share the same (keys, time), which
  * one wins is tie-broken arbitrarily (pandas takes last-in-input-order,
  * which is equally input-order-dependent). Pre-aggregate the right side to
  * unique (keys, time) for fully deterministic output.
  */
object AsOfJoin {

  /** Backward as-of join; returns all left columns plus one column per
    * `valueCols` entry `(rightColumn, outputAlias)`.
    *
    * @param by equi-key pairs `(leftKey, rightKey)`; empty = global as-of
    * @param inner drop unmatched left rows (reference's `dropna` composed in)
    * @param numBuckets adaptive grid resolution (ignored when
    *                   `bucketWidthMicros` > 0)
    * @param bucketWidthMicros 0 (default) = adaptive grid: one tiny
    *        column-pruned min/max job over both sides picks the bucket
    *        width — bounds the carry spine to O(keys × numBuckets) no
    *        matter the time range. > 0 = FIXED epoch-aligned grid of this
    *        width: no bounds job at all (one fewer Spark job per call);
    *        the spine grows with distinct observed (key, bucket) pairs, so
    *        pick a width of the same order as the data's time span /
    *        desired parallelism (e.g. 1 hour for the reference's 5-minute
    *        feeds). Bucket boundaries never change RESULTS (boundary-
    *        invariance spec), only the shuffle layout.
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false,
      numBuckets: Int = 64,
      bucketWidthMicros: Long = 0L): DataFrame =
    directional(left, right, leftTime, rightTime, by, valueCols, inner,
      numBuckets, bucketWidthMicros, negate = false)

  /** Forward as-of join: each left row takes the EARLIEST right row
    * at-or-after it (pandas `merge_asof(direction="forward")`; exact
    * matches included). Implemented by negating the epoch-micros
    * ordering column — every mechanism of [[backward]] (time buckets,
    * one window per (keys, bucket), broadcast carry spine) applies
    * verbatim to the mirrored axis, so the two directions can never
    * drift apart semantically. Same tie note as the object scaladoc:
    * several right rows at one (keys, time) are tie-broken arbitrarily —
    * pre-aggregate the right side for deterministic output.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false,
      numBuckets: Int = 64,
      bucketWidthMicros: Long = 0L,
      broadcastThreshold: Long = 10L << 20): DataFrame = {
    // Strategy selection mirroring auto(): a keyed forward with a big
    // right side gets the dedicated sort-merge exec on the negated axis
    // (one exchange + sort per side) instead of the window composition —
    // same best-plan-by-default rule as the backward production path.
    val rightSize = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (by.nonEmpty && rightSize > broadcastThreshold)
      forwardMerge(left, right, leftTime, rightTime, by, valueCols, inner)
    else
      directional(left, right, leftTime, rightTime, by, valueCols, inner,
        numBuckets, bucketWidthMicros, negate = true)
  }

  /** Forward as-of through [[merge]]'s dedicated exec: both time columns
    * become negated epoch micros (LongType passes raw into the node —
    * see merge()'s timeExpr), so "latest -rt <= -lt" streams through
    * AsOfMergeJoinExec as the forward join. Null-key grouping follows
    * merge()'s pandas semantics, like every forward path.
    */
  def forwardMerge(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false): DataFrame = {
    val lt2 = "__graft_fwd_lt"
    val rt2 = "__graft_fwd_rt"
    def negUs(df: DataFrame, name: String): Column = -rawMicros(df, name)
    merge(left.withColumn(lt2, negUs(left, leftTime)),
      right.withColumn(rt2, negUs(right, rightTime)),
      lt2, rt2, by, valueCols, inner).drop(lt2)
  }

  /** Micros-epoch ordering value of a time-like column — THE one
    * conversion every strategy must share, so size-based routing can
    * never flip row-level semantics: timestamp family casts (NTZ-safe
    * under the UTC session), while LongType passes through RAW as a
    * pre-computed ordering column (casting a long re-interprets it as
    * SECONDS — a 2024 micros value overflows the timestamp range).
    */
  private def rawMicros(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case LongType => col(name)
      case _ =>
        unix_micros(col(name).cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Nearest as-of join: each left row takes the CLOSER of its backward
    * and forward matches (pandas `merge_asof(direction="nearest")`);
    * equal distances prefer the backward (earlier) match — documented,
    * deterministic, and mirrored in the oracle. Composed as one
    * [[backward]] + one [[forward]] pass re-joined on an internal row
    * id, so it inherits both directions' scale shape (two bucketed
    * window passes + one id-equi join; the id join shuffles only left
    * payload + two value structs). Pre-aggregate the right side to
    * unique (keys, time) for fully deterministic output, as with the
    * other directions.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false,
      numBuckets: Int = 64,
      bucketWidthMicros: Long = 0L): DataFrame = {
    val rid = "__graft_rid"
    // internal join key only — self-consistent within this run, never
    // escapes into the output (so its partition-layout dependence is
    // harmless)
    val l2 = left.withColumn(rid, monotonically_increasing_id())
    def pass(dir: Boolean, tag: String) = directional(
      l2, right, leftTime, rightTime, by,
      valueCols.map { case (in, out) => (in, s"__${tag}_$out") } :+
        ((rightTime, s"__${tag}_t")),
      inner = false, numBuckets, bucketWidthMicros, negate = dir)
    val b = pass(dir = false, "b")
    val f = pass(dir = true, "f")
      .select((rid +: (valueCols.map(c => s"__f_${c._2}") :+ "__f_t"))
        .map(col): _*)
    // same raw-long contract as every other strategy (see rawMicros);
    // __b_t/__f_t carry the RIGHT side's time type
    def usOf(dt: org.apache.spark.sql.types.DataType)(c: Column): Column =
      dt match {
        case LongType => c
        case _ =>
          unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
      }
    val joined = b.join(f, Seq(rid))
    val lt = usOf(left.schema(leftTime).dataType)(col(leftTime))
    val rt = usOf(right.schema(rightTime).dataType) _
    val db = lt - rt(col("__b_t"))  // >= 0, null when unmatched
    val df = rt(col("__f_t")) - lt
    val pickB = col("__f_t").isNull || (col("__b_t").isNotNull && db <= df)
    val matched = col("__b_t").isNotNull || col("__f_t").isNotNull
    val outVals = valueCols.map { case (_, out) =>
      when(pickB, col(s"__b_$out")).otherwise(col(s"__f_$out")).as(out)
    }
    val res = joined.select(
      left.columns.map(col).toSeq ++ outVals :+ matched.as("__m"): _*)
    (if (inner) res.where(col("__m")) else res)
      .select((left.columns.toSeq ++ valueCols.map(_._2)).map(col): _*)
  }

  private def directional(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)],
      valueCols: Seq[(String, String)],
      inner: Boolean,
      numBuckets: Int,
      bucketWidthMicros: Long,
      negate: Boolean): DataFrame = {

    val keys = by.map(_._1)
    val outCols = left.columns.toSeq ++ valueCols.map(_._2)

    // Micros-epoch ordering column; cast handles TIMESTAMP_NTZ inputs too
    // (session time zone is pinned UTC, so the instant is unchanged).
    // A LongType column passes through raw — it is a PRE-COMPUTED ordering
    // column (same contract as merge(); casting a long re-interprets it as
    // seconds). `negate` mirrors the time axis: "latest -t' <= -t" IS
    // "earliest t' >= t", turning the backward machinery into the forward
    // join.
    def epochMicros(df: DataFrame, name: String): Column = {
      val us = rawMicros(df, name)
      if (negate) -us else us
    }

    // MATCH marker __m rides along like a value column so `inner` can
    // distinguish "matched with null value" from "no match".
    val l = left.withColumn("__t", epochMicros(left, leftTime))
    var r = right.withColumn("__t", epochMicros(right, rightTime))
    for ((lk, rk) <- by if lk != rk) r = r.withColumnRenamed(rk, lk)

    val (lo, width) =
      if (bucketWidthMicros > 0) (0L, bucketWidthMicros) // epoch grid, no job
      else {
        // Adaptive grid: global time bounds (one tiny agg over both sides).
        val bounds = l.select(col("__t")).unionAll(r.select(col("__t")))
          .agg(min("__t").as("lo"), max("__t").as("hi")).head()
        if (bounds.isNullAt(0)) { // both sides empty of times
          val withVals = valueCols.foldLeft(l.drop("__t")) { case (d, (in, a)) =>
            d.withColumn(a, lit(null).cast(r.schema(in).dataType))
          }
          return (if (inner) withVals.limit(0) else withVals)
            .select(outCols.map(col): _*)
        }
        val blo = bounds.getLong(0)
        val bhi = bounds.getLong(1)
        (blo, math.max((bhi - blo) / math.max(numBuckets, 1) + 1, 1L))
      }
    def bucketOf(t: Column): Column = ((t - lit(lo)) / lit(width)).cast(LongType)

    val valIn = valueCols.map(_._1)
    val payload = left.columns.toSeq // left cols pass through untouched

    // ALL right value columns ride in ONE struct (`__vs`), so the window
    // fill attaches every column of the SAME matched right row — a null
    // value on the matched row stays null (pandas merge_asof parity)
    // instead of being backfilled per-column from older rows. Fields are
    // positional (__v0..) so duplicate input names can't collide; __m is
    // the match marker.
    val vsType = org.apache.spark.sql.types.StructType(
      valIn.zipWithIndex.map { case (in, i) =>
        org.apache.spark.sql.types.StructField(s"__v$i", r.schema(in).dataType)
      } :+ org.apache.spark.sql.types.StructField(
        "__m", org.apache.spark.sql.types.IntegerType))
    def vsStruct: Column = struct(
      (valIn.zipWithIndex.map { case (in, i) => col(in).as(s"__v$i") } :+
        lit(1).as("__m")): _*).cast(vsType)

    // Tagged union: right rows (tag 0) carry values, left rows (tag 1)
    // carry payload. Columns absent on a side are null.
    val rTagged = r.select(
      keys.map(col) ++ Seq(bucketOf(col("__t")).as("__b"), col("__t"),
        lit(0).as("__tag"), vsStruct.as("__vs")) ++
        payload.map(c => lit(null).cast(left.schema(c).dataType).as(s"__p_$c")): _*)
    val lTagged = l.select(
      keys.map(col) ++ Seq(bucketOf(col("__t")).as("__b"), col("__t"),
        lit(1).as("__tag"), lit(null).cast(vsType).as("__vs")) ++
        payload.map(c => col(c).as(s"__p_$c")): _*)

    val part = keys :+ "__b"
    val w = Window.partitionBy(part.map(col): _*)
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rTagged.unionAll(lTagged)
      .select((part.map(col) :+ col("__tag")) ++ payload.map(c => col(s"__p_$c")) :+
        last(col("__vs"), ignoreNulls = true).over(w).as("__vs"): _*)
      .where(col("__tag") === 1)

    // Carry-in spine: last right values per (keys, bucket), forward-filled
    // across buckets. Tiny frame — broadcast back to the big side. One
    // distinct over the unioned narrow keys (partial-aggregate dedups
    // map-side, so the shuffle carries ~|keys×buckets| rows).
    val spine = l.select((keys.map(col) :+ bucketOf(col("__t")).as("__b")): _*)
      .unionAll(r.select((keys.map(col) :+ bucketOf(col("__t")).as("__b")): _*))
      .distinct()
    val rLast = r.groupBy((keys.map(col) :+ bucketOf(col("__t")).as("__b")): _*)
      .agg(max_by(vsStruct, col("__t")).as("__vals"))
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = spine.join(rLast, part, "left")
      .select(part.map(col) :+ last(col("__vals"), ignoreNulls = true).over(wb).as("__carry"): _*)

    val joined = filled.join(broadcast(carry), part, "left")
    val vs = coalesce(col("__vs"), col("__carry"))
    val resolved = joined.select(
      payload.map(c => col(s"__p_$c").as(c)) ++
        valueCols.zipWithIndex.map { case ((_, out), i) =>
          vs.getField(s"__v$i").as(out)
        } :+ vs.getField("__m").as("__m"): _*)

    val res = if (inner) resolved.where(col("__m") === 1) else resolved
    res.select(outCols.map(col): _*)
  }

  /** Sort-merge as-of join via the dedicated Catalyst operator
    * ([[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfMergeJoinExec]]):
    * ONE hash exchange + sort per side, then a streaming per-partition
    * merge with O(1) state — the physical shape a native engine would
    * pick, impossible to express by composing built-ins. Same semantics
    * as [[backward]]. Prefer this for keyed as-ofs with a large right
    * side. Keyless calls route to [[backward]]'s time-bucketed
    * composition automatically (the exec's keyless form would plan ONE
    * partition — never the right shape at scale). Self-joins need no
    * caller-side aliasing: when the two sides share attribute ids (the
    * custom node skips Catalyst's join-attribute dedup), the right plan
    * is re-aliased internally with fresh ids.
    *
    * Null equi keys: like pandas `merge_asof` (and [[backward]]'s window
    * partitioning), null keys group together — a null-keyed left row CAN
    * take values from a null-keyed right row. This deliberately differs
    * from SQL equality (null = null is never true); the SQL surface
    * (`graft_asof` via RewriteAsOfJoin) inserts IsNotNull filters to keep
    * SQL semantics, so only this programmatic API has the pandas
    * behavior. Pre-filter `right.where(col(k).isNotNull)` if you want
    * SQL semantics here.
    */
  /** Backward as-of with pandas `merge_asof`'s `tolerance`: a match
    * farther than `toleranceMicros` behind the left time is NO match —
    * its value columns null out (or, with `inner`, the left row drops),
    * exactly pandas' semantics (tolerance bounds the gap; exact matches
    * always qualify). A stale quote/config/sensor reading past its
    * validity window must not enrich a fact row silently — that is the
    * production reason tolerance exists.
    *
    * Implementation: ONE extra value column (the matched right time)
    * rides through [[auto]]'s strategy selection — broadcast, merge
    * exec, or bucketed composition, unchanged — and the gap test is a
    * map-side post-filter on exact epoch micros. No second join, no
    * new physical operator, every existing as-of plan shape keeps
    * working at its chosen scale.
    */
  def backwardTolerant(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      toleranceMicros: Long,
      inner: Boolean = false): DataFrame = {
    require(toleranceMicros >= 0,
      s"tolerance must be >= 0 micros, got $toleranceMicros")
    require(!left.columns.contains(TolerantTimeCol),
      s"left side may not contain the reserved column $TolerantTimeCol")
    tolerantGate(
      auto(left, right, leftTime, rightTime, by,
        valueCols :+ ((rightTime, TolerantTimeCol)), inner = false),
      leftTime, valueCols, toleranceMicros, inner, forwardGap = false)
  }

  /** Forward as-of with tolerance: the earliest at-or-after match, but
    * only within `toleranceMicros` AHEAD — "the next reading, unless
    * it's too far out to stand in for now". Same one-extra-column
    * mechanism as [[backwardTolerant]], over [[forward]]'s mirrored
    * axis.
    */
  def forwardTolerant(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      toleranceMicros: Long,
      inner: Boolean = false): DataFrame = {
    require(toleranceMicros >= 0,
      s"tolerance must be >= 0 micros, got $toleranceMicros")
    require(!left.columns.contains(TolerantTimeCol),
      s"left side may not contain the reserved column $TolerantTimeCol")
    tolerantGate(
      forward(left, right, leftTime, rightTime, by,
        valueCols :+ ((rightTime, TolerantTimeCol)), inner = false),
      leftTime, valueCols, toleranceMicros, inner, forwardGap = true)
  }

  private val TolerantTimeCol = "__asof_matched_time"

  private def tolerantGate(out: DataFrame, leftTime: String,
      valueCols: Seq[(String, String)], toleranceMicros: Long,
      inner: Boolean, forwardGap: Boolean): DataFrame = {
    def micros(c: String): Column = out.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c).cast(LongType)
    }
    val gap =
      if (forwardGap) micros(TolerantTimeCol) - micros(leftTime)
      else micros(leftTime) - micros(TolerantTimeCol)
    val ok = col(TolerantTimeCol).isNotNull && gap <= toleranceMicros
    val gated = valueCols.foldLeft(out) { case (d, (_, alias)) =>
      d.withColumn(alias, when(ok, col(alias)))
    }
    (if (inner) gated.where(ok) else gated).drop(TolerantTimeCol)
  }

  def merge(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast}
    import org.apache.spark.sql.types.TimestampType

    // Keyless: the exec's AllTuples distribution would plan ONE partition;
    // the time-bucketed composition spreads the same semantics over
    // numBuckets partitions — always the better physical shape.
    if (by.isEmpty)
      return backward(left, right, leftTime, rightTime, Nil, valueCols, inner)

    val spark = left.sparkSession
    graft.plans.AsOfStrategy.setup(spark)

    val lPlan = GraftSqlShim.analyzed(left)
    val rPlan0 = GraftSqlShim.analyzed(right)
    // Self-join attribute dedup (what Catalyst's analyzer does for Join
    // nodes, which this custom node bypasses): shared attribute ids
    // between the sides would make the node's right-side expressions
    // resolve against the LEFT child at binding — re-alias the right
    // plan with fresh ids whenever the outputs overlap.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    val resolver = spark.sessionState.analyzer.resolver
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String): Attribute =
      plan.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // A LongType time column passes through raw: it is a pre-computed
    // ordering column (the forward path feeds NEGATED epoch micros, and
    // casting a long re-interprets it as seconds — overflow). The exec
    // reads both TimestampType and LongType via getLong, so ordering
    // semantics are identical.
    def timeExpr(a: Attribute): org.apache.spark.sql.catalyst.expressions.Expression =
      a.dataType match {
        case org.apache.spark.sql.types.LongType => a
        case _ => Cast(a, TimestampType, zone)
      }
    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      leftKeys = by.map(b => attr(lPlan, b._1)),
      rightKeys = by.map(b => attr(rPlan, b._2)),
      leftTime = timeExpr(attr(lPlan, leftTime)),
      rightTime = timeExpr(attr(rPlan, rightTime)),
      valueExprs = valueCols.map { case (in, _) => attr(rPlan, in) },
      valueAttrs = valueCols.map { case (in, out) =>
        AttributeReference(out, attr(rPlan, in).dataType)() },
      inner = inner)
    GraftSqlShim.ofRows(spark, node)
  }

  /** SALTED merge as-of for hot keys whose right-side history is too
    * big to broadcast: the left side salts by `hash(leftTime)` into
    * `salt` buckets (deterministic, time-uniform), the right side
    * replicates each row into EVERY bucket, and the merge exec joins on
    * (keys, salt) — per-row semantics identical to [[merge]] (each left
    * row still sees its key's full history), while the hot key's
    * reducer shrinks ×`salt`. Cost: right-side shuffle volume ×`salt` —
    * use for genuinely skewed keys, not as the default.
    */
  def mergeSalted(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false,
      salt: Int = 16): DataFrame = {
    require(salt >= 2, "salting needs at least 2 buckets")
    val l = left.withColumn("__asof_salt",
      coalesce(pmod(hash(col(leftTime)), lit(salt)), lit(0)))
    val r = right.withColumn("__asof_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    merge(l, r, leftTime, rightTime,
      by :+ ("__asof_salt" -> "__asof_salt"), valueCols, inner)
      .drop("__asof_salt")
  }

  /** Strategy-selecting as-of, mirroring Catalyst's own join planning:
    * broadcast when the right side's size estimate fits the threshold
    * (Spark's autoBroadcastJoinThreshold semantics, 10 MB default);
    * otherwise the dedicated sort-merge operator when equi keys exist
    * (one exchange + sort per side, [[merge]]); otherwise — keyless big
    * right — the time-bucketed composition ([[backward]]), which spreads
    * a keyless as-of over numBuckets partitions instead of one.
    *
    * Null equi keys: the three strategies natively disagree
    * (broadcastBackward's using-join is null-rejecting; merge/backward
    * group null keys together, the pandas behavior) — a size-estimate
    * threshold must NEVER flip row-level semantics, so auto() pins SQL
    * null-rejecting semantics by filtering null-keyed RIGHT rows up
    * front (map-side, free): null-keyed left rows are then unmatched
    * under every strategy (kept with nulls, or dropped when `inner`).
    * Call [[backward]]/[[merge]] directly for pandas null-matching.
    */
  /** @param skewSampleFraction when > 0 (and exactly one equi key, big
    *   right side), sample the left side at this fraction to detect HOT
    *   keys (≥ `hotKeyFraction` of sampled rows). Hot keys would
    *   otherwise land on ONE reducer of the merge exec's hash exchange
    *   (a 50% key ⇒ one task does half the join); detected hot keys
    *   are re-routed through the map-side broadcast strategy — their
    *   right-side rows collapse to per-key sorted arrays and every left
    *   partition probes them in place, so the hot key's work spreads
    *   over ALL left partitions — and the two branches union. Off (0.0)
    *   by default: detection costs one sampling job per call.
    * @param hotKeyFraction sampled-share threshold above which a key
    *   counts as hot.
    * @param hotBroadcastMaxRows right-side row cap for the hot-key
    *   broadcast re-route; above it the hot keys use [[mergeSalted]]
    *   instead (a falsely-hot key with deep history must never OOM the
    *   driver).
    */
  def auto(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false,
      numBuckets: Int = 64,
      broadcastThreshold: Long = 10L << 20,
      bucketWidthMicros: Long = 0L,
      skewSampleFraction: Double = 0.0,
      hotKeyFraction: Double = 0.2,
      hotBroadcastMaxRows: Long = 1000000L): DataFrame = {
    val r = by.foldLeft(right) { case (d, (_, rk)) => d.where(col(rk).isNotNull) }
    val rightSize = r.queryExecution.optimizedPlan.stats.sizeInBytes
    if (rightSize <= broadcastThreshold)
      broadcastBackward(left, r, leftTime, rightTime, by, valueCols, inner)
    else if (by.nonEmpty) {
      // scale-safe probe: the hot-key threshold is applied below the
      // collect and results cache per left-plan snapshot ([[SkewProbe]])
      val hot: Seq[Any] =
        if (by.length != 1) Nil
        else SkewProbe.hotKeys(left, by.head._1, skewSampleFraction,
          hotKeyFraction)
      if (hot.isEmpty) merge(left, r, leftTime, rightTime, by, valueCols, inner)
      else {
        val (lk, rk) = by.head
        // hot keys take a skew-immune path; the long tail keeps the
        // one-exchange merge. Branch predicates are map-side filters on
        // both sides — no extra shuffle. null-keyed left rows stay on
        // the cold branch (unmatched-but-kept outer semantics): a bare
        // !isin would three-value them out of BOTH branches.
        val cold = merge(left.where(col(lk).isNull || !col(lk).isin(hot: _*)),
          r.where(!col(rk).isin(hot: _*)),
          leftTime, rightTime, by, valueCols, inner)
        // which skew-immune path depends on the hot keys' RIGHT
        // history: small enough → the map-side broadcast strategy
        // (zero extra shuffle volume); too deep to broadcast safely (a
        // falsely-hot key must never OOM the driver) → the salted
        // merge (right volume ×salt, hot reducer ÷salt)
        val hotLeft = left.where(col(lk).isin(hot: _*))
        val hotRight = r.where(col(rk).isin(hot: _*))
        val hotPart =
          if (hotRight.count() <= hotBroadcastMaxRows)
            broadcastBackward(hotLeft, hotRight,
              leftTime, rightTime, by, valueCols, inner)
          else mergeSalted(hotLeft, hotRight,
            leftTime, rightTime, by, valueCols, inner)
        cold.unionByName(hotPart)
      }
    } else
      backward(left, r, leftTime, rightTime, by, valueCols, inner,
        numBuckets, bucketWidthMicros)
  }

  /** Broadcast backward as-of for a SMALL right side (the reference's
    * common shape: a compact load table joined to a wide fast feed). The
    * right side collapses to one sorted (time, values) array per equi key
    * and is broadcast; each left row picks the last element with
    * `t <= leftTime` map-side. ZERO shuffles on the left/fact side — at
    * 100 TB the fact table is read once and never moved.
    *
    * Same semantics as [[backward]] (backward-nearest, exact matches
    * allowed, unmatched → null / dropped when `inner`).
    */
  def broadcastBackward(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[(String, String)] = Nil,
      valueCols: Seq[(String, String)],
      inner: Boolean = false): DataFrame = {
    val keys = by.map(_._1)
    val outCols = left.columns.toSeq ++ valueCols.map(_._2)

    var r = right
    for ((lk, rk) <- by if lk != rk) r = r.withColumnRenamed(rk, lk)
    val valIn = valueCols.map(_._1)
    // sort_array on struct orders by the first field (__t) — per-key
    // time-sorted (time, values) arrays, one row per key. rawMicros:
    // LongType ordering columns pass raw, like every other strategy —
    // auto()'s size-based routing must never flip semantics.
    val grouped = r.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(
        struct((rawMicros(right, rightTime).as("__t") +: valIn.map(col)): _*)))
        .as("__arr"))

    // Keyless form joins on a constant dummy key (NOT crossJoin): when the
    // right side is empty, `grouped` has zero rows and a cross join would
    // drop every left row — the left join keeps them with null values,
    // matching backward()'s outer semantics.
    val joined =
      if (keys.nonEmpty) left.join(broadcast(grouped), keys, "left")
      else left.withColumn("__one", lit(1))
        .join(broadcast(grouped.withColumn("__one", lit(1))), Seq("__one"), "left")
        .drop("__one")
    val lt = rawMicros(left, leftTime)
    // last element with __t <= leftTime (null when none / null left time);
    // O(log n) binary search per left row (native expression)
    val pick = graft.functions.GraftFunctions.asofPick(col("__arr"), lt)
    val withVals = valueCols.foldLeft(joined.withColumn("__pick", pick)) {
      case (d, (in, out)) => d.withColumn(out, col("__pick").getField(in))
    }
    val res =
      if (inner) withVals.where(col("__pick").isNotNull) else withVals
    res.select(outCols.map(col): _*)
  }
}
