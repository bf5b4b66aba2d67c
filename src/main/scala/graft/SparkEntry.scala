package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One `queries` entry per implemented operator from SURVEY.md §2 (plus the
  * LLM-pipeline extensions), each with a DuckDB oracle in [[oracleSql]]
  * where SQL-expressible. Column names are aligned between both sides; every
  * query ends in a deterministic total ORDER BY (all output columns or a
  * unique key) so results are hash-comparable.
  *
  * Double-typed aggregates go through [[Analytics.stableSum]] (exact decimal
  * accumulation) so results are order-independent — plain double sums differ
  * between engines in the last ulp.
  */
object SparkEntry {

  /** Table reader. `events.ts` is parquet TIMESTAMP(NANOS), which Spark
    * reads only as a nanos-epoch long (`spark.sql.legacy.parquet.nanosAsLong`);
    * convert to TimestampType (micros, floor) at the boundary so every
    * downstream operator sees a timestamp. Sub-microsecond truncation can
    * never flip a comparison/bucket against the reference data's
    * millisecond-or-coarser boundaries.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.LakeReader.table(s, dir, name)

  import Analytics.{stableAvg, stableSum}

  /** Round-6 with signed-zero canonicalization: a tiny negative that
    * rounds to zero yields `-0.0` in one engine and `0.0` in the other
    * (numerically equal, byte-different under the driver's hash).
    * `+ 0.0` maps `-0.0` to `+0.0` and is the identity on every other
    * double; the oracle SQL mirrors it (`round(x, 6) + 0.0`).
    */
  private def r6z(c: Column): Column = round(c, 6) + lit(0.0)

  /** The sim19 DCG discount table as a SQL VALUES body — the ONE
    * source of the quantized weights shared by the Spark plan and the
    * oracle (see [[graft.operators.Similarity.dcgWeights]]). */
  private lazy val ndcgWeightRows: String =
    graft.operators.Similarity.dcgWeights(10).zipWithIndex
      .map { case (w, i) => s"(${i + 1}, CAST($w AS DECIMAL(9,6)))" }
      .mkString(", ")

  /** The t33b public-suffix snapshot as a SQL IN-list body (same
    * shared-literal discipline as [[ndcgWeightRows]] — ONE source for
    * the Spark InSet and the oracle's IN). */
  private lazy val pslInList: String =
    graft.operators.TextAnalysis.PublicSuffixes2
      .map(s => s"'$s'").mkString(", ")

  /** The a46 Benford expectation table as a SQL VALUES body (same
    * shared-literal discipline as [[ndcgWeightRows]]). */
  private lazy val benfordRows: String =
    graft.operators.Analytics.benfordExpected.zipWithIndex
      .map { case (e, i) => s"(${i + 1}, CAST($e AS DECIMAL(9,6)))" }
      .mkString(", ")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    referenceOps ++ northStar

  private def referenceOps: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- flagship: TPC-H Q1-shaped pricing summary (A1+A4-family agg) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          stableSum(col("l_quantity")).as("sum_qty"),
          stableSum(col("l_extendedprice")).as("sum_base_price"),
          stableAvg(col("l_quantity")).as("avg_qty"),
          stableAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- Q3: selective multi-join (dim broadcast + pushdown showcase) ----
    // customer (filtered dim, broadcast) ⋈ orders (date-pruned) ⋈
    // lineitem (date-pruned): both filters reach the parquet scans,
    // the dim join never shuffles the fact side, and revenue uses the
    // decimal-stabilized sum for oracle-exact doubles.
    "q3_shipping" -> ((s, dir) => {
      val cutoff = lit("1997-06-01").cast("timestamp")
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t(s, dir, "orders").where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = t(s, dir, "lineitem").where(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(stableSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(desc("revenue"), col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // ---- Q5 analog: 6-way cyclic join (region-gated nation revenue) ----
    // The TPC-H join-order stress: lineitem joins orders AND supplier,
    // with the c_nationkey = s_nationkey edge closing the cycle. The
    // tiny region→nation chain broadcasts; the fact-side joins shuffle
    // on their keys and AQE picks build sides — no hint beyond the dim
    // broadcast, the optimizer owns the order.
    // ---- Q4 analog: order-priority census over an EXISTS semi-join
    // (returned-item correlation stands in for commit<receipt, which
    // the synthetic lineitem lacks). Date window pushed to the orders
    // scan; the semi join never widens rows.
    "q4_priority_exists" -> ((s, dir) => {
      val lo = lit("1996-07-01").cast(TimestampType)
      val hi = lit("1997-01-01").cast(TimestampType)
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      val returned = t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R").select("l_orderkey")
      ord.join(returned, col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- Q6 analog: single-scan selective filter + agg — the
    // pushdown showcase (every predicate reaches the parquet scan,
    // zero joins, one exact-decimal global sum).
    "q6_discount_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1997-01-01").cast(TimestampType)
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(stableSum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue"))
    }),

    // ---- Q14 analog: conditional-revenue share (CASE inside an
    // exact-decimal aggregate; broadcastable part dim; one month of
    // lineitem via pushed shipdate bounds).
    "q14_type_share" -> ((s, dir) => {
      val lo = lit("1996-03-01").cast(TimestampType)
      val hi = lit("1996-04-01").cast(TimestampType)
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_partkey", "l_extendedprice", "l_discount")
      val part = t(s, dir, "part").select("p_partkey", "p_type")
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 4))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "ECONOMY", rev).otherwise(zero))
            .cast(DoubleType) /
          sum(rev).cast(DoubleType)).as("economy_share"))
    }),

    // ---- Q12 analog: conditional counting across a fact-fact join
    // (late shipments by return flag, priority split via CASE inside
    // exact integer counts). Timestamp arithmetic pushes to the join
    // filter; group-by stays 3 keys wide.
    "q12_late_lines" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_shipdate")
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // ---- Q17 analog: correlated per-part average threshold
    // (small-quantity orders revenue). The correlated subquery
    // relationalizes to one partkey-grouped aggregate joined back to
    // the fact — quantities are integers so the 0.5·avg threshold is
    // exact in any engine.
    "q17_small_qty" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val thresh = li.groupBy(col("l_partkey").as("pa_partkey"))
        .agg((lit(0.5) * (sum(col("l_quantity")) / count(lit(1))))
          .as("pa_thresh"))
      val pt = t(s, dir, "part")
        .where(col("p_brand") === "Brand#13" && col("p_size") < 15)
        .select("p_partkey")
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(thresh, col("l_partkey") === col("pa_partkey"))
        .where(col("l_quantity") < col("pa_thresh"))
        .agg(r6z(stableSum(col("l_extendedprice"), 2) / lit(7.0))
          .as("avg_yearly"))
    }),

    // ---- Q2 analog: correlated MIN subquery — for each size-15 part,
    // the European supplier(s) whose lineitem price achieves the part's
    // minimum. Relationalized to a per-part min aggregate joined back
    // (the q17 discipline); exact decimal prices so the equality join
    // is engine-portable.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val eur = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val esup = t(s, dir, "supplier")
        .join(broadcast(eur), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast(DecimalType(18, 2)).as("bal"),
          col("n_name"))
      val pt = t(s, dir, "part").where(col("p_size") === 15)
        .select("p_partkey", "p_name")
      val offers = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("cost"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(esup, col("l_suppkey") === col("s_suppkey"))
      val mc = offers.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost")).as("min_cost"))
      offers.join(mc, col("p_partkey") === col("mk") &&
          col("cost") === col("min_cost"))
        .select(col("bal").cast(DoubleType).as("s_acctbal"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
          col("min_cost").cast(DoubleType).as("min_cost"))
        .distinct()
        .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
          col("p_partkey"))
    }),

    // ---- Q9 analog: profit by supplier nation and order year over a
    // part-name filter. Profit = 2·revenue − retail·qty, ALL decimal
    // (the ×2 avoids a 0.5 literal that would demote to double) —
    // exact until the final cast.
    "q9_profit" -> ((s, dir) => {
      val pt = t(s, dir, "part").where(col("p_name").contains("r"))
        .select("p_partkey", "p_retailprice")
      val amount = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4)) * lit(2) -
        col("p_retailprice").cast(DecimalType(18, 2)) *
        col("l_quantity").cast(DecimalType(18, 2))
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast(DoubleType).as("profit"))
        .orderBy(col("n_name"), desc("o_year"))
    }),

    // ---- Q11 analog: group HAVING against a global scalar — supplier
    // line values above 1.05× the mean share. The scalar is a 1-row
    // broadcast; the threshold test is integer-scaled decimal
    // (val·n·20 > t·21), scale-free and exact.
    "q11_important_values" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .as("val"))
      val tot = v.agg(sum(col("val")).as("t"), count(lit(1)).as("n"))
      v.crossJoin(broadcast(tot))
        .where(col("val") * col("n") * 20 > col("t") * 21)
        .select(col("l_suppkey"), col("val").cast(DoubleType).as("value"))
        .orderBy(desc("value"), col("l_suppkey"))
    }),

    // ---- Q15 analog: top supplier(s) by quarterly revenue — the view
    // + scalar-max shape as a rank-1 window over the SUPPLIER-sized
    // revenue frame (single task, dimension-bounded; ties all kept).
    "q15_top_supplier" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1996-04-01").cast(TimestampType)
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("r"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(desc("r"))
      rev.withColumn("k", rank().over(w)).where(col("k") === 1)
        .join(t(s, dir, "supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("r").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- Q16 analog: distinct supplier counts per part attribute,
    // excluding flagged suppliers — NOT IN as a broadcast left-anti
    // (keys are non-null, so the semantics coincide).
    "q16_supplier_parts" -> ((s, dir) => {
      val excl = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("x"))
      val pt = t(s, dir, "part")
        .where(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(excl), col("l_suppkey") === col("x"), "left_anti")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // ---- Q20 analog: nested IN chain — suppliers that shipped > 80
    // units of any 'small%' part, as HAVING aggregate → distinct →
    // left-semi (no per-row subqueries anywhere).
    "q20_volume_suppliers" -> ((s, dir) => {
      val pk = t(s, dir, "part").where(col("p_name").startsWith("small"))
        .select("p_partkey")
      val heavy = t(s, dir, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("q"))
        .where(col("q") > 80)
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name")).distinct()
        .orderBy("s_name")
    }),

    // ---- Q18 analog: HAVING semi-join — orders whose line quantity
    // total crosses a threshold, joined back to customer. The big-CTE
    // aggregate partial-aggregates map-side; the top-20 output orders
    // by (totalprice DESC, orderkey) deterministically.
    "q18_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .where(col("total_qty") > 150.0)
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(20)
    }),

    // ---- Q19 analog: disjunctive join predicate (OR-of-ANDs over
    // brand/size/quantity) — the predicate stays on the join output
    // but each disjunct's part-side half is pushable; revenue sums
    // exactly as decimals.
    "q19_disjunct_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val pt = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      def arm(brand: String, szLo: Int, szHi: Int, qLo: Double,
          qHi: Double) =
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .where(arm("Brand#1", 1, 10, 5, 20) ||
          arm("Brand#7", 5, 20, 10, 30) ||
          arm("Brand#13", 10, 40, 1, 15))
        .agg(stableSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          4).as("revenue"))
    }),

    // ---- Q21 analog: EXISTS + NOT EXISTS self-joins — suppliers who
    // shipped the LAST line of a multi-supplier finished order
    // (receiptdate-free adaptation of "kept the order waiting").
    // Relationalizes to a semi-join plus an anti-join against the
    // same fact, both keyed on the order.
    "q21_blocking_supplier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val l1 = li
      val ordF = t(s, dir, "orders")
        .where(col("o_orderstatus") === "F").select("o_orderkey")
      val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
      val l3 = li.select(col("l_orderkey").as("l3_orderkey"),
        col("l_suppkey").as("l3_suppkey"),
        col("l_shipdate").as("l3_shipdate"))
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
      l1.join(ordF, col("l_orderkey") === col("o_orderkey"))
        .join(l2, col("l2_orderkey") === col("l_orderkey") &&
          col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_orderkey") === col("l_orderkey") &&
          col("l3_suppkey") =!= col("l_suppkey") &&
          col("l3_shipdate") > col("l_shipdate"), "left_anti")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    }),

    // ---- Q22 analog: scalar-average subquery + anti join — customers
    // with above-average balance and no orders since 2000 ("idle
    // capital" census by custkey bucket). The average is an exact
    // decimal sum over a count; the anti join prunes with the pushed
    // date filter.
    "q22_idle_customers" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      val ab = cust.where(col("c_acctbal") > 0.0)
        .agg(stableAvg(col("c_acctbal"), 2)).head.getDouble(0)
      val recent = t(s, dir, "orders")
        .where(col("o_orderdate") >=
          lit("2000-01-01").cast(TimestampType))
        .select("o_custkey")
      cust.where(col("c_acctbal") > lit(ab))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_custkey") % 7).as("bucket"))
        .agg(count(lit(1)).as("numcust"),
          stableSum(col("c_acctbal"), 2).as("totacctbal"))
        .orderBy("bucket")
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1997-01-01").cast(TimestampType)
      val nat = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(stableSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          4).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // ---- Q7 analog: bidirectional cross-bloc trade volume ----
    // The nation SELF-join with a disjunctive pair predicate
    // ((A-bloc -> B-bloc) OR (B-bloc -> A-bloc)) and a year bucket —
    // the shape that punishes optimizers that can't push a disjunction
    // across a self-joined dim. Blocs (nationkey < 12 vs >= 12) rather
    // than a single nation pair so the query has rows at every SF (10
    // suppliers at sf0.001 leave most single pairs empty).
    "q7_nation_volume" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1998-01-01").cast(TimestampType)
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"),
          col("n_name").as("supp_nation"),
          (col("n_nationkey") < 12).as("s_west"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"),
          col("n_name").as("cust_nation"),
          (col("n_nationkey") < 12).as("c_west"))
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .where((col("s_west") && !col("c_west")) ||
          (!col("s_west") && col("c_west")))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(stableSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          4).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // ---- Q8 analog: market share (conditional agg over an 8-way join) ----
    // NATION_3 suppliers' share of PROMO-part revenue sold to ASIA
    // customers, per order year — CASE-gated numerator over the same
    // aggregate rows, both sums exact-decimal then one double division.
    "q8_market_share" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1998-01-01").cast(TimestampType)
      val part = t(s, dir, "part").where(col("p_type") === "PROMO")
        .select("p_partkey")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val supNat = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      val custNat = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(supNat), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((stableSum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0.0)), 4) /
          stableSum(vol, 4)).as("mkt_share"))
        .orderBy("o_year")
    }),

    // ---- Q10 analog: returned-item revenue top customers ----
    "q10_returned_revenue" -> ((s, dir) => {
      val lo = lit("1996-07-01").cast(TimestampType)
      val hi = lit("1996-10-01").cast(TimestampType)
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(stableSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          4).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),

    // ---- Q13 analog: orders-per-customer distribution (left outer) ----
    // Customers with zero qualifying orders must appear in the c_count=0
    // bucket — the left-outer + count(non-null) shape.
    "q13_order_distribution" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // ---- S1: scan with filter pushdown + column pruning ----
    "s1_scan_prune" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast(TimestampType))
        .select(col("l_orderkey"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_extendedprice")
    }),

    // ---- SET1/S2: union of same-schema inputs ----
    "set1_union" -> ((s, dir) => {
      val r = t(s, dir, "region").select(col("r_name").as("name"))
      val n = t(s, dir, "nation").select(col("n_name").as("name"))
      graft.sources.LakeReader.unionByName(Seq(r, n)).orderBy("name")
    }),

    // ---- analytics: SCD type 2 dimension build from a change log ----
    // Consecutive unchanged attributes collapse; each surviving version
    // gets [effective_from, effective_to) validity and is_current. Two
    // O(1)-state window passes over one per-key shuffle.
    "a23_scd2" -> ((s, dir) =>
      Analytics.scd2(
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id")),
        Seq("user_id"), "ts", Seq("event_type"), Seq("ts", "event_id"))
        // effective_to completes the sort: an A->B->A flip inside one
        // timestamp yields two (user, from, type) ties whose remaining
        // columns are determined by effective_to — rows agreeing on all
        // four are bit-identical, so the order is total up to duplicates
        .orderBy(col("user_id"), col("effective_from"), col("event_type"),
          col("effective_to").asc_nulls_last)),

    // ---- formats: JSON-lines round-trip (value-lossless interchange) ----
    // events (timestamps at micros precision, doubles, embedded-JSON
    // strings) goes out as JSON-lines and comes back through the schema'd
    // reader BYTE-IDENTICAL — the oracle never sees the JSON, so equality
    // proves the sink/source pair loses nothing (the micros
    // timestampFormat is what the default would have truncated).
    "fmt1_json_roundtrip" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_fmt1").toString + "/j"
      graft.sources.LakeWriter.jsonOverwrite(ev, tdir)
      graft.sources.LakeReader.jsonFolder(s, tdir, ev.schema)
        .orderBy("event_id")
    }),

    // ---- formats: ORC round-trip (Hive-ecosystem columnar interop) ----
    "fmt2_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_fmt2").toString + "/o"
      graft.sources.LakeWriter.orcOverwrite(docs, tdir)
      graft.sources.LakeReader.orcFolder(s, tdir).orderBy("doc_id")
    }),

    // ---- formats: CSV round-trip (the S6 sink under the oracle) ----
    // orders (longs, doubles, date-granular timestamps, strings) goes
    // out through the header'd CSV sink and back through the schema'd
    // folder reader; the oracle reads only the parquet source. The CSV
    // pair is lossless at the sink's documented milli-second timestamp
    // granularity (micros interchange is fmt1's JSON pair — see
    // LakeWriter.csvOverwrite).
    "fmt3_csv_roundtrip" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_fmt3").toString + "/c"
      graft.sources.LakeWriter.csvOverwrite(o, tdir)
      graft.sources.LakeReader.csvFolder(s, tdir, o.schema)
        .orderBy("o_orderkey")
    }),

    // ---- P1: rename-all-columns snake_case normalization ----
    "p1_rename" -> ((s, dir) => {
      val spaced = t(s, dir, "events")
        .select(col("event_type").as("Event Type"), col("value").as("The Value"))
      Normalize.renameAll(spaced).orderBy("event_type", "the_value")
    }),

    // ---- P2: typed projection with cast+alias ----
    "p2_typed_projection" -> ((s, dir) => {
      Normalize.typedProjection(t(s, dir, "lineitem"), Seq(
        ("l_orderkey", "l_orderkey", LongType),
        ("l_linenumber", "l_linenumber", IntegerType),
        ("l_quantity", "qty_f", FloatType),
        ("l_shipdate", "ship_day", DateType)))
        .orderBy("l_orderkey", "l_linenumber", "qty_f", "ship_day")
    }),

    // ---- P3: cast-then-drop-null (unparseable rows vanish) ----
    "p3_cast_drop" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val raw = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("v"))
        .unionAll(li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(StringType).as("v")))
      Normalize.dropNullRows(
        raw.withColumn("v", expr("try_cast(v AS DOUBLE)")))
        .orderBy("l_orderkey", "l_linenumber", "v")
    }),

    // ---- P4: dedup / distinct ----
    "p4_dedup" -> ((s, dir) => {
      Normalize.dedup(t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // ---- P5/A3: one-row per-column null census ----
    "p5_null_census" -> ((s, dir) =>
      Normalize.nullCensus(t(s, dir, "events"))),

    // ---- A1: global count ----
    "a1_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // ---- A2: group-by count ----
    "a2_group_count" -> ((s, dir) =>
      Analytics.groupCount(t(s, dir, "customer"), "c_mktsegment")),

    // ---- A4: monthly average ----
    "a4_monthly_avg" -> ((s, dir) =>
      Analytics.monthlyAvg(t(s, dir, "orders"), "o_orderdate", "o_totalprice")),

    // ---- A5: hour-of-day average ----
    "a5_hourly_avg" -> ((s, dir) =>
      Analytics.hourlyAvg(t(s, dir, "events"), "ts", "value")),

    // ---- A6: percentage-of-total distribution ----
    "a6_pct_distribution" -> ((s, dir) =>
      Analytics.percentageDistribution(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- A7: multi-key grouped average, ordered by aggregate desc ----
    "a7_multikey_avg" -> ((s, dir) =>
      Analytics.multiKeyAvg(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority"), "o_totalprice")),

    // ---- O1: total sort ----
    "o1_sort" -> ((s, dir) => {
      t(s, dir, "orders").orderBy(col("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- O3+O4: top-k (order by measure desc, limit) ----
    "o2_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)
    }),

    // ---- O5: global row numbering without the one-task window ----
    // row_number() OVER (ORDER BY …) with no PARTITION BY funnels the
    // whole frame through ONE task — the canonical scale cliff. The
    // operator range-partitions, sorts each run, and zipWithIndex
    // stitches prefix offsets over the ONE shuffled RDD (both passes
    // see the same boundaries — the correctness anchor). o_orderkey is
    // unique, so the numbering is a deterministic total order the
    // oracle re-derives.
    "o5_global_rownum" -> ((s, dir) =>
      Analytics.globalRowNumber(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        sortCols = Seq("o_orderkey"))
        .orderBy("o_orderkey")),

    // ---- J1: equi + point-in-interval join ----
    "j1_interval" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      IntervalJoin.pointInInterval(
        li, o,
        li("l_shipdate"), o("o_orderdate"),
        o("o_orderdate") + expr("INTERVAL 30 DAYS"),
        Seq((li("l_orderkey"), o("o_orderkey"))))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
    }),

    // ---- J1b: interval ANTI join (coverage gaps) ----
    // Lineitems shipped OUTSIDE their order's 30-day window — the same
    // equi+BETWEEN condition as j1 under left_anti semantics (hash
    // anti-join on the equi key; the BETWEEN rides as a residual).
    // The audit query of interval joins: what did the join MISS?
    "j16_interval_anti" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      IntervalJoin.pointInInterval(
        li, o,
        li("l_shipdate"), o("o_orderdate"),
        o("o_orderdate") + expr("INTERVAL 30 DAYS"),
        Seq((li("l_orderkey"), o("o_orderkey"))),
        joinType = "left_anti")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber", "l_shipdate")
    }),

    // ---- J17: point-in-time join against an SCD2 dimension — the
    // canonical lakehouse dimension lookup ("what was the user's state
    // half an hour after each event?"). The SCD2 versions tile each
    // key's timeline half-open [from, to), so PIT == backward as-of on
    // effective_from once empty flip versions (from == to, the a23
    // same-timestamp case) are dropped: from is then strictly
    // increasing per key and the as-of match is unique — one
    // distributed as-of instead of an interval join. Probes shifted
    // +30min make the mapping non-trivial (half land in LATER
    // versions than their own).
    "j17_scd2_pit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
      val dim = Analytics.scd2(ev, Seq("user_id"), "ts",
        Seq("event_type"), Seq("ts", "event_id"))
        .where(col("effective_to").isNull ||
          col("effective_to") > col("effective_from"))
      val probes = ev.where(col("event_id") % 10 === 7)
        .select(col("event_id"), col("user_id"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("pts"))
      AsOfJoin.auto(probes, dim,
        leftTime = "pts", rightTime = "effective_from",
        by = Seq(("user_id", "user_id")),
        valueCols = Seq(("event_type", "attr_at_ts"),
          ("effective_from", "effective_from")),
        inner = true)
        .select(col("event_id"), col("user_id"), col("pts"),
          col("attr_at_ts"), col("effective_from"))
        .orderBy("event_id")
    }),

    // ---- J18: hierarchical as-of with a global fallback — "use the
    // key's own calibration series when it has one, else the
    // fleet-wide series". Per-key as-of (inner) takes every probe it
    // can; an anti-join routes the remainder (keys without a series,
    // or probes before their series starts) through the keyless
    // global as-of; the source column says which path answered.
    "j18_asof_fallback" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
      val perUser = o.where(col("o_custkey") % 3 === 0)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      val global = o.groupBy(col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      val matched = AsOfJoin.auto(ev, perUser,
        leftTime = "ts", rightTime = "o_orderdate",
        by = Seq(("user_id", "o_custkey")),
        valueCols = Seq(("best_price", "asof_price")), inner = true)
        .withColumn("source", lit("user"))
      val rest = ev.join(matched.select("event_id"),
        Seq("event_id"), "left_anti")
      val fell = AsOfJoin.backward(rest, global,
        leftTime = "ts", rightTime = "o_orderdate", by = Nil,
        valueCols = Seq(("best_price", "asof_price")), inner = true)
        .withColumn("source", lit("global"))
      matched.select("event_id", "user_id", "asof_price", "source")
        .unionByName(
          fell.select("event_id", "user_id", "asof_price", "source"))
        .orderBy("event_id")
    }),

    // ---- J2: distributed backward as-of join ----
    "j2_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // unique (key, time) right side => deterministic as-of
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      // auto() picks the best physical strategy: keyed + big right side
      // plans AsOfMergeJoinExec (one exchange + sort per side, streaming
      // merge) — the production default, not the showcase composition
      // (which remains covered by j3_asof_global)
      AsOfJoin.auto(ev, o,
        leftTime = "ts", rightTime = "o_orderdate",
        by = Seq(("user_id", "o_custkey")),
        valueCols = Seq(("best_price", "asof_price")),
        inner = true)
        .select(col("event_id"), col("user_id"), col("asof_price"))
        .orderBy("event_id")
    }),

    // ---- join: STREAM-STREAM as-of over a bounded feed ----
    // Both sides continuous (flatMapGroupsWithState argmax state, not a
    // built-in join shape); each left emits exactly once when the shared
    // watermark seals it, so over a sealed feed the answer IS the batch
    // j2 as-of — same DuckDB ASOF JOIN oracle. Markers on BOTH sides
    // push the watermark past all real event time.
    "j2s_asof_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("ts").isNotNull)
        .select(col("user_id").cast(LongType).as("user_id"), col("ts"),
          col("event_id").cast(LongType).cast(StringType).as("payload"))
      val quotes = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
        .select(col("o_custkey").cast(LongType).as("user_id"),
          col("o_orderdate").cast(TimestampType).as("ts"),
          col("best_price").cast(DoubleType).as("value"))
      val (root, lStream, rStream) =
        streamTwinPair(s, "j2s", ev, "ts", quotes, "ts")
      val out = graft.streaming.StreamAsOf.backward(s,
        lStream, "user_id", "ts", "payload",
        rStream, "user_id", "ts", "value", watermark = "1 hour")
      runStreamTwin(s, root, out.toDF()
        .select(col("key").as("user_id"), col("payload"),
          col("asof_value")))
        .where(col("asof_value").isNotNull) // inner: the j2 contract
        .select(col("payload").cast(LongType).as("event_id"),
          col("user_id"), col("asof_value").as("asof_price"))
        .orderBy("event_id")
    }),

    // ---- join: STREAM-STREAM point-in-interval over a bounded feed ----
    // The built-in watermarked stream-stream join shape (equi + closed
    // time range + maxDuration state bound); over a sealed feed the
    // inner answer IS batch j1 — same oracle. maxDuration 31d > the
    // 30-day intervals, so the state bound never cuts a real match.
    "j1s_interval_stream" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate").cast(TimestampType).as("p_ts"))
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        col("o_orderdate").cast(TimestampType).as("i_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .cast(TimestampType).as("i_end"))
      val (root, pStream, iStream) =
        streamTwinPair(s, "j1s", li, "p_ts", o, "i_end")
      val out = graft.streaming.StreamIntervalJoin.pointInInterval(
        pStream, "l_orderkey", "p_ts",
        iStream, "o_orderkey", "i_start", "i_end",
        watermark = "1 hour", maxDuration = "31 days",
        select = Seq(col("p.l_orderkey"), col("p.l_linenumber"),
          col("i.o_totalprice")))
      // memory sink (r16 A/B): j1s's INNER output is ~7k rows at
      // sf0.1 — the per-batch file-commit overhead outweighed the
      // driver append (5.3 vs 3.6 s full-run); the file sink is for
      // the outer twins' 600-743k-row outputs
      runStreamTwin(s, root, out, col("l_orderkey") >= 0)
        .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
    }),

    // ---- streaming: LEFT-OUTER stream-stream interval join — the
    // last untested StreamIntervalJoin branch. Same two rate-limited
    // feeds as j1s, joinType = left_outer: a point with no in-bound
    // interval is emitted ONCE, null-padded, when the interval-side
    // watermark proves none can still arrive (the far-future markers
    // advance it past all real event time, and the engine's no-data
    // flush batch fires the state-store timeouts). Sealed result
    // hash-matches the batch left-outer oracle. TPC-H ships lineitems
    // 1-121 days after the order, so ~3/4 of points genuinely fall
    // outside their order's 30-day interval — the null branch carries
    // real weight, not an empty edge. ----
    "j1so_interval_outer" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate").cast(TimestampType).as("p_ts"))
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        col("o_orderdate").cast(TimestampType).as("i_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .cast(TimestampType).as("i_end"))
      val (root, pStream, iStream) =
        streamTwinPair(s, "j1so", li, "p_ts", o, "i_end")
      val out = graft.streaming.StreamIntervalJoin.pointInInterval(
        pStream, "l_orderkey", "p_ts",
        iStream, "o_orderkey", "i_start", "i_end",
        watermark = "1 hour", maxDuration = "31 days",
        select = Seq(col("p.l_orderkey"), col("p.l_linenumber"),
          col("i.o_totalprice")),
        joinType = "left_outer")
      runStreamTwin(s, root, out, col("l_orderkey") >= 0,
        fileSink = true)
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          asc_nulls_first("o_totalprice"))
    }),

    // ---- streaming: FULL-OUTER stream-stream interval join — both
    // sides null-pad once their watermark proves no partner can still
    // arrive: unmatched points AND unmatched intervals surface, so the
    // sealed feed hash-matches the batch FULL JOIN (the last cell of
    // the stream join-type matrix). Both key columns ride the output;
    // the seal filter keys on coalesce(point key, interval key), which
    // drops each side's -1 markers but keeps real one-sided rows. ----
    "j1sf_interval_full" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate").cast(TimestampType).as("p_ts"))
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        col("o_orderdate").cast(TimestampType).as("i_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .cast(TimestampType).as("i_end"))
      val (root, pStream, iStream) =
        streamTwinPair(s, "j1sf", li, "p_ts", o, "i_end")
      val out = graft.streaming.StreamIntervalJoin.pointInInterval(
        pStream, "l_orderkey", "p_ts",
        iStream, "o_orderkey", "i_start", "i_end",
        watermark = "1 hour", maxDuration = "31 days",
        select = Seq(col("p.l_orderkey"), col("p.l_linenumber"),
          col("i.o_orderkey"), col("i.o_totalprice")),
        joinType = "full_outer")
      runStreamTwin(s, root, out,
        coalesce(col("l_orderkey"), col("o_orderkey")) >= 0,
        fileSink = true)
        .orderBy(asc_nulls_first("l_orderkey"),
          asc_nulls_first("l_linenumber"),
          asc_nulls_first("o_orderkey"),
          asc_nulls_first("o_totalprice"))
    }),

    // ---- join: FORWARD as-of (earliest right at-or-after each left;
    // merge_asof direction="forward") — backward's machinery on the
    // negated time axis, oracled against DuckDB ASOF JOIN with <= ----
    "j10_asof_forward" -> ((s, dir) => {
      // orders -> earliest event at-or-after the order date per customer
      // (events all postdate orders, so this direction actually matches)
      val ev = t(s, dir, "events")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("ev_value"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      AsOfJoin.forward(o, ev,
        leftTime = "o_orderdate", rightTime = "ts",
        by = Seq(("o_custkey", "user_id")),
        valueCols = Seq(("ev_value", "next_value")),
        inner = true)
        .select(col("o_orderkey"), col("o_custkey"), col("next_value"))
        .orderBy("o_orderkey")
    }),
  )

  /** Documents table augmented with a near-duplicate of every row (last
    * five tokens dropped, doc_id + 1000000) — a deterministic corpus with
    * known near-dup structure for the dedup operators, identical to the
    * oracle's construction.
    */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("lang"), col("source"))
    val toks = TextAnalysis.tokens(col("text"))
    val perturbed = d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(0)))).as("text"),
      col("lang"), col("source"))
    d.unionByName(perturbed)
  }

  /** LLM-training-data pipeline operators (north-star extensions):
    * text analysis, dedup (exact / n-gram Jaccard / MinHash / SimHash),
    * embedding similarity search, multimodal plumbing.
    */
  /** The ONE customer linkage-pair pipeline d11/d12/g3 share — blocks,
    * comparators, weights, and threshold pinned identical by
    * construction (their three oracles all re-derive THIS predicate).
    * Exhaustive-regime assumption: every (nation, segment) block stays
    * under linkagePairs' 2048 cap through ~sf1 (~1200 rows/block);
    * past that the operator falls back to sorted-neighborhood and the
    * exhaustive-join oracles stop matching — raise maxBlockSize in
    * step with any larger testdata.
    */
  private def customerLinkagePairs(s: SparkSession, dir: String): DataFrame =
    Dedup.linkagePairs(t(s, dir, "customer"), "c_custkey",
      blockCols = Seq("c_nationkey", "c_mktsegment"),
      sortKey = col("c_name"),
      fields = Seq(
        Dedup.LinkageField("c_name",
          // banded DP (threshold form): O(len*k) cells instead of
          // len^2, same predicate as plain levenshtein(a,b) <= 2
          (a, b) => levenshtein(a, b, 2) =!= -1, 4.0, -1.0),
        Dedup.LinkageField("c_acctbal",
          (a, b) => abs(a.cast(DecimalType(18, 2)) -
            b.cast(DecimalType(18, 2))) < 100, 2.5, -0.5)),
      threshold = 3.0)

  /** The g-family's edge list, derived ONCE per (application, sfDir)
    * into a versioned lake table and read back by every graph query —
    * the derive-once / analyze-many pattern a 100 TB user actually runs
    * (the linkage comparator sweep is the expensive half; the committed
    * edge table amortizes it across g3–g9 in the same JVM, so the
    * bench times graph ALGORITHMS, not seven re-derivations). Same
    * rows as `customerLinkagePairs(...).select(key, key2)` by
    * construction — the g* oracles re-derive the predicate unchanged.
    */
  private val linkageEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def linkageEdges(s: SparkSession, dir: String): DataFrame = {
    val tbl = linkageEdgeCache.computeIfAbsent(
      (s.sparkContext.applicationId, dir), _ => {
        val p = java.nio.file.Files
          .createTempDirectory("graft_linkage_edges").toString + "/pairs"
        graft.sources.VersionedTable.append(s,
          customerLinkagePairs(s, dir)
            .select(col("c_custkey"), col("c_custkey_2"))
            // one output file (guide §6): the surviving pairs are a few
            // thousand narrow rows, but the fanned-out verify stage
            // would otherwise write them as 32 tiny files that every
            // graph ITERATION then re-lists and re-opens (measured
            // +0.4 s on every g-family entry). The repartition is a
            // shuffle barrier, so the verify keeps its width.
            .repartition(1), p)
        p
      })
    graft.sources.VersionedTable.read(s, tbl)
  }

  /** Recursive delete of a lifecycle query's temp root — every
    * stream-twin/feed entry reclaims its shipped batches, checkpoints,
    * and lake tables before returning (the [[runStreamTwin]] contract:
    * bench reps must not leak disk for the JVM's lifetime). */
  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Write `df` as ONE parquet file `dir/name.parquet` with
    * modification time `mtime`: a file stream delivers files in mtime
    * order, so a fixture's batch order is its shipping order. The
    * temporary write directory is removed. */
  private def shipParquet(df: DataFrame, dir: String, name: String,
      mtime: Long): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tmp = s"${dir}_${name}_tmp"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = JPaths.get(dir, name + ".parquet")
    JFiles.createDirectories(dst.getParent)
    JFiles.move(part.toPath, dst)
    dst.toFile.setLastModified(mtime)
    rmTree(tmp)
  }

  /** The feed of the single-stream twins (ts1s/ts2s/ts3s/ts8s/ts17s/
    * a23s/w2s): the events table as `user_id`/`event_id` longs, `ts`
    * and `value` (the measure as a double unless the twin passes its
    * own), rows with a null key or event_id dropped, plus the twin's
    * own `keep` filter. It ships as ONE [[fileStream]] batch with a
    * far-future [[markerLike]] row riding in it: the watermark is
    * computed from a batch's max event time at batch END, so the one
    * file both delivers every real row (processed under the previous
    * watermark, nothing dropped) and advances the watermark past all
    * real event time; the engine's automatic no-data batch then fires
    * every event-time timeout and emits the sealed rows. Returns
    * (root, stream) for [[runStreamTwin]].
    */
  private def streamTwinSource(s: SparkSession, dir: String, tag: String,
      keep: Column = lit(true),
      value: Column = col("value").cast("double")): (String, DataFrame) = {
    val ev = t(s, dir, "events")
      .where(col("user_id").isNotNull && col("event_id").isNotNull && keep)
      .select(col("user_id").cast(LongType).as("user_id"),
        col("event_id").cast(LongType).as("event_id"),
        col("ts"), value.as("value"))
    val root = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val far = new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)
    (root, fileStream(s, root, "src",
      Seq(ev.unionByName(markerLike(ev, far)))))
  }

  /** The two feeds of the stream-stream twins (j2s/j1s/j1so/j1sf), the
    * two-sided [[streamTwinSource]]: each side ships as ONE
    * [[fileStream]] batch with a [[markerLike]] row riding in it, both
    * markers at one far-future time past the latest `leftTime`/`rightTime`
    * of either side, so the shared watermark seals every real row.
    * Returns (root, left stream, right stream) for [[runStreamTwin]].
    */
  private def streamTwinPair(s: SparkSession, tag: String,
      left: DataFrame, leftTime: String,
      right: DataFrame, rightTime: String): (String, DataFrame, DataFrame) = {
    val maxT = left.select(max(col(leftTime)).as("m")).unionAll(
      right.select(max(col(rightTime)).as("m"))).agg(max(col("m")))
      .head.getTimestamp(0)
    val far = new java.sql.Timestamp(maxT.getTime + 48L * 3600 * 1000)
    val root = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    def feed(sub: String, df: DataFrame) =
      fileStream(s, root, sub, Seq(df.unionByName(markerLike(df, far))))
    (root, feed("left", left), feed("right", right))
  }

  /** Run a streaming twin to completion and return its sealed rows: the
    * ones passing `seal`, which drops the −1 marker keys (the stream-
    * stream twins key on other columns than `user_id`). Per-invocation
    * state is RECLAIMED before returning: the sealed rows move to a
    * localCheckpoint, then the memory-sink view drops and the temp root
    * (shipped batches + stream checkpoint) deletes — without this,
    * every bench rep of every twin leaks a full events-table copy on
    * disk and a sealed result set in driver memory for the JVM's
    * lifetime.
    *
    * `fileSink = true` routes the output through a distributed parquet
    * FileStreamSink + read-back instead of the driver-side memory sink
    * (guide §5: the driver should do almost no data work) — for the
    * LARGE-output twins (the j1* trio emits 160k–743k rows at sf0.1).
    * r15 measured the file sink SLOWER across all 11 twins under the
    * 3-batch protocol (per-batch commit × batches × twins outweighed
    * the driver append); re-measured in r16 under the 2-batch protocol
    * scoped to the j1* trio it wins 18.0 → 14.4 s, while the
    * small-output twins keep the cheaper memory sink.
    */
  private def runStreamTwin(s: SparkSession, root: String,
      out: DataFrame, seal: Column = col("user_id") >= 0,
      fileSink: Boolean = false): DataFrame = {
    val qn = java.nio.file.Paths.get(root).getFileName.toString
    // pin the stateful-shuffle width for THIS query only (streaming
    // freezes it into the checkpoint at first batch; the sizing
    // rationale and the synchronous-clone proof live in StreamTune)
    val q = graft.streaming.StreamTune.pinnedStart(s,
      graft.streaming.StreamTune.dirParquetBytes(s, root)) {
      val w = out.writeStream.outputMode("append")
        .option("checkpointLocation", root + "/ckpt")
      (if (fileSink) w.format("parquet").option("path", root + "/out")
       else w.format("memory").queryName(qn)).start()
    }
    q.processAllAvailable()
    q.stop()
    // explicit schema: a zero-row stream leaves only the sink's log,
    // which would fail parquet schema inference
    val sealedRows = (if (fileSink) s.read.schema(out.schema)
        .parquet(root + "/out")
      else s.table(qn)).where(seal)
      .localCheckpoint(true)
    if (!fileSink) s.catalog.dropTempView(qn)
    rmTree(root)
    sealedRows
  }

  /** Ship each batch as ONE mtime-ordered parquet file under
    * `root/sub/` and open it as a maxFilesPerTrigger=1 file stream —
    * the one shipper of every stream twin (a STREAM-STREAM join feeds
    * two sides from one root, each side's batch i landing in
    * micro-batch i) and the feed of the foreachBatch appenders
    * (AnnFeed, SketchFeed).
    */
  private def fileStream(s: SparkSession, root: String, sub: String,
      batches: Seq[DataFrame]): DataFrame = {
    val src = root + "/" + sub
    batches.zipWithIndex.foreach { case (df, i) =>
      shipParquet(df, src, s"b$i", 1000000L * (i + 1))
    }
    s.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
  }

  /** One-row watermark-advancing marker with `df`'s exact schema:
    * EVERY timestamp column = the given far-future time, numeric
    * columns = −1, everything else null. Riding in a twin's data batch,
    * it pushes the watermark past all real event time, and the no-data
    * batch that follows flushes the state store's event-time timeouts.
    * A −1 value is neutral: the marker sits on its own −1 key, which
    * the seal filter drops.
    *
    * Null-timestamp hazard (cost a day of round 15): a marker row
    * carrying NULL in a timestamp column that the stream-stream join
    * CONDITION references (j1so's `i_end`) silently stalls Spark's
    * outer-join null emission — unmatched left rows evicted in the
    * same micro-batch as the null-ts marker never produce their
    * null-padded row. Inner joins don't care (markers match nothing by
    * key), so the bug only surfaces on the outer branch. Filling every
    * timestamp column keeps the condition three-valued-logic-free on
    * marker rows; marker keys are −1 so they still join nothing real
    * and the seal filter still drops them.
    */
  private def markerLike(df: DataFrame, ts: java.sql.Timestamp): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.TimestampType |
             _: org.apache.spark.sql.types.TimestampNTZType =>
          lit(ts).cast(f.dataType).as(f.name)
        case _: org.apache.spark.sql.types.NumericType =>
          lit(-1).cast(f.dataType).as(f.name)
        case _ => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.sparkSession.range(1).select(cols.toSeq: _*)
  }

  private def northStar: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text: token / subword counting (map-side profile) ----
    "t1_token_count" -> ((s, dir) => {
      val tc = col("text")
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(tc).as("n_tokens"),
        TextAnalysis.subwordCount(tc).as("n_subwords"))
        .orderBy("doc_id")
    }),

    // ---- text: composite quality score ----
    "t2_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // ---- text: heuristic language ID ----
    "t3_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_id"))
        .orderBy("doc_id")),

    // ---- text: normalized md5 fingerprint ----
    "t4_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ---- dedup: exact (keep-first survivor per identical text) ----
    "d1_exact_dedup" -> ((s, dir) => {
      val both = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(t(s, dir, "documents")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactSurvivors(both, col("text"), col("doc_id"))
        .orderBy("survivor_id")
    }),

    // ---- dedup: blocked token-3-gram Jaccard near-dup pairs ----
    // The PRODUCTION capped operator: exhaustive pairing inside
    // (lang, source) blocks up to maxBlockSize (every test-scale block
    // is far below the default 2048 cap, so the pair set — and the
    // oracle hash — equals the all-pairs form), sorted-neighborhood
    // fallback above it (O(B·k) candidates, never B²). Shingle arrays
    // join back by id only for verification.
    "d2_ngram_jaccard" -> ((s, dir) => {
      Dedup.blockedShinglePairs(docsWithNearDups(s, dir), "doc_id",
        "text", Seq("lang", "source"), threshold = 0.5)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- dedup: containment (overlap-coefficient) pairs ----
    // |A∩B| / min(|A|,|B|) over the same shingle sets — the subset /
    // quote detector: the truncated near-dups are token PREFIXES of
    // their originals, so their shingles are a strict subset and
    // containment is exactly 1.0 where Jaccard already dropped below
    // 1. Same capped candidate core as d2; fully oracled.
    "d10_containment" -> ((s, dir) => {
      Dedup.blockedContainmentPairs(docsWithNearDups(s, dir), "doc_id",
        "text", Seq("lang", "source"), threshold = 0.9)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- dedup: probabilistic record linkage (Fellegi–Sunter) ----
    // Candidate pairs blocked on (nation, segment); per-field
    // log-likelihood weights (exact binary fractions, so the double
    // score is order-exact): name levenshtein ≤ 2 → +4.0 / −1.0,
    // account balance within 100 (exact decimal diff) → +2.5 / −0.5.
    // Threshold 3.0 keeps exactly the name-agreeing pairs.
    "d11_linkage" -> ((s, dir) =>
      customerLinkagePairs(s, dir)
        .orderBy("c_custkey", "c_custkey_2")),

    // ---- dedup: entity resolution end-to-end (linkage → components
    // → golden record). d11's scored pairs feed connected components
    // (min-id entity labels, singletons kept); per entity the golden
    // record takes the member count and the best (max) balance —
    // deterministic survivorship, fully hash-oracled via the d5-style
    // recursive CTE over the SAME pair predicate.
    "d12_entities" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = linkageEdges(s, dir)
      Dedup.connectedComponents(cust.select(col("c_custkey")), pairs,
        "c_custkey", "c_custkey_2")
        .join(cust, "c_custkey")
        .groupBy(col("component").as("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          max(col("c_acctbal")).as("best_acctbal"))
        .orderBy("entity_id")
    }),

    // ---- graph: deterministic integer PageRank over the linkage
    // graph (centrality beside d5/d12's components): nano-rank units,
    // fixed 3 iterations, every update an integer multiply/floor-div/
    // sum — bit-identical across engines, fully hash-oracled.
    "g3_pagerank" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = linkageEdges(s, dir)
      Graph.pageRank(cust.select(col("c_custkey")), pairs,
        "c_custkey", "c_custkey_2", iterations = 3)
        .select(col("c_custkey"), col("rank").as("pr_nano"))
        .orderBy("c_custkey")
    }),

    // ---- graph: per-vertex triangle counts (clustering structure
    // of the linkage graph — tight duplicate cliques vs chainy
    // bridges). Degree-ordered compact-forward counting: oriented
    // wedge join + edge-existence join, O(sqrt m) out-degrees, pure
    // integer counts — fully hash-oracled (the oracle's id-ordered
    // u<v<w triples are the same triangle set).
    "g4_triangles" -> ((s, dir) =>
      Graph.triangleCounts(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2")
        .orderBy("c_custkey")),

    // ---- graph: local clustering coefficient — triangles over wedge
    // capacity, 2T/d(d-1). One exact integer division per vertex.
    "g5_clustering_coeff" -> ((s, dir) =>
      Graph.clusteringCoefficient(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2")
        .orderBy("c_custkey")),

    // ---- dedup: SemDeDup (embedding-space clustering dedup) ----
    // k-means cells bound the pairwise-cosine term to Σ|cell|²; groups
    // from connected components, min id survives. Cells come from
    // k-means => rows-only here; d9b is the exact-mode twin (nlist=1 ≡
    // all-pairs), fully oracled via the d5-style recursive CTE.
    // ---- similarity: domain-similarity map (corpus cartography) ----
    // One quantized-exact centroid per language over the doc-joined
    // embeddings, pairwise cosine between centroids — the input to a
    // data-mixing plan (which domains overlap in embedding space).
    "sim21_domain_map" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      Similarity.domainCentroidMap(
        d.join(e, col("doc_id") === col("vec_id")), "lang", "embedding",
        scale = 6)
        .orderBy("group_a", "group_b")
    }),

    "d9_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nlist = 8, iters = 2, maxCellSize = 256)
        .select(col("vec_id")).orderBy("vec_id")),

    "d9b_semantic_exact" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nlist = 1, iters = 1)
        .select(col("vec_id")).orderBy("vec_id")),

    // ---- dedup: global sorted-neighborhood pairs (merge/purge) ----
    // One corpus-wide order by the normalized-text prefix; each doc
    // pairs with its next 7 neighbors; 3-gram Jaccard >= 0.5 verifies.
    "d8_snm" -> ((s, dir) => {
      Dedup.sortedNeighborhoodPairs(docsWithNearDups(s, dir),
        "doc_id", "text",
        sortKey = substring(
          regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 30),
        window = 8, threshold = 0.5)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- dedup: STREAMING near-dup gate in its provably-exact regime.
    // threshold = 1.0 makes "near-dup" ⟺ identical distinct 3-shingle
    // SETS (Jaccard of equal sets is exactly 1.0, and identical
    // signatures collide in every LSH band, so proposal is guaranteed)
    // — SQL-re-derivable from the 3-gram strings alone. The corpus is
    // documents + an exact duplicate of each (doc_id + 1e6), streamed
    // as TWO ordered micro-batches (originals first) whose boundary
    // respects id order, so the online decision "smallest matching doc
    // among [accepted earlier-batch ∪ earlier-in-batch]" reduces to
    // min-earlier-id — the duplicates batch is deduped against the
    // PERSISTED index built by batch one, hash-provably. ----
    "nd1_stream_gate" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_nd1").toString
      val src = root + "/src"
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(size(TextAnalysis.tokens(col("text"))) >= 3)
      val dups = d.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      shipParquet(d, src, "b1", 1000000L)
      shipParquet(dups, src, "b2", 2000000L)
      val stream = s.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamTune.pinnedStart(s,
        graft.streaming.StreamTune.dirParquetBytes(s, src)) {
        graft.streaming.NearDupFeed.startGate(s, stream,
          root + "/idx", "doc_id", "text", threshold = 1.0,
          checkpoint = root + "/ckpt")
      }
      q.awaitTermination(300000)
      graft.streaming.NearDupFeed.readDecisions(s, root + "/idx")
        .orderBy("doc_id")
    }),

    // ---- dedup: LSH banding S-curve — the tuning table read BEFORE a
    // 100 TB minhashPairs run: candidate probability per Jaccard level
    // for the d3 configuration (16 bands × 8 rows). Closed form,
    // round-6 absorbs pow ulps.
    "d15_lsh_curve" -> ((s, dir) =>
      Dedup.lshTuningCurve(s, bands = 16, rows = 8).orderBy("s")),

    // ---- dedup: MinHash + LSH candidate pairs, Jaccard-verified ----
    "d3_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docsWithNearDups(s, dir), "doc_id", "text",
        n = 3, numHashes = 128, bands = 16, threshold = 0.5)
        .orderBy("doc_id", "doc_id_2")),

    // ---- dedup: MinHash signature similarity estimate (oracled) ----
    // Cross-engine verification of the MinHash SIGNATURE math itself:
    // md5-derived shingle hashes (DuckDB-reproducible) through the native
    // MinHashSig expression (splitmix64 coefficients, 64-bit wraparound
    // h·a+b, signed min) — the oracle re-derives all 16 signature
    // positions in DuckDB via HUGEINT modular arithmetic and compares the
    // per-doc fraction of positions where a doc and its perturbed twin
    // agree (the Jaccard estimator LSH banding thresholds on). d3 keeps
    // xxhash64 signatures for production; its BANDED candidate recall
    // stays spec-tested (planted near-dups, chain-cap behavior).
    "d3b_minhash_est" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val perturbed = concat_ws(" ",
        slice(toks, lit(1), greatest(size(toks) - 5, lit(0))))
      def sigOf(text: Column): Column = {
        val tk = TextAnalysis.tokens(text)
        val sh = array_distinct(transform(
          sequence(lit(0), greatest(size(tk) - 3, lit(0))),
          i => Dedup.md5Hash60(concat_ws(" ", slice(tk, i + 1, lit(3))))))
        graft.functions.GraftFunctions.minhashSig(sh, 16)
      }
      d.select(col("doc_id"),
        (size(filter(zip_with(sigOf(col("text")), sigOf(perturbed),
          (a, b) => a === b), x => x)).cast("double") / 16.0).as("est"))
        .orderBy("doc_id")
    }),

    // ---- dedup: SimHash near-dup pairs (hamming <= 3) ----
    "d4_simhash_pairs" -> ((s, dir) => {
      val both = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(t(s, dir, "documents")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.simhashPairs(both, "doc_id", "text", maxDist = 3)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- dedup: SimHash pairs, cross-engine-verifiable signature ----
    // Same pipeline as d4 but the per-token hash is md5-derived
    // ([[Dedup.md5Hash60]]) so the DuckDB oracle re-derives the EXACT
    // 60-bit signatures and hamming distances — turning the SimHash
    // operator from rows-only into a full hash-checked query. d4 keeps
    // the xxhash64 basis (codegen'd, ~3× cheaper per token) for
    // production.
    "d4b_simhash_md5" -> ((s, dir) => {
      val both = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(t(s, dir, "documents")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.simhashPairs(both, "doc_id", "text", maxDist = 3,
        tokenHash = Dedup.md5Hash60)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- similarity: brute-force cosine top-k (exact baseline) ----
    "sim1_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qv", 10)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: metadata-FILTERED exact kNN (hybrid search) —
    // the predicate rides the label equi-join, so only same-label
    // vectors ever score: the "top-k within this tenant/language"
    // retrieval shape every production vector store needs.
    "sim20_filtered_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Similarity.filteredBruteTopK(emb, "vec_id", "embedding", "label",
        q, "qid", "qv", "qlabel", 10)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: 1-bit (sign) binary quantization + Hamming ----
    // Pack sign bits into 32-bit words (32× smaller than float32), rank
    // by popcount-of-XOR, exact-cosine re-rank the top 50 candidates.
    // The whole pipeline is deterministic and SQL-expressible, so it is
    // hash-oracled END-TO-END — no exact-twin needed even though the
    // retrieval itself is lossy.
    "sim15_binary_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.binaryTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        dim = 64, k = 10, candidates = 50)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: ANN recall@k evaluation harness ----
    // Measures what the binary-quantized ranking costs in recall before
    // any re-rank: |hamming top-10 ∩ exact top-10| / 10 per query. The
    // evaluation join every index config should pass through before a
    // 100 TB index build commits to it.
    "sim16_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val approx = Similarity.binaryTopK(emb, "vec_id", "embedding",
        q, "qid", "qv", dim = 64, k = 10, candidates = 10)
      val truth = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, "qid", "qv", 10)
      Similarity.recallAtK(approx, truth, "qid", "vec_id", 10)
        .orderBy("qid")
    }),

    // ---- similarity: NDCG@10 of prefix-dim retrieval vs exact ----
    // Approx = cosine on the first 16 of 64 dims (a REAL lossy ranking);
    // truth pool = exact top-50. Relevance and discounts are quantized
    // six-decimal decimals, so DCG/IDCG are exact sums and NDCG is one
    // double division per query.
    "sim19_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val truth = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, "qid", "qv", 50)
      val emb16 = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("emb16"))
      val q16 = q.select(col("qid"), slice(col("qv"), 1, 16).as("qv16"))
      val approx = Similarity.bruteForceTopK(
        emb16, "vec_id", "emb16", q16, "qid", "qv16", 10)
      Similarity.ndcgAtK(approx, truth, "qid", "vec_id", "sim", 10)
        .select(col("qid"), col("dcg"), col("idcg"),
          r6z(col("ndcg")).as("ndcg"))
        .orderBy("qid")
    }),

    // ---- similarity: embedding mean-drift monitor ----
    // Per-dimension cohort means (even vs odd labels) and gaps — the
    // distribution-shift report after a remix/model refresh. Exact
    // quantized-decimal sums; every double ONE division/subtraction.
    "sim18_mean_drift" -> ((s, dir) =>
      Pca.meanDrift(t(s, dir, "embeddings"), "embedding", dim = 64,
        cohortA = col("label") % 2 === 0)
        .orderBy("d")),

    // ---- similarity: Matryoshka truncated-prefix retrieval ----
    // Rank by cosine on the first 16 of 64 dimensions (4× less data
    // read), exact full-dim re-rank of the top 50. Deterministic, so
    // like sim15 it is hash-oracled end-to-end despite being lossy.
    "sim17_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        prefixDim = 16, k = 10, candidates = 50)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: distributed k-NN JOIN (large query side) ----
    // EVERY corpus row is a query (self-kNN): both sides shuffle on the
    // IVF cell — no broadcast of either side — with salted cells for
    // skew. nprobe = nlist + salting still meets each (query, corpus)
    // pair exactly once, so the pipeline provably equals brute force
    // and hash-checks against the cosine oracle (the sim3 trick, at
    // join scale).
    "sim10_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoin(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 3, nlist = 8, nprobe = 8, saltFactor = 2)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: LSH-bucketed approximate top-k (scale path) ----
    // probes = 16 of 2^6 buckets scans ~25% of the corpus: on this
    // corpus (uniform-random embeddings — the LSH-adversarial case,
    // since random hyperplanes can't concentrate structureless data)
    // that buys recall@10 ~0.4; the old probes=2 config measured 0.06,
    // i.e. useless retrieval that every oracle was blind to. Recall
    // floor pinned in RecallFloorSpec.
    "sim2_lsh_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, dim = 64, bits = 6, probes = 16)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: LSH with exhaustive probing (oracle-checkable) ----
    // probes = 2^bits probes every bucket, so the SAME bucketed pipeline
    // (signature, bucket join, in-bucket re-rank) provably equals brute
    // force — hash-checked against the cosine oracle, like sim3's
    // nprobe=nlist trick. Partial-probe recall stays spec-tested.
    "sim2b_lsh_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, dim = 64, bits = 6, probes = 64)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: IVF (k-means coarse quantizer) top-k ----
    // Exhaustive probing (nprobe = nlist) exercises the full IVF pipeline
    // (deterministic k-means training, map-side cell assignment, probe
    // explosion, in-cell exact re-rank) while provably equaling brute
    // force — every corpus row lives in exactly one cell and every cell is
    // probed — so this IS oracle-checkable. Partial-probe recall is
    // spec-tested (SimilaritySpec).
    "sim3_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, nlist = 16, nprobe = 16, iters = 3)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: IVF over the DISTRIBUTED-trained quantizer ----
    // Same exhaustive-probe == brute-force invariant as sim3, but the
    // coarse centroids come from full-corpus Lloyd's (exact-decimal
    // mean updates; repartition-invariance spec-pinned) instead of the
    // driver sample — proving the scale-path trainer end-to-end against
    // the DuckDB oracle.
    "sim8_ivf_dist" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cents = Similarity.trainIvfCentroidsDistributed(
        emb, "vec_id", "embedding", nlist = 16, iters = 2)
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, nlist = 16, nprobe = 16, pretrained = Some(cents))
        .orderBy("qid", "rank")
    }),

    // ---- similarity: PERSISTED ANN index lifecycle ----
    // The index-not-a-table-scan path: build writes centroids + the
    // cell-assigned corpus as versioned lake tables, load reconstructs
    // the handle purely from disk, and the query probes the
    // PRECOMPUTED cell column — no per-query training or assignment.
    // Same deterministic trainer + exhaustive probe as sim3, so the
    // brute-force oracle carries over unchanged; cross-session reuse,
    // append freshness, and the PQ/ADC storage path are AnnIndexSpec's.
    "sim9_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_sim9").toString + "/idx"
      AnnIndex.build(s, emb, "vec_id", "embedding", idxDir,
        nlist = 16, iters = 3)
      val h = AnnIndex.load(s, idxDir, "vec_id", "embedding")
      AnnIndex.topK(h, q, "qid", "qv", k = 10, nprobe = 16)
        .orderBy("qid", "rank")
    }),

    // ---- similarity/streaming: ANN-index MAINTENANCE under the
    // oracle — the AnnFeed lifecycle (the nd1 pattern: stream
    // lifecycles are oracle-able). Build the IVF index on the even
    // half of the corpus, stream the odd half in two AvailableNow
    // batches (cell-assigned with the STORED quantizer, appended
    // under writer-txn epochs so a replayed batch cannot double-
    // index), reload, and query with an exhaustive probe. nprobe =
    // nlist makes cell assignment irrelevant to the RESULT, so the
    // maintained index answers EXACTLY sim9's brute-force oracle over
    // the full corpus — the hash proves every streamed row landed in
    // the index, and none landed twice.
    "sim9s_ann_stream" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = java.nio.file.Files
        .createTempDirectory("graft_sim9s").toString
      val idxDir = root + "/idx"
      AnnIndex.build(s, emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idxDir, nlist = 16, iters = 3)
      val stream = fileStream(s, root, "src", Seq(
        emb.where(col("vec_id") % 4 === 1),
        emb.where(col("vec_id") % 4 === 3)))
      val fq = graft.streaming.StreamTune.pinnedStart(s,
        graft.streaming.StreamTune.dirParquetBytes(s, root + "/src")) {
        graft.streaming.AnnFeed.startAppend(s, stream, idxDir,
          "vec_id", "embedding", root + "/ckpt")
      }
      fq.awaitTermination(300000) // AvailableNow self-terminates
      val h = AnnIndex.load(s, idxDir, "vec_id", "embedding")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val out = AnnIndex.topK(h, q, "qid", "qv", k = 10, nprobe = 16)
        .orderBy("qid", "rank").localCheckpoint(true)
      rmTree(root)
      out
    }),

    // ---- similarity: exact embedding covariance (PCA's first half) ----
    // d(d+1)/2 + d + 1 decimal-exact quantized moments in one map-side
    // pass (posexplode + partial agg: the shuffle is <= 2145 narrow
    // rows per partition at ANY corpus size); each covariance entry is
    // one well-defined float evaluation, rounded 6 for the a16
    // decimal->double portability convention. Fully hash-oracled.
    "sim12_embedding_cov" -> ((s, dir) =>
      Pca.covariance(s, t(s, dir, "embeddings"), "embedding", 64)),

    // ---- similarity: PCA projection (rows-only; eigensolve not SQL) ----
    // Deterministic end-to-end: exact moments -> cyclic Jacobi ->
    // sign-normalized basis -> native-dot map-side projection. PcaSpec
    // pins variance-equals-eigenvalue, whitening, and layout
    // invariance.
    "sim13_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Pca.fit(emb, "embedding", 64)
      Pca.project(emb, "embedding", model, k = 4)
        .select(col("vec_id"), col("p0"), col("p1"), col("p2"), col("p3"))
        .orderBy("vec_id")
    }),

    // ---- similarity: PCA fit+project in the ANALYTICALLY-EXACT
    // configuration — the eigensolve's cross-engine oracle. A
    // fixture-derived frame built from vec_id's low bits: column i is
    // `(i+1) * (2*bit_i(vec_id) - 1)` over the complete 256-id cycle,
    // so every column is exactly zero-mean and pairwise-orthogonal
    // (full 2^k design), the quantized covariance is EXACTLY
    // diag(1, 4, 9, 16) in both engines, Jacobi is the identity
    // (off-diagonals are true zeros), and the fitted basis is the
    // coordinate axes in descending-eigenvalue order with the pinned
    // sign convention. The projection is then an exact column
    // permutation DuckDB re-derives from vec_id arithmetic alone:
    // p0 = 4*b3, p1 = 3*b2, p2 = 2*b1, p3 = 1*b0 — every float step
    // (0-products, +-0 folds, -0.0 centering) is IEEE-exact. ----
    "sim13b_pca_exact" -> ((s, dir) => {
      val bits = (0 until 4).map { i =>
        (lit(i + 1.0) *
          (shiftright(col("vec_id"), i).bitwiseAND(lit(1L)) * 2 - 1)
            .cast("double"))
      }
      val base = t(s, dir, "embeddings").where(col("vec_id") < 256)
        .select(col("vec_id"), array(bits: _*).as("v"))
      val model = Pca.fit(base, "v", 4)
      Pca.project(base, "v", model, k = 4)
        .select(col("vec_id"), col("p0"), col("p1"), col("p2"), col("p3"))
        .orderBy("vec_id")
    }),

    // ---- similarity: k-NN JOIN over the persisted index ----
    // The index-backed twin of sim10: corpus cell assignments come off
    // disk (one map-side quantizer pass at BUILD time, zero at query
    // time); the full corpus queries itself through a cell-shuffled
    // join. Exact configuration == the same all-pairs oracle as sim10 —
    // proving ad-hoc, index-backed, and DuckDB agree byte-for-byte.
    "sim11_index_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_sim11").toString + "/idx"
      AnnIndex.build(s, emb, "vec_id", "embedding", idxDir,
        nlist = 8, iters = 3)
      val h = AnnIndex.load(s, idxDir, "vec_id", "embedding")
      AnnIndex.knnJoin(h, q, "qid", "qv", k = 3, nprobe = 8,
        saltFactor = 2).orderBy("qid", "rank")
    }),

    // ---- similarity: top-k over a product-quantized corpus (lossy:
    // rows-only check; exact-reconstruction, error-monotonicity, and
    // recall-vs-brute-force are spec-tested in SimilaritySpec). 8 code
    // bytes per 64-dim float vector = 32x at rest / on the wire — the
    // compression that fits a 100 TB embedding corpus into executor
    // memory for in-partition re-rank. ----
    "sim5_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, m = 8, ksub = 128, iters = 3)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: PQ search in a provably-EXACT configuration,
    // giving the PQ pipeline (train -> encode -> decode -> rank) a real
    // cross-engine oracle: the corpus is capped at <= 256 rows
    // (vec_id % 8, <= 250 at sf0.1) so ksub = 256 assigns every distinct
    // subvector its own codeword — k-means fixes each point as its own
    // centroid (d=0), reconstruction is bit-exact, and the ranking
    // reduces to brute-force cosine, which DuckDB re-derives. Same trick
    // as sim3's nprobe=nlist and sim2b's all-buckets probe. ----
    "sim5b_pq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") % 8 === 0)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqTopK(corpus, "vec_id", "embedding", q, "qid", "qv",
        k = 10, m = 8, ksub = 256, iters = 3)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: IVF x PQ in the fully-exact configuration — BOTH
    // approximation layers provably collapse (nprobe = nlist exhausts
    // the coarse quantizer, covering codebooks make PQ reconstruction
    // bit-exact on the <=256-row corpus), so the composed engine path
    // (route -> encode -> decode -> rank) equals brute-force cosine and
    // shares sim5b's oracle. ----
    "sim6b_ivfpq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") % 8 === 0)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding", q, "qid", "qv",
        k = 10, nlist = 8, nprobe = 8, m = 8, ksub = 256, iters = 3,
        adc = false)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: IVF x PQ composed ANN (rows-only: both layers
    // are lossy engine-specific sketches; SimilaritySpec proves stacked
    // recall vs brute force and that nprobe=nlist reduces to pure PQ).
    // The at-scale flagship: candidates bounded by the coarse quantizer,
    // ranked on PQ codes 32x smaller than the vectors. nprobe = 8 of 16
    // cells: on the uniform-random test embeddings (no cluster
    // structure for IVF to exploit) the stacked recall@10 measures ~0.5
    // (nprobe=4 measured 0.32); floor pinned in RecallFloorSpec. ----
    "sim6_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, nlist = 16, nprobe = 8, m = 8, ksub = 128, iters = 3,
        adc = true)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: ADC-scored PQ top-k (rows-only, same lossy-sketch
    // justification as sim5 — SimilaritySpec pins identical top-k to the
    // decode+cosine path and |Δsim| < 1e-9). The actual PQ search loop:
    // per-query lookup tables make each candidate O(m) lookups instead
    // of an O(dim) decode+fold, and corpus rows cross the join as m code
    // bytes. sim5 vs sim7 is the benched A/B of the two scoring modes.
    "sim7_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqTopKAdc(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 10, m = 8, ksub = 128, iters = 3)
        .orderBy("qid", "rank")
    }),

    // ---- similarity: ADC scoring in the provably-EXACT configuration —
    // the sim5b corpus cap (<= 256 rows, ksub = 256 => every distinct
    // subvector is its own codeword, d = 0, reconstruction bit-exact)
    // pushed through the ADC LUT path, so the LUT kernel
    // (PqAdcLut/PqAdcScore incl. its doGenCode) gets a DIRECT
    // cross-engine oracle instead of only the indirect sim11 one.
    // ADC sums per-subspace partials where the flat cosine folds all 64
    // terms in order — equal top-k, ulp-level sim differences — so both
    // sides round sims to 6 (rank is computed on each engine's own
    // unrounded sims; r6z canonicalizes the -0.0 class). ----
    "sim7b_adc_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") % 8 === 0)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqTopKAdc(corpus, "vec_id", "embedding", q, "qid", "qv",
        k = 10, m = 8, ksub = 256, iters = 3)
        .select(col("qid"), col("vec_id"), r6z(col("sim")).as("sim"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // ---- similarity: top-k over int8-quantized corpus. Lossy but
    // DETERMINISTIC: the scale-offset arithmetic is plain IEEE double
    // ops DuckDB can replay (list_transform + round), and the byte
    // roundtrip is lossless, so this is fully hash-oracled — the oracle
    // re-quantizes in SQL. Error bound + recall specs in SimilaritySpec.
    "sim4_quantized_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // dequantize ONCE per corpus row (before the ×|queries| join), not
      // once per candidate pair — and fused into one native loop (the
      // transform-HOF composition benched 2.3 s vs sim1's 0.9 s)
      val qc = emb.withColumn("__dv",
        Similarity.quantizeRoundtrip(col("embedding")))
      val joined = qc.join(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("sim",
          Similarity.cosine(col("__dv"), Similarity.asDouble(col("qv"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(desc("sim"), col("vec_id"))
      joined.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("qid"), col("vec_id"), col("sim"),
          col("rank").cast(IntegerType).as("rank"))
        .orderBy("qid", "rank")
    }),

    // ---- A8: exact distinct counts (shuffle-dedup aggregate) ----
    "a8_distinct_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))),

    // ---- A9: approximate aggregates (HLL / quantile sketches) ----
    // The 100 TB form of A8: approx_count_distinct is one pass, no
    // shuffle-dedup; percentile_approx bounds memory. Deterministic for a
    // fixed input but engine-specific => rows-only check.
    "a9_approx_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("median_price"))),

    // ---- A9b: the HLL sketch path in its PROVABLY-EXACT regime ----
    // DataSketches HLL keeps raw coupons below the promotion threshold,
    // where the estimate is the exact distinct count as long as no two
    // domain values collide in a 26-bit coupon — checkable once for a
    // FIXED small domain (the 25 nation keys), independent of data
    // volume; the same trick as cm1b/hh1. Exercises sketch_agg (per
    // mktsegment), union_agg (the rollup merge), and estimate, all
    // hash-oracled against COUNT(DISTINCT). The a19/mv4 rollups share
    // this estimate path.
    "a9b_hll_exact" -> ((s, dir) => {
      val perSeg = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(expr("hll_sketch_agg(c_nationkey)").as("sk"))
      perSeg
        .select(col("seg"), expr("hll_sketch_estimate(sk)").as("est_nations"))
        .unionByName(perSeg
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_nations"))
          .select(lit("__ALL__").as("seg"), col("est_nations")))
        .orderBy("seg")
    }),

    // ---- A30: theta sketches — distinct counts WITH set algebra ----
    // The fourth mergeable sketch family (HLL: distinct; Misra-Gries:
    // which items; Count-Min: how often; theta: distinct AND
    // intersect/difference across groups — "how many keys appear in
    // BOTH segments", which HLL cannot answer). Run in the provably-
    // exact regime (k=512 >= the 25-key domain => theta stays 1 and
    // every estimate is the exact hash-set algebra), so build, merge
    // rollup, AND both set ops get a cross-engine hash oracle; the
    // lossy regime is bound-spec'd in ThetaSketchSpec.
    "a30_theta" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{theta, thetaEstimate, thetaMerge, thetaSetOp}
      val perSeg = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(theta(col("c_nationkey").cast(StringType), 512).as("sk"))
        .localCheckpoint(true) // 5-row frame read by 4 consumers
      val ests = perSeg.select(col("seg"),
        thetaEstimate(col("sk")).cast("long").as("nations"))
      val all = perSeg.agg(thetaMerge(col("sk")).as("sk"))
        .select(lit("__ALL__").as("seg"),
          thetaEstimate(col("sk")).cast("long").as("nations"))
      val bm = perSeg.where(col("seg") === "BUILDING")
        .select(col("sk").as("a"))
        .crossJoin(broadcast(perSeg.where(col("seg") === "MACHINERY")
          .select(col("sk").as("b")))) // 1 row × 1 row
      val inter = bm.select(lit("__B_AND_M__").as("seg"),
        thetaEstimate(thetaSetOp(col("a"), col("b"), "intersect"))
          .cast("long").as("nations"))
      val diff = bm.select(lit("__B_NOT_M__").as("seg"),
        thetaEstimate(thetaSetOp(col("a"), col("b"), "difference"))
          .cast("long").as("nations"))
      ests.unionByName(all).unionByName(inter).unionByName(diff)
        .orderBy("seg")
    }),

    // ---- sketches/streaming: per-window THETA maintenance under the
    // oracle — the SketchFeed lifecycle. Events stream in two
    // AvailableNow batches; each batch folds a theta sketch per
    // touched day window and upserts it keyed by window start under
    // writer-txn epochs (exactly-once across replays). Exact regime:
    // the item domain (user_id % 500) is far under k = 4096, so every
    // stored sketch retains its full key set and the estimate IS the
    // distinct count — the maintained table hash-matches DuckDB's
    // direct per-day COUNT(DISTINCT), proving window alignment, the
    // cross-batch union, and the upsert discipline all at once.
    "sk1_theta_stream" -> ((s, dir) => {
      import graft.functions.GraftFunctions.thetaEstimate
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("ts"),
          (col("user_id") % 500).cast(StringType).as("slot"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_sk1").toString
      val table = root + "/sketches"
      val stream = fileStream(s, root, "src", Seq(
        ev.where(col("event_id") % 2 === 0).drop("event_id"),
        ev.where(col("event_id") % 2 === 1).drop("event_id")))
      val fq = graft.streaming.StreamTune.pinnedStart(s,
        graft.streaming.StreamTune.dirParquetBytes(s, root + "/src")) {
        graft.streaming.SketchFeed.startTheta(s, stream,
          "ts", "slot", windowSeconds = 86400L, k = 4096,
          table = table, checkpoint = root + "/ckpt")
      }
      fq.awaitTermination(300000) // AvailableNow self-terminates
      val out = graft.sources.VersionedTable.read(s, table)
        .select(col("w_start"),
          thetaEstimate(col("sk")).cast(LongType).as("n_slots"))
        .orderBy("w_start").localCheckpoint(true)
      rmTree(root)
      out
    }),

    // ---- sketches/streaming: per-window COUNT-MIN maintenance under
    // the oracle — SketchFeed's other half (sk1 proves theta; this
    // proves the cell-wise CM union through the same two-batch
    // exactly-once lifecycle). a27's provably-exact regime: ≤5 event
    // types against depth 4 × width 4096 — the min-row estimate for
    // every (window, type) probe equals the exact per-day count.
    "sk2_cm_stream" -> ((s, dir) => {
      import graft.functions.GraftFunctions.cmEstimate
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("ts"), col("event_type"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_sk2").toString
      val table = root + "/sketches"
      val stream = fileStream(s, root, "src", Seq(
        ev.where(col("event_id") % 2 === 0).drop("event_id"),
        ev.where(col("event_id") % 2 === 1).drop("event_id")))
      val fq = graft.streaming.StreamTune.pinnedStart(s,
        graft.streaming.StreamTune.dirParquetBytes(s, root + "/src")) {
        graft.streaming.SketchFeed.startCountMin(s, stream,
          "ts", "event_type", windowSeconds = 86400L,
          depth = 4, width = 4096, table = table,
          checkpoint = root + "/ckpt")
      }
      fq.awaitTermination(300000) // AvailableNow self-terminates
      val probes = ev.select(
        expr("(unix_micros(ts) div 86400000000L) * 86400000000L")
          .as("w_start"),
        col("event_type")).distinct()
      val out = graft.sources.VersionedTable.read(s, table)
        .join(probes, "w_start")
        .select(col("w_start"), col("event_type"),
          cmEstimate(col("sk"), col("event_type")).as("est"))
        .orderBy("w_start", "event_type").localCheckpoint(true)
      rmTree(root)
      out
    }),

    // ---- A31: exact weighted quantiles per group — the smallest value
    // whose cumulative weight reaches p of the total (quantity-weighted
    // price points). Rational quantile points keep every threshold test
    // exact decimal arithmetic => hash-oracled against the identical
    // cumulative-weight SQL.
    "a31_weighted_quantiles" -> ((s, dir) =>
      Analytics.weightedQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("price"),
          col("l_quantity")),
        "l_returnflag", "price", "l_quantity",
        Seq(("p25", 1, 4), ("wmedian", 1, 2), ("p75", 3, 4)))
        .select(col("l_returnflag"), col("p25").cast("double").as("p25"),
          col("wmedian").cast("double").as("wmedian"),
          col("p75").cast("double").as("p75"))
        .orderBy("l_returnflag")),

    // ---- J12: interval coverage (gaps-and-islands) — merge each
    // user's overlapping event intervals ([ts, ts + 60..659s), duration
    // keyed on event_id) and report islands / covered span / longest
    // island. Pure integer micros => hash-oracled against the identical
    // running-max island derivation in SQL.
    "j12_interval_coverage" -> ((s, dir) => {
      val iv = t(s, dir, "events")
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            (lit(60L) + col("event_id") % 600) * 1000000L).as("e"))
      Analytics.intervalCoverage(iv, Seq("user_id"), "s", "e")
        .select(col("user_id"), col("n_islands"),
          col("covered").as("covered_us"),
          col("max_island").as("max_island_us"))
        .orderBy("user_id")
    }),

    // ---- W1: window functions (lag delta per key) ----
    "w1_window_lag" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"),
        row_number().over(w).as("rn"))
        .orderBy("event_id")
    }),

    // ---- time series: rolling z-score anomaly gate ----
    // Trailing 24-row window per user (row excluded); exact decimal
    // frame sums; fixed-order IEEE z chain the oracle mirrors.
    "ts1_anomaly" -> ((s, dir) =>
      Analytics.rollingZScoreAnomalies(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        lookback = 24, zThreshold = 3.0, minObs = 8,
        tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: two-sided CUSUM change-point gate ----
    // Drift detector beside ts1's spike gate — a slow mean shift never
    // produces one extreme z, but CUSUM accumulates every excursion.
    // Floor-at-zero recurrence in closed form (running sum minus its
    // clamped prefix min): pure window algebra, exact decimal end to
    // end, alarms bit-identical across engines.
    "ts2_cusum" -> ((s, dir) =>
      Analytics.cusum(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        target = new java.math.BigDecimal("50.00"),
        slack = new java.math.BigDecimal("10.00"),
        threshold = new java.math.BigDecimal("300.00"),
        tieBreak = Seq("event_id"))
        // Publish the scores as canonical DOUBLEs (ts11's discipline):
        // the driver's hash path treats DECIMAL output columns
        // differently from every other type, and cents-exact
        // magnitudes << 2^53 convert exactly. Internals stay decimal.
        .withColumn("s_pos", col("s_pos").cast("double") + lit(0.0))
        .withColumn("s_neg", col("s_neg").cast("double") + lit(0.0))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: the STREAMING CUSUM twin under the driver
    // oracle (the nd1 pattern: stream lifecycles are oracle-able).
    // The events table streams as one data batch carrying a far-future
    // neutral marker that advances the watermark; the no-data batch
    // after it fires the event-time timeouts, so every data row seals
    // (see streamTwinSource). The sealed alarms are then bit-equal to
    // ts2's closed form by the CusumStream parity contract — the SAME
    // type-pinned oracle SQL re-derives them.
    "ts2s_cusum_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "ts2s")
      val alarms = graft.streaming.CusumStream.alarms(s, stream,
        "ts", "value",
        target = new java.math.BigDecimal("50.00"),
        slack = new java.math.BigDecimal("10.00"),
        threshold = new java.math.BigDecimal("300.00"),
        watermark = "1 hour")
      runStreamTwin(s, root, alarms.toDF())
        // Same DOUBLE publishing contract as ts2: decimal internals,
        // canonicalized double output (exact conversion, cents << 2^53).
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          (col("s_pos").cast(DecimalType(38, 2)).cast("double") + lit(0.0))
            .as("s_pos"),
          (col("s_neg").cast(DecimalType(38, 2)).cast("double") + lit(0.0))
            .as("s_neg"), col("side"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- time series: per-key EWMA smoother ----
    // Sequential recurrence folded once per key; stabilized DECIMAL(18,2)
    // inputs, fixed IEEE step α·x + (1−α)·e the oracle's recursive CTE
    // mirrors token-for-token. Emitted RAW (the ts1 convention): the
    // chains are bit-identical, while round(·,6) itself diverges across
    // engines here — α = ¼ makes …4375-boundary values common, and
    // DuckDB rounds 77.20343749999999 UP where exact HALF_UP goes down.
    "ts3_ewma" -> ((s, dir) =>
      Analytics.ewma(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        alpha = 0.25, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          col("ewma"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- evaluation: Mann–Whitney rank-sum test (A/B metric shift) ----
    // Even- vs odd-user events per event_type; midrank ties keep every
    // statistic an exact integer (×2), AUC is one double division.
    "a38_ranksum" -> ((s, dir) =>
      Analytics.rankSumTest(
        t(s, dir, "events")
          .where(col("user_id").isNotNull) // a null id belongs to no arm
          .withColumn("grp",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        keyCols = Seq("event_type"), groupCol = "grp",
        groupA = "a", groupB = "b", measure = "value")
        .orderBy("event_type")),

    // ---- evaluation: two-sample Kolmogorov–Smirnov statistic ----
    // Max empirical-CDF gap between even- and odd-user events per
    // event_type; cross-multiplied integer gaps, one double division.
    "a39_ks" -> ((s, dir) =>
      Analytics.ksTest(
        t(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("grp",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        keyCols = Seq("event_type"), groupCol = "grp",
        groupA = "a", groupB = "b", measure = "value")
        .orderBy("event_type")),

    // ---- evaluation: deterministic Poisson-bootstrap mean CI ----
    // 40 replicates whose row weights are map-side md5-uniform Poisson(1)
    // quantiles — no RNG state, no resampled-data shuffle (B narrow rows
    // per key); rank-based interval over the replicate means.
    "a37_bootstrap_ci" -> ((s, dir) =>
      Analytics.bootstrapMeanCI(
        t(s, dir, "events").select("event_id", "user_id", "value"),
        keyCols = Seq("user_id"), idCol = col("event_id"),
        measure = "value", replicates = 40, kLo = 1, kHi = 39)
        .orderBy("user_id")),

    // ---- evaluation: one-pass pairwise correlation matrix ----
    // ONE moment aggregate (exact decimal sums) feeds every pair; the
    // table is scanned once however many columns correlate.
    "a40_corr_matrix" -> ((s, dir) =>
      Analytics.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("col_x"), col("col_y"), col("n"),
          r6z(col("corr")).as("corr"))
        .orderBy("col_x", "col_y")),

    // ---- evaluation: partial correlation — quantity vs price with
    // discount held fixed; three pairwise r's from corrMatrix's one
    // moment pass, the partial form one more fixed IEEE sequence.
    "a59_partial_corr" -> ((s, dir) =>
      Analytics.partialCorrelation(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount")),

    // ---- funnel: conversion latency — first view → first purchase
    // per user, exact integer seconds; only users whose first purchase
    // follows their first view (the funnel direction).
    "w11_conversion_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("ts").isNotNull)
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val p = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("first_purchase"))
      v.join(p, "user_id")
        .where(col("first_purchase") >= col("first_view"))
        .select(col("user_id"), col("first_view"), col("first_purchase"),
          expr("(unix_micros(first_purchase) - unix_micros(first_view))" +
            " div 1000000").as("latency_s"))
        .orderBy("user_id")
    }),

    // ---- evaluation: per-group skewness + excess kurtosis from one
    // exact-decimal power-sum pass (the a16 discipline, two moments
    // higher) — the long-tail / heavy-tail diagnostic a metric gets
    // before anyone trusts its mean.
    "a52_moments" -> ((s, dir) =>
      Analytics.momentsProfile(t(s, dir, "events"),
        Seq("event_type"), "value")
        .orderBy("event_type")),

    // ---- evaluation: Monte-Carlo randomization test (the permutation
    // test's unconditional sibling) for the even- vs odd-user mean
    // difference per event type. B=50 hash-derived binomial relabelings
    // (the a37 explode shape — no per-replicate global sort); every
    // replicate decision cross-multiplied into exact integer cents so
    // nothing flips on a float ulp — fully hash-oracled.
    "a50_randomization" -> ((s, dir) =>
      Analytics.randomizationTest(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_id").isNotNull)
          .withColumn("grp",
            when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b")),
        keyCols = Seq("event_type"), groupCol = "grp",
        groupA = "a", groupB = "b", measure = "value",
        idCol = col("event_id"), replicates = 50)
        .orderBy("event_type")),

    // ---- evaluation: Spearman rank correlation, exact midranks ----
    // Doubled midranks are exact integers (2·avg position of a tie
    // group); ranks come from the two-phase global row numbering and
    // the statistic is Pearson over exact-decimal rank moments.
    "a41_spearman" -> ((s, dir) =>
      Analytics.spearman(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice")
        .select(col("n"), r6z(col("rho")).as("rho"))),

    // ---- evaluation: Welch's unequal-variance t-test ----
    // Even- vs odd-user events, exact power sums per arm in one
    // conditional-aggregate pass; t and Welch–Satterthwaite df are a
    // fixed double tree.
    "a42_welch" -> ((s, dir) =>
      Analytics.welchTTest(
        t(s, dir, "events")
          .where(col("user_id").isNotNull) // a null id belongs to no arm
          .withColumn("grp",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        groupCol = "grp", measure = "value", groupA = "a", groupB = "b")
        .select(col("n_a"), col("n_b"),
          r6z(col("mean_a")).as("mean_a"), r6z(col("mean_b")).as("mean_b"),
          r6z(col("var_a")).as("var_a"), r6z(col("var_b")).as("var_b"),
          r6z(col("t_stat")).as("t_stat"), r6z(col("df")).as("df"))),

    // ---- evaluation: Kendall tau-b over the value-pair contingency ----
    // Exact concordant/discordant counts from the O(k²)-over-CELLS
    // strict self-join (never O(n²) over rows); untied-pair denominators
    // are division-free exact decimals; tau is the only float.
    "a44_kendall" -> ((s, dir) =>
      Analytics.kendallTau(t(s, dir, "lineitem"),
        "l_quantity", "l_discount")
        .select(col("n"), col("n_cells"),
          col("concordant"), col("discordant"),
          r6z(col("tau_b")).as("tau_b"))),

    // ---- time series: Mann–Kendall monotone-trend test per user ----
    // Exact integer S and tie-corrected variance numerator over the
    // (ts, event_id) order; continuity-corrected z is one fixed double
    // tree. Per-key O(m²) with bounded per-key history (ewma contract).
    "ts9_mann_kendall" -> ((s, dir) =>
      Analytics.mannKendall(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCol = "user_id", tsCol = "ts", measure = "value",
        tieBreak = "event_id")
        .select(col("key").as("user_id"), col("n"), col("s"),
          col("var18"), r6z(col("z")).as("z"))
        .orderBy("user_id")),

    // ---- evaluation: two-proportion z-test (A/B conversion) ----
    // Purchase rate, even- vs odd-user arms: exact counts in one pass,
    // rates/pooled/z a fixed double tree.
    "a48_prop_test" -> ((s, dir) =>
      Analytics.propTest(
        t(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("grp",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        groupCol = "grp", success = col("event_type") === "purchase",
        groupA = "a", groupB = "b")
        .select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
          r6z(col("rate_a")).as("rate_a"), r6z(col("rate_b")).as("rate_b"),
          r6z(col("rate_pooled")).as("rate_pooled"),
          r6z(col("z")).as("z"))),

    // ---- prep: per-group mode (deterministic tie-break) ----
    "a47_mode" -> ((s, dir) =>
      Normalize.modePerGroup(
        t(s, dir, "events").where(col("user_id").isNotNull),
        Seq("user_id"), "event_type")
        .orderBy("user_id")),

    // ---- prep: per-group median imputation ----
    // Nulls injected deterministically (event_id % 7) are filled with
    // the per-event_type exact median; everything else passes through.
    "p7_impute_median" -> ((s, dir) =>
      Normalize.imputeMedian(
        t(s, dir, "events")
          .where(col("event_id").isNotNull && col("event_type").isNotNull)
          .select(col("event_id"), col("event_type"),
            when(col("event_id") % 7 === 0, lit(null).cast("double"))
              .otherwise(col("value")).as("value")),
        Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          r6z(col("value")).as("value"))
        .orderBy("event_id")),

    // ---- quality: Benford first-digit audit ----
    // First significant digit extracted LEXICALLY (first [1-9] of the
    // decimal rendering — no cross-engine log10), counted per digit,
    // compared to the quantized Benford expectations.
    "a46_benford" -> ((s, dir) =>
      Analytics.benfordDigits(t(s, dir, "lineitem"), "l_extendedprice")
        .select(col("digit"), col("n_digit"), r6z(col("share")).as("share"),
          col("expected"), r6z(col("gap")).as("gap"))
        .orderBy("digit")),

    // ---- evaluation: Theil–Sen robust slope + intercept ----
    // Weighted lower medians over the value-pair cell frame (the a44
    // contract: O(k²) over bounded distinct domains, one table scan);
    // equal rational slopes round to the identical double, so the
    // ordering is engine-independent and division-free.
    "a45_theil_sen" -> ((s, dir) =>
      Analytics.theilSen(t(s, dir, "lineitem"),
        "l_quantity", "l_discount")
        .select(col("n"), col("n_cells"), col("n_pairs"),
          r6z(col("slope")).as("slope"),
          r6z(col("intercept")).as("intercept"))),

    // ---- evaluation: chi-square independence cells ----
    // event_type × hour contingency table with exact-integer expected/
    // contribution numerators — each double is one correctly-rounded
    // division, so the per-cell table is hash-oracle-able (the scalar
    // Σ is pinned separately by a sorted fold, spec-verified).
    "a43_chi2_cells" -> ((s, dir) =>
      Analytics.chi2Cells(
        t(s, dir, "events").where(col("ts").isNotNull)
          .withColumn("hr", hour(col("ts"))),
        "event_type", "hr")
        .select(col("event_type"), col("hr"), col("observed"),
          r6z(col("expected")).as("expected"),
          r6z(col("contrib")).as("contrib"))
        .orderBy("event_type", "hr")),

    // ---- evaluation: calibration bins + ECE. A real train/score
    // split: even event_ids train a per-hour positive-rate model
    // (P(value>60) — every score one exact-count division), odd
    // event_ids are scored and binned. ECE telescopes to
    // Σ|Σscores_b − n_pos_b|/N — one exact-decimal division.
    "a53_calibration" -> ((s, dir) => {
      // per-hour task with an hour-varying threshold, so the trained
      // scores span the whole [0,1] axis and populate most bins
      val hr = hour(col("ts"))
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), hr.as("hr"),
          (col("value") > lit(10.0) + hr.cast(DoubleType) * lit(8.0))
            .cast("int").as("label"))
      val rates = ev.where(col("event_id") % 2 === 0)
        .groupBy("hr")
        .agg((sum(col("label")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("score"))
      val scored = ev.where(col("event_id") % 2 === 1)
        .join(rates, "hr").select(col("score"), col("label"))
      Analytics.calibrationBins(scored, "score", "label", bins = 10)
        .orderBy("bin")
    }),

    // ---- evaluation: Brier score + Murphy decomposition — the proper
    // scoring rule over the SAME scored test set as a53: reliability
    // (miscalibration mass), resolution (sharpness over the base
    // rate), uncertainty, and the binned identity's residual. One
    // exact-decimal pass over quantized squares; round-6 outputs.
    "a61_brier" -> ((s, dir) => {
      val hr = hour(col("ts"))
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), hr.as("hr"),
          (col("value") > lit(10.0) + hr.cast(DoubleType) * lit(8.0))
            .cast("int").as("label"))
      val rates = ev.where(col("event_id") % 2 === 0)
        .groupBy("hr")
        .agg((sum(col("label")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("score"))
      val scored = ev.where(col("event_id") % 2 === 1)
        .join(rates, "hr").select(col("score"), col("label"))
      Analytics.brierDecomposition(scored, "score", "label", bins = 10)
    }),

    // ---- time series: additive Holt–Winters per key — ts8's Holt
    // plus a 24-component seasonal state (triple smoothing for series
    // with drift AND a daily cycle). Sorted fold, warm-up rows not
    // emitted; raw doubles (the ts3/ts8 bit-identical-chain
    // convention), oracled by a recursive CTE carrying the seasonal
    // LIST.
    "ts18_holt_winters" -> ((s, dir) =>
      Analytics.holtWinters(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        alpha = 0.5, beta = 0.25, gamma = 0.5, period = 24,
        tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: the STREAMING Page–Hinkley twin under the
    // driver oracle (the ts2s pattern) — sealed alarms are bit-equal
    // to ts17's window closed form by the PageHinkleyStream parity
    // contract; the SAME oracle SQL re-derives them plus the stream's
    // typed-key observation contract.
    "ts17s_ph_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "ts17s")
      val alarms = graft.streaming.PageHinkleyStream.alarms(s, stream,
        "ts", "value", delta = 0.5,
        lambda = new java.math.BigDecimal("500.00"),
        watermark = "1 hour")
      runStreamTwin(s, root, alarms.toDF())
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("ph_pos"), col("ph_neg"), col("side"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- evaluation: effect sizes — Cohen's d / Hedges' g per event
    // type between the even- and odd-user arms (a38/a42's split); the
    // magnitude companion to significance, exact moments, gated.
    "a63_effect_size" -> ((s, dir) =>
      Analytics.effectSize(
        t(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("grp",
            when(col("user_id") % 2 === 0, "a").otherwise("b")),
        keyCols = Seq("event_type"), groupCol = "grp",
        groupA = "a", groupB = "b", measure = "value")
        .orderBy("event_type")),

    // ---- sampling: deterministic stratified k-fold assignment — the
    // cross-validation split builder (round-robin in md5 order within
    // each language stratum; per-stratum fold sizes differ by ≤ 1).
    "s16_kfold" -> ((s, dir) =>
      Sampling.kFoldAssign(t(s, dir, "documents"), "lang", "doc_id",
        k = 5)
        .select("doc_id", "lang", "fold")
        .orderBy("doc_id")),

    // ---- sampling: deterministic shard manifest — the export step of
    // a training pipeline (hash shards + the audit artifact: counts,
    // weight balance, id ranges, order-free checksum).
    "s17_shard_manifest" -> ((s, dir) =>
      Sampling.shardManifest(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        idCol = "doc_id", numShards = 16, weightCol = "n_chars")
        .orderBy("shard")),

    // ---- evaluation: paired t-test — within-unit AM-vs-PM consumption
    // shift (each user supplies both arms, between-user variance
    // cancels). d is an exact decimal difference of two exact sums;
    // the t statistic is one fixed IEEE tree, round-6, gated.
    "a62_paired_t" -> ((s, dir) =>
      Analytics.pairedTTest(
        t(s, dir, "events").where(col("ts").isNotNull),
        "user_id", "value",
        armA = hour(col("ts")) < 12, armB = hour(col("ts")) >= 12)),

    // ---- time series: Page–Hinkley drift detector — CUSUM's sibling
    // against the series' own running mean (no target to configure);
    // exact-decimal alarm selection, canonical DOUBLE scores.
    "ts17_page_hinkley" -> ((s, dir) =>
      Analytics.pageHinkley(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        delta = 0.5, lambda = new java.math.BigDecimal("500.00"),
        tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("ph_pos"), col("ph_neg"), col("side"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- evaluation: Wilson score intervals — the binomial CI that
    // holds up at extreme rates; per-type exceedance rate with exact
    // n/k and a fixed IEEE interval sequence (z enters only as z·z).
    "a56_wilson" -> ((s, dir) =>
      Analytics.wilsonInterval(
        t(s, dir, "events").where(col("value").isNotNull)
          .select(col("event_type"),
            (col("value") > 60.0).cast("int").as("hit")),
        "event_type", "hit")
        .orderBy("event_type")),

    // ---- evaluation: Cramér's V effect size for the same
    // contingency — the [0,1] association strength χ² lacks. χ² total
    // accumulates per-cell contributions through DECIMAL(28,18)
    // (fold-order independent) and recovers empty-cell mass in closed
    // form (N − Σexpected); V is one sqrt of one division.
    "a54_cramers_v" -> ((s, dir) =>
      Analytics.cramersV(
        t(s, dir, "events").where(col("ts").isNotNull)
          .withColumn("hr", hour(col("ts"))),
        "event_type", "hr")),

    // ---- time series: time-weighted average (TWAP) ----
    // Step-function semantics: each value holds until the next
    // observation; the weighted sum is ONE exact decimal aggregate and
    // the only float step is the final round(·,6) division.
    "ts5_twap" -> ((s, dir) =>
      Analytics.twap(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        tieBreak = Seq("event_id"))
        .orderBy("user_id")),

    // ---- time series: cross-correlation — does click activity lead
    // error activity, and by how many hours? Hourly count series on a
    // shared epoch-hour index, Pearson at lags 0..6; exact moments,
    // the ts4 fixed IEEE corr sequence.
    "ts13_xcorr" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("ts").isNotNull)
      def series(tp: String) = ev.where(col("event_type") === tp)
        .groupBy(expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
          .as("idx"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.crossCorrelation(series("click"), series("error"),
        "idx", "cnt", maxLag = 6)
        .orderBy("lag")
    }),

    // ---- time series: local peak detection — rows strictly above both
    // neighbors in time order. Pure passthrough + two comparisons (no
    // arithmetic), the change-point primitive beside CUSUM.
    "ts14_peaks" -> ((s, dir) =>
      Analytics.localPeaks(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value", tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- prep: robust scaling — (x − median)/IQR per event_type, the
    // outlier-immune feature standardization; exact percentiles, one
    // subtraction + one division per row.
    "p8_robust_scale" -> ((s, dir) =>
      Analytics.robustScale(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        "event_type", "value")
        .select("event_id", "event_type", "value", "scaled_value")
        .orderBy("event_id")),

    // ---- time series: threshold streaks (gaps-and-islands over a
    // predicate) — longest above-60 run and excursion count per user;
    // pure integer counting, the SLA/overload profile.
    "ts15_streaks" -> ((s, dir) =>
      Analytics.thresholdStreaks(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", col("value") > 60.0,
        tieBreak = Seq("event_id"))
        .orderBy("user_id")),

    // ---- graph: degree assortativity — do hubs link to hubs (social
    // shape, r>0) or to leaves (star/spam shape, r<0)? One exact-moment
    // pass over the linkage edges, the a16 corr sequence.
    "g12_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2")),

    // ---- evaluation: one-way ANOVA — does mean value differ across
    // event types? Exact-decimal moments, per-group S²/n terms
    // decimal-stabilized across groups, F and η² as fixed sequences.
    "a57_anova" -> ((s, dir) =>
      Analytics.anovaOneWay(t(s, dir, "events"), "event_type", "value")),

    // ---- time series: MASE — is there 7-periodic structure? Seasonal-
    // naive MAE over naive MAE per user; exact decimal error sums, each
    // MAE one division, MASE spelled as the division of the two MAE
    // doubles on both engines. Constant series (naive MAE 0) excluded.
    "ts12_mase" -> ((s, dir) =>
      Analytics.maseEval(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        season = 7, tieBreak = Seq("event_id"))
        .orderBy("user_id")),

    // ---- time series: windowed TWAP (per-day step-function integral) ----
    // Segments split exactly across day buckets (overlap-clipped
    // decimal·µs products); fan-out guarded, one (key, bucket) shuffle.
    "ts7_twap_windowed" -> ((s, dir) =>
      Analytics.twapWindowed(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        windowMicros = 86400000000L, tieBreak = Seq("event_id"))
        .orderBy("user_id", "bucket")),

    // ---- time series: Holt double exponential smoothing ----
    // Level + trend recursion per user over the (ts, event_id) total
    // order; one sorted fold per key, fixed IEEE steps with exact α/β
    // literals (0.5 / 0.25) that the oracle's recursive CTE replays.
    // user_id < 20 bounds the oracle recursion depth, not the operator.
    "ts8_holt" -> ((s, dir) =>
      Analytics.holt(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("user_id") < 20)
          .select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        alpha = 0.5, beta = 0.25, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          r6z(col("level")).as("level"), r6z(col("trend")).as("trend"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: the STREAMING Holt twin under the driver
    // oracle (same lifecycle as ts2s: one data batch with its marker
    // seals everything; HoltStream's IEEE steps are bit-equal to the
    // batch fold, so ts8's recursive-CTE oracle re-derives the sealed
    // points verbatim).
    "ts8s_holt_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "ts8s",
        keep = col("user_id") < 20)
      val pts = graft.streaming.HoltStream.smoothed(s, stream,
        "ts", "value", alpha = 0.5, beta = 0.25, watermark = "1 hour")
      runStreamTwin(s, root, pts.toDF())
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          r6z(col("level")).as("level"), r6z(col("trend")).as("trend"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- time series: additive seasonal decomposition ----
    // Trend = centered 24-row moving average, seasonal = per-hour mean
    // of the exact detrended series, residual = the rest. Every sum an
    // exact decimal, every float a fixed division chain — raw-emitted,
    // fully hash-oracled.
    "ts11_decompose" -> ((s, dir) =>
      Analytics.seasonalDecompose(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("user_id") < 20)
          .select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        period = 24, tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: Kaplan–Meier survival per cohort ----
    // Subject = user; observation time = whole days between first and
    // last event; deterministic censoring marker (every 5th user is
    // censored); cohort = user_id % 3. Exact integer risk sets; the
    // survival product folds in time order, one division + one
    // multiply per step — the oracle's recursive CTE replays it
    // bit-for-bit (raw emission, ts3 convention).
    "ts10_survival" -> ((s, dir) => {
      val subjects = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(floor((unix_micros(max(col("ts"))) -
          unix_micros(min(col("ts")))) / lit(86400000000L))
          .cast(LongType).as("t_days"))
        .select(col("user_id"), col("t_days"),
          (pmod(col("user_id"), lit(5)) =!= 0).as("churned"),
          pmod(col("user_id"), lit(3)).as("cohort"))
      Analytics.kaplanMeier(subjects, Seq("cohort"), "t_days", "churned")
        .orderBy("cohort", "t")
    }),

    // ---- time series: Nelson–Aalen cumulative hazard — the additive
    // sibling of ts10 over the SAME exact risk sets (H += d/n at event
    // times; censored-only times carry H) ----
    "ts22_nelson_aalen" -> ((s, dir) => {
      val subjects = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(floor((unix_micros(max(col("ts"))) -
          unix_micros(min(col("ts")))) / lit(86400000000L))
          .cast(LongType).as("t_days"))
        .select(col("user_id"), col("t_days"),
          (pmod(col("user_id"), lit(5)) =!= 0).as("churned"),
          pmod(col("user_id"), lit(3)).as("cohort"))
      Analytics.nelsonAalen(subjects, Seq("cohort"), "t_days", "churned")
        .orderBy("cohort", "t")
    }),

    // ---- time series: isotonic regression (PAV) — the monotone-
    // nondecreasing least-squares fit per key over the event order:
    // probability-calibration / monotone-trend primitive. Exact-cents
    // pooling with integer cross-multiplied comparisons; the oracle
    // re-derives the fit via the minimax characterization
    // fitted(k) = max_{i<=k} min_{j>=k} mean(i..j) from prefix sums. ----
    "ts24_isotonic" -> ((s, dir) =>
      Analytics.isotonicFit(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("user_id") < 20)
          .select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")),

    // ---- time series: multi-group log-rank — the significance
    // companion to ts10/ts22 over the same risk sets: observed vs
    // H0-expected events per cohort at the global event times, with
    // the conservative (O-E)^2/E per-group statistic. Expected terms
    // quantized floor(1e6*n_g*d/n) so E is an exact long sum. ----
    "ts23_logrank" -> ((s, dir) => {
      val subjects = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(floor((unix_micros(max(col("ts"))) -
          unix_micros(min(col("ts")))) / lit(86400000000L))
          .cast(LongType).as("t_days"))
        .select(col("user_id"), col("t_days"),
          (pmod(col("user_id"), lit(5)) =!= 0).as("churned"),
          pmod(col("user_id"), lit(3)).as("cohort"))
      Analytics.logRank(subjects, "cohort", "t_days", "churned")
        .orderBy("cohort")
    }),

    // ---- time series: the STREAMING rolling-z anomaly twin under the
    // driver oracle (same lifecycle; AnomalyStream's parity contract
    // makes the sealed alarms ts1's exact rows, so the oracle is ts1's
    // SQL plus the stream's typed-key filters).
    "ts1s_anomaly_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "ts1s")
      val alarms = graft.streaming.AnomalyStream.anomalies(s, stream,
        "ts", "value", lookback = 24, zThreshold = 3.0, minObs = 8,
        watermark = "1 hour")
      runStreamTwin(s, root, alarms.toDF())
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("z"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- streaming: the SCD2 twin under the driver oracle — the
    // change-log dimension maintainer runs its full lifecycle and the
    // sealed CLOSED versions must equal the batch gap-split (the open
    // head of each key never seals — exactly the stream contract).
    // event_type rides as an ordinal double so the state's attr string
    // renders identically in both engines.
    "a23s_scd2_stream" -> ((s, dir) => {
      val code = when(col("event_type") === "click", 1.0)
        .when(col("event_type") === "error", 2.0)
        .when(col("event_type") === "purchase", 3.0)
        .when(col("event_type") === "signup", 4.0)
        .when(col("event_type") === "view", 5.0)
        .otherwise(0.0)
      val (root, stream) = streamTwinSource(s, dir, "a23s", value = code)
      val closed = graft.streaming.Scd2Stream.closedVersions(s, stream,
        "ts", "event_id", "value", watermark = "1 hour")
      runStreamTwin(s, root, closed.toDF())
        .select(col("user_id"), col("attr"), col("effective_from"),
          col("effective_to"))
        .orderBy("user_id", "effective_from", "attr")
    }),

    // ---- streaming: the SESSIONIZE twin under the driver oracle —
    // flatMapGroupsWithState + event-time timeout runs its full
    // lifecycle (one data batch with its watermark-advancing marker
    // seals every session) and the sealed session boundaries/counts must
    // equal a direct SQL gap-split. Bounds and counts are order-
    // independent, so the oracle needs no fold replay; the session
    // value totals are spec-pinned (SessionizeStreamSpec).
    "w2s_sessionize_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "w2s")
      val sess = graft.streaming.Sessionize.sessions(s, stream,
        "ts", "value", gapSeconds = 1800, watermark = "1 hour")
      runStreamTwin(s, root, sess.toDF())
        .select(col("user_id"), col("session_start"),
          col("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // ---- time series: the STREAMING EWMA twin under the driver
    // oracle (same lifecycle; EwmaStream replays the identical IEEE
    // step, so ts3's recursive-CTE oracle re-derives the sealed
    // points verbatim).
    "ts3s_ewma_stream" -> ((s, dir) => {
      val (root, stream) = streamTwinSource(s, dir, "ts3s")
      val pts = graft.streaming.EwmaStream.smoothed(s, stream,
        "ts", "value", alpha = 0.25, watermark = "1 hour")
      runStreamTwin(s, root, pts.toDF())
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          col("ewma"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- time series: OHLC bars (candlestick downsampling) ----
    // open/close via mergeable min_by/max_by on the total (ts, event_id)
    // order — one partial-agg shuffle, no window; all four picks are
    // exact stored values.
    "ts6_ohlc" -> ((s, dir) =>
      Analytics.ohlcBars(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        bucketMicros = 3600000000L, tieBreak = Seq("event_id"))
        .orderBy("user_id", "bucket")),

    // ---- evaluation: split conformal prediction intervals ----
    // Per-user calibration-mean predictor on even event_ids, rank-based
    // residual quantile (90% intervals), coverage flags on the odd half.
    "a65_conformal" -> ((s, dir) => {
      val dec = col("value").cast(DecimalType(18, 2))
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          dec.isNotNull)
        .select(col("event_id"), col("user_id"),
          dec.cast(DoubleType).as("y"))
      val calRaw = ev.where(pmod(col("event_id"), lit(2)) === 0)
      val pred = calRaw.groupBy("user_id")
        .agg(stableAvg(col("y")).as("yhat"))
      val cal = calRaw.join(pred, "user_id")
      val test = ev.where(pmod(col("event_id"), lit(2)) === 1)
        .join(pred, "user_id")
      Analytics.conformalInterval(cal, test, "yhat", "y", alphaPct = 10)
        .select(col("event_id"), col("user_id"), col("yhat").as("pred"),
          col("y").as("actual"), col("lo"), col("hi"), col("covered"))
        .orderBy("event_id")
    }),

    // ---- evaluation: CUPED variance reduction — per-user post-period
    // metric adjusted by the pre-period covariate (theta = cov/var
    // over exact-cents moments, round-6): the experimentation-platform
    // primitive that cuts required sample size. Pre = even-event_id
    // average, post = odd (the a65 split). ----
    "a66_cuped" -> ((s, dir) => {
      val dec = col("value").cast(DecimalType(18, 2))
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          dec.isNotNull)
        .select(col("event_id"), col("user_id"),
          dec.cast(DoubleType).as("v"))
      val pre = ev.where(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("user_id").agg(stableAvg(col("v")).as("x"))
      val post = ev.where(pmod(col("event_id"), lit(2)) === 1)
        .groupBy("user_id").agg(stableAvg(col("v")).as("yv"))
      Analytics.cuped(pre.join(post, "user_id"), "user_id", "x", "yv")
        .orderBy("user_id")
    }),

    // ---- evaluation: cohort retention matrix (daily periods) ----
    // first-activity day = cohort; exact distinct-active counts per
    // (cohort, age); retention = one division.
    "a64_retention" -> ((s, dir) =>
      Analytics.retentionMatrix(
        t(s, dir, "events").select("user_id", "ts"),
        userCol = "user_id", tsCol = "ts")
        .orderBy("cohort", "age")),

    // ---- sequence: first-order Markov transition matrix ----
    // lead() pairs per user in (ts, event_id) order, exact global
    // counts, one division for P(to|from).
    "w13_transitions" -> ((s, dir) =>
      Analytics.transitionMatrix(
        t(s, dir, "events")
          .select("event_id", "user_id", "ts", "event_type"),
        keyCols = Seq("user_id"), tsCol = "ts", stateCol = "event_type",
        tieBreak = Seq("event_id"))
        .orderBy("from_state", "to_state")),

    // ---- time series: trend/seasonal strength over ts11's
    // decomposition (forecastability profile; quantized-decimal SSEs,
    // one fixed double chain per strength) ----
    "ts21_strength" -> ((s, dir) =>
      Analytics.decompositionStrength(
        Analytics.seasonalDecompose(
          t(s, dir, "events")
            .where(col("user_id").isNotNull && col("user_id") < 20)
            .select("event_id", "user_id", "ts", "value"),
          keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
          period = 24, tieBreak = Seq("event_id")),
        keyCols = Seq("user_id"))
        .orderBy("user_id")),

    // ---- time series: single changepoint per key (binary
    // segmentation's split criterion) — prefix-sum SSE over exact
    // decimal windows, argmin by (score, ts, event_id) ----
    "ts19_changepoint" -> ((s, dir) =>
      Analytics.changepoint(
        t(s, dir, "events").where(col("user_id").isNotNull)
          .select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        minSeg = 5, tieBreak = Seq("event_id"))
        .orderBy("user_id")),

    // ---- time series: lag-pair autocorrelation function ----
    // Pearson over (x_t, x_{t+lag}) pairs per key: exact decimal moment
    // sums (the ts1 idiom), pairs from lead() over one per-key window
    // (O(m·maxLag), never a per-key-quadratic band join),
    // final correlation is a fixed-order IEEE chain mirrored in the oracle.
    "ts4_autocorr" -> ((s, dir) =>
      Analytics.autocorrelation(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        maxLag = 3, tieBreak = Seq("event_id"), minPairs = 5)
        .orderBy("user_id", "lag")),

    // ---- time series: Ljung–Box white-noise test per key — is there
    // ANY serial structure left? Q = m(m+2)·Σρ_k²/(m−k) over ts4's
    // deterministic lag-pair ACF; per-lag terms fold through
    // DECIMAL(38,18). Null-key series are excluded up front (the
    // equi-join contract, made explicit).
    "ts16_ljung_box" -> ((s, dir) =>
      Analytics.ljungBox(
        t(s, dir, "events").where(col("user_id").isNotNull)
          .select("event_id", "user_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", measure = "value",
        maxLag = 3, tieBreak = Seq("event_id"), minPairs = 5)
        .orderBy("user_id")),

    // ---- text: PMI collocation mining (top adjacent bigrams) ----
    // Exact unigram/bigram counts; the only floats are the pure-IEEE
    // ratio (drives the top-k cut + ordering) and the final ln
    // (round-6 canonicalized). minCount gates hapax-pair PMI blowup.
    "t31_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 3, topK = 50)
        .select(col("term_a"), col("term_b"), col("n_pair"),
          r6z(col("pmi")).as("pmi"))
        .orderBy(desc("pmi"), col("term_a"), col("term_b"))),

    // ---- text: Dunning log-likelihood-ratio collocations — the
    // significance-aware sibling of t31's PMI (G² over the full 2×2
    // bigram-slot contingency; exact cell counts, fixed IEEE ln
    // sequence, round-6 for output, raw double for the cut).
    "t41_llr" -> ((s, dir) =>
      TextAnalysis.llrCollocations(t(s, dir, "documents"), "text",
        minCount = 3, topK = 50)
        .select(col("term_a"), col("term_b"), col("n_pair"),
          r6z(col("llr")).as("llr"))
        .orderBy(desc("llr"), col("term_a"), col("term_b"))),

    // ---- text: RAKE keyphrase extraction — maximal stopword-free
    // runs scored by Σ degree/freq of their words; exact counts, one
    // division per word, decimal-exact ordering and cut, round-6
    // published score.
    "t42_rake" -> ((s, dir) =>
      TextAnalysis.rakeKeyphrases(t(s, dir, "documents"),
        "doc_id", "text",
        stopwords = Seq("a", "the", "of", "to", "and", "in", "is", "on"),
        topK = 50)),

    // ---- text: Aho-Corasick dictionary matching — per-doc occurrence
    // counts for a term blocklist in ONE automaton pass (every end
    // position, overlaps included), vs the O(n*k) regex-alternation
    // alternative. Native expression; the oracle re-derives counts by
    // an exhaustive position scan. ----
    "t43_blocklist" -> ((s, dir) => {
      val dict = Seq("the", "and", "ing", "ion", "data", "energy")
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          graft.functions.AhoCorasick.acCount(col("text"), dict))
          .as(Seq("__i", "__n")))
        .where(col("__n") > 0)
        .select(col("doc_id"),
          element_at(array(dict.map(lit): _*), col("__i") + 1)
            .as("pattern"),
          col("__n").as("n_matches"))
        .orderBy("doc_id", "pattern")
    }),

    // ---- text: dictionary match POSITIONS (KWIC / redaction spans) —
    // the same automaton pass as t43 but emitting every (pattern,
    // 1-based start) span, the input a redaction or
    // keyword-in-context pipeline consumes. ----
    "t44_kwic" -> ((s, dir) => {
      val dict = Seq("the", "and", "ing", "ion", "data", "energy")
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.AhoCorasick.acFind(col("text"), dict))
            .as("m"))
        .select(col("doc_id"),
          element_at(array(dict.map(lit): _*),
            col("m.pattern_idx") + 1).as("pattern"),
          col("m.pos").as("pos"))
        .orderBy("doc_id", "pattern", "pos")
    }),

    // ---- text: HTML/markup stripping (web-crawl boilerplate) ----
    // Deterministic HTML is wrapped around each document (title, style
    // and script blocks with markup-looking payloads, entities, a
    // footer), then stripped back to text: block removal first, tags,
    // entity decode (&amp; last), whitespace collapse. All column
    // expressions, one map-side scan.
    "t32_markup_strip" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>D"), col("doc_id"),
        lit("</title><style>p { color: red; }</style>" +
          "<script>if (1 < 2) { x = \"&amp;\"; }</script></head>" +
          "<body><h1>Doc &#39;"), col("doc_id"),
        lit("&#39;</h1><!-- build 7 --><p>"),
        replace(col("text"), lit("\n"), lit("</p><p>")),
        lit("</p><footer>A &amp; B&nbsp;|&nbsp;&lt;end&gt;" +
          "</footer></body></html>"))
      TextAnalysis.markupStats(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
        .select(col("doc_id"), col("n_tags"), col("clean_len"),
          col("clean_text"))
        .orderBy("doc_id")
    }),

    // ---- text: sentence segmentation (chunking preprocessing) ----
    // The fixture corpus has no punctuation, so terminators are
    // injected deterministically (every " table " becomes a sentence
    // break, plus a !?-run tail); raw-position indexes keep gaps where
    // an empty piece was dropped (contract).
    "t35_sentences" -> ((s, dir) =>
      TextAnalysis.sentences(
        t(s, dir, "documents").select(col("doc_id"),
          concat(replace(col("text"), lit(" table "), lit(". ")),
            lit("! Fin?! Done. ")).as("text")),
        "doc_id", "text")
        .orderBy("doc_id", "sentence_idx")),

    // ---- text: PII scrubbing (training-data redaction) ----
    // Deterministic PII (email, credit card, SSN-shape, +phone, IPv4)
    // is injected per document, then redacted to category tokens with
    // per-category hit counts — one chained regexp pass, RE2∩Java
    // patterns, zero shuffles.
    "t34_pii_scrub" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" Contact user"), col("doc_id"),
          lit("@example.com or +1555"),
          lpad((col("doc_id") % 10000).cast("string"), 7, "0"),
          lit(" ip 10.0."), col("doc_id") % 256,
          lit("."), (col("doc_id") * 3) % 256,
          lit(" ssn 123-45-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" card 4111 1111 1111 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
          .as("text"))
      TextAnalysis.piiReport(injected, "doc_id", "text")
        .select(col("doc_id"), col("n_email"), col("n_cc"), col("n_ssn"),
          col("n_phone"), col("n_ip"), col("n_pii"), col("scrubbed"))
        .orderBy("doc_id")
    }),

    // ---- text: URL canonicalization + registered domain ----
    // Deterministic mixed-case URLs with default port, utm_* tracking
    // params, unsorted params, and a fragment are built per event; the
    // canonical form lowercases scheme+host, strips :443, drops utm_*,
    // sorts the rest bytewise, and drops the fragment. Map-side only.
    "t33_url_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeUrls(
        t(s, dir, "events")
          .where(col("event_id").isNotNull && col("user_id").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_id"),
            concat(lit("HTTPS://WWW.Site"), pmod(col("user_id"), lit(50)),
              lit(".COM:443/Ev/"), col("event_type"),
              lit("?utm_source=feed&id="), col("event_id"),
              lit("&Zone=us#sec")).as("url")),
        "url")
        .select(col("event_id"), col("canon_url"), col("host"),
          col("domain"))
        .orderBy("event_id")),

    // ---- text: Unicode NFC normalization (web-scrape hygiene) ----
    // Injected combining sequences (e+U+0301, i+U+0308, A+U+030A) and a
    // precomposed/decomposed é pair collapse to identical precomposed
    // form — the pass that makes canonical-equivalent spellings equal
    // BEFORE any md5 fingerprint/shingle step. Native codegen'd
    // expression (JDK Normalizer == DuckDB nfc_normalize, both UAX #15).
    "t36_unicode_nfc" -> ((s, dir) => {
      // explicit escapes: decomposed combining marks in the shared
      // fixture (e+U+0301, i+U+0308, A+U+030A), then a precomposed-
      // vs-decomposed \u00e9 pair by doc parity
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 nai\u0308ve A\u030a "),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\u00e9"))
            .otherwise(lit("e\u0301"))).as("text"))
      injected.select(col("doc_id"),
        graft.functions.GraftFunctions.unicodeNormalize(col("text"))
          .as("nfc_text"),
        length(col("text")).cast(LongType).as("n_raw"),
        length(graft.functions.GraftFunctions
          .unicodeNormalize(col("text"))).cast(LongType).as("n_nfc"))
        .orderBy("doc_id")
    }),

    // ---- text: PSL-aware registered domain (t33's documented gap) ----
    // Hosts rotate through multi-label registry suffixes (co.uk,
    // com.au, co.jp) and plain TLDs; the naive last-two-labels form
    // collapses every *.co.uk site into one key, the snapshot-backed
    // form keeps three labels. Map-side InSet probe, no join. Both
    // columns emitted so the divergence is itself under the hash.
    "t33b_domain_psl" -> ((s, dir) => {
      val tld = element_at(
        array(lit("co.uk"), lit("com.au"), lit("com"), lit("org"),
          lit("co.jp"), lit("io")),
        (pmod(col("event_id"), lit(6)) + 1).cast("int"))
      t(s, dir, "events")
        .where(col("event_id").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"),
          concat(lit("https://sub"), pmod(col("user_id"), lit(7)),
            lit(".site"), pmod(col("user_id"), lit(50)), lit("."), tld,
            lit("/p?x="), col("event_id")).as("url"))
        .select(col("event_id"),
          TextAnalysis.urlDomain(col("url")).as("naive_domain"),
          TextAnalysis.urlDomainPsl(col("url")).as("psl_domain"))
        .orderBy("event_id")
    }),

    // ---- sampling: exactly-k-per-group bottom-k (distributed reservoir) ----
    // One mergeable bounded top-k aggregate over the md5 priority —
    // shuffle carries <= k pairs per (group, partition), never the rows;
    // winners rejoin by semi-join. Fully hash-oracled (priority asc,
    // id asc == the window form).
    "s13_bottomk" -> ((s, dir) =>
      Sampling.bottomKSample(t(s, dir, "documents"), col("lang"),
        col("doc_id"), k = 20)
        .orderBy("doc_id")),

    // ---- sampling: exact-k proportional apportionment ----
    // Largest-remainder allocation across languages (exact integer
    // seats), each stratum filled in deterministic md5 order — the
    // "exactly 100 docs, proportional to the mix" eval-set contract.
    "s15_apportion" -> ((s, dir) =>
      Sampling.apportionSample(t(s, dir, "documents"), "lang", "doc_id",
        k = 100)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // ---- sampling: Neyman-allocation stratified sample — the k-row
    // budget split prop. to N_h*sigma_h (variance-optimal for a global
    // mean; high-spread strata get more than size-proportional s15).
    // Integer Hamilton over floor(1000*sigma)*N weights, md5-order
    // within-stratum take. ----
    "s18_neyman" -> ((s, dir) =>
      Sampling.neymanSample(
        t(s, dir, "events")
          .where(col("event_type").isNotNull)
          .select(col("event_id"), col("event_type"),
            col("value").cast(DecimalType(18, 2)).cast(DoubleType)
              .as("value")),
        "event_type", "event_id", "value", k = 500)
        .orderBy("event_id")),

    // ---- sampling: deterministic negatives for contrastive training ----
    // Each anchor draws 5 pseudo-random corpus docs through ONE
    // position equi-join (no broadcast of the corpus, no RNG state);
    // exact-dup fingerprints are the exclusion key, so a byte-identical
    // copy of the anchor can never be served as its negative.
    "s14_negatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("fp", md5(col("text")))
      val anchors = docs.where(col("doc_id") < 50)
        .select(col("doc_id").as("anchor_id"), col("fp"))
      Sampling.negativeSample(docs, "doc_id", "fp", anchors, "anchor_id",
        k = 5)
        .orderBy("anchor_id", "slot")
    }),

    // ---- similarity: MMR-diversified top-k rerank ----
    // Greedy λ·rel − (1−λ)·maxSim over a distributed top-poolSize
    // relevance pool with all cosines precomputed by the native kernel;
    // the oracle unrolls the k rounds and reproduces every selection
    // bit-for-bit (λ = 0.75 so 1−λ is binary-exact).
    "sim14_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, "qid", "qv",
        k = 4, poolSize = 8, lambda = 0.75)
        .select(col("qid"), col("vec_id"), r6z(col("mmr")).as("mmr"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // ---- analytics: per-group Shannon entropy (class balance) ----
    // Exact category counts; ln terms rounded to 6 (t16 convention).
    "a35_entropy" -> ((s, dir) =>
      Analytics.entropy(t(s, dir, "events"), Seq("user_id"), "event_type")
        .select(col("user_id"), col("n"), r6z(col("entropy")).as("entropy"))
        .orderBy("user_id")),

    // ---- analytics: per-group Gini coefficient (concentration) ----
    // Exact decimal moments (rank x value products), one fixed-order
    // IEEE chain — raw emission, bit-identical across engines.
    "a36_gini" -> ((s, dir) =>
      Analytics.gini(t(s, dir, "events"), Seq("user_id"), "value")
        .orderBy("user_id")),

    // ---- F14: JSON field extraction (events.props) ----
    "t5_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy("event_id")),

    // ---- J7: broadcast as-of (small right side, zero fact shuffles) ----
    "j7_asof_broadcast" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      AsOfJoin.broadcastBackward(ev, o,
        leftTime = "ts", rightTime = "o_orderdate",
        by = Seq(("user_id", "o_custkey")),
        valueCols = Seq(("best_price", "asof_price")),
        inner = true)
        .select(col("event_id"), col("user_id"), col("asof_price"))
        .orderBy("event_id")
    }),

    // ---- J9: KEYLESS point-in-interval via grid explosion ----
    // No equi key exists, so a naive theta join would plan as a nested
    // loop; exploding each interval onto a fixed time grid turns it into
    // a hash join on the grid cell + exact residual (linear, one shuffle).
    "j9_interval_grid" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val iv = t(s, dir, "orders")
        .where(col("o_orderkey") % 701 === 0)
        .select(col("o_orderkey").as("iv_key"),
          col("o_orderdate").as("iv_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("iv_end"))
      IntervalJoin.pointInIntervalBucketed(li, iv,
        "l_shipdate", "iv_start", "iv_end",
        widthMicros = 30L * 86400 * 1000000L)
        .select(col("iv_key"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("iv_key", "l_orderkey", "l_linenumber")
    }),

    // ---- J8: sort-merge as-of via the dedicated Catalyst operator ----
    // (AsOfJoinNode -> AsOfMergeJoinExec: one exchange+sort per side,
    // streaming per-partition merge — same semantics as j2's composition)
    "j8_asof_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      AsOfJoin.merge(ev, o,
        leftTime = "ts", rightTime = "o_orderdate",
        by = Seq(("user_id", "o_custkey")),
        valueCols = Seq(("best_price", "asof_price")),
        inner = true)
        .select(col("event_id"), col("user_id"), col("asof_price"))
        .orderBy("event_id")
    }),

    // ---- J5: semi / anti joins (EXISTS / NOT EXISTS) ----
    "j5_semi" -> ((s, dir) => {
      val hv = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(hv, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),
    "j5_anti" -> ((s, dir) => {
      val hv = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(hv, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // ---- J6: left outer join with unmatched rows ----
    "j6_left_outer" -> ((s, dir) => {
      val hv = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_custkey"), col("o_orderkey"))
      t(s, dir, "customer")
        .join(hv, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    // ---- A13: explicit cross join ----
    "a13_cross" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "nation").select(col("n_name")))
        .orderBy("r_name", "n_name")),

    // ---- SET2/SET3: INTERSECT / EXCEPT (distinct set semantics) ----
    "set2_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),
    "set3_except" -> ((s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey").as("nk"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // ---- J19: fixed-radius spatial self-join via cell-grid blocking
    // — all customer pairs within euclidean 0.02 in the unit square,
    // coordinates md5-uniform from the key (fully oracle-re-derivable).
    // One shuffle on the cell id, 3x3 neighbor probing, each pair meets
    // exactly once; the exact distance predicate filters candidates. ----
    "j19_radius_join" -> ((s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"))
        .withColumn("x", Sampling.hashUniform(
          concat(col("c_custkey").cast("string"), lit(":x"))))
        .withColumn("y", Sampling.hashUniform(
          concat(col("c_custkey").cast("string"), lit(":y"))))
      SpatialJoin.radiusPairs(pts, "c_custkey", "x", "y", radius = 0.02)
        .orderBy("c_custkey", "c_custkey_2")
    }),

    // ---- J3: keyless (global) backward as-of join ----
    "j3_asof_global" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val o = t(s, dir, "orders")
        .groupBy(col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("best_price"))
      AsOfJoin.backward(ev, o,
        leftTime = "ts", rightTime = "o_orderdate",
        by = Nil,
        valueCols = Seq(("best_price", "asof_price")),
        inner = true)
        .select(col("event_id"), col("asof_price"))
        .orderBy("event_id")
    }),

    // ---- J4: interval-overlap join ----
    "j4_overlap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      IntervalJoin.intervalOverlap(
        li, o,
        li("l_shipdate"), li("l_shipdate") + expr("INTERVAL 7 DAYS"),
        o("o_orderdate"), o("o_orderdate") + expr("INTERVAL 30 DAYS"),
        Seq((li("l_orderkey"), o("o_orderkey"))))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
    }),

    // ---- A16: exact second-moment stats (stddev + correlation) ----
    // (round 6: the moments are decimal-exact in both engines, but
    // DuckDB's int128-decimal -> double cast double-rounds once the raw
    // sum exceeds 2^53 — surfaced by the sf0.1 cross-check, data-
    // dependent, absorbed by the a6/a7/t16 rounding convention)
    "a16_stats" -> ((s, dir) =>
      Analytics.exactStats(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice")
        .select(col("n"), r6z(col("stddev_x")).as("stddev_x"),
          r6z(col("stddev_y")).as("stddev_y"),
          r6z(col("corr_xy")).as("corr_xy"))),

    // ---- A25: exact-moment OLS regression per group ----
    // value-vs-hour trend per event type from decimal-exact moment
    // sums (round 6: the a16 DuckDB int128->double double-rounding
    // caveat applies to large moment sums here too).
    "a25_ols" -> ((s, dir) =>
      Analytics.olsByGroup(
        t(s, dir, "events")
          .select(col("event_type"), hour(col("ts")).as("hr"), col("value")),
        Seq("event_type"), "hr", "value")
        .select(col("event_type"), col("n"),
          r6z(col("slope")).as("slope"),
          r6z(col("intercept")).as("intercept"),
          r6z(col("r2")).as("r2"))
        .orderBy("event_type")),

    // ---- A18: exact interpolated percentiles per group ----
    "a18_median" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"))
        .orderBy("o_orderstatus")),

    // ---- A28: robust statistics (median / MAD / trimmed mean) ----
    // Outlier-resistant per-group profile: exact percentile band +
    // exact-decimal trimmed sum — every output cross-engine exact.
    "a28_robust" -> ((s, dir) =>
      Analytics.robustStats(t(s, dir, "orders"),
        "o_orderstatus", "o_totalprice")
        .orderBy("o_orderstatus")),

    // ---- A10: rollup (hierarchical subtotals) ----
    "a10_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // ---- A11: pivot (event_type sums to columns per hour) ----
    "a11_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(hour(col("ts")).as("h"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType))
        .orderBy("h")),

    // ---- W3: day-over-day retention (users active on consecutive days) ----
    "w3_retention" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val nxt = days.select(col("user_id").as("uid2"), col("d").as("d_next"))
      days.join(nxt,
          col("user_id") === col("uid2") &&
            col("d_next") === date_add(col("d"), 1))
        .groupBy(col("d")).agg(countDistinct(col("user_id")).as("retained"))
        .orderBy("d")
    }),

    // ---- W4: ordered funnel (view -> click -> purchase per user) ----
    "w4_funnel" -> ((s, dir) => {
      val firsts = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      firsts.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1).otherwise(0)).cast(LongType).as("n_view"),
        sum(when(col("t_view") < col("t_click"), 1).otherwise(0)).cast(LongType).as("n_view_click"),
        sum(when(col("t_view") < col("t_click") && col("t_click") < col("t_buy"), 1)
          .otherwise(0)).cast(LongType).as("n_full_funnel"))
    }),

    // ---- W5: top-k per group (2 largest orders per status) ----
    "w5_topk_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderstatus"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_orderstatus"), col("rk").cast(IntegerType).as("rk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderstatus", "rk")
    }),

    // ---- A15: ordered string aggregation per group ----
    "a15_string_agg" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy((col("n_regionkey") % 2).cast(IntegerType).as("parity"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))
        .orderBy("parity")),

    // ---- W6: month-over-month change of a monthly aggregate ----
    "w6_mom_growth" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(month(col("o_orderdate")).as("month"))
        .agg(Analytics.stableSum(col("o_totalprice")).as("total"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("month"))
      monthly.select(col("month"), col("total"),
        (col("total") - lag(col("total"), 1).over(w)).as("delta"))
        .orderBy("month")
    }),

    // ---- W7: per-key running total (cumulative frame) ----
    "w7_running_total" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("running_value"))
        .orderBy("event_id")
    }),

    // ---- A19: mergeable HLL sketch rollup ----
    // The incremental-distinct pattern for a 100 TB lake: persist one
    // Datasketches HLL per partition/hour, answer "distinct users over
    // any span" by UNIONING sketches — no rescan of the raw data.
    // Sketches are register-max structures: merge-order independent and
    // deterministic, but engine-specific binary => rows-only check;
    // IncrementalSpec proves union-of-parts == sketch-of-whole exactly
    // and the estimate lands within 5% of the true distinct count.
    // ---- A27: mergeable Count-Min point-frequency rollup ----
    // Fourth sketch family (HLL: distinct; MG: which are frequent; GK:
    // quantiles; CM: how often is THIS item): one sketch per market
    // segment, merged, then point-estimated per nation key. Exactness
    // regime: the min over rows recovers the true count as soon as
    // each key has at least ONE collision-free row — for these 25
    // keys, rows 0/1 each carry a pair collision but rows 2 and 3 are
    // clean, so every estimate is exact (a property of the fixed key
    // strings, independent of data volume; CountMinSpec pins it) —
    // fully hash-oracled against the exact group-by, THROUGH the
    // merge path.
    "a27_cm_rollup" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{cmEstimate, cmMerge, countMin}
      val cust = t(s, dir, "customer")
      val perSeg = cust.groupBy(col("c_mktsegment"))
        .agg(countMin(col("c_nationkey").cast(StringType), 4, 4096)
          .as("sk"))
      val merged = perSeg.agg(cmMerge(col("sk")).as("sk"))
      cust.select(col("c_nationkey")).distinct()
        .crossJoin(broadcast(merged))
        .select(col("c_nationkey"),
          cmEstimate(col("sk"), col("c_nationkey").cast(StringType))
            .as("est"))
        .orderBy("c_nationkey")
    }),

    "a19_sketch_rollup" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(hour(col("ts")).as("hour"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_hour_users"))
      hourly.agg(
        count(lit(1)).as("n_hours"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total_users"))
    }),

    // ---- A22: mergeable QUANTILE sketch rollup ----
    // The third sketch family beside HLL (a19) and Misra-Gries
    // (hh1/hh2): persist one GK summary per hour, answer "p50/p99 over
    // any span" by MERGING summaries — no rescan. Tiny eps here makes
    // the lossless regime (2·eps·n < 1), where merge-of-parts ==
    // sketch-of-whole exactly (IncrementalSpec proves it, plus the
    // coarse-eps rank-error bound); binary sketch => rows-only check.
    "a22_quantile_rollup" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{quantileEstimate, quantileMerge, quantileSketch}
      val hourly = t(s, dir, "events")
        .groupBy(hour(col("ts")).as("hour"))
        .agg(quantileSketch(col("value"), 1e-7).as("sk"))
      hourly.agg(
        count(lit(1)).as("n_hours"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.5)).as("est_p50"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.99)).as("est_p99"))
    }),

    // ---- a22b: the GK rollup in the PROVABLY-EXACT configuration ----
    // eps = 1e-9 < 1/(2n) at every test SF => GK never merges samples
    // (the error budget 2·eps·n < 1 forbids it), each retained sample
    // has g=1, delta=0, and query(q) returns THE element of rank
    // ceil(q·n) — exactly DuckDB's quantile_disc convention (verified:
    // both engines pick rank ceil(q·n), 1-based). So the whole
    // sketch → serialize → merge → estimate path gets a cross-engine
    // hash oracle, mirroring d3b/d4b/sim*b/hh1: the lossy configuration
    // stays bound-spec'd, the lossless twin is value-exact.
    "a22b_quantile_exact" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{quantileEstimate, quantileMerge, quantileSketch}
      // null-ts rows excluded on BOTH sides: Spark's groupBy would form
      // a null-hour group that DuckDB's COUNT(DISTINCT hour) ignores
      val hourly = t(s, dir, "events")
        .where(col("ts").isNotNull)
        .groupBy(hour(col("ts")).as("hour"))
        .agg(quantileSketch(col("value"), 1e-9).as("sk"))
      hourly.agg(
        count(lit(1)).as("n_hours"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.25)).as("p25"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.5)).as("p50"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.75)).as("p75"),
        quantileEstimate(quantileMerge(col("sk")), lit(0.99)).as("p99"))
    }),

    // ---- sketch: GROUPED quantile rollup (lossless-eps exact) ----
    // The hh2 proof applied to GK sketches: one sketch per (partition,
    // event_type) merged across the shuffle inside Spark's standard
    // partial/final hash aggregation — no pre-bucketing stage. At
    // lossless eps the sketch quantile equals quantile_disc, so the
    // grouped rollup is fully hash-oracled like a22b.
    "a24_quantiles_by_group" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{quantileEstimate, quantileSketch}
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          quantileEstimate(quantileSketch(col("value"), 1e-9), lit(0.25))
            .as("p25"),
          quantileEstimate(quantileSketch(col("value"), 1e-9), lit(0.5))
            .as("p50"),
          quantileEstimate(quantileSketch(col("value"), 1e-9), lit(0.75))
            .as("p75"))
        .orderBy("event_type")
    }),

    // ---- A32: per-group winsorization at discrete quantiles ----
    // Outlier clamp whose thresholds are ACTUAL data values (lossless-
    // eps GK == quantile_disc, the a24 proof), so every clamped output
    // is byte-identical cross-engine: group-count-sized threshold agg,
    // broadcast join, map-side CASE — the frame itself never shuffles.
    "a32_winsorize" -> ((s, dir) =>
      Analytics.winsorize(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        groupCol = "event_type", valueCol = "value",
        lo = 0.05, hi = 0.95)
        .select("event_id", "event_type", "value", "value_w")
        .orderBy("event_id")),

    // ---- A33: hopping-window aggregation (30 min every 15 min) ----
    // Spark's native window() generator: each row expands map-side into
    // its 2 overlapping windows, then ONE partial-agg shuffle on
    // (window, event_type) — no self-join or grid build, and the same
    // expression runs under Structured Streaming. The oracle re-derives
    // the 2-window assignment with epoch_us arithmetic.
    "a33_hopping" -> ((s, dir) =>
      Analytics.hoppingAvg(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "30 minutes", "15 minutes")
        .orderBy("window_start", "event_type")),

    // ---- A34: per-group 2D Pareto frontier (skyline) ----
    // Sort-sweep, not the quadratic NOT-EXISTS dominance scan: distinct
    // pairs, one partitioned window sort, survive iff y beats the
    // running max over strictly-preceding (x DESC, y DESC) rows. The
    // oracle runs the SAME sweep in SQL — exact decimal/date compares,
    // so the frontier sets are identical.
    "a34_pareto" -> ((s, dir) =>
      Analytics.paretoFrontier2D(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_totalprice", "o_orderdate")
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderdate"))),

    // ---- W8: event-time RANGE frame (trailing 1-hour window) ----
    // Delegates to the operator layer (Analytics.trailingRangeStats):
    // rangeBetween on epoch micros, peer-inclusive on ties in both
    // engines; decimal-stabilized sum keeps the windowed avg exact.
    "w8_range_window" -> ((s, dir) =>
      Analytics.trailingRangeStats(t(s, dir, "events"), Seq("user_id"),
        "ts", "value", rangeMicros = 3600000000L,
        cntCol = "n_1h", avgCol = "avg_1h")
        .select(col("event_id"), col("user_id"), col("n_1h"), col("avg_1h"))
        .orderBy("event_id")),

    // ---- W12: rolling trailing-window correlation — per-user
    // trendiness: value against hours-since-2024 over the last 24
    // observations (the rolling-beta primitive). Exact decimal window
    // moments, the shared pearsonNumDen chain, raw doubles (every
    // conversion < 2^53 at these magnitudes).
    "w12_rolling_corr" -> ((s, dir) =>
      Analytics.rollingCorrelation(
        t(s, dir, "events")
          .withColumn("hrs",
            (expr("unix_micros(ts) div 3600000000L") - 473352L)
              .cast(DoubleType)),
        keyCols = Seq("user_id"), tsCol = "ts",
        xCol = "value", yCol = "hrs", windowRows = 24,
        tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("roll_corr"))
        .orderBy("event_id")),

    // ---- W9: ranking family (ntile / percent_rank / cume_dist) ----
    // Deterministic: the order key (value, event_id) is unique per
    // partition, so rank == row_number and the (rank-1)/(n-1) and
    // rows<=current/n divisions are identical IEEE ops in both engines.
    "w9_rank_family" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("event_id")
    }),

    // ---- F14: date arithmetic (add / diff / trunc) ----
    // The date-math family §2.8 notes the reference never uses — engine
    // completeness, fully oracled (calendar ops, no timezone ambiguity:
    // l_shipdate is a date-precision timestamp in UTC sessions).
    "a21_date_arith" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          date_add(col("l_shipdate").cast(DateType), 7).as("ship_plus7"),
          datediff(col("l_shipdate").cast(DateType),
            lit("1995-01-01").cast(DateType)).as("days_since"),
          date_trunc("month", col("l_shipdate")).cast(DateType)
            .as("month_start"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- A17: CUBE (all grouping-set combinations) ----
    "a17_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Analytics.stableSum(col("o_totalprice")).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))),

    // ---- W2: sessionization (30-min inactivity gap) ----
    // Delegates to the operator layer (Analytics.sessionize).
    "w2_sessionize" -> ((s, dir) =>
      Analytics.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
        gapMicros = 1800L * 1000000, tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")),

    // ---- similarity: blocked embedding near-dup pairs ----
    "e1_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", threshold = 0.3)
        .orderBy("vec_id", "vec_id_2")),

    // ---- dedup: connected components over the near-dup pair graph ----
    // pairs -> canonical duplicate-cluster ids (min reachable id), the
    // step that turns candidate pairs into keep/drop decisions
    "d5_components" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
        "label", threshold = 0.3)
        .select(col("vec_id"), col("vec_id_2"))
      Dedup.connectedComponents(emb.select(col("vec_id")), pairs,
        "vec_id", "vec_id_2")
        .orderBy("vec_id")
    }),

    // ---- multimodal: binary payload + typed metadata ----
    "mm1_binary_meta" -> ((s, dir) =>
      Multimodal.attachBinary(t(s, dir, "documents"), "text", "text")
        .select(col("doc_id"), col("meta.byte_len").as("byte_len"),
          col("meta.checksum").as("checksum"))
        .orderBy("doc_id")),

    // ---- multimodal: REAL image decode (24bpp BMP header + pixel
    // parse). Payloads are valid BMPs built per doc (dims/fill derived
    // from doc_id; even ids encode top-down, odd bottom-up; row padding
    // is 0xAB); the decoder sees ONLY the bytes, so width/height/
    // pixel_sum matching the oracle's arithmetic proves the parser reads
    // magic, signed height, bpp, pixel offset, and row stride correctly
    // (a parser that summed padding would be off by 0xAB x pad count).
    // Map-side expression — no shuffle, 100 TB-safe. Opaque payloads
    // route to the stub fallback via decodeImages (spec-covered). ----
    "mm2_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.bmpEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int"),
          col("doc_id") % 2 === 0))
        .withColumn("img", Multimodal.bmpDecode(col("payload")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"), col("img.bpp").as("bpp"),
          col("img.top_down").as("top_down"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL PNG decode (javax.imageio — zlib inflate +
    // filter reconstruction). Payloads are gradient RGB PNGs built per
    // doc (pixel (x,y) = (fill + x + y) mod 256 on all channels), so
    // the pixel sum depends on every pixel position — only a true
    // decode reproduces it; the oracle re-derives it arithmetically.
    // Second self-describing format beside mm2's BMP; opaque payloads
    // still route to the stub fallback. ----
    "mm2b_png_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.pngEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("img", Multimodal.pngDecode(col("payload")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL GIF decode (JDK ImageIO palette+LZW; a
    // gray ramp fits the 256-color palette so the round-trip is
    // LOSSLESS and the same gradient arithmetic as mm2b re-derives
    // the pixel sum without decoding a byte) ----
    "mm11_gif_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.gifEncode(
          (lit(1) + col("doc_id") % 11).cast("int"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("img", Multimodal.gifDecode(col("payload")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: perceptual dHash (image near-dup fingerprint) —
    // real PNG decode + 9×8 NN grayscale walk + adjacent-gradient bits,
    // packed as two unsigned 32-bit halves (no sign-wrapping shifts).
    // The oracle re-derives every bit arithmetically from the gradient
    // construction — only a true decode+resample reproduces 64 bits.
    "mm8_dhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.pngEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("ph", Multimodal.pngDhashCol(col("payload")))
      d.select(col("doc_id"), col("ph.dhash_hi").as("dhash_hi"),
          col("ph.dhash_lo").as("dhash_lo"), col("ph.n_set").as("n_set"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: perceptual near-dup image pairs ----
    // dHash per image (mm8's real decode), one representative per
    // distinct signature (exact dups are d1's job), then the simhash
    // pigeonhole blocking over the two 32-bit halves — hamming <= 3
    // pairs without an all-pairs scan.
    "mm9_phash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.pngEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("ph", Multimodal.pngDhashCol(col("payload")))
        .groupBy(col("ph.dhash_hi").as("dhash_hi"),
          col("ph.dhash_lo").as("dhash_lo"))
        .agg(min(col("doc_id")).as("doc_id"))
      Dedup.hammingPairs64(d, "doc_id", "dhash_hi", "dhash_lo",
        maxDist = 3)
        .orderBy("doc_id", "doc_id_2")
    }),

    // ---- multimodal: REAL JPEG decode (JDK ImageIO, lossy format
    // under an arithmetic oracle) ---- the fixture is block-solid:
    // every 8×8 DCT block is one gray value (fill + 41·b) mod 256, so
    // its spectrum is DC-only and the q=1.0 codec round-trip is
    // bit-exact — the decoded pixel sum Σ_b 192·v_b is re-derivable by
    // an engine that never decodes a byte, while producing it here
    // requires a true entropy-decode + dequantize + IDCT.
    "mm10_jpeg_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.jpegEncode(
          (lit(8) * (lit(1) + col("doc_id") % 6)).cast("int"),
          (lit(8) * (lit(1) + col("doc_id") % 4)).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("img", Multimodal.jpegDecode(col("payload")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: ANIMATED GIF frame extraction — a REAL
    // multi-frame media decode (the plumbing mm3's video stub fakes):
    // per-frame lossless gradient sums re-derived arithmetically. ----
    "mm12_gif_frames" -> ((s, dir) => {
      // fanned out: the per-row GIF encode/decode is the cost, and a
      // one-file scan runs it single-threaded (r15 Fanout contract)
      val d = operators.Fanout.fanOut(
          t(s, dir, "documents").select("doc_id"))
        .withColumn("payload", Multimodal.gifAnimEncode(
          (lit(1) + col("doc_id") % 9).cast("int"),
          (lit(1) + col("doc_id") % 4).cast("int"),
          (col("doc_id") % 251).cast("int"),
          (lit(1) + col("doc_id") % 4).cast("int")))
        .withColumn("fr", explode(Multimodal.gifFrames(col("payload"))))
      d.select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
          col("fr.width").as("width"), col("fr.height").as("height"),
          col("fr.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- multimodal: QOI decode (from-scratch spec codec) ----
    // The gradient fixture round-trips through a full QOI encoder
    // (DIFF/LUMA/INDEX/RUN/RGB chunks all exercised) and a STREAMING
    // decoder (O(1) memory — no pixel buffer); matching the
    // arithmetically re-derived pixel sum proves every chunk op.
    "mm7_qoi_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.qoiEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("img", Multimodal.qoiDecode(col("payload")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          col("img.channels").as("channels"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: nearest-neighbor image resize (REAL decode) ----
    // Target pixel (x,y) samples source (⌊x·w/w2⌋, ⌊y·h/h2⌋); the
    // resized pixel sum over the gradient fixture is pure integer
    // arithmetic, so the oracle re-derives it without decoding a byte —
    // proving a real inflate + per-target-pixel sample, stride included.
    "mm6_resize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.pngEncode(
          (lit(1) + col("doc_id") % 13).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (col("doc_id") % 251).cast("int")))
        .withColumn("img", Multimodal.pngResize(col("payload"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 4).cast("int")))
      d.select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          col("img.pixel_sum").as("pixel_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL WAV decode (RIFF chunk walk + signed LE
    // 16-bit PCM sample sum) — the audio format beside mm2's BMP and
    // mm2b's PNG. Payloads are wrapping-ramp PCM built per doc, so the
    // sample sum depends on every sample position; the oracle
    // re-derives it arithmetically. Opaque payloads route to None/stub.
    "mm4_wav_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.wavEncode(
          (lit(1) + col("doc_id") % 2).cast("int"),
          (lit(8000) + (col("doc_id") % 3) * 4000).cast("int"),
          (lit(1) + col("doc_id") % 9).cast("int"),
          (col("doc_id") % 65521).cast("int")))
        .withColumn("au", Multimodal.wavDecode(col("payload")))
      d.select(col("doc_id"), col("au.channels").as("channels"),
          col("au.sample_rate").as("sample_rate"),
          col("au.bits").as("bits"),
          col("au.n_frames").as("n_frames"),
          col("au.sample_sum").as("sample_sum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: per-frame audio features over decoded PCM ----
    // The feature-extraction stage after mm4's decode: the flat sample
    // stream splits into 16-sample frames every 8 (full frames only);
    // energy Σs², peak max|s|, and consecutive-sample zero crossings
    // are exact integers over the decoded bytes — the oracle re-derives
    // every sample arithmetically from the ramp, so matching all three
    // per frame proves decode + framing + the feature kernels at once.
    "mm5_audio_frames" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("payload", Multimodal.wavEncode(
          (lit(1) + col("doc_id") % 2).cast("int"),
          lit(8000).cast("int"),
          (lit(24) + col("doc_id") % 40).cast("int"),
          (col("doc_id") % 65521).cast("int")))
        .withColumn("fr",
          explode(Multimodal.wavFrames(col("payload"), 16, 8)))
      d.select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
          col("fr.energy").as("energy"), col("fr.peak").as("peak"),
          col("fr.zero_cross").as("zero_cross"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- text: corpus top-k terms (explode + count + top-k) ----
    "t7_top_terms" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("term"))
        .limit(20)),

    // ---- text: script-mix profile — per-token Latin/Cyrillic/CJK/
    // Greek presence plus intra-token script mixing (the homoglyph-
    // spam fingerprint). Explicit codepoint ranges, never \p{...}
    // property tables, so Java and RE2 agree by construction.
    "t40_script_mix" -> ((s, dir) =>
      TextAnalysis.scriptMix(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- text: Flesch reading-ease — the classic readability quality
    // feature; words/syllable-runs/sentence-runs are exact regexp
    // counts, the score a fixed IEEE sequence (no rounding needed).
    "t39_readability" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fleschScore(col("text")).as("flesch"))
        .orderBy("doc_id")),

    // ---- text: Jensen–Shannon divergence between per-language unigram
    // distributions — the bounded symmetric "how different are these
    // domains?" distance; shared-term contributions decimal-stabilized,
    // disjoint mass recovered in closed form (½·ln2·(2−Σp−Σq)).
    "t38_js_divergence" -> ((s, dir) =>
      TextAnalysis.jsDivergence(t(s, dir, "documents"), "lang", "text")
        .orderBy("lang_a", "lang_b")),

    // ---- text: Zipf fit — OLS of ln(freq) on ln(rank) over the top-
    // 100 terms. Slope far from -1 (or low R²) flags template floods /
    // scraped spam; moments decimal-stabilized, closed form spelled
    // identically in the oracle.
    "t37_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topK = 100)),

    // ---- text: BPE subword tokenization (train + encode) ----
    // Distributed merge-table training over the distinct-word frame
    // (corpus tokenized once), then a map-side native encode. Learned
    // merges are corpus-dependent => rows-only; t17b pins the encode
    // expression cross-engine in its exact degenerate regime.
    "t20_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.trainBpe(docs, "text", numMerges = 40)
      val toks = graft.functions.GraftFunctions.bpeEncode(col("text"), merges)
      docs.select(col("doc_id"),
        size(toks).as("n_bpe_tokens"),
        concat_ws("|", slice(toks, 1, 5)).as("head_tokens"))
        .orderBy("doc_id")
    }),

    // ---- text: BPE degenerate regime (empty merge table ≡ code-point
    // symbols) — hash-oracled: token count == non-whitespace length.
    "t20b_bpe_char" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.GraftFunctions.bpeEncode(col("text"), Nil))
          .as("n_cp"))
        .orderBy("doc_id")),

    // ---- text: per-doc n-gram novelty (corpus-wide uniqueness) ----
    // Fraction of each doc's distinct 3-gram shingles seen in no
    // other doc; exact count ratio, hash-oracled (the docsWithNearDups
    // corpus makes the truncated copies score near 0).
    "t23_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyScore(docsWithNearDups(s, dir),
        "doc_id", "text")
        .orderBy("doc_id")),

    // ---- text: per-source vocabulary statistics (corpus health) ----
    // Token volume, distinct types, hapax legomena, type-token ratio —
    // exact counts + one deterministic division; fully hash-oracled.
    "t22_vocab_stats" -> ((s, dir) =>
      TextAnalysis.vocabStats(t(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    // ---- text: hashing-trick count vectorizer (feature hashing) ----
    // Stateless text→feature map: bucket = md5-60(token) mod 64, one
    // native zero-shuffle pass per doc (no vocabulary to build or
    // broadcast — the property that matters at 100 TB, where a
    // vocabulary-indexed vectorizer needs a corpus-wide agg + join).
    // Exploded to (doc_id, bucket, n) sparse form; exact integer
    // counts, fully hash-oracled via the d4b md5-60 convention.
    "t29_feature_hash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          graft.functions.GraftFunctions.featureHash(col("text"), 64)))
        .where(col("col") > 0)
        .select(col("doc_id"), col("pos").as("bucket"), col("col").as("n"))
        .orderBy("doc_id", "bucket")),

    // ---- text: unrestricted Damerau–Levenshtein (transposition-aware
    // edit distance). t9's neighbor-pair shape plus a DL(s, reverse(s))
    // column — a reversal is transposition-dense, so the two distances
    // genuinely diverge and the Lowrance–Wagner recurrence (not just the
    // Levenshtein subset) is what the oracle hashes. Integer-exact.
    "t30_damerau" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        substring(col("text"), 1, 40).as("head40"))
      val d2 = d.select((col("doc_id") - 1).as("doc_id"),
        col("head40").as("head40_next"))
      d.join(d2, "doc_id")
        .select(col("doc_id"),
          graft.functions.GraftFunctions
            .damerau(col("head40"), col("head40_next")).as("dl_next"),
          graft.functions.GraftFunctions
            .damerau(col("head40"), reverse(col("head40"))).as("dl_rev"))
        .orderBy("doc_id")
    }),

    // ---- text: chi-square term–category association (feature
    // selection). Doc-presence 2x2 contingency per (term, lang);
    // fixed-order IEEE chain from exact counts — fully hash-oracled.
    "t21_chi2" -> ((s, dir) =>
      TextAnalysis.chiSquareTerms(t(s, dir, "documents"),
        "doc_id", "text", "lang", minDf = 10L, k = 50)),

    // ---- text: BM25 retrieval JOIN (query table x corpus) ----
    // The inverted-index shuffle join: every query (first 4 tokens of
    // every 53rd doc) scores against every matching doc; stop-terms
    // with df > N/2 prune before the join (skew bound); per-(query,doc)
    // decimal-exact scores rank through the bounded mergeable
    // graft_topk. The text analog of sim10's k-NN join — scores are
    // round-6 canonicalized BEFORE ranking so the oracle re-derives
    // rank ties identically.
    "t24_bm25_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") % 53 === 1)
        .select(col("doc_id").as("qid"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      // the synthetic corpus has a ~150-term vocabulary where EVERY
      // term has df ~ 0.8N, so the default 0.5 stop-prune would empty
      // the query set; 0.9 keeps the prune expression in the plan
      // (the actually-pruning configuration is spec-pinned)
      TextAnalysis.bm25Retrieval(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5, maxDfRatio = 0.9)
        .orderBy("qid", "rank")
    }),

    // ---- text: BM25 retrieval over a PERSISTED inverted index ----
    // Same parameters and corpus as t24 through Bm25Index: build
    // persists postings (term-clustered) / lens / df / stats lake
    // tables, load sums the per-append subtotals, search reads the
    // index (the corpus is never re-tokenized) through the SAME
    // scoring tail as the ad-hoc form. Hash-matches t24's oracle
    // through a disk round-trip.
    "t24b_bm25_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") % 53 === 1)
        .select(col("doc_id").as("qid"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_t24b").toString + "/idx"
      Bm25Index.build(s, docs, "doc_id", "text", idxDir)
      val h = Bm25Index.load(s, idxDir, "doc_id")
      Bm25Index.search(h, queries, "qid", "qtext", k = 5,
        maxDfRatio = 0.9)
        .orderBy("qid", "rank")
    }),

    // ---- sampling: leakage-safe split (near-dup clusters stay in
    // one split — the train/test-contamination guard a per-doc hash
    // split cannot give). Components over d5's near-dup pairs, split
    // keyed on the min-id representative; fully hash-oracled
    // (recursive-CTE components + the s7 md5 thresholds).
    "s12_leakage_split" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
        "label", threshold = 0.3)
        .select(col("vec_id"), col("vec_id_2"))
      Sampling.leakageSafeSplit(emb.select("vec_id"), "vec_id", pairs,
        "vec_id_2",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select("vec_id", "component", "split")
        .orderBy("vec_id")
    }),

    // ---- sampling: DSIR importance weights (Xie et al. 2023) ----
    // Target-likeness of every doc under hashed uni+bigram bag models
    // (target = the English slice): lambda = ln-ratio of smoothed
    // bucket probabilities, weight = decimal-exact sum of count*lambda.
    // Every lambda input is a ratio of exact integer counts => fully
    // re-derivable in SQL (round-6 absorbs libm ln ulps).
    "ds1_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.dsirWeights(docs, "doc_id", "text",
        docs.where(col("lang") === "en"), "text", buckets = 256)
        .select(col("doc_id"), r6z(col("weight")).as("weight"),
          col("n_grams"))
        .orderBy("doc_id")
    }),

    // ---- sampling: DSIR Gumbel top-k resampling ----
    // Sampling-without-replacement proportional to exp(w/tau) via the
    // Gumbel-max trick with HASH-derived noise (u = (md5_60+0.5)/2^60):
    // deterministic, partitioning-independent, SQL-re-derivable. The
    // selection key is round-6 canonicalized before the global
    // graft_topk (no global sort).
    "ds2_dsir_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.dsirResample(docs, "doc_id", "text",
        docs.where(col("lang") === "en"), "text",
        k = 50, temperature = 2.0, seed = 7L, buckets = 256)
        .select(col("doc_id"), r6z(col("weight")).as("weight"),
          col("key"), col("rank"))
        .orderBy("rank")
    }),

    // ---- data selection: leave-one-group-out influence ----
    // First-order data valuation per source: group mean vs the mean of
    // everything else — the one-pass "which source drags the metric"
    // screen that feeds resampleToMix.
    "ds3_loo_influence" -> ((s, dir) =>
      Analytics.leaveOneOutInfluence(
        t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source")),

    // ---- text: the FULL Gopher repetition battery (Rae et al. 2021
    // Table A1): top_{2,3,4}gram_char_frac + dup_{5..10}gram_char_frac
    // in ONE native-expression pass (zero shuffle — the relational
    // formulation would shuffle the corpus nine times). Every value is
    // a single division of exact integer counts => bitwise
    // cross-engine; most-frequent ties break (count DESC, chars DESC,
    // UTF-8 byte order ASC) in both engines. The corpus has no natural
    // repeated 5-grams, so each doc gets its own opening 10 tokens
    // echoed at the end — the dup family then has real signal.
    "t25_gopher" -> ((s, dir) => {
      val echoed = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" "),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 10),
            " ")).as("text"))
      val g = graft.functions.GraftFunctions.gopherStats(col("text"))
      val fields = Seq(2, 3, 4).map(n => s"top_${n}gram_char_frac") ++
        (5 to 10).map(n => s"dup_${n}gram_char_frac")
      echoed.withColumn("__g", g)
        .select(col("doc_id") +: fields.map(f => col(s"__g.$f").as(f)): _*)
        .orderBy("doc_id")
    }),

    // ---- text: C4 line-level cleaning battery (Raffel et al. 2020
    // §2.2): keep lines ending in terminal punctuation with >= 3 words
    // and no "javascript"; flag pages with "lorem ipsum" / "{" /
    // blocklist hits; keep pages with >= 5 sentences. ONE map-side
    // native-expression pass (the relational formulation explodes to
    // lines and reaggregates — two corpus shuffles). The corpus has no
    // lines or punctuation, so BOTH engines first apply the same
    // deterministic prep (sentence breaks at ' data ', a terminal '.',
    // doc_id-keyed flag lines) — every rule then has real signal.
    // Exact string/integer outputs => fully hash-oracled.
    "t26_c4" -> ((s, dir) => {
      def rep(c: Column, a: String, b: String): Column =
        call_function("replace", c, lit(a), lit(b))
      def tag(m: Int, txt: String): Column =
        when(col("doc_id") % m === 0, lit("\n" + txt)).otherwise(lit(""))
      val prepped = concat(
        rep(col("text"), " data ", ".\ndata "), lit("."),
        tag(7, "you must enable javascript here."),
        tag(11, "see the lorem ipsum filler."),
        tag(13, "stray { brace here."),
        tag(17, "contains badword token here."))
      val fields = Seq("clean_text", "n_lines", "n_kept", "n_sentences",
        "has_lorem", "has_brace", "has_bad", "keep")
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.c4Stats(prepped).as("__c"))
        .select(col("doc_id") +: fields.map(f => col(s"__c.$f").as(f)): _*)
        .orderBy("doc_id")
    }),

    // ---- text: the Gopher QUALITY-rule battery (Rae et al. 2021
    // Table A1 document-shape rules — word count band, mean word
    // length, symbol-to-word ratios, bullet/ellipsis line fractions,
    // alpha-word fraction, required stopwords) beside t25's repetition
    // rules. Same prep convention as t26 plus symbol/bullet/ellipsis
    // injections so every rule has signal. One map-side pass; every
    // fraction is a single division of exact integer counts =>
    // bitwise cross-engine, fully hash-oracled.
    "t27_gopher_quality" -> ((s, dir) => {
      def rep(c: Column, a: String, b: String): Column =
        call_function("replace", c, lit(a), lit(b))
      val prepped = rep(rep(rep(rep(col("text"),
        " data ", ".\ndata "),
        " slow ", " #... slow "),
        "\ndata big", "\n- data big"),
        "spark.\n", "spark...\n")
      val fields = Seq("word_count", "mean_word_len", "hash_frac",
        "ellipsis_frac", "bullet_line_frac", "ellipsis_line_frac",
        "alpha_word_frac", "stopword_count", "keep")
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.gopherQuality(prepped).as("__g"))
        .select(col("doc_id") +: fields.map(f => col(s"__g.$f").as(f)): _*)
        .orderBy("doc_id")
    }),

    // ---- text: CCNet-style perplexity bucketing (Wenzek et al.
    // 2020): per language, ntile(3) over the t16 trigram-LM
    // perplexity — head = most-fluent third, the standard
    // quality-stratification for web-scale corpora. Ordering is
    // (rounded ppl, doc_id) — a total order both engines re-derive
    // (t16's round-6 values are already hash-exact cross-engine).
    // Scale: t16's shape + one window over the per-doc frame (tiny
    // vs the corpus scan).
    "t28_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.trigramLM(docs, "text")
      val ppl = TextAnalysis.perplexity(docs, "doc_id", "text", lm)
        .select(col("doc_id"), r6z(col("ppl")).as("ppl"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
      ppl.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("bucket",
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            ntile(3).over(w)))
        .select(col("doc_id"), col("lang"), col("ppl"), col("bucket"))
        .orderBy("doc_id")
    }),

    // ---- graph: deterministic synchronous label propagation over the
    // linkage graph — communities INSIDE d5's components (min-label
    // tie-break + fixed 4 rounds = a pure function of the edge set,
    // hash-oracled against an unrolled SQL re-derivation). Per round:
    // one edge⋈label join + two partial-aggregated groupBys, the
    // argmax as a single mergeable min(struct) — no windows.
    "g6_lpa" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = linkageEdges(s, dir)
      Graph.labelPropagation(cust.select(col("c_custkey")), pairs,
        "c_custkey", "c_custkey_2", iterations = 4)
        .orderBy("c_custkey")
    }),

    // ---- graph: k-core of the linkage graph (k=2 strips pendant
    // chains; the surviving core is the dense duplicate heart).
    // Iterative peel to a fixpoint — integer degrees, hash-oracled
    // against a 16-round unrolled SQL peel (the observed peel depth is
    // <= 7 at every SF; extra unrolled rounds are no-ops at the
    // fixpoint).
    "g7_kcore" -> ((s, dir) =>
      Graph.kCore(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2", k = 2)
        .orderBy("c_custkey")),

    // ---- graph: TrustRank — g3's integer PageRank with teleport mass
    // restricted to a trusted seed set (every 10th customer), the
    // classic propagate-quality-from-vetted-sources corpus signal.
    "g8_trustrank" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = linkageEdges(s, dir)
      Graph.trustRank(cust.select(col("c_custkey")), pairs,
        "c_custkey", "c_custkey_2",
        seeds = cust.where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey")),
        iterations = 3)
        .select(col("c_custkey"), col("rank").as("tr_nano"))
        .orderBy("c_custkey")
    }),

    // ---- graph: multi-source BFS hop distance from the TrustRank
    // seed set — "how many links from any vetted source?" Frontier
    // propagation with early exit; ≤-8-hop relaxation contract, NULL
    // beyond; hash-oracled against an unrolled SQL relaxation.
    "g9_seed_distance" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = linkageEdges(s, dir)
      Graph.seedDistance(cust.select(col("c_custkey")), pairs,
        "c_custkey", "c_custkey_2",
        seeds = cust.where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey")),
        maxHops = 8)
        .orderBy("c_custkey")
    }),

    // ---- graph: neighborhood link prediction over the linkage graph —
    // the "review next" queue: non-adjacent pairs sharing neighbors,
    // scored by common-neighbor count, Jaccard (one integer division),
    // and Adamic–Adar (per-middle 1/ln(deg) doubles accumulated through
    // DECIMAL(28,18) so the sum is fold-order independent; round-6
    // absorbs the wide-decimal→double cast ulp on both engines).
    "g10_link_prediction" -> ((s, dir) =>
      Graph.linkPrediction(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2")
        .orderBy("c_custkey", "c_custkey_2")),

    // ---- graph: hop-bounded harmonic centrality over the linkage
    // graph — the hub score that stays defined on disconnected
    // components (unreachable pairs add 0, not ∞): Σ 1/d within 3
    // hops via exact frontier BFS over pair state; per-distance
    // counts fold n_d/d through DECIMAL(38,18).
    "g13_harmonic" -> ((s, dir) =>
      Graph.harmonicCentrality(linkageEdges(s, dir),
        "c_custkey", "c_custkey_2", maxHops = 3)
        .orderBy("c_custkey")),

    // ---- graph: co-purchase projection with lift — the bipartite
    // (order, part) table becomes a weighted item-item edge list with
    // exact support and one-division lift; the market-basket /
    // association-rule primitive and the other way the g-family gets
    // its edge lists.
    "g11_copurchase" -> ((s, dir) =>
      Analytics.coOccurrencePairs(
        t(s, dir, "lineitem")
          .select(col("l_orderkey").as("basket"),
            col("l_partkey").as("item")),
        "basket", "item", minSupport = 2)
        .orderBy("item_a", "item_b")),

    // ---- sketch: Misra-Gries frequent items (native mergeable
    // TypedImperativeAggregate). The sketch path for t7's question: each
    // task keeps `capacity` counters and the shuffle carries one sketch
    // per partition — no per-token state crosses the wire. Run here in
    // the provably-exact configuration (capacity >= distinct tokens =>
    // zero decrements => counts equal the exact group-by), so the whole
    // insert/serialize/merge/eval path gets a cross-engine hash oracle;
    // the lossy small-capacity path is bound-spec'd in FreqItemsSpec. ----
    "hh1_freq_items" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(graft.functions.GraftFunctions
          .freqItems(col("tok"), 1024).as("sk"))
        .select(explode(slice(col("sk"), 1, 20)).as("e"))
        .select(col("e.item").as("term"), col("e.count_lb").as("n"),
          col("e.max_err").as("err"))),

    // ---- text: document chunking (token windows, stride 10, size 20) ----
    // The core pre-training transform: split documents into overlapping
    // token windows. Map-side only (sequence+slice explode), output rows =
    // ceil(tokens/stride) per doc.
    "t8_chunk" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(toks) - 1, lit(10)),
          st => concat_ws(" ", slice(toks, st + 1, lit(20))))))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk_text")
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- text: URL/email scrubbing (training-data cleaning) ----
    // Texts get a synthetic URL+email appended, then scrubbed — verifies
    // removal end-to-end (the raw corpus contains none).
    "t6_scrub" -> ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" http://example.com/x?id="), col("doc_id"),
        lit(" user"), col("doc_id"), lit("@mail.example.org tail"))
      val scrubbed = regexp_replace(
        regexp_replace(dirty, "https?://[^ ]+", "<URL>"),
        "[A-Za-z0-9_.]+@[A-Za-z0-9_.]+", "<EMAIL>")
      t(s, dir, "documents").select(col("doc_id"),
        md5(scrubbed).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // ---- text: edit-distance between consecutive docs (integer-exact) ----
    "t9_levenshtein" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        substring(col("text"), 1, 40).as("head40"))
      val d2 = d.select((col("doc_id") - 1).as("doc_id"),
        col("head40").as("head40_next"))
      d.join(d2, "doc_id")
        .select(col("doc_id"),
          levenshtein(col("head40"), col("head40_next")).as("dist"))
        .orderBy("doc_id")
    }),

    // ---- dedup: incremental (new batch vs existing corpus) ----
    // Corpus side joins by narrow md5 fingerprints only (never text);
    // plants 100 corpus dups (removed by the anti join) and 50 in-batch
    // dups (removed by the keep-min pass).
    "d6_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 250)
      val batch = docs.where(col("doc_id") >= 250)
        .unionByName(docs.where(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 10000L))
        .unionByName(docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
          .withColumn("doc_id", col("doc_id") + 20000L))
      val corpusFps = corpus.select(
        TextAnalysis.fingerprint(col("text")).as("fp"))
      Dedup.incremental(batch, "text", "doc_id", corpusFps, "fp")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- dedup: incremental via bloom runtime filter ----
    // Same planted batch and SAME oracle as d6 — the bloom is a
    // performance structure, not a semantics change: rejects skip the
    // join map-side, hits (incl. false positives) are verified exactly.
    "d7_bloom_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 250)
      val batch = docs.where(col("doc_id") >= 250)
        .unionByName(docs.where(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 10000L))
        .unionByName(docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
          .withColumn("doc_id", col("doc_id") + 20000L))
      val corpusFps = corpus.select(
        TextAnalysis.fingerprint(col("text")).as("fp"))
      Dedup.incrementalBloom(batch, "text", "doc_id", corpusFps, "fp",
        expectedItems = 1000L, fpp = 0.01)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- dedup: benchmark decontamination ----
    "dc1_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") < 50), "text",
        n = 3, maxOverlap = 0.5)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- decontamination audit: per-doc benchmark-overlap report ----
    "dc2_overlap_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(docs, "doc_id", "text",
        docs.where(col("doc_id") < 50), "text", n = 3)
        .orderBy(col("overlap").desc, col("doc_id"))
    }),

    // ---- decontamination: span-surgical eval-leak removal ----
    // dc1 drops whole contaminated docs; dc3 keeps them and cuts every
    // k-gram that appears anywhere in the eval set (GPT-3's 13-gram
    // filter made span-surgical). Same eval split as dc1/dc2.
    "dc3_span_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminateSpans(
        docs.where(col("doc_id") >= 50), "doc_id", "text",
        docs.where(col("doc_id") < 50), "text", k = 4)
        .orderBy("doc_id")
    }),

    // ---- decontamination: STREAMING ingest-time scoring ----
    // The online form of dc2+dc1: the eval split (doc_id < 50) is
    // shingle-indexed once into a lake table; the training split
    // streams through the gate and every doc gets (overlap, grams,
    // clean) appended exactly-once. Same math as the batch report —
    // fully hash-oracled against the dc2 SQL restricted to the train
    // split plus the dc1 threshold predicate.
    "dc4_stream_score" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dc4").toString
      val src = root + "/src"
      val docs = t(s, dir, "documents")
      graft.streaming.DecontaminateFeed.indexBench(s,
        docs.where(col("doc_id") < 50), "text", root + "/idx", n = 3)
      val train = docs.where(col("doc_id") >= 50)
        .select(col("doc_id"), col("text"))
      shipParquet(train, src, "b1", 1000000L)
      val stream = s.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(src)
      val q = graft.streaming.StreamTune.pinnedStart(s,
        graft.streaming.StreamTune.dirParquetBytes(s, src)) {
        graft.streaming.DecontaminateFeed.startScore(s, stream,
          root + "/idx", "doc_id", "text", maxOverlap = 0.5,
          checkpoint = root + "/ckpt")
      }
      q.awaitTermination(300000)
      graft.streaming.DecontaminateFeed.readDecisions(s, root + "/idx")
        .orderBy("doc_id")
    }),

    // ---- data quality: one-pass expectation check ----
    "dq1_checks" -> ((s, dir) =>
      Quality.check(t(s, dir, "orders"), Seq(
        Quality.notNull("o_orderkey"),
        Quality.inRange("o_totalprice", 0, 300000),
        Quality.oneOf("o_orderstatus", Seq("F", "O", "P"))))),

    // ---- data quality: duplicate-key census ----
    "dq2_dup_keys" -> ((s, dir) =>
      Quality.duplicateKeys(t(s, dir, "events"), Seq("user_id", "event_type"))),

    // ---- data quality: referential-integrity (FK orphan) report ----
    // events.user_id → customer.c_custkey: one left-anti join against
    // the distinct parent keys; null FKs reported separately (SQL FK
    // semantics never flag them).
    "dq5_fk_orphans" -> ((s, dir) =>
      Quality.fkOrphans(t(s, dir, "events"), t(s, dir, "customer"),
        Seq("user_id"), Seq("c_custkey"))
        .select(col("n_rows"), col("n_null_fk"), col("n_checked"),
          col("n_orphan_rows"), col("n_orphan_keys"),
          r6z(col("orphan_fraction")).as("orphan_fraction"))),

    // ---- data quality: ingest-volume anomaly monitor ----
    // Per (event_type, day) counts scored against the type's own
    // median/MAD (robust to the anomalies themselves); every day is
    // emitted with its flag — exact counts, the a28 percentile
    // convention, one deterministic comparison.
    "dq6_volume_anomaly" -> ((s, dir) =>
      Quality.volumeAnomalies(t(s, dir, "events"), "event_type", "ts",
        threshold = 3.0)
        .orderBy("event_type", "day")),

    // ---- prep: lexical schema advisor over an all-string landing —
    // the reference's CSV shape profiled in ONE pass: per column,
    // recognizer match counts and the narrowest covering type
    // (explicit anchored regexes shared with the oracle; engine casts
    // disagree on string edge cases and never decide here). The
    // renderings below are the identity-stable ones (ints, decimals,
    // dates, zero-fraction timestamps) so both engines profile the
    // same strings.
    "p9_schema_advisor" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val raw = o.select(
        col("o_orderkey").cast(StringType).as("id_str"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(StringType)
          .as("price_str"),
        col("o_orderdate").cast(DateType).cast(StringType).as("date_str"),
        col("o_orderdate").cast(TimestampType).cast(StringType)
          .as("ts_str"),
        col("o_orderpriority").as("priority_str"),
        when(col("o_orderkey") % 10 === 0, lit(null: String))
          .otherwise(col("o_orderkey").cast(StringType)).as("mixed_str"))
      Normalize.schemaAdvisor(raw, Seq("id_str", "price_str", "date_str",
        "ts_str", "priority_str", "mixed_str"))
        .orderBy("col_name")
    }),

    // ---- data quality: source↔mirror reconciliation — the CDC
    // replication loop under the driver oracle. A CDF-enabled source
    // takes an append + keyed upsert + delete; VersionedSink's
    // streaming mirror applies the feed exactly-once; the report is a
    // FULL-OUTER per-key comparison (row counts both sides, rows only
    // one side, value mismatches) plus the exact value total. The
    // oracle derives the final logical state independently, so a
    // mirror that dropped/duplicated/mis-applied anything reddens.
    "dq8_mirror_reconcile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"),
          col("value").cast(DoubleType).as("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_dq8").toString
      val src = root + "/src"
      val dst = root + "/dst"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      vt.upsert(s, ev.where(col("event_id") % 100 === 3)
        .withColumn("value", lit(0.0)), src, "event_id")
      vt.deleteByKeys(s, src,
        ev.where(col("event_id") % 7 === 0).select("event_id"))
      val q = graft.streaming.VersionedSink.startReplicateCDF(s,
        src, dst, "dq8-mirror", "event_id", root + "/ckpt")
      q.awaitTermination(300000)
      // presence markers, not data columns: a NULL attribute must not
      // read as "row absent" on either side
      val a = vt.read(s, src).select(col("event_id"), lit(1L).as("pa"),
        col("event_type").as("ta"), col("value").as("va"))
      val b = vt.read(s, dst).select(col("event_id"), lit(1L).as("pb"),
        col("event_type").as("tb"), col("value").as("vb"))
      val out = a.join(b, Seq("event_id"), "full_outer")
        .agg(
          count(col("pa")).as("n_src"),
          count(col("pb")).as("n_dst"),
          sum(when(col("pa").isNotNull && col("pb").isNull, 1L)
            .otherwise(0L)).as("n_only_src"),
          sum(when(col("pa").isNull && col("pb").isNotNull, 1L)
            .otherwise(0L)).as("n_only_dst"),
          sum(when(col("pa").isNotNull && col("pb").isNotNull &&
            (!(col("ta") <=> col("tb")) || !(col("va") <=> col("vb"))),
            1L).otherwise(0L)).as("n_mismatch"),
          sum(col("vb").cast(DecimalType(38, 2)))
            .cast(DoubleType).as("sum_value_dst"))
        .localCheckpoint(true)
      rmTree(root)
      out
    }),

    // ---- data quality: sequence-gap audit — which id ranges never
    // landed? The "rejected at ingest" set here is readings above the
    // 95.0 sensor ceiling; the report is every maximal missing run as
    // (gap_start, gap_end, n_missing), exact integers, found with two
    // hash anti-joins (no global window over the data — only the
    // gap-count-sized boundary lists get numbered).
    "dq7_id_gaps" -> ((s, dir) =>
      Quality.idGaps(
        t(s, dir, "events").where(col("value") <= 95.0), "event_id")
        .orderBy("gap_start")),

    // ---- data quality: functional-dependency audit ----
    // Does user_id -> event_type hold? (It shouldn't — the violation
    // counts are the signal.) Exact two-level aggregation.
    "dq9_fd_audit" -> ((s, dir) =>
      Quality.fdViolations(
        t(s, dir, "events").select("user_id", "event_type"),
        lhs = Seq("user_id"), rhs = "event_type")),

    // ---- data quality: shuffle-key skew profile ----
    // The pre-flight a join/groupBy key gets before a 100 TB shuffle:
    // heaviest keys, their share, and the straggler multiplier skew_x
    // (= the salt factor that would level the hot task).
    "dq3_key_skew" -> ((s, dir) =>
      Quality.keySkew(t(s, dir, "events"), "user_id", 10)),

    // ---- histogram: fixed-width value buckets ----
    "a14_histogram" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // ---- sampling: deterministic hash-based row sampling ----
    // Reproducible (partitioning-independent) 30% sample via multiplicative
    // hash on the key — unlike rand(seed), identical on any cluster layout.
    "s2_hash_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .where((col("doc_id") * lit(2654435761L)) % 100 < 30)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // ---- text: sequence packing (chunk → training-sequence layout) ----
    // One window per lang shard; seq/seq_offset from the running token
    // total (next-fit-with-overflow, see TextAnalysis.packSequences).
    "t11_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        shardCol = col("lang"), orderCols = Seq(col("doc_id")),
        tokenLen = col("n_tokens"), budget = 256L)
        .select(col("doc_id"), col("lang"), col("n_tokens").cast(LongType).as("n_tokens"),
          col("seq"), col("seq_offset"))
        .orderBy("doc_id")),

    // ---- text: Gopher-style repetition quality stats ----
    // ONE native-expression pass per doc (dup-line fraction, dup-line
    // char fraction, top-bigram fraction) — map-side, zero shuffle; the
    // explode+groupBy formulation would shuffle the corpus twice. All
    // integer-count divisions => hash-oracled exactly.
    "t12_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("rep",
          graft.functions.GraftFunctions.repetitionStats(col("text")))
        .select(col("doc_id"),
          col("rep.dup_line_frac").as("dup_line_frac"),
          col("rep.dup_line_char_frac").as("dup_line_char_frac"),
          col("rep.top_bigram_frac").as("top_bigram_frac"))
        .orderBy("doc_id")),

    // ---- text: C4-style corpus-frequency line dedup. Docs get three
    // constructed metadata lines with genuinely different corpus
    // frequencies (lang ~500, chars-bucket 37..111, source 10..16);
    // minCount=50 removes the frequent ones from every doc and keeps
    // the rest — boilerplate removal, fully hash-oracled. ----
    "t13_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("source: "), col("source")),
          concat(lit("lang: "), col("lang")),
          concat(lit("chars: "),
            floor(col("n_chars") / lit(100)).cast(LongType).cast(StringType)))
          .as("text"))
      TextAnalysis.dedupLines(docs, "doc_id", "text", minCount = 50)
        .orderBy("doc_id")
    }),

    // ---- text: INTRA-doc line dedup (keep first occurrence, in order).
    // The within-page half of C4's repeated-line cleaning (t13 is the
    // corpus-frequency half). Constructed duplicate lines make the op
    // observable; array_distinct is order-preserving-first-occurrence in
    // both engines' semantics (oracle re-derives via min-ordinal). Pure
    // map-side, zero shuffle. ----
    "t15_intradoc_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), lit("boiler"), col("text"),
          lit("boiler"),
          concat(lit("id: "), col("doc_id").cast(StringType))).as("text"))
      TextAnalysis.dedupLinesWithinDoc(docs, "text")
        .orderBy("doc_id")
    }),

    // ---- window: multi-touch attribution — every same-user touch in
    // the 7 days up to a conversion shares the credit equally (1/k).
    // One equi+BETWEEN interval join (j1's audited shape) + one
    // per-conversion count window; credit is a single division per
    // row, never an order-dependent float sum.
    "w10_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
      val convs = ev.where(pmod(col("event_id"), lit(17)) === 0)
        .select(col("user_id").as("c_user"),
          col("event_id").as("conv_id"), col("ts").as("c_ts"))
      val touches = ev.where(pmod(col("event_id"), lit(17)) =!= 0)
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts").as("t_ts"))
      IntervalJoin.pointInInterval(touches, convs,
        pointCol = col("t_ts"),
        startCol = col("c_ts") - expr("INTERVAL 7 DAYS"),
        endCol = col("c_ts"),
        equi = Seq((col("user_id"), col("c_user"))))
        .withColumn("k",
          count(lit(1)).over(Window.partitionBy(col("conv_id"))))
        .select(col("conv_id"), col("touch_id"), col("k"),
          (lit(1.0) / col("k") + lit(0.0)).as("credit"))
        .orderBy("conv_id", "touch_id")
    }),

    // ---- join: as-of with TOLERANCE (merge_asof parity) — each event
    // takes the latest same-user anchor reading, but a match more than
    // one hour stale nulls out (a reading past its validity window must
    // not enrich silently). Rides auto()'s strategy selection; the gap
    // test is one map-side micros filter.
    "j14_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val anchors = ev.where(col("event_id") % 10 === 0)
        .groupBy(col("user_id").as("a_user"), col("ts").as("a_ts"))
        .agg(max(col("value")).as("anchor_value"))
      AsOfJoin.backwardTolerant(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        anchors, "ts", "a_ts", by = Seq(("user_id", "a_user")),
        valueCols = Seq(("anchor_value", "anchor_value")),
        toleranceMicros = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("anchor_value"))
        .orderBy("event_id")
    }),

    // ---- join: FORWARD as-of with tolerance — "the next same-user
    // anchor reading, unless it's more than an hour out". j14's
    // mirrored axis; same one-extra-column gate.
    "j15_asof_fwd_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val anchors = ev.where(col("event_id") % 10 === 0)
        .groupBy(col("user_id").as("a_user"), col("ts").as("a_ts"))
        .agg(max(col("value")).as("anchor_value"))
      AsOfJoin.forwardTolerant(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        anchors, "ts", "a_ts", by = Seq(("user_id", "a_user")),
        valueCols = Seq(("anchor_value", "anchor_value")),
        toleranceMicros = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("anchor_value"))
        .orderBy("event_id")
    }),

    // ---- join: BAND join (|Δvalue| <= 0.05 within event type) — the
    // sensor-reconciliation theta join. Exact integer-cents bucketing
    // (floor(cents/5) grid, ±1 fan-out) turns it into a plain equi
    // join; no float ever decides membership, so the pair set hashes
    // against DuckDB's naive theta join.
    "j13_band_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("event_type").isNotNull)
      val a = ev.select(col("event_id"), col("event_type"), col("value"))
      val b = ev.select(col("event_id").as("event_id_2"),
        col("event_type").as("event_type_2"), col("value").as("value_2"))
      IntervalJoin.bandJoin(a, b, "value", "value_2",
        new java.math.BigDecimal("0.05"),
        blockCols = Seq(("event_type", "event_type_2")))
        .where(col("event_id") < col("event_id_2"))
        .select(col("event_id"), col("event_id_2"), col("event_type"),
          col("diff_cents"))
        .orderBy("event_id", "event_id_2")
    }),

    // ---- dedup: best-of-cluster survivor selection. d2's near-dup
    // pairs feed connected components (d5's labels), but the survivor
    // is the HIGHEST-QUALITY member (t2's score, min id on ties) — the
    // production keep-the-best-duplicate policy, where d1/d5's min-id
    // convention can keep a truncated twin over its clean original.
    // Every building block is individually hash-oracled; this is their
    // composition under one hash.
    "d14_best_of_cluster" -> ((s, dir) => {
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.blockedShinglePairs(corpus, "doc_id", "text",
        Seq("lang", "source"), threshold = 0.5)
        .select(col("doc_id"), col("doc_id_2"))
      val comp = Dedup.connectedComponents(
        corpus.select(col("doc_id")), pairs, "doc_id", "doc_id_2")
      val q = corpus.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      comp.join(q, "doc_id")
        .groupBy(col("component").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality"),
            (-col("doc_id")).as("__negid"))).as("__best"))
        .select(col("cluster_id"), col("n_members"),
          (-col("__best.__negid")).as("survivor_id"),
          col("__best.quality").as("quality"))
        .orderBy("cluster_id")
    }),

    // ---- dedup: CORPUS-level boilerplate line removal (CCNet/C4's
    // cross-document step, beside t15's intra-doc form). Every doc
    // carries a universal banner plus an even-docs-only footer; a
    // per-small-group line sits at the document-frequency threshold
    // boundary (below it at sf0.01, above at sf0.1 — the oracle
    // recomputes either way). Survivors reassemble in original order.
    "d13_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          lit("accept cookies to continue"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("promo footer")).otherwise(lit("")),
          concat(lit("grp: "),
            pmod(col("doc_id"), lit(200)).cast(StringType)),
          concat(lit("id: "), col("doc_id").cast(StringType))).as("text"))
      TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
        minDocFreq = 4)
        .orderBy("doc_id")
    }),

    // ---- join: NEAREST as-of (closer of backward/forward; ties prefer
    // backward) — left times shifted +17 min between right points so
    // both directions genuinely compete; oracled via two DuckDB ASOF
    // joins + the same CASE ----
    "j11_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val r = ev.groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("v"))
      val l = ev.select(col("event_id"), col("user_id"),
        (col("ts") + expr("INTERVAL 17 MINUTES")).as("ts2"))
      AsOfJoin.nearest(l, r, "ts2", "ts",
        by = Seq(("user_id", "user_id")),
        valueCols = Seq(("v", "near_value")))
        .select(col("event_id"), col("user_id"), col("near_value"))
        .orderBy("event_id")
    }),

    // ---- analytics: gap-fill resample (regularize + forward-fill) ----
    // The reference's feed cadence made regular: per-user hourly grid
    // anchored at first observation, max-downsample per cell, ffill.
    // Deterministic end-to-end (max/ffill only, no float sums) => fully
    // hash-oracled.
    "g1_gapfill" -> ((s, dir) =>
      Analytics.gapFill(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", stepMicros = 3600000000L)
        .orderBy("user_id", "gts")),

    // ---- time series: fixed-grid resample with linear interpolation ----
    // Forward/back-fill only at edges; interior gaps interpolate
    // linearly between the neighboring observed cells.
    "g2_resample" -> ((s, dir) =>
      Analytics.resampleLinear(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", stepMicros = 3600000000L)
        .orderBy("user_id", "gts")),

    // ---- lake: z-order (Morton) clustering value ----
    // The multi-dim data-skipping primitive: LakeWriter.zOrderWrite
    // range-partitions + sorts on this value so parquet min/max stats
    // prune files on ANY dimension (pruning proven in ZOrderSpec; this
    // query oracles the bit interleave itself against a DuckDB
    // re-derivation with shift/mask arithmetic).
    // Delegates to the operator layer (Analytics.modDim / timeBucketDim /
    // zOrderValue — the NTZ-safe dimension builders).
    "z1_zorder" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          Analytics.zOrderValue(Seq(
            Analytics.modDim(col("user_id"), 1024),
            Analytics.timeBucketDim(col("ts"), 3600000000L, 1024)), 10)
            .as("z"))
        .orderBy("event_id")),

    // ---- layout: 2-D Hilbert clustering key ----
    // The level-by-level rotate/reflect walk has sequential state (no
    // per-bit closed form like the z-value), so the oracle re-derives
    // it with a 10-round recursive CTE — a genuinely independent
    // re-implementation of the curve.
    "z2_hilbert" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          Analytics.hilbertValue(
            Analytics.modDim(col("user_id"), 1024),
            Analytics.timeBucketDim(col("ts"), 3600000000L, 1024), 10)
            .as("h"))
        .orderBy("event_id")),

    // ---- lake: clustered table top-n via LIMIT pushdown ----
    // documents land in a range-clustered versioned table (two commits,
    // so multiple range files), then ORDER BY the cluster key LIMIT 25
    // plans only the files whose manifest bounds can hold the answer
    // (SupportsPushDownTopN; partial push — Spark re-sorts above). The
    // oracle never sees the lake: byte-identical answers prove the
    // pruning changed nothing.
    "lk1_clustered_topn" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk1").toString + "/t"
      graft.sources.VersionedTable.create(s, tdir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType))))
      graft.sources.VersionedTable.alterProperties(s, tdir,
        Map(graft.sources.VersionedTable.ClusterByProperty -> "doc_id"))
      val half = expr("doc_id % 2 = 0")
      graft.sources.VersionedTable.append(s, docs.where(half), tdir)
      graft.sources.VersionedTable.append(s, docs.where(!half), tdir)
      s.read.format("graft-table").load(tdir)
        .orderBy("doc_id").limit(25)
    }),

    // ---- A26: GROUPING SETS (completes rollup/cube trio) ----
    // Two independent single-key groupings + the grand total in ONE
    // pass (Expand under the hood), grouping() flags distinguishing
    // the null-key rows from genuine nulls.
    "a26_grouping_sets" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("a26_ev")
      s.sql(
        """SELECT event_type,
          |  CAST(hour(ts) AS INT) AS hour_of_day,
          |  CAST(grouping(event_type) AS INT) AS g_t,
          |  CAST(grouping(hour(ts)) AS INT) AS g_h,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM a26_ev
          |GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
          |ORDER BY g_t, g_h, event_type NULLS FIRST,
          |  hour_of_day NULLS FIRST""".stripMargin)
    }),

    // ---- lake: incremental materialized-view maintenance over CDF ----
    // A rollup (per event_type: rows / non-null count / exact decimal
    // sum / avg of value) is materialized from the source's FIRST
    // commit only, then maintained purely from the change feed across
    // an append, a keyed upsert, and a keyed delete — the source is
    // never rescanned after create. The oracle recomputes the same
    // aggregate directly from the final logical state: equality proves
    // incremental maintenance == direct computation (exact because the
    // state sums are decimal — associative/commutative).
    "mv1_incremental_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv1").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv,
        Seq("event_type"), Seq("value"))
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      vt.upsert(s, ev.where(col("event_id") % 100 === 0)
        .withColumn("value", lit(0.0)), src, "event_id")
      vt.deleteByKeys(s, src,
        ev.where(col("event_id") % 200 === 1).select("event_id"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv)
        .select("event_type", "n_rows", "cnt_value", "sum_value",
          "avg_value")
        .orderBy("event_type")
    }),

    // ---- lake: incrementally-maintained REGRESSION (model as a view).
    // OLS of value on hour-of-day per event_type, kept fresh from the
    // change feed: the view maintains the exact-decimal moment sums
    // (Σx, Σy, Σxy, Σx² as expression measures — signed-delta foldable,
    // so an upsert and a delete maintain the model without a rescan);
    // slope/intercept derive at read time. The oracle recomputes the
    // coefficients directly from the final logical state.
    "mv8_ols_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).cast(DoubleType).as("x"),
          col("value").as("y"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv8").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("x", DoubleType),
        StructField("y", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("event_type"),
        Seq("x", "y", "xy=x * y", "xx=x * x"), scale = 6)
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      vt.upsert(s, ev.where(col("event_id") % 100 === 0)
        .withColumn("y", lit(0.0)), src, "event_id")
      vt.deleteByKeys(s, src,
        ev.where(col("event_id") % 200 === 1).select("event_id"))
      IncrementalView.refresh(s, mv)
      val r = IncrementalView.read(s, mv)
      val n = col("cnt_x").cast(DoubleType)
      // Degeneracy gate (the anova/assortativity/xcorr discipline): a
      // group with zero x-variance (all rows in one hour) has a
      // singular normal equation — NULL coefficients, never Inf/NaN.
      val denom = n * col("sum_xx") - col("sum_x") * col("sum_x")
      val slope = (n * col("sum_xy") - col("sum_x") * col("sum_y")) / denom
      r.select(col("event_type"), col("cnt_x").as("n"),
          when(denom > 0, round(slope, 6) + lit(0.0))
            .otherwise(lit(null).cast(DoubleType)).as("slope"),
          when(denom > 0,
            round((col("sum_y") - slope * col("sum_x")) / n, 6) + lit(0.0))
            .otherwise(lit(null).cast(DoubleType)).as("intercept"))
        .orderBy("event_type")
    }),

    // ---- lake: incremental JOIN view — the maintained star-schema
    // rollup. The view is revenue-ish state grouped by a DIMENSION
    // attribute (nation name) that exists in no fact row: every CDF
    // delta inner-joins the dim table at apply time (exactly the
    // changed rows hit the join, the fact table is never rescanned),
    // then folds signed state as usual — through an append, a keyed
    // upsert, and a delete-bearing refresh. Dim contract: immutable
    // join keys (static here). Oracle recomputes the final join
    // directly.
    "mv9_join_view" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"),
        col("c_acctbal").cast(DoubleType).as("acctbal"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"),
        col("n_name"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv9").toString
      val src = root + "/fact"
      val dimT = root + "/dim"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, dimT, StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType))))
      vt.append(s, nat, dimT)
      vt.create(s, src, StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_nationkey", LongType),
        StructField("acctbal", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, cust.where(col("c_custkey") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("n_name"), Seq("acctbal"),
        dim = Some(dimT), dimJoin = Seq(("c_nationkey", "n_nationkey")))
      vt.append(s, cust.where(col("c_custkey") % 2 === 1), src)
      vt.upsert(s, cust.where(col("c_custkey") % 100 === 3)
        .withColumn("acctbal", lit(0.0)), src, "c_custkey")
      vt.deleteByKeys(s, src,
        cust.where(col("c_custkey") % 5 === 0).select("c_custkey"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("n_name")
    }),

    // ---- lake: join view REBASED onto an evolved dimension ----
    // The mv9 lifecycle with an SCD move in the middle: the dimension
    // renames half its members AFTER the view has folded history at the
    // old pin; rebaseDim recomputes the state at the new pin (equal by
    // construction to a from-scratch create there), and the deltas that
    // follow join the NEW pin. The oracle is the full final fact state
    // joined to the RENAMED dimension — correct only if both the
    // rebase and the post-rebase refresh honor the new version.
    "mv9b_rebase_dim" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"),
        col("c_acctbal").cast(DoubleType).as("acctbal"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"),
        col("n_name"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv9b").toString
      val src = root + "/fact"
      val dimT = root + "/dim"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, dimT, StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType))))
      vt.append(s, nat, dimT)
      vt.create(s, src, StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_nationkey", LongType),
        StructField("acctbal", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, cust.where(col("c_custkey") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("n_name"), Seq("acctbal"),
        dim = Some(dimT), dimJoin = Seq(("c_nationkey", "n_nationkey")))
      vt.append(s, cust.where(col("c_custkey") % 2 === 1), src)
      IncrementalView.refresh(s, mv) // folded at the OLD names
      // the dimension evolves: even nation keys get renamed
      vt.upsert(s, nat.where(col("n_nationkey") % 2 === 0)
        .withColumn("n_name", concat(lit("R_"), col("n_name"))),
        dimT, "n_nationkey")
      IncrementalView.rebaseDim(s, mv) // re-pin mid-history
      // post-rebase deltas must join the NEW pin
      vt.upsert(s, cust.where(col("c_custkey") % 100 === 3)
        .withColumn("acctbal", lit(0.0)), src, "c_custkey")
      vt.deleteByKeys(s, src,
        cust.where(col("c_custkey") % 5 === 0).select("c_custkey"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("n_name")
    }),

    // ---- lake: incremental MV with an EXPRESSION key ----
    // The canonical time-bucketed rollup (a5's hour-of-day aggregate)
    // maintained incrementally: the group key is `hour(ts)` computed
    // per changed row at delta time, never from a rescan.
    "mv2_hourly_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv2").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("value", DoubleType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv,
        Seq("hour_of_day=hour(ts)"), Seq("value"))
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      vt.delete(s, src, col("event_id") % 7 === 3)
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("hour_of_day")
    }),

    // ---- lake: incremental MV with min/max measures (append-only) ----
    // Extremes fold forward (least/greatest merge) — maintainable only
    // while the feed is inserts; the operator refuses row-level windows.
    "mv3_minmax_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv3").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("event_type"), Seq("value"),
        minmax = Seq("value"))
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("event_type")
    }),

    // ---- lake: incremental MV under a DELETE-bearing feed ----
    // The general maintenance path: the refresh window mixes an insert
    // commit with a row-level delete, so the non-additive state (min/
    // max + lossless-eps GK p50) recomputes for ONLY the touched groups
    // from the source snapshot at the window's end version, while the
    // additive sum/count state folds the signed CDF deltas — and the
    // result hash-matches a direct recompute over the surviving rows.
    "mv6_minmax_delete" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv6").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("event_type"), Seq("value"),
        minmax = Seq("value"), quantile = Seq("value"),
        quantileEps = 1e-7)
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      vt.deleteByKeys(s, src,
        ev.where(col("event_id") % 3 === 0).select("event_id"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("event_type")
    }),

    // ---- lake: incremental MV with approx-distinct (HLL) measures ----
    // Mergeable sketch state folds forward exactly (order-independent
    // insertion), under the same append-only contract as min/max.
    // rows-only: DuckDB's approx_count_distinct is a different
    // algorithm; the sketch-parity and exact-at-low-cardinality checks
    // live in IncrementalViewSpec.
    "mv4_approx_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("user_id"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv4").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType))))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("event_type"),
        Seq("user_id"), approxDistinct = Seq("user_id"))
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv)
        .select("event_type", "n_rows", "approx_user_id")
        .orderBy("event_type")
    }),

    // ---- lake: incremental MV with HLL measures in the PROVABLY-EXACT
    // regime — mv4's estimate path hash-oracled: the distinct domain is
    // the fixed 25 nation keys (the a9b coupon-exact argument), so the
    // folded sketch estimate == COUNT(DISTINCT) through create, an
    // append refresh, AND a delete-bearing refresh (whose HLL state
    // recomputes from the snapshot for the touched groups — deletes
    // un-count a value no sketch fold could). ----
    "mv4b_approx_exact" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"), col("c_nationkey"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv4b").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_nationkey", LongType))))
      // CDC on (the realistic config for a CDF-consumed source, like
      // mv1/mv2/mv8): the delete commit writes its exact changes, so
      // refresh reads them instead of re-deriving via EXCEPT ALL.
      // mv6 deliberately stays CDC-off to keep the derived path covered.
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, cust.where(col("c_custkey") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("c_mktsegment"),
        Seq("c_nationkey"), approxDistinct = Seq("c_nationkey"))
      vt.append(s, cust.where(col("c_custkey") % 2 === 1), src)
      vt.deleteByKeys(s, src,
        cust.where(col("c_custkey") % 5 === 0).select("c_custkey"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("c_mktsegment")
    }),

    // ---- lake: incremental MV with THETA sketch measures ---- the
    // distinct-count-with-set-algebra state in maintained rollups:
    // folds forward under appends (sketch union), touched-group
    // snapshot recompute under deletes (a sketch cannot un-count).
    // Exact regime (k=512 >= the 25-key domain) => the maintained
    // estimate == COUNT(DISTINCT) over the surviving rows, hash-oracled
    // through create + append refresh + delete-bearing refresh.
    "mv7_theta_rollup" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"), col("c_nationkey"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv7").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_nationkey", LongType))))
      vt.alterProperties(s, src, Map(vt.CdcProperty -> "true"))
      vt.append(s, cust.where(col("c_custkey") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("c_mktsegment"),
        Seq("c_nationkey"), thetaDistinct = Seq("c_nationkey"),
        thetaK = 512)
      vt.append(s, cust.where(col("c_custkey") % 2 === 1), src)
      vt.deleteByKeys(s, src,
        cust.where(col("c_custkey") % 5 === 0).select("c_custkey"))
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv).orderBy("c_mktsegment")
    }),

    // ---- lake: incremental MV with QUANTILE sketch measures ----
    // GK state folds through create + refresh at lossless eps, where
    // the merged sketch's p50 equals quantile_disc exactly (a22b's
    // proof applied to MV maintenance) — fully hash-oracled.
    "mv5_quantile_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv5").toString
      val src = root + "/src"
      val mv = root + "/mv"
      val vt = graft.sources.VersionedTable
      vt.create(s, src, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      vt.append(s, ev.where(col("event_id") % 2 === 0), src)
      IncrementalView.create(s, src, mv, Seq("event_type"),
        Seq("value"), quantile = Seq("value"), quantileEps = 1e-9)
      vt.append(s, ev.where(col("event_id") % 2 === 1), src)
      IncrementalView.refresh(s, mv)
      IncrementalView.read(s, mv)
        .select("event_type", "n_rows", "p50_value")
        .orderBy("event_type")
    }),

    // ---- lake: time travel (version-as-of read) ----
    // Three commits land on a versioned table (append evens, append
    // odds, delete a slice); reading AS OF version 1 reproduces the
    // first commit's content byte-for-byte, unaffected by everything
    // after it. The oracle derives that content from the raw parquet.
    "lk2_time_travel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk2").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.create(s, tdir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("source", StringType))))
      val even = expr("doc_id % 2 = 0")
      vt.append(s, docs.where(even), tdir)
      val v1 = vt.latest(s, tdir)._1
      vt.append(s, docs.where(!even), tdir)
      vt.delete(s, tdir, expr("doc_id % 3 = 0"))
      s.read.format("graft-table")
        .option("versionAsOf", v1.toString).load(tdir)
        .orderBy("doc_id")
    }),

    // ---- lake: deep table CLONE ----
    // Write docs into a versioned table with a delete layer, clone it,
    // rewrite THE SOURCE, and read the clone: byte-identical answers
    // prove the clone carried the exact snapshot state (files + delete
    // layer) and is independent of the source's later life. The oracle
    // never sees the lake.
    "lk3_clone" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk3").toString
      val vt = graft.sources.VersionedTable
      vt.append(s, docs, tdir + "/src")
      vt.delete(s, tdir + "/src", expr("doc_id % 3 = 0"))
      vt.cloneTable(s, tdir + "/src", tdir + "/dst")
      vt.overwrite(s, docs.limit(1), tdir + "/src") // source moves on
      vt.read(s, tdir + "/dst").orderBy("doc_id")
    }),

    // ---- lake: compaction (OPTIMIZE) ----
    // Three fragmented appends + a row-level delete, then compact to 2
    // files: the read-back must be byte-identical to the logical
    // snapshot (deletes materialized, nothing lost/duplicated), and
    // the live file count must actually shrink to the target — the
    // small-files maintenance every streaming-ingest table needs.
    "lk6_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk6").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.append(s, docs.where(col("doc_id") % 3 === 0).repartition(4),
        tdir)
      vt.append(s, docs.where(col("doc_id") % 3 === 1).repartition(4),
        tdir)
      vt.append(s, docs.where(col("doc_id") % 3 === 2).repartition(4),
        tdir)
      vt.delete(s, tdir, expr("doc_id % 5 = 0"))
      val before = vt.latest(s, tdir)._2.size
      vt.compact(s, tdir, numFiles = 2)
      val after = vt.latest(s, tdir)._2.size
      vt.read(s, tdir)
        .withColumn("files_after", lit(after))
        .withColumn("shrank", lit(before > after))
        .orderBy("doc_id")
    }),

    // ---- lake: commit history (DESCRIBE HISTORY) ----
    // A known commit sequence (create, two pinned-partitioning appends,
    // a coalesced overwrite) must report exact per-version op kinds and
    // file deltas straight from the manifests — no data files touched.
    // The oracle is the literal expected report (the dq4 convention).
    "lk7_history" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk7").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.create(s, tdir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType))))
      vt.append(s, docs.where(col("doc_id") % 2 === 0).repartition(2),
        tdir)
      vt.append(s, docs.where(col("doc_id") % 2 === 1).repartition(3),
        tdir)
      vt.overwrite(s, docs.limit(100).repartition(1), tdir)
      vt.history(s, tdir)
        .select(col("version"), col("op"), col("files_added"),
          col("files_removed"))
        .orderBy("version")
    }),

    // ---- lake: write-audit-publish staging session ----
    // Base = even docs; two staged writes add the odds (invisible —
    // pre_publish_rows pins the isolation), the audit view sees
    // everything, publish lands both writes as ONE version. Zero-copy:
    // staging is the ordinary distributed write, publish commits names.
    "lk5_wap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk5").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.append(s, docs.where(col("doc_id") % 2 === 0), tdir)
      val w = graft.sources.Wap
      val h1 = w.write(s, w.begin(s, tdir, "rel-1"),
        docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 5 =!= 0))
      val h2 = w.write(s, h1,
        docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0))
      val prePublish = vt.read(s, tdir).count() // staged rows invisible
      val audited = w.auditView(s, h2).count()  // auditor sees them all
      w.publish(s, h2)
      vt.read(s, tdir)
        .withColumn("pre_publish_rows", lit(prePublish))
        .withColumn("audited_rows", lit(audited))
        .orderBy("doc_id")
    }),

    // ---- governance: schema drift report (field-id keyed) ----
    // A table evolves (add + rename + drop + retype-by-replace is not
    // allowed, so drop/add); the drift between v1 and latest classifies
    // every change EXACTLY from the field ids — no name heuristics. The
    // oracle is the literal expected report.
    "dq4_schema_drift" -> ((s, dir) => {
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_dq4").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.create(s, tdir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("legacy_score", DoubleType))))
      val v1 = vt.latest(s, tdir)._1
      vt.addColumns(s, tdir, Seq(StructField("quality", DoubleType)))
      vt.renameColumn(s, tdir, "lang", "language")
      vt.dropColumn(s, tdir, "legacy_score")
      vt.schemaDiff(s, tdir, v1, vt.latest(s, tdir)._1)
        .orderBy("change", "column")
    }),

    // ---- governance: corpus snapshot diff report via CDF ----
    // Two corpus revisions (odds added, the %10 docs dropped) diffed
    // WITHOUT rescanning either snapshot: the change feed between the
    // versions rolls up per language into docs added/removed and the
    // net token delta — the "what changed in the training set" report a
    // corpus release needs. The oracle re-derives the same report from
    // the documents table arithmetically.
    "dc5_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_dc5").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.create(s, tdir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("text", StringType))))
      vt.alterProperties(s, tdir, Map(vt.CdcProperty -> "true"))
      vt.append(s, docs.where(col("doc_id") % 2 === 0), tdir)
      val v1 = vt.latest(s, tdir)._1
      vt.append(s, docs.where(col("doc_id") % 2 === 1), tdir)
      vt.delete(s, tdir, expr("doc_id % 10 = 0"))
      val ins = col(vt.ChangeTypeCol) === "insert"
      // (fromVersion, toVersion] — exclusive-from, so v1 itself is the
      // base snapshot and both later commits are in the window
      vt.readChangesCDF(s, tdir, fromVersion = v1)
        .withColumn("__tk",
          TextAnalysis.tokenCount(col("text")).cast(LongType))
        .groupBy(col("lang"))
        .agg(
          sum(when(ins, 1L).otherwise(0L)).as("docs_added"),
          sum(when(!ins, 1L).otherwise(0L)).as("docs_removed"),
          sum(when(ins, col("__tk")).otherwise(-col("__tk")))
            .as("token_delta"))
        .orderBy("lang")
    }),

    // ---- lake: bloom-filter point lookup ----
    // documents land UNCLUSTERED on fingerprint (every file's [min,max]
    // overlaps — bounds can't prune) in a table with parquet-native
    // blooms on fp; the needle lookup answers byte-identically to the
    // oracle that never sees the lake, while the blooms cut the planned
    // files (spec-asserted in BloomSkipSpec; here the gate is the answer).
    "lk4_bloom_lookup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"), col("lang"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_lk4").toString + "/t"
      val vt = graft.sources.VersionedTable
      vt.create(s, tdir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("fp", StringType),
        StructField("lang", StringType))))
      vt.alterProperties(s, tdir, Map(
        "graft.bloom.columns" -> "fp", "graft.bloom.ndv" -> "100000"))
      vt.append(s, docs.repartition(8), tdir)
      val needles = docs.where(col("doc_id") % 97 === 0)
        .select(col("fp")).distinct()
      s.read.format("graft-table").load(tdir)
        .join(broadcast(needles), Seq("fp"))
        .select(col("doc_id"), col("fp"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- sampling: source-mix resampling (the data-mixing primitive) ----
    // Downsample over-represented sources to a target mix with ONE
    // deterministic map-side filter (md5-based uniform — fully oracled,
    // no RNG, partitioning-independent). No counting pass: scales to any
    // corpus size.
    // ---- sampling: temperature (alpha=1/2) source mixing ----
    // Flatten the source distribution toward sqrt-proportional shares by
    // downsampling only — one tiny counting agg, then the md5-uniform
    // map-side filter. Exact IEEE arithmetic mirrored verbatim in the
    // oracle => fully hash-checked.
    // (documents' 20 sources are uniform 25 docs each, under which the
    // mix is correctly a no-op — so group them into skewed tiers
    // 350/100/50 and flatten THOSE: keeps ~0.38/0.71/1.0)
    "s5_temperature_mix" -> ((s, dir) => {
      val sfx = expr("CAST(substring(source, 4) AS INT)")
      val tiered = t(s, dir, "documents").select(col("doc_id"),
        when(sfx < 14, "common").when(sfx < 18, "mid").otherwise("rare")
          .as("source_tier"))
      Sampling.resampleTemperature(tiered, col("source_tier"), col("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- text: self-trained trigram-LM perplexity (CCNet-style) ----
    // The quality filter that needs no external model: char-trigram
    // log-probs from the corpus itself, per-doc perplexity = exp of the
    // decimal-stabilized mean negative logp. Self-trained => zero OOV
    // => every arithmetic step is re-derivable in SQL (ln/exp parity
    // with DuckDB holds like t10's ln).
    // (ppl rounds to 6 decimals: DuckDB's ln differs from the JVM's in
    // the last ulp on a few trigrams — the a6/a7 rounding convention
    // absorbs it)
    "t16_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.trigramLM(docs, "text")
      TextAnalysis.perplexity(docs, "doc_id", "text", lm)
        .select(col("doc_id"), r6z(col("ppl")).as("ppl"),
          col("n_trigrams"))
        .orderBy("doc_id")
    }),

    // ---- text: trained Naive Bayes classifier (fastText's role) ----
    // The LEARNED quality/language filter: multinomial NB with add-one
    // smoothing, trained on (text, lang) and applied back over the
    // corpus. Training = one (token, class) count shuffle; the model is
    // vocabulary-sized and broadcast; scoring is map-side fan-out over
    // the class list + one partial-aggregated groupBy. Every number is
    // a ratio of exact integer counts => fully re-derivable in SQL
    // (score rounds to 6 decimals: the t16 libm-ulp convention).
    "t17_nb_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainNaiveBayes(docs, "text", "lang")
      TextAnalysis.nbClassify(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("pred"),
          r6z(col("score")).as("score"))
        .orderBy("doc_id")
    }),

    // ---- evaluation: classifier confusion metrics. t17's Naive-Bayes
    // predictions against the true labels — per-class n_true/n_pred/tp
    // are exact integers (two partial-agg passes + one full-outer class
    // join, never a per-row matrix), and precision/recall/F1 are each
    // ONE integer division (F1 = 2·tp/(n_pred+n_true) — the harmonic
    // form without the p·r intermediate).
    "a51_confusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainNaiveBayes(docs, "text", "lang")
      val joined = docs.where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"))
        .join(TextAnalysis.nbClassify(docs, "doc_id", "text", model)
          .select(col("doc_id"), col("pred")), "doc_id")
      val byTrue = joined.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
            .as("tp"))
      val byPred = joined.groupBy(col("pred").as("cls"))
        .agg(count(lit(1)).as("n_pred"))
      byTrue.join(byPred, Seq("cls"), "full_outer")
        .select(col("cls"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision",
          when(col("n_pred") > 0,
            col("tp").cast(DoubleType) / col("n_pred") + lit(0.0))
            .otherwise(lit(0.0)))
        .withColumn("recall",
          when(col("n_true") > 0,
            col("tp").cast(DoubleType) / col("n_true") + lit(0.0))
            .otherwise(lit(0.0)))
        .withColumn("f1",
          when(col("n_pred") + col("n_true") > 0,
            lit(2.0) * col("tp") / (col("n_pred") + col("n_true"))
              + lit(0.0))
            .otherwise(lit(0.0)))
        .orderBy("cls")
    }),

    // ---- evaluation: Cohen's kappa — chance-corrected agreement
    // between the t3 heuristic language-ID rater and the reference
    // `lang` labels. After clearing denominators, kappa is ONE
    // division of exact integers (agree·N − Σrt·ct over N² − Σrt·ct).
    "a55_kappa" -> ((s, dir) =>
      Analytics.cohenKappa(
        // fanned out: the per-doc langId battery dominates and a
        // one-file scan runs it single-threaded (r15 Fanout contract)
        operators.Fanout.fanOut(
            t(s, dir, "documents").where(col("lang").isNotNull)
              .select(col("text"), col("lang")))
          .select(TextAnalysis.langId(col("text")).as("pred"),
            col("lang")),
        "pred", "lang")),

    // ---- evaluation: McNemar's paired test — is the NB classifier
    // actually better than the heuristic language-ID on the SAME docs?
    // Only the discordant pair counts matter: χ² = (b−c)²/(b+c), one
    // division of exact integers.
    "a60_mcnemar" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lab = docs.where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"))
      // fanned out: per-doc langId on a one-file scan (r15 Fanout)
      val a = operators.Fanout.fanOut(docs.select("doc_id", "text"))
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred_a"))
      val model = TextAnalysis.trainNaiveBayes(docs, "text", "lang")
      val b = TextAnalysis.nbClassify(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("pred").as("pred_b"))
      val flags = lab.join(a, "doc_id").join(b, "doc_id")
        .select((col("pred_a") === col("lang")).as("ra"),
          (col("pred_b") === col("lang")).as("rb"))
      val agg = flags.agg(count(lit(1)).as("n"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L))
          .as("n_a_only"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L))
          .as("n_b_only"))
      val d = col("n_a_only") - col("n_b_only")
      val tot = col("n_a_only") + col("n_b_only")
      agg.select(col("n"), col("n_a_only"), col("n_b_only"),
        (when(tot > 0,
          round((d * d).cast(DoubleType) / tot.cast(DoubleType), 6)
            + lit(0.0))
          .otherwise(lit(null).cast(DoubleType))).as("mcnemar_chi2"))
    }),

    // ---- text: BM25 keyword relevance (the retrieval scorer) ----
    // Okapi BM25 over the corpus for a keyword query: saturation +
    // length normalization on top of t10's tf-idf. Every float input is
    // a ratio of exact counts; per-term contributions sum as decimals;
    // round-6 output absorbs libm ln ulps.
    "t19_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "spark"))
        .select(col("doc_id"), r6z(col("score")).as("score"),
          col("n_hits"))
        .orderBy("doc_id")),

    // ---- text: exact duplicated-span removal (ExactSubstr dedup) ----
    // Lee et al. 2022 relationalized: k-token windows seen >1 time keep
    // only the globally first (doc, pos) instance; later instances'
    // token positions are cut and the doc is rebuilt. Pure integer/
    // string ops — fully re-derivable in SQL.
    "t18_span_dedup" -> ((s, dir) =>
      TextAnalysis.dedupSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5).orderBy("doc_id")),

    // ---- sampling: token-budget mixture (data-mixing to budgets) ----
    // Each tier contributes docs in deterministic md5-hash order until
    // its TOKEN budget fills (crossing doc included). Window cumsum +
    // broadcast budget join — exactly re-derivable in SQL => full hash
    // oracle.
    "s8_token_budget_mix" -> ((s, dir) => {
      val sfx = expr("CAST(substring(source, 4) AS INT)")
      val tiered = t(s, dir, "documents").select(col("doc_id"),
        when(sfx < 14, "common").when(sfx < 18, "mid").otherwise("rare")
          .as("source_tier"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      // numShards=16: the two-phase sharded prefix sum (output identical
      // to the single-window path, spec-pinned) — one mixture group no
      // longer serializes through a single window task
      Sampling.tokenBudgetMix(tiered, col("source_tier"), col("doc_id"),
        col("n_tokens"),
        Map("common" -> 15000L, "mid" -> 6000L, "rare" -> 2000L),
        numShards = 16)
        .orderBy("doc_id")
    }),

    // ---- sampling: repetition-factor mix (the upsampling half) ----
    // rare sources repeat 2.5x per epoch (2 copies + a deterministic
    // half-probability third), mid 1x, common downsamples to 0.5 — one
    // map-side explode, the s4/s5 md5-uniform salted ":rep".
    "s9_repeat_mix" -> ((s, dir) => {
      val sfx = expr("CAST(substring(source, 4) AS INT)")
      val tiered = t(s, dir, "documents").select(col("doc_id"),
        when(sfx < 14, "common").when(sfx < 18, "mid").otherwise("rare")
          .as("source_tier"))
      Sampling.repeatMix(tiered, col("source_tier"), col("doc_id"),
        Map("common" -> 0.5, "mid" -> 1.0, "rare" -> 2.5))
        .orderBy("doc_id", "repeat_idx")
    }),

    // ---- sketch: grouped frequent items (top-5 terms per language) ----
    // Same exact-configuration oracle as hh1, but under groupBy: the
    // sketch now rides Spark's partial/final hash-aggregation path (one
    // sketch per (partition, lang) merged across the shuffle), proving
    // the merge step inside the engine's standard two-phase aggregation.
    "hh2_freq_by_lang" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("lang")
        .agg(graft.functions.GraftFunctions
          .freqItems(col("tok"), 1024).as("sk"))
        .select(col("lang"), posexplode(slice(col("sk"), 1, 5)))
        .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rk"),
          col("col.item").as("term"), col("col.count_lb").as("n"))
        .orderBy("lang", "rk")),

    // ---- reshape: unpivot/melt (inverse of a11_pivot) ----
    // Wide measure columns to long (metric, val) rows via the native
    // unpivot operator (Expand under the hood: map-side row explosion,
    // no shuffle; the wide weather feeds are exactly this shape).
    "a20_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") <= 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // ---- sampling: reproducible global shuffle (training-example order) ----
    // Sort by a seeded md5 key: pure function of (seed, id) — identical
    // on any cluster layout, re-derivable by any engine with md5().
    // Range-partition + sort at scale; no global rank is materialized.
    "s6_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), seed = 42L)
        .select(col("doc_id"), col("shuffle_key"))),

    // ---- sampling: deterministic round-robin source interleave ----
    // The training ORDER half of mixing: groups cycle at equal rank, so
    // no batch window is source-dominated. Two-level rank (no single
    // task sorts a whole group); pure function of (seed, group, id).
    "s10_interleave" -> ((s, dir) =>
      Sampling.interleaveByGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), seed = 7L)),

    // ---- sampling: systematic PPS (weight = n_chars, k per source) ----
    // Deterministic md5 order + integer running-weight crossings: ≤ 20
    // rows per source, inclusion probability ∝ document length, pure
    // integer arithmetic — fully hash-oracled.
    "s11_pps" -> ((s, dir) =>
      Sampling.ppsSample(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        col("source"), col("doc_id"), col("n_chars"), k = 20, seed = 11L)
        .orderBy("doc_id")),

    // ---- sampling: stable train/val/test split ----
    // Hash-threshold assignment (exact binary-fraction weights so the
    // cumulative thresholds are IEEE-exact in both engines): a doc's
    // split never changes as the corpus grows — no leakage on re-split.
    "s7_split" -> ((s, dir) =>
      Sampling.hashSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    "s4_mix_sample" -> ((s, dir) =>
      Sampling.resampleToMix(t(s, dir, "documents"),
        col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0),
        defaultFraction = 0.75)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // ---- sampling: stratified per-group quota (deterministic hash) ----
    "s3_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(pmod(col("c_custkey") * lit(2654435761L), lit(1000000007L)),
          col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 20)
        .select(col("c_mktsegment"), col("rk").cast(IntegerType).as("rk"),
          col("c_custkey"))
        .orderBy("c_mktsegment", "rk")
    }),

    // ---- text: top-k TF-IDF terms per document ----
    "t10_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")),

    // ---- profiling: one-pass per-column statistics ----
    "a12_profile" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        Analytics.stableSum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_returnflag")).as("ndv_flag"),
        count(lit(1)).as("n_rows"))),

    // ---- multimodal: deterministic frame sampling ----
    "mm3_frame_sample" -> ((s, dir) => {
      val bin = Multimodal.attachBinary(t(s, dir, "documents"), "text", "video")
      Multimodal.sampleFrames(bin, "doc_id", "payload", n = 4)
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- SQL entry point: analyst SQL over registered lake views ----
    "sql1_hourly" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      graft.sql.SqlLayer.run(s, graft.sql.SqlLayer.hourlyAvg)
    }),

    // ---- SQL as-of surface: standard join + graft_asof marker, rewritten
    // by the injected optimizer rule into the sort-merge as-of operator ----
    "sql2_asof" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events", "orders"))
      s.sql(
        """SELECT e.event_id, e.user_id, o.best_price AS asof_price
          |FROM events e JOIN (
          |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
          |  FROM orders GROUP BY o_custkey, o_orderdate) o
          |  ON e.user_id = o.o_custkey AND graft_asof(e.ts, o.o_orderdate)
          |ORDER BY e.event_id""".stripMargin)
        .select(col("event_id"), col("user_id"), col("asof_price"))
    }),

    // ---- SQL surface of the sequential smoother: hand-rolled analyst
    // SQL over the REGISTERED graft_ewma_fold kernel reproduces ts3
    // exactly (same recursive-CTE oracle) — the fold family is
    // reachable from SQL, not just the Scala API.
    "sql5_ewma" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH g AS (
          |  SELECT user_id,
          |    sort_array(collect_list(struct(ts, event_id,
          |      CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x))) AS s
          |  FROM events
          |  WHERE ts IS NOT NULL AND value IS NOT NULL
          |    AND CAST(value AS DECIMAL(18,2)) IS NOT NULL
          |  GROUP BY user_id),
          |f AS (SELECT user_id, s,
          |        graft_ewma_fold(transform(s, r -> r.x), 0.25D) AS e
          |      FROM g)
          |SELECT user_id, r.ts, r.event_id, r.x AS value,
          |       element_at(e, i + 1) AS ewma
          |FROM f LATERAL VIEW posexplode(s) AS i, r
          |ORDER BY user_id, ts, event_id""".stripMargin)
    }),

    // ---- SQL surface of the survival pair: hand-written analyst SQL
    // over the registered graft_km_fold + graft_na_fold kernels
    // rebuilds ts10's exact risk sets and publishes BOTH the KM
    // product and the Nelson-Aalen sum from one step list — the
    // survival family is reachable from SQL, not just the Scala API.
    "sql6_survival" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH subj AS (
          |  SELECT user_id,
          |    CAST(floor((unix_micros(MAX(ts)) - unix_micros(MIN(ts)))
          |      / 86400000000) AS BIGINT) AS t_days,
          |    pmod(user_id, 5) <> 0 AS churned,
          |    pmod(user_id, 3) AS cohort
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY user_id),
          |st AS (
          |  SELECT cohort, t_days AS t,
          |    SUM(CASE WHEN churned THEN 1L ELSE 0L END) AS d,
          |    SUM(CASE WHEN churned THEN 0L ELSE 1L END) AS c
          |  FROM subj GROUP BY cohort, t_days),
          |rk AS (
          |  SELECT cohort, t, d, c,
          |    SUM(d + c) OVER (PARTITION BY cohort) -
          |      COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY t
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |        0L) AS n
          |  FROM st),
          |g AS (
          |  SELECT cohort,
          |    sort_array(collect_list(struct(t, d, c, n))) AS s
          |  FROM rk GROUP BY cohort),
          |f AS (
          |  SELECT cohort, s,
          |    graft_km_fold(transform(s, r -> r.d),
          |                  transform(s, r -> r.n)) AS km,
          |    graft_na_fold(transform(s, r -> r.d),
          |                  transform(s, r -> r.n)) AS na
          |  FROM g)
          |SELECT cohort, r.t, r.n AS n_risk, r.d AS n_events,
          |  r.c AS n_censored,
          |  element_at(km, i + 1) AS survival,
          |  element_at(na, i + 1) AS cum_hazard
          |FROM f LATERAL VIEW posexplode(s) AS i, r
          |ORDER BY cohort, t""".stripMargin)
    }),

    // ---- SQL surface of the retention matrix (a64 in analyst SQL:
    // same day buckets, first-activity cohorts, distinct-active
    // counts, one division) ----
    "sql7_retention" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH active AS (
          |  SELECT DISTINCT user_id AS u,
          |    CAST((unix_micros(ts) - pmod(unix_micros(ts), 86400000000))
          |      / 86400000000 AS BIGINT) AS p
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |cohorts AS (SELECT u, min(p) AS c FROM active GROUP BY u),
          |sizes AS (SELECT c, count(*) AS size FROM cohorts GROUP BY c),
          |cells AS (
          |  SELECT c AS cohort, a.p - c AS age, count(*) AS n_active
          |  FROM active a JOIN cohorts USING (u) GROUP BY 1, 2)
          |SELECT cohort, age, n_active, size AS cohort_size,
          |  CAST(n_active AS DOUBLE) / CAST(size AS DOUBLE) AS retention
          |FROM cells JOIN sizes ON cells.cohort = sizes.c
          |ORDER BY cohort, age""".stripMargin)
    }),

    // ---- SQL surface of split conformal (a65 in analyst SQL: the
    // same exact-integer rank over calibration residuals, the same
    // one-row quantile applied to the test half) ----
    "sql8_conformal" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH e AS (
          |  SELECT event_id, user_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS y
          |  FROM events
          |  WHERE user_id IS NOT NULL AND value IS NOT NULL
          |    AND CAST(value AS DECIMAL(18,2)) IS NOT NULL),
          |p AS (
          |  SELECT user_id,
          |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / count(y)
          |      AS yhat
          |  FROM e WHERE pmod(event_id, 2) = 0 GROUP BY user_id),
          |r AS (
          |  SELECT abs(e.y - p.yhat) AS r
          |  FROM e JOIN p USING (user_id) WHERE pmod(e.event_id, 2) = 0),
          |cnt AS (SELECT r, count(*) AS c FROM r GROUP BY r),
          |cum AS (
          |  SELECT r,
          |    sum(c) OVER (ORDER BY r
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(c) OVER () AS gn
          |  FROM cnt),
          |q AS (
          |  SELECT min(r) AS q FROM (
          |    SELECT r, cum,
          |      least(CAST(((gn + 1L) * 90L + 99L
          |          - pmod((gn + 1L) * 90L + 99L, 100L)) / 100L
          |        AS BIGINT), gn) AS rank
          |    FROM cum)
          |  WHERE cum >= rank)
          |SELECT e.event_id, e.user_id, p.yhat AS pred, e.y AS actual,
          |  p.yhat - q.q AS lo, p.yhat + q.q AS hi,
          |  (e.y >= p.yhat - q.q AND e.y <= p.yhat + q.q) AS covered
          |FROM e JOIN p USING (user_id) CROSS JOIN q
          |WHERE pmod(e.event_id, 2) = 1
          |ORDER BY event_id""".stripMargin)
    }),

    // ---- SQL surface of isotonic regression: the registered
    // graft_pav_fold over a sorted cents list reproduces ts24 exactly
    // (same minimax oracle) — the calibration fit is reachable from
    // hand-written SQL. ----
    "sql10_isotonic" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH g AS (
          |  SELECT user_id,
          |    sort_array(collect_list(struct(ts, event_id,
          |      CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
          |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
          |        AS c))) AS s
          |  FROM events
          |  WHERE user_id IS NOT NULL AND user_id < 20
          |    AND ts IS NOT NULL AND value IS NOT NULL
          |    AND CAST(value AS DECIMAL(18,2)) IS NOT NULL
          |  GROUP BY user_id),
          |f AS (SELECT user_id, s,
          |        graft_pav_fold(transform(s, r -> r.c)) AS p
          |      FROM g)
          |SELECT user_id, r.ts, r.event_id, r.x AS value,
          |       element_at(p, i + 1) AS fitted
          |FROM f LATERAL VIEW posexplode(s) AS i, r
          |ORDER BY user_id, ts, event_id""".stripMargin)
    }),

    // ---- SQL surface of the Markov transition matrix (w13 in analyst
    // SQL: the same lead pairs and conditional share) ----
    "sql9_transitions" -> ((s, dir) => {
      graft.sql.SqlLayer.register(s, dir, Seq("events"))
      s.sql(
        """WITH p AS (
          |  SELECT event_type AS from_state,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS to_state
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          |c AS (
          |  SELECT from_state, to_state, count(*) AS n_transitions
          |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
          |SELECT from_state, to_state, n_transitions,
          |  CAST(n_transitions AS DOUBLE)
          |    / CAST(sum(n_transitions) OVER (PARTITION BY from_state)
          |           AS DOUBLE) AS p
          |FROM c ORDER BY from_state, to_state""".stripMargin)
    }),

    // ---- F2: zone-offset timestamp parsing (yyyy-MM-dd HH:mm:ssXXX) ----
    "f2_offset_parse" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        Normalize.parseTimestamp(
          concat(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
            lit("-05:00")),
          "yyyy-MM-dd HH:mm:ssXXX").cast(LongType).as("epoch_s"))
        .orderBy("o_orderkey")
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared by t24 (ad-hoc retrieval join) and t24b (persisted
    * inverted index) — the index form must reproduce the ad-hoc result
    * byte-for-byte through a disk round-trip.
    */
  private val bm25RetrievalOracle: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM tok WHERE term <> '' GROUP BY doc_id, term),
      |lens AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(dl) AS DOUBLE) AS s FROM lens),
      |dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
      |  FROM tf GROUP BY term),
      |idf AS (SELECT term,
      |    ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)) AS idf
      |  FROM dfq WHERE df <= 0.9 * (SELECT n FROM st)),
      |q AS (SELECT doc_id AS qid, array_to_string(list_slice(
      |      string_split_regex(trim(text), '\s+'), 1, 4), ' ') AS qtx
      |  FROM documents WHERE doc_id % 53 = 1),
      |qt AS (SELECT DISTINCT qid, term FROM (
      |    SELECT qid, unnest(string_split_regex(trim(qtx), '\s+')) AS term
      |    FROM q) WHERE term <> ''),
      |sc AS (SELECT qt.qid, tf.doc_id,
      |    idf.idf * (tf.tf * (1.2 + 1)) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 *
      |        (lens.dl / ((SELECT s FROM st) / (SELECT n FROM st))))) AS s
      |  FROM qt JOIN idf ON qt.term = idf.term
      |  JOIN tf ON tf.term = qt.term
      |  JOIN lens ON tf.doc_id = lens.doc_id),
      |agg AS (SELECT qid, doc_id,
      |    round(CAST(SUM(CAST(s AS DECIMAL(28,18))) AS DOUBLE), 6)
      |      + 0.0 AS score
      |  FROM sc GROUP BY qid, doc_id),
      |rk AS (SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM agg)
      |SELECT qid, doc_id, score, CAST(rank AS INT) AS rank
      |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Generated Gopher-battery oracle: per n, the gram frame (pos,
    * gram, gram-chars), then either the top-1 row (count DESC, chars
    * DESC, gram byte-order ASC) or the covered-position union for the
    * dup family — the t18 covered-position pattern, once per n.
    */
  private val gopherOracle: String = {
    def gram(n: Int) =
      s"""g$n AS (SELECT doc_id, pos,
         |    array_to_string(t[pos:pos+${n - 1}], ' ') AS gram,
         |    len(array_to_string(t[pos:pos+${n - 1}], '')) AS gchars
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - $n + 2)) AS pos
         |        FROM base WHERE len(t) >= $n))""".stripMargin
    def top(n: Int) =
      s"""top$n AS (SELECT doc_id,
         |    CAST(cnt * gchars AS DOUBLE) / CAST(total AS DOUBLE) AS frac
         |  FROM (SELECT doc_id, gram, gchars, COUNT(*) AS cnt,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY COUNT(*) DESC, gchars DESC, gram ASC) AS rk
         |        FROM g$n GROUP BY doc_id, gram, gchars)
         |  JOIN tot USING (doc_id) WHERE rk = 1 AND total > 0)""".stripMargin
    def dup(n: Int) =
      s"""dd$n AS (SELECT doc_id, gram FROM g$n
         |  GROUP BY doc_id, gram HAVING COUNT(*) > 1),
         |cov$n AS (SELECT DISTINCT g.doc_id, g.pos + ofs AS tp
         |  FROM g$n g JOIN dd$n USING (doc_id, gram)
         |  CROSS JOIN (SELECT unnest(range(0, $n)) AS ofs) o),
         |f$n AS (SELECT b.doc_id,
         |    CAST(COALESCE(SUM(len(b.t[c.tp])), 0) AS DOUBLE)
         |      / CAST(ANY_VALUE(tot.total) AS DOUBLE) AS frac
         |  FROM base b JOIN tot USING (doc_id)
         |  LEFT JOIN cov$n c ON b.doc_id = c.doc_id
         |  WHERE tot.total > 0 GROUP BY b.doc_id)""".stripMargin
    val topNs = Seq(2, 3, 4)
    val dupNs = (5 to 10).toSeq
    s"""WITH docs AS (SELECT doc_id,
       |    text || ' ' || array_to_string(list_slice(
       |      string_split_regex(trim(text), '\\s+'), 1, 10), ' ') AS text
       |  FROM documents),
       |base AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS t FROM docs),
       |tot AS (SELECT doc_id,
       |    COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS total
       |  FROM base),
       |${(topNs ++ dupNs).map(gram).mkString(",\n")},
       |${topNs.map(top).mkString(",\n")},
       |${dupNs.map(dup).mkString(",\n")}
       |SELECT b.doc_id,
       |${topNs.map(n =>
           s"  COALESCE(top$n.frac, 0.0) AS top_${n}gram_char_frac")
         .mkString(",\n")},
       |${dupNs.map(n =>
           s"  COALESCE(f$n.frac, 0.0) AS dup_${n}gram_char_frac")
         .mkString(",\n")}
       |FROM base b
       |${topNs.map(n => s"LEFT JOIN top$n USING (doc_id)").mkString("\n")}
       |${dupNs.map(n => s"LEFT JOIN f$n USING (doc_id)").mkString("\n")}
       |ORDER BY doc_id""".stripMargin
  }

  /** g6's oracle: synchronous min-mode LPA unrolled per round — each
    * round a (dst, label) count + a per-dst argmax (count DESC, label
    * ASC) row_number, isolated vertices carried by the LEFT JOIN.
    */
  private val lpaOracle: String = {
    def iter(i: Int): String = {
      val p = i - 1
      s"""n$i AS (SELECT e.dst AS v, l.lbl,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY COUNT(*) DESC, l.lbl ASC) AS rk
         |  FROM edges e JOIN l$p l ON e.src = l.v GROUP BY e.dst, l.lbl),
         |l$i AS (SELECT l$p.v, COALESCE(n.lbl, l$p.lbl) AS lbl
         |  FROM l$p LEFT JOIN (SELECT v, lbl FROM n$i WHERE rk = 1) n
         |    ON n.v = l$p.v)""".stripMargin
    }
    s"""WITH lp AS (
       |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey
       |    AND a.c_mktsegment = b.c_mktsegment
       |    AND a.c_custkey < b.c_custkey
       |  WHERE CAST(
       |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
       |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
       |          ELSE -1.0 END)
       |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
       |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
       |            ELSE -0.5 END)
       |  AS DOUBLE) >= 3.0),
       |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
       |          UNION SELECT v2, v1 FROM lp),
       |l0 AS (SELECT c_custkey AS v, c_custkey AS lbl FROM customer),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT v AS c_custkey, lbl AS label FROM l4
       |ORDER BY c_custkey""".stripMargin
  }

  /** g7's oracle: the k=2 peel unrolled 16 rounds (observed fixpoint
    * depth <= 7 at every SF; the peel is idempotent at the fixpoint, so
    * surplus rounds change nothing). Keep-list formulation per round.
    */
  private val kcoreOracle: String = {
    def round(i: Int): String = {
      val p = i - 1
      s"""d$i AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS dg FROM (
         |    SELECT a AS v FROM e$p UNION ALL SELECT b FROM e$p)
         |  GROUP BY v),
         |e$i AS MATERIALIZED (SELECT a, b FROM e$p
         |  WHERE a IN (SELECT v FROM d$i WHERE dg >= 2)
         |    AND b IN (SELECT v FROM d$i WHERE dg >= 2))""".stripMargin
    }
    val n = 16
    s"""WITH lp AS MATERIALIZED (
       |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey
       |    AND a.c_mktsegment = b.c_mktsegment
       |    AND a.c_custkey < b.c_custkey
       |  WHERE CAST(
       |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
       |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
       |          ELSE -1.0 END)
       |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
       |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
       |            ELSE -0.5 END)
       |  AS DOUBLE) >= 3.0),
       |e0 AS MATERIALIZED (SELECT v1 AS a, v2 AS b FROM lp),
       |${(1 to n).map(round).mkString(",\n")}
       |SELECT v AS c_custkey, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |  SELECT a AS v FROM e$n UNION ALL SELECT b FROM e$n)
       |GROUP BY v ORDER BY c_custkey""".stripMargin
  }

  /** g9's oracle: the ≤-maxHops min-distance relaxation unrolled —
    * round i takes the min of round i−1 and one more edge step. BFS
    * frontier propagation computes exactly this set of distances.
    */
  private val seedDistOracle: String = {
    def step(i: Int): String = {
      val p = i - 1
      s"""s$i AS MATERIALIZED (SELECT v, MIN(d) AS d FROM (
         |    SELECT v, d FROM s$p
         |    UNION ALL SELECT e.dst AS v, s.d + 1 AS d
         |    FROM edges e JOIN s$p s ON e.src = s.v) GROUP BY v)""".stripMargin
    }
    val n = 8
    s"""WITH lp AS MATERIALIZED (
       |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey
       |    AND a.c_mktsegment = b.c_mktsegment
       |    AND a.c_custkey < b.c_custkey
       |  WHERE CAST(
       |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
       |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
       |          ELSE -1.0 END)
       |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
       |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
       |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
       |            ELSE -0.5 END)
       |  AS DOUBLE) >= 3.0),
       |edges AS MATERIALIZED (SELECT v1 AS src, v2 AS dst FROM lp
       |          UNION SELECT v2, v1 FROM lp),
       |s0 AS MATERIALIZED (SELECT c_custkey AS v, 0 AS d FROM customer
       |  WHERE c_custkey % 10 = 0),
       |${(1 to n).map(step).mkString(",\n")}
       |SELECT c.c_custkey, CAST(s$n.d AS INT) AS hops
       |FROM customer c LEFT JOIN s$n ON s$n.v = c.c_custkey
       |ORDER BY c.c_custkey""".stripMargin
  }

  /** g10's oracle: the same wedge formulation — middles under the
    * degree cap pair their endpoints, existing edges anti-joined out,
    * Adamic–Adar terms as DECIMAL(28,18) exact sums (round-6 after the
    * double cast absorbs the int128→double rounding on both engines).
    */
  private val linkPredOracle: String =
    """WITH lp AS MATERIALIZED (
      |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey
      |    AND a.c_mktsegment = b.c_mktsegment
      |    AND a.c_custkey < b.c_custkey
      |  WHERE CAST(
      |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
      |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
      |          ELSE -1.0 END)
      |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
      |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
      |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
      |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
      |            ELSE -0.5 END)
      |  AS DOUBLE) >= 3.0),
      |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
      |          UNION ALL SELECT v2, v1 FROM lp),
      |deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS dg
      |        FROM edges GROUP BY src),
      |mids AS (SELECT e.src AS mid, e.dst AS endp, d.dg AS mdeg
      |         FROM edges e JOIN deg d ON d.v = e.src
      |         WHERE d.dg <= 10000),
      |wg AS (SELECT e1.endp AS u, e2.endp AS w,
      |         CAST(1.0 / ln(CAST(e1.mdeg AS DOUBLE)) AS DECIMAL(28,18))
      |           AS aa
      |       FROM mids e1 JOIN mids e2
      |         ON e1.mid = e2.mid AND e1.endp < e2.endp),
      |nw AS (SELECT u, w, CAST(COUNT(*) AS BIGINT) AS cn,
      |         SUM(aa) AS aas
      |       FROM wg
      |       WHERE NOT EXISTS (SELECT 1 FROM lp
      |         WHERE lp.v1 = wg.u AND lp.v2 = wg.w)
      |       GROUP BY u, w)
      |SELECT nw.u AS c_custkey, nw.w AS c_custkey_2,
      |  cn AS common_neighbors,
      |  CAST(cn AS DOUBLE) / CAST(du.dg + dw.dg - cn AS DOUBLE) + 0.0
      |    AS jaccard,
      |  round(CAST(aas AS DOUBLE), 6) + 0.0 AS adamic_adar
      |FROM nw JOIN deg du ON du.v = nw.u JOIN deg dw ON dw.v = nw.w
      |ORDER BY c_custkey, c_custkey_2""".stripMargin

  /** g13's oracle: exact hop-3 closure by layered joins — d2/d3 are
    * the one-step expansions EXCEPT everything already closer; per-u
    * distance counts fold n_d/d through DECIMAL(38,18) like the
    * engine.
    */
  private val harmonicOracle: String =
    """WITH lp AS MATERIALIZED (
      |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey
      |    AND a.c_mktsegment = b.c_mktsegment
      |    AND a.c_custkey < b.c_custkey
      |  WHERE CAST(
      |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
      |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
      |          ELSE -1.0 END)
      |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
      |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
      |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
      |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
      |            ELSE -0.5 END)
      |  AS DOUBLE) >= 3.0),
      |edges AS MATERIALIZED (SELECT v1 AS src, v2 AS dst FROM lp
      |          UNION SELECT v2, v1 FROM lp),
      |d1 AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges),
      |d2 AS MATERIALIZED (
      |  SELECT u, v FROM (
      |    SELECT DISTINCT x.u AS u, e.dst AS v
      |    FROM d1 x JOIN edges e ON e.src = x.v
      |    WHERE x.u <> e.dst) q
      |  EXCEPT SELECT u, v FROM d1),
      |d3 AS MATERIALIZED (
      |  SELECT u, v FROM (
      |    SELECT DISTINCT x.u AS u, e.dst AS v
      |    FROM d2 x JOIN edges e ON e.src = x.v
      |    WHERE x.u <> e.dst) q
      |  EXCEPT SELECT u, v FROM d1
      |  EXCEPT SELECT u, v FROM d2),
      |alld AS (SELECT u, v, 1 AS d FROM d1
      |  UNION ALL SELECT u, v, 2 FROM d2
      |  UNION ALL SELECT u, v, 3 FROM d3),
      |per AS (SELECT u, d, CAST(COUNT(*) AS BIGINT) AS nd
      |  FROM alld GROUP BY u, d),
      |agg AS (SELECT u, CAST(SUM(nd) AS BIGINT) AS n_reached,
      |    SUM(CAST(CAST(nd AS DOUBLE) / CAST(d AS DOUBLE)
      |      AS DECIMAL(38,18))) AS h
      |  FROM per GROUP BY u)
      |SELECT u AS c_custkey, n_reached,
      |  round(CAST(h AS DOUBLE), 6) + 0.0 AS harmonic
      |FROM agg ORDER BY c_custkey""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // harmonic centrality replayed (layered closure — see harmonicOracle)
    "g13_harmonic" -> harmonicOracle,
    // full Gopher battery replayed (generated per n — see gopherOracle)
    "t25_gopher" -> gopherOracle,

    // k-core replayed (generated unrolled peel — see kcoreOracle)
    "g7_kcore" -> kcoreOracle,

    // seed distance replayed (generated relaxation — see seedDistOracle)
    "g9_seed_distance" -> seedDistOracle,

    // link prediction replayed (wedge + anti-join — see linkPredOracle)
    "g10_link_prediction" -> linkPredOracle,

    // co-purchase projection: same distinct + self-join + exact-decimal
    // lift products
    "g11_copurchase" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sz AS (SELECT b, count(*) AS bs FROM bi GROUP BY b),
        |kept AS (SELECT bi.b, bi.i FROM bi JOIN sz ON bi.b = sz.b
        |  WHERE sz.bs <= 1000),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM kept
        |  GROUP BY i),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM kept),
        |p AS (SELECT a.i AS item_a, b.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_baskets
        |  FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_baskets, ia.ni AS n_a,
        |  ib.ni AS n_b,
        |  round(CAST(CAST(p.n_baskets AS DECIMAL(38,0))
        |      * CAST(nb.nb AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(ia.ni AS DECIMAL(38,0))
        |      * CAST(ib.ni AS DECIMAL(38,0)) AS DOUBLE), 6) + 0.0
        |    AS lift
        |FROM p JOIN it ia ON ia.i = p.item_a
        |JOIN it ib ON ib.i = p.item_b
        |CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    // weighted quantiles replayed: same (group, value) pre-agg, same
    // cumulative-weight windows, same exact rational threshold tests
    "a31_weighted_quantiles" ->
      """WITH byval AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, v,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM byval)
        |SELECT l_returnflag,
        |  CAST(MIN(CASE WHEN cw * 4 >= tw * 1 THEN v END) AS DOUBLE) AS p25,
        |  CAST(MIN(CASE WHEN cw * 2 >= tw * 1 THEN v END) AS DOUBLE)
        |    AS wmedian,
        |  CAST(MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS DOUBLE) AS p75
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // interval coverage replayed: same running-max island flags, same
    // two-level aggregation — exact integer micros throughout
    "j12_interval_coverage" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (60 + event_id % 600) * 1000000 AS e
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |m AS (SELECT user_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |fl AS (SELECT user_id, s, e,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf
        |  FROM m),
        |isl AS (SELECT user_id, s, e,
        |    SUM(nf) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM fl),
        |g AS (SELECT user_id, iid, MIN(s) AS i_s, MAX(e) AS i_e
        |  FROM isl GROUP BY user_id, iid)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(i_e - i_s) AS BIGINT) AS covered_us,
        |  CAST(MAX(i_e - i_s) AS BIGINT) AS max_island_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Q2 analog replayed: per-part min joined back on exact decimals
    "q2_min_cost_supplier" ->
      """WITH eur AS (SELECT n_nationkey, n_name FROM nation
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (SELECT p_partkey, p_name, s_suppkey, s_name,
        |    CAST(s_acctbal AS DECIMAL(18,2)) AS bal, n_name,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_size = 15
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN eur ON s_nationkey = n_nationkey),
        |mc AS (SELECT p_partkey AS mk, MIN(cost) AS min_cost
        |  FROM offers GROUP BY 1)
        |SELECT DISTINCT CAST(bal AS DOUBLE) AS s_acctbal, s_name, n_name,
        |  p_partkey, p_name, CAST(min_cost AS DOUBLE) AS min_cost
        |FROM offers JOIN mc ON p_partkey = mk AND cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    // Q9 analog replayed: all-decimal profit (2·revenue − retail·qty)
    "q9_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4)) * 2
        |    - CAST(p_retailprice AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%r%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    // Q11 analog replayed: integer-scaled decimal threshold vs the
    // global scalar (val·n·20 > t·21 ⇔ share > 1.05× mean)
    "q11_important_values" ->
      """WITH v AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(val) AS t, COUNT(*) AS n FROM v)
        |SELECT l_suppkey, CAST(val AS DOUBLE) AS value
        |FROM v, tot WHERE val * n * 20 > t * 21
        |ORDER BY value DESC, l_suppkey""".stripMargin,

    // Q15 analog replayed: rank-1 over exact decimal revenue, ties kept
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |rk AS (SELECT l_suppkey, r, rank() OVER (ORDER BY r DESC) AS k
        |  FROM rev)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM rk JOIN supplier ON l_suppkey = s_suppkey
        |WHERE k = 1 ORDER BY s_suppkey""".stripMargin,

    // Q16 analog replayed: NOT IN over non-null keys == anti join
    "q16_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |  AND p_type <> 'PROMO' AND p_brand <> 'Brand#5'
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q20 analog replayed: HAVING aggregate inside the IN chain
    "q20_volume_suppliers" ->
      """WITH heavy AS (SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 80)
        |SELECT DISTINCT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
        |ORDER BY s_name""".stripMargin,

    // theta view over the fixed 25-key nation domain: exact regime, so
    // the maintained estimate == COUNT(DISTINCT) over the surviving
    // rows even through the delete-bearing window
    "mv7_theta_rollup" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_rows,
        |  COUNT(c_nationkey) AS cnt_c_nationkey,
        |  CAST(SUM(CAST(c_nationkey AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_c_nationkey,
        |  CAST(SUM(CAST(c_nationkey AS DECIMAL(38,2))) AS DOUBLE) /
        |    COUNT(c_nationkey) AS avg_c_nationkey,
        |  CAST(COUNT(DISTINCT c_nationkey) AS DOUBLE)
        |    AS theta_c_nationkey
        |FROM customer WHERE c_custkey % 5 <> 0
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // theta exact regime: every estimate IS the distinct-set algebra
    "a30_theta" ->
      """WITH b AS (SELECT DISTINCT c_nationkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |m AS (SELECT DISTINCT c_nationkey FROM customer
        |  WHERE c_mktsegment = 'MACHINERY')
        |SELECT c_mktsegment AS seg,
        |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nations
        |FROM customer GROUP BY 1
        |UNION ALL SELECT '__ALL__',
        |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer
        |UNION ALL SELECT '__B_AND_M__', CAST(COUNT(*) AS BIGINT) FROM b
        |  WHERE c_nationkey IN (SELECT c_nationkey FROM m)
        |UNION ALL SELECT '__B_NOT_M__', CAST(COUNT(*) AS BIGINT) FROM b
        |  WHERE c_nationkey NOT IN (SELECT c_nationkey FROM m)
        |ORDER BY seg""".stripMargin,

    // TrustRank replayed: g3's integer power iteration with r0 and the
    // base term gated on the seed predicate (c_custkey % 10 = 0)
    "g8_trustrank" ->
      """WITH lp AS (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
        |          UNION SELECT v2, v1 FROM lp),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM edges GROUP BY src),
        |r0 AS (SELECT c_custkey AS v,
        |         CAST(CASE WHEN c_custkey % 10 = 0 THEN 1000000000
        |              ELSE 0 END AS BIGINT) AS r
        |       FROM customer),
        |c1 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r0 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT r0.v,
        |         CASE WHEN r0.v % 10 = 0 THEN 150000000 ELSE 0 END
        |           + COALESCE(c1.cin, 0) AS r
        |       FROM r0 LEFT JOIN c1 ON c1.v = r0.v),
        |c2 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r1 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT r1.v,
        |         CASE WHEN r1.v % 10 = 0 THEN 150000000 ELSE 0 END
        |           + COALESCE(c2.cin, 0) AS r
        |       FROM r1 LEFT JOIN c2 ON c2.v = r1.v),
        |c3 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r2 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT r2.v,
        |         CASE WHEN r2.v % 10 = 0 THEN 150000000 ELSE 0 END
        |           + COALESCE(c3.cin, 0) AS r
        |       FROM r2 LEFT JOIN c3 ON c3.v = r2.v)
        |SELECT v AS c_custkey, CAST(r AS BIGINT) AS tr_nano
        |FROM r3 ORDER BY c_custkey""".stripMargin,

    // C4 cleaning replayed: same prep, list_filter line predicate,
    // replace-based sentence counting — all exact strings/ints
    "t26_c4" ->
      """WITH prep AS (SELECT doc_id,
        |    replace(text, ' data ', '.' || chr(10) || 'data ') || '.'
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN chr(10) || 'you must enable javascript here.'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN chr(10) || 'see the lorem ipsum filler.'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'stray { brace here.' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN chr(10) || 'contains badword token here.'
        |         ELSE '' END AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t,
        |    string_split(t, chr(10)) AS lines,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |        l -> trim(l)),
        |      x -> x <> ''
        |        AND (right(x, 1) = '.' OR right(x, 1) = '!'
        |             OR right(x, 1) = '?' OR right(x, 1) = '"')
        |        AND len(string_split_regex(x, '\s+')) >= 3
        |        AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM prep),
        |c AS (SELECT doc_id, lines, kept,
        |    array_to_string(kept, chr(10)) AS clean,
        |    len(array_to_string(kept, chr(10)))
        |      - len(replace(replace(replace(array_to_string(kept, chr(10)),
        |          '.', ''), '!', ''), '?', '')) AS sentences,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem,
        |    contains(t, '{') AS has_brace,
        |    (contains(lower(t), 'badword')
        |      OR contains(lower(t), 'nsfw')) AS has_bad
        |  FROM base)
        |SELECT doc_id,
        |  clean AS clean_text,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  CAST(sentences AS INT) AS n_sentences,
        |  has_lorem, has_brace, has_bad,
        |  (sentences >= 5 AND NOT has_lorem AND NOT has_brace
        |    AND NOT has_bad) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    // Gopher quality rules replayed: same prep, list ops for word/line
    // stats, replace-based symbol counting — every fraction ONE
    // division of exact integer counts
    "t27_gopher_quality" ->
      """WITH prep AS (SELECT doc_id,
        |    replace(replace(replace(replace(text,
        |      ' data ', '.' || chr(10) || 'data '),
        |      ' slow ', ' #... slow '),
        |      chr(10) || 'data big', chr(10) || '- data big'),
        |      'spark.' || chr(10), 'spark...' || chr(10)) AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t,
        |    string_split(t, chr(10)) AS lines,
        |    string_split_regex(trim(t), '\s+') AS words
        |  FROM prep),
        |m AS (SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS word_count,
        |    COALESCE(list_sum(list_transform(words, w -> len(w))), 0)
        |      AS chars,
        |    len(list_filter(words,
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
        |    CAST(len(list_filter(words, w -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], w)))
        |      AS BIGINT) AS stopword_count,
        |    len(t) - len(replace(t, '#', '')) AS hashes,
        |    (len(t) - len(replace(t, '...', ''))) // 3 AS ellipses,
        |    len(lines) AS n_lines,
        |    len(list_filter(lines, l -> trim(l) <> ''
        |      AND (substr(trim(l), 1, 1) = '-'
        |           OR substr(trim(l), 1, 1) = '*'
        |           OR substr(trim(l), 1, 1) = '•'))) AS bullet_lines,
        |    len(list_filter(lines, l -> trim(l) <> ''
        |      AND right(trim(l), 3) = '...')) AS ellipsis_lines
        |  FROM base)
        |SELECT doc_id, word_count,
        |  CAST(chars AS DOUBLE) / CAST(word_count AS DOUBLE)
        |    AS mean_word_len,
        |  CAST(hashes AS DOUBLE) / CAST(word_count AS DOUBLE) AS hash_frac,
        |  CAST(ellipses AS DOUBLE) / CAST(word_count AS DOUBLE)
        |    AS ellipsis_frac,
        |  CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |    AS bullet_line_frac,
        |  CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |    AS ellipsis_line_frac,
        |  CAST(alpha_words AS DOUBLE) / CAST(word_count AS DOUBLE)
        |    AS alpha_word_frac,
        |  stopword_count,
        |  (word_count >= 50 AND word_count <= 100000
        |   AND CAST(chars AS DOUBLE) / CAST(word_count AS DOUBLE) >= 3.0
        |   AND CAST(chars AS DOUBLE) / CAST(word_count AS DOUBLE) <= 10.0
        |   AND CAST(hashes AS DOUBLE) / CAST(word_count AS DOUBLE) < 0.1
        |   AND CAST(ellipses AS DOUBLE) / CAST(word_count AS DOUBLE) < 0.1
        |   AND CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |     <= 0.9
        |   AND CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |     <= 0.3
        |   AND CAST(alpha_words AS DOUBLE) / CAST(word_count AS DOUBLE)
        |     >= 0.8
        |   AND stopword_count >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // CCNet bucketing replayed: the t16 CTE chain + per-language
    // ntile(3) over (rounded ppl, doc_id) — a total order
    "t28_ccnet_buckets" ->
      """WITH norm AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS tri
        |  FROM norm WHERE len(t) >= 3),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tri),
        |lm AS (SELECT tri,
        |    ln(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot)) AS logp
        |  FROM tri GROUP BY tri),
        |perdoc AS (SELECT d.doc_id,
        |    CAST(SUM(CAST(lm.logp AS DECIMAL(28,18))) AS DOUBLE) AS slogp,
        |    COUNT(*) AS n
        |  FROM tri d JOIN lm ON d.tri = lm.tri
        |  GROUP BY d.doc_id),
        |p AS (SELECT doc_id, round(exp(-(slogp / n)), 6) + 0.0 AS ppl
        |  FROM perdoc)
        |SELECT p.doc_id, d.lang, p.ppl,
        |  CASE ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY p.ppl, p.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS bucket
        |FROM p JOIN documents d ON p.doc_id = d.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // LPA replayed: unrolled synchronous rounds (see lpaOracle)
    "g6_lpa" -> lpaOracle,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "s1_scan_prune" ->
      """SELECT l_orderkey, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_extendedprice""".stripMargin,

    "set1_union" ->
      """SELECT r_name AS name FROM region
        |UNION ALL SELECT n_name AS name FROM nation
        |ORDER BY name""".stripMargin,

    // self-kNN join in the exact configuration == all-pairs brute force
    "sim10_knn_join" ->
      """WITH s AS (SELECT q.vec_id AS qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e, embeddings q WHERE e.vec_id <> q.vec_id),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin,

    // index-backed k-NN join, exact config == the same all-pairs oracle
    "sim11_index_knn" ->
      """WITH s AS (SELECT q.vec_id AS qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e, embeddings q WHERE e.vec_id <> q.vec_id),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin,

    // SCD2 replayed: same (ts, event_id) per-key order, null-safe
    // change detection, lead() validity stamps
    "a23_scd2" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER w AS rn,
        |    lag(event_type) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, event_type, ts, event_id FROM v
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |o AS (SELECT user_id, event_type, ts AS effective_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS effective_to
        |  FROM k)
        |SELECT user_id, event_type, effective_from, effective_to,
        |  effective_to IS NULL AS is_current
        |FROM o ORDER BY user_id, effective_from, event_type,
        |  effective_to ASC NULLS LAST""".stripMargin,

    // PIT join: the a23 dimension rebuilt (null keys/times excluded,
    // empty flip versions dropped), probes matched by the half-open
    // [from, to) tiling — the direct interval spelling equals the
    // engine's as-of by the tiling argument
    "j17_scd2_pit" ->
      """WITH ev AS (SELECT user_id, event_type, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER w AS rn,
        |    lag(event_type) OVER w AS prev
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, event_type, ts, event_id FROM v
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |dim AS (SELECT user_id, event_type, ts AS effective_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS effective_to
        |  FROM k
        |  QUALIFY effective_to IS NULL OR effective_to > effective_from),
        |probes AS (SELECT event_id, user_id,
        |    ts + INTERVAL 30 MINUTE AS pts
        |  FROM ev WHERE event_id % 10 = 7)
        |SELECT p.event_id, p.user_id, p.pts,
        |  d.event_type AS attr_at_ts, d.effective_from
        |FROM probes p JOIN dim d ON p.user_id = d.user_id
        |  AND d.effective_from <= p.pts
        |  AND (d.effective_to IS NULL OR p.pts < d.effective_to)
        |ORDER BY p.event_id""".stripMargin,

    // round-trips: the oracle reads the ORIGINAL parquet — equality
    // proves the JSON/ORC sink+source pair is value-lossless
    "fmt1_json_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    "fmt2_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fmt3_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p1_rename" ->
      """SELECT event_type, value AS the_value FROM events
        |ORDER BY event_type, the_value""".stripMargin,

    "p2_typed_projection" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS REAL) AS qty_f,
        |  CAST(l_shipdate AS DATE) AS ship_day
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, qty_f, ship_day""".stripMargin,

    "p3_cast_drop" ->
      """WITH raw AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS VARCHAR) FROM lineitem)
        |SELECT l_orderkey, l_linenumber, TRY_CAST(v AS DOUBLE) AS v FROM raw
        |WHERE TRY_CAST(v AS DOUBLE) IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, v""".stripMargin,

    "p4_dedup" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "p5_null_census" ->
      """SELECT
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_id,
        |  CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ts,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id,
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props
        |FROM events""".stripMargin,

    "a1_count" -> "SELECT COUNT(*) AS n FROM lineitem",

    "a2_group_count" ->
      """SELECT c_mktsegment, COUNT(*) AS count FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "a4_monthly_avg" ->
      """SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_o_totalprice
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,

    "a5_hourly_avg" ->
      """SELECT CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour_of_day,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM events GROUP BY hour_of_day ORDER BY hour_of_day""".stripMargin,

    "a6_pct_distribution" ->
      """SELECT
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity + l_extendedprice + l_discount + l_tax AS DECIMAL(18,2))) AS DOUBLE) * 100, 2) AS pct_l_quantity,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity + l_extendedprice + l_discount + l_tax AS DECIMAL(18,2))) AS DOUBLE) * 100, 2) AS pct_l_extendedprice,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity + l_extendedprice + l_discount + l_tax AS DECIMAL(18,2))) AS DOUBLE) * 100, 2) AS pct_l_discount,
        |  ROUND(CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity + l_extendedprice + l_discount + l_tax AS DECIMAL(18,2))) AS DOUBLE) * 100, 2) AS pct_l_tax
        |FROM lineitem""".stripMargin,

    "a7_multikey_avg" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice), 2) AS average_price
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY average_price DESC, o_orderstatus, o_orderpriority""".stripMargin,

    "o1_sort" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,

    "o2_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    // the distributed two-phase numbering must equal the textbook
    // single-window definition exactly (unique sort key ⇒ total order)
    "o5_global_rownum" ->
      """SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_orderkey) AS rn
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "j1_interval" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY l.l_orderkey, l.l_linenumber, o.o_totalprice""".stripMargin,

    // interval anti join: NOT EXISTS over the same equi+BETWEEN
    "j16_interval_anti" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey
        |    AND l.l_shipdate BETWEEN o.o_orderdate
        |      AND o.o_orderdate + INTERVAL 30 DAY)
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_shipdate""".stripMargin,

    "j2_asof" ->
      """SELECT e.event_id, e.user_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // stream-stream as-of over the sealed feed == the batch as-of
    "j2s_asof_stream" ->
      """SELECT e.event_id, e.user_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |WHERE e.user_id IS NOT NULL AND e.event_id IS NOT NULL
        |  AND e.ts IS NOT NULL
        |ORDER BY e.event_id""".stripMargin,

    // stream-stream point-in-interval over the sealed feed == batch j1
    "j1s_interval_stream" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY l.l_orderkey, l.l_linenumber, o.o_totalprice""".stripMargin,

    // Left-outer stream-stream twin: watermark-proven null padding must
    // reproduce the batch LEFT JOIN exactly over the sealed feed
    "j1so_interval_outer" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l LEFT JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY l.l_orderkey, l.l_linenumber, o.o_totalprice NULLS FIRST""".stripMargin,

    // Full-outer stream-stream twin: both watermark-proven null-padded
    // sides must reproduce the batch FULL JOIN exactly
    "j1sf_interval_full" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey, o.o_totalprice
        |FROM lineitem l FULL JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY l.l_orderkey NULLS FIRST, l.l_linenumber NULLS FIRST,
        |  o.o_orderkey NULLS FIRST, o.o_totalprice NULLS FIRST""".stripMargin,

    "j10_asof_forward" ->
      """SELECT o.o_orderkey, o.o_custkey, e.ev_value AS next_value
        |FROM orders o ASOF JOIN (
        |  SELECT user_id, ts, MAX(value) AS ev_value
        |  FROM events GROUP BY user_id, ts) e
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |ORDER BY o.o_orderkey""".stripMargin,

    "t1_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      """SELECT doc_id, ROUND(
        |  LEAST(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
        |  + (CASE WHEN CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) > 0.2
        |     THEN 0.0
        |     ELSE 1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 5 END) * 0.3
        |  + LEAST(CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) * 5.0, 1.0) * 0.3
        |, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t3_langid" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('el','la','de','que','y'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('le','la','de','et','est'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('的','是','了','在','和'))) AS s_zh
        |FROM documents)
        |SELECT doc_id, CASE
        |  WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |  WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |  WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |  WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |  WHEN s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |  ELSE 'und' END AS lang_id
        |FROM s ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT MIN(doc_id) AS survivor_id FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |GROUP BY text ORDER BY survivor_id""".stripMargin,

    "d2_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(len(string_split_regex(trim(text), '\s+'))-5, 0)], ' '),
        |    lang, source FROM documents
        |), t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(greatest(len(string_split_regex(trim(text), '\s+'))-2, 1)),
        |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+3], ' '))) AS sh
        |  FROM docs)
        |SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_2,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS sim
        |FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
        |ORDER BY doc_id, doc_id_2""".stripMargin,

    // Fellegi–Sunter linkage: same blocks, same comparators, same
    // exact-binary-fraction weights (null comparison → 0, the missing-
    // data convention — vacuous here, customer fields are non-null)
    "d11_linkage" ->
      """SELECT a.c_custkey AS c_custkey, b.c_custkey AS c_custkey_2,
        |  CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) AS score
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey
        |WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0
        |ORDER BY c_custkey, c_custkey_2""".stripMargin,

    // integer PageRank: same linkage edges, three unrolled iterations
    // of rk+1 = 150000000 + sum((rk*85 // 100) // deg) per neighbor
    "g3_pagerank" ->
      """WITH lp AS (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
        |          UNION SELECT v2, v1 FROM lp),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM edges GROUP BY src),
        |r0 AS (SELECT c_custkey AS v, CAST(1000000000 AS BIGINT) AS r
        |       FROM customer),
        |c1 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r0 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT r0.v, 150000000 + COALESCE(c1.cin, 0) AS r
        |       FROM r0 LEFT JOIN c1 ON c1.v = r0.v),
        |c2 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r1 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT r1.v, 150000000 + COALESCE(c2.cin, 0) AS r
        |       FROM r1 LEFT JOIN c2 ON c2.v = r1.v),
        |c3 AS (SELECT e.dst AS v,
        |         CAST(SUM((r.r * 85 // 100) // d.dg) AS BIGINT) AS cin
        |       FROM edges e JOIN r2 r ON e.src = r.v
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT r2.v, 150000000 + COALESCE(c3.cin, 0) AS r
        |       FROM r2 LEFT JOIN c3 ON c3.v = r2.v)
        |SELECT v AS c_custkey, CAST(r AS BIGINT) AS pr_nano
        |FROM r3 ORDER BY c_custkey""".stripMargin,

    // triangles: the id-ordered u<v<w triple join over the same pair
    // predicate — the triangle set is orientation-invariant, so the
    // degree-ordered Spark counting must agree exactly
    "g4_triangles" ->
      """WITH lp AS (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |tri AS (SELECT e1.v1 AS u, e1.v2 AS v, e2.v2 AS w
        |  FROM lp e1 JOIN lp e2 ON e2.v1 = e1.v2
        |  JOIN lp e3 ON e3.v1 = e1.v1 AND e3.v2 = e2.v2),
        |pv AS (SELECT u AS vx FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri)
        |SELECT vx AS c_custkey, CAST(COUNT(*) AS BIGINT) AS triangles
        |FROM pv GROUP BY vx ORDER BY c_custkey""".stripMargin,

    // clustering coefficient: triangles + degrees over the same lp,
    // one exact integer division; degree-1 vertices skipped
    "g5_clustering_coeff" ->
      """WITH lp AS (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |    SELECT v1 AS v FROM lp UNION ALL SELECT v2 FROM lp)
        |  GROUP BY v),
        |tri AS (SELECT e1.v1 AS u, e1.v2 AS v, e2.v2 AS w
        |  FROM lp e1 JOIN lp e2 ON e2.v1 = e1.v2
        |  JOIN lp e3 ON e3.v1 = e1.v1 AND e3.v2 = e2.v2),
        |tc AS (SELECT vx, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        |    SELECT u AS vx FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY vx)
        |SELECT deg.v AS c_custkey, degree,
        |  COALESCE(tc.triangles, 0) AS triangles,
        |  CAST(COALESCE(tc.triangles, 0) * 2 AS DOUBLE)
        |    / CAST(degree * (degree - 1) AS DOUBLE) AS clustering_coeff
        |FROM deg LEFT JOIN tc ON deg.v = tc.vx
        |WHERE degree >= 2 ORDER BY c_custkey""".stripMargin,

    // entity resolution: the same score predicate feeds a recursive
    // reachability closure; min reachable id labels the entity
    "d12_entities" ->
      """WITH RECURSIVE lp AS (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
        |          UNION SELECT v2, v1 FROM lp),
        |reach AS (
        |  SELECT c_custkey AS id, c_custkey AS label FROM customer
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, MIN(label) AS entity FROM reach GROUP BY id)
        |SELECT c.entity AS entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MAX(cu.c_acctbal) AS best_acctbal
        |FROM comp c JOIN customer cu ON cu.c_custkey = c.id
        |GROUP BY c.entity ORDER BY entity_id""".stripMargin,

    // same shingle sets, overlap-coefficient verifier:
    // |A∩B| / min(|A|,|B|)
    "d10_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(len(string_split_regex(trim(text), '\s+'))-5, 0)], ' '),
        |    lang, source FROM documents
        |), t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(greatest(len(string_split_regex(trim(text), '\s+'))-2, 1)),
        |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+3], ' '))) AS sh
        |  FROM docs)
        |SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_2,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS sim
        |FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.9
        |ORDER BY doc_id, doc_id_2""".stripMargin,

    // Sorted-neighborhood re-derived in DuckDB: the same normalized-
    // prefix total order via row_number, successor pairing as a rank
    // streaming gate, exact regime: threshold 1.0 ⟺ identical distinct
    // 3-shingle sets; ordered batches make the decision min-earlier-id
    // (window min over the shingle-set partition)
    "nd1_stream_gate" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
        |alld AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM base),
        |keyed AS (SELECT doc_id,
        |    array_to_string(list_sort(list_distinct(list_transform(
        |      range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))),
        |      chr(1)) AS key
        |  FROM (SELECT doc_id,
        |      string_split_regex(trim(text), '\s+') AS toks FROM alld)),
        |d AS (SELECT doc_id,
        |    MIN(doc_id) OVER (PARTITION BY key ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dup_of
        |  FROM keyed)
        |SELECT doc_id, dup_of,
        |  CASE WHEN dup_of IS NOT NULL THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(NULL AS DOUBLE) END AS sim
        |FROM d ORDER BY doc_id""".stripMargin,

    // range join, the same string-shingle Jaccard as d2 (hash-set vs
    // string-set Jaccard agree — distinct-preserving hashing).
    "d8_snm" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(len(string_split_regex(trim(text), '\s+'))-5, 0)], ' ')
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, text, row_number() OVER (ORDER BY
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 30),
        |    doc_id) AS rn
        |  FROM docs WHERE text IS NOT NULL
        |), sh AS (
        |  SELECT doc_id, rn,
        |    list_distinct(list_transform(range(greatest(len(string_split_regex(trim(text), '\s+'))-2, 1)),
        |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+3], ' '))) AS sh
        |  FROM ranked)
        |SELECT LEAST(a.doc_id, b.doc_id) AS doc_id,
        |  GREATEST(a.doc_id, b.doc_id) AS doc_id_2,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS sim
        |FROM sh a JOIN sh b ON b.rn > a.rn AND b.rn <= a.rn + 7
        |WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
        |ORDER BY doc_id, doc_id_2""".stripMargin,

    // MinHash signature math re-derived end-to-end in DuckDB: md5-60-bit
    // shingle hashes, then per coefficient pair (a_j, b_j) = splitmix64
    // constants (interpolated below from the SAME Scala definition the
    // native expression uses) the 64-bit wraparound h·a+b via HUGEINT
    // modular arithmetic. Signed min == min of bias-shifted unsigned
    // values (monotone bijection), and the estimator only compares
    // positions for EQUALITY, so the bias never needs undoing.
    "d3b_minhash_est" -> {
      val coefs = (0 until 16).map { j =>
        val a = graft.functions.GraftFunctions.splitmix64(2L * j) | 1L
        val b = graft.functions.GraftFunctions.splitmix64(2L * j + 1)
        s"($j, ${a}::HUGEINT, ${b}::HUGEINT)"
      }.mkString(", ")
      s"""WITH coefs(j, a, b) AS (VALUES $coefs),
        |docs AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk,
        |    string_split_regex(trim(array_to_string(
        |      string_split_regex(trim(text), '\\s+')[1:greatest(len(string_split_regex(trim(text), '\\s+'))-5, 0)],
        |      ' ')), '\\s+') AS tk2
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(tk)-2, 1)),
        |      i -> CAST(concat('0x', substr(md5(array_to_string(tk[i+1:i+3], ' ')), 1, 15)) AS BIGINT))) AS h1,
        |    list_distinct(list_transform(range(greatest(len(tk2)-2, 1)),
        |      i -> CAST(concat('0x', substr(md5(array_to_string(tk2[i+1:i+3], ' ')), 1, 15)) AS BIGINT))) AS h2
        |  FROM docs
        |), sig1 AS (
        |  SELECT doc_id, c.j,
        |    min((((t.h::HUGEINT * c.a + c.b + 9223372036854775808::HUGEINT)
        |      % 18446744073709551616::HUGEINT) + 18446744073709551616::HUGEINT)
        |      % 18446744073709551616::HUGEINT) AS sb
        |  FROM sh, unnest(h1) AS t(h), coefs c GROUP BY doc_id, c.j
        |), sig2 AS (
        |  SELECT doc_id, c.j,
        |    min((((t.h::HUGEINT * c.a + c.b + 9223372036854775808::HUGEINT)
        |      % 18446744073709551616::HUGEINT) + 18446744073709551616::HUGEINT)
        |      % 18446744073709551616::HUGEINT) AS sb
        |  FROM sh, unnest(h2) AS t(h), coefs c GROUP BY doc_id, c.j
        |)
        |SELECT s1.doc_id AS doc_id,
        |  CAST(sum(CASE WHEN s1.sb = s2.sb THEN 1 ELSE 0 END) AS DOUBLE)/16 AS est
        |FROM sig1 s1 JOIN sig2 s2 ON s1.doc_id = s2.doc_id AND s1.j = s2.j
        |GROUP BY s1.doc_id ORDER BY doc_id""".stripMargin
    },

    // q14 analog: 100.0 * num / den, both exact decimal sums
    "q14_type_share" ->
      """SELECT 100.0 *
        |  CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS economy_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    // q12 analog: late lines by return flag, priority CASE split
    "q12_late_lines" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority IN
        |    ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority NOT IN
        |    ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q17 analog: correlated per-part 0.5*avg threshold (exact —
    // integer quantities), revenue / 7 round-6 canonicalized
    "q17_small_qty" ->
      """WITH pa AS (SELECT l_partkey AS pk,
        |    0.5 * (sum(l_quantity) / COUNT(*)) AS thresh
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 6) + 0.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN pa ON pa.pk = l_partkey
        |WHERE p_brand = 'Brand#13' AND p_size < 15
        |  AND l_quantity < thresh""".stripMargin,

    // q18 analog: HAVING semi-join, top-20 by (totalprice desc, key)
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 150)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    // q19 analog: OR-of-ANDs disjunctive join predicate
    "q19_disjunct_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 5 AND 20)
        |  OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 20
        |    AND l_quantity BETWEEN 10 AND 30)
        |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 40
        |    AND l_quantity BETWEEN 1 AND 15)""".stripMargin,

    // q21 analog: EXISTS (other supplier) + NOT EXISTS (later ship)
    "q21_blocking_supplier" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // q22 analog: exact-decimal scalar average + anti join since 2000
    "q22_idle_customers" ->
      """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |    AS DOUBLE) / COUNT(*) AS v
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_custkey % 7 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT v FROM ab)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q4 analog: EXISTS == semi join; same date window
    "q4_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q6 analog: one scan, exact-decimal global revenue
    "q6_discount_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_nationkey < 12 AND n2.n_nationkey >= 12)
        |      OR (n1.n_nationkey >= 12 AND n2.n_nationkey < 12)))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3'
        |        THEN volume ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,

    "a26_grouping_sets" ->
      """SELECT event_type,
        |  CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour_of_day,
        |  CAST(GROUPING(event_type) AS INT) AS g_t,
        |  CAST(GROUPING(EXTRACT(HOUR FROM ts)) AS INT) AS g_h,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (EXTRACT(HOUR FROM ts)), ())
        |ORDER BY g_t, g_h, event_type NULLS FIRST,
        |  hour_of_day NULLS FIRST""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "t11_pack_sequences" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST((sum(len(string_split_regex(trim(text), '\s+')))
        |      OVER (PARTITION BY lang ORDER BY doc_id)
        |    - len(string_split_regex(trim(text), '\s+'))) // 256 AS BIGINT) AS seq,
        |  CAST((sum(len(string_split_regex(trim(text), '\s+')))
        |      OVER (PARTITION BY lang ORDER BY doc_id)
        |    - len(string_split_regex(trim(text), '\s+'))) % 256 AS BIGINT) AS seq_offset
        |FROM documents ORDER BY doc_id""".stripMargin,

    // repetition stats re-derived relationally: per-line / per-bigram
    // GROUP BY counts, then count-ratio divisions (exact IEEE parity —
    // no transcendentals). Same line split (\n, empties kept) and
    // tokenizer (trim + \s+) as the Spark expression.
    "t12_repetition" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |lc AS (
        |  SELECT doc_id, line, COUNT(*) AS c, length(line) AS ln
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |        FROM base) u
        |  GROUP BY doc_id, line),
        |la AS (
        |  SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
        |         SUM(c * ln) AS total_chars, SUM((c - 1) * ln) AS dup_chars
        |  FROM lc GROUP BY doc_id),
        |bgc AS (
        |  SELECT doc_id, bigram, COUNT(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(
        |            range(1, len(string_split_regex(trim(text), '\s+'))),
        |            i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
        |                 string_split_regex(trim(text), '\s+')[i + 1])) AS bigram
        |        FROM base) u
        |  GROUP BY doc_id, bigram),
        |bga AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS nbg
        |        FROM bgc GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(la.n_lines - la.n_distinct AS DOUBLE)
        |    / CAST(la.n_lines AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN la.total_chars > 0
        |       THEN CAST(la.dup_chars AS DOUBLE) / CAST(la.total_chars AS DOUBLE)
        |       ELSE 0.0 END AS dup_line_char_frac,
        |  COALESCE(CAST(bga.topc AS DOUBLE) / CAST(bga.nbg AS DOUBLE), 0.0)
        |    AS top_bigram_frac
        |FROM base b LEFT JOIN la USING (doc_id) LEFT JOIN bga USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // C4-style line dedup: same md5(lower(trim(line))) key, same
    // >= minCount cut, reassembly in original line order. Parallel
    // unnests zip positionally in DuckDB; range(1, len+1) supplies pos.
    "t13_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, concat_ws(chr(10), text,
        |           'source: ' || source, 'lang: ' || lang,
        |           'chars: ' || CAST(n_chars // 100 AS VARCHAR)) AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, unnest(parts) AS line,
        |         unnest(range(1, len(parts) + 1)) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        |        FROM docs)
        |), k AS (
        |  SELECT doc_id, pos, line, md5(lower(trim(line))) AS h FROM l
        |), boiler AS (
        |  SELECT h FROM k GROUP BY h HAVING COUNT(*) >= 50
        |)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM k ANTI JOIN boiler USING (h)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // nearest = closer of the two ASOF directions, ties to backward —
    // identical CASE to the Spark composition, distances in micros
    "j11_asof_nearest" ->
      """WITH r AS (SELECT user_id, ts, MAX(value) AS v
        |           FROM events GROUP BY user_id, ts),
        |l AS (SELECT event_id, user_id, ts + INTERVAL 17 MINUTE AS ts2
        |      FROM events),
        |b AS (SELECT l.event_id, l.user_id, l.ts2, r.ts AS bt, r.v AS bv
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts2 >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS ft, r.v AS fv
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts2 <= r.ts)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN f.ft IS NULL OR (b.bt IS NOT NULL AND
        |         epoch_us(b.ts2) - epoch_us(b.bt)
        |           <= epoch_us(f.ft) - epoch_us(b.ts2))
        |       THEN b.bv ELSE f.fv END AS near_value
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,

    // grid via range(lo, hi+1, step) == Spark's inclusive sequence; cell
    // assignment with // integer division == Spark's div; ffill via
    // last_value IGNORE NULLS == Spark's last(ignoreNulls) window
    "g1_gapfill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |b AS (SELECT user_id, MIN(us) AS lo, MAX(us) AS hi
        |      FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1, 3600000000)) AS gus
        |      FROM b),
        |o AS (SELECT e.user_id,
        |        lo + ((us - lo) // 3600000000) * 3600000000 AS gus,
        |        MAX(value) AS cv
        |      FROM e JOIN b USING (user_id) GROUP BY 1, 2)
        |SELECT g.user_id, make_timestamp(g.gus) AS gts,
        |  last_value(o.cv IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.gus
        |    ROWS UNBOUNDED PRECEDING) AS value
        |FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.gus = o.gus
        |ORDER BY g.user_id, gts""".stripMargin,

    // Same grid/cells construction as g1; the interpolation re-derives
    // the identical IEEE expression prev + (next-prev)*(elapsed/gap).
    "g2_resample" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |b AS (SELECT user_id, MIN(us) AS lo, MAX(us) AS hi
        |      FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1, 3600000000)) AS gus
        |      FROM b),
        |o AS (SELECT e.user_id,
        |        lo + ((us - lo) // 3600000000) * 3600000000 AS gus,
        |        MAX(value) AS cv
        |      FROM e JOIN b USING (user_id) GROUP BY 1, 2),
        |w AS (
        |  SELECT g.user_id, g.gus, o.cv,
        |    last_value(o.cv IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.gus
        |      ROWS UNBOUNDED PRECEDING) AS pv,
        |    last_value(CASE WHEN o.cv IS NOT NULL THEN g.gus END IGNORE NULLS)
        |      OVER (PARTITION BY g.user_id ORDER BY g.gus
        |            ROWS UNBOUNDED PRECEDING) AS pt,
        |    first_value(o.cv IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.gus
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN o.cv IS NOT NULL THEN g.gus END IGNORE NULLS)
        |      OVER (PARTITION BY g.user_id ORDER BY g.gus
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.gus = o.gus)
        |SELECT user_id, make_timestamp(gus) AS gts,
        |  CASE WHEN cv IS NOT NULL THEN cv
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) *
        |         (CAST(gus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS value
        |FROM w ORDER BY user_id, gts""".stripMargin,

    // Morton interleave re-derived bit-by-bit: dim 0 (user bucket) at
    // even bits, dim 1 (hour bucket) at odd bits
    "z1_zorder" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    ((((user_id % 1024) >> i) & 1) << (2 * i)) +
        |    (((((epoch_us(ts) // 3600000000) % 1024) >> i) & 1) << (2 * i + 1))
        |  )) AS BIGINT) AS z
        |FROM events ORDER BY event_id""".stripMargin,

    // the classic xy2d walk unrolled as a recursive CTE: each round
    // consumes level s (512 → 1), adds s²·((3rx) XOR ry), and
    // rotates/reflects the frame; the s = 0 row carries the final index
    "z2_hilbert" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id,
        |    CAST(user_id % 1024 AS BIGINT) AS x,
        |    CAST((epoch_us(ts) // 3600000000) % 1024 AS BIGINT) AS y
        |  FROM events),
        |walk AS (
        |  SELECT event_id, x, y, CAST(512 AS BIGINT) AS s,
        |    CAST(0 AS BIGINT) AS d
        |  FROM pts
        |  UNION ALL
        |  SELECT event_id,
        |    CASE WHEN (y // s) % 2 = 1 THEN x
        |         WHEN (x // s) % 2 = 1 THEN 1023 - y
        |         ELSE y END AS x,
        |    CASE WHEN (y // s) % 2 = 1 THEN y
        |         WHEN (x // s) % 2 = 1 THEN 1023 - x
        |         ELSE x END AS y,
        |    s // 2 AS s,
        |    d + s * s * xor(3 * ((x // s) % 2), (y // s) % 2) AS d
        |  FROM walk WHERE s > 0)
        |SELECT event_id, d AS h FROM walk WHERE s = 0
        |ORDER BY event_id""".stripMargin,

    "lk1_clustered_topn" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 25",

    // incremental MV vs direct recompute of the final logical state:
    // evens+odds appended, value zeroed where event_id%100=0 (upsert),
    // rows event_id%200=1 deleted — same decimal(38,2) sum convention
    // on both sides
    "mv1_incremental_rollup" ->
      """WITH final AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 100 = 0 THEN 0.0 ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 200 <> 1)
        |SELECT event_type,
        |  COUNT(*) AS n_rows,
        |  COUNT(value) AS cnt_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,

    // streaming SCD2: sealed closed versions == the a23 gap split,
    // open heads excluded
    "a23s_scd2_stream" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CASE event_type WHEN 'click' THEN 1.0 WHEN 'error' THEN 2.0
        |      WHEN 'purchase' THEN 3.0 WHEN 'signup' THEN 4.0
        |      WHEN 'view' THEN 5.0 ELSE 0.0 END AS code
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |v AS (SELECT user_id, code, ts, event_id,
        |    row_number() OVER w AS rn, lag(code) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, code, ts, event_id FROM v
        |  WHERE rn = 1 OR code IS DISTINCT FROM prev),
        |o AS (SELECT user_id, CAST(code AS VARCHAR) AS attr,
        |    ts AS effective_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS effective_to
        |  FROM k)
        |SELECT user_id, attr, effective_from, effective_to
        |FROM o WHERE effective_to IS NOT NULL
        |ORDER BY user_id, effective_from, attr""".stripMargin,

    // streaming sessionize: sealed sessions == direct SQL gap split
    // (bounds and counts are fold-order independent)
    "w2s_sessionize_stream" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, ts
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |d AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // incrementally-maintained OLS == direct recompute of the final
    // logical state's exact-decimal moments
    "mv8_ols_rollup" ->
      """WITH final AS (
        |  SELECT event_type,
        |    CAST(CAST(EXTRACT(HOUR FROM ts) AS INT) AS DOUBLE) AS x,
        |    CASE WHEN event_id % 100 = 0 THEN 0.0 ELSE value END AS y
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id % 200 <> 1),
        |m AS (SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM final GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
        |    ELSE NULL END AS slope,
        |  CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
        |      * sx) / n, 6) + 0.0
        |    ELSE NULL END AS intercept
        |FROM m ORDER BY event_type""".stripMargin,

    // join view: the maintained fold == the direct join+group of the
    // final logical fact state against the static dimension
    "mv9_join_view" ->
      """WITH final AS (
        |  SELECT c_nationkey,
        |    CASE WHEN c_custkey % 100 = 3 THEN 0.0
        |         ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal
        |  FROM customer WHERE c_custkey % 5 <> 0)
        |SELECT n.n_name, COUNT(*) AS n_rows,
        |  COUNT(acctbal) AS cnt_acctbal,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_acctbal,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(38,2))) AS DOUBLE)
        |    / COUNT(acctbal) AS avg_acctbal
        |FROM final f JOIN nation n ON f.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // rebased join view: same final fact state, joined to the RENAMED
    // dimension (the new pin) — green only if rebaseDim recomputed the
    // pre-rebase history AND the post-rebase deltas joined the new pin
    "mv9b_rebase_dim" ->
      """WITH dim2 AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 2 = 0 THEN 'R_' || n_name
        |         ELSE n_name END AS n_name
        |  FROM nation),
        |final AS (
        |  SELECT c_nationkey,
        |    CASE WHEN c_custkey % 100 = 3 THEN 0.0
        |         ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal
        |  FROM customer WHERE c_custkey % 5 <> 0)
        |SELECT d.n_name, COUNT(*) AS n_rows,
        |  COUNT(acctbal) AS cnt_acctbal,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_acctbal,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(38,2))) AS DOUBLE)
        |    / COUNT(acctbal) AS avg_acctbal
        |FROM final f JOIN dim2 d ON f.c_nationkey = d.n_nationkey
        |GROUP BY d.n_name ORDER BY d.n_name""".stripMargin,

    // folded lossless GK p50 == quantile_disc of the final state
    "mv5_quantile_rollup" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  quantile_disc(value, 0.5) AS p50_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // expression-keyed MV vs direct hour-of-day recompute of the final
    // logical state (evens+odds appended, event_id%7=3 deleted)
    "mv2_hourly_rollup" ->
      """WITH final AS (
        |  SELECT ts, value FROM events WHERE event_id % 7 <> 3)
        |SELECT CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour_of_day,
        |  COUNT(*) AS n_rows,
        |  COUNT(value) AS cnt_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM final GROUP BY hour_of_day ORDER BY hour_of_day""".stripMargin,

    // min/max fold across two appends == direct extremes over the table
    "mv3_minmax_rollup" ->
      """SELECT event_type,
        |  COUNT(*) AS n_rows,
        |  COUNT(value) AS cnt_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(value) AS avg_value,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // HLL view over the fixed 25-key nation domain: coupon-exact, so
    // the maintained estimate == COUNT(DISTINCT) over the surviving
    // rows even through the delete-bearing window
    "mv4b_approx_exact" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_rows,
        |  COUNT(c_nationkey) AS cnt_c_nationkey,
        |  CAST(SUM(CAST(c_nationkey AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_c_nationkey,
        |  CAST(SUM(CAST(c_nationkey AS DECIMAL(38,2))) AS DOUBLE) /
        |    COUNT(c_nationkey) AS avg_c_nationkey,
        |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
        |    AS approx_c_nationkey
        |FROM customer WHERE c_custkey % 5 <> 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the delete-bearing maintenance window == a direct recompute over
    // the surviving rows (deletes of event_id % 3 == 0); lossless-eps
    // GK p50 == quantile_disc (the a22b regime)
    "mv6_minmax_delete" ->
      """SELECT event_type,
        |  COUNT(*) AS n_rows,
        |  COUNT(value) AS cnt_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(value) AS avg_value,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value,
        |  quantile_disc(value, 0.5) AS p50_value
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // version-as-of 1 == the first commit's content (the even docs),
    // regardless of the append and delete that followed
    "lk2_time_travel" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,

    "lk3_clone" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin,

    // WAP: final table = all docs; the two count columns pin isolation
    // (pre-publish readers saw only the even base) and the audit view
    // (base + staged = everything)
    "lk5_wap" ->
      """SELECT doc_id, lang, source,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
        |    AS pre_publish_rows,
        |  (SELECT count(*) FROM documents) AS audited_rows
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lk4_bloom_lookup" ->
      """SELECT doc_id, md5(text) AS fp, lang FROM documents
        |WHERE md5(text) IN (
        |  SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 97 = 0)
        |ORDER BY doc_id""".stripMargin,

    // history: the literal expected report (op kinds + file deltas of
    // the pinned commit sequence)
    "lk7_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'create', 0, 0),
        |  (CAST(2 AS BIGINT), 'append', 2, 0),
        |  (CAST(3 AS BIGINT), 'append', 3, 0),
        |  (CAST(4 AS BIGINT), 'overwrite', 1, 5))
        |AS t(version, op, files_added, files_removed)
        |ORDER BY version""".stripMargin,

    // compaction: the logical snapshot survives (deletes materialized,
    // nothing lost or duplicated); the file count lands on the target
    "lk6_compact" ->
      """SELECT doc_id, lang, source,
        |  CAST(2 AS INT) AS files_after, TRUE AS shrank
        |FROM documents WHERE doc_id % 5 <> 0 ORDER BY doc_id""".stripMargin,

    // the literal expected drift report
    "dq4_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('added', 'quality', 'double'),
        |  ('removed', 'legacy_score', 'double'),
        |  ('renamed', 'language', 'was lang'))
        |  AS t(change, "column", detail)
        |ORDER BY change, "column"""".stripMargin,

    // the CDF between the revisions = inserts(odds) + deletes(evens %10)
    // re-derived arithmetically; tokens = the t1 whitespace formula
    "dc5_corpus_diff" ->
      """WITH ch AS (
        |  SELECT lang, 1 AS i,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tk
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT lang, 0 AS i,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tk
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0)
        |SELECT lang,
        |  CAST(SUM(i) AS BIGINT) AS docs_added,
        |  CAST(SUM(1 - i) AS BIGINT) AS docs_removed,
        |  CAST(SUM(CASE WHEN i = 1 THEN tk ELSE -tk END) AS BIGINT)
        |    AS token_delta
        |FROM ch GROUP BY lang ORDER BY lang""".stripMargin,

    // temperature mix: same ops, same order — (sqrt(n) * C) / n with
    // C = MIN(n / sqrt(n)); md5-uniform threshold as in s4
    "s5_temperature_mix" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 14 THEN 'common'
        |         WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'mid'
        |         ELSE 'rare' END AS source_tier
        |  FROM documents),
        |n AS (SELECT source_tier AS g, CAST(COUNT(*) AS DOUBLE) AS n
        |      FROM d GROUP BY source_tier),
        |c AS (SELECT MIN(n / sqrt(n)) AS c FROM n),
        |k AS (SELECT g, sqrt(n) * (SELECT c FROM c) / n AS keep FROM n)
        |SELECT d.doc_id, d.source_tier
        |FROM d JOIN k ON d.source_tier = k.g
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    / 1152921504606846976.0 < k.keep
        |ORDER BY d.doc_id""".stripMargin,

    // trigram LM replayed: same normalization, positions 1..len-2,
    // ln(count/total), decimal-exact mean, exp
    "t16_perplexity" ->
      """WITH norm AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS tri
        |  FROM norm WHERE len(t) >= 3),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tri),
        |lm AS (SELECT tri, ln(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot)) AS logp
        |  FROM tri GROUP BY tri),
        |perdoc AS (SELECT d.doc_id,
        |    CAST(SUM(CAST(lm.logp AS DECIMAL(28,18))) AS DOUBLE) AS slogp,
        |    COUNT(*) AS n
        |  FROM tri d JOIN lm ON d.tri = lm.tri
        |  GROUP BY d.doc_id)
        |SELECT doc_id, round(exp(-(slogp / n)), 6) + 0.0 AS ppl,
        |  CAST(n AS INT) AS n_trigrams
        |FROM perdoc ORDER BY doc_id""".stripMargin,

    // BM25 replayed: same counts, same float expression shape (note
    // (1.2 + 1), not 2.2 — the folded sum and the literal are DIFFERENT
    // doubles), decimal term sums, round-6 output
    "t19_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
        |  FROM tok GROUP BY doc_id),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) AS s FROM lens),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM tok WHERE term IN ('hash', 'join', 'spark')
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |  FROM tf GROUP BY term),
        |idf AS (SELECT term,
        |    ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)) AS idf
        |  FROM dfq),
        |sc AS (SELECT tf.doc_id, idf.idf * (tf.tf * (1.2 + 1)) /
        |    (tf.tf + 1.2 * (0.25 + 0.75 *
        |      (lens.dl / ((SELECT s FROM st) / (SELECT n FROM st))))) AS s
        |  FROM tf JOIN idf ON tf.term = idf.term
        |  JOIN lens ON tf.doc_id = lens.doc_id)
        |SELECT doc_id,
        |  round(CAST(SUM(CAST(s AS DECIMAL(28,18))) AS DOUBLE), 6)
        |    + 0.0 AS score,
        |  CAST(COUNT(*) AS INT) AS n_hits
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // span dedup replayed: same 0-based positions, same first-instance
    // rule (min doc, pos), k=5 covered-position union, ordered rebuild
    "t18_span_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(range(0, len(t))) AS pos,
        |    unnest(t) AS tok FROM d),
        |sh AS (SELECT doc_id, unnest(range(0, len(t) - 4)) AS pos,
        |    unnest(list_transform(range(1, len(t) - 3),
        |      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS sh
        |  FROM d WHERE len(t) >= 5),
        |r AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rk,
        |    COUNT(*) OVER (PARTITION BY sh) AS n
        |  FROM sh),
        |cov AS (SELECT DISTINCT doc_id, pos + ofs AS pos
        |  FROM r CROSS JOIN (SELECT unnest(range(0, 5)) AS ofs) o
        |  WHERE rk > 1 AND n > 1),
        |flag AS (SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS dup
        |  FROM tok t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
        |o AS (SELECT doc_id,
        |    string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT dup)
        |      AS clean_text,
        |    CAST(COUNT(*) AS INT) AS n_tokens,
        |    CAST(COUNT(*) FILTER (WHERE dup) AS INT) AS n_dropped
        |  FROM flag GROUP BY doc_id)
        |SELECT doc_id, COALESCE(clean_text, '') AS clean_text,
        |  n_tokens, n_dropped
        |FROM o ORDER BY doc_id""".stripMargin,

    // span decontamination replayed: distinct eval 4-grams, covered-
    // position union over matching training shingles, ordered rebuild
    "dc3_span_decontaminate" ->
      """WITH tr AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id >= 50),
        |ev AS (SELECT DISTINCT sh FROM (
        |  SELECT unnest(list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS sh
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS t
        |        FROM documents WHERE doc_id < 50)
        |  WHERE len(t) >= 4)),
        |tok AS (SELECT doc_id, unnest(range(0, len(t))) AS pos,
        |    unnest(t) AS tok FROM tr),
        |sh AS (SELECT doc_id, unnest(range(0, len(t) - 3)) AS pos,
        |    unnest(list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS sh
        |  FROM tr WHERE len(t) >= 4),
        |cov AS (SELECT DISTINCT s.doc_id, s.pos + ofs AS pos
        |  FROM sh s JOIN ev ON s.sh = ev.sh
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS ofs) o),
        |flag AS (SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS dup
        |  FROM tok t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
        |o AS (SELECT doc_id,
        |    string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT dup)
        |      AS clean_text,
        |    CAST(COUNT(*) AS INT) AS n_tokens,
        |    CAST(COUNT(*) FILTER (WHERE dup) AS INT) AS n_dropped
        |  FROM flag GROUP BY doc_id)
        |SELECT doc_id, COALESCE(clean_text, '') AS clean_text,
        |  n_tokens, n_dropped
        |FROM o ORDER BY doc_id""".stripMargin,

    // Naive Bayes replayed: same tokenization, Laplace-smoothed
    // per-(token, class) ln-probs, decimal-exact token sums, argmax
    // with class-name tie-break
    "t17_nb_classifier" ->
      """WITH lab AS (SELECT doc_id, lang AS cls, text FROM documents
        |  WHERE lang IS NOT NULL),
        |tok AS (SELECT doc_id, cls,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM lab),
        |tc AS (SELECT tok, cls, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM tok GROUP BY tok, cls),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tc),
        |nt AS (SELECT cls, SUM(c) AS n FROM tc GROUP BY cls),
        |pri AS (SELECT cls, ln(CAST(COUNT(*) AS DOUBLE) /
        |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM lab)) AS log_prior
        |  FROM lab GROUP BY cls),
        |ci AS (SELECT nt.cls, pri.log_prior,
        |    ln(1.0 / (nt.n + (SELECT v FROM v))) AS oov_logp,
        |    nt.n + (SELECT v FROM v) AS denom
        |  FROM nt JOIN pri ON nt.cls = pri.cls),
        |model AS (SELECT tc.tok, tc.cls, ln((tc.c + 1) / ci.denom) AS logp
        |  FROM tc JOIN ci ON tc.cls = ci.cls),
        |dt AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |sc AS (SELECT dt.doc_id, ci.cls, ci.log_prior +
        |    CAST(SUM(CAST(COALESCE(m.logp, ci.oov_logp)
        |      AS DECIMAL(28,18))) AS DOUBLE) AS score
        |  FROM dt CROSS JOIN ci
        |  LEFT JOIN model m ON m.tok = dt.tok AND m.cls = ci.cls
        |  GROUP BY dt.doc_id, ci.cls, ci.log_prior),
        |r AS (SELECT doc_id, cls, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls) AS rk FROM sc)
        |SELECT doc_id, cls AS pred, round(score, 6) + 0.0 AS score
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // confusion metrics: t17's prediction chain verbatim, then exact
    // integer class counts; each metric is one division
    "a51_confusion" ->
      """WITH lab AS (SELECT doc_id, lang AS cls, text FROM documents
        |  WHERE lang IS NOT NULL),
        |tok AS (SELECT doc_id, cls,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM lab),
        |tc AS (SELECT tok, cls, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM tok GROUP BY tok, cls),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tc),
        |nt AS (SELECT cls, SUM(c) AS n FROM tc GROUP BY cls),
        |pri AS (SELECT cls, ln(CAST(COUNT(*) AS DOUBLE) /
        |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM lab)) AS log_prior
        |  FROM lab GROUP BY cls),
        |ci AS (SELECT nt.cls, pri.log_prior,
        |    ln(1.0 / (nt.n + (SELECT v FROM v))) AS oov_logp,
        |    nt.n + (SELECT v FROM v) AS denom
        |  FROM nt JOIN pri ON nt.cls = pri.cls),
        |model AS (SELECT tc.tok, tc.cls, ln((tc.c + 1) / ci.denom) AS logp
        |  FROM tc JOIN ci ON tc.cls = ci.cls),
        |dt AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |sc AS (SELECT dt.doc_id, ci.cls, ci.log_prior +
        |    CAST(SUM(CAST(COALESCE(m.logp, ci.oov_logp)
        |      AS DECIMAL(28,18))) AS DOUBLE) AS score
        |  FROM dt CROSS JOIN ci
        |  LEFT JOIN model m ON m.tok = dt.tok AND m.cls = ci.cls
        |  GROUP BY dt.doc_id, ci.cls, ci.log_prior),
        |r AS (SELECT doc_id, cls, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls) AS rk FROM sc),
        |pred AS (SELECT doc_id, cls AS pred FROM r WHERE rk = 1),
        |j AS (SELECT lab.doc_id, lab.cls AS lang, pred.pred
        |  FROM lab JOIN pred ON lab.doc_id = pred.doc_id),
        |bt AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp
        |  FROM j GROUP BY lang),
        |bp AS (SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS n_pred
        |  FROM j GROUP BY pred)
        |SELECT COALESCE(bt.cls, bp.cls) AS cls,
        |  COALESCE(bt.n_true, 0) AS n_true,
        |  COALESCE(bp.n_pred, 0) AS n_pred,
        |  COALESCE(bt.tp, 0) AS tp,
        |  CASE WHEN COALESCE(bp.n_pred, 0) > 0
        |    THEN CAST(COALESCE(bt.tp, 0) AS DOUBLE) / bp.n_pred + 0.0
        |    ELSE 0.0 END AS precision,
        |  CASE WHEN COALESCE(bt.n_true, 0) > 0
        |    THEN CAST(bt.tp AS DOUBLE) / bt.n_true + 0.0
        |    ELSE 0.0 END AS recall,
        |  CASE WHEN COALESCE(bp.n_pred, 0) + COALESCE(bt.n_true, 0) > 0
        |    THEN 2.0 * COALESCE(bt.tp, 0)
        |      / (COALESCE(bp.n_pred, 0) + COALESCE(bt.n_true, 0)) + 0.0
        |    ELSE 0.0 END AS f1
        |FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls
        |ORDER BY cls""".stripMargin,

    // token-budget mix: same tiers, same hash order, exclusive prefix
    // sum under the budget keeps the crossing doc
    "s8_token_budget_mix" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 14 THEN 'common'
        |         WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'mid'
        |         ELSE 'rare' END AS source_tier,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
        |  FROM documents),
        |b(g, budget) AS (VALUES ('common', 15000), ('mid', 6000), ('rare', 2000)),
        |c AS (SELECT d.doc_id, d.source_tier, d.n_tokens, b.budget,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source_tier
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM d JOIN b ON d.source_tier = b.g)
        |SELECT doc_id, source_tier, n_tokens FROM c
        |WHERE before < budget ORDER BY doc_id""".stripMargin,

    // repeat mix: floor copies + salted-hash fractional copy, same 2^60
    // uniform as s4/s5
    "s9_repeat_mix" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 14 THEN 'common'
        |         WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'mid'
        |         ELSE 'rare' END AS source_tier
        |  FROM documents),
        |r AS (SELECT doc_id, source_tier,
        |    CASE source_tier WHEN 'common' THEN 0.5
        |         WHEN 'mid' THEN 1.0 ELSE 2.5 END AS rf
        |  FROM d),
        |c AS (SELECT doc_id, source_tier,
        |    CAST(floor(rf) AS INT) +
        |    CASE WHEN CAST(concat('0x', substr(
        |        md5(CAST(doc_id AS VARCHAR) || ':rep'), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < rf - floor(rf)
        |    THEN 1 ELSE 0 END AS n
        |  FROM r)
        |SELECT doc_id, source_tier,
        |  CAST(unnest(range(0, n)) AS INT) AS repeat_idx
        |FROM c WHERE n > 0 ORDER BY doc_id, repeat_idx""".stripMargin,

    // grouped exact-configuration Misra-Gries == per-group exact top-5
    "hh2_freq_by_lang" ->
      """WITH tok AS (SELECT lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tok GROUP BY lang, term),
        |r AS (SELECT lang, term, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rk
        |  FROM c)
        |SELECT lang, rk, term, n FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    // unpivot == a 4-way UNION ALL of (metric, val) projections
    "a20_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m.metric, m.val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
        |    FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |    FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |    FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |    FROM lineitem WHERE l_orderkey <= 1000) m
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    // reproducible shuffle: same seeded md5-60 key, same total order
    "s6_shuffle" ->
      """SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('42', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |    AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id""".stripMargin,

    // interleave: per-source md5-order rank, global (rank, source) cycle
    "s10_interleave" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY
        |    CAST(concat('0x', substr(md5(concat('7', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
        |    doc_id) AS BIGINT) AS interleave_rank
        |FROM documents
        |ORDER BY interleave_rank, source, doc_id""".stripMargin,

    // systematic PPS: same seeded md5 order, integer step crossings
    "s11_pps" ->
      """WITH keyed AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(concat('0x', substr(md5(concat('11', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS pkey
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), steps AS (
        |  SELECT source AS g, (sum(n_chars) + 19) // 20 AS step
        |  FROM keyed GROUP BY source
        |), c AS (
        |  SELECT k.doc_id, k.source, k.n_chars, t.step,
        |    sum(k.n_chars) OVER (PARTITION BY k.source ORDER BY k.pkey, k.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM keyed k JOIN steps t ON k.source = t.g
        |)
        |SELECT doc_id, source, n_chars FROM c
        |WHERE cum // step > (cum - n_chars) // step
        |ORDER BY doc_id""".stripMargin,

    // stable split: md5-uniform vs exact cumulative thresholds
    "s7_split" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            / 1152921504606846976.0 < 0.75 THEN 'train'
        |       WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            / 1152921504606846976.0 < 0.875 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "s4_mix_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    / 1152921504606846976.0
        |  < (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |     WHEN 'src2' THEN 0.0 ELSE 0.75 END)
        |ORDER BY doc_id""".stripMargin,

    // SimHash with the md5-derived 60-bit token hash: DuckDB re-derives
    // the exact signatures (same tokenizer as d2's oracle, same md5-hex
    // parse as Spark's conv(substr(md5,1,15),16,10)), brute-forces all
    // pairs, and checks hamming <= 3 — a full hash check of the SimHash
    // semantics the 4-chunk pigeonhole path must reproduce.
    "d4b_simhash_md5" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |), tok AS (
        |  SELECT d.doc_id,
        |    CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
        |  FROM docs d, unnest(string_split_regex(trim(d.text), '\s+')) AS t(tok)
        |), bits AS (
        |  SELECT doc_id, r.b,
        |    CASE WHEN sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |      THEN (1::BIGINT << r.b) ELSE 0 END AS v
        |  FROM tok, range(60) r(b) GROUP BY doc_id, r.b
        |), sig AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS sig FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_2,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_id, doc_id_2""".stripMargin,

    // exhaustive-probe LSH == brute force (see queries comment)
    "sim2b_lsh_exact" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // NDCG@10: exact-decimal DCG/IDCG (quantized relevance × the SAME
    // quantized discount literals the engine uses), pooled relevance
    // from the exact top-50, approx = prefix-dim cosine ranking
    "sim19_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |tr AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |t AS (SELECT qid, vec_id, rel, rank FROM (
        |    SELECT qid, vec_id, CAST(round(sim, 6) AS DECIMAL(9,6)) AS rel,
        |      CAST(row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, vec_id) AS INT) AS rank
        |    FROM tr) z WHERE rank <= 50),
        |ap AS (SELECT qid, vec_id, rank FROM (
        |    SELECT q.qid, e.vec_id,
        |      CAST(row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(
        |          CAST(e.embedding[1:16] AS DOUBLE[]), q.qv[1:16]) DESC,
        |          e.vec_id) AS INT) AS rank
        |    FROM embeddings e, q WHERE e.vec_id <> q.qid) z
        |  WHERE rank <= 10),
        |w AS (SELECT * FROM (VALUES $ndcgWeightRows) tw(rank, w)),
        |dcg AS (SELECT a.qid,
        |    SUM(CAST(COALESCE(t.rel, CAST(0 AS DECIMAL(9,6))) * w.w
        |      AS DECIMAL(28,12))) AS dcg
        |  FROM ap a JOIN w USING (rank)
        |  LEFT JOIN t ON t.qid = a.qid AND t.vec_id = a.vec_id
        |  GROUP BY a.qid),
        |idcg AS (SELECT t.qid,
        |    SUM(CAST(t.rel * w.w AS DECIMAL(28,12))) AS idcg
        |  FROM t JOIN w ON w.rank = t.rank WHERE t.rank <= 10
        |  GROUP BY t.qid)
        |SELECT i.qid,
        |  CAST(COALESCE(d.dcg, 0) AS DOUBLE) AS dcg,
        |  CAST(i.idcg AS DOUBLE) AS idcg,
        |  CASE WHEN i.idcg = 0 THEN NULL
        |       ELSE round(CAST(COALESCE(d.dcg, 0) AS DOUBLE) /
        |         CAST(i.idcg AS DOUBLE), 6) + 0.0 END AS ndcg
        |FROM idcg i LEFT JOIN dcg d USING (qid)
        |ORDER BY qid""".stripMargin,

    "sim1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // binary sign-bit pack mirrored 1:1 (32-bit words, bit j of word w =
    // embedding[32w+j] > 0), Hamming = popcount(xor) word-wise, exact
    // cosine re-rank of the Hamming top-50
    "sim15_binary_topk" ->
      """WITH p AS (SELECT vec_id,
        |    (SELECT COALESCE(SUM(CASE WHEN embedding[j+1] > 0
        |       THEN (1::BIGINT << j) ELSE 0 END), 0)
        |     FROM generate_series(0,31) t(j)) AS w0,
        |    (SELECT COALESCE(SUM(CASE WHEN embedding[j+33] > 0
        |       THEN (1::BIGINT << j) ELSE 0 END), 0)
        |     FROM generate_series(0,31) t(j)) AS w1,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1, v AS qv
        |  FROM p WHERE vec_id < 5),
        |h AS (SELECT q.qid, p.vec_id,
        |    bit_count(xor(p.w0, q.q0)) + bit_count(xor(p.w1, q.q1)) AS ham,
        |    p.v, q.qv
        |  FROM p, q WHERE p.vec_id <> q.qid),
        |c AS (SELECT qid, vec_id, v, qv,
        |    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS hrank
        |  FROM h),
        |r AS (SELECT qid, vec_id, list_cosine_similarity(v, qv) AS sim
        |  FROM c WHERE hrank <= 50),
        |f AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM r)
        |SELECT qid, vec_id, sim, rank FROM f WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // prefix cosine on embedding[1:16] (slice-then-normalize), exact
    // full-dim re-rank of the prefix top-50
    "sim17_matryoshka" ->
      """WITH p AS (SELECT vec_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS pre,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, pre AS qpre, v AS qv
        |  FROM p WHERE vec_id < 5),
        |h AS (SELECT q.qid, p.vec_id,
        |    list_cosine_similarity(p.pre, q.qpre) AS psim, p.v, q.qv
        |  FROM p, q WHERE p.vec_id <> q.qid),
        |c AS (SELECT qid, vec_id, v, qv,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY psim DESC, vec_id) AS prank
        |  FROM h),
        |r AS (SELECT qid, vec_id, list_cosine_similarity(v, qv) AS sim
        |  FROM c WHERE prank <= 50),
        |f AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM r)
        |SELECT qid, vec_id, sim, rank FROM f WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // recall@10 of the Hamming-only ranking vs exact cosine
    "sim16_recall" ->
      """WITH p AS (SELECT vec_id,
        |    (SELECT COALESCE(SUM(CASE WHEN embedding[j+1] > 0
        |       THEN (1::BIGINT << j) ELSE 0 END), 0)
        |     FROM generate_series(0,31) t(j)) AS w0,
        |    (SELECT COALESCE(SUM(CASE WHEN embedding[j+33] > 0
        |       THEN (1::BIGINT << j) ELSE 0 END), 0)
        |     FROM generate_series(0,31) t(j)) AS w1,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1, v AS qv
        |  FROM p WHERE vec_id < 5),
        |h AS (SELECT q.qid, p.vec_id,
        |    bit_count(xor(p.w0, q.q0)) + bit_count(xor(p.w1, q.q1)) AS ham
        |  FROM p, q WHERE p.vec_id <> q.qid),
        |approx AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS hrank
        |    FROM h) WHERE hrank <= 10),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |truth AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |    FROM s) WHERE rank <= 10),
        |f AS (SELECT t.qid, COUNT(a.vec_id) AS hits
        |  FROM truth t LEFT JOIN approx a
        |    ON t.qid = a.qid AND t.vec_id = a.vec_id
        |  GROUP BY t.qid)
        |SELECT qid, hits, CAST(hits AS DOUBLE) / 10 AS recall
        |FROM f ORDER BY qid""".stripMargin,

    // IVFPQ with both layers exact == the same brute force as sim5b
    "sim6b_ivfpq_exact" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 8 = 0),
        |s AS (SELECT q.qid, c.vec_id,
        |    list_cosine_similarity(c.v, q.qv) AS sim
        |  FROM c, q WHERE c.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // ADC over a lossless codebook == the same brute force as sim5b;
    // sims round to 6 on both sides (per-subspace partials vs the flat
    // fold differ in ulps; ranks are computed on native sims)
    "sim7b_adc_exact" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 8 = 0),
        |s AS (SELECT q.qid, c.vec_id,
        |    list_cosine_similarity(c.v, q.qv) AS sim
        |  FROM c, q WHERE c.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, round(sim, 6) + 0.0 AS sim, rank
        |FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // the analytic PCA fixture re-derived from vec_id arithmetic alone:
    // diag(1,4,9,16) covariance => basis = coordinate axes, descending
    // eigenvalue order, positive sign; projection = exact permutation
    "sim13b_pca_exact" ->
      """SELECT vec_id,
        |  CAST(4 * (2 * ((vec_id // 8) % 2) - 1) AS DOUBLE) AS p0,
        |  CAST(3 * (2 * ((vec_id // 4) % 2) - 1) AS DOUBLE) AS p1,
        |  CAST(2 * (2 * ((vec_id // 2) % 2) - 1) AS DOUBLE) AS p2,
        |  CAST(1 * (2 * (vec_id % 2) - 1) AS DOUBLE) AS p3
        |FROM embeddings WHERE vec_id < 256 ORDER BY vec_id""".stripMargin,

    // HLL in the coupon-exact regime over the fixed 25-key nation
    // domain == COUNT(DISTINCT), through sketch_agg, union_agg, and
    // estimate
    "a9b_hll_exact" ->
      """SELECT seg, est_nations FROM (
        |  SELECT c_mktsegment AS seg,
        |    CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS est_nations
        |  FROM customer GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT '__ALL__' AS seg,
        |    CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS est_nations
        |  FROM customer)
        |ORDER BY seg""".stripMargin,

    // PQ in the exact configuration == brute force over the capped
    // corpus (see queries comment): ksub covers every distinct
    // subvector, so decode is the identity and sim is plain cosine
    "sim5b_pq_exact" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 8 = 0),
        |s AS (SELECT q.qid, c.vec_id,
        |    list_cosine_similarity(c.v, q.qv) AS sim
        |  FROM c, q WHERE c.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // IVF with exhaustive probing == brute force (see queries comment)
    "sim3_ivf_ann" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // exact quantized covariance re-derived from the same decimal
    // moments: round(e,6)->DECIMAL(18,6), exact decimal products and
    // sums, one float closed form per entry, round 6
    // per-dim cohort means re-derived from the same round-6 quantized
    // decimals (the sim12 discipline, mean terms only)
    "sim18_mean_drift" ->
      """WITH b AS (SELECT label % 2 = 0 AS a,
        |    list_transform(embedding,
        |      e -> CAST(round(e, 6) AS DECIMAL(18,6))) AS x,
        |    unnest(range(0, 64)) AS d
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |g AS (SELECT CAST(d AS INT) AS d,
        |    SUM(CASE WHEN a THEN x[CAST(d + 1 AS INT)] END) AS sa,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    SUM(CASE WHEN NOT a THEN x[CAST(d + 1 AS INT)] END) AS sb,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM b GROUP BY d)
        |SELECT d, n_a, n_b,
        |  CAST(sa AS DOUBLE) / n_a + 0.0 AS mean_a,
        |  CAST(sb AS DOUBLE) / n_b + 0.0 AS mean_b,
        |  ((CAST(sa AS DOUBLE) / n_a + 0.0)
        |    - (CAST(sb AS DOUBLE) / n_b + 0.0)) + 0.0 AS gap
        |FROM g WHERE n_a > 0 AND n_b > 0 ORDER BY d""".stripMargin,

    // domain map re-derived: same quantized sums, same sequential
    // cosine (list_cosine_similarity == the engine kernel, the sim1
    // precedent)
    "sim21_domain_map" ->
      """WITH j AS (
        |  SELECT d.lang AS g,
        |    list_transform(e.embedding,
        |      v -> CAST(round(v, 6) AS DECIMAL(18,6))) AS x
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.lang IS NOT NULL AND e.embedding IS NOT NULL),
        |ex AS (SELECT g, r.i AS i, x[r.i + 1] AS v
        |  FROM j, range(64) r(i)),
        |cent AS (
        |  SELECT g, i, CAST(SUM(v) AS DOUBLE) / count(*) AS c
        |  FROM ex GROUP BY g, i),
        |cv AS (SELECT g, list(c ORDER BY i) AS cv FROM cent GROUP BY g),
        |nv AS (SELECT g, count(*) AS n FROM j GROUP BY g)
        |SELECT a.g AS group_a, b.g AS group_b, na.n AS n_a, nb.n AS n_b,
        |  list_cosine_similarity(a.cv, b.cv) AS cos_sim
        |FROM cv a JOIN cv b ON a.g < b.g
        |JOIN nv na ON na.g = a.g
        |JOIN nv nb ON nb.g = b.g
        |ORDER BY group_a, group_b""".stripMargin,

    "sim12_embedding_cov" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, e -> CAST(round(e, 6) AS DECIMAL(18,6))) AS x
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |arr AS (
        |  SELECT list_concat(
        |    list_concat([CAST(1 AS DECIMAL(38,12))],
        |                list_transform(x, v -> CAST(v AS DECIMAL(38,12)))),
        |    list_transform(
        |      flatten(list_transform(range(64), i ->
        |        list_transform(range(i, 64), j -> x[i+1] * x[j+1]))),
        |      v -> CAST(v AS DECIMAL(38,12)))) AS a
        |  FROM q),
        |s AS (
        |  SELECT r.idx AS idx, CAST(SUM(a[r.idx + 1]) AS DOUBLE) AS sd
        |  FROM arr, range(2145) r(idx)
        |  GROUP BY r.idx)
        |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
        |  round((sij.sd - si.sd * sj.sd / n.sd) / n.sd, 6) + 0.0 AS cov
        |FROM (SELECT a.i AS i, b.j AS j FROM range(64) a(i), range(64) b(j)
        |      WHERE b.j >= a.i) p
        |JOIN s n ON n.idx = 0
        |JOIN s si ON si.idx = 1 + p.i
        |JOIN s sj ON sj.idx = 1 + p.j
        |JOIN s sij ON sij.idx = 65 + p.i * 64 - p.i * (p.i - 1) / 2 + (p.j - p.i)
        |ORDER BY i, j""".stripMargin,

    // persisted-index IVF, exhaustive probe == the same brute force
    // (index round-trips through lake tables; values are unchanged)
    "sim9_persisted" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // streamed ANN maintenance with an exhaustive probe == the same
    // brute force over the FULL corpus (sim9's oracle verbatim): the
    // hash proves the two streamed batches landed exactly once
    "sim9s_ann_stream" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // streamed per-day theta maintenance in the exact regime == the
    // direct per-day distinct count (window floor in epoch micros)
    "sk1_theta_stream" ->
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS w_start,
        |  CAST(COUNT(DISTINCT user_id % 500) AS BIGINT) AS n_slots
        |FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streamed per-day count-min maintenance in a27's exact regime ==
    // the direct per-day per-type count
    "sk2_cm_stream" ->
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS w_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS est
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // distributed-trained IVF, exhaustive probe == the same brute force
    "sim8_ivf_dist" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // int8 scale-offset quantization replayed in SQL: codes round-trip
    // through BYTE losslessly, so dv = round((x-mn)/scale)*scale + mn
    // reproduces Spark's dequantize(quantize(v)) bit-for-bit (all ops
    // are exactly-specified IEEE double arithmetic in both engines)
    "sim4_quantized_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id, v, list_min(v) AS mn,
        |    CASE WHEN list_max(v) > list_min(v)
        |         THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
        |  FROM c),
        |d AS (SELECT vec_id,
        |    list_transform(v, x -> round((x - mn) / scale) * scale + mn) AS dv
        |  FROM p),
        |s AS (SELECT q.qid, d.vec_id,
        |    list_cosine_similarity(d.dv, q.qv) AS sim
        |  FROM d, q WHERE d.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "e1_embedding_neardup" ->
      """SELECT a.vec_id AS vec_id, b.vec_id AS vec_id_2,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY vec_id, vec_id_2""".stripMargin,

    "mm1_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the decoder never sees doc_id — only the encoded BMP bytes — so
    // re-deriving dims and the padding-free pixel sum arithmetically IS
    // the proof the parser read the header and walked the row strides
    "mm2_decode" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 13 AS INT) AS width,
        |  CAST(1 + doc_id % 7 AS INT) AS height,
        |  24 AS bpp,
        |  doc_id % 2 = 0 AS top_down,
        |  CAST((1 + doc_id % 13) * (1 + doc_id % 7) * 3 * (doc_id % 251)
        |    AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dHash bits re-derived arithmetically from the gradient: target
    // (x,y) samples source (x*W//9, y*H//8); gray = (fill+sx+sy)%256;
    // bit set iff the right neighbor is strictly brighter
    "mm8_dhash" ->
      """WITH g AS (SELECT a.i AS x, b.j AS y
        |  FROM range(8) a(i), range(8) b(j)),
        |bits AS (SELECT doc_id, g.x, g.y,
        |    CASE WHEN
        |      (doc_id % 251
        |        + ((g.x + 1) * (1 + doc_id % 13)) // 9
        |        + (g.y * (1 + doc_id % 7)) // 8) % 256
        |      > (doc_id % 251
        |        + (g.x * (1 + doc_id % 13)) // 9
        |        + (g.y * (1 + doc_id % 7)) // 8) % 256
        |      THEN 1 ELSE 0 END AS bit
        |  FROM documents, g)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN bit = 1 AND y * 8 + x < 32
        |    THEN CAST(1 AS BIGINT) << CAST(31 - (y * 8 + x) AS INT)
        |    ELSE 0 END) AS BIGINT) AS dhash_hi,
        |  CAST(SUM(CASE WHEN bit = 1 AND y * 8 + x >= 32
        |    THEN CAST(1 AS BIGINT) << CAST(63 - (y * 8 + x) AS INT)
        |    ELSE 0 END) AS BIGINT) AS dhash_lo,
        |  CAST(SUM(bit) AS INT) AS n_set
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // perceptual pairs re-derived: mm8's arithmetic dhash, one rep per
    // distinct signature, all-pairs hamming over the (bounded) reps
    "mm9_phash_pairs" ->
      """WITH g AS (SELECT a.i AS x, b.j AS y
        |  FROM range(8) a(i), range(8) b(j)),
        |bits AS (SELECT doc_id, g.x, g.y,
        |    CASE WHEN
        |      (doc_id % 251
        |        + ((g.x + 1) * (1 + doc_id % 13)) // 9
        |        + (g.y * (1 + doc_id % 7)) // 8) % 256
        |      > (doc_id % 251
        |        + (g.x * (1 + doc_id % 13)) // 9
        |        + (g.y * (1 + doc_id % 7)) // 8) % 256
        |      THEN 1 ELSE 0 END AS bit
        |  FROM documents, g),
        |sig AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN bit = 1 AND y * 8 + x < 32
        |      THEN CAST(1 AS BIGINT) << CAST(31 - (y * 8 + x) AS INT)
        |      ELSE 0 END) AS BIGINT) AS dhash_hi,
        |    CAST(SUM(CASE WHEN bit = 1 AND y * 8 + x >= 32
        |      THEN CAST(1 AS BIGINT) << CAST(63 - (y * 8 + x) AS INT)
        |      ELSE 0 END) AS BIGINT) AS dhash_lo
        |  FROM bits GROUP BY doc_id),
        |rep AS (SELECT dhash_hi, dhash_lo, min(doc_id) AS doc_id
        |  FROM sig GROUP BY dhash_hi, dhash_lo)
        |SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_2,
        |  CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS dist
        |FROM rep a JOIN rep b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3
        |ORDER BY doc_id, doc_id_2""".stripMargin,

    // gradient-PNG pixel sum re-derived arithmetically: the decoder
    // only sees the compressed bytes, so matching the per-position sum
    // proves a real inflate + per-pixel reconstruction
    "mm2b_png_decode" ->
      """WITH g AS (SELECT a.i AS i, b.j AS j
        |  FROM range(13) a(i), range(7) b(j))
        |SELECT doc_id,
        |  CAST(1 + doc_id % 13 AS INT) AS width,
        |  CAST(1 + doc_id % 7 AS INT) AS height,
        |  CAST(SUM(3 * ((doc_id % 251 + g.i + g.j) % 256)) AS BIGINT)
        |    AS pixel_sum
        |FROM documents, g
        |WHERE g.i < 1 + doc_id % 13 AND g.j < 1 + doc_id % 7
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // animated GIF frames: per-frame gradient sums — frame f shifts
    // the ramp by 7f; the (doc, frame, pixel) triple product
    // re-derives each lossless frame sum
    "mm12_gif_frames" ->
      """WITH fr AS (SELECT f.f FROM range(4) f(f)),
        |g AS (SELECT a.i AS i, b.j AS j
        |  FROM range(9) a(i), range(4) b(j))
        |SELECT doc_id, CAST(fr.f AS INT) AS frame_idx,
        |  CAST(1 + doc_id % 9 AS INT) AS width,
        |  CAST(1 + doc_id % 4 AS INT) AS height,
        |  CAST(SUM(3 * ((doc_id % 251 + 7 * fr.f + g.i + g.j) % 256))
        |    AS BIGINT) AS pixel_sum
        |FROM documents, fr, g
        |WHERE fr.f < 1 + doc_id % 4
        |  AND g.i < 1 + doc_id % 9 AND g.j < 1 + doc_id % 4
        |GROUP BY doc_id, fr.f ORDER BY doc_id, frame_idx""".stripMargin,

    // GIF decode: the mm2b gradient sum over the GIF dims — the
    // payload bytes are palette+LZW, so matching it proves a real
    // lossless GIF decode
    "mm11_gif_decode" ->
      """WITH g AS (SELECT a.i AS i, b.j AS j
        |  FROM range(11) a(i), range(5) b(j))
        |SELECT doc_id,
        |  CAST(1 + doc_id % 11 AS INT) AS width,
        |  CAST(1 + doc_id % 5 AS INT) AS height,
        |  CAST(SUM(3 * ((doc_id % 251 + g.i + g.j) % 256)) AS BIGINT)
        |    AS pixel_sum
        |FROM documents, g
        |WHERE g.i < 1 + doc_id % 11 AND g.j < 1 + doc_id % 5
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // JPEG decode: block-solid fixture — per 8×8 block b the solid
    // value (fill + 41·b) mod 256 survives the q=1.0 codec bit-exactly
    // (DC-only spectrum, neutral chroma), so the lossy format's pixel
    // sum is Σ over blocks of 192·v_b — pure integer arithmetic
    "mm10_jpeg_decode" ->
      """WITH g AS (SELECT a.i AS bx, b.j AS by
        |  FROM range(6) a(i), range(4) b(j))
        |SELECT doc_id,
        |  CAST(8 * (1 + doc_id % 6) AS INT) AS width,
        |  CAST(8 * (1 + doc_id % 4) AS INT) AS height,
        |  CAST(SUM(192 * ((doc_id % 251
        |      + 41 * (g.by * (1 + doc_id % 6) + g.bx)) % 256))
        |    AS BIGINT) AS pixel_sum
        |FROM documents, g
        |WHERE g.bx < 1 + doc_id % 6 AND g.by < 1 + doc_id % 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // QOI decode: the same gradient sum as mm2b — the payload bytes are
    // QOI chunks, so matching it proves the full chunk-op decoder
    "mm7_qoi_decode" ->
      """WITH g AS (SELECT a.i AS i, b.j AS j
        |  FROM range(13) a(i), range(7) b(j))
        |SELECT doc_id,
        |  CAST(1 + doc_id % 13 AS INT) AS width,
        |  CAST(1 + doc_id % 7 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(SUM(3 * ((doc_id % 251 + g.i + g.j) % 256)) AS BIGINT)
        |    AS pixel_sum
        |FROM documents, g
        |WHERE g.i < 1 + doc_id % 13 AND g.j < 1 + doc_id % 7
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // NN-resize sum re-derived arithmetically: target (x,y) samples the
    // gradient at (x·w // w2, y·h // h2) — integer floor division, so
    // the whole resized frame is exact integer arithmetic
    "mm6_resize" ->
      """WITH g AS (SELECT a.i AS x, b.j AS y
        |  FROM range(5) a(i), range(4) b(j))
        |SELECT doc_id,
        |  CAST(1 + doc_id % 5 AS INT) AS width,
        |  CAST(1 + doc_id % 4 AS INT) AS height,
        |  CAST(SUM(3 * ((doc_id % 251
        |      + (g.x * (1 + doc_id % 13)) // (1 + doc_id % 5)
        |      + (g.y * (1 + doc_id % 7)) // (1 + doc_id % 4)) % 256))
        |    AS BIGINT) AS pixel_sum
        |FROM documents, g
        |WHERE g.x < 1 + doc_id % 5 AND g.y < 1 + doc_id % 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ramp-PCM sample sum re-derived arithmetically: the decoder only
    // sees RIFF bytes, so matching the per-position signed sum proves a
    // real chunk walk + LE int16 sample scan (seed wrap included)
    "mm4_wav_decode" ->
      """WITH k AS (SELECT unnest(range(18)) AS i)
        |SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  16 AS bits,
        |  CAST(1 + doc_id % 9 AS BIGINT) AS n_frames,
        |  CAST(SUM((doc_id % 65521 + k.i) % 65536)
        |    - 32768 * (1 + doc_id % 2) * (1 + doc_id % 9) AS BIGINT)
        |    AS sample_sum
        |FROM documents, k
        |WHERE k.i < (1 + doc_id % 2) * (1 + doc_id % 9)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // every sample of every full frame re-derived from the ramp; the
    // per-frame energy / peak / zero-crossing integers then prove the
    // real decode + framing + feature kernels in one hash. range() is
    // NOT lateral in DuckDB 1.0 — fixed ranges with the bound in WHERE.
    "mm5_audio_frames" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 65521 AS seed,
        |         (1 + doc_id % 2) * (24 + doc_id % 40) AS n
        |  FROM documents
        |), fi AS (SELECT unnest(range(16)) AS f),
        |ki AS (SELECT unnest(range(16)) AS k),
        |fr AS (
        |  SELECT doc_id, seed, CAST(fi.f AS INT) AS frame_idx
        |  FROM p, fi WHERE fi.f * 8 + 16 <= n
        |), s AS (
        |  SELECT doc_id, frame_idx,
        |    ((seed + frame_idx * 8 + ki.k) % 65536) - 32768 AS v,
        |    CASE WHEN ki.k > 0
        |      THEN ((seed + frame_idx * 8 + ki.k - 1) % 65536) - 32768
        |    END AS prev
        |  FROM fr, ki
        |)
        |SELECT doc_id, frame_idx,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS INT) AS peak,
        |  CAST(count(*) FILTER (WHERE prev IS NOT NULL
        |    AND (prev < 0) <> (v < 0)) AS INT) AS zero_cross
        |FROM s GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // frame sampling is deterministic byte arithmetic; the corpus is
    // ASCII-only (verified: octet_length == length for every doc at all
    // SFs), so DuckDB's char-indexed substr/ascii equals Spark's
    // byte-indexed substr over the binary payload. floor() because
    // DuckDB CAST(double AS INT) rounds where Spark's cast truncates.
    "mm3_frame_sample" ->
      """WITH f AS (SELECT doc_id, octet_length(encode(text)) AS len, text
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |x AS (SELECT doc_id, len, text, CAST(i AS INT) AS frame_idx
        |  FROM f, (SELECT unnest(range(0, 4)) AS i)),
        |y AS (SELECT doc_id, frame_idx, text,
        |    CAST(floor(CAST(frame_idx AS BIGINT) * len / 4.0) AS INT) AS frame_offset
        |  FROM x)
        |SELECT doc_id, frame_idx, frame_offset,
        |  ascii(substr(text, frame_offset + 1, 1)) AS frame_byte
        |FROM y ORDER BY doc_id, frame_idx""".stripMargin,

    "sql1_hourly" ->
      """SELECT CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour_of_day,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM events GROUP BY hour_of_day ORDER BY hour_of_day""".stripMargin,

    "sql2_asof" ->
      """SELECT e.event_id, e.user_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // hierarchical as-of: per-key ASOF takes what it can, the anti-join
    // remainder goes through the keyless global ASOF
    "j18_asof_fallback" ->
      """WITH ev AS (SELECT event_id, user_id, ts FROM events
        |  WHERE user_id IS NOT NULL),
        |pu AS (SELECT o_custkey AS cust, o_orderdate AS d,
        |    MAX(o_totalprice) AS bp
        |  FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1, 2),
        |g AS (SELECT o_orderdate AS d, MAX(o_totalprice) AS bp
        |  FROM orders GROUP BY 1),
        |m AS (SELECT ev.event_id, ev.user_id, pu.bp AS asof_price
        |  FROM ev ASOF JOIN pu
        |    ON ev.user_id = pu.cust AND ev.ts >= pu.d),
        |r AS (SELECT * FROM ev
        |  WHERE event_id NOT IN (SELECT event_id FROM m)),
        |f AS (SELECT r.event_id, r.user_id, g.bp AS asof_price
        |  FROM r ASOF JOIN g ON r.ts >= g.d)
        |SELECT event_id, user_id, asof_price, 'user' AS source FROM m
        |UNION ALL
        |SELECT event_id, user_id, asof_price, 'global' AS source FROM f
        |ORDER BY event_id""".stripMargin,

    "f2_offset_parse" ->
      """SELECT o_orderkey,
        |  CAST(epoch(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '-05:00',
        |    '%Y-%m-%d %H:%M:%S%z')) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "a8_distinct_count" ->
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem""".stripMargin,

    "w1_window_lag" ->
      """SELECT event_id, user_id,
        |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
        |FROM events ORDER BY event_id""".stripMargin,

    "t5_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    // rolling z-score: exact decimal frame sums, then the identical
    // fixed-order double chain (x - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))
    "ts1_anomaly" ->
      """WITH fr AS (
        |  SELECT event_id, user_id, ts, value,
        |    count(value) OVER w AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |      AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, ts, value,
        |  (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
        |FROM fr
        |WHERE n >= 8 AND (s2 - s1 * s1 / n) / (n - 1) > 0
        |  AND abs((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 3.0
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // CUSUM closed form re-derived: running decimal sum of deviations
    // minus its zero-clamped prefix min, per side; exact decimal
    // comparisons so the alarm set is bit-identical. EVERY intermediate
    // type is pinned with explicit CASTs — a bare `0` in least() or an
    // engine-inferred window-sum precision is version-dependent typing
    // (the r11 driver/local hash divergence), never left to inference.
    "ts2_cusum" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |), runs AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(sum(CAST(x - CAST(60.00 AS DECIMAL(18,2))
        |      AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2)) AS wp,
        |    CAST(sum(CAST(CAST(40.00 AS DECIMAL(18,2)) - x
        |      AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2)) AS wn
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scores AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(wp - least(CAST(min(wp) OVER w AS DECIMAL(38,2)),
        |      CAST(0 AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s_pos,
        |    CAST(wn - least(CAST(min(wn) OVER w AS DECIMAL(38,2)),
        |      CAST(0 AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s_neg
        |  FROM runs
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts, value,
        |  CAST(s_pos AS DOUBLE) + 0.0 AS s_pos,
        |  CAST(s_neg AS DOUBLE) + 0.0 AS s_neg,
        |  CASE WHEN s_pos > 300.00 AND s_neg > 300.00 THEN 'both'
        |       WHEN s_pos > 300.00 THEN 'hi' ELSE 'lo' END AS side
        |FROM scores WHERE s_pos > 300.00 OR s_neg > 300.00
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // decomposition re-derived: same centered ROWS window, exact
    // decimal sums, identical division chains
    "ts11_decompose" ->
      """WITH b AS (SELECT user_id, event_id, ts,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id < 20 AND ts IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |win AS (SELECT user_id, event_id, ts, x,
        |    COUNT(x) OVER w AS cnt,
        |    SUM(x) OVER w AS s
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
        |f AS (SELECT user_id, event_id, ts, x, s,
        |    CAST(24 * x - s AS DECIMAL(38,2)) AS d,
        |    EXTRACT(hour FROM ts) AS phase
        |  FROM win WHERE cnt = 24),
        |p AS (SELECT user_id, phase,
        |    CAST(SUM(d) AS DECIMAL(38,2)) AS g,
        |    CAST(COUNT(*) AS BIGINT) AS np
        |  FROM f GROUP BY user_id, phase)
        |SELECT f.user_id, f.event_id, f.ts,
        |  CAST(f.x AS DOUBLE) AS value,
        |  CAST(f.s AS DOUBLE) / 24 + 0.0 AS trend,
        |  CAST(p.g AS DOUBLE) / (24.0 * p.np) + 0.0 AS seasonal,
        |  CAST(f.x AS DOUBLE) - CAST(f.s AS DOUBLE) / 24
        |    - CAST(p.g AS DOUBLE) / (24.0 * p.np) + 0.0 AS residual
        |FROM f JOIN p ON f.user_id = p.user_id AND f.phase = p.phase
        |ORDER BY f.user_id, f.ts, f.event_id""".stripMargin,

    // strength re-derived: the ts11 decomposition CTE, components
    // quantized DECIMAL(28,6), exact SSE sums, one double chain each
    "ts21_strength" ->
      """WITH b AS (SELECT user_id, event_id, ts,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id < 20 AND ts IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |win AS (SELECT user_id, event_id, ts, x,
        |    COUNT(x) OVER w AS cnt,
        |    SUM(x) OVER w AS s
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
        |f AS (SELECT user_id, event_id, ts, x, s,
        |    CAST(24 * x - s AS DECIMAL(38,2)) AS d,
        |    EXTRACT(hour FROM ts) AS phase
        |  FROM win WHERE cnt = 24),
        |p AS (SELECT user_id, phase,
        |    CAST(SUM(d) AS DECIMAL(38,2)) AS g,
        |    CAST(COUNT(*) AS BIGINT) AS np
        |  FROM f GROUP BY user_id, phase),
        |dcmp AS (SELECT f.user_id,
        |    CAST(f.s AS DOUBLE) / 24 + 0.0 AS trend,
        |    CAST(p.g AS DOUBLE) / (24.0 * p.np) + 0.0 AS seasonal,
        |    CAST(f.x AS DOUBLE) - CAST(f.s AS DOUBLE) / 24
        |      - CAST(p.g AS DOUBLE) / (24.0 * p.np) + 0.0 AS residual
        |  FROM f JOIN p ON f.user_id = p.user_id AND f.phase = p.phase),
        |q AS (SELECT user_id,
        |    CAST(floor(residual * 1000000.0) AS BIGINT) AS rq,
        |    CAST(floor((seasonal + residual) * 1000000.0) AS BIGINT)
        |      AS dtq,
        |    CAST(floor((trend + residual) * 1000000.0) AS BIGINT) AS dsq
        |  FROM dcmp),
        |g AS (SELECT user_id, count(*) AS n,
        |    CAST(SUM(rq) AS BIGINT) AS sr,
        |    CAST(SUM(CAST(rq AS DECIMAL(28,0)) * CAST(rq AS DECIMAL(28,0)))
        |      AS DECIMAL(38,0)) AS qr,
        |    CAST(SUM(dtq) AS BIGINT) AS sdt,
        |    CAST(SUM(CAST(dtq AS DECIMAL(28,0)) * CAST(dtq AS DECIMAL(28,0)))
        |      AS DECIMAL(38,0)) AS qdt,
        |    CAST(SUM(dsq) AS BIGINT) AS sds,
        |    CAST(SUM(CAST(dsq AS DECIMAL(28,0)) * CAST(dsq AS DECIMAL(28,0)))
        |      AS DECIMAL(38,0)) AS qds
        |  FROM q GROUP BY user_id)
        |SELECT user_id, n,
        |  CASE WHEN CAST(qds AS DOUBLE) - CAST(sds AS DOUBLE)
        |      * CAST(sds AS DOUBLE) / CAST(n AS DOUBLE) > 0
        |    THEN greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |      - (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)
        |          * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(qds AS DOUBLE) - CAST(sds AS DOUBLE)
        |          * CAST(sds AS DOUBLE) / CAST(n AS DOUBLE)))
        |    END AS trend_strength,
        |  CASE WHEN CAST(qdt AS DOUBLE) - CAST(sdt AS DOUBLE)
        |      * CAST(sdt AS DOUBLE) / CAST(n AS DOUBLE) > 0
        |    THEN greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |      - (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)
        |          * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(qdt AS DOUBLE) - CAST(sdt AS DOUBLE)
        |          * CAST(sdt AS DOUBLE) / CAST(n AS DOUBLE)))
        |    END AS seasonal_strength
        |FROM g ORDER BY user_id""".stripMargin,

    // Kaplan–Meier re-derived: same integer risk sets, recursive CTE
    // replays the per-cohort time-ordered product (1.0·x ≡ x in IEEE,
    // so the base case drops the identity multiply)
    "ts10_survival" ->
      """WITH RECURSIVE subj AS (SELECT user_id,
        |    CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
        |      / 86400000000) AS BIGINT) AS t_days,
        |    ((user_id % 5) + 5) % 5 <> 0 AS churned,
        |    ((user_id % 3) + 3) % 3 AS cohort
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |st AS (SELECT cohort, t_days AS t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY cohort, t_days),
        |rk AS (SELECT cohort, t, d, c,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) -
        |      COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM st),
        |rec AS (
        |  SELECT cohort, t, d, c, n, rn,
        |    CASE WHEN d > 0 THEN CAST(n - d AS DOUBLE) / n
        |         ELSE CAST(1.0 AS DOUBLE) END AS s
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.cohort, rk.t, rk.d, rk.c, rk.n, rk.rn,
        |    CASE WHEN rk.d > 0
        |      THEN rec.s * (CAST(rk.n - rk.d AS DOUBLE) / rk.n)
        |      ELSE rec.s END
        |  FROM rec JOIN rk ON rk.cohort = rec.cohort
        |    AND rk.rn = rec.rn + 1)
        |SELECT cohort, t, n AS n_risk, d AS n_events, c AS n_censored,
        |  s AS survival
        |FROM rec ORDER BY cohort, t""".stripMargin,

    // Nelson-Aalen re-derived: the ts10 risk sets, additive recursion
    "ts22_nelson_aalen" ->
      """WITH RECURSIVE subj AS (SELECT user_id,
        |    CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
        |      / 86400000000) AS BIGINT) AS t_days,
        |    ((user_id % 5) + 5) % 5 <> 0 AS churned,
        |    ((user_id % 3) + 3) % 3 AS cohort
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |st AS (SELECT cohort, t_days AS t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY cohort, t_days),
        |rk AS (SELECT cohort, t, d, c,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) -
        |      COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM st),
        |rec AS (
        |  SELECT cohort, t, d, c, n, rn,
        |    CASE WHEN d > 0 THEN CAST(d AS DOUBLE) / n
        |         ELSE CAST(0.0 AS DOUBLE) END AS h
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.cohort, rk.t, rk.d, rk.c, rk.n, rk.rn,
        |    CASE WHEN rk.d > 0
        |      THEN rec.h + (CAST(rk.d AS DOUBLE) / rk.n)
        |      ELSE rec.h END
        |  FROM rec JOIN rk ON rk.cohort = rec.cohort
        |    AND rk.rn = rec.rn + 1)
        |SELECT cohort, t, n AS n_risk, d AS n_events, c AS n_censored,
        |  h AS cum_hazard
        |FROM rec ORDER BY cohort, t""".stripMargin,

    // isotonic re-derived: minimax over segment means from exact cent
    // prefix sums — fitted(k) = max_{i<=k} min_{j>=k} mean(i..j); the
    // selected mean is the PAV block mean, same IEEE chain
    "ts24_isotonic" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id < 20 AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS (SELECT user_id, rn, ts, event_id, x,
        |    CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY rn)
        |      AS BIGINT) AS pc
        |  FROM b),
        |seg AS (
        |  SELECT a.user_id, a.rn AS i, z.rn AS j,
        |    CAST(z.pc - coalesce(a0.pc, 0) AS DOUBLE)
        |      / (100.0 * (z.rn - a.rn + 1)) AS m
        |  FROM p a JOIN p z ON z.user_id = a.user_id AND z.rn >= a.rn
        |  LEFT JOIN p a0 ON a0.user_id = a.user_id AND a0.rn = a.rn - 1),
        |imin AS (
        |  SELECT s.user_id, kk.rn AS k, s.i, MIN(s.m) AS mn
        |  FROM seg s JOIN p kk ON kk.user_id = s.user_id
        |    AND s.i <= kk.rn AND s.j >= kk.rn
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT user_id, k, MAX(mn) AS fitted
        |  FROM imin GROUP BY 1, 2)
        |SELECT p.user_id, p.ts, p.event_id, p.x AS value, f.fitted
        |FROM p JOIN fit f ON f.user_id = p.user_id AND f.k = p.rn
        |ORDER BY p.user_id, p.ts, p.event_id""".stripMargin,

    // log-rank re-derived: per-cohort observed vs expected at the
    // global event times, expected terms quantized exactly as Spark's
    "ts23_logrank" ->
      """WITH subj AS (SELECT user_id,
        |    CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
        |      / 86400000000) AS BIGINT) AS t_days,
        |    ((user_id % 5) + 5) % 5 <> 0 AS churned,
        |    ((user_id % 3) + 3) % 3 AS cohort
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |ev AS (SELECT t_days AS t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS dt
        |  FROM subj GROUP BY t_days
        |  HAVING SUM(CASE WHEN churned THEN 1 ELSE 0 END) > 0),
        |cells AS (
        |  SELECT s.cohort, e.t, e.dt,
        |    CAST(SUM(CASE WHEN s.t_days = e.t AND s.churned
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN s.t_days >= e.t THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n
        |  FROM subj s CROSS JOIN ev e GROUP BY 1, 2, 3),
        |tot AS (SELECT t, CAST(SUM(n) AS BIGINT) AS nt
        |  FROM cells GROUP BY t),
        |terms AS (
        |  SELECT c.cohort, c.d,
        |    CAST(floor(1000000.0 * (CAST(c.n * c.dt AS DOUBLE)
        |      / CAST(x.nt AS DOUBLE))) AS BIGINT) AS tq
        |  FROM cells c JOIN tot x ON x.t = c.t WHERE x.nt > 0),
        |agg AS (SELECT cohort, CAST(SUM(d) AS BIGINT) AS observed,
        |    CAST(SUM(tq) AS BIGINT) AS expected_q6
        |  FROM terms GROUP BY cohort)
        |SELECT cohort, observed, expected_q6,
        |  CASE WHEN expected_q6 > 0 THEN
        |    (CAST(observed AS DOUBLE)
        |       - CAST(expected_q6 AS DOUBLE) / 1000000.0)
        |    * (CAST(observed AS DOUBLE)
        |       - CAST(expected_q6 AS DOUBLE) / 1000000.0)
        |    / (CAST(expected_q6 AS DOUBLE) / 1000000.0) END
        |    AS chi2_contrib
        |FROM agg ORDER BY cohort""".stripMargin,

    // streaming anomaly twin: ts1's SQL + the stream's typed-key filter
    "ts1s_anomaly_stream" ->
      """WITH fr AS (
        |  SELECT event_id, user_id, ts, value,
        |    count(value) OVER w AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |      AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, ts, value,
        |  (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
        |FROM fr
        |WHERE n >= 8 AND (s2 - s1 * s1 / n) / (n - 1) > 0
        |  AND abs((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 3.0
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // streaming EWMA twin: ts3's recursive CTE + the typed-key filter
    "ts3s_ewma_stream" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |         CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |r AS (
        |  SELECT user_id, ts, event_id, x, rn, x AS e FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.ts, o.event_id, o.x, o.rn,
        |         CAST(0.25 AS DOUBLE) * o.x + CAST(0.75 AS DOUBLE) * r.e
        |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, x AS value, e AS ewma
        |FROM r ORDER BY user_id, ts, event_id""".stripMargin,

    // streaming CUSUM twin: the sealed alarms ARE ts2's closed form
    // (CusumStream parity contract), so the oracle is the identical
    // type-pinned SQL — plus the stream's typed-key observation
    // contract (null user_id/event_id rows cannot enter a long key)
    "ts2s_cusum_stream" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |), runs AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(sum(CAST(x - CAST(60.00 AS DECIMAL(18,2))
        |      AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2)) AS wp,
        |    CAST(sum(CAST(CAST(40.00 AS DECIMAL(18,2)) - x
        |      AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2)) AS wn
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scores AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(wp - least(CAST(min(wp) OVER w AS DECIMAL(38,2)),
        |      CAST(0 AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s_pos,
        |    CAST(wn - least(CAST(min(wn) OVER w AS DECIMAL(38,2)),
        |      CAST(0 AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s_neg
        |  FROM runs
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts, value,
        |  CAST(s_pos AS DOUBLE) + 0.0 AS s_pos,
        |  CAST(s_neg AS DOUBLE) + 0.0 AS s_neg,
        |  CASE WHEN s_pos > 300.00 AND s_neg > 300.00 THEN 'both'
        |       WHEN s_pos > 300.00 THEN 'hi' ELSE 'lo' END AS side
        |FROM scores WHERE s_pos > 300.00 OR s_neg > 300.00
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // EWMA: sequential recurrence re-derived by a recursive CTE over the
    // per-key row numbering; identical stabilization and the identical
    // IEEE step 0.25*x + 0.75*e; round-6 canonicalized
    "ts3_ewma" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |         CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |r AS (
        |  SELECT user_id, ts, event_id, x, rn, x AS e FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.ts, o.event_id, o.x, o.rn,
        |         CAST(0.25 AS DOUBLE) * o.x + CAST(0.75 AS DOUBLE) * r.e
        |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, x AS value, e AS ewma
        |FROM r ORDER BY user_id, ts, event_id""".stripMargin,

    // conformal re-derived: same canonical doubles, same integer rank,
    // the k-th smallest residual is tie-invariant
    "a65_conformal" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / count(y)
        |      AS yhat
        |  FROM e WHERE event_id % 2 = 0 GROUP BY user_id),
        |r AS (
        |  SELECT abs(e.y - p.yhat) AS r
        |  FROM e JOIN p USING (user_id) WHERE e.event_id % 2 = 0),
        |rk AS (
        |  SELECT least(((count(*) + 1) * 90 + 99) // 100, count(*))
        |    AS rank FROM r),
        |q AS (
        |  SELECT min(r) AS q FROM
        |    (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM r), rk
        |  WHERE rn >= rank)
        |SELECT e.event_id, e.user_id, p.yhat AS pred, e.y AS actual,
        |  p.yhat - q.q AS lo, p.yhat + q.q AS hi,
        |  (e.y >= p.yhat - q.q AND e.y <= p.yhat + q.q) AS covered
        |FROM e JOIN p USING (user_id), q
        |WHERE e.event_id % 2 = 1
        |ORDER BY event_id""".stripMargin,

    // CUPED re-derived: the same exact-cents moments, round-6 theta,
    // one-division xbar, fixed adjustment chain
    "a66_cuped" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |pre AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(v) AS x
        |  FROM e WHERE event_id % 2 = 0 GROUP BY user_id),
        |post AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(v) AS yv
        |  FROM e WHERE event_id % 2 = 1 GROUP BY user_id),
        |b AS (
        |  SELECT user_id, CAST(floor(x * 100.0) AS BIGINT) AS xq,
        |    CAST(floor(yv * 100.0) AS BIGINT) AS yq
        |  FROM pre JOIN post USING (user_id)),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(xq) AS DOUBLE) AS sx,
        |    CAST(sum(yq) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(xq AS DECIMAL(19,0)) * CAST(xq AS DECIMAL(19,0)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(xq AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0)))
        |      AS DOUBLE) AS sxy
        |  FROM b),
        |s AS (SELECT
        |    CASE WHEN n * sxx - sx * sx > 0
        |      THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    END AS theta,
        |    sx / (100.0 * n) AS xbar
        |  FROM m)
        |SELECT b.user_id, CAST(yq AS DOUBLE) / 100.0 AS y,
        |  CASE WHEN s.theta IS NOT NULL
        |    THEN CAST(yq AS DOUBLE) / 100.0
        |         - s.theta * (CAST(xq AS DOUBLE) / 100.0 - s.xbar)
        |  END AS adjusted
        |FROM b, s ORDER BY user_id""".stripMargin,

    // retention re-derived: same day buckets, first-activity cohorts,
    // distinct-active counts, one division
    "a64_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000)
        |      % 86400000000) // 86400000000 AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cohorts AS (SELECT u, min(p) AS c FROM active GROUP BY u),
        |sizes AS (SELECT c, count(*) AS size FROM cohorts GROUP BY c),
        |cells AS (
        |  SELECT c AS cohort, a.p - c AS age, count(*) AS n_active
        |  FROM active a JOIN cohorts USING (u) GROUP BY 1, 2)
        |SELECT cohort, age, n_active, size AS cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(size AS DOUBLE) AS retention
        |FROM cells JOIN sizes ON cells.cohort = sizes.c
        |ORDER BY cohort, age""".stripMargin,

    // transitions re-derived: the same lead pairs and conditional share
    "w13_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT from_state, to_state, count(*) AS n_transitions
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n_transitions,
        |  CAST(n_transitions AS DOUBLE)
        |    / CAST(sum(n_transitions) OVER (PARTITION BY from_state)
        |           AS DOUBLE) AS p
        |FROM c ORDER BY from_state, to_state""".stripMargin,

    // changepoint re-derived: the same prefix-sum SSE argmin
    "ts19_changepoint" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |c AS (
        |  SELECT user_id, ts, event_id,
        |    count(*) OVER wr AS nl,
        |    CAST(sum(x) OVER wr AS DECIMAL(38,2)) AS sxl,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) OVER wr
        |      AS DECIMAL(38,4)) AS s2l,
        |    count(*) OVER wa AS n,
        |    CAST(sum(x) OVER wa AS DECIMAL(38,2)) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) OVER wa
        |      AS DECIMAL(38,4)) AS s2
        |  FROM b
        |  WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wa AS (PARTITION BY user_id)),
        |s AS (
        |  SELECT *,
        |    (CAST(s2l AS DOUBLE)
        |       - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE)
        |         / CAST(nl AS DOUBLE))
        |    + (CAST(CAST(s2 - s2l AS DECIMAL(38,4)) AS DOUBLE)
        |       - CAST(CAST(sx - sxl AS DECIMAL(38,2)) AS DOUBLE)
        |         * CAST(CAST(sx - sxl AS DECIMAL(38,2)) AS DOUBLE)
        |         / CAST(n - nl AS DOUBLE)) AS score
        |  FROM c WHERE nl >= 5 AND n - nl >= 5),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY score, ts, event_id) AS rk FROM s)
        |SELECT user_id, n, ts AS cp_ts, nl AS n_left,
        |  CAST(sxl AS DOUBLE) / CAST(nl AS DOUBLE) AS mean_left,
        |  CAST(CAST(sx - sxl AS DECIMAL(38,2)) AS DOUBLE)
        |    / CAST(n - nl AS DOUBLE) AS mean_right,
        |  (CAST(s2 AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    - score AS gain
        |FROM p WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // the SQL-surface twin folds the identical recurrence
    "sql5_ewma" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |         CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |r AS (
        |  SELECT user_id, ts, event_id, x, rn, x AS e FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.ts, o.event_id, o.x, o.rn,
        |         CAST(0.25 AS DOUBLE) * o.x + CAST(0.75 AS DOUBLE) * r.e
        |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, x AS value, e AS ewma
        |FROM r ORDER BY user_id, ts, event_id""".stripMargin,

    // SQL survival surface: ts10's risk sets with BOTH recursions —
    // KM product (s) and Nelson-Aalen sum (h) — in one CTE replay
    "sql6_survival" ->
      """WITH RECURSIVE subj AS (SELECT user_id,
        |    CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
        |      / 86400000000) AS BIGINT) AS t_days,
        |    ((user_id % 5) + 5) % 5 <> 0 AS churned,
        |    ((user_id % 3) + 3) % 3 AS cohort
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |st AS (SELECT cohort, t_days AS t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY cohort, t_days),
        |rk AS (SELECT cohort, t, d, c,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) -
        |      COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM st),
        |rec AS (
        |  SELECT cohort, t, d, c, n, rn,
        |    CASE WHEN d > 0 THEN CAST(n - d AS DOUBLE) / n
        |         ELSE CAST(1.0 AS DOUBLE) END AS s,
        |    CASE WHEN d > 0 THEN CAST(d AS DOUBLE) / n
        |         ELSE CAST(0.0 AS DOUBLE) END AS h
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.cohort, rk.t, rk.d, rk.c, rk.n, rk.rn,
        |    CASE WHEN rk.d > 0
        |      THEN rec.s * (CAST(rk.n - rk.d AS DOUBLE) / rk.n)
        |      ELSE rec.s END,
        |    CASE WHEN rk.d > 0
        |      THEN rec.h + (CAST(rk.d AS DOUBLE) / rk.n)
        |      ELSE rec.h END
        |  FROM rec JOIN rk ON rk.cohort = rec.cohort
        |    AND rk.rn = rec.rn + 1)
        |SELECT cohort, t, n AS n_risk, d AS n_events, c AS n_censored,
        |  s AS survival, h AS cum_hazard
        |FROM rec ORDER BY cohort, t""".stripMargin,

    // SQL retention surface: same oracle derivation as a64
    "sql7_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000)
        |      % 86400000000) // 86400000000 AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cohorts AS (SELECT u, min(p) AS c FROM active GROUP BY u),
        |sizes AS (SELECT c, count(*) AS size FROM cohorts GROUP BY c),
        |cells AS (
        |  SELECT c AS cohort, a.p - c AS age, count(*) AS n_active
        |  FROM active a JOIN cohorts USING (u) GROUP BY 1, 2)
        |SELECT cohort, age, n_active, size AS cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(size AS DOUBLE) AS retention
        |FROM cells JOIN sizes ON cells.cohort = sizes.c
        |ORDER BY cohort, age""".stripMargin,

    // SQL conformal surface: same oracle derivation as a65
    "sql8_conformal" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / count(y)
        |      AS yhat
        |  FROM e WHERE event_id % 2 = 0 GROUP BY user_id),
        |r AS (
        |  SELECT abs(e.y - p.yhat) AS r
        |  FROM e JOIN p USING (user_id) WHERE e.event_id % 2 = 0),
        |rk AS (
        |  SELECT least(((count(*) + 1) * 90 + 99) // 100, count(*))
        |    AS rank FROM r),
        |q AS (
        |  SELECT min(r) AS q FROM
        |    (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM r), rk
        |  WHERE rn >= rank)
        |SELECT e.event_id, e.user_id, p.yhat AS pred, e.y AS actual,
        |  p.yhat - q.q AS lo, p.yhat + q.q AS hi,
        |  (e.y >= p.yhat - q.q AND e.y <= p.yhat + q.q) AS covered
        |FROM e JOIN p USING (user_id), q
        |WHERE e.event_id % 2 = 1
        |ORDER BY event_id""".stripMargin,

    // SQL isotonic surface: same minimax oracle derivation as ts24
    "sql10_isotonic" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id < 20 AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS (SELECT user_id, rn, ts, event_id, x,
        |    CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY rn)
        |      AS BIGINT) AS pc
        |  FROM b),
        |seg AS (
        |  SELECT a.user_id, a.rn AS i, z.rn AS j,
        |    CAST(z.pc - coalesce(a0.pc, 0) AS DOUBLE)
        |      / (100.0 * (z.rn - a.rn + 1)) AS m
        |  FROM p a JOIN p z ON z.user_id = a.user_id AND z.rn >= a.rn
        |  LEFT JOIN p a0 ON a0.user_id = a.user_id AND a0.rn = a.rn - 1),
        |imin AS (
        |  SELECT s.user_id, kk.rn AS k, s.i, MIN(s.m) AS mn
        |  FROM seg s JOIN p kk ON kk.user_id = s.user_id
        |    AND s.i <= kk.rn AND s.j >= kk.rn
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT user_id, k, MAX(mn) AS fitted
        |  FROM imin GROUP BY 1, 2)
        |SELECT p.user_id, p.ts, p.event_id, p.x AS value, f.fitted
        |FROM p JOIN fit f ON f.user_id = p.user_id AND f.k = p.rn
        |ORDER BY p.user_id, p.ts, p.event_id""".stripMargin,

    // SQL transition surface: same oracle derivation as w13
    "sql9_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT from_state, to_state, count(*) AS n_transitions
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n_transitions,
        |  CAST(n_transitions AS DOUBLE)
        |    / CAST(sum(n_transitions) OVER (PARTITION BY from_state)
        |           AS DOUBLE) AS p
        |FROM c ORDER BY from_state, to_state""".stripMargin,

    // KS re-derived: the same per-value cumulative counts, gap
    // cross-multiplied to stay integer, max per key
    "a39_ks" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp, value
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |v AS (SELECT event_type, value AS v,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY event_type, value),
        |c AS (SELECT event_type, v, ca, cb,
        |    SUM(ca) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER (PARTITION BY event_type) AS na,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM v),
        |g AS (SELECT event_type,
        |    CAST(MAX(na) AS BIGINT) AS n_a,
        |    CAST(MAX(nb) AS BIGINT) AS n_b,
        |    CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS d_num
        |  FROM c GROUP BY event_type)
        |SELECT event_type, n_a, n_b, d_num,
        |  CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) + 0.0 AS d
        |FROM g WHERE n_a > 0 AND n_b > 0
        |ORDER BY event_type""".stripMargin,

    // midrank rank sums re-derived from per-value cumulative counts —
    // every statistic exact integer; AUC one double division
    "a38_ranksum" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp, value
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |v AS (SELECT event_type, value AS v, COUNT(*) AS cnt,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca
        |  FROM e GROUP BY event_type, value),
        |c AS (SELECT event_type, v, cnt, ca,
        |    COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM v),
        |g AS (SELECT event_type,
        |    CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cnt - ca) AS BIGINT) AS n_b,
        |    CAST(SUM(ca * (2 * lt + cnt + 1)) AS BIGINT) AS r1_x2
        |  FROM c GROUP BY event_type)
        |SELECT event_type, n_a, n_b, r1_x2,
        |  r1_x2 - n_a * (n_a + 1) AS u1_x2,
        |  CAST(r1_x2 - n_a * (n_a + 1) AS DOUBLE)
        |    / (2.0 * n_a * n_b) + 0.0 AS auc
        |FROM g WHERE n_a > 0 AND n_b > 0
        |ORDER BY event_type""".stripMargin,

    // moments re-derived: same pinned decimal widths (x2 in (18,4) so
    // every product stays inside DuckDB's 38-digit multiply), one
    // double cast per sum, the identical IEEE tree
    "a52_moments" ->
      """WITH b AS (SELECT event_type,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2))
        |      * TRY_CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4)) AS x2
        |  FROM events
        |  WHERE TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |a AS (SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS s1,
        |    CAST(SUM(x2) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(x2 * CAST(x AS DECIMAL(10,2))
        |      AS DECIMAL(38,6))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,8))) AS DOUBLE) AS s4
        |  FROM b GROUP BY event_type),
        |c AS (SELECT event_type, n, s1, s2, s3, s4,
        |    s1 / n AS m,
        |    s2 / n - (s1 / n) * (s1 / n) AS v
        |  FROM a)
        |SELECT event_type,
        |  CAST(n AS BIGINT) AS n,
        |  round(m, 6) + 0.0 AS mean,
        |  CASE WHEN v > 0 THEN round(
        |    (s3 / n - 3.0 * m * (s2 / n) + 2.0 * m * m * m)
        |      / (sqrt(v) * v), 6) + 0.0 END AS skewness,
        |  CASE WHEN v > 0 THEN round(
        |    (s4 / n - 4.0 * m * (s3 / n) + 6.0 * m * m * (s2 / n)
        |      - 3.0 * m * m * m * m) / (v * v) - 3.0, 6) + 0.0
        |    END AS kurtosis_excess
        |FROM c ORDER BY event_type""".stripMargin,

    // randomization test re-derived: identical md5-uniform draws,
    // identical binomial threshold NA/(NA+NB), HUGEINT cross-products
    // mirror the engine's DECIMAL(38,0) exactly
    "a50_randomization" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c,
        |    event_id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |obs AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN c ELSE 0 END) AS HUGEINT) AS sa0,
        |    CAST(SUM(CASE WHEN grp = 'b' THEN c ELSE 0 END) AS HUGEINT) AS sb0,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na0,
        |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb0
        |  FROM e GROUP BY event_type
        |  HAVING na0 > 0 AND nb0 > 0),
        |t AS (SELECT *, abs(sa0 * nb0 - sb0 * na0) AS tobs FROM obs),
        |r AS (SELECT e.event_type, g.b, e.c,
        |    CASE WHEN CAST(concat('0x', substr(md5(concat(
        |        CAST(e.event_id AS VARCHAR), ':', CAST(g.b AS VARCHAR))),
        |        1, 15)) AS BIGINT) / 1152921504606846976.0
        |      < CAST(t.na0 AS DOUBLE) / CAST(t.na0 + t.nb0 AS DOUBLE)
        |      THEN 1 ELSE 0 END AS a,
        |    t.na0, t.nb0, t.tobs
        |  FROM e JOIN t ON e.event_type = t.event_type,
        |    generate_series(0, 49) g(b)),
        |p AS (SELECT event_type, b,
        |    CAST(SUM(CASE WHEN a = 1 THEN c ELSE 0 END) AS HUGEINT) AS sa,
        |    CAST(SUM(CASE WHEN a = 0 THEN c ELSE 0 END) AS HUGEINT) AS sb,
        |    CAST(SUM(a) AS BIGINT) AS na,
        |    CAST(SUM(1 - a) AS BIGINT) AS nb,
        |    MAX(na0) AS na0, MAX(nb0) AS nb0, MAX(tobs) AS tobs
        |  FROM r GROUP BY event_type, b
        |  HAVING na > 0 AND nb > 0),
        |x AS (SELECT event_type,
        |    CASE WHEN abs(sa * nb - sb * na) * (na0 * nb0)
        |      >= tobs * (na * nb) THEN 1 ELSE 0 END AS extreme
        |  FROM p)
        |SELECT o.event_type,
        |  o.na0 AS n_a, o.nb0 AS n_b,
        |  (CAST(o.sa0 AS DOUBLE) / CAST(o.na0 AS DOUBLE)
        |    - CAST(o.sb0 AS DOUBLE) / CAST(o.nb0 AS DOUBLE)) / 100.0
        |    + 0.0 AS mean_diff,
        |  CAST(COUNT(*) AS BIGINT) AS b_used,
        |  CAST(SUM(x.extreme) AS BIGINT) AS n_extreme,
        |  (1.0 + CAST(SUM(x.extreme) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) + 1.0) + 0.0 AS p_value
        |FROM t o JOIN x ON o.event_type = x.event_type
        |GROUP BY o.event_type, o.na0, o.nb0, o.sa0, o.sb0
        |ORDER BY o.event_type""".stripMargin,

    // Poisson bootstrap re-derived: identical md5-uniform, identical
    // Poisson(1) cumulative literals, identical rank-based interval
    "a37_bootstrap_ci" ->
      """WITH v AS (SELECT user_id, event_id,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |x AS (SELECT user_id, b, v,
        |    CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR),
        |      ':', CAST(b AS VARCHAR))), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS u
        |  FROM v, generate_series(0, 39) t(b)),
        |w AS (SELECT user_id, b, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         ELSE 8 END AS w
        |  FROM x),
        |r AS (SELECT user_id, b, SUM(v * w) AS ws, SUM(w) AS n
        |  FROM w GROUP BY user_id, b),
        |m AS (SELECT user_id, b,
        |    CAST(ws AS DOUBLE) / n + 0.0 AS m
        |  FROM r WHERE n > 0),
        |rk AS (SELECT user_id, b, m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY m, b) AS rnk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM m),
        |ci AS (SELECT user_id,
        |    MAX(CASE WHEN rnk = LEAST(1, cnt) THEN m END) AS ci_lo,
        |    MAX(CASE WHEN rnk = LEAST(39, cnt) THEN m END) AS ci_hi,
        |    COUNT(*) AS b_used
        |  FROM rk GROUP BY user_id),
        |p AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) / COUNT(*) + 0.0 AS mean
        |  FROM v GROUP BY user_id)
        |SELECT p.user_id, p.n, p.mean, ci.ci_lo, ci.ci_hi, ci.b_used
        |FROM p JOIN ci USING (user_id) ORDER BY user_id""".stripMargin,

    // one-pass correlation matrix: the a16 exact-moment discipline over
    // every pair from ONE set of decimal sums
    "a40_corr_matrix" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x0,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x1,
        |    CAST(l_discount AS DECIMAL(18,2)) AS x2 FROM lineitem
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_extendedprice AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_discount AS DECIMAL(18,2)) IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x0) AS DOUBLE) AS s0, CAST(sum(x1) AS DOUBLE) AS s1,
        |    CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(x0*x0) AS DOUBLE) AS p00,
        |    CAST(sum(x0*x1) AS DOUBLE) AS p01,
        |    CAST(sum(x0*x2) AS DOUBLE) AS p02,
        |    CAST(sum(x1*x1) AS DOUBLE) AS p11,
        |    CAST(sum(x1*x2) AS DOUBLE) AS p12,
        |    CAST(sum(x2*x2) AS DOUBLE) AS p22 FROM p)
        |SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
        |  round(corr, 6) + 0.0 AS corr FROM (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
        |    (p01 - s0*s1/n) / (sqrt(p00 - s0*s0/n)*sqrt(p11 - s1*s1/n))
        |      AS corr FROM a
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount', n,
        |    (p02 - s0*s2/n) / (sqrt(p00 - s0*s0/n)*sqrt(p22 - s2*s2/n))
        |    FROM a
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_discount', n,
        |    (p12 - s1*s2/n) / (sqrt(p11 - s1*s1/n)*sqrt(p22 - s2*s2/n))
        |    FROM a)
        |ORDER BY col_x, col_y""".stripMargin,

    // partial correlation: the a40 moments, three pairwise r's, one
    // more fixed sequence
    "a59_partial_corr" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x0,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x1,
        |    CAST(l_discount AS DECIMAL(18,2)) AS x2 FROM lineitem
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_extendedprice AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_discount AS DECIMAL(18,2)) IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x0) AS DOUBLE) AS s0, CAST(sum(x1) AS DOUBLE) AS s1,
        |    CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(x0*x0) AS DOUBLE) AS p00,
        |    CAST(sum(x0*x1) AS DOUBLE) AS p01,
        |    CAST(sum(x0*x2) AS DOUBLE) AS p02,
        |    CAST(sum(x1*x1) AS DOUBLE) AS p11,
        |    CAST(sum(x1*x2) AS DOUBLE) AS p12,
        |    CAST(sum(x2*x2) AS DOUBLE) AS p22 FROM p),
        |r AS (SELECT CAST(n AS BIGINT) AS n,
        |    (p01 - s0*s1/n) / (sqrt(p00 - s0*s0/n)*sqrt(p11 - s1*s1/n))
        |      AS rxy,
        |    (p02 - s0*s2/n) / (sqrt(p00 - s0*s0/n)*sqrt(p22 - s2*s2/n))
        |      AS rxz,
        |    (p12 - s1*s2/n) / (sqrt(p11 - s1*s1/n)*sqrt(p22 - s2*s2/n))
        |      AS ryz
        |  FROM a)
        |SELECT n, round(rxy, 6) + 0.0 AS r_xy,
        |  round(rxz, 6) + 0.0 AS r_xz,
        |  round(ryz, 6) + 0.0 AS r_yz,
        |  CASE WHEN abs(round(rxz, 6)) < 1 AND abs(round(ryz, 6)) < 1
        |    THEN round((rxy - rxz * ryz)
        |      / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz)), 6) + 0.0
        |    ELSE NULL END AS r_xy_given_z
        |FROM r""".stripMargin,

    // conversion latency: the same two first-event frames, one integer
    // division
    "w11_conversion_latency" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS first_view FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'view' GROUP BY user_id),
        |p AS (SELECT user_id, MIN(ts) AS first_purchase FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY user_id)
        |SELECT v.user_id, first_view, first_purchase,
        |  (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000
        |    AS latency_s
        |FROM v JOIN p USING (user_id)
        |WHERE first_purchase >= first_view
        |ORDER BY user_id""".stripMargin,

    // filtered kNN: sim1's cosine with the label predicate on the join
    "sim20_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS qlabel
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id, e.label,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS sim
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.qid AND e.label = q.qlabel),
        |r AS (SELECT qid, vec_id, label, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM s)
        |SELECT qid, vec_id, label, sim, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // Spearman: doubled midranks are exact integers ((2·Σpos)//cnt per
    // distinct value — Σpos over a tie group is invariant to how the
    // row_number falls inside it), then Pearson over exact rank moments
    "a41_spearman" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_extendedprice AS DECIMAL(18,2)) IS NOT NULL),
        |rx AS (SELECT v, (2*sum(rn)) // count(*) AS ra FROM
        |  (SELECT x AS v, row_number() OVER (ORDER BY x) AS rn FROM p)
        |  GROUP BY v),
        |ry AS (SELECT v, (2*sum(rn)) // count(*) AS rb FROM
        |  (SELECT y AS v, row_number() OVER (ORDER BY y) AS rn FROM p)
        |  GROUP BY v),
        |j AS (SELECT CAST(ra AS DECIMAL(18,0)) AS ra,
        |    CAST(rb AS DECIMAL(18,0)) AS rb
        |  FROM p JOIN rx ON p.x = rx.v JOIN ry ON p.y = ry.v),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(ra) AS DOUBLE) AS sx, CAST(sum(rb) AS DOUBLE) AS sy,
        |    CAST(sum(ra*ra) AS DOUBLE) AS sxx,
        |    CAST(sum(rb*rb) AS DOUBLE) AS syy,
        |    CAST(sum(ra*rb) AS DOUBLE) AS sxy FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((sxy - sx*sy/n) /
        |    (sqrt(sxx - sx*sx/n)*sqrt(syy - sy*sy/n)), 6) + 0.0 AS rho
        |FROM a""".stripMargin,

    // Welch: exact power sums per arm via FILTER, then the identical
    // fixed double tree for t and the Welch–Satterthwaite df
    "a42_welch" ->
      """WITH s AS (SELECT
        |    CAST(count(*) FILTER (WHERE user_id % 2 = 0
        |      AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL)
        |      AS DOUBLE) AS na,
        |    CAST(count(*) FILTER (WHERE user_id % 2 <> 0
        |      AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL)
        |      AS DOUBLE) AS nb,
        |    CAST(sum(TRY_CAST(value AS DECIMAL(18,2)))
        |      FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS sa,
        |    CAST(sum(TRY_CAST(value AS DECIMAL(18,2)))
        |      FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS sb,
        |    CAST(sum(CAST(TRY_CAST(value AS DECIMAL(18,2)) *
        |        TRY_CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS qa,
        |    CAST(sum(CAST(TRY_CAST(value AS DECIMAL(18,2)) *
        |        TRY_CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS qb
        |  FROM events WHERE user_id IS NOT NULL),
        |m AS (SELECT na, nb, sa/na AS ma, sb/nb AS mb,
        |    (qa - sa*sa/na)/(na - 1) AS va,
        |    (qb - sb*sb/nb)/(nb - 1) AS vb FROM s),
        |v AS (SELECT na, nb, ma, mb, va, vb,
        |    va/na AS s2a, vb/nb AS s2b FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
        |  round(va, 6) + 0.0 AS var_a, round(vb, 6) + 0.0 AS var_b,
        |  round((ma - mb)/sqrt(s2a + s2b), 6) + 0.0 AS t_stat,
        |  round((s2a + s2b)*(s2a + s2b) /
        |    (s2a*s2a/(na - 1) + s2b*s2b/(nb - 1)), 6) + 0.0 AS df
        |FROM v""".stripMargin,

    // Mann–Kendall: pair signs re-derived with a per-key self-join on
    // the (us, tie) order; exact integer S/var18, identical z tree
    "ts9_mann_kendall" ->
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS tie,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |sp AS (SELECT a.k,
        |    SUM(CASE WHEN b.x > a.x THEN 1
        |             WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
        |  FROM e a JOIN e b ON b.k = a.k
        |    AND (b.us > a.us OR (b.us = a.us AND b.tie > a.tie))
        |  GROUP BY a.k),
        |m AS (SELECT k, count(*) AS m FROM e GROUP BY k),
        |t AS (SELECT k, SUM(t*(t-1)*(2*t+5)) AS tt FROM
        |  (SELECT k, x, count(*) AS t FROM e GROUP BY k, x) z
        |  GROUP BY k),
        |v AS (SELECT m.k, m.m, COALESCE(sp.s, 0) AS s,
        |    m.m*(m.m-1)*(2*m.m+5) - COALESCE(t.tt, 0) AS v18
        |  FROM m LEFT JOIN sp USING (k) LEFT JOIN t USING (k))
        |SELECT k AS user_id, CAST(m AS BIGINT) AS n,
        |  CAST(s AS BIGINT) AS s, CAST(v18 AS BIGINT) AS var18,
        |  round(CASE WHEN s = 0 THEN 0.0
        |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) /
        |      sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |    ELSE (CAST(s AS DOUBLE) + 1.0) /
        |      sqrt(CAST(v18 AS DOUBLE) / 18.0) END, 6) + 0.0 AS z
        |FROM v ORDER BY user_id""".stripMargin,

    // two-proportion z: exact counts via FILTER, identical double tree
    "a48_prop_test" ->
      """WITH s AS (SELECT
        |    count(*) FILTER (WHERE user_id % 2 = 0) AS na,
        |    count(*) FILTER (WHERE user_id % 2 <> 0) AS nb,
        |    count(*) FILTER (WHERE user_id % 2 = 0
        |      AND event_type = 'purchase') AS xa,
        |    count(*) FILTER (WHERE user_id % 2 <> 0
        |      AND event_type = 'purchase') AS xb
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT na, nb, xa, xb,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |    CAST(xa AS DOUBLE) AS xad, CAST(xb AS DOUBLE) AS xbd FROM s),
        |r AS (SELECT na, nb, xa, xb, nad, nbd,
        |    xad/nad AS pa, xbd/nbd AS pb,
        |    (xad + xbd)/(nad + nbd) AS pool FROM d)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(xa AS BIGINT) AS x_a, CAST(xb AS BIGINT) AS x_b,
        |  round(pa, 6) + 0.0 AS rate_a, round(pb, 6) + 0.0 AS rate_b,
        |  round(pool, 6) + 0.0 AS rate_pooled,
        |  round((pa - pb) /
        |    sqrt(pool*(1.0 - pool)*(1.0/nad + 1.0/nbd)), 6) + 0.0 AS z
        |FROM r""".stripMargin,

    // mode: max count, ties to the smallest value — one row_number
    "a47_mode" ->
      """SELECT user_id, mode, n_mode FROM (
        |  SELECT user_id, event_type AS mode,
        |    count(*) AS n_mode,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type) AS rk
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY user_id, event_type) z
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // impute: quantile_cont == Spark's sort-based percentile (a18
    // precedent); injected nulls filled per group, the rest pass through
    "p7_impute_median" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        |  FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  round(COALESCE(e.value, m.med), 6) + 0.0 AS value
        |FROM e LEFT JOIN m USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    // Benford: lexical first significant digit ([1-9] of the decimal
    // rendering — DECIMAL(18,2) renders identically in both engines),
    // shared quantized expectation literals
    "a46_benford" ->
      s"""WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS xd
        |  FROM lineitem
        |  WHERE CAST(l_extendedprice AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_extendedprice AS DECIMAL(18,2)) > 0),
        |c AS (SELECT CAST(regexp_extract(CAST(xd AS VARCHAR), '[1-9]', 0)
        |      AS INT) AS digit, count(*) AS nd
        |  FROM v GROUP BY 1),
        |tot AS (SELECT SUM(nd) AS nn FROM c),
        |e AS (SELECT * FROM (VALUES $benfordRows) te(digit, expect)),
        |d AS (SELECT CAST(i AS INT) AS digit FROM range(1, 10) t(i))
        |SELECT d.digit, CAST(COALESCE(c.nd, 0) AS BIGINT) AS n_digit,
        |  round(CAST(COALESCE(c.nd, 0) AS DOUBLE) /
        |    CAST(tot.nn AS DOUBLE), 6) + 0.0 AS share,
        |  CAST(e.expect AS DOUBLE) AS expected,
        |  round(CAST(COALESCE(c.nd, 0) AS DOUBLE) /
        |    CAST(tot.nn AS DOUBLE) - CAST(e.expect AS DOUBLE), 6) + 0.0
        |    AS gap
        |FROM d LEFT JOIN c USING (digit) JOIN e USING (digit)
        |CROSS JOIN tot ORDER BY d.digit""".stripMargin,

    // Theil–Sen: identical cell-pair frame, RANGE-cumulative weighted
    // lower medians, LIMIT 1 selection
    "a45_theil_sen" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_discount AS DECIMAL(18,2)) AS y FROM lineitem
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_discount AS DECIMAL(18,2)) IS NOT NULL),
        |c AS (SELECT x, y, CAST(count(*) AS DECIMAL(38,0)) AS n
        |  FROM p GROUP BY x, y),
        |pr AS (SELECT CAST(b.y - a.y AS DECIMAL(19,2)) AS num,
        |    CAST(b.x - a.x AS DECIMAL(19,2)) AS den,
        |    CAST(a.n * b.n AS DECIMAL(38,0)) AS w
        |  FROM c a JOIN c b ON b.x > a.x),
        |k AS (SELECT CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS k, w
        |  FROM pr),
        |s AS (SELECT k, SUM(w) OVER (ORDER BY k) AS cum,
        |    SUM(w) OVER () AS tot, COUNT(*) OVER () AS np FROM k),
        |sl AS (SELECT k AS slope, np AS n_pairs FROM s
        |  WHERE cum * 2 >= tot ORDER BY k LIMIT 1),
        |r AS (SELECT c.n AS w, sl.slope, sl.n_pairs,
        |    CAST(c.y AS DOUBLE) - sl.slope * CAST(c.x AS DOUBLE) AS r
        |  FROM c CROSS JOIN sl),
        |t AS (SELECT slope, n_pairs, r, SUM(w) OVER (ORDER BY r) AS cum,
        |    SUM(w) OVER () AS tot FROM r),
        |ic AS (SELECT slope, n_pairs, r AS intercept,
        |    CAST(tot AS BIGINT) AS n FROM t
        |  WHERE cum * 2 >= tot ORDER BY r LIMIT 1)
        |SELECT ic.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_cells,
        |  CAST(ic.n_pairs AS BIGINT) AS n_pairs,
        |  round(ic.slope, 6) + 0.0 AS slope,
        |  round(ic.intercept, 6) + 0.0 AS intercept
        |FROM ic""".stripMargin,

    // Kendall tau-b: same strict cell joins, HUGEINT-exact counts,
    // identical final double tree
    "a44_kendall" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_discount AS DECIMAL(18,2)) AS y FROM lineitem
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(l_discount AS DECIMAL(18,2)) IS NOT NULL),
        |c AS (SELECT x, y, count(*) AS n FROM p GROUP BY x, y),
        |cd AS (SELECT
        |    COALESCE(SUM(CASE WHEN b.y > a.y THEN a.n * b.n END), 0) AS cc,
        |    COALESCE(SUM(CASE WHEN b.y < a.y THEN a.n * b.n END), 0) AS dd
        |  FROM c a JOIN c b ON b.x > a.x),
        |mx AS (SELECT x, SUM(n) AS m FROM c GROUP BY x),
        |my AS (SELECT y, SUM(n) AS m FROM c GROUP BY y),
        |ux AS (SELECT COALESCE(SUM(a.m * b.m), 0) AS u
        |  FROM mx a JOIN mx b ON b.x > a.x),
        |uy AS (SELECT COALESCE(SUM(a.m * b.m), 0) AS u
        |  FROM my a JOIN my b ON b.y > a.y),
        |tot AS (SELECT SUM(n) AS nn, COUNT(*) AS k FROM c)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS n_cells,
        |  CAST(cc AS DOUBLE) AS concordant, CAST(dd AS DOUBLE)
        |    AS discordant,
        |  round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
        |    (sqrt(CAST(ux.u AS DOUBLE)) * sqrt(CAST(uy.u AS DOUBLE))), 6)
        |    + 0.0 AS tau_b
        |FROM tot, cd, ux, uy""".stripMargin,

    // chi-square cells: every expected/contribution is ONE correctly-
    // rounded division of exact integers — deterministic per cell
    "a43_chi2_cells" ->
      """WITH c AS (SELECT event_type AS a,
        |    CAST(EXTRACT(HOUR FROM ts) AS INT) AS b, count(*) AS observed
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT a, CAST(sum(observed) AS DECIMAL(12,0)) AS rt
        |  FROM c GROUP BY a),
        |k AS (SELECT b, CAST(sum(observed) AS DECIMAL(12,0)) AS ct
        |  FROM c GROUP BY b),
        |n AS (SELECT CAST(sum(observed) AS DECIMAL(12,0)) AS nn FROM c),
        |d AS (SELECT c.a, c.b, c.observed, r.rt, k.ct, n.nn,
        |    CAST(CAST(c.observed AS DECIMAL(12,0)) * n.nn - r.rt * k.ct
        |      AS DECIMAL(19,0)) AS dev
        |  FROM c JOIN r USING (a) JOIN k USING (b) CROSS JOIN n)
        |SELECT a AS event_type, b AS hr, CAST(observed AS BIGINT)
        |    AS observed,
        |  round(CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE), 6) + 0.0
        |    AS expected,
        |  round(CAST(dev * dev AS DOUBLE) / CAST(rt * ct * nn AS DOUBLE),
        |    6) + 0.0 AS contrib
        |FROM d ORDER BY event_type, hr""".stripMargin,

    // Wilson: the same exact counts and the same fixed IEEE sequence
    // (1.96 * 1.96 spelled as the product, never the literal 3.8416)
    "a56_wilson" ->
      """WITH g AS (SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 60.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n, k,
        |  round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS rate,
        |  round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
        |      / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
        |    - 1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE)))
        |      / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) + 0.0
        |    AS wilson_lo,
        |  round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
        |      / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
        |    + 1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE)))
        |      / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) + 0.0
        |    AS wilson_hi
        |FROM g ORDER BY event_type""".stripMargin,

    // calibration: the same train/score split and bin algebra; ECE as
    // one exact-decimal division
    "a53_calibration" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
        |    CASE WHEN value > 10.0
        |        + CAST(CAST(EXTRACT(HOUR FROM ts) AS INT) AS DOUBLE) * 8.0
        |      THEN 1 ELSE 0 END AS label
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |rates AS (SELECT hr,
        |    CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS score
        |  FROM ev WHERE event_id % 2 = 0 GROUP BY hr),
        |test AS (SELECT r.score, e.label FROM ev e
        |  JOIN rates r ON e.hr = r.hr WHERE e.event_id % 2 = 1),
        |binned AS (SELECT CAST(LEAST(floor(score * 10), 9) AS INT)
        |      AS bin,
        |    CAST(score AS DECIMAL(28,18)) AS sc,
        |    CAST(label AS BIGINT) AS y
        |  FROM test),
        |per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos, SUM(sc) AS ssum
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    SUM(abs(ssum - CAST(n_pos AS DECIMAL(38,18)))) AS gapsum
        |  FROM per)
        |SELECT bin, n, n_pos,
        |  round(CAST(ssum AS DOUBLE) / n, 6) + 0.0 AS mean_score,
        |  round(CAST(n_pos AS DOUBLE) / n, 6) + 0.0 AS frac_pos,
        |  round(abs(CAST(ssum AS DOUBLE) / n - CAST(n_pos AS DOUBLE) / n),
        |    6) + 0.0 AS gap,
        |  round(CAST(gapsum AS DOUBLE) / nn, 6) + 0.0 AS ece
        |FROM per, tot ORDER BY bin""".stripMargin,

    // Holt–Winters: the ts3/ts8 recursive-CTE pattern with the
    // seasonal state carried as a LIST; init level is one exact
    // decimal sum / 24, every step spells the engine's duplicated
    // l' tree token-for-token
    "ts18_holt_winters" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS xd,
        |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |k AS (SELECT user_id FROM o GROUP BY user_id
        |  HAVING COUNT(*) > 24),
        |init AS (SELECT o.user_id,
        |    CAST(SUM(CAST(o.xd AS DECIMAL(38,2))) AS DOUBLE) / 24.0 AS l0
        |  FROM o JOIN k USING (user_id) WHERE o.rn <= 24
        |  GROUP BY o.user_id),
        |seas0 AS (SELECT o.user_id,
        |    list(o.x - i.l0 ORDER BY o.rn) AS seas
        |  FROM o JOIN init i USING (user_id) WHERE o.rn <= 24
        |  GROUP BY o.user_id),
        |r AS (
        |  SELECT i.user_id, 24 AS rn, i.l0 AS l,
        |    CAST(0.0 AS DOUBLE) AS b,
        |    s.seas AS seas, CAST(NULL AS DOUBLE) AS s_out
        |  FROM init i JOIN seas0 s USING (user_id)
        |  UNION ALL
        |  SELECT o.user_id, CAST(o.rn AS INT),
        |    0.5 * (o.x - r.seas[1]) + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * (o.x - r.seas[1]) + 0.5 * (r.l + r.b)) - r.l)
        |      + 0.75 * r.b,
        |    r.seas[2:] ||
        |      [0.5 * (o.x - (0.5 * (o.x - r.seas[1])
        |         + 0.5 * (r.l + r.b))) + 0.5 * r.seas[1]],
        |    0.5 * (o.x - (0.5 * (o.x - r.seas[1])
        |      + 0.5 * (r.l + r.b))) + 0.5 * r.seas[1]
        |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT r.user_id, o.ts, o.event_id, o.x AS value,
        |  r.l AS level, r.b AS trend, r.s_out AS seasonal
        |FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn
        |WHERE r.rn > 24
        |ORDER BY r.user_id, o.ts, o.event_id""".stripMargin,

    // effect sizes: identical conditional exact moments, the identical
    // pooled-variance IEEE tree (CTE aliases equal the engine's
    // duplicated trees — duplication never changes a deterministic
    // double), gates mirrored
    "a63_effect_size" ->
      """WITH p AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
        |    CAST(value AS DECIMAL(18,2)) AS xd
        |  FROM events
        |  WHERE user_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN grp = 'a' THEN xd END) AS DOUBLE) AS sa,
        |    CAST(SUM(CASE WHEN grp = 'a'
        |      THEN CAST(xd * xd AS DECIMAL(38,4)) END) AS DOUBLE) AS ssa,
        |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN grp = 'b' THEN xd END) AS DOUBLE) AS sb,
        |    CAST(SUM(CASE WHEN grp = 'b'
        |      THEN CAST(xd * xd AS DECIMAL(38,4)) END) AS DOUBLE) AS ssb
        |  FROM p GROUP BY event_type),
        |e AS (SELECT event_type, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    sa / CAST(n_a AS DOUBLE) AS ma, sb / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(n_a AS DOUBLE) * ssa - sa * sa)
        |      / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS va,
        |    (CAST(n_b AS DOUBLE) * ssb - sb * sb)
        |      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vb
        |  FROM a),
        |f AS (SELECT event_type, n_a, n_b, na, nb, ma, mb,
        |    ((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)
        |      AS pooled
        |  FROM e)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND pooled > 0
        |    THEN round((ma - mb) / sqrt(pooled), 6) + 0.0
        |    ELSE NULL END AS cohens_d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND pooled > 0
        |    THEN round(((ma - mb) / sqrt(pooled))
        |      * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)), 6) + 0.0
        |    ELSE NULL END AS hedges_g
        |FROM f ORDER BY event_type""".stripMargin,

    // k-fold: the identical md5-order round-robin per stratum
    "s16_kfold" ->
      """SELECT doc_id, lang,
        |  CAST((row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(concat('0x',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      doc_id) - 1) % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,

    // shard manifest re-derived: same md5-60 shards, exact aggregates
    "s17_shard_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT CAST(h % 16 AS INT) AS shard, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_weight,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(h % 1000003) AS BIGINT) AS checksum
        |FROM s GROUP BY 1 ORDER BY shard""".stripMargin,

    // paired t: exact per-user arm sums and decimal differences, the
    // identical IEEE t tree, degenerate gates mirrored
    "a62_paired_t" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(COALESCE(SUM(CASE
        |        WHEN CAST(EXTRACT(HOUR FROM ts) AS INT) < 12
        |        THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |      AS DECIMAL(38,2)) AS xa,
        |    CAST(COALESCE(SUM(CASE
        |        WHEN CAST(EXTRACT(HOUR FROM ts) AS INT) >= 12
        |        THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |      AS DECIMAL(38,2)) AS xb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |  GROUP BY user_id),
        |d AS (SELECT CAST(xa - xb AS DECIMAL(28,2)) AS dd FROM per),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dd) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(dd * dd AS DECIMAL(38,4))) AS DOUBLE) AS sdd
        |  FROM d)
        |SELECT n,
        |  round(sd / CAST(n AS DOUBLE), 6) + 0.0 AS mean_diff,
        |  CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sdd - sd * sd) > 0
        |    THEN round((sd / CAST(n AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * sdd - sd * sd)
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
        |      + 0.0
        |    ELSE NULL END AS t_stat
        |FROM a""".stripMargin,

    // Page–Hinkley: running-mean deviations quantized DECIMAL(38,12),
    // exact running sums and prefix mins decide alarms; published
    // scores round-6 after the wide-decimal→double cast
    "ts17_page_hinkley" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |), runs AS (
        |  SELECT event_id, user_id, ts, value, x,
        |    CAST(sum(CAST(x AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2))
        |      AS s,
        |    CAST(count(*) OVER w AS BIGINT) AS t
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), g AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(t AS DOUBLE)
        |      - 0.5 AS DECIMAL(38,12)) AS gp,
        |    CAST(CAST(s AS DOUBLE) / CAST(t AS DOUBLE) - CAST(x AS DOUBLE)
        |      - 0.5 AS DECIMAL(38,12)) AS gn
        |  FROM runs
        |), m AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(sum(gp) OVER w AS DECIMAL(38,12)) AS mp,
        |    CAST(sum(gn) OVER w AS DECIMAL(38,12)) AS mn
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), ph AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(mp - min(mp) OVER w AS DECIMAL(38,12)) AS php,
        |    CAST(mn - min(mn) OVER w AS DECIMAL(38,12)) AS phn
        |  FROM m
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts, value,
        |  round(CAST(php AS DOUBLE), 6) + 0.0 AS ph_pos,
        |  round(CAST(phn AS DOUBLE), 6) + 0.0 AS ph_neg,
        |  CASE WHEN php > 500.00 AND phn > 500.00 THEN 'both'
        |       WHEN php > 500.00 THEN 'hi' ELSE 'lo' END AS side
        |FROM ph WHERE php > 500.00 OR phn > 500.00
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // streaming PH twin: the sealed alarms ARE ts17's closed form
    // (PageHinkleyStream parity contract) plus the stream's typed-key
    // observation contract
"ts17s_ph_stream" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |), runs AS (
        |  SELECT event_id, user_id, ts, value, x,
        |    CAST(sum(CAST(x AS DECIMAL(28,2))) OVER w AS DECIMAL(38,2))
        |      AS s,
        |    CAST(count(*) OVER w AS BIGINT) AS t
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), g AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(t AS DOUBLE)
        |      - 0.5 AS DECIMAL(38,12)) AS gp,
        |    CAST(CAST(s AS DOUBLE) / CAST(t AS DOUBLE) - CAST(x AS DOUBLE)
        |      - 0.5 AS DECIMAL(38,12)) AS gn
        |  FROM runs
        |), m AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(sum(gp) OVER w AS DECIMAL(38,12)) AS mp,
        |    CAST(sum(gn) OVER w AS DECIMAL(38,12)) AS mn
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), ph AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(mp - min(mp) OVER w AS DECIMAL(38,12)) AS php,
        |    CAST(mn - min(mn) OVER w AS DECIMAL(38,12)) AS phn
        |  FROM m
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts, value,
        |  round(CAST(php AS DOUBLE), 6) + 0.0 AS ph_pos,
        |  round(CAST(phn AS DOUBLE), 6) + 0.0 AS ph_neg,
        |  CASE WHEN php > 500.00 AND phn > 500.00 THEN 'both'
        |       WHEN php > 500.00 THEN 'hi' ELSE 'lo' END AS side
        |FROM ph WHERE php > 500.00 OR phn > 500.00
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // Brier + Murphy decomposition: the a53 scored test set, per-row
    // squares and per-bin terms quantized to DECIMAL(38,18) and summed
    // exactly; every division/round spelled as the engine computed it
    "a61_brier" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
        |    CASE WHEN value > 10.0
        |        + CAST(CAST(EXTRACT(HOUR FROM ts) AS INT) AS DOUBLE) * 8.0
        |      THEN 1 ELSE 0 END AS label
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |rates AS (SELECT hr,
        |    CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS score
        |  FROM ev WHERE event_id % 2 = 0 GROUP BY hr),
        |test AS (SELECT r.score, e.label FROM ev e
        |  JOIN rates r ON e.hr = r.hr WHERE e.event_id % 2 = 1),
        |binned AS (SELECT CAST(LEAST(floor(score * 10), 9) AS INT) AS b,
        |    CAST(score AS DECIMAL(38,18)) AS sc,
        |    CAST(label AS BIGINT) AS y,
        |    CAST((score - CAST(label AS DOUBLE))
        |      * (score - CAST(label AS DOUBLE)) AS DECIMAL(38,18)) AS sq
        |  FROM test),
        |per AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos, SUM(sc) AS ssum,
        |    SUM(sq) AS sqsum
        |  FROM binned GROUP BY b),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(pos) AS BIGINT) AS pp, SUM(sqsum) AS sq FROM per),
        |terms AS (SELECT
        |    CAST(CAST(n AS DOUBLE) *
        |      ((CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS DECIMAL(38,18)) AS rl,
        |    CAST(CAST(n AS DOUBLE) *
        |      ((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |       * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)))
        |      AS DECIMAL(38,18)) AS rs
        |  FROM per, tot),
        |f AS (SELECT nn, pp, sq, SUM(rl) AS rl, SUM(rs) AS rs
        |  FROM terms, tot GROUP BY nn, pp, sq)
        |SELECT nn AS n,
        |  round(CAST(sq AS DOUBLE) / CAST(nn AS DOUBLE), 6) + 0.0
        |    AS brier,
        |  round(CAST(rl AS DOUBLE) / CAST(nn AS DOUBLE), 6) + 0.0
        |    AS reliability,
        |  round(CAST(rs AS DOUBLE) / CAST(nn AS DOUBLE), 6) + 0.0
        |    AS resolution,
        |  round((CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)), 6) + 0.0
        |    AS uncertainty,
        |  round(CAST(sq AS DOUBLE) / CAST(nn AS DOUBLE)
        |    - (CAST(rl AS DOUBLE) / CAST(nn AS DOUBLE)
        |       - CAST(rs AS DOUBLE) / CAST(nn AS DOUBLE)
        |       + (CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |         * (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))), 6)
        |    + 0.0 AS residual
        |FROM f""".stripMargin,

    // McNemar: the a51 NB replay and the a55 language-ID replay joined
    // on the labelled docs; χ² as one exact-integer division
    "a60_mcnemar" ->
      """WITH lab AS (SELECT doc_id, lang AS cls, text FROM documents
        |  WHERE lang IS NOT NULL),
        |tok AS (SELECT doc_id, cls,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM lab),
        |tc AS (SELECT tok, cls, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM tok GROUP BY tok, cls),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tc),
        |nt AS (SELECT cls, SUM(c) AS n FROM tc GROUP BY cls),
        |pri AS (SELECT cls, ln(CAST(COUNT(*) AS DOUBLE) /
        |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM lab)) AS log_prior
        |  FROM lab GROUP BY cls),
        |ci AS (SELECT nt.cls, pri.log_prior,
        |    ln(1.0 / (nt.n + (SELECT v FROM v))) AS oov_logp,
        |    nt.n + (SELECT v FROM v) AS denom
        |  FROM nt JOIN pri ON nt.cls = pri.cls),
        |model AS (SELECT tc.tok, tc.cls, ln((tc.c + 1) / ci.denom) AS logp
        |  FROM tc JOIN ci ON tc.cls = ci.cls),
        |dt AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |sc AS (SELECT dt.doc_id, ci.cls, ci.log_prior +
        |    CAST(SUM(CAST(COALESCE(m.logp, ci.oov_logp)
        |      AS DECIMAL(28,18))) AS DOUBLE) AS score
        |  FROM dt CROSS JOIN ci
        |  LEFT JOIN model m ON m.tok = dt.tok AND m.cls = ci.cls
        |  GROUP BY dt.doc_id, ci.cls, ci.log_prior),
        |r AS (SELECT doc_id, cls, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls) AS rk FROM sc),
        |predb AS (SELECT doc_id, cls AS pred_b FROM r WHERE rk = 1),
        |s2 AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('el','la','de','que','y'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('le','la','de','et','est'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('的','是','了','在','和'))) AS s_zh
        |FROM lab),
        |preda AS (SELECT doc_id, CASE
        |  WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |  WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |  WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |  WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |  WHEN s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |  ELSE 'und' END AS pred_a
        |FROM s2),
        |j AS (SELECT lab.cls AS lang, preda.pred_a, predb.pred_b
        |  FROM lab JOIN preda USING (doc_id) JOIN predb USING (doc_id)),
        |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN pred_a = lang AND pred_b <> lang
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
        |    CAST(SUM(CASE WHEN pred_a <> lang AND pred_b = lang
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only
        |  FROM j)
        |SELECT n, n_a_only, n_b_only,
        |  CASE WHEN n_a_only + n_b_only > 0
        |    THEN round(CAST((n_a_only - n_b_only) * (n_a_only - n_b_only)
        |        AS DOUBLE)
        |      / CAST(n_a_only + n_b_only AS DOUBLE), 6) + 0.0
        |    ELSE NULL END AS mcnemar_chi2
        |FROM m2""".stripMargin,

    // Cohen's kappa: the t3 language-ID CASE replayed over the
    // labelled docs; kappa as one exact-integer division
    "a55_kappa" ->
      """WITH lab AS (SELECT doc_id, lang, text FROM documents
        |  WHERE lang IS NOT NULL),
        |s AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('el','la','de','que','y'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('le','la','de','et','est'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('的','是','了','在','和'))) AS s_zh
        |FROM lab),
        |p AS (SELECT s.doc_id, lab.lang, CASE
        |  WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |  WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |  WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |  WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |  WHEN s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |  ELSE 'und' END AS pred
        |FROM s JOIN lab USING (doc_id)),
        |cells AS (SELECT pred, lang, count(*) AS c FROM p GROUP BY 1, 2),
        |rt AS (SELECT pred AS k, CAST(SUM(c) AS DECIMAL(38,0)) AS rt
        |  FROM cells GROUP BY pred),
        |ct AS (SELECT lang AS k, CAST(SUM(c) AS DECIMAL(38,0)) AS ct
        |  FROM cells GROUP BY lang),
        |pe AS (SELECT COALESCE(SUM(rt.rt * ct.ct),
        |    CAST(0 AS DECIMAL(38,0))) AS pe_num
        |  FROM rt JOIN ct USING (k)),
        |tot AS (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS n,
        |    CAST(SUM(CASE WHEN pred = lang THEN c ELSE 0 END)
        |      AS DECIMAL(38,0)) AS agree
        |  FROM cells)
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS po,
        |  round(CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE), 6) + 0.0
        |    AS pe,
        |  CASE WHEN CAST(n * n - pe_num AS DOUBLE) > 0
        |    THEN round(CAST(agree * n - pe_num AS DOUBLE)
        |      / CAST(n * n - pe_num AS DOUBLE), 6) + 0.0
        |    ELSE NULL END AS kappa
        |FROM tot, pe""".stripMargin,

    // Cramér's V: the same cells; the χ² total sums the one-division
    // contributions through DECIMAL(28,18) exactly as the engine does
    "a54_cramers_v" ->
      """WITH c AS (SELECT event_type AS a,
        |    CAST(EXTRACT(HOUR FROM ts) AS INT) AS b, count(*) AS observed
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT a, CAST(sum(observed) AS DECIMAL(12,0)) AS rt
        |  FROM c GROUP BY a),
        |k AS (SELECT b, CAST(sum(observed) AS DECIMAL(12,0)) AS ct
        |  FROM c GROUP BY b),
        |n AS (SELECT CAST(sum(observed) AS DECIMAL(12,0)) AS nn FROM c),
        |d AS (SELECT c.a, c.b, c.observed, r.rt, k.ct, n.nn,
        |    CAST(CAST(c.observed AS DECIMAL(12,0)) * n.nn - r.rt * k.ct
        |      AS DECIMAL(19,0)) AS dev
        |  FROM c JOIN r USING (a) JOIN k USING (b) CROSS JOIN n),
        |s AS (SELECT
        |    SUM(CAST(CAST(dev * dev AS DOUBLE)
        |      / CAST(rt * ct * nn AS DOUBLE) AS DECIMAL(28,18)))
        |    + (CAST((SELECT nn FROM n) AS DECIMAL(28,18))
        |       - SUM(CAST(CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE)
        |           AS DECIMAL(28,18)))) AS chi2d,
        |    CAST(SUM(observed) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS nk
        |  FROM d)
        |SELECT n, nr AS n_rows, nk AS n_cols,
        |  (nr - 1) * (nk - 1) AS dof,
        |  round(CAST(chi2d AS DOUBLE), 6) + 0.0 AS chi2,
        |  CASE WHEN least(nr, nk) > 1
        |    THEN round(sqrt(CAST(chi2d AS DOUBLE)
        |      / CAST(n * (least(nr, nk) - 1) AS DOUBLE)), 6) + 0.0
        |    ELSE NULL END AS cramers_v
        |FROM s""".stripMargin,

    // LSH S-curve: the same closed form over the same grid
    "d15_lsh_curve" ->
      """SELECT CAST(i AS DOUBLE) / 20.0 AS s,
        |  round(1.0 - power(1.0 - power(CAST(i AS DOUBLE) / 20.0, 8.0),
        |    16.0), 6) + 0.0 AS p_candidate
        |FROM (SELECT unnest(range(1, 20)) AS i) ORDER BY s""".stripMargin,

    // robust scaling: the same percentile frame and per-row division
    "p8_robust_scale" ->
      """WITH q AS (SELECT event_type AS g,
        |    quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN (q.q3 - q.q1) > 0
        |    THEN round((e.value - q.med) / (q.q3 - q.q1), 6) + 0.0
        |    ELSE NULL END AS scaled_value
        |FROM events e JOIN q ON e.event_type IS NOT DISTINCT FROM q.g
        |ORDER BY e.event_id""".stripMargin,

    // streaks: the same island algebra over the same predicate (null
    // flags stay in the sequence and break adjacency)
    "ts15_streaks" ->
      """WITH e AS (SELECT user_id, event_id, ts, value > 60.0 AS f
        |  FROM events WHERE ts IS NOT NULL),
        |d AS (SELECT user_id, event_id, ts, f,
        |    CASE WHEN row_number() OVER w = 1
        |      OR f IS DISTINCT FROM lag(f) OVER w
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |i AS (SELECT user_id, f,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM d),
        |g AS (SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM i WHERE f GROUP BY user_id, isl)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS max_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_above
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // assortativity: same symmetric edges + degree joins + the a16
    // fixed corr sequence over exact-decimal degree moments
    "g12_assortativity" ->
      """WITH lp AS MATERIALIZED (
        |  SELECT a.c_custkey AS v1, b.c_custkey AS v2
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE CAST(
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 IS NULL THEN 0.0
        |          WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 4.0
        |          ELSE -1.0 END)
        |    + (CASE WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 IS NULL THEN 0.0
        |            WHEN abs(CAST(a.c_acctbal AS DECIMAL(18,2))
        |                     - CAST(b.c_acctbal AS DECIMAL(18,2))) < 100 THEN 2.5
        |            ELSE -0.5 END)
        |  AS DOUBLE) >= 3.0),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
        |          UNION ALL SELECT v2, v1 FROM lp),
        |deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM edges GROUP BY src),
        |wd AS (SELECT da.dg AS da, db.dg AS db
        |  FROM edges e JOIN deg da ON da.v = e.src
        |  JOIN deg db ON db.v = e.dst),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(da AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(db AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(da AS DECIMAL(38,0))
        |      * CAST(da AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(db AS DECIMAL(38,0))
        |      * CAST(db AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(da AS DECIMAL(38,0))
        |      * CAST(db AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM wd)
        |SELECT n // 2 AS n_edges,
        |  CASE WHEN (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |      * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) > 0
        |    THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0
        |    ELSE NULL END AS assortativity
        |FROM m""".stripMargin,

    // peaks: the same lag/lead passthrough and strict comparisons
    "ts14_peaks" ->
      """WITH d AS (SELECT user_id, event_id, ts, value,
        |    lag(value) OVER w AS prev_value,
        |    lead(value) OVER w AS next_value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts, value, prev_value, next_value
        |FROM d WHERE value > prev_value AND value > next_value
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // ANOVA: the a16 moment discipline + decimal-stabilized S²/n terms
    "a57_anova" ->
      """WITH p AS (SELECT event_type,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS xd
        |  FROM events WHERE event_type IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(xd) AS sg, SUM(xd * xd) AS ssg
        |  FROM p GROUP BY event_type),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(sg) AS DOUBLE) AS s,
        |    CAST(SUM(ssg) AS DOUBLE) AS ss,
        |    CAST(SUM(CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
        |      AS DECIMAL(38,12))) AS DOUBLE) AS t
        |  FROM per)
        |SELECT k, n,
        |  round(t - s * s / CAST(n AS DOUBLE), 6) + 0.0 AS ss_between,
        |  round(ss - t, 6) + 0.0 AS ss_within,
        |  CASE WHEN k > 1 AND (ss - t) > 0 AND n > k
        |    THEN round(((t - s * s / CAST(n AS DOUBLE)) / (k - 1))
        |      / ((ss - t) / (n - k)), 6) + 0.0
        |    ELSE NULL END AS f_stat,
        |  CASE WHEN (t - s * s / CAST(n AS DOUBLE)) + (ss - t) > 0
        |    THEN round((t - s * s / CAST(n AS DOUBLE))
        |      / ((t - s * s / CAST(n AS DOUBLE)) + (ss - t)), 6) + 0.0
        |    ELSE NULL END AS eta_sq
        |FROM a""".stripMargin,

    // cross-correlation: same hourly index series, same exact moments,
    // the ts4 fixed IEEE corr sequence
    "ts13_xcorr" ->
      """WITH ha AS (SELECT epoch_us(date_trunc('hour', ts)) // 3600000000
        |      AS idx,
        |    CAST(CAST(count(*) AS BIGINT) AS DECIMAL(18,2)) AS xa
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'click'
        |  GROUP BY 1),
        |hb AS (SELECT epoch_us(date_trunc('hour', ts)) // 3600000000
        |      AS idx,
        |    CAST(CAST(count(*) AS BIGINT) AS DECIMAL(18,2)) AS xb
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'
        |  GROUP BY 1),
        |p AS (SELECT l.lag, ha.xa, hb.xb
        |  FROM ha CROSS JOIN (SELECT unnest(range(0, 7)) AS lag) l
        |  JOIN hb ON hb.idx = ha.idx + l.lag),
        |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(xa * xa AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(xb * xb AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(xa * xb AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n_pairs,
        |  (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS xcorr
        |FROM s
        |WHERE n_pairs >= 3 AND
        |  (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) > 0
        |ORDER BY lag""".stripMargin,

    // MASE: the same lag algebra — exact decimal |diff| sums, MAEs as
    // one division each, MASE as the division of the two MAE doubles
    "ts12_mase" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |d AS (SELECT user_id, v,
        |    lag(v, 1) OVER w AS p1,
        |    lag(v, 7) OVER w AS p7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(abs(v - p1)) AS s1,
        |    CAST(COUNT(abs(v - p1)) AS BIGINT) AS n1,
        |    SUM(abs(v - p7)) AS sm,
        |    CAST(COUNT(abs(v - p7)) AS BIGINT) AS nm
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n, n1 AS n_naive, nm AS n_seasonal,
        |  round(CAST(s1 AS DOUBLE) / n1, 6) + 0.0 AS mae_naive,
        |  round(CAST(sm AS DOUBLE) / nm, 6) + 0.0 AS mae_seasonal,
        |  round((CAST(sm AS DOUBLE) / nm) / (CAST(s1 AS DOUBLE) / n1), 6)
        |    + 0.0 AS mase
        |FROM g WHERE s1 > 0 AND nm > 0 ORDER BY user_id""".stripMargin,

    // TWAP: step-function weights as exact decimal·µs products, one
    // final canonicalized double division
    "ts5_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events
        |  WHERE ts IS NOT NULL AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |d AS (SELECT user_id, v,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |  FROM e),
        |g AS (SELECT user_id,
        |    SUM(CAST(v * CAST(dt AS DECIMAL(18,0)) AS DECIMAL(38,2))) AS wsum,
        |    CAST(SUM(dt) AS BIGINT) AS span,
        |    COUNT(*) AS n_segments
        |  FROM d WHERE dt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_segments, span AS span_us,
        |  ROUND(CAST(wsum AS DOUBLE) / CAST(span AS DOUBLE), 6) + 0.0 AS twap
        |FROM g WHERE span > 0 ORDER BY user_id""".stripMargin,

    // windowed TWAP re-derived: the same segments, lateral
    // generate_series over the day buckets each spans, exact clipping
    "ts7_twap_windowed" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    TRY_CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events
        |  WHERE ts IS NOT NULL AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |d AS (SELECT user_id, v, us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM e),
        |s AS (SELECT user_id, v, us, nxt FROM d
        |  WHERE nxt IS NOT NULL AND nxt > us),
        |x AS (SELECT user_id, v, us, nxt,
        |    unnest(range(us // 86400000000,
        |      (nxt - 1) // 86400000000 + 1)) AS bucket
        |  FROM s),
        |o AS (SELECT user_id, bucket, v,
        |    LEAST(nxt, (bucket + 1) * 86400000000)
        |      - GREATEST(us, bucket * 86400000000) AS ov
        |  FROM x),
        |g AS (SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
        |    SUM(CAST(v * CAST(ov AS DECIMAL(18,0)) AS DECIMAL(38,2))) AS ii,
        |    CAST(SUM(ov) AS BIGINT) AS covered_us,
        |    COUNT(*) AS n_segments
        |  FROM o GROUP BY user_id, bucket)
        |SELECT user_id, bucket, n_segments, covered_us,
        |  CAST(ii AS DOUBLE) / covered_us + 0.0 AS twap
        |FROM g WHERE covered_us > 0
        |ORDER BY user_id, bucket""".stripMargin,

    // Holt: the recursive CTE replays the identical IEEE steps over the
    // identical (ts, event_id) order; 0.5/0.25/0.75 are the exact
    // doubles the engine's 1-α / 1-β subtractions produce
    "ts8_holt" ->
      """WITH RECURSIVE e AS (SELECT user_id AS k, ts, event_id AS tie,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x
        |  FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |    AND ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |o AS (SELECT k, ts, tie, x,
        |    row_number() OVER (PARTITION BY k ORDER BY ts, tie) AS rn
        |  FROM e),
        |rec AS (
        |  SELECT k, ts, tie, x, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.k, o.ts, o.tie, o.x, o.rn,
        |    0.5 * o.x + 0.5 * (rec.l + rec.b) AS l,
        |    0.25 * ((0.5 * o.x + 0.5 * (rec.l + rec.b)) - rec.l)
        |      + 0.75 * rec.b AS b
        |  FROM rec JOIN o ON o.k = rec.k AND o.rn = rec.rn + 1)
        |SELECT k AS user_id, ts, tie AS event_id, x AS value,
        |  round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend
        |FROM rec ORDER BY user_id, ts, event_id""".stripMargin,

    // streaming Holt twin: sealed points == the batch fold (HoltStream
    // parity), so the recursive CTE is ts8's verbatim — plus the
    // stream's typed-key event_id filter
    "ts8s_holt_stream" ->
      """WITH RECURSIVE e AS (SELECT user_id AS k, ts, event_id AS tie,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x
        |  FROM events WHERE user_id IS NOT NULL AND user_id < 20
        |    AND event_id IS NOT NULL
        |    AND ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |o AS (SELECT k, ts, tie, x,
        |    row_number() OVER (PARTITION BY k ORDER BY ts, tie) AS rn
        |  FROM e),
        |rec AS (
        |  SELECT k, ts, tie, x, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.k, o.ts, o.tie, o.x, o.rn,
        |    0.5 * o.x + 0.5 * (rec.l + rec.b) AS l,
        |    0.25 * ((0.5 * o.x + 0.5 * (rec.l + rec.b)) - rec.l)
        |      + 0.75 * rec.b AS b
        |  FROM rec JOIN o ON o.k = rec.k AND o.rn = rec.rn + 1)
        |SELECT k AS user_id, ts, tie AS event_id, x AS value,
        |  round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend
        |FROM rec ORDER BY user_id, ts, event_id""".stripMargin,

    // OHLC: open/close re-derived with total-order row_numbers (the
    // engine uses min_by/max_by on the same order — identical picks)
    "ts6_ohlc" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    (epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000)
        |       % 3600000000)) // 3600000000 AS bucket
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY us, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
        |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM r GROUP BY user_id, bucket
        |ORDER BY user_id, bucket""".stripMargin,

    // lag-pair ACF: exact decimal moment sums over the banded self-join,
    // then the identical fixed-order correlation chain
    "ts4_autocorr" ->
      """WITH o AS MATERIALIZED (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS MATERIALIZED (
        |  SELECT a.user_id, CAST(b.rn - a.rn AS INT) AS lag,
        |         a.x AS xa, b.x AS xb
        |  FROM o a JOIN o b ON b.user_id = a.user_id
        |    AND b.rn > a.rn AND b.rn <= a.rn + 3),
        |s AS MATERIALIZED (
        |  SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(xa * xa AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(xb * xb AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(xa * xb AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY user_id, lag)
        |SELECT user_id, lag, n_pairs,
        |  (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS acf
        |FROM s
        |WHERE n_pairs >= 5 AND
        |  (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) > 0
        |ORDER BY user_id, lag""".stripMargin,

    // Ljung–Box: ts4's ACF oracle extended with the per-key length and
    // the exact-decimal term fold; null-key series excluded up front
    "ts16_ljung_box" ->
      """WITH o AS MATERIALIZED (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL
        |    AND ts IS NOT NULL AND value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |p AS MATERIALIZED (
        |  SELECT a.user_id, CAST(b.rn - a.rn AS INT) AS lag,
        |         a.x AS xa, b.x AS xb
        |  FROM o a JOIN o b ON b.user_id = a.user_id
        |    AND b.rn > a.rn AND b.rn <= a.rn + 3),
        |s AS MATERIALIZED (
        |  SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(xa * xa AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(xb * xb AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(xa * xb AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY user_id, lag),
        |acf AS (SELECT user_id, lag,
        |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |    (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS acf
        |  FROM s
        |  WHERE n_pairs >= 5 AND
        |    (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) > 0),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS m
        |  FROM o GROUP BY user_id),
        |tm AS (SELECT a.user_id, m.m,
        |    CAST((a.acf * a.acf) /
        |      (CAST(m.m AS DOUBLE) - CAST(a.lag AS DOUBLE))
        |      AS DECIMAL(38,18)) AS term
        |  FROM acf a JOIN m ON a.user_id = m.user_id)
        |SELECT user_id, m AS n, CAST(COUNT(*) AS BIGINT) AS n_lags,
        |  round(CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) + 2.0)
        |    * CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS q_stat
        |FROM tm GROUP BY user_id, m ORDER BY user_id""".stripMargin,

    // Aho-Corasick blocklist: exhaustive position scan re-derives the
    // automaton's every-end-position (overlap-inclusive) counts
    "t43_blocklist" ->
      """WITH pat AS (SELECT * FROM (VALUES ('the'), ('and'), ('ing'),
        |    ('ion'), ('data'), ('energy')) p(p)),
        |win AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 6) AS w
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, length(text) + 1)) AS i
        |        FROM documents)),
        |pos AS (
        |  SELECT win.doc_id, pat.p FROM win, pat
        |  WHERE substr(win.w, 1, length(pat.p)) = pat.p)
        |SELECT doc_id, p AS pattern, CAST(count(*) AS BIGINT) AS n_matches
        |FROM pos GROUP BY 1, 2 ORDER BY doc_id, pattern""".stripMargin,

    // KWIC spans: the t43 position scan keeping the position itself
    "t44_kwic" ->
      """WITH pat AS (SELECT * FROM (VALUES ('the'), ('and'), ('ing'),
        |    ('ion'), ('data'), ('energy')) p(p)),
        |win AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INT), 6) AS w
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, length(text) + 1)) AS i
        |        FROM documents))
        |SELECT win.doc_id, pat.p AS pattern, CAST(win.i AS INT) AS pos
        |FROM win, pat
        |WHERE substr(win.w, 1, length(pat.p)) = pat.p
        |ORDER BY doc_id, pattern, pos""".stripMargin,

    // RAKE: the identical islands (stopword-prefix run ids), word
    // degree/freq stats, and decimal-exact score ordering
    "t42_rake" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |mx AS (SELECT max(len(t)) AS m FROM toks),
        |idx AS MATERIALIZED (
        |  SELECT CAST(i AS INT) AS i
        |  FROM (SELECT unnest(range(1, (SELECT m FROM mx) + 1)) AS i) z),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, idx.i AS i, t[idx.i] AS tok
        |  FROM toks JOIN idx ON idx.i <= len(t)),
        |m AS (SELECT doc_id, i, tok,
        |    tok IN ('a','the','of','to','and','in','is','on') AS stop,
        |    SUM(CASE WHEN tok IN ('a','the','of','to','and','in','is','on')
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS isl
        |  FROM pos),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY i) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM m WHERE NOT stop AND len(tok) > 0
        |  GROUP BY doc_id, isl),
        |stats AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(len) AS BIGINT) AS deg
        |  FROM (SELECT len, unnest(string_split(phrase, ' ')) AS w
        |        FROM ph) q
        |  GROUP BY w),
        |uniqp AS MATERIALIZED (
        |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM ph GROUP BY phrase),
        |sc AS (SELECT p.phrase,
        |    SUM(CAST(CAST(s.deg AS DOUBLE) / CAST(s.freq AS DOUBLE)
        |      AS DECIMAL(38,18))) AS s
        |  FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
        |        FROM uniqp) p
        |  JOIN stats s ON s.w = p.w
        |  GROUP BY p.phrase)
        |SELECT u.phrase, u.n_occurrences,
        |  round(CAST(sc.s AS DOUBLE), 6) + 0.0 AS rake_score
        |FROM uniqp u JOIN sc ON u.phrase = sc.phrase
        |ORDER BY sc.s DESC, u.phrase LIMIT 50""".stripMargin,

    // Dunning G² collocations: exact 2x2 slot contingency per bigram,
    // zero cells contribute zero, fixed left-assoc IEEE fold; the raw
    // double cuts/orders, round-6 publishes (t31's discipline)
    "t41_llr" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        |mx AS (SELECT max(len(t)) AS m FROM toks),
        |idx AS MATERIALIZED (
        |  SELECT CAST(i AS INT) AS i
        |  FROM (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) z),
        |bi AS MATERIALIZED (
        |  SELECT t[i] AS term_a, t[i + 1] AS term_b
        |  FROM toks JOIN idx ON idx.i < len(t)),
        |bc AS MATERIALIZED (
        |  SELECT term_a, term_b, count(*) AS n_pair
        |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 3),
        |ca AS MATERIALIZED (SELECT term_a, count(*) AS ca
        |  FROM bi GROUP BY term_a),
        |cb AS MATERIALIZED (SELECT term_b, count(*) AS cb
        |  FROM bi GROUP BY term_b),
        |nb AS (SELECT count(*) AS n FROM bi),
        |j AS MATERIALIZED (
        |  SELECT bc.term_a, bc.term_b, bc.n_pair,
        |    2.0 * (
        |      (CASE WHEN CAST(bc.n_pair AS DOUBLE) > 0.0
        |        THEN CAST(bc.n_pair AS DOUBLE)
        |          * ln((CAST(bc.n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE))
        |            / (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
        |        ELSE 0.0 END
        |      + CASE WHEN CAST(ca.ca - bc.n_pair AS DOUBLE) > 0.0
        |        THEN CAST(ca.ca - bc.n_pair AS DOUBLE)
        |          * ln((CAST(ca.ca - bc.n_pair AS DOUBLE)
        |              * CAST(nb.n AS DOUBLE))
        |            / (CAST(ca.ca AS DOUBLE)
        |              * (CAST(nb.n AS DOUBLE) - CAST(cb.cb AS DOUBLE))))
        |        ELSE 0.0 END)
        |      + CASE WHEN CAST(cb.cb - bc.n_pair AS DOUBLE) > 0.0
        |        THEN CAST(cb.cb - bc.n_pair AS DOUBLE)
        |          * ln((CAST(cb.cb - bc.n_pair AS DOUBLE)
        |              * CAST(nb.n AS DOUBLE))
        |            / ((CAST(nb.n AS DOUBLE) - CAST(ca.ca AS DOUBLE))
        |              * CAST(cb.cb AS DOUBLE)))
        |        ELSE 0.0 END
        |      + CASE WHEN CAST(nb.n - ca.ca - cb.cb + bc.n_pair AS DOUBLE)
        |          > 0.0
        |        THEN CAST(nb.n - ca.ca - cb.cb + bc.n_pair AS DOUBLE)
        |          * ln((CAST(nb.n - ca.ca - cb.cb + bc.n_pair AS DOUBLE)
        |              * CAST(nb.n AS DOUBLE))
        |            / ((CAST(nb.n AS DOUBLE) - CAST(ca.ca AS DOUBLE))
        |              * (CAST(nb.n AS DOUBLE) - CAST(cb.cb AS DOUBLE))))
        |        ELSE 0.0 END) AS g2
        |  FROM bc JOIN ca ON ca.term_a = bc.term_a
        |          JOIN cb ON cb.term_b = bc.term_b, nb),
        |top AS MATERIALIZED (
        |  SELECT * FROM j ORDER BY g2 DESC, term_a, term_b LIMIT 50)
        |SELECT term_a, term_b, CAST(n_pair AS BIGINT) AS n_pair,
        |       round(g2, 6) + 0.0 AS llr
        |FROM top ORDER BY llr DESC, term_a, term_b""".stripMargin,

    // PMI: exact counts; the pure-IEEE ratio orders and cuts; ln rounds
    // to 6 (+0.0 canonicalizes the -0.0 class). Bigrams come from a
    // fixed-size index frame (DuckDB range() is not lateral — the mm2b
    // precedent).
    "t31_pmi" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        |uni AS MATERIALIZED (SELECT unnest(t) AS term FROM toks),
        |uc AS MATERIALIZED (SELECT term, count(*) AS cu FROM uni GROUP BY term),
        |tot AS (SELECT count(*) AS u FROM uni),
        |mx AS (SELECT max(len(t)) AS m FROM toks),
        |idx AS MATERIALIZED (
        |  SELECT CAST(i AS INT) AS i
        |  FROM (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) z),
        |bi AS MATERIALIZED (
        |  SELECT t[i] AS term_a, t[i + 1] AS term_b
        |  FROM toks JOIN idx ON idx.i < len(t)),
        |bc AS MATERIALIZED (
        |  SELECT term_a, term_b, count(*) AS n_pair
        |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 3),
        |nb AS (SELECT count(*) AS n FROM bi),
        |j AS MATERIALIZED (
        |  SELECT bc.term_a, bc.term_b, bc.n_pair,
        |    (CAST(bc.n_pair AS DOUBLE) * CAST(tot.u AS DOUBLE) *
        |     CAST(tot.u AS DOUBLE)) /
        |    (CAST(nb.n AS DOUBLE) * CAST(ca.cu AS DOUBLE) *
        |     CAST(cb.cu AS DOUBLE)) AS ratio
        |  FROM bc JOIN uc ca ON ca.term = bc.term_a
        |          JOIN uc cb ON cb.term = bc.term_b, tot, nb),
        |top AS MATERIALIZED (
        |  SELECT * FROM j ORDER BY ratio DESC, term_a, term_b LIMIT 50)
        |SELECT term_a, term_b, CAST(n_pair AS BIGINT) AS n_pair,
        |       round(ln(ratio), 6) + 0.0 AS pmi
        |FROM top ORDER BY pmi DESC, term_a, term_b""".stripMargin,

    // markup strip: identical regex chain (Java ∩ RE2 subset, 'g' in
    // DuckDB), block removal before tag removal, &amp; decoded last
    "t32_markup_strip" ->
      """WITH h AS (SELECT doc_id, concat(
        |    '<html><head><title>D', doc_id,
        |    '</title><style>p { color: red; }</style>',
        |    '<script>if (1 < 2) { x = "&amp;"; }</script></head>',
        |    '<body><h1>Doc &#39;', doc_id,
        |    '&#39;</h1><!-- build 7 --><p>',
        |    replace(text, chr(10), '</p><p>'),
        |    '</p><footer>A &amp; B&nbsp;|&nbsp;&lt;end&gt;',
        |    '</footer></body></html>') AS html
        |  FROM documents),
        |s AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g') AS t0
        |  FROM h),
        |e AS (SELECT doc_id, html,
        |    replace(replace(replace(replace(replace(replace(t0,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t1
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT)
        |    AS n_tags,
        |  CAST(length(trim(regexp_replace(t1, '[ \t\n\r]+', ' ', 'g')))
        |    AS BIGINT) AS clean_len,
        |  trim(regexp_replace(t1, '[ \t\n\r]+', ' ', 'g')) AS clean_text
        |FROM e ORDER BY doc_id""".stripMargin,

    // sentence segmentation: raw-split positions via the t31 idx-join
    // pattern, empties filtered AFTER numbering (index gaps intended)
    "t35_sentences" ->
      """WITH d AS (SELECT doc_id,
        |    concat(replace(text, ' table ', '. '), '! Fin?! Done. ')
        |      AS text
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    string_split_regex(text, '[.!?]+[ \t\n\r]+') AS parts
        |  FROM d),
        |mx AS (SELECT max(len(parts)) AS m FROM s),
        |idx AS (SELECT CAST(i AS INT) AS i FROM
        |  (SELECT unnest(range(1, (SELECT m FROM mx) + 1)) AS i) z),
        |e AS (SELECT doc_id, idx.i AS sentence_idx,
        |    trim(parts[idx.i]) AS sentence
        |  FROM s JOIN idx ON idx.i <= len(parts))
        |SELECT doc_id, sentence_idx, sentence,
        |  CAST(length(sentence) AS BIGINT) AS n_chars
        |FROM e WHERE sentence <> ''
        |ORDER BY doc_id, sentence_idx""".stripMargin,

    // PII scrub: identical pattern chain (order matters: cc before
    // phone shapes, ssn 3-2-4 before phone); each category is counted
    // on the text AFTER the previous categories' replacements, exactly
    // matching what the chained scrub replaces (no double-count when
    // shapes overlap across categories, e.g. user@10.0.0.1)
    "t34_pii_scrub" ->
      """WITH d AS (SELECT doc_id, concat(text,
        |    ' Contact user', doc_id, '@example.com or +1555',
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0'),
        |    ' ip 10.0.', doc_id % 256, '.', (doc_id * 3) % 256,
        |    ' ssn 123-45-',
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    ' card 4111 1111 1111 ',
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t0
        |  FROM documents),
        |s1 AS (SELECT *, regexp_replace(t0,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |  '<EMAIL>', 'g') AS t1 FROM d),
        |s2 AS (SELECT *, regexp_replace(t1,
        |  '\b[0-9]{4}([ -][0-9]{4}){3}\b', '<CC>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT *, regexp_replace(t2,
        |  '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g') AS t3 FROM s2),
        |s4 AS (SELECT *, regexp_replace(t3,
        |  '\+[0-9]{7,15}', '<PHONE>', 'g') AS t4 FROM s3)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(t1,
        |    '\b[0-9]{4}([ -][0-9]{4}){3}\b')) AS BIGINT) AS n_cc,
        |  CAST(len(regexp_extract_all(t2,
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t3,
        |    '\+[0-9]{7,15}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t4,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t0,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t1,
        |      '\b[0-9]{4}([ -][0-9]{4}){3}\b'))
        |    + len(regexp_extract_all(t2,
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |    + len(regexp_extract_all(t3, '\+[0-9]{7,15}'))
        |    + len(regexp_extract_all(t4,
        |      '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_pii,
        |  regexp_replace(t4,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g') AS scrubbed
        |FROM s4 ORDER BY doc_id""".stripMargin,

    // URL canonicalization: same regex splits; pmod mirrored with
    // ((x % 50) + 50) % 50; param pipeline is string_split ->
    // list_filter -> list_sort -> array_to_string
    "t33_url_normalize" ->
      """WITH u AS (SELECT event_id, concat(
        |    'HTTPS://WWW.Site', ((user_id % 50) + 50) % 50,
        |    '.COM:443/Ev/', event_type,
        |    '?utm_source=feed&id=', event_id, '&Zone=us#sec') AS url
        |  FROM events WHERE event_id IS NOT NULL
        |    AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT event_id, regexp_replace(url, '#.*', '') AS nofrag
        |  FROM u),
        |q AS (SELECT event_id, nofrag,
        |    lower(regexp_extract(nofrag,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        |    regexp_extract(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(nofrag, '\?([^#]*)', 1) AS qs FROM p),
        |r AS (SELECT event_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         ELSE auth END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      x -> x <> '' AND substr(x, 1, 4) <> 'utm_')), '&') AS kept
        |  FROM q)
        |SELECT event_id,
        |  concat(scheme, '://', host, path,
        |    CASE WHEN kept = '' THEN '' ELSE concat('?', kept) END)
        |    AS canon_url,
        |  host,
        |  regexp_extract(regexp_replace(host, ':[0-9]+$', ''),
        |    '([^.:]+\.[^.:]+)$', 1) AS domain
        |FROM r ORDER BY event_id""".stripMargin,

    // NFC: identical injected combining sequences via chr(); DuckDB
    // nfc_normalize and the JDK Normalizer both implement UAX #15
    "t36_unicode_nfc" ->
      """WITH d AS (SELECT doc_id, concat(text,
        |    ' cafe', chr(769), ' nai', chr(776), 've A', chr(778), ' ',
        |    CASE WHEN doc_id % 2 = 0 THEN chr(233)
        |         ELSE 'e' || chr(769) END) AS text
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS nfc_text,
        |  CAST(length(text) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_nfc
        |FROM d ORDER BY doc_id""".stripMargin,

    // PSL domain: same host split; the suffix snapshot rides in as ONE
    // shared IN-list literal (pslInList), naive form as the fallback
    "t33b_domain_psl" ->
      s"""WITH u AS (SELECT event_id, concat('https://sub',
        |    ((user_id % 7) + 7) % 7, '.site', ((user_id % 50) + 50) % 50,
        |    '.', CASE (((event_id % 6) + 6) % 6)
        |      WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com.au' WHEN 2 THEN 'com'
        |      WHEN 3 THEN 'org' WHEN 4 THEN 'co.jp' ELSE 'io' END,
        |    '/p?x=', event_id) AS url
        |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
        |h AS (SELECT event_id,
        |    regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$$', '')
        |      AS host FROM u),
        |d AS (SELECT event_id, host, string_split(host, '.') AS sp FROM h)
        |SELECT event_id,
        |  regexp_extract(regexp_replace(host, ':[0-9]+$$', ''),
        |    '([^.:]+\\.[^.:]+)$$', 1) AS naive_domain,
        |  CASE WHEN len(sp) >= 3
        |         AND array_to_string(sp[len(sp)-1:], '.') IN ($pslInList)
        |       THEN array_to_string(sp[len(sp)-2:], '.')
        |       ELSE regexp_extract(regexp_replace(host, ':[0-9]+$$', ''),
        |         '([^.:]+\\.[^.:]+)$$', 1) END AS psl_domain
        |FROM d ORDER BY event_id""".stripMargin,

    // bottom-k sampling == the window form over the same md5 priority
    "s13_bottomk" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |               AS BIGINT) / 1152921504606846976.0, doc_id) AS rn
        |  FROM documents) z
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    // apportionment: same integer seats, same md5 fill order
    "s15_apportion" ->
      """WITH d AS (SELECT * FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang AS s, CAST(count(*) AS BIGINT) AS ng
        |  FROM d GROUP BY lang),
        |t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n FROM c),
        |q AS (SELECT s, ng, (ng * 100) // t.n AS base,
        |    (ng * 100) % t.n AS rem
        |  FROM c, t),
        |sb AS (SELECT CAST(SUM(base) AS BIGINT) AS sb FROM q),
        |a AS (SELECT s, base + CASE
        |    WHEN row_number() OVER (ORDER BY rem DESC, s ASC)
        |      <= 100 - sb.sb THEN 1 ELSE 0 END AS alloc
        |  FROM q, sb),
        |r AS (SELECT d.*, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(concat('0x',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, text, lang, source, n_chars
        |FROM r JOIN a ON r.lang = a.s
        |WHERE rn <= alloc ORDER BY doc_id""".stripMargin,

    // Neyman allocation re-derived: exact decimal moments, the same
    // round-6 variance chain, floor(1000*sigma)*N integer weights,
    // integer Hamilton, md5-order within-stratum take
    "s18_neyman" ->
      """WITH d AS (SELECT event_id, event_type,
        |    CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |  FROM events WHERE event_type IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |st AS (SELECT event_type AS s, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM d GROUP BY 1),
        |w AS (SELECT s, ng,
        |    CAST(floor(1000.0 * sqrt(greatest(
        |      round((sxx - sx * sx / CAST(ng AS DOUBLE))
        |        / CAST(ng AS DOUBLE), 6), 0.0))) AS BIGINT) * ng AS w
        |  FROM st),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS gw FROM w),
        |q AS (SELECT s, ng, (w.w * 500) // t.gw AS base,
        |    (w.w * 500) % t.gw AS rem
        |  FROM w, t WHERE t.gw > 0),
        |sb AS (SELECT CAST(SUM(base) AS BIGINT) AS sb FROM q),
        |a AS (SELECT s, least(base + CASE
        |    WHEN row_number() OVER (ORDER BY rem DESC, s ASC)
        |      <= 500 - sb.sb THEN 1 ELSE 0 END, ng) AS alloc
        |  FROM q, sb),
        |r AS (SELECT d.*, row_number() OVER (PARTITION BY event_type
        |    ORDER BY CAST(concat('0x',
        |      substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      event_id) AS rn
        |  FROM d)
        |SELECT event_id, event_type, value
        |FROM r JOIN a ON r.event_type = a.s
        |WHERE rn <= alloc ORDER BY event_id""".stripMargin,

    // pseudo-random corpus positions (Knuth-hash order), slot probes
    // (a·2654435761 + (j+1)·40503) mod N, self/fingerprint exclusions
    "s14_negatives" ->
      """WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |pos AS (SELECT doc_id AS neg_id, fp AS nfp,
        |    row_number() OVER (
        |      ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) - 1 AS p
        |  FROM d),
        |n AS (SELECT COUNT(*) AS cnt FROM documents),
        |a AS (SELECT doc_id AS anchor_id, fp AS afp FROM d WHERE doc_id < 50),
        |s AS (SELECT anchor_id, afp, CAST(j AS INT) AS slot,
        |    (anchor_id * 2654435761 + (j + 1) * 40503) % cnt AS p
        |  FROM a, n, generate_series(0, 4) t(j))
        |SELECT s.anchor_id, s.slot, pos.neg_id
        |FROM s JOIN pos USING (p)
        |WHERE pos.neg_id <> s.anchor_id AND pos.nfp IS DISTINCT FROM s.afp
        |ORDER BY anchor_id, slot""".stripMargin,

    // MMR: the greedy rounds unrolled — each round's argmax re-derived
    // from the same engine-exact cosines and the identical score chain
    // 0.75*rel - 0.25*maxSim (round 1 penalizes an empty set: - 0.25*0)
    "sim14_mmr" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |rel0 AS MATERIALIZED (
        |  SELECT q.qid, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS rel
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |cand AS MATERIALIZED (
        |  SELECT qid, vec_id, v, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, vec_id) AS rk FROM rel0) z WHERE rk <= 8),
        |ps AS MATERIALIZED (
        |  SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb,
        |         list_cosine_similarity(a.v, b.v) AS s
        |  FROM cand a JOIN cand b ON b.qid = a.qid AND b.vec_id <> a.vec_id),
        |sel1 AS MATERIALIZED (
        |  SELECT qid, vec_id, mmr FROM (
        |    SELECT qid, vec_id, mmr, row_number() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, vec_id) AS rn
        |    FROM (SELECT qid, vec_id,
        |            CAST(0.75 AS DOUBLE) * rel
        |              - CAST(0.25 AS DOUBLE) * CAST(0 AS DOUBLE) AS mmr
        |          FROM cand) z1) z2 WHERE rn = 1),
        |su1 AS (SELECT qid, vec_id FROM sel1),
        |s2 AS MATERIALIZED (
        |  SELECT c.qid, c.vec_id,
        |    CAST(0.75 AS DOUBLE) * c.rel - CAST(0.25 AS DOUBLE) * m.ms AS mmr
        |  FROM cand c JOIN (
        |    SELECT ps.qid, ps.ca, MAX(ps.s) AS ms
        |    FROM ps JOIN su1 t ON t.qid = ps.qid AND t.vec_id = ps.cb
        |    GROUP BY ps.qid, ps.ca) m ON m.qid = c.qid AND m.ca = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM su1 t
        |                    WHERE t.qid = c.qid AND t.vec_id = c.vec_id)),
        |sel2 AS MATERIALIZED (
        |  SELECT qid, vec_id, mmr FROM (
        |    SELECT qid, vec_id, mmr, row_number() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, vec_id) AS rn FROM s2) z2 WHERE rn = 1),
        |su2 AS (SELECT * FROM su1 UNION ALL SELECT qid, vec_id FROM sel2),
        |s3 AS MATERIALIZED (
        |  SELECT c.qid, c.vec_id,
        |    CAST(0.75 AS DOUBLE) * c.rel - CAST(0.25 AS DOUBLE) * m.ms AS mmr
        |  FROM cand c JOIN (
        |    SELECT ps.qid, ps.ca, MAX(ps.s) AS ms
        |    FROM ps JOIN su2 t ON t.qid = ps.qid AND t.vec_id = ps.cb
        |    GROUP BY ps.qid, ps.ca) m ON m.qid = c.qid AND m.ca = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM su2 t
        |                    WHERE t.qid = c.qid AND t.vec_id = c.vec_id)),
        |sel3 AS MATERIALIZED (
        |  SELECT qid, vec_id, mmr FROM (
        |    SELECT qid, vec_id, mmr, row_number() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, vec_id) AS rn FROM s3) z2 WHERE rn = 1),
        |su3 AS (SELECT * FROM su2 UNION ALL SELECT qid, vec_id FROM sel3),
        |s4 AS MATERIALIZED (
        |  SELECT c.qid, c.vec_id,
        |    CAST(0.75 AS DOUBLE) * c.rel - CAST(0.25 AS DOUBLE) * m.ms AS mmr
        |  FROM cand c JOIN (
        |    SELECT ps.qid, ps.ca, MAX(ps.s) AS ms
        |    FROM ps JOIN su3 t ON t.qid = ps.qid AND t.vec_id = ps.cb
        |    GROUP BY ps.qid, ps.ca) m ON m.qid = c.qid AND m.ca = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM su3 t
        |                    WHERE t.qid = c.qid AND t.vec_id = c.vec_id)),
        |sel4 AS MATERIALIZED (
        |  SELECT qid, vec_id, mmr FROM (
        |    SELECT qid, vec_id, mmr, row_number() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, vec_id) AS rn FROM s4) z2 WHERE rn = 1)
        |SELECT qid, vec_id, round(mmr, 6) + 0.0 AS mmr, rank FROM (
        |  SELECT qid, vec_id, mmr, CAST(1 AS INT) AS rank FROM sel1
        |  UNION ALL SELECT qid, vec_id, mmr, CAST(2 AS INT) FROM sel2
        |  UNION ALL SELECT qid, vec_id, mmr, CAST(3 AS INT) FROM sel3
        |  UNION ALL SELECT qid, vec_id, mmr, CAST(4 AS INT) FROM sel4) u
        |ORDER BY qid, rank""".stripMargin,

    // entropy: exact counts, ln terms, round-6 canonicalized
    "a35_entropy" ->
      """WITH c AS MATERIALIZED (
        |  SELECT user_id, event_type, count(*) AS c FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |        SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS st
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n,
        |  round(ln(CAST(n AS DOUBLE)) - st / CAST(n AS DOUBLE), 6) + 0.0
        |    AS entropy
        |FROM s ORDER BY user_id""".stripMargin,

    // Gini: exact decimal rank-weighted sums, identical final chain;
    // rank ties permute only equal values so SUM(i*x) is tie-invariant
    "a36_gini" ->
      """WITH o AS MATERIALIZED (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(value AS DECIMAL(18,2))) AS i
        |  FROM events
        |  WHERE value IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL
        |    AND CAST(value AS DECIMAL(18,2)) >= 0),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(x * i AS DECIMAL(38,2))) AS DOUBLE) AS six
        |      FROM o GROUP BY user_id)
        |SELECT user_id, n,
        |  (CAST(2 AS DOUBLE) * six - (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
        |    * sx) / (CAST(n AS DOUBLE) * sx) AS gini
        |FROM s WHERE sx > 0 ORDER BY user_id""".stripMargin,

    "j7_asof_broadcast" ->
      """SELECT e.event_id, e.user_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "j9_interval_grid" ->
      """SELECT o.o_orderkey AS iv_key, l.l_orderkey, l.l_linenumber
        |FROM lineitem l JOIN orders o ON o.o_orderkey % 701 = 0
        | AND l.l_shipdate BETWEEN o.o_orderdate
        |   AND o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY iv_key, l_orderkey, l_linenumber""".stripMargin,

    "j8_asof_merge" ->
      """SELECT e.event_id, e.user_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "j5_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "j5_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    // radius join re-derived: the same md5-uniform coordinates, the
    // same cell grid (floor(x/r)), 3x3 neighborhood candidates, the
    // same squared-distance chain
    "j19_radius_join" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR),
        |      ':x')), 1, 15)) AS BIGINT) / 1152921504606846976.0 AS x,
        |    CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR),
        |      ':y')), 1, 15)) AS BIGINT) / 1152921504606846976.0 AS y
        |  FROM customer),
        |g AS (SELECT c_custkey, x, y,
        |    CAST(floor(x / 0.02) AS BIGINT) AS cx,
        |    CAST(floor(y / 0.02) AS BIGINT) AS cy
        |  FROM p)
        |SELECT a.c_custkey, b.c_custkey AS c_custkey_2,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2,
        |  sqrt((a.x - b.x) * (a.x - b.x)
        |     + (a.y - b.y) * (a.y - b.y)) AS dist
        |FROM g a JOIN g b
        |  ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        | AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        | AND a.c_custkey < b.c_custkey
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 0.02 * 0.02
        |ORDER BY a.c_custkey, c_custkey_2""".stripMargin,

    "j6_left_outer" ->
      """SELECT c.c_custkey, o.o_orderkey
        |FROM customer c LEFT JOIN (
        |  SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 400000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""".stripMargin,

    "a13_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "set2_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nk""".stripMargin,

    "set3_except" ->
      """SELECT n_nationkey AS nk FROM nation
        |EXCEPT SELECT s_nationkey FROM supplier
        |ORDER BY nk""".stripMargin,

    "j3_asof_global" ->
      """SELECT e.event_id, o.best_price AS asof_price
        |FROM events e ASOF JOIN (
        |  SELECT o_orderdate, MAX(o_totalprice) AS best_price
        |  FROM orders GROUP BY o_orderdate) o
        |  ON e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "j4_overlap" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        | AND o.o_orderdate <= l.l_shipdate + INTERVAL 7 DAY
        |ORDER BY l.l_orderkey, l.l_linenumber, o.o_totalprice""".stripMargin,

    "a18_median" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // robust stats: quantile_cont == Spark percentile; deterministic
    // band test; exact-decimal trimmed sum
    "a28_robust" ->
      """WITH q AS (
        |  SELECT o_orderstatus AS g,
        |    quantile_cont(o_totalprice, 0.5) AS med,
        |    quantile_cont(o_totalprice, 0.05) AS qlo,
        |    quantile_cont(o_totalprice, 0.95) AS qhi
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o.o_orderstatus,
        |  q.med AS median_o_totalprice,
        |  quantile_cont(abs(o.o_totalprice - q.med), 0.5)
        |    AS mad_o_totalprice,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |      FILTER (WHERE o.o_totalprice BETWEEN q.qlo AND q.qhi) AS DOUBLE)
        |    / COUNT(*) FILTER (WHERE o.o_totalprice BETWEEN q.qlo AND q.qhi)
        |    AS trimmed_avg_o_totalprice
        |FROM orders o JOIN q ON o.o_orderstatus = q.g
        |GROUP BY o.o_orderstatus, q.med
        |ORDER BY o_orderstatus""".stripMargin,

    // exact decimal power sums -> one fixed double expression tree: both
    // engines compute bit-identical stddev/corr (the built-in streaming
    // co-moment aggs would differ in the last ulp)
    "a16_stats" ->
      """WITH p AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS xd,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS yd FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
        |    CAST(sum(xd*xd) AS DOUBLE) AS sxx,
        |    CAST(sum(yd*yd) AS DOUBLE) AS syy,
        |    CAST(sum(xd*yd) AS DOUBLE) AS sxy FROM p)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(sqrt((sxx - sx*sx/n)/(n-1)), 6) + 0.0 AS stddev_x,
        |  round(sqrt((syy - sy*sy/n)/(n-1)), 6) + 0.0 AS stddev_y,
        |  round((sxy - sx*sy/n)/(sqrt(sxx - sx*sx/n)*sqrt(syy - sy*sy/n)), 6)
        |    + 0.0 AS corr_xy
        |FROM a""".stripMargin,

    "a10_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "a11_pivot" ->
      """SELECT CAST(EXTRACT(HOUR FROM ts) AS INT) AS h,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
        |FROM events GROUP BY h ORDER BY h""".stripMargin,

    "t7_top_terms" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    // script mix: the same explicit codepoint ranges over the same
    // token split
    "t40_script_mix" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_latin,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '[Ѐ-ӿ]'))) AS BIGINT) AS n_cyrillic,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '[一-鿿]'))) AS BIGINT) AS n_cjk,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '[Ͱ-Ͽ]'))) AS BIGINT) AS n_greek,
        |  CAST(len(list_filter(toks, x ->
        |    (CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(x, '[Ѐ-ӿ]') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(x, '[一-鿿]') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(x, '[Ͱ-Ͽ]') THEN 1 ELSE 0 END)
        |    >= 2)) AS BIGINT) AS n_mixed
        |FROM tk ORDER BY doc_id""".stripMargin,

    // Flesch: the same three regexp counts and the same fixed double
    // sequence — \S+ and the character classes are in the Java∩RE2
    // shared subset
    "t39_readability" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(len(regexp_extract_all(trim(text), '\S+'))
        |      AS DOUBLE) > 0
        |    THEN 206.835
        |      - 1.015 * (CAST(len(regexp_extract_all(trim(text), '\S+'))
        |          AS DOUBLE)
        |        / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')),
        |          1) AS DOUBLE))
        |      - 84.6 * (CAST(len(regexp_extract_all(lower(text),
        |          '[aeiouy]+')) AS DOUBLE)
        |        / CAST(len(regexp_extract_all(trim(text), '\S+'))
        |          AS DOUBLE))
        |    ELSE NULL END AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,

    // JS divergence: same per-slice probabilities, same shared-term
    // decimal sums, same closed-form disjoint mass
    "t38_js_divergence" ->
      """WITH base AS (SELECT lang AS s,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents WHERE lang IS NOT NULL),
        |counts AS (SELECT s, t, count(*) AS c FROM base
        |  WHERE length(t) > 0 GROUP BY s, t),
        |totals AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n
        |  FROM counts GROUP BY s),
        |probs AS (SELECT counts.s, t,
        |    CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |  FROM counts JOIN totals ON counts.s = totals.s),
        |shared AS (SELECT a.s AS sa, b.s AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS nsh,
        |    SUM(CAST(a.p * ln(2.0 * a.p / (a.p + b.p))
        |      AS DECIMAL(28,18))) AS ca,
        |    SUM(CAST(b.p * ln(2.0 * b.p / (a.p + b.p))
        |      AS DECIMAL(28,18))) AS cb,
        |    SUM(CAST(a.p AS DECIMAL(28,18))) AS ma,
        |    SUM(CAST(b.p AS DECIMAL(28,18))) AS mb
        |  FROM probs a JOIN probs b ON a.t = b.t AND a.s < b.s
        |  GROUP BY a.s, b.s),
        |grid AS (SELECT ta.s AS ga, tb.s AS gb, ta.n AS n_a, tb.n AS n_b
        |  FROM totals ta JOIN totals tb ON ta.s < tb.s),
        |j AS (SELECT ga, gb, n_a, n_b,
        |    COALESCE(nsh, 0) AS n_terms_shared,
        |    (((COALESCE(CAST(ca AS DOUBLE), 0.0)
        |      + ln(2.0) * (1.0 - COALESCE(CAST(ma AS DOUBLE), 0.0)))
        |      + COALESCE(CAST(cb AS DOUBLE), 0.0))
        |      + ln(2.0) * (1.0 - COALESCE(CAST(mb AS DOUBLE), 0.0)))
        |      * 0.5 AS nats
        |  FROM grid LEFT JOIN shared ON ga = sa AND gb = sb)
        |SELECT ga AS lang_a, gb AS lang_b, n_a, n_b, n_terms_shared,
        |  round(nats, 6) + 0.0 AS jsd_nats,
        |  round(nats / ln(2.0), 6) + 0.0 AS jsd_bits
        |FROM j ORDER BY lang_a, lang_b""".stripMargin,

    // Zipf fit: same top-100 rank table, same decimal-stabilized OLS
    // moments, same fixed-order closed form
    "t37_zipf" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text),
        |    '\s+')) AS tok FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks
        |  WHERE length(tok) > 0 GROUP BY tok),
        |top AS (SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
        |  FROM tf ORDER BY freq DESC, tok LIMIT 100),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,18)))
        |    AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(28,18)))
        |    AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
        |    AS DECIMAL(28,18))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
        |    AS DECIMAL(28,18))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
        |    AS DECIMAL(28,18))) AS DOUBLE) AS syy
        |  FROM top)
        |SELECT k,
        |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) + 0.0
        |    AS slope,
        |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
        |    / k, 6) + 0.0 AS intercept,
        |  CASE WHEN (k * syy - sy * sy) > 0
        |    THEN round(((k * sxy - sx * sy) * (k * sxy - sx * sy))
        |      / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) + 0.0
        |    ELSE NULL END AS r2
        |FROM m""".stripMargin,

    // Count-Min in the provably-exact domain regime (25 fixed keys,
    // no full-row collision) == exact counts, through the merge path
    "a27_cm_rollup" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS est
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // BPE with an empty merge table == code-point symbols per word:
    // the token count is exactly the non-whitespace character count
    "t20b_bpe_char" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_cp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // novelty: same union corpus and shingle construction as d2's
    // oracle; df==1 counts over distinct per-doc shingles
    "t23_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(len(string_split_regex(trim(text), '\s+'))-5, 0)], ' ')
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest(list_distinct(list_transform(range(greatest(len(string_split_regex(trim(text), '\s+'))-2, 1)),
        |        i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+3], ' ')))) AS s
        |    FROM docs)
        |), dfreq AS (
        |  SELECT s, COUNT(*) AS dfc FROM sh GROUP BY s
        |)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN dfreq ON sh.s = dfreq.s
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,

    // vocab stats: exact counts; SUM(BIGINT)->HUGEINT needs the cast
    "t22_vocab_stats" ->
      """WITH tc AS (
        |  SELECT source, term, COUNT(*) AS c FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS term
        |    FROM documents)
        |  WHERE length(term) > 0
        |  GROUP BY source, term)
        |SELECT source,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
        |    AS type_token_ratio
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,

    // feature hashing: the d4b md5-60 convention (first 15 hex chars
    // parsed base-16) mod 64 re-derives every bucket count exactly
    "t29_feature_hash" ->
      """SELECT doc_id, CAST(bucket AS INT) AS bucket,
        |  CAST(count(*) AS INT) AS n
        |FROM (
        |  SELECT d.doc_id,
        |    CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) % 64
        |      AS bucket
        |  FROM documents d,
        |    unnest(string_split_regex(trim(d.text), '\s+')) AS t(tok)
        |  WHERE trim(d.text) <> ''
        |)
        |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,

    // DuckDB's damerau_levenshtein IS the unrestricted Lowrance–Wagner
    // variant (DL('CA','ABC') = 2, probed) — integer-for-integer oracle
    "t30_damerau" ->
      """WITH h AS (
        |  SELECT doc_id, substr(text, 1, 40) AS head40 FROM documents
        |)
        |SELECT a.doc_id,
        |  CAST(damerau_levenshtein(a.head40, b.head40) AS INT) AS dl_next,
        |  CAST(damerau_levenshtein(a.head40, reverse(a.head40)) AS INT)
        |    AS dl_rev
        |FROM h a JOIN h b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,

    // chi-square: same casts-first, left-associated double chain
    "t21_chi2" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, lang AS cat, term FROM (
        |    SELECT doc_id, lang,
        |      unnest(string_split_regex(trim(text), '\s+')) AS term
        |    FROM documents)
        |), tc AS (
        |  SELECT term, cat, COUNT(*) AS n11 FROM pres GROUP BY term, cat
        |), tt AS (
        |  SELECT term, SUM(n11) AS nt FROM tc GROUP BY term
        |), ct AS (
        |  SELECT lang AS cat2, COUNT(*) AS nc FROM documents GROUP BY lang
        |), tot AS (SELECT COUNT(*) AS nn FROM documents
        |), sc AS (
        |  SELECT term, cat,
        |    CAST(n11 AS DOUBLE) AS n11d, CAST(nt AS DOUBLE) AS ntd,
        |    CAST(nc AS DOUBLE) AS ncd, CAST(nn AS DOUBLE) AS nnd
        |  FROM tc JOIN tt USING (term) JOIN ct ON cat = cat2 CROSS JOIN tot
        |  WHERE nt >= 10 AND nt < nn AND nc < nn
        |), sc2 AS (
        |  SELECT term, cat, ntd, ncd, nnd,
        |    n11d * (nnd - ntd - ncd + n11d)
        |      - (ntd - n11d) * (ncd - n11d) AS diff
        |  FROM sc
        |)
        |SELECT term, cat,
        |  nnd * (diff * diff) / (ntd * (nnd - ntd) * ncd * (nnd - ncd)) AS chi2
        |FROM sc2 ORDER BY chi2 DESC, term, cat LIMIT 50""".stripMargin,

    // BM25 retrieval join replayed: same postings, same stop-term
    // prune, same round-6-then-rank convention. t24b (the persisted
    // inverted index) must reproduce the SAME result through a disk
    // round-trip — one oracle string for both.
    "t24_bm25_retrieval" -> bm25RetrievalOracle,
    "t24b_bm25_index" -> bm25RetrievalOracle,

    // leakage-safe split replayed: d5's recursive-CTE components,
    // split thresholds on the md5-uniform of the representative
    "s12_leakage_split" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.3),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
        |          UNION SELECT v2, v1 FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS label FROM embeddings
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, MIN(label) AS component
        |  FROM reach GROUP BY id),
        |keyed AS (SELECT id, component,
        |  CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 15))
        |    AS BIGINT) / 1152921504606846976.0 AS u FROM comp)
        |SELECT id AS vec_id, component,
        |  CASE WHEN u < 0.75 THEN 'train'
        |       WHEN u < 0.875 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM keyed ORDER BY vec_id""".stripMargin,

    // DSIR weights replayed: md5-60 hashed uni+bigram buckets (mod
    // 256), add-1 smoothed ln-ratio, decimal-exact count*lambda sum
    "ds1_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, lang, list_filter(
        |    string_split_regex(trim(text), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(list_concat(t,
        |    list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1]))) AS g
        |  FROM tk),
        |bk AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 256 AS b
        |  FROM g),
        |raw AS (SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM bk GROUP BY doc_id, b),
        |rt AS (SELECT b, SUM(c) AS cr FROM raw GROUP BY b),
        |tt AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS ct
        |  FROM bk WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT SUM(cr) FROM rt) AS totr,
        |    (SELECT SUM(ct) FROM tt) AS tott),
        |lam AS (SELECT rt.b,
        |    ln((COALESCE(tt.ct, CAST(0 AS DOUBLE)) + CAST(1 AS DOUBLE))
        |        / ((SELECT tott FROM tot) + CAST(256 AS DOUBLE)))
        |    - ln((rt.cr + CAST(1 AS DOUBLE))
        |        / ((SELECT totr FROM tot) + CAST(256 AS DOUBLE))) AS lam
        |  FROM rt LEFT JOIN tt ON rt.b = tt.b)
        |SELECT raw.doc_id,
        |  round(CAST(SUM(CAST(raw.c * lam.lam AS DECIMAL(28,18)))
        |    AS DOUBLE), 6) + 0.0 AS weight,
        |  CAST(SUM(raw.c) AS BIGINT) AS n_grams
        |FROM raw JOIN lam ON raw.b = lam.b
        |GROUP BY raw.doc_id ORDER BY doc_id""".stripMargin,

    // DSIR Gumbel top-k replayed: key = w/2 - ln(-ln(u)), u =
    // (md5_60('7:'||id) + 0.5) / 2^60, round-6 then rank
    // exact decimal group sums, every double ONE division (or one
    // subtraction of two) of exact values — round-free (a37 convention)
    "ds3_loo_influence" ->
      """WITH p AS (SELECT source,
        |    SUM(CAST(n_chars AS DECIMAL(18,2))) AS s, COUNT(*) AS n
        |  FROM documents
        |  WHERE CAST(n_chars AS DECIMAL(18,2)) IS NOT NULL
        |  GROUP BY source),
        |t AS (SELECT SUM(s) AS tt, CAST(SUM(n) AS BIGINT) AS nn FROM p)
        |SELECT source, n,
        |  CAST(s AS DOUBLE) / n + 0.0 AS mean_group,
        |  CAST(tt - s AS DOUBLE) / (nn - n) + 0.0 AS mean_rest,
        |  ((CAST(s AS DOUBLE) / n + 0.0)
        |    - (CAST(tt - s AS DOUBLE) / (nn - n) + 0.0)) + 0.0 AS influence
        |FROM p, t WHERE nn > n ORDER BY source""".stripMargin,

    "ds2_dsir_resample" ->
      """WITH tk AS (SELECT doc_id, lang, list_filter(
        |    string_split_regex(trim(text), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(list_concat(t,
        |    list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1]))) AS g
        |  FROM tk),
        |bk AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 256 AS b
        |  FROM g),
        |raw AS (SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM bk GROUP BY doc_id, b),
        |rt AS (SELECT b, SUM(c) AS cr FROM raw GROUP BY b),
        |tt AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS ct
        |  FROM bk WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT SUM(cr) FROM rt) AS totr,
        |    (SELECT SUM(ct) FROM tt) AS tott),
        |lam AS (SELECT rt.b,
        |    ln((COALESCE(tt.ct, CAST(0 AS DOUBLE)) + CAST(1 AS DOUBLE))
        |        / ((SELECT tott FROM tot) + CAST(256 AS DOUBLE)))
        |    - ln((rt.cr + CAST(1 AS DOUBLE))
        |        / ((SELECT totr FROM tot) + CAST(256 AS DOUBLE))) AS lam
        |  FROM rt LEFT JOIN tt ON rt.b = tt.b),
        |w AS (SELECT raw.doc_id,
        |    CAST(SUM(CAST(raw.c * lam.lam AS DECIMAL(28,18)))
        |      AS DOUBLE) AS weight
        |  FROM raw JOIN lam ON raw.b = lam.b GROUP BY raw.doc_id),
        |keyed AS (SELECT doc_id, weight,
        |    round(weight / CAST(2 AS DOUBLE) - ln(-ln(
        |      (CAST(concat('0x', substr(md5(concat('7', ':',
        |        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |        + 0.5) / 1152921504606846976.0)), 6) + 0.0 AS key
        |  FROM w),
        |rk AS (SELECT doc_id, weight, key,
        |    row_number() OVER (ORDER BY key DESC, doc_id) AS rank
        |  FROM keyed)
        |SELECT doc_id, round(weight, 6) + 0.0 AS weight, key,
        |  CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // exact-configuration Misra-Gries == exact counts, zero error
    "hh1_freq_items" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS err
        |FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "t8_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(range(0, len(toks), 10),
        |        s -> struct_pack(idx := s // 10, txt := array_to_string(toks[s+1:least(s+20, len(toks))], ' ')))) AS ch
        |      FROM t)
        |SELECT doc_id, CAST(ch.idx AS INT) AS chunk_idx, ch.txt AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "s2_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (doc_id * 2654435761) % 100 < 30
        |ORDER BY doc_id""".stripMargin,

    "s3_stratified_sample" ->
      """WITH r AS (SELECT c_mktsegment, c_custkey,
        |  CAST(row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY (c_custkey * 2654435761) % 1000000007, c_custkey) AS INT) AS rk
        |  FROM customer)
        |SELECT c_mktsegment, rk, c_custkey FROM r WHERE rk <= 20
        |ORDER BY c_mktsegment, rk""".stripMargin,

    "t10_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    tf.tf * ln((n.nn + 1)/(dfreq.df + 1)) AS tfidf
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
        |r AS (SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INT) AS rk
        |  FROM scored)
        |SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "t9_levenshtein" ->
      """SELECT a.doc_id AS doc_id,
        |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INT) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin,

    "a14_histogram" ->
      """SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,

    "d6_incremental" ->
      """WITH corpus AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents
        |  WHERE doc_id >= 250 AND doc_id < 300),
        |bf AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM batch),
        |fresh AS (SELECT * FROM bf WHERE fp NOT IN (SELECT fp FROM corpus))
        |SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
        |ORDER BY doc_id""".stripMargin,

    // bloom variant is output-identical to d6 by construction (the
    // sketch only routes rows; hits are exactly verified) — same oracle
    "d7_bloom_incremental" ->
      """WITH corpus AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents
        |  WHERE doc_id >= 250 AND doc_id < 300),
        |bf AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM batch),
        |fresh AS (SELECT * FROM bf WHERE fp NOT IN (SELECT fp FROM corpus))
        |SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
        |ORDER BY doc_id""".stripMargin,

    "dc1_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(tk)-2,1)),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS shingle
        |  FROM toks),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
        |scored AS (
        |  SELECT s.doc_id,
        |    CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS overlap
        |  FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        |  GROUP BY s.doc_id)
        |SELECT doc_id FROM scored WHERE overlap < 0.5 ORDER BY doc_id""".stripMargin,

    // Same shingle construction as dc1; the report keeps the scores.
    "dc2_overlap_report" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(tk)-2,1)),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS shingle
        |  FROM toks),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
        |SELECT s.doc_id,
        |  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS overlap,
        |  CAST(COUNT(*) AS BIGINT) AS grams
        |FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        |GROUP BY s.doc_id ORDER BY overlap DESC, doc_id""".stripMargin,

    // dc2's report restricted to the train split + the dc1 threshold
    // verdict — what the streaming gate must reproduce through its
    // persisted bench index
    "dc4_stream_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(tk)-2,1)),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS shingle
        |  FROM toks),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
        |SELECT s.doc_id,
        |  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS overlap,
        |  CAST(COUNT(*) AS BIGINT) AS grams,
        |  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) < 0.5 AS clean
        |FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id >= 50
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "dq1_checks" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN NOT (o_orderkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS viol_not_null_o_orderkey,
        |  CAST(SUM(CASE WHEN NOT (o_totalprice IS NULL OR o_totalprice BETWEEN 0 AND 300000) THEN 1 ELSE 0 END) AS BIGINT) AS viol_range_o_totalprice,
        |  CAST(SUM(CASE WHEN NOT (o_orderstatus IS NULL OR o_orderstatus IN ('F','O','P')) THEN 1 ELSE 0 END) AS BIGINT) AS viol_one_of_o_orderstatus
        |FROM orders""".stripMargin,

    "dq2_dup_keys" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS dup_keys,
        |  CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS excess_rows
        |FROM (SELECT user_id, event_type, COUNT(*) AS n FROM events
        |      GROUP BY user_id, event_type) WHERE n > 1""".stripMargin,

    // FK orphans: NOT IN over the non-null parent keys re-derives the
    // anti-join; null FKs counted apart, fraction one double division
    "dq5_fk_orphans" ->
      """WITH ch AS (SELECT user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |o AS (SELECT user_id FROM ch WHERE user_id NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
        |SELECT
        |  (SELECT count(*) FROM events) AS n_rows,
        |  (SELECT count(*) FROM events WHERE user_id IS NULL)
        |    AS n_null_fk,
        |  (SELECT count(*) FROM ch) AS n_checked,
        |  (SELECT count(*) FROM o) AS n_orphan_rows,
        |  (SELECT count(DISTINCT user_id) FROM o) AS n_orphan_keys,
        |  round(CASE WHEN (SELECT count(*) FROM ch) = 0 THEN 0.0
        |    ELSE CAST((SELECT count(*) FROM o) AS DOUBLE) /
        |      CAST((SELECT count(*) FROM ch) AS DOUBLE) END, 6) + 0.0
        |    AS orphan_fraction""".stripMargin,

    // volume anomalies: same daily counts, same quantile_cont
    // median/MAD, same one comparison
    "dq6_volume_anomaly" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM daily GROUP BY event_type),
        |mad AS (SELECT d.event_type,
        |    quantile_cont(abs(CAST(d.n AS DOUBLE) - med.med), 0.5) AS mad
        |  FROM daily d JOIN med
        |    ON d.event_type IS NOT DISTINCT FROM med.event_type
        |  GROUP BY d.event_type)
        |SELECT d.event_type, d.day, d.n,
        |  med.med AS median_n, mad.mad AS mad_n,
        |  abs(CAST(d.n AS DOUBLE) - med.med) > 3.0 * mad.mad
        |    AS is_anomaly
        |FROM daily d JOIN med
        |  ON d.event_type IS NOT DISTINCT FROM med.event_type
        |JOIN mad ON d.event_type IS NOT DISTINCT FROM mad.event_type
        |ORDER BY d.event_type, d.day""".stripMargin,

    // schema advisor: the identical anchored recognizers over the
    // identical identity-stable renderings, one block per column
    "p9_schema_advisor" -> {
      val cols = Seq(
        ("id_str", "CAST(o_orderkey AS VARCHAR)"),
        ("price_str",
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
        ("date_str", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
        ("ts_str", "CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR)"),
        ("priority_str", "o_orderpriority"),
        ("mixed_str",
          "CASE WHEN o_orderkey % 10 = 0 THEN NULL " +
            "ELSE CAST(o_orderkey AS VARCHAR) END"))
      val blocks = cols.map { case (name, e) =>
        s"""SELECT '$name' AS col_name,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_null,
           |  CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
           |  CAST(SUM(CASE WHEN regexp_matches(v,
           |      '^-?[0-9]+\\.[0-9]+$$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
           |  CAST(SUM(CASE WHEN regexp_matches(v,
           |      '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
           |  CAST(SUM(CASE WHEN regexp_matches(v,
           |      '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?$$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
           |  CASE
           |    WHEN COUNT(*) - SUM(CASE WHEN v IS NULL OR v = ''
           |      THEN 1 ELSE 0 END) = 0 THEN 'string'
           |    WHEN SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$$')
           |        THEN 1 ELSE 0 END)
           |      = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = ''
           |        THEN 1 ELSE 0 END) THEN 'bigint'
           |    WHEN SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$$')
           |        THEN 1 ELSE 0 END)
           |      + SUM(CASE WHEN regexp_matches(v,
           |          '^-?[0-9]+\\.[0-9]+$$') THEN 1 ELSE 0 END)
           |      = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = ''
           |        THEN 1 ELSE 0 END) THEN 'double'
           |    WHEN SUM(CASE WHEN regexp_matches(v,
           |        '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') THEN 1 ELSE 0 END)
           |      = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = ''
           |        THEN 1 ELSE 0 END) THEN 'date'
           |    WHEN SUM(CASE WHEN regexp_matches(v,
           |        '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?$$')
           |        THEN 1 ELSE 0 END)
           |      = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = ''
           |        THEN 1 ELSE 0 END) THEN 'timestamp'
           |    ELSE 'string' END AS suggested
           |FROM (SELECT $e AS v FROM orders) q_$name""".stripMargin
      }
      blocks.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // mirror reconciliation: the oracle derives the final logical
    // state directly from the fixture — matched mirrors mean zeros in
    // every discrepancy column and the exact value total
    "dq8_mirror_reconcile" ->
      """WITH final AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 100 = 3 THEN 0.0
        |         ELSE CAST(value AS DOUBLE) END AS value
        |  FROM events
        |  WHERE event_id IS NOT NULL AND event_id % 7 <> 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
        |  CAST(COUNT(*) AS BIGINT) AS n_dst,
        |  CAST(0 AS BIGINT) AS n_only_src,
        |  CAST(0 AS BIGINT) AS n_only_dst,
        |  CAST(0 AS BIGINT) AS n_mismatch,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_value_dst
        |FROM final""".stripMargin,

    // id gaps: the same missing-run report via one global lead()
    // (fine at oracle scale; the engine uses anti-joins + the o5
    // numbering instead of a global window)
    "dq7_id_gaps" ->
      """WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id IS NOT NULL AND value <= 95.0),
        |n AS (SELECT id AS a, lead(id) OVER (ORDER BY id) AS b FROM ids)
        |SELECT a + 1 AS gap_start, b - 1 AS gap_end,
        |  (b - 1) - (a + 1) + 1 AS n_missing
        |FROM n WHERE b > a + 1 ORDER BY gap_start""".stripMargin,

    // FD audit re-derived: same two-level exact aggregation
    "dq9_fd_audit" ->
      """WITH g AS (
        |  SELECT user_id, count(DISTINCT event_type) AS d, count(*) AS n
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_keys,
        |  CAST(sum(CASE WHEN d > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_violating_rows,
        |  max(d) AS max_rhs_per_key
        |FROM g""".stripMargin,

    "dq3_key_skew" ->
      """WITH k AS (SELECT user_id, COUNT(*) AS cnt
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |  COUNT(*) AS n_keys FROM k)
        |SELECT user_id, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) * 100 / total, 4) + 0.0 AS share_pct,
        |  ROUND(CAST(cnt AS DOUBLE) * n_keys / total, 4) + 0.0 AS skew_x,
        |  n_keys, total AS total_rows
        |FROM k, g
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,

    "t6_scrub" ->
      """SELECT doc_id, md5(
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' http://example.com/x?id=' || doc_id || ' user' || doc_id || '@mail.example.org tail',
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9_.]+@[A-Za-z0-9_.]+', '<EMAIL>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "a12_profile" ->
      """SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv_flag,
        |  COUNT(*) AS n_rows
        |FROM lineitem""".stripMargin,

    "w3_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT a.d AS d, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS retained
        |FROM days a JOIN days b ON a.user_id = b.user_id AND b.d = a.d + 1
        |GROUP BY a.d ORDER BY a.d""".stripMargin,

    "w4_funnel" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM firsts""".stripMargin,

    "w5_topk_per_group" ->
      """SELECT o_orderstatus, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 2 ORDER BY o_orderstatus, rk""".stripMargin,

    "a15_string_agg" ->
      """SELECT CAST(n_regionkey % 2 AS INT) AS parity,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY parity ORDER BY parity""".stripMargin,

    "w6_mom_growth" ->
      """WITH monthly AS (
        |  SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY month)
        |SELECT month, total, total - lag(total, 1) OVER (ORDER BY month) AS delta
        |FROM monthly ORDER BY month""".stripMargin,

    "w2_sessionize" ->
      """WITH g AS (SELECT event_id, user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |FROM g ORDER BY event_id""".stripMargin,

    // undirected reachability via recursive CTE; component = MIN reachable
    // id — the same fixpoint the distributed label propagation converges to
    // exact-mode SemDeDup twin: nlist=1 => all-pairs cosine graph;
    // survivors = min reachable id of each component (d5's CTE shape)
    "d9b_semantic_exact" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.3),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
        |          UNION SELECT v2, v1 FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS label FROM embeddings
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS vec_id FROM reach
        |GROUP BY id HAVING MIN(label) = id ORDER BY vec_id""".stripMargin,

    "d5_components" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.3),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
        |          UNION SELECT v2, v1 FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS label FROM embeddings
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS vec_id, MIN(label) AS component
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    "w7_running_total" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,

    "w8_range_window" ->
      """SELECT event_id, user_id,
        |  COUNT(value) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(value) OVER w AS avg_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "a17_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // attribution: same equi+BETWEEN pairs, same per-conversion k,
    // same single division
    "w10_attribution" ->
      """WITH e AS (SELECT event_id, user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |c AS (SELECT user_id AS c_user, event_id AS conv_id, ts AS c_ts
        |  FROM e WHERE event_id % 17 = 0),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS t_ts
        |  FROM e WHERE event_id % 17 <> 0),
        |j AS (SELECT c.conv_id, t.touch_id
        |  FROM t JOIN c ON t.user_id = c.c_user
        |    AND t.t_ts BETWEEN c.c_ts - INTERVAL 7 DAY AND c.c_ts),
        |k AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM j GROUP BY conv_id)
        |SELECT j.conv_id, j.touch_id, k.k,
        |  1.0 / k.k + 0.0 AS credit
        |FROM j JOIN k ON j.conv_id = k.conv_id
        |ORDER BY j.conv_id, j.touch_id""".stripMargin,

    // tolerance as-of: DuckDB ASOF LEFT JOIN + the same 1-hour gap gate
    "j14_asof_tolerance" ->
      """WITH a AS (SELECT user_id AS a_user, ts AS a_ts,
        |    MAX(value) AS anchor_value
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id % 10 = 0
        |  GROUP BY user_id, ts),
        |e AS (SELECT event_id, user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN a.a_ts IS NOT NULL
        |         AND epoch_us(e.ts) - epoch_us(a.a_ts) <= 3600000000
        |       THEN a.anchor_value END AS anchor_value
        |FROM e ASOF LEFT JOIN a
        |  ON e.user_id = a.a_user AND e.ts >= a.a_ts
        |ORDER BY e.event_id""".stripMargin,

    // forward tolerance as-of: DuckDB forward ASOF (l.ts <= r.ts) +
    // the mirrored gap gate
    "j15_asof_fwd_tolerance" ->
      """WITH a AS (SELECT user_id AS a_user, ts AS a_ts,
        |    MAX(value) AS anchor_value
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id % 10 = 0
        |  GROUP BY user_id, ts),
        |e AS (SELECT event_id, user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN a.a_ts IS NOT NULL
        |         AND epoch_us(a.a_ts) - epoch_us(e.ts) <= 3600000000
        |       THEN a.anchor_value END AS anchor_value
        |FROM e ASOF LEFT JOIN a
        |  ON e.user_id = a.a_user AND e.ts <= a.a_ts
        |ORDER BY e.event_id""".stripMargin,

    // band join: naive theta join on the same exact integer cents
    "j13_band_join" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL)
        |SELECT a.event_id AS event_id, b.event_id AS event_id_2,
        |  a.event_type AS event_type,
        |  b.c - a.c AS diff_cents
        |FROM e a JOIN e b
        |  ON a.event_type = b.event_type
        |  AND a.event_id < b.event_id
        |  AND abs(a.c - b.c) <= 5
        |ORDER BY event_id, event_id_2""".stripMargin,

    // best-of-cluster: d2's pair predicate + d5's recursive components
    // + t2's quality, composed; survivor = max quality, min id on ties
    "d14_best_of_cluster" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(len(string_split_regex(trim(text), '\s+'))-5, 0)], ' '),
        |    lang, source FROM documents
        |), t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(greatest(len(string_split_regex(trim(text), '\s+'))-2, 1)),
        |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+3], ' '))) AS sh
        |  FROM docs),
        |lp AS (
        |  SELECT a.doc_id AS v1, b.doc_id AS v2
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
        |edges AS (SELECT v1 AS src, v2 AS dst FROM lp
        |          UNION SELECT v2, v1 FROM lp),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS label FROM docs
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
        |q AS (SELECT doc_id, ROUND(
        |  LEAST(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
        |  + (CASE WHEN CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) > 0.2
        |     THEN 0.0
        |     ELSE 1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 5 END) * 0.3
        |  + LEAST(CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) * 5.0, 1.0) * 0.3
        |  , 6) AS quality FROM docs),
        |j AS (SELECT c.cluster_id, q.doc_id, q.quality
        |  FROM comp c JOIN q ON q.doc_id = c.id),
        |m AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |    MAX(quality) AS best_q
        |  FROM j GROUP BY cluster_id)
        |SELECT m.cluster_id, m.n_members,
        |  MIN(j.doc_id) AS survivor_id, m.best_q AS quality
        |FROM m JOIN j ON j.cluster_id = m.cluster_id
        |  AND j.quality = m.best_q
        |GROUP BY m.cluster_id, m.n_members, m.best_q
        |ORDER BY m.cluster_id""".stripMargin,

    // corpus boilerplate: distinct-doc line frequency >= 4 drops the
    // line everywhere; survivors reassemble by ordinal
    "d13_boilerplate" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10), text,
        |    'accept cookies to continue',
        |    CASE WHEN doc_id % 2 = 0 THEN 'promo footer' ELSE '' END,
        |    concat('grp: ', CAST(doc_id % 200 AS VARCHAR)),
        |    concat('id: ', CAST(doc_id AS VARCHAR))) AS text
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |        i -> struct_pack(ord := i, line := ls[i]))) AS u FROM s),
        |f AS (SELECT u.line AS bline FROM l WHERE u.line <> ''
        |  GROUP BY u.line HAVING count(DISTINCT doc_id) >= 4),
        |k AS (SELECT doc_id, u.ord AS ord, u.line AS line FROM l
        |  WHERE u.line NOT IN (SELECT bline FROM f)),
        |g AS (SELECT doc_id,
        |    array_to_string(list(line ORDER BY ord), chr(10)) AS clean_text,
        |    count(*) AS kept
        |  FROM k GROUP BY doc_id),
        |tt AS (SELECT doc_id, count(*) AS total FROM l GROUP BY doc_id)
        |SELECT tt.doc_id,
        |  coalesce(g.clean_text, '') AS clean_text,
        |  CAST(coalesce(g.kept, 0) AS BIGINT) AS n_lines_kept,
        |  CAST(tt.total - coalesce(g.kept, 0) AS BIGINT) AS n_lines_dropped
        |FROM tt LEFT JOIN g ON tt.doc_id = g.doc_id
        |ORDER BY tt.doc_id""".stripMargin,

    // first-occurrence line dedup == keep min ordinal per (doc, line)
    "t15_intradoc_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    concat(text, chr(10), 'boiler', chr(10), text, chr(10),
        |           'boiler', chr(10), 'id: ', CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |        i -> struct_pack(ord := i, line := ls[i]))) AS u FROM s),
        |f AS (SELECT doc_id, u.line AS line, min(u.ord) AS ord
        |  FROM l GROUP BY doc_id, u.line)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // rolling correlation: identical window moments (operand-pinned
    // decimal products), the identical pearson chain, raw doubles
    "w12_rolling_corr" ->
      """WITH b AS (SELECT event_id, user_id, ts,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(CAST((epoch_us(ts) // 3600000000) - 473352 AS DOUBLE)
        |      AS DECIMAL(18,2)) AS y
        |  FROM events
        |  WHERE ts IS NOT NULL
        |    AND TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
        |s AS (SELECT event_id, user_id,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    CAST(SUM(x) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(y) OVER w AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) OVER w AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) OVER w AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) OVER w AS DOUBLE)
        |      AS sxy
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS roll_corr
        |FROM s
        |WHERE n = 24 AND
        |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) > 0
        |ORDER BY event_id""".stripMargin,

    // unique order key per partition => rank==row_number, divisions are
    // the same IEEE ops in both engines
    "w9_rank_family" ->
      """SELECT event_id, user_id,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,

    "a21_date_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_shipdate AS DATE) + INTERVAL 7 DAY AS DATE) AS ship_plus7,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS INT)
        |    AS days_since,
        |  CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month_start
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // lossless-regime GK: the sketch keeps every sample, query(q)
    // returns the element of rank ceil(q*n) — DuckDB quantile_disc's
    // exact convention (nulls ignored by both sides)
    "a22b_quantile_exact" ->
      """SELECT CAST(COUNT(DISTINCT EXTRACT(HOUR FROM ts)) AS BIGINT)
        |    AS n_hours,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.75) AS p75,
        |  quantile_disc(value, 0.99) AS p99
        |FROM events WHERE ts IS NOT NULL""".stripMargin,

    // OLS replayed from the same five decimal moments, same float tree
    "a25_ols" ->
      """WITH c AS (SELECT event_type,
        |    CAST(CAST(EXTRACT(HOUR FROM ts) AS INT) AS DECIMAL(18,2)) AS xd,
        |    CAST(value AS DECIMAL(18,2)) AS yd
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(xd) AS DOUBLE) AS sx,
        |    CAST(SUM(yd) AS DOUBLE) AS sy,
        |    CAST(SUM(xd * xd) AS DOUBLE) AS sxx,
        |    CAST(SUM(yd * yd) AS DOUBLE) AS syy,
        |    CAST(SUM(xd * yd) AS DOUBLE) AS sxy
        |  FROM c GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0.0 AS slope,
        |  round((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n,
        |    6) + 0.0 AS intercept,
        |  round(((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
        |    ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) + 0.0 AS r2
        |FROM m ORDER BY event_type""".stripMargin,

    // grouped lossless-eps GK == per-group discrete quantiles
    "a24_quantiles_by_group" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.75) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // winsorize: discrete-quantile thresholds are data values, so the
    // clamped column is byte-identical; CASE (not least/greatest, whose
    // null handling differs across engines) keeps null measures null
    "a32_winsorize" ->
      """WITH th AS (
        |  SELECT event_type,
        |    quantile_disc(value, 0.05) AS lo,
        |    quantile_disc(value, 0.95) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value IS NULL THEN NULL
        |       WHEN e.value < t.lo THEN t.lo
        |       WHEN e.value > t.hi THEN t.hi
        |       ELSE e.value END AS value_w
        |FROM events e JOIN th t ON e.event_type = t.event_type
        |ORDER BY e.event_id""".stripMargin,

    // hopping windows: every event lands in exactly window/slide = 2
    // windows — the floor-to-slide start and the one 15 min earlier;
    // exact-decimal average (the a5/a7 stabilization)
    "a33_hopping" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL
        |), w AS (
        |  SELECT event_type, value,
        |    (us // 900000000) * 900000000 - k.o AS ws
        |  FROM e, (VALUES (CAST(0 AS BIGINT)),
        |                  (CAST(900000000 AS BIGINT))) k(o)
        |)
        |SELECT make_timestamp(ws) AS window_start,
        |  make_timestamp(ws + 1800000000) AS window_end,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value)
        |    AS avg_value
        |FROM w GROUP BY ws, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // pareto: the same sort-sweep in SQL — a distinct (x,y) survives
    // iff its y beats the running max over strictly-preceding rows in
    // (x DESC, y DESC) order; all compares exact (decimal, date)
    "a34_pareto" ->
      """WITH d AS (
        |  SELECT DISTINCT o_orderpriority, o_totalprice, o_orderdate
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |), s AS (
        |  SELECT o_orderpriority, o_totalprice, o_orderdate,
        |    max(o_orderdate) OVER (
        |      PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderdate DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |  FROM d
        |)
        |SELECT o_orderpriority, o_totalprice, o_orderdate
        |FROM s WHERE cm IS NULL OR o_orderdate > cm
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderdate""".stripMargin,
  )
}
