package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.exact_sum
import graft.operators.FrameCache
import graft.sources.{Sinks, Tables}

/** Relational / OLAP capability over the star schema: the engine
  * must serve classic analytical queries next to the reactive
  * algebra. Shapes follow the public TPC-H query set, adapted to the
  * columns present in the driver's synthetic tables.
  *
  * Scale design:
  *  - broadcast HINTS only on inputs whose size is bounded by
  *    construction: fixed-cardinality tables (region: 5 rows,
  *    nation: 25) and scalar/near-scalar aggregates. customer /
  *    supplier / part / orders GROW with SF, so their joins carry no
  *    hint — AQE broadcasts them at runtime while they measure small
  *    and falls back to shuffle joins when they don't (a forced
  *    broadcast of customer measured 15x at 10x rows, sf1→sf10);
  *  - fact-side predicates live in `filter` directly over the scan
  *    so Catalyst pushes them into parquet (PushedFilters);
  *  - money aggregates are exact integer sums of scaled cents
  *    ([[sumExact]]), returned as DecimalType: order-stable across
  *    any cluster size;
  *  - top-k uses orderBy+limit (TakeOrderedAndProject: per-partition
  *    heap + single driver merge, no global sort shuffle).
  */
object Relational {
  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** Exact sum of a scale-`sc` money measure, as DECIMAL(28,sc) —
    * the type `sum(CAST(x AS DECIMAL(18,sc)))` has, and the same value.
    *
    * Each row becomes its scaled integer through
    * [[graft.functions.Kernels.moneyScaled]], which keeps the decimal
    * cast's rounding anchor: the cast rounds the double's
    * shortest-decimal rendering (8.165 → 8.17), while a pure-double
    * `floor(x*10^sc+0.5)` sees 816.4999... and is NOT equivalent. The
    * kernel renders the same `Double.toString` and parses it straight
    * into a scaled long (no BigDecimal per row), NULLs NaN/Infinity
    * and out-of-range values (or throws under ANSI) as the cast does.
    * The longs are summed by [[graft.functions.GraftFunctions.exact_sum]]:
    * three 22-bit limbs per row, each a plain BIGINT sum, exact below
    * 2^41 rows per group, recombined once per group. A group total
    * past 2^63 stays exact; one beyond DECIMAL(28,sc) is NULL with
    * ANSI off and throws with ANSI on, as the reference sum does.
    * Round6Spec pins value, schema and per-row parity with the
    * DECIMAL cast, including the 8.165-class traps. Measured at
    * sf0.1, q1 took ~1.0 s with the per-row DECIMAL cast. With the
    * benchmark (sf0.1-sized tables, 4 cores), summing these longs as
    * BIGINT limbs instead of in a DECIMAL(20,0) buffer cut `setup_s`,
    * which runs q1 as its smoke query, from 0.77 to 0.55 s. */
  private[graft] def sumExact(c: org.apache.spark.sql.Column, sc: Int) =
    graft.functions.GraftFunctions.exact_sum(
      graft.functions.GraftFunctions.money_scaled(c, sc), DecimalType(28, sc))

  /** TPC-H Q1 shape: full-scan grouped aggregate with derived measures. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumExact(col("l_quantity"), 2).as("sum_qty"),
        sumExact(col("l_extendedprice"), 2).as("sum_base_price"),
        sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        (sumExact(col("l_quantity"), 2).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q6 shape: tight filters that must reach the parquet scan. */
  def q6Revenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sumExact(col("l_extendedprice") * col("l_discount"), 4)
        .as("revenue"))

  /** TPC-H Q3 shape: selective dims broadcast into the fact join, top-10. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-03-15").cast("timestamp")
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(cust,
        col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      // o_orderdate is TIMESTAMP_NTZ in the parquet; pin to UTC for epoch math
      .select(col("l_orderkey"),
        unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC"))
          .as("o_orderdate_ms"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  }

  /** TPC-H Q5 shape: star join with the local-supplier correlation. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
  }

  /** Semi + anti join: customers without orders (NOT EXISTS). */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val ordKeys = Tables.orders(s, dir).select("o_custkey")
    val withO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select(col("c_custkey"), lit(1).as("has_orders"))
    val withoutO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), lit(0).as("has_orders"))
    withO.unionByName(withoutO)
  }

  /** Window rank: top-3 parts by retail price per brand. */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice").desc, col("p_partkey"))))
      .filter(col("rn") <= 3)
      .select("p_brand", "rn", "p_partkey", "p_retailprice")

  /** Multi-level aggregate via ROLLUP. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sumExact(col("l_quantity"), 2).as("sum_qty"))

  /** CUBE aggregate over order dimensions. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sumExact(col("o_totalprice"), 2).as("sum_price"))

  /** Trailing 30-day moving average of order totals per customer: a
    * RANGE frame over epoch-day — value-based bounds, so the frame is
    * correct with gaps and ties, and the whole computation stays in
    * the one per-customer shuffle. */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val day = (unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC"))
      / lit(86400000L)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_day"))
      .rangeBetween(-29, 0)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), day.as("o_day"),
        col("o_totalprice"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_day"),
        count(lit(1)).over(w).as("n_30d"),
        (sum(dec2(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("avg_30d"))
  }

  /** Explicit GROUPING SETS (neither rollup nor cube): per-returnflag
    * totals and per-linestatus totals in ONE pass over the fact —
    * Spark expands the sets with a single Expand + one shuffle, vs
    * two scans for a UNION of groupBys. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumExact(col("l_quantity"), 2).as("sum_qty"))

  /** PIVOT: per-customer event... order-priority totals spread into
    * one column per priority (explicit value list so the output
    * schema is static — required for a deterministic plan and for
    * sane behavior at scale: no extra distinct-values job). */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(sumExact(col("o_totalprice"), 2))
      .select(col("o_orderstatus"),
        col("1-URGENT").cast("double").as("p1_urgent"),
        col("2-HIGH").cast("double").as("p2_high"),
        col("3-MEDIUM").cast("double").as("p3_medium"),
        col("4-NOT SPECIFIED").cast("double").as("p4_not_specified"),
        col("5-LOW").cast("double").as("p5_low"))

  /** TPC-H Q4 shape: correlated EXISTS with an inequality — orders
    * having at least one lineitem shipped >90 days after the order
    * date, counted by priority. Semi join keeps the probe side
    * unduplicated (no distinct needed). */
  def q4LateOrders(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    // EXISTS(l_shipdate > X) === max(l_shipdate) > X: pre-aggregate
    // the fact side map-side (6B rows -> one row per order at scale)
    // instead of semi-joining against the raw fact, which would
    // build/broadcast the big side.
    val lateBound = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(max("l_shipdate").as("max_ship"))
    ord.join(lateBound, col("l_orderkey") === col("o_orderkey"))
      .filter(col("max_ship") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Exact percentiles (continuous interpolation) per group — the
    * single-pass sort-based form; at very large scale swap for
    * approx_percentile (t-digest) at the caller's accuracy budget. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    // ONE percentile buffer for both quantiles: two scalar
    // percentile() aggs each maintained their own value→count map
    // over every fact row; the array form fills one map and reads
    // both order statistics from it — same interpolation code path,
    // bit-identical doubles (oracle-gated)
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p95"),
        col("n"))

  /** Incremental top-k maintenance — the mergeable-summary identity
    * a 100 TB serving layer lives on: the stored per-group top-k
    * (k-row state from the BASE corpus, even orderkeys here) merged
    * with the DELTA batch's own top-k re-ranks to EXACTLY the full
    * recompute, because insert-only top-k is max-monotone — the
    * true top-k of base ∪ delta is contained in topk(base) ∪
    * topk(delta). The gate is that equality: the engine emits the
    * merge-maintained result, the oracle recomputes from scratch.
    *
    * The base top-k is SERVED, not recomputed: it persists as a
    * bucketed state table ([[graft.sources.Sinks.bucketedTable]],
    * built once per corpus dir, re-attached when the location
    * already exists), so the gated plan's work on arrival is
    * O(delta + groups·k) for real — one delta scan plus a
    * groups·k-row state read, the base never re-scans or re-ranks.
    * Measured (warm, local[32], BENCH_SCALING_r09): arrival path
    * 0.82 s at sf10 vs 1.32 s for the in-query base recompute —
    * the saving is exactly the base-side rank window; the residual
    * cost is the DELTA scan, which this gate keeps at half the
    * corpus, so a real deployment (delta ≪ base) widens the gap
    * with corpus size while the arrival path stays flat.
    * Ties break on o_orderkey; price rides DECIMAL (exact). */
  def qIncrementalTopK(s: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    val o = Tables.orders(s, dir)
    def topk(src: DataFrame): DataFrame = src
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= k)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    // State-table name is keyed by (corpus fingerprint, k): the
    // mergeable-summary identity needs base top-k' with k' >= k, so
    // a caller passing a different k must NEVER reuse state built
    // under another k — encoding k in the name makes a mismatch
    // structurally impossible (it resolves to a different table).
    // The corpus half is an md5 of the orders file's (path, size,
    // mtime), not the dir string's 32-bit hashCode: regenerated data
    // under the same dir gets a fresh fingerprint and rebuilds, and
    // distinct dirs cannot collide.
    val src = new java.io.File(dir, "orders.parquet")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest((src.getCanonicalPath + ":" + src.length + ":" +
        src.lastModified).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val state = s"graft_topk_state_${fp}_k$k"
    if (!s.catalog.tableExists(state)) {
      // the in-memory catalog forgets tables across JVMs while the
      // warehouse directory persists: re-attach an existing state
      // location instead of rebuilding (or failing on the location)
      val loc = new java.io.File(java.net.URI.create(
        s.conf.get("spark.sql.warehouse.dir")).getPath, state)
      if (loc.exists())
        s.sql(s"CREATE TABLE $state USING parquet " +
          s"LOCATION '${loc.getAbsolutePath}'")
      else
        Sinks.bucketedTable(topk(o.filter(col("o_orderkey") % 2 === 0)),
          state, "o_orderpriority", 8)
    }
    val base = s.table(state)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    val delta = topk(o.filter(col("o_orderkey") % 2 === 1))
    base.unionByName(delta)
      .withColumn("rank", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rank") <= k)
      .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
  }

  /** Group-wise max (correlated-subquery shape done with a window). */
  def qGroupwiseMax(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("s_nationkey")
          .orderBy(col("s_acctbal").desc, col("s_suppkey"))))
      .filter(col("rn") === 1)
      .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")

  /** TPC-H Q7 shape: bilateral trade volume between two nations per
    * year. Supplier/customer sides pre-filtered to the two nations
    * before broadcasting; lineitem⋈orders stays a fact-fact shuffle
    * join on the order key (the only non-broadcast join — correct at
    * any scale; bucket both facts on the order key for a co-located
    * deploy). */
  def q7VolumeShipping(s: SparkSession, dir: String,
                       nationA: String = "NATION_1",
                       nationB: String = "NATION_2"): DataFrame = {
    val nat = Tables.nation(s, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
  }

  /** TPC-H Q8 shape: one nation's market share of a region's order
    * revenue per year. Share = exact-decimal conditional sum over
    * exact-decimal total, divided as doubles (order-independent). */
  def q8MarketShare(s: SparkSession, dir: String,
                    shareNation: String = "NATION_3",
                    region: String = "ASIA"): DataFrame = {
    val custNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(s, dir)
      .join(broadcast(custNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    // conditional money sums ride sumExact too: when() evaluates in
    // DOUBLE and the 0.0 arm scales to an exact 0 — term-for-term the
    // same values the decimal CASE summed (Round6Spec parity kernel)
    val volumeD = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val natVol = when(col("supp_nation") === shareNation, volumeD)
      .otherwise(lit(0.0))
    // lineitem⋈orders is fact-fact: shuffle join on the order key
    // (AQE broadcasts at small SF; bucketing co-locates it on a cluster)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sumExact(natVol, 4).cast("double").as("nation_revenue"),
        sumExact(volumeD, 4).cast("double").as("total_revenue"),
        (sumExact(natVol, 4).cast("double") /
          sumExact(volumeD, 4).cast("double")).as("mkt_share"))
  }

  /** TPC-H Q9 shape: profit by supplier nation and year. Cost model
    * adapted to the available columns (no partsupp table in this
    * schema): cost = 0.5 * p_retailprice * l_quantity. */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
      .select("p_partkey", "p_retailprice")
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "n_name")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.5), 4)
        .as("sum_profit"))
  }

  /** TPC-H Q10 shape: top customers by revenue lost to returns. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      // sort the DOUBLE representation: the DuckDB oracle orders by the
      // double-cast alias, and two revenues distinct in decimal but
      // equal after rounding would tie-break differently at the LIMIT
      .withColumn("revenue", col("revenue").cast("double"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12 shape (no shipmode column in this schema): per
    * linestatus, how many shipped lines belong to critical- vs
    * normal-priority orders. Fact-fact join + conditional counts. */
  def q12PriorityShare(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linestatus")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0)).cast("long").as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
          .otherwise(1)).cast("long").as("low_line_count"))
  }

  /** TPC-H Q14 shape: promo revenue share for one ship month. */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir).select("p_partkey", "p_type")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    // see q8MarketShare: conditional sums through the scaled kernel
    val volumeD = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val promoVol = when(col("p_type") === "PROMO", volumeD)
      .otherwise(lit(0.0))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        sumExact(promoVol, 4).cast("double").as("promo_revenue"),
        sumExact(volumeD, 4).cast("double").as("total_revenue"),
        (lit(100.0) * sumExact(promoVol, 4).cast("double") /
          sumExact(volumeD, 4).cast("double")).as("promo_pct"))
  }

  /** TPC-H Q18 shape: large-volume orders (HAVING over a fact
    * pre-aggregation, then enrich). The lineitem aggregate runs
    * map-side first, so the join probe is one row per qualifying
    * order, not the raw fact.
    *
    * customer carries NO broadcast hint on purpose: it is a dim that
    * GROWS with SF (TPC-H customer = 150k x SF), and the forced
    * broadcast measured 15x at 10x rows from sf1 to sf10 (driver
    * builds a multi-million-entry hash relation AQE is not allowed
    * to demote). The HAVING side is tiny, so AQE broadcasts THAT
    * side instead when it measures small — the direction that stays
    * bounded at any scale. */
  def q18LargeOrders(s: SparkSession, dir: String,
                     minQty: Double = 300.0): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sumExact(col("l_quantity"), 2).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC"))
          .as("o_orderdate_ms"),
        col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19 shape: disjunction of brand/size/quantity bands — one
    * broadcast join, whole predicate evaluated post-join (Catalyst
    * extracts the common l_quantity bounds for scan pushdown). */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40)))
      .agg(
        sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q13 shape: distribution of order counts per customer
    * (left join so zero-order customers land in bucket 0), with a
    * priority exclusion standing in for Q13's comment filter. */
  def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    * revenue — pre-agg per supplier, scalar-subquery max, equi-filter.
    * Exact decimal revenue makes the max comparison bit-stable. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("total_revenue"))
    val maxRev = rev.agg(max("total_revenue").as("max_revenue"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
  }

  /** TPC-H Q16 shape: how many distinct suppliers serve each
    * (brand, type, size) bucket. No partsupp table in this schema —
    * the part-supplier relation is derived from lineitem's
    * (l_partkey, l_suppkey) pairs (distinct before the dim join);
    * suppliers in deficit (s_acctbal < 0) are excluded by anti join,
    * standing in for Q16's complaints filter. */
  def q16SupplierCounts(s: SparkSession, dir: String): DataFrame = {
    // no (l_partkey, l_suppkey) pre-distinct: countDistinct dedups
    // inside the final agg, so the only shuffle is on the ~15% of
    // lineitem that survives the broadcast part filter — the full-fact
    // distinct would shuffle everything before pruning anything
    val ps = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#5" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    ps.join(parts, col("l_partkey") === col("p_partkey"))
      .join(badSupp, col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  /** TPC-H Q17 shape: revenue impact of small-quantity lines — the
    * correlated per-part average done as a brand-restricted pre-agg
    * re-joined to the same restricted fact (two passes over the
    * narrowed fact, never the raw one). */
  def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir).filter(col("p_brand") === "Brand#4")
      .select("p_partkey")
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(parts, col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy("p_partkey")
      .agg((sumExact(col("l_quantity"), 2).cast("double") / count(lit(1)))
        .as("avg_qty"))
    li.join(avgQty, Seq("p_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sumExact(col("l_extendedprice"), 2).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** TPC-H Q22 shape: idle high-balance customers — scalar-subquery
    * average (exact decimal mean) + anti join against orders. */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sumExact(col("c_acctbal"), 2).cast("double") / count(lit(1)))
        .as("avg_bal"))
    val ordKeys = Tables.orders(s, dir).select("o_custkey")
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sumExact(col("c_acctbal"), 2).cast("double").as("total_bal"))
  }

  /** TPC-H Q21 shape: suppliers who kept finished orders waiting —
    * the canonical EXISTS / NOT-EXISTS pair ("another supplier is on
    * the order" / "no OTHER supplier was late"), adapted to this
    * schema's dates (late = shipped > 60 days after the order date;
    * there is no receipt/commit date pair).
    *
    * The textbook form is two lineitem self-joins; at 100 TB that is
    * two extra fact shuffles. Here the fact is joined and aggregated
    * ONCE: collapse to (order, supplier) keeping the supplier's
    * late-line count, then collapse again per order — both levels are
    * hash aggregates on the join's own l_orderkey partitioning (the
    * second reuses it, so the fact shuffles exactly once and nothing
    * is ever sorted). A qualifying order has >= 2 suppliers and
    * EXACTLY 1 late one, so `max(when(supp_late, ...))` recovers that
    * single supplier and its late-line count losslessly at the
    * per-order level; summing those counts per supplier reproduces
    * the textbook per-line count. Two earlier forms measured worse at
    * sf10: agg + re-join-onto-the-fact executed the fact SMJ twice
    * (exchange reuse does not dedupe the join itself; 13x at 10x
    * rows), and a window over the collapsed set added a ~fact-sized
    * Sort this double-agg avoids. */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    // map-side partial agg collapses the fact to (order, supplier)
    val perSupp = l.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("supp_late"),
        count(when(col("late"), lit(1))).as("n_late_lines"))
    perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        count(when(col("supp_late"), lit(1))).as("n_late_supp"),
        max(when(col("supp_late"), col("l_suppkey"))).as("late_suppkey"),
        max(when(col("supp_late"), col("n_late_lines"))).as("late_lines"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("late_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q2 shape: the supplier(s) achieving the minimum unit cost
    * per qualifying part — the correlated-min subquery. The partsupp
    * relation (absent from this schema) is derived from lineitem's
    * (part, supplier) pairs with min observed unit cost; the
    * correlated min is a pre-agg re-joined by equality (no per-row
    * subquery execution). min is a SELECTION, not a sum, so the
    * double compares bit-identically across engines. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir).filter(col("p_size") <= 5)
      .select("p_partkey")
    // part filter BEFORE the pair aggregation: only qualifying parts'
    // lines ever shuffle (q16/q17 pattern); the per-part min is a
    // window over the already-aggregated pairs, not a second agg+join
    val ps = Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    ps.withColumn("min_cost", min(col("unit_cost")).over(
        Window.partitionBy("p_partkey")))
      .filter(col("unit_cost") === col("min_cost"))
      .join(Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_acctbal"),
        col("l_suppkey") === col("s_suppkey"))
      .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "unit_cost")
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11 shape: parts whose revenue exceeds a fraction of the
    * global total — grouped agg + broadcast scalar subquery, exact
    * decimal sums on both levels. */
  def q11ImportantParts(s: SparkSession, dir: String,
                        fraction: Double = 0.0008): DataFrame = {
    val line = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
    val rev = line.groupBy("l_partkey")
      .agg(sum(col("v")).cast("double").as("part_rev"))
    val tot = line.agg(sum(col("v")).cast("double").as("total_rev"))
    rev.join(broadcast(tot))
      .filter(col("part_rev") > lit(fraction) * col("total_rev"))
      .select(col("l_partkey").as("p_partkey"), col("part_rev"))
      .orderBy(col("part_rev").desc, col("p_partkey"))
  }

  /** TPC-H Q20 shape: suppliers with a significant shipped share of
    * any qualifying part — the nested IN subquery with grouped
    * HAVING, compiled to a pre-agg + left-semi join (the fact
    * aggregates once; no correlated re-execution). */
  def q20ProlificSuppliers(s: SparkSession, dir: String,
                           minQty: Double = 80.0): DataFrame = {
    val qualifying = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_size") <= 10)
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sumExact(col("l_quantity"), 2).as("sq"))
      .filter(col("sq") > minQty)
      .select("l_suppkey")
    Tables.supplier(s, dir).select("s_suppkey", "s_name")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .orderBy("s_suppkey")
  }

  /** Analytic window-function suite over orders: lag / lead / ntile /
    * percent_rank / cume_dist per customer in order-date order. One
    * shuffle on o_custkey serves every function (a single WindowExec);
    * the (date, orderkey) sort key is unique, so ranks — and the
    * rank-derived percent_rank/cume_dist doubles — are deterministic
    * on any cluster. */
  def qWindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC")),
        col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      lag("o_totalprice", 1).over(w).as("prev_price"),
      lead("o_totalprice", 1).over(w).as("next_price"),
      row_number().over(w).cast("long").as("rn"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cdist"))
  }

  /** Table profiling (the ANALYZE/stats pass): per-column row count,
    * null count, exact distinct count. One column-pruned scan per
    * column — at parquet the per-column passes read disjoint byte
    * ranges, so total IO equals one full scan — unioned into a stats
    * table. At 100 TB the exact countDistinct swaps for
    * approx_count_distinct (graft.operators.Sketches): one shared
    * pass, fixed sketch state, same output shape. */
  def profileTable(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
      "l_shipdate").map { c =>
      li.agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_null"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    }.reduce(_ unionByName _)
  }

  /** Equi-depth (decile) histogram of order values: bucket edges are
    * exact DISCRETE order statistics (value AT rank k·n div 10),
    * found with a two-level distributed rank — never a single-task
    * global window, which would be a total order through one task at
    * any SF. The 9-row edge array broadcasts; bucketing is a narrow
    * map. At the 100 TB budget the exact edges swap for
    * approx_percentile (t-digest), same plan shape (the q_percentiles
    * tradeoff). */
  def qEquiDepth(s: SparkSession, dir: String): DataFrame = {
    // DISCRETE order statistics, not interpolated percentiles: the
    // r8 sampled-sf10 sweep caught Spark percentile() and DuckDB
    // quantile_cont() interpolating the 0.8/0.9 cut one ulp-class
    // apart at n≈1M (449769.31 vs 449768.33), shifting ~5 boundary
    // rows — CONT interpolation is not an engine-stable contract at
    // scale. The value AT rank k·n div 10 is: it is a member of the
    // multiset, independent of tie order, and both engines pick it
    // with identical integer arithmetic. The rank is the
    // [[Sampling.shuffleShard]] two-level construction (range
    // repartition + in-partition sort + zipWithIndex offset
    // composition), NOT a single-task row_number() window — the
    // orders table grows with SF, so a global WindowExec here is a
    // scale cliff (every row through one task); production swaps in
    // the mergeable quantile sketch (`sketch_quantiles`) when
    // approximate edges are acceptable.
    val o = Tables.orders(s, dir).select("o_totalprice")
    val sorted = o.repartitionByRange(32, col("o_totalprice"))
      .sortWithinPartitions("o_totalprice")
    val ranked = s.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row(row.getDouble(0), idx + 1L) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(
          "r", org.apache.spark.sql.types.LongType))))
    val edges = ranked
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
      .filter((1 to 9).map(k => col("r") === expr(s"n * $k div 10"))
        .reduce(_ || _))
      .agg(array_sort(collect_list("o_totalprice")).as("edges"))
    o.crossJoin(broadcast(edges))
      .select(col("o_totalprice"),
        (size(filter(col("edges"), e => e < col("o_totalprice"))) + 1)
          .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"))
  }

  /** Equi-WIDTH histogram — the profiling twin of [[qEquiDepth]]:
    * fixed-width buckets over the [min, max] range (depth varies,
    * width constant). Two-pass shape: the (min, max) pair broadcasts
    * back over one partial-aggregable scan; bucketing is a fixed
    * IEEE sequence ((x−lo)·nb)/(hi−lo) floored, identical across
    * engines, with the x = max edge clamped into the last bucket.
    * Unlike equi-depth there is no percentile pass — this is the
    * O(1)-memory histogram a profiler runs first. */
  def qEquiWidth(s: SparkSession, dir: String, nb: Int = 10): DataFrame = {
    val o = Tables.orders(s, dir).select("o_totalprice")
    val stats = o.agg(min("o_totalprice").as("lo"),
      max("o_totalprice").as("hi"))
    o.crossJoin(broadcast(stats))
      .select(col("o_totalprice"),
        least(lit(nb - 1).cast("long"),
          floor((col("o_totalprice") - col("lo")) * nb /
            (col("hi") - col("lo")))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("b_min"),
        max("o_totalprice").as("b_max"))
  }

  /** Tukey-fence outlier audit per order priority: exact DISCRETE
    * quartiles (value AT rank n·k div 4 — the q_equidepth
    * engine-stable order-statistic contract) on integer cents, IQR
    * fences at ±1.5·IQR via integer (3·iqr) div 2, and the per-group
    * outlier counts both sides — the box-plot numbers a data-quality
    * dashboard draws. The rank windows are GROUP-partitioned, which
    * with few groups still funnels each group through one task (the
    * q_percentiles tradeoff, stated there too): this is the exact
    * AUDIT tool; at the 100 TB budget swap the quartiles for
    * approx_percentile (t-digest, fully partial-aggregable) — the
    * fences and counts below are unchanged. The quartile frame
    * (|groups| rows) broadcasts back. */
  def qTukeyOutliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val byP = Window.partitionBy("o_orderpriority")
    val ranked = o
      .withColumn("r", row_number().over(byP.orderBy("cents")))
      .withColumn("n", count(lit(1)).over(byP))
    val quarts = ranked
      .filter(col("r") === expr("greatest(1L, n div 4)") ||
        col("r") === expr("greatest(1L, (3 * n) div 4)"))
      .groupBy("o_orderpriority")
      .agg(min("cents").as("q1"), max("cents").as("q3"))
      .select(col("o_orderpriority"), col("q1"), col("q3"),
        expr("q1 - (3 * (q3 - q1)) div 2").as("lo"),
        expr("q3 + (3 * (q3 - q1)) div 2").as("hi"))
    o.join(broadcast(quarts), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        max("q1").as("q1_cents"), max("q3").as("q3_cents"),
        coalesce(sum(when(col("cents") < col("lo"), 1L)), lit(0L))
          .as("n_low"),
        coalesce(sum(when(col("cents") > col("hi"), 1L)), lit(0L))
          .as("n_high"))
  }

  /** 2-D equi-width histogram (quantity × extended price) — the
    * heatmap/profile twin of [[qEquiWidth]]: both axes' edges come
    * from one broadcast min/max row, bucketing is a narrow map, and
    * the nb² cells aggregate with map-side combine. Revenue per cell
    * rides DECIMAL→exact cents. The correlation structure this
    * surfaces (price tracks quantity?) is what a cost-based
    * optimizer's 2-D stats need and the 1-D histograms can't see. */
  def qEquiWidth2D(s: SparkSession, dir: String, nb: Int = 10)
      : DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_quantity", "l_extendedprice")
    val stats = li.agg(
      min("l_quantity").as("qlo"), max("l_quantity").as("qhi"),
      min("l_extendedprice").as("plo"), max("l_extendedprice").as("phi"))
    li.crossJoin(broadcast(stats))
      .select(
        least(lit(nb - 1).cast("long"),
          floor((col("l_quantity") - col("qlo")) * nb /
            (col("qhi") - col("qlo")))).as("q_bucket"),
        least(lit(nb - 1).cast("long"),
          floor((col("l_extendedprice") - col("plo")) * nb /
            (col("phi") - col("plo")))).as("p_bucket"),
        col("l_extendedprice"))
      .groupBy("q_bucket", "p_bucket")
      .agg(count(lit(1)).as("n"),
        (sumExact(col("l_extendedprice"), 2) * 100)
          .cast("long").as("cents"))
  }

  /** Data-quality audit: referential integrity, key uniqueness, and
    * range invariants as ONE result table (check_name, n_violations) —
    * the pre-ingest gate a production pipeline runs before publishing
    * a snapshot. Per-table range checks share a single conditional-
    * aggregate scan (no pass per rule); FK orphan checks are LEFT ANTI
    * joins (shuffle on the key at scale, broadcast when the parent
    * side is small — exactly the join the query itself would run, so
    * the audit costs what one query costs); uniqueness = sum of
    * (multiplicity - 1) over grouped keys, partial-aggregable. */
  def dqCheck(lineitem: DataFrame, orders: DataFrame,
              customer: DataFrame): DataFrame = {
    def asRow(name: String, agg: DataFrame) =
      agg.select(lit(name).as("check_name"),
        coalesce(col("n"), lit(0L)).as("n_violations"))
    val ordersFk = asRow("orders_fk_customer",
      orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")))
    val lineitemFk = asRow("lineitem_fk_orders",
      lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")))
    // one shared scan for every lineitem range rule: aggregate once,
    // unpivot the single row with stack (two result branches off the
    // same frame would re-run the scan — exchange reuse dedupes
    // shuffles, not the jobs above them)
    val liRanges = lineitem.agg(
      sum(when(col("l_quantity") <= 0.0 || col("l_quantity") > 50.0,
        1L).otherwise(0L)).as("qty"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1,
        1L).otherwise(0L)).as("disc"))
      .select(expr("stack(2, 'lineitem_qty_range', qty, " +
        "'lineitem_discount_range', disc) AS (check_name, n_violations)"))
    val liDup = asRow("lineitem_pk_unique",
      lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("cnt"))
        .agg(sum(when(col("cnt") > 1L, col("cnt") - 1L)
          .otherwise(0L)).as("n")))
    val ordDup = asRow("orders_pk_unique",
      orders.groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
        .agg(sum(when(col("cnt") > 1L, col("cnt") - 1L)
          .otherwise(0L)).as("n")))
    val ordTotal = asRow("orders_positive_total",
      orders.agg(sum(when(col("o_totalprice") <= 0.0, 1L)
        .otherwise(0L)).as("n")))
    ordersFk.unionAll(lineitemFk).unionAll(liRanges)
      .unionAll(liDup).unionAll(ordDup).unionAll(ordTotal)
  }

  /** Top growth products: parts ranked by revenue growth between the
    * two halves of the order history — the merchandising "what's
    * taking off" report. Growth is the exact integer ppm ratio
    * through DECIMAL(38,0) with a minimum first-half support (a part
    * that sold one unit then two is not a 100% grower worth a rank);
    * conditional sums produce both halves in ONE part-keyed rollup of
    * the fact join (no second scan, no self-join), and the top-k is
    * distributed TakeOrdered — never a global sort. */
  def qTopGrowthProducts(s: SparkSession, dir: String, k: Int = 50,
                         minCents: Long = 100000L): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        graft.functions.GraftFunctions.money_scaled(col("l_extendedprice"), 2).as("cents"))
    val mid = li.agg(expr("(min(ms) + max(ms)) div 2").as("mid_ms"))
    li.crossJoin(broadcast(mid))
      .groupBy("l_partkey")
      .agg(sum(when(col("ms") < col("mid_ms"), col("cents"))
        .otherwise(0L)).as("r1"),
        sum(when(col("ms") >= col("mid_ms"), col("cents"))
          .otherwise(0L)).as("r2"))
      .filter(col("r1") >= minCents)
      .withColumn("growth_ppm",
        expr("CAST(r2 - r1 AS DECIMAL(38,0)) * 1000000 div r1"))
      .orderBy(col("growth_ppm").desc, col("l_partkey")).limit(k)
  }

  /** Customer segment migration: revenue-quartile segment in the
    * first vs second half of the order history, crossed into a
    * transition matrix — the "are my best customers churning"
    * report behind every retention program (RFM gives a snapshot;
    * the migration matrix shows the FLOW, including entries and
    * exits as segment 0). Per-half quartile cuts use the same
    * broadcast quantile_cont contract as [[qRfm]] (cuts computed
    * once on exact cents, comparisons in identical doubles); the
    * full-outer join restores customers absent from one half; the
    * 5×5 matrix is a count-only rollup. */
  def qCustomerMigration(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        graft.functions.GraftFunctions.money_scaled(col("o_totalprice"), 2).as("cents"))
    val mid = ord.agg(expr("(min(ms) + max(ms)) div 2").as("mid_ms"))
    val halves = ord.crossJoin(broadcast(mid))
      .select(col("o_custkey"),
        when(col("ms") < col("mid_ms"), 1L).otherwise(2L).as("half"),
        col("cents"))
      .groupBy("o_custkey", "half").agg(sum("cents").as("cents"))
    val cuts = halves.groupBy("half").agg(
      expr("percentile(CAST(cents AS DOUBLE), 0.25)").as("q1"),
      expr("percentile(CAST(cents AS DOUBLE), 0.5)").as("q2"),
      expr("percentile(CAST(cents AS DOUBLE), 0.75)").as("q3"))
    val seg = halves.join(broadcast(cuts), Seq("half"))
      .select(col("o_custkey"), col("half"),
        (lit(1L) +
          when(col("cents") > col("q1"), 1L).otherwise(0L) +
          when(col("cents") > col("q2"), 1L).otherwise(0L) +
          when(col("cents") > col("q3"), 1L).otherwise(0L)).as("seg"))
    val h1 = seg.filter(col("half") === 1)
      .select(col("o_custkey"), col("seg").as("seg_h1"))
    val h2 = seg.filter(col("half") === 2)
      .select(col("o_custkey"), col("seg").as("seg_h2"))
    h1.join(h2, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("seg_h1"), lit(0L)).as("seg_h1"),
        coalesce(col("seg_h2"), lit(0L)).as("seg_h2"))
      .groupBy("seg_h1", "seg_h2")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** ABC / Pareto revenue classification: customers bucketed A/B/C
    * by whether they sit inside the top 70% / 90% of cumulative
    * revenue — the "how concentrated is my revenue" report. The
    * global cumulative sum over revenue-desc order is built WITHOUT
    * a single-task window (the classic trap a 100 TB global cumsum
    * cannot survive): range-repartition the per-customer frame on
    * the total order (cents desc, custkey), per-partition prefix
    * sums run in parallel, and the 32-row per-partition totals frame
    * alone rides a driver-size window to produce the offsets each
    * partition adds back via broadcast — the two-level prefix-sum
    * identity holds for ANY contiguous range partitioning, so the
    * classification is partitioning-independent. Threshold tests and
    * shares are exact integer cross-multiplications through
    * DECIMAL(38,0) (cum·100 overflows BIGINT at warehouse scale). */
  def qAbcPareto(s: SparkSession, dir: String, parts: Int = 32)
      : DataFrame = {
    val r = Tables.orders(s, dir)
      .select(col("o_custkey"),
        graft.functions.GraftFunctions.money_scaled(col("o_totalprice"), 2).as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val parted = r
      .repartitionByRange(parts, col("cents").desc, col("o_custkey"))
      .withColumn("pid", spark_partition_id())
    val offsets = parted.groupBy("pid").agg(sum("cents").as("ptot"))
      .withColumn("offset", coalesce(sum("ptot").over(
        Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val tot = r.agg(sum("cents").as("tot"))
    parted.join(broadcast(offsets), "pid")
      .withColumn("local_cum_before", coalesce(sum("cents").over(
        Window.partitionBy("pid")
          .orderBy(col("cents").desc, col("o_custkey"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_before", col("offset") + col("local_cum_before"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(expr("CAST(cum_before AS DECIMAL(38,0)) * 100 " +
          "< 70 * CAST(tot AS DECIMAL(38,0))"), "A")
          .when(expr("CAST(cum_before AS DECIMAL(38,0)) * 100 " +
            "< 90 * CAST(tot AS DECIMAL(38,0))"), "B")
          .otherwise("C"))
      .groupBy("abc_class", "tot")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("revenue_cents"))
      .select(col("abc_class"), col("n_customers"), col("revenue_cents"),
        expr("CAST(revenue_cents AS DECIMAL(38,0)) * 1000000 div tot")
          .as("share_ppm"))
  }

  /** Order-to-ship latency distribution: days from order placement
    * to line-item shipment, bucketed to calendar weeks — the
    * fulfillment-SLA histogram. The fact join is the q12 shape
    * (orders broadcast-able, runtime-filterable); everything after
    * is a two-level count rollup on a single small integer key, so
    * the histogram costs one scan + one tiny exchange. Latency is
    * exact integer day arithmetic; negative buckets are kept —
    * ship-before-order rows are a data-quality finding this
    * histogram should SURFACE, not hide (both engines' integer
    * division truncates toward zero, so the negative tail buckets
    * identically). */
  def qLatencyHist(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      // dates read as TIMESTAMP_NTZ; cast to session-TZ timestamp
      // (UTC session ⇒ value-identical) for unix_millis
      .select((unix_millis(col("l_shipdate").cast("timestamp")) -
        unix_millis(col("o_orderdate").cast("timestamp"))).as("lat_ms"))
      .select(expr("lat_ms div 86400000 div 7").as("week_bucket"))
      .groupBy("week_bucket").agg(count(lit(1)).as("n_items"))

  /** Benford first-digit audit — the classic synthetic-data /
    * fabrication smell test: naturally-grown monetary amounts follow
    * log10(1+1/d) first-digit frequencies; uniform or hand-made
    * numbers don't. One scan collapses to 9 digit-count rows at the
    * single partial-aggregable groupBy (the first digit is a narrow
    * string op on exact cents — no log, no float); expected shares
    * are the fixed floor(1e6·log10(1+1/d)) ppm constants compiled
    * into BOTH engines as literals, so the whole audit stays inside
    * exact integer arithmetic. The 9-row total rides a broadcast —
    * nothing but digit counts ever shuffles. */
  def benfordAudit(lineitem: DataFrame): DataFrame = {
    val expectedPpm = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val counts = lineitem
      .select(graft.functions.GraftFunctions.money_scaled(col("l_extendedprice"), 2).as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum("n").as("total"))))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div total").as("observed_ppm"),
        element_at(typedLit(expectedPpm), col("digit").cast("int"))
          .as("expected_ppm"))
      .withColumn("dev_ppm",
        abs(col("observed_ppm") - col("expected_ppm")))
  }

  /** UNPIVOT (melt) — the inverse of [[qPivot]]: wide per-flag
    * measure sums to long (l_returnflag, measure, value) rows via
    * `stack`, a narrow generator on the already-aggregated frame
    * (4 result rows per group row; the expensive part stays the ONE
    * partial-aggregable scan-agg below it — never unpivot the fact
    * first, which would quadruple the shuffle for identical sums). */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(sumExact(col("l_quantity"), 2).cast("double").as("qty"),
        sumExact(col("l_extendedprice"), 2).cast("double").as("price"),
        sumExact(col("l_discount"), 2).cast("double").as("disc"),
        sumExact(col("l_tax"), 2).cast("double").as("tax"))
      .select(col("l_returnflag"), expr(
        "stack(4, 'quantity', qty, 'extendedprice', price, " +
          "'discount', disc, 'tax', tax) AS (measure, total)"))

  /** One-pass Pearson correlation matrix over lineitem's numeric
    * measures — the profiling query behind feature selection. All
    * C(4,2)=6 pairs come from ONE scan: per-column sums/squares and
    * per-pair cross-products accumulate as exact decimals in a
    * single partial-aggregable agg (a per-pair `corr()` would be 6
    * scans of partitioning-dependent float summation), then each
    * Pearson identity is a fixed IEEE sequence on exact inputs —
    * bit-stable at any cluster size, same contract as
    * `Reactive.rxTrendCorrelation`. */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, dir)
    // quantize each measure ONCE to exact BIGINT cents (all four are
    // ≤2-decimal by schema); every moment is then an integer product
    // summed exactly by exact_sum. Measured: the previous per-row
    // double-product → DECIMAL(28,4) conversions (9 per row) made
    // this the suite's slowest query at 3.2 s — integer products cut
    // it ~4×. Pearson is scale-invariant, so the ×100 cancels.
    val cents = li.select(cols.map(c =>
      (dec2(col(c)) * 100).cast("long").as(c)): _*)
    val moments =
      Seq(count(lit(1)).as("n")) ++
        cols.map(c => exact_sum(col(c)).cast("double").as(s"s_$c")) ++
        cols.map(c =>
          exact_sum(col(c) * col(c)).cast("double").as(s"ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          exact_sum(col(a) * col(b)).cast("double")
            .as(s"sp_${a}_$b") }.toSeq
    val m = cents.agg(moments.head, moments.tail: _*)
    val pairRows = cols.combinations(2).map { case Seq(a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        ((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
            sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))))
          .as("pearson_r"))
    }.toSeq
    m.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.pearson_r"))
  }

  /** Period-over-period growth: monthly revenue with previous-month
    * delta and growth rate — the dashboard staple. Revenue
    * accumulates as exact DECIMAL cents (BIGINT after the agg) and
    * growth is an exact ppm integer ratio, so no row can flip
    * between engines. The lag window runs over the MONTH frame —
    * bounded by the calendar (#months), not by data size — which is
    * the one place a global-order window is legitimate; the
    * expensive part stays the ONE partial-aggregable scan-agg. */
  def qPeriodGrowth(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).cast("long").as("ym"))
      .agg((sumExact(col("o_totalprice"), 2) * 100).cast("long")
        .as("rev_cents"))
    monthly
      .withColumn("prev_cents",
        lag("rev_cents", 1).over(Window.orderBy("ym")))
      .withColumn("growth_ppm",
        expr("((rev_cents - prev_cents) * 1000000L) div prev_cents"))
  }

  /** 2-D skyline (Pareto frontier): parts no other part beats on
    * BOTH objectives — cheaper-or-equal price AND larger-or-equal
    * size, strictly better in at least one. The multi-objective
    * shortlist query (price/quality trade-off curves).
    *
    * Scale shape — the textbook formulations both die at 100 TB:
    * the NOT-EXISTS self-join is O(n²), and the single `ORDER BY
    * price` running-max window is one task holding every distinct
    * price. Instead: (1) per-price champions (groupBy, partial-agg);
    * (2) champions range-repartition by price, and the running
    * strict-prefix max of size decomposes into an in-partition
    * window plus a per-partition-maxima prefix (the maxima frame is
    * ≤ one row per partition — driver-size by construction, so ITS
    * window is trivially cheap); (3) frontier (price,size) pairs
    * join back to the fact broadcast — the frontier is strictly
    * increasing in size, so it can never exceed |distinct sizes|
    * rows. No step touches more than one full-table scan + one
    * champion-only exchange. */
  def qSkyline(s: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    val part = Tables.part(s, dir)
    val champ = part.groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("best_size"))
      .repartitionByRange(parts, col("price"))
      .withColumn("pid", spark_partition_id())
    val inPart = Window.partitionBy("pid").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, -1)
    val acrossParts = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketPrefix = champ.groupBy("pid")
      .agg(max(col("best_size")).as("bucket_max"))
      .withColumn("prefix_max", max(col("bucket_max")).over(acrossParts))
      .select("pid", "prefix_max")
    val frontier = champ
      .withColumn("run_max", max(col("best_size")).over(inPart))
      .join(broadcast(bucketPrefix), "pid")
      // greatest() skips nulls; both-null means "first champion
      // ever seen" — nothing can dominate it, so floor at MinValue
      .filter(col("best_size") >
        coalesce(greatest(col("run_max"), col("prefix_max")),
          lit(Int.MinValue)))
      .select(col("price"), col("best_size"))
    part.join(broadcast(frontier),
        part("p_retailprice") === frontier("price") &&
          part("p_size") === frontier("best_size"))
      .select("p_partkey", "p_retailprice", "p_size")
  }

  /** The per-order basket collapse shared by [[qBasketPairs]] and
    * [[qBasketRules]] — a pure function of (dataset, basketCap), and
    * the dominant cost of BOTH keys (the fact groupBy + collect_set).
    * FrameCache'd per the r12 family-sharing contract: a deployment
    * materializes the basket table once and runs pair mining and
    * rule scoring against it. ~|orders| rows of ≤basketCap ids. */
  private def basketSets(s: SparkSession, dir: String,
                         basketCap: Int): DataFrame = {
    val li = Tables.lineitem(s, dir)
    FrameCache.cached(s,
      s"bsk:${FrameCache.planKey(li)}:$basketCap") {
      li.select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(slice(array_sort(collect_set(col("l_partkey"))), 1, basketCap)
          .as("items"))
        .localCheckpoint()
    }
  }

  /** Market-basket pair mining (the support-counting round of
    * frequent-itemset/association-rule mining): parts co-ordered in
    * the same order, top-k pairs by support. Grouped emission, not
    * the textbook self-join: per-order DISTINCT item sets collapse
    * on the orderkey shuffle FIRST, pairs are generated narrowly
    * from each (sorted, capped) set, and only (p1,p2) count keys —
    * partial-aggregated — ride the second exchange. The self-join
    * form shuffles the fact twice and materializes the same pairs as
    * join output rows; grouped emission bounds the blowup at
    * C(cap,2) per order (TPC-H baskets hold ≤7 distinct parts; the
    * cap guards adversarial baskets the same way ngramJaccardCapped
    * caps posting lists). */
  def qBasketPairs(s: SparkSession, dir: String, k: Int = 100,
                   basketCap: Int = 64): DataFrame =
    qBasketPairsFrom(basketSets(s, dir, basketCap), k)

  /** [[qBasketPairs]] over a pre-built (l_orderkey, items) basket
    * frame — the shared-scan entry [[qBasketRules]] uses so the
    * basket collapse runs once per rules query, not twice. */
  def qBasketPairsFrom(sets0: DataFrame, k: Int): DataFrame = {
    val sets = sets0.filter(size(col("items")) >= 2)
    sets
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), " +
          "y -> struct(x AS p1, y AS p2))))")).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2")).limit(k)
  }

  /** Association rules from the basket pairs: for the top-k pairs by
    * support, both directed rules a→b with confidence
    * (support(a,b)/support(a)) and lift
    * (N·support(a,b)/(support(a)·support(b))) in exact integral ppm.
    * Item supports are a second partial-aggregable rollup of the SAME
    * per-order item sets; the rule join probes it with 2k rows (the
    * top-k cut runs BEFORE the metric join — the text_collocations
    * ordering). Lift numerator rides DECIMAL(38,0): N×support
    * overflows BIGINT×1e6 at corpus scale. */
  def qBasketRules(s: SparkSession, dir: String, k: Int = 50,
                   basketCap: Int = 64): DataFrame = {
    // ONE basket collapse — the FrameCache-shared [[basketSets]] (it
    // feeds the pair top-k, the item supports AND the basket count,
    // and is the same frame qBasketPairs mines)
    val sets = basketSets(s, dir, basketCap)
    val nBaskets = sets.agg(count(lit(1)).as("n_baskets"))
    val itemSupport = sets
      .select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("s_item"))
    val topPairs = qBasketPairsFrom(sets, k)
    val directed = topPairs
      .select(col("p1").as("lhs"), col("p2").as("rhs"), col("support"))
      .unionByName(topPairs.select(col("p2").as("lhs"),
        col("p1").as("rhs"), col("support")))
    directed
      .join(itemSupport.withColumnsRenamed(
        Map("item" -> "lhs", "s_item" -> "s_lhs")), "lhs")
      .join(itemSupport.withColumnsRenamed(
        Map("item" -> "rhs", "s_item" -> "s_rhs")), "rhs")
      .crossJoin(broadcast(nBaskets))
      .select(col("lhs"), col("rhs"), col("support"),
        expr("support * 1000000 div s_lhs").as("confidence_ppm"),
        expr("CAST(n_baskets AS DECIMAL(38,0)) * support * 1000000 " +
          "div (CAST(s_lhs AS DECIMAL(38,0)) * s_rhs)").as("lift_ppm"))
  }

  /** RFM segmentation (recency / frequency / monetary): the classic
    * customer-base cut. Orders collapse to one (r, f, m) row per
    * customer on the key shuffle; quartile cuts come from ONE exact
    * percentile aggregate broadcast back (the curriculum_order
    * pattern — value-based assignment, not a per-bucket rank, so no
    * single-task sorts); the segment rollup's key space is 4³. Spark
    * `percentile` and DuckDB `quantile_cont` share the standard
    * interpolation definition (gate-proven by curriculum_order). */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(
        max(expr("datediff(o_orderdate, DATE '1990-01-01')")).cast("double")
          .as("recency"),
        count(lit(1)).cast("double").as("frequency"),
        (sumExact(col("o_totalprice"), 2) * 100)
          .cast("long").as("cents"))
      .withColumn("monetary", col("cents").cast("double"))
    val cuts = perCust.agg(
      expr("percentile(recency, 0.25)").as("r1"),
      expr("percentile(recency, 0.5)").as("r2"),
      expr("percentile(recency, 0.75)").as("r3"),
      expr("percentile(frequency, 0.25)").as("f1"),
      expr("percentile(frequency, 0.5)").as("f2"),
      expr("percentile(frequency, 0.75)").as("f3"),
      expr("percentile(monetary, 0.25)").as("m1"),
      expr("percentile(monetary, 0.5)").as("m2"),
      expr("percentile(monetary, 0.75)").as("m3"))
    perCust.crossJoin(broadcast(cuts))
      .withColumn("r_score", lit(1L) +
        (col("recency") > col("r1")).cast("long") +
        (col("recency") > col("r2")).cast("long") +
        (col("recency") > col("r3")).cast("long"))
      .withColumn("f_score", lit(1L) +
        (col("frequency") > col("f1")).cast("long") +
        (col("frequency") > col("f2")).cast("long") +
        (col("frequency") > col("f3")).cast("long"))
      .withColumn("m_score", lit(1L) +
        (col("monetary") > col("m1")).cast("long") +
        (col("monetary") > col("m2")).cast("long") +
        (col("monetary") > col("m3")).cast("long"))
      .groupBy((col("r_score") * 100 + col("f_score") * 10 +
        col("m_score")).as("segment"))
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("seg_cents"))
  }

  /** Decile lift / gains table: customers ranked by exact-cents
    * lifetime spend, split into 10 exact-rank deciles, each decile's
    * revenue and cumulative gains share — the targeting curve
    * ("which tenth of the base carries what share of revenue").
    *
    * The global rank is the [[Sampling.shuffleShard]] pattern, NOT a
    * single-task window: the per-customer frame range-repartitions
    * on (spend desc, key), sorts within partitions, and zipWithIndex
    * composes per-partition offsets — exact total order with the
    * biggest sorted run bounded by a partition. Everything after the
    * rank is a 10-row frame. Cumulative share is integral ppm of
    * exact BIGINT cents. */
  def qDecileLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg((sumExact(col("o_totalprice"), 2) * 100)
        .cast("long").as("cents"))
    val ranked = perCust
      .repartitionByRange(32, col("cents").desc, col("o_custkey"))
      .sortWithinPartitions(col("cents").desc, col("o_custkey"))
      .select("o_custkey", "cents")
      .as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((k, c), idx) => (k, c, idx) }
      .toDF("o_custkey", "cents", "rank0")
    val n = perCust.agg(count(lit(1)).as("n_cust"))
    val deciles = ranked.crossJoin(broadcast(n))
      .withColumn("decile", expr("rank0 * 10 div n_cust"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("decile_cents"))
    val w = Window.orderBy("decile")
    deciles
      .withColumn("cum", sum("decile_cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum("decile_cents").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        // cents totals overflow cents×1e6 in BIGINT past ~9e12 cents
        // — the ppm numerator rides DECIMAL(38,0)
        expr("CAST(cum AS DECIMAL(38,0)) * 1000000 div tot")
          .as("cum_share_ppm"))
  }

  /** Supplier-market concentration per nation: the Herfindahl index
    * of supplier revenue shares in exact ppm (1e6 = monopoly), with
    * the top supplier's share and the supplier count — the
    * supply-risk report ("is this nation's supply base one warehouse
    * fire away from collapse"). Shares never materialize as floats:
    * HHI = Σrevᵢ²·10⁶ div (Σrevᵢ)² through DECIMAL(38,0) with a
    * SINGLE integer division, so DuckDB's HUGEINT arithmetic
    * reproduces it bit for bit (per-supplier share rounding would
    * accumulate engine-specific error). Plan: ONE fact scan with the
    * supplier→nation dim chain joined UNHINTED — supplier grows with
    * SF, so per this module's header policy it carries no broadcast()
    * hint (a hint cannot be demoted by AQE; the q18 note below
    * documents the measured 15x regression from forcing a growing
    * dim); at test SF size-estimation broadcasts it anyway, at 100 TB
    * it shuffles on the key like any fact join — then a
    * (nation, supplier) rollup that map-side combines, and a re-agg
    * whose shuffle carries one row per supplier — nothing fact-sized
    * moves twice, and nations-sized output. */
  def qMarketHhi(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        graft.functions.GraftFunctions.money_scaled(col("l_extendedprice"), 2).as("cents"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "s_suppkey")
      .agg(sum("cents").as("rev"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("rev").as("total_cents"),
        max("rev").as("top_rev"),
        sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("sumsq"))
      .select(col("n_name"), col("n_suppliers"), col("total_cents"),
        expr("CAST(top_rev AS DECIMAL(38,0)) * 1000000 div total_cents")
          .as("top_share_ppm"),
        expr("sumsq * 1000000 div " +
          "(CAST(total_cents AS DECIMAL(38,0)) * total_cents)")
          .as("hhi_ppm"))
  }

  /** Per-nation trade balance: revenue earned by each nation's
    * suppliers (exports) vs spend by its customers (imports), with
    * the surplus and the exports/imports ratio in exact ppm — the
    * balance-sheet rollup of the trade graph that Q7 only shows one
    * nation-pair of. Nations absent from one side survive the
    * full-outer join as explicit zeros (a nation that only buys IS
    * the finding). Each fact is scanned once against its dim→nation
    * chain — supplier/customer grow with SF so the chains carry NO
    * broadcast() hint (only the by-construction-bounded nation side
    * does; AQE/size-estimation broadcasts the chain when it measures
    * small, shuffles it at 100 TB) — and collapses map-side to a
    * nations-sized frame before the final join, so the join cost is
    * ~nations², not fact-sized; ratio rides DECIMAL(38,0) with one
    * integer
    * division (NULL when imports are zero — a ppm against nothing
    * is not a number). */
  def qTradeBalance(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val exp0 = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        graft.functions.GraftFunctions.money_scaled(col("l_extendedprice"), 2).as("cents"))
      .join(Tables.supplier(s, dir)
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name").agg(sum("cents").as("export_cents"))
    val imp0 = Tables.orders(s, dir)
      .select(col("o_custkey"),
        graft.functions.GraftFunctions.money_scaled(col("o_totalprice"), 2).as("cents"))
      .join(Tables.customer(s, dir)
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("n_name").agg(sum("cents").as("import_cents"))
    exp0.join(imp0, Seq("n_name"), "full_outer")
      .select(col("n_name"),
        coalesce(col("export_cents"), lit(0L)).as("export_cents"),
        coalesce(col("import_cents"), lit(0L)).as("import_cents"))
      .withColumn("balance_cents",
        col("export_cents") - col("import_cents"))
      .withColumn("ratio_ppm",
        expr("CASE WHEN import_cents = 0 THEN NULL ELSE " +
          "CAST(export_cents AS DECIMAL(38,0)) * 1000000" +
          " div import_cents END"))
  }

  /** Gini coefficient of customer-spend concentration per nation, in
    * exact ppm (0 = perfectly equal, →1e6 = one customer is the whole
    * market) — the inequality counterpart to [[qMarketHhi]]'s
    * concentration index. Uses the rank identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over spends sorted
    * ascending — but never ranks individual customers: ranks of TIED
    * spends contribute x·(m·r₀ + m(m+1)/2) for a run of m equal
    * values starting after cumulative count r₀ (Σi over a tie run is
    * arithmetic-series arithmetic, and G is invariant to order within
    * ties), so the sort window runs over DISTINCT spend values per
    * nation, not customers. At 100 TB that's the difference between
    * sorting ~60 M customers per nation partition and sorting the few
    * thousand distinct cent totals they collapse to. Plan: one orders
    * scan with the customer→nation chain UNHINTED (customer grows
    * with SF — header policy; AQE broadcasts it when it measures
    * small, only nation carries a hint), a customer-sized
    * map-side-combined rollup, a (nation, cents)-sized second rollup,
    * the tiny distinct-value window, and a nations-sized answer.
    * Every term is BIGINT/DECIMAL(38,0) with a SINGLE integer
    * division, so DuckDB's HUGEINT math reproduces it bit for bit. */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val spend = Tables.orders(s, dir)
      .select(col("o_custkey"),
        graft.functions.GraftFunctions.money_scaled(col("o_totalprice"), 2).as("cents"))
      .join(Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("n_name", "o_custkey")
      .agg(sum("cents").as("cust_cents"))
    val before = Window.partitionBy("n_name").orderBy("cust_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    spend.groupBy("n_name", "cust_cents")
      .agg(count(lit(1)).cast(big).as("m"))
      .withColumn("r0",
        coalesce(sum("m").over(before), lit(0).cast(big)).cast(big))
      .select(col("n_name"), col("m"),
        (col("cust_cents").cast(big) * col("m")).as("sx_part"),
        (col("cust_cents").cast(big) *
          (col("m") * col("r0") + expr("m * (m + 1) div 2").cast(big)))
          .as("six_part"))
      .groupBy("n_name")
      .agg(sum("m").cast(big).as("n"),
        sum("sx_part").cast(big).as("sx"),
        sum("six_part").cast(big).as("six"))
      .select(col("n_name"),
        col("n").cast("long").as("n_customers"),
        col("sx").cast("long").as("total_cents"),
        expr("CASE WHEN sx > 0 THEN " +
          "(2 * six - (n + 1) * sx) * 1000000 div (n * sx) END")
          .cast("long").as("gini_ppm"))
  }

  /** Referential-integrity audit: one row per declared foreign-key
    * relationship with child-row / distinct-key / orphan counts — the
    * standing data-quality check every warehouse runs after ingest
    * (a non-zero orphan count means the load broke the star schema).
    *
    * Scale shape: each relationship is ONE map-side-combined rollup
    * of the child fact to its distinct FK values (lineitem collapses
    * ~4 orders of magnitude before any join) followed by a key-equi
    * LEFT join against the parent's key column — both sides shuffle
    * only (key, count) pairs, never fact rows, and AQE broadcasts the
    * parent key set while it measures small. No broadcast hints:
    * every parent here grows with SF (header policy). */
  def dqOrphanAudit(rel: String, child: DataFrame, fk: String,
                    parent: DataFrame, pk: String): DataFrame = {
    val grouped = child.select(col(fk).cast("long").as("fk"))
      .groupBy("fk").agg(count(lit(1)).as("cnt"))
    val pkeys = parent.select(col(pk).cast("long").as("pk"),
      lit(1).as("present"))
    grouped.join(pkeys, col("fk") === col("pk"), "left")
      .agg(sum("cnt").cast("long").as("n_child_rows"),
        count(lit(1)).cast("long").as("n_distinct_fk"),
        coalesce(sum(when(col("present").isNull, col("cnt"))), lit(0L))
          .cast("long").as("n_orphan_rows"),
        coalesce(sum(when(col("present").isNull, 1L)), lit(0L))
          .cast("long").as("n_orphan_keys"))
      .select(lit(rel).as("relationship"), col("n_child_rows"),
        col("n_distinct_fk"), col("n_orphan_rows"),
        col("n_orphan_keys"))
  }

  def dqOrphans(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def audit(rel: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame =
      dqOrphanAudit(rel, child, fk, parent, pk)
    audit("lineitem.l_orderkey -> orders.o_orderkey",
        li, "l_orderkey", Tables.orders(s, dir), "o_orderkey")
      .unionByName(audit("lineitem.l_partkey -> part.p_partkey",
        li, "l_partkey", Tables.part(s, dir), "p_partkey"))
      .unionByName(audit("lineitem.l_suppkey -> supplier.s_suppkey",
        li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey"))
      .unionByName(audit("orders.o_custkey -> customer.c_custkey",
        Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
  }

  /** Approximate-functional-dependency audit: for each candidate FD
    * `det -> dep` report how badly the data violates it — group
    * counts, violating-group counts (>1 distinct dependent value),
    * the violation rate in exact ppm, and the g3 error (minimum rows
    * to delete to make the FD hold: rows minus the majority
    * dependent value per group — the standard FD-discovery error
    * measure). Candidates mix true keys (c_custkey→c_nationkey,
    * n_nationkey→n_regionkey: 0 violations by construction) with
    * plausible-but-false dependencies, so the report exercises both
    * verdicts.
    *
    * Scale shape: each candidate is two stacked partial-aggregable
    * rollups — (det, dep)-count then det-level max/sum/count — and a
    * scalar tail; nothing but (det, dep, count) triples ever cross an
    * exchange, and every arithmetic term is BIGINT with a single
    * integer division (bit-identical on any engine). */
  def fdAudit(fd: String, df: DataFrame, det: String, dep: String)
      : DataFrame =
    df.groupBy(col(det).as("det"), col(dep).as("dep"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("det")
      .agg(sum("cnt").as("rows_g"), max("cnt").as("max_cnt"),
        count(lit(1)).as("n_dep"))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        coalesce(sum(when(col("n_dep") > 1, 1L)), lit(0L))
          .cast("long").as("n_violating"),
        sum("rows_g").cast("long").as("n_rows"),
        sum(col("rows_g") - col("max_cnt")).cast("long")
          .as("g3_rows"))
      .select(lit(fd).as("fd"), col("n_groups"), col("n_violating"),
        expr("n_violating * 1000000 div n_groups").as("violation_ppm"),
        col("n_rows"), col("g3_rows"))

  def dqFdCheck(s: SparkSession, dir: String): DataFrame = {
    def audit(fd: String, df: DataFrame, det: String, dep: String)
        : DataFrame = fdAudit(fd, df, det, dep)
    val li = Tables.lineitem(s, dir)
    val cust = Tables.customer(s, dir)
    audit("customer: c_custkey -> c_nationkey", cust,
        "c_custkey", "c_nationkey")
      .unionByName(audit("customer: c_nationkey -> c_mktsegment", cust,
        "c_nationkey", "c_mktsegment"))
      .unionByName(audit("lineitem: l_partkey -> l_suppkey", li,
        "l_partkey", "l_suppkey"))
      .unionByName(audit("lineitem: l_suppkey -> l_partkey", li,
        "l_suppkey", "l_partkey"))
      .unionByName(audit("nation: n_nationkey -> n_regionkey",
        Tables.nation(s, dir), "n_nationkey", "n_regionkey"))
      .unionByName(audit("orders: o_custkey -> o_orderpriority",
        Tables.orders(s, dir), "o_custkey", "o_orderpriority"))
  }

  /** Null-aware NOT IN membership audit — the three-valued-logic
    * truth table made visible. The blocked set (custkeys with a
    * filled order, with every key ≡ 7 mod 100 replaced by NULL —
    * simulating the nullable FK column every real warehouse has)
    * makes `c_custkey NOT IN (...)` evaluate to UNKNOWN, not TRUE,
    * for every non-member: the classic silent-empty-result trap. The
    * report counts, per market segment, customers whose membership
    * is TRUE / FALSE / UNKNOWN, plus the NOT EXISTS count (which
    * treats NULL as a non-match) for contrast.
    *
    * Scale shape: Spark plans a literal `NOT IN (subquery)` as a
    * null-aware BroadcastNestedLoopJoin — O(|left|·|right|) once the
    * blocked set outgrows a broadcast. This operator computes the
    * SAME three-valued truth with one key-equi LEFT join against the
    * distinct non-null blocked keys plus one broadcast 1-row
    * has-null scalar: linear, shuffle-partitioned, AQE-friendly at
    * any SF. */
  def qNullAwareAnti(s: SparkSession, dir: String): DataFrame = {
    val blocked = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(when(col("o_custkey") % 100 === 7, lit(null))
        .otherwise(col("o_custkey")).cast("long").as("bk"))
    val bvals = blocked.filter(col("bk").isNotNull)
      .distinct().withColumn("matched", lit(1))
    val hasNull = blocked.agg(
      max(when(col("bk").isNull, 1).otherwise(0)).as("has_null"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(bvals, col("c_custkey") === col("bk"), "left")
      .crossJoin(broadcast(hasNull))
      .select(col("c_mktsegment"),
        when(col("matched").isNotNull, "TRUE")
          .when(col("has_null") === 1, "UNKNOWN")
          .otherwise("FALSE").as("in_blocked"),
        col("matched"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("long").as("n_customers"),
        coalesce(sum(when(col("in_blocked") === "TRUE", 1L)), lit(0L))
          .cast("long").as("n_in"),
        coalesce(sum(when(col("in_blocked") === "UNKNOWN", 1L)), lit(0L))
          .cast("long").as("n_unknown"),
        coalesce(sum(when(col("in_blocked") === "FALSE", 1L)), lit(0L))
          .cast("long").as("n_not_in"),
        coalesce(sum(when(col("matched").isNull, 1L)), lit(0L))
          .cast("long").as("n_not_exists"))
  }

  /** Epsilon-band self-join: supplier pairs in the same nation
    * whose account balances sit within ±eps of each other (the
    * peer-group / near-duplicate-balance audit), rolled up per
    * nation. The SCALE point is the join key: Spark's native plan
    * for `nation = nation AND abs(bal1 − bal2) ≤ eps` equi-joins on
    * nation alone — 25 distinct keys, so at 100 TB the whole fact
    * lands in 25 fat skewed cells and the band predicate runs as a
    * post-filter over a quadratic blow-up. Banding moves the
    * predicate INTO the key: each row joins on (nation,
    * ⌊bal/eps⌋), with the LEFT side replicated to its bucket ±1 —
    * any pair within eps differs by ≤ 1 bucket, so every
    * qualifying pair is found EXACTLY once (the right side sits in
    * its unique home bucket; id < id2 keeps one orientation), no
    * dedup pass. Key cardinality grows from |nations| to |nations| ×
    * |balance range / eps| (25 → ~2750 cells here) and per-cell
    * fan-out is bounded by the band's true selectivity — the plan
    * is the documented bucket-replication band join (cf. interval
    * joins in Flink/Trino), 3× replication on one side only.
    * Balances ride exact cents (LONG); all outputs BIGINT. */
  def qBandJoin(s: SparkSession, dir: String,
                epsCents: Long = 10000L): DataFrame = {
    val sup = Tables.supplier(s, dir).select(
      col("s_suppkey").cast("long").as("id"),
      col("s_nationkey").cast("long").as("nation"),
      // decimal-cast-first cents (the repo money contract): the
      // decimal cast rounds the double's shortest-decimal rendering
      // exactly as DuckDB's CAST(x AS DECIMAL(18,2)) does — a plain
      // double *100 truncation sees 9949.999… and drifts
      (col("s_acctbal").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("bal"))
    val home = sup.withColumn("jb",
      expr(s"floor(bal / $epsCents)").cast("long"))
    val repl = home.select(col("nation"), col("id"), col("bal"),
      explode(array(col("jb") - 1, col("jb"), col("jb") + 1)).as("jb"))
    repl.join(
        home.select(col("nation"), col("jb"),
          col("id").as("id2"), col("bal").as("bal2")),
        Seq("nation", "jb"))
      .filter(col("id") < col("id2") &&
        abs(col("bal") - col("bal2")) <= epsCents)
      .groupBy("nation")
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("bal") - col("bal2"))).as("sum_gap_cents"),
        max(abs(col("bal") - col("bal2"))).as("max_gap_cents"),
        min(abs(col("bal") - col("bal2"))).as("min_gap_cents"))
  }

  /** Persist the band-admission index: the peer table keyed by its
    * balance band and PARTITIONED on disk by `jb_block =
    * ⌊⌊bal/eps⌋ / blockSize⌋` — each directory covers blockSize
    * contiguous bands, so an admission wave touching B distinct
    * bands reads at most ~⌈B/blockSize⌉+1 directories of the peer
    * corpus, never the corpus ([[bandAdmitIndexed]]). The numeric
    * twin of the MinHash posting index (Dedup.minhashWriteIndex)
    * and the IVF index (Similarity.ivfWriteIndex): "build the gate
    * once, each wave reads only its slice". */
  def bandWriteIndex(peers: DataFrame, dir: String,
                     epsCents: Long = 10000L,
                     blockSize: Int = 64): Unit =
    peers.select(col("nation"), col("id"), col("bal"),
        expr(s"CAST(floor(bal / $epsCents) AS BIGINT)").as("jb"))
      .withColumn("jb_block",
        expr(s"CAST(floor(jb / $blockSize) AS BIGINT)"))
      .write.mode("overwrite").partitionBy("jb_block").parquet(dir)

  /** Partition-pruned band admission: each wave record replicates
    * to its band bucket ±1 (the [[qBandJoin]] contract — any
    * within-eps peer differs by ≤ 1 bucket and sits in its unique
    * home bucket, so each qualifying peer is matched exactly once),
    * the wave's distinct `jb_block`s become a PartitionFilter over
    * the persisted index (only those directories are read — cost
    * tracks the wave's band footprint, never the peer corpus), and
    * one grouped fold per record emits the verdict: peers within
    * ±eps in the same nation, min/max gap (−1 when none), `novel`.
    * Self-ids excluded so replaying an ingested record reports its
    * NEIGHBORS. The raw inferred-int partition attribute is
    * filtered FIRST, then normalized (a cast above the filter can
    * block PartitionFilters — the embeddingAdmitIndexed lesson). */
  def bandAdmitIndexed(spark: SparkSession, dir: String,
                       wave: DataFrame, epsCents: Long = 10000L,
                       blockSize: Int = 64): DataFrame = {
    val w = wave.select(col("id"), col("nation"), col("bal"))
      .localCheckpoint()
    val repl = w.select(col("id"), col("nation"), col("bal"),
        explode(expr(
          s"array(CAST(floor(bal / $epsCents) - 1 AS BIGINT), " +
          s"CAST(floor(bal / $epsCents) AS BIGINT), " +
          s"CAST(floor(bal / $epsCents) + 1 AS BIGINT))")).as("jb"))
      .localCheckpoint()
    val blocks = repl
      .select(expr(s"CAST(floor(jb / $blockSize) AS BIGINT)").as("b"))
      .distinct().collect().map(_.getLong(0))
    val hit = col("peer_id").isNotNull &&
      col("peer_id") =!= col("id") &&
      abs(col("bal") - col("peer_bal")) <= epsCents
    val verdicts = spark.read.parquet(dir)
      .filter(col("jb_block").isin(blocks.map(_.toInt): _*))
      .select(col("nation"), col("jb").cast("long").as("jb"),
        col("id").as("peer_id"), col("bal").as("peer_bal"))
      .join(broadcast(repl), Seq("nation", "jb"))
      .groupBy(col("id"), col("nation"), col("bal"))
      .agg(sum(when(hit, 1L).otherwise(0L)).as("n_band_peers"),
        coalesce(min(when(hit, abs(col("bal") - col("peer_bal")))),
          lit(-1L)).as("min_gap_cents"),
        coalesce(max(when(hit, abs(col("bal") - col("peer_bal")))),
          lit(-1L)).as("max_gap_cents"))
    w.join(verdicts, Seq("id", "nation", "bal"), "left")
      .select(col("id"), col("nation"), col("bal"),
        coalesce(col("n_band_peers"), lit(0L)).as("n_band_peers"),
        coalesce(col("min_gap_cents"), lit(-1L)).as("min_gap_cents"),
        coalesce(col("max_gap_cents"), lit(-1L)).as("max_gap_cents"),
        (coalesce(col("n_band_peers"), lit(0L)) === 0L).as("novel"))
  }
}
