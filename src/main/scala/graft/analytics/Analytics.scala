package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.QueryKey
import graft.sources.Tables

/** Relational analytics surface: grouped aggregation, broadcast joins,
  * multi-way joins, windows, semi/anti joins, rollup, top-k per group,
  * sessionization.
  *
  * Scale notes (100 TB):
  *  - dims (region/nation/supplier, filtered customer) are broadcast —
  *    no shuffle on the fact side for those joins;
  *  - fact-fact joins shuffle once on the join key; AQE re-plans skew;
  *  - aggregates are partial (map-side combine) by construction;
  *  - filters/projections are plain column refs so parquet gets
  *    predicate pushdown + column pruning.
  *
  * Cross-engine determinism: double sums are order-dependent in IEEE
  * arithmetic, and Spark's partial aggregation order differs from the
  * DuckDB oracle's sequential order. Money-like sums therefore go
  * through exact decimal accumulation and only then back to double.
  */
object Analytics {

  /** Order-independent sum of a double column: accumulate as exact
    * decimal, return double. Same trick on the oracle side. */
  private def stableSum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Literal that compares cleanly against parquet NTZ or TZ timestamps. */
  private def tsLit(df: DataFrame, colName: String, iso: String): Column =
    lit(java.time.LocalDateTime.parse(iso)).cast(df.schema(colName).dataType)

  /** Q1-style pricing summary: scan-heavy grouped aggregation. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= tsLit(li, "l_shipdate", "1998-09-02T00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        stableSum(col("l_quantity"), 2).as("sum_qty"),
        stableSum(col("l_extendedprice"), 2).as("sum_base_price"),
        stableSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q3-style: selective dim filter -> broadcast join -> agg -> top-k. */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
    val li  = Tables.lineitem(spark, dir)
    val cutoff = "1995-09-15T00:00:00"
    ord
      .filter(col("o_orderdate") < tsLit(ord, "o_orderdate", cutoff))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li.filter(col("l_shipdate") > tsLit(li, "l_shipdate", cutoff)),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(stableSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Q5-style multi-way join: two broadcast dims + fact-fact shuffle join. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name").isin("ASIA", "EUROPE"))
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val ord    = Tables.orders(spark, dir)
    val li     = Tables.lineitem(spark, dir)
    val dims = broadcast(
      nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey")))
    ord
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(dims, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        stableSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Window functions: rank + running sum per supplier over ship time. */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum(col("l_quantity"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rn") <= 5)
      .drop("l_shipdate")
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** Semi/anti join: customers with vs. without orders, one row each. */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir).select("o_custkey")
    val withOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_customers")).select(lit("with_orders").as("grp"), col("n_customers"))
    val without = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers")).select(lit("without_orders").as("grp"), col("n_customers"))
    withOrders.unionAll(without).orderBy(col("grp"))
  }

  /** Rollup aggregation with grouping id (subtotals + grand total). */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        stableSum(col("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** CUBE over (returnflag, linestatus): all 2² grouping sets in one
    * pass — Spark expands the sets map-side, so it's still a single
    * partial-aggregated shuffle, rows × #sets. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        stableSum(col("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** Unpivot (melt): wide measure columns to (measure, value) rows via
    * the first-class Dataset.unpivot — a narrow map (each input row
    * emits #measures rows), no shuffle beyond the output sort. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).where(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_extendedprice").cast("double").as("extendedprice"),
        col("l_discount").cast("double").as("discount"))
    li.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
  }

  /** Top-k per group via ranked window + filter. */
  def qTopkGroup(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** Sessionization (gaps-and-islands): a session breaks after a 30-min
    * silence per user. One shuffle on user_id; both windows and the final
    * groupBy reuse that partitioning. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_num",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped.groupBy(col("user_id"), col("session_num"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .orderBy(col("user_id"), col("session_num"))
  }

  /** As-of join: each purchase matched to the user's latest
    * prior-or-simultaneous click (left-outer). Clicks pre-aggregate to
    * unique (user_id, ts) so the match is deterministic; the operator
    * itself is the single-shuffle union+window form
    * ([[graft.operators.Joins.asofJoin]]). */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id"), col("ts"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        col("click_value"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.Joins.asofJoin(purch, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_time", "click_value"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"),
        col("click_time"), col("click_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Nearest-in-time join: every purchase matched to the CLOSEST click
    * (before or after, ties to prior) per user — the bidirectional
    * sibling of q_asof on the same single-shuffle union+window
    * machinery ([[graft.operators.Joins.asofNearestJoin]]); the oracle
    * is the argmin theta join it replaces. */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id"), col("ts"), col("click_value"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.Joins.asofNearestJoin(purch, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_value"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"),
        date_format(col("nearest_time"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        col("click_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Range join: purchases falling inside any error event's 10-minute
    * impact window, rolled up per window. Keyless interval containment
    * — the case a naive plan turns into a broadcast nested loop; runs
    * as a bucketed equi-join instead
    * ([[graft.operators.Joins.rangeJoin]]). Times compared as integer
    * epoch micros so the oracle's arithmetic is bit-identical. */
  def qRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val windows = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + lit(600000000L)).as("hi"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("pt"), col("value"))
    graft.operators.Joins.rangeJoin(purch, windows, Nil,
        "pt", "lo", "hi", bucketWidth = 600000000L)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_purchases"),
        stableSum(col("value"), 6).as("purchase_value"))
      .orderBy(col("err_id"))
  }

  /** Pivot: per-cohort event-type counts spread to columns. The pivot
    * value list is explicit — with it, Spark skips the extra
    * distinct-values job and plans a single partial-aggregated
    * shuffle, same shape as a plain groupBy. */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select((col("user_id") % 10).as("cohort"), col("event_type"))
      .groupBy(col("cohort"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("cohort"))
  }

  /** Time-series gap fill: hourly per-type event rollup, resampled onto
    * a dense hour spine (missing hours materialized) with zero-filled
    * counts and forward-filled (last-observation-carried-forward)
    * values. Scale shape: the rollup is one partial-aggregated shuffle;
    * the spine is generated per group from min/max (tiny — hours, not
    * events) and the fill window re-uses the per-type partitioning.
    * Interpolation over irregular telemetry is a standard downstream
    * query the reference's hourly `TimeBucket` rollup feeds. */
  def qGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val base = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"), stableSum(col("value"), 6).as("hour_value"))
    val spine = base.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(base, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.cast("int").as("is_gap"),
        last(col("hour_value"), ignoreNulls = true).over(w).as("filled_value"))
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_events"), col("is_gap"), col("filled_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Funnel analysis: users progressing click → view → purchase in
    * strict event-time order. One shuffle on user_id feeds the chained
    * window-minimum stage machine in funnelStages (spill-safe per-key
    * state). No self-joins of the fact table. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_type").as("et"))
    funnelStages(ev)
      .agg(
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_clicked"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_viewed_after"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchased_after"))
  }

  /** Per-user funnel stage (0–3) reached over (user_id, t, et) rows —
    * exposed so the property spec can compare it against a brute-force
    * chain search.
    *
    * Greedy chain as chained whole-partition window minimums: the
    * earliest click c, then the earliest view after c, then the
    * earliest purchase after that view — taking the earliest
    * qualifying event at each stage is optimal for chain existence,
    * so this equals the oracle's nested min-over-subquery chain. All
    * three windows share the user_id partitioning (ONE shuffle, three
    * chained Window nodes), and WindowExec buffers spill to disk —
    * unlike a per-user collect_list row, which a single adversarial
    * hot key (a bot with 10⁸ events) would blow up, one key here
    * degrades to disk instead of OOM (pinned by FunnelSpec's
    * hot-user case). The trailing groupBy reuses the same hash
    * partitioning, so no second exchange. */
  def funnelStages(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = ev
      .withColumn("c", min(when(col("et") === "click", col("t"))).over(w))
      .withColumn("v", min(when(col("et") === "view" && col("t") > col("c"), col("t"))).over(w))
      .withColumn("p", min(when(col("et") === "purchase" && col("t") > col("v"), col("t"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(when(col("p").isNotNull, 3)
        .when(col("v").isNotNull, 2)
        .when(col("c").isNotNull, 1)
        .otherwise(0)).as("stage"))
  }

  /** RANGE-frame window: each event's trailing-1-hour event count and
    * value sum per type — frames defined by the TIME VALUE, not row
    * counts (qWindow's ROWS complement; equal timestamps share one
    * frame, so ties are deterministic by construction). Decimal
    * accumulation keeps the frame sums engine-stable. Output filtered
    * to a small user slice AFTER the window (frames see all rows). */
  def qTrailing(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"), col("value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("tu"))
      .rangeBetween(-3600000000L, 0)
    ev.withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_value",
        sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
      .where(col("user_id") < 5)
      .select(col("event_type"), col("event_id"), col("tu"),
        col("trail_n"), col("trail_value"))
      .orderBy(col("event_type"), col("tu"), col("event_id"))
  }

  /** Trailing-window anomaly detection over the hourly rollup: flag
    * hours whose value is more than 3σ from the mean of the trailing
    * 24 OBSERVED hours (ROWS frame over the rollup — hours absent from
    * the rollup don't occupy frame slots, so across gaps the window
    * stretches past 24 wall-clock hours; run the same stats over
    * qGapfill's dense spine when calendar-time frames are required).
    * Mean and variance come from exact decimal sums (Σv, Σv²) so the
    * flags replay across engines; the rollup is one shuffle and the
    * scan is per-type linear. The monitoring query the reference's
    * Prometheus counters feed in spirit — here over the lake. */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val base = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(stableSum(col("value"), 6).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    val stats = base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v").cast(DecimalType(28, 6))).over(w).cast("double"))
      .withColumn("s2", sum((col("v") * col("v")).cast(DecimalType(28, 6))).over(w).cast("double"))
      .where(col("n") >= 12)
      .withColumn("mean", col("s1") / col("n").cast("double"))
      .withColumn("variance",
        col("s2") / col("n").cast("double") - col("mean") * col("mean"))
      .withColumn("dev", abs(col("v") - col("mean")))
    stats.where(col("dev") > lit(3.0) * sqrt(greatest(col("variance"), lit(0.0))))
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        round(col("v"), 6).as("v"), round(col("mean"), 6).as("trail_mean"),
        round(col("dev"), 6).as("deviation"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Semi-structured extraction: pull a typed field out of the JSON
    * props column (schema-on-read) and roll it up per event type.
    * get_json_object is a codegen'd path expression — the scan stays
    * narrow (events prunes to two columns) and the rollup is one
    * partial-aggregated shuffle; all-integer outputs, so the oracle
    * is exact. */
  def qJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hot"))
      .orderBy(col("event_type"))
  }

  /** Z-order layout demonstration: Morton-interleave (customer,
    * order-day), then show per-z-bucket min/max spans of BOTH
    * dimensions — the ranges parquet footers would prune on after a
    * [[graft.operators.Layout.clusterByZ]] write. The z-value itself
    * is pure integer bit arithmetic (oracle-exact). */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    // `div` (integer division) — plain `/` on longs is double division
    // in Spark SQL, and midnight timestamps sit exactly on the
    // quotient boundary where a float round-off would flip the day
    val staged = ord.select(
      col("o_custkey").as("ck"),
      // NTZ -> TIMESTAMP is wall-clock-preserving under the UTC session
      expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("dy"))
    staged
      .select(col("ck"), col("dy"),
        graft.operators.Layout.zorderValue(col("ck"), col("dy")).as("z"))
      .groupBy(shiftright(col("z"), 12).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
        min(col("dy")).as("min_dy"), max(col("dy")).as("max_dy"))
      .orderBy(col("zbucket"))
  }

  /** Point-in-time dimension lookup (temporal join): each order joined
    * to the customer-segment VERSION valid at order time — the read
    * side of the history [[qScd2]] maintains. Runs on the as-of
    * machinery (one keyed shuffle + linear window,
    * [[graft.operators.Joins.asofJoin]]) — the naive encoding is a
    * range nested loop. */
  def qTemporal(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    def vf(iso: String) = tsLit(ord, "o_orderdate", iso)
    val versions = cust.select(col("c_custkey"),
        col("c_mktsegment").as("segment"), vf("1990-01-01T00:00:00").as("vf"))
      .unionAll(cust.select(col("c_custkey"),
        concat(lit("V2:"), col("c_mktsegment")).as("segment"),
        vf("1996-01-01T00:00:00").as("vf")))
    val left = ord.select(col("o_custkey").as("c_custkey"),
      col("o_orderkey"), col("o_orderdate"))
    graft.operators.Joins.asofJoin(left, versions, Seq("c_custkey"),
        "o_orderdate", "vf", Seq("segment"))
      .select(col("o_orderkey"), col("c_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("segment"))
      .orderBy(col("o_orderkey"))
  }

  /** Table profiling (the ANALYZE/stats-collection pass a CBO feeds
    * on): null counts, exact distinct counts, min/max per column in
    * ONE scan. Multiple distinct aggregates plan through Expand —
    * still a single pass over the fact table, which is the point at
    * 100 TB (per-column jobs would be N scans). */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").isNull.cast("long")).as("qty_nulls"),
      countDistinct(col("l_quantity")).as("qty_distinct"),
      round(min(col("l_quantity")), 6).as("qty_min"),
      round(max(col("l_quantity")), 6).as("qty_max"),
      countDistinct(col("l_returnflag")).as("flag_distinct"),
      min(col("l_returnflag")).as("flag_min"),
      max(col("l_returnflag")).as("flag_max"),
      countDistinct(col("l_orderkey")).as("orderkey_distinct"),
      min(col("l_orderkey")).as("orderkey_min"),
      max(col("l_orderkey")).as("orderkey_max"))
  }

  /** Cross-table referential-integrity audit: orphaned fact rows per
    * relationship (anti-join counts) plus the parent-key coverage —
    * the inter-table complement of [[qProfile]]'s single-table stats,
    * and the lake-side analogue of the reference validator's
    * cross-source consistency phase. Anti joins broadcast the smaller
    * key set; each check is one pass. */
  def qIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val orphanOrders = ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("orders_without_customer").as("check"), col("n"))
    val orphanLines = li.join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("lineitems_without_order").as("check"), col("n"))
    val childlessOrders = ord.join(li.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("orders_without_lineitems").as("check"), col("n"))
    orphanOrders.unionAll(orphanLines).unionAll(childlessOrders)
      .orderBy(col("check"))
  }

  /** INTERSECT / EXCEPT set operators through spark.sql (they plan to
    * the same semi/anti joins qSemiAnti uses explicitly). */
  /** Fuzzy (edit-distance ≤ 1) self-join over the part-name vocabulary
    * via the FastSS deletion-neighborhood rule — the entity-resolution
    * primitive (typo'd product names, near-identical source labels).
    * The banding does the scaling ([[graft.operators.Joins
    * .fuzzyPairsDist1]]: variants equi-join, no O(n²) nested loop);
    * the DuckDB oracle is the naive theta join, feasible at oracle SF
    * and lossless-equal by the FastSS property. */
  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir).select(col("p_name")).distinct()
    graft.operators.Joins.fuzzyPairsDist1(names, col("p_name"), col("p_name"))
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
        col("dist").cast("int").as("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  def qSetop(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT 'with_orders' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'no_orders' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin)
  }

  /** Correlated scalar subquery through the spark.sql surface: each
    * customer's max order total (NULL when orderless). Catalyst
    * de-correlates this to a left-outer aggregate join — the query a
    * SQL user writes naively still plans scale-correctly. max() is
    * order-independent, so no decimal stabilization is needed. */
  def qSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |    AS max_order
        |FROM customer
        |WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin)
  }

  /** SCD2 dimension-history merge over a synthesized snapshot: some
    * customers change segment, some disappear, some keys are new —
    * the classifier emits unchanged/closed/opened version rows
    * ([[graft.operators.Scd.scd2Merge]], one keyed full-outer join). */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val current = cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
      lit("1990-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"),
      lit(true).as("is_current"))
    val snapshot = cust.where(col("c_custkey") % 97 =!= 5)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 3, "MOVED")
          .otherwise(col("c_mktsegment")).as("segment"))
      .unionAll(cust.where(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          lit("NEWKEY").as("segment")))
    graft.operators.Scd.scd2Merge(current, snapshot,
        keys = Seq("c_custkey"), attrs = Seq("segment"),
        effectiveDate = "2024-06-01")
      .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
  }

  /** Exact per-group percentiles (sort-based `percentile`, (n−1)·p
    * linear interpolation — the same definition DuckDB's
    * quantile_cont implements). The exact complement of q_approx's
    * GK sketches: right when groups fit a sort, wrong at 100 TB
    * (q_approx is the scale path; this is the verifier). */
  def qPercentile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"))
      .orderBy(col("event_type"))
  }

  /** Sketch aggregates: HyperLogLog++ distinct users and GK-sketch
    * quantiles per event type. THE way to count distincts / rank at
    * 100 TB — fixed-size sketch state, map-side partial merge, no
    * exact-distinct shuffle of the key universe. Approximate by
    * design, so no DuckDB hash oracle; ApproxSpec pins the error
    * against exact answers instead. */
  def qApprox(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_value"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95_value"))
      .orderBy(col("event_type"))
  }

  /** The driver-checkable form of [[qApprox]]: the sketch values
    * themselves can't hash-match another engine (sketch internals
    * differ), but their ERROR BOUNDS can — the query emits exact
    * per-group answers plus booleans asserting each sketch landed
    * inside its bound (HLL within 3·rsd of the exact distinct; each
    * approx percentile between the exact 0.47/0.53 resp. 0.92/0.98
    * quantiles — generous vs the sketch's 1e-4 rank error). The DuckDB
    * oracle recomputes the exact columns and emits literal TRUE for
    * the bounds, so a sketch drifting out of tolerance flips a boolean
    * and fails the hash check. The exact side is the verifier running
    * at test SF — the sketch side is what you'd keep at 100 TB. */
  def qApproxChecked(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sketch = ev.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("au"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50a"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95a"))
    val exact = ev.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        expr("percentile(value, 0.47)").as("p50_lo"),
        expr("percentile(value, 0.53)").as("p50_hi"),
        expr("percentile(value, 0.92)").as("p95_lo"),
        expr("percentile(value, 0.98)").as("p95_hi"))
    exact.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("au") - col("exact_users")) <=
          col("exact_users").cast("double") * lit(0.06)).as("users_within_3rsd"),
        (col("p50a") >= col("p50_lo") && col("p50a") <= col("p50_hi"))
          .as("p50_within_rank_eps"),
        (col("p95a") >= col("p95_lo") && col("p95a") <= col("p95_hi"))
          .as("p95_within_rank_eps"))
      .orderBy(col("event_type"))
  }

  /** Equi-width histogram of l_extendedprice in 20 buckets — the
    * distribution-profiling complement of [[qProfile]] (what ANALYZE
    * stores as a column histogram for CBO selectivity). Bounds come
    * from one scalar min/max aggregate broadcast back over the scan;
    * all arithmetic on integer cents (`width = (max−min) div 20 + 1`,
    * `bucket = (v−min) div width` — exact floor division, never a
    * double), so the bucketing is bit-identical across engines. Scale
    * shape: two narrow scans of one column (bounds + bucketing) and a
    * 20-row partial-agg shuffle; at 100 TB the bounds pass rides
    * parquet column statistics instead of a scan. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("v_i"))
    val bounds = v.agg(min(col("v_i")).as("min_i"), max(col("v_i")).as("max_i"))
      .select(col("min_i"), expr("(max_i - min_i) div 20 + 1").as("width_i"))
    v.crossJoin(broadcast(bounds))
      .select(expr("(v_i - min_i) div width_i").as("bucket"),
        col("v_i"), col("min_i"), col("width_i"))
      .groupBy(col("bucket"), col("min_i"), col("width_i"))
      .agg(count(lit(1)).as("n"), sum(col("v_i")).as("sum_i"))
      .select(col("bucket"),
        (col("min_i") + col("bucket") * col("width_i")).as("lo_i"),
        (col("min_i") + (col("bucket") + 1) * col("width_i") - 1).as("hi_i"),
        col("n"), col("sum_i"))
      .orderBy(col("bucket"))
  }

  /** Cohort retention matrix over events — the product-analytics query
    * every activation dashboard runs: users grouped by first-seen week
    * (cohort), activity counted per week offset since, retention =
    * active/cohort size. Week numbers are EXACT integer day-div-7 from
    * a fixed epoch (no engine-specific week-truncation semantics).
    * Scale shape: the first-seen aggregate and the activity join share
    * the user_id hash partitioning (no second shuffle of the big
    * side), the (cohort, offset, user) distinct is one shuffle, and
    * cohort sizes (a handful of rows) broadcast back. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    // floor division, NOT `div`: `div` truncates toward zero while the
    // oracle's `//` floors, so a pre-epoch event (datediff < 0) would
    // silently land in week 0 on Spark and week -1 in DuckDB
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(expr("datediff(cast(ts as date), date '2024-01-01')") / 7.0)
          .cast("long").as("wk"))
    // the first-seen table feeds both the cohort-size aggregate and
    // the activity join — materialize once (user-count-sized) so the
    // full-events aggregate doesn't execute twice
    val first = graft.Materialize.once(
      ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk")))
    val sizes = first.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_size"))
    val act = ev.join(first, "user_id")
      .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"),
        col("user_id"))
      .distinct()
    act.groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        round(col("n_users").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** First-order Markov transition matrix of event types — the
    * behavioral-model complement of sessionization: per user the
    * event stream orders by (ts, event_id), each adjacent pair counts
    * toward (from, to), and p = n / Σn over the from-state. One
    * user-keyed window pass (same shuffle as q_sessionize) + one tiny
    * (|types|² rows) aggregate; the row-probability normalizer is a
    * window over that tiny result, not over the events. */
  def qTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val counts = tr.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy(col("from_type"))
    counts.withColumn("n_from", sum(col("n")).over(wt))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** 2-D skyline (Pareto frontier) over part: cheapest-for-its-size
    * parts — rows no other row beats on BOTH (price ↓, size ↑) with a
    * strict win on one. The naive form is an O(n²) theta self-join; the
    * Spark-first shape is a LOSSLESS two-phase prune:
    *  1. grid prune — 256 price buckets from one broadcast min/max
    *     aggregate, per-bucket max size (tiny), running max over
    *     strictly-cheaper buckets broadcast back: any row whose size is
    *     ≤ that running max is dominated by a strictly-cheaper row and
    *     drops before any sort. On non-degenerate data this leaves
    *     ~the frontier staircase, orders of magnitude under n.
    *  2. exact pass — survivors sort once by price value; a RANGE
    *     frame to price−1 gives the strictly-cheaper max size, the
    *     current-price RANGE frame resolves equal-price ties (equal
    *     price + equal size duplicates are mutually non-dominating and
    *     both stay, the standard skyline convention).
    * Pruned-dominator soundness: dominance is transitive, so every
    * pruned row's dominators include a never-pruned frontier row —
    * the exact pass over survivors computes the same frontier as over
    * the full input. The DuckDB oracle is the NOT EXISTS definition. */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_i"),
        col("p_size").cast("long").as("sz"))
    val bounds = p.agg(min(col("price_i")).as("min_i"), max(col("price_i")).as("max_i"))
      .select(col("min_i"), expr("(max_i - min_i) div 256 + 1").as("width_i"))
    val bucketed = p.crossJoin(broadcast(bounds))
      .select(col("p_partkey"), col("price_i"), col("sz"),
        expr("(price_i - min_i) div width_i").as("bkt"))
    val wprev = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // `bucketed` is deliberately NOT materialized despite its two
    // consumers: the threshold branch collapses map-side to <= 256
    // rows, so re-running a narrow 3-column scan + bucket map is far
    // cheaper than checkpointing n rows (the Materialize rule targets
    // EXPENSIVE shared subtrees; this one's recompute is ~the scan)
    val thresholds = bucketed.groupBy(col("bkt")).agg(max(col("sz")).as("mb"))
      .withColumn("m_prev", max(col("mb")).over(wprev))
      .select(col("bkt"), col("m_prev"))
    val pruned = bucketed.join(broadcast(thresholds), "bkt")
      .where(col("m_prev").isNull || col("m_prev") < col("sz"))
    val w1 = Window.orderBy(col("price_i")).rangeBetween(Window.unboundedPreceding, -1)
    val w2 = Window.orderBy(col("price_i")).rangeBetween(0, 0)
    pruned
      .withColumn("m1", max(col("sz")).over(w1))
      .withColumn("m2", max(col("sz")).over(w2))
      .where((col("m1").isNull || col("m1") < col("sz")) && col("m2") === col("sz"))
      .select(col("p_partkey"), col("price_i"), col("sz"))
      .orderBy(col("price_i"), col("p_partkey"))
  }

  /** Top-3 events by value per event type through the NATIVE
    * bounded-heap aggregate ([[graft.expressions.TopKAgg]]) — the
    * shuffle-bounding form of q_topk_group's window: partial k-pair
    * heaps combine map-side, so at most k rows per (map partition,
    * group) reach the exchange and a hot group never becomes a
    * group-sized sort partition (HotKeyStressSpec measures the
    * shuffle-record bound on a 10⁶-row hot group). Top-k under the
    * total order (value desc, id asc) is a pure selection — arrival /
    * merge-order independent — so the DuckDB window oracle
    * hash-checks it exactly. */
  def qTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("v_i"), col("event_id"))
    ev.groupBy(col("event_type"))
      .agg(graft.expressions.native.topK(col("v_i"), col("event_id"), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("event_id"), col("col.value").as("v_i"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Exponentially time-decayed engagement score per user — the
    * recency-weighted feature every ranking/feature store computes
    * (half-life = 1 day here). Exact fixed-point instead of
    * pow(0.5, Δt): weight = 10¹² div 2^age_days — a power of two, so
    * the division is exact integer floor and the per-event products
    * sum order-free in BIGINT (Σ bounded: v_i ≤ 10⁷ cents · w ≤
    * 2.5·10¹¹ · ~10² events/user ≪ 2⁶³). Narrow map + one partial-agg
    * shuffle; no doubles anywhere, the oracle replays bit-exactly. */
  def qDecay(spark: SparkSession, dir: String): DataFrame = {
    // age clamped to [0, 62]: below 0 a future event would shift
    // negatively; above 62 Java's shift-count masking (age % 64) would
    // resurrect ancient events at near-full weight and DuckDB's <<
    // errors outright. Weights are exactly 0 for age >= 40 anyway
    // (10^12 < 2^40·...), so the clamp changes no weight, only keeps
    // the arithmetic in range on both engines.
    val ev = Tables.events(spark, dir).select(col("user_id"),
      round(col("value") * 100).cast("long").as("v_i"),
      least(greatest(expr("datediff(date '2024-02-01', cast(ts as date))"), lit(0)),
        lit(62)).cast("int").as("age"))
    ev.select(col("user_id"),
        (col("v_i") *
          expr("cast(1000000000000 as bigint) div shiftleft(cast(1 as bigint), age)"))
          .as("dv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("dv")).as("decayed_i"))
      .orderBy(col("user_id"))
  }

  /** DuckDB mirror of [[graft.operators.Layout.zorderValue]]: the
    * statically-unrolled 16-bit Morton interleave as one bit-arithmetic
    * expression over pre-masked terms `x`/`y`. */
  private def zorderSql(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString("(", " | ", ")")

  /** Every analytics key: its query method and its DuckDB-dialect
    * oracle; decimal-stabilized double sums mirror stableSum. */
  val keys: Seq[(String, QueryKey)] = Seq(
    "q_asof_nearest" -> QueryKey(qAsofNearest,
      // the argmin theta join IS the spec for the nearest-time operator;
      // tie preference (dist equal -> prior) encoded in dirrank
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), purch AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        |), cand AS (
        |  SELECT p.user_id, p.event_id, p.ts AS pts, c.ts AS cts, c.click_value,
        |    abs(epoch_us(p.ts) - epoch_us(c.ts)) AS dist,
        |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dirrank
        |  FROM purch p LEFT JOIN clicks c USING (user_id)
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_id
        |    ORDER BY dist, dirrank, cts) AS rk
        |  FROM cand
        |)
        |SELECT user_id, event_id,
        |  strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |  strftime(cts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  click_value
        |FROM r WHERE rk = 1 ORDER BY user_id, event_id""".stripMargin),
    "q_decay" -> QueryKey(qDecay,
      // same power-of-two fixed-point weights, same floor division
      """WITH e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v_i,
        |    least(greatest(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01'), 0), 62) AS age
        |  FROM events
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(v_i * (1000000000000 // (CAST(1 AS BIGINT) << CAST(age AS INT))))
        |    AS BIGINT) AS decayed_i
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q_topk_agg" -> QueryKey(qTopkAgg,
      // the window formulation IS the spec for the heap aggregate
      """WITH v AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v_i
        |  FROM events
        |), r AS (
        |  SELECT event_type, event_id, v_i,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v_i DESC, event_id) AS rk
        |  FROM v
        |)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, v_i
        |FROM r WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin),
    "q_retention" -> QueryKey(qRetention,
      // exact integer day-div-7 weeks from the fixed epoch
      """WITH ev AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
        |), sz AS (
        |  SELECT cohort_wk, count(*) AS cohort_size FROM f GROUP BY cohort_wk
        |), act AS (
        |  SELECT DISTINCT f.cohort_wk, ev.wk - f.cohort_wk AS week_offset, ev.user_id
        |  FROM ev JOIN f USING (user_id)
        |), r AS (
        |  SELECT cohort_wk, week_offset, count(*) AS n_users
        |  FROM act GROUP BY 1, 2
        |)
        |SELECT r.cohort_wk, r.week_offset, r.n_users, sz.cohort_size,
        |  round(CAST(r.n_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE), 6) AS retention
        |FROM r JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, week_offset""".stripMargin),
    "q_transitions" -> QueryKey(qTransitions,
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),
    "q_skyline" -> QueryKey(qSkyline,
      // the NOT EXISTS dominance definition IS the spec; the Spark side's
      // grid prune + range-frame pass is lossless (see qSkyline's scaladoc)
      """WITH p AS (
        |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_i,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part
        |)
        |SELECT a.p_partkey, a.price_i, a.sz FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_i <= a.price_i AND b.sz >= a.sz
        |    AND (b.price_i < a.price_i OR b.sz > a.sz))
        |ORDER BY price_i, p_partkey""".stripMargin),
    "q_histogram" -> QueryKey(qHistogram,
      // same integer-cents floor-division bucketing as qHistogram
      // (DuckDB // == Spark div for non-negative BIGINTs)
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v_i
        |  FROM lineitem
        |), b AS (
        |  SELECT min(v_i) AS min_i, (max(v_i) - min(v_i)) // 20 + 1 AS width_i
        |  FROM v
        |), s AS (
        |  SELECT (v_i - min_i) // width_i AS bucket, v_i, min_i, width_i
        |  FROM v CROSS JOIN b
        |)
        |SELECT bucket, min_i + bucket * width_i AS lo_i,
        |  min_i + (bucket + 1) * width_i - 1 AS hi_i,
        |  count(*) AS n, CAST(sum(v_i) AS BIGINT) AS sum_i
        |FROM s GROUP BY bucket, min_i, width_i ORDER BY bucket""".stripMargin),
    "q_pivot" -> QueryKey(qPivot,
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS "view",
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY cohort ORDER BY cohort""".stripMargin),
    "q_approx" -> QueryKey(qApproxChecked,
      // q_approx: the sketch values can't replay across engines — the
      // oracle recomputes the EXACT columns and asserts the error-bound
      // booleans as literal TRUE; a sketch out of tolerance flips the
      // Spark-side boolean and fails the hash compare (see qApproxChecked)
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_within_3rsd,
        |  TRUE AS p50_within_rank_eps,
        |  TRUE AS p95_within_rank_eps
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_gapfill" -> QueryKey(qGapfill,
      """WITH base AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hour_value
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM base GROUP BY 1
        |), spine AS (
        |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds
        |), joined AS (
        |  SELECT s.event_type, s.hour, b.n_events, b.hour_value
        |  FROM spine s LEFT JOIN base b
        |    ON s.event_type = b.event_type AND s.hour = b.hour
        |)
        |SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
        |  coalesce(n_events, 0) AS n_events,
        |  CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
        |  last_value(hour_value IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM joined ORDER BY event_type, hour""".stripMargin),
    "q_funnel" -> QueryKey(qFunnel,
      """WITH c AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY user_id
        |), v AS (
        |  SELECT c.user_id, min(e.ts) AS t2 FROM c JOIN events e
        |    ON e.user_id = c.user_id AND e.event_type = 'view' AND e.ts > c.t1
        |  GROUP BY c.user_id
        |), p AS (
        |  SELECT v.user_id, min(e.ts) AS t3 FROM v JOIN events e
        |    ON e.user_id = v.user_id AND e.event_type = 'purchase' AND e.ts > v.t2
        |  GROUP BY v.user_id
        |)
        |SELECT (SELECT count(*) FROM c) AS n_clicked,
        |       (SELECT count(*) FROM v) AS n_viewed_after,
        |       (SELECT count(*) FROM p) AS n_purchased_after""".stripMargin),
    "q_json" -> QueryKey(qJson,
      """WITH t AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_zorder" -> QueryKey(qZorder,
      s"""WITH staged AS (
         |  SELECT o_custkey & 65535 AS ck0, o_custkey AS ck,
         |    (epoch_us(o_orderdate) // 86400000000) & 65535 AS dy0,
         |    epoch_us(o_orderdate) // 86400000000 AS dy
         |  FROM orders
         |), z AS (
         |  SELECT ck, dy, ${zorderSql("ck0", "dy0")} AS z FROM staged
         |)
         |SELECT z >> 12 AS zbucket, count(*) AS n,
         |  min(ck) AS min_ck, max(ck) AS max_ck,
         |  min(dy) AS min_dy, max(dy) AS max_dy
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin),
    "q_percentile" -> QueryKey(qPercentile,
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_scd2" -> QueryKey(qScd2,
      """WITH cur AS (
        |  SELECT c_custkey, c_mktsegment AS segment, '1990-01-01' AS valid_from,
        |    CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
        |  FROM customer
        |), snap AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE c_mktsegment END AS segment
        |  FROM customer WHERE c_custkey % 97 <> 5
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEWKEY' FROM customer WHERE c_custkey % 50 = 0
        |), j AS (
        |  SELECT cur.c_custkey, cur.segment, cur.valid_from, cur.valid_to,
        |    cur.is_current, snap.c_custkey AS s_key, snap.segment AS s_segment
        |  FROM cur FULL OUTER JOIN snap ON cur.c_custkey = snap.c_custkey
        |)
        |SELECT c_custkey, segment, valid_from, valid_to, is_current FROM j
        |WHERE c_custkey IS NOT NULL AND s_key IS NOT NULL AND segment = s_segment
        |UNION ALL
        |SELECT c_custkey, segment, valid_from, '2024-06-01', false FROM j
        |WHERE c_custkey IS NOT NULL AND (s_key IS NULL OR segment <> s_segment)
        |UNION ALL
        |SELECT s_key, s_segment, '2024-06-01', CAST(NULL AS VARCHAR), true FROM j
        |WHERE s_key IS NOT NULL AND (c_custkey IS NULL OR segment <> s_segment)
        |ORDER BY 1, 3, 5""".stripMargin),
    "q_subquery" -> QueryKey(qSubquery,
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |    AS max_order
        |FROM customer
        |WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin),
    "q_profile" -> QueryKey(qProfile,
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
        |  count(DISTINCT l_quantity) AS qty_distinct,
        |  round(min(l_quantity), 6) AS qty_min,
        |  round(max(l_quantity), 6) AS qty_max,
        |  count(DISTINCT l_returnflag) AS flag_distinct,
        |  min(l_returnflag) AS flag_min,
        |  max(l_returnflag) AS flag_max,
        |  count(DISTINCT l_orderkey) AS orderkey_distinct,
        |  min(l_orderkey) AS orderkey_min,
        |  max(l_orderkey) AS orderkey_max
        |FROM lineitem""".stripMargin),
    "q_setop" -> QueryKey(qSetop,
      """SELECT 'with_orders' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'no_orders' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin),
    "fuzzy_join" -> QueryKey(qFuzzyJoin,
      // the naive theta join IS the spec; the Spark side's deletion-
      // neighborhood banding is lossless for dist <= 1 (FastSS property),
      // so the two agree exactly. DuckDB and Spark both implement classic
      // unit-cost Levenshtein.
      """SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM (SELECT DISTINCT p_name FROM part) a,
        |     (SELECT DISTINCT p_name FROM part) b
        |WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin),
    "q_temporal" -> QueryKey(qTemporal,
      """WITH v AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    TIMESTAMP '1990-01-01 00:00:00' AS vf FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'V2:' || c_mktsegment,
        |    TIMESTAMP '1996-01-01 00:00:00' FROM customer
        |)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date, v.segment
        |FROM orders o ASOF LEFT JOIN v
        |  ON o.o_custkey = v.c_custkey AND o.o_orderdate >= v.vf
        |ORDER BY o.o_orderkey""".stripMargin),
    "q_trailing" -> QueryKey(qTrailing,
      """SELECT event_type, event_id, epoch_us(ts) AS tu,
        |  count(*) OVER w AS trail_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trail_value
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |QUALIFY user_id < 5
        |ORDER BY event_type, tu, event_id""".stripMargin),
    "q_anomaly" -> QueryKey(qAnomaly,
      """WITH base AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, hour, v,
        |    count(*) OVER w AS n,
        |    CAST(sum(CAST(v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(v * v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s2
        |  FROM base
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |), scored AS (
        |  SELECT event_type, hour, v,
        |    s1 / CAST(n AS DOUBLE) AS mean,
        |    s2 / CAST(n AS DOUBLE) - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS variance,
        |    abs(v - s1 / CAST(n AS DOUBLE)) AS dev
        |  FROM stats WHERE n >= 12
        |)
        |SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
        |  round(v, 6) AS v, round(mean, 6) AS trail_mean,
        |  round(dev, 6) AS deviation
        |FROM scored
        |WHERE dev > 3.0 * sqrt(greatest(variance, 0.0))
        |ORDER BY event_type, hour""".stripMargin),
    "q_integrity" -> QueryKey(qIntegrity,
      """SELECT 'lineitems_without_order' AS "check", count(*) AS n FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'orders_without_customer', count(*) FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |UNION ALL
        |SELECT 'orders_without_lineitems', count(*) FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY "check"""".stripMargin),
    "q_asof" -> QueryKey(qAsof,
      """WITH clicks AS (
        |  SELECT user_id, ts, strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |    max(value) AS click_value
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, ts
        |), purch AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, p.event_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |  c.click_time, c.click_value
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, p.event_id""".stripMargin),
    "q_range" -> QueryKey(qRange,
      """WITH windows AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS lo, epoch_us(ts) + 600000000 AS hi
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT w.err_id, count(*) AS n_purchases,
        |  CAST(sum(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
        |FROM windows w, events p
        |WHERE p.event_type = 'purchase'
        |  AND epoch_us(p.ts) >= w.lo AND epoch_us(p.ts) <= w.hi
        |GROUP BY w.err_id
        |ORDER BY w.err_id""".stripMargin),
    "q1_agg" -> QueryKey(q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q3_join" -> QueryKey(q3Join,
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-09-15 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1995-09-15 00:00:00'
        |GROUP BY o_orderkey, o_date
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    "q5_multijoin" -> QueryKey(q5MultiJoin,
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM region, nation, customer, orders, lineitem
        |WHERE r_name IN ('ASIA','EUROPE')
        |  AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),
    "q_window" -> QueryKey(qWindow,
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    row_number() OVER w AS rn,
        |    sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 5 ORDER BY l_suppkey, rn""".stripMargin),
    "q_semi_anti" -> QueryKey(qSemiAnti,
      """SELECT 'with_orders' AS grp, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS grp, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY grp""".stripMargin),
    "q_rollup" -> QueryKey(qRollup,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    "q_cube" -> QueryKey(qCube,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    "q_unpivot" -> QueryKey(qUnpivot,
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
        |    CAST(l_quantity AS DOUBLE) AS value FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount',
        |    CAST(l_discount AS DOUBLE) FROM lineitem WHERE l_orderkey <= 100
        |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
    "q_topk_group" -> QueryKey(qTopkGroup,
      """SELECT * FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders
        |) WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin),
    "q_sessionize" -> QueryKey(qSessionize,
      """WITH gapped AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
        |  FROM gapped
        |)
        |SELECT user_id, CAST(session_num AS BIGINT) AS session_num, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM sess GROUP BY user_id, session_num
        |ORDER BY user_id, session_num""".stripMargin))
}
