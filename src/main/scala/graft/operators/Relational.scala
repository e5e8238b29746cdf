package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.GlobalRank
import graft.sources.Tables

/** Analytic operators over the star schema — the standard relational algebra
  * the reference delegates entirely to HANA/BigQuery (SURVEY.md §2.5 records
  * these categories as absent from the reference; they are table stakes for a
  * replacement engine and the bench headline set).
  *
  * Scale notes (100 TB design):
  *   - every dimension join below broadcasts the small side explicitly —
  *     region/nation/supplier/customer are classic broadcast dims; the only
  *     shuffles left are the aggregations' own partial->final exchanges;
  *   - aggregates use partial (map-side) combine by construction (groupBy.agg);
  *   - sums over doubles go through DECIMAL casts: exact, order-insensitive,
  *     so results are reproducible regardless of partitioning/AQE decisions.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: scan-heavy group-aggregate.
    * One shuffle (2 groups); decimal sums are associativity-safe. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // accumulate exactly in DECIMAL, emit DOUBLE: serialized decimal forms
        // differ across engines (trailing-zero scale), doubles hash identically
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-style shipping priority: 3-way join, group, top-10.
    * customer is a broadcast dim; orders⨝lineitem is the one real shuffle
    * join (both sides large at scale — sort-merge on orderkey, co-partitioned
    * by the join key so the groupBy on o_orderkey reuses the partitioning). */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp_ntz"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier revenue: 6-table star join with every
    * dimension broadcast; the fact table never shuffles for the joins. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val out = li
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
    out.groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** TPC-H Q7-style volume shipping: revenue between two nations per
    * direction per ship year. The double-nation join is TWO broadcasts of
    * the same 25-row dim under different aliases; the only real shuffle is
    * lineitem⨝orders on the order key. The symmetric pair filter pushes
    * into the broadcast joins before the exchange. */
  def volumeShipping(spark: SparkSession, dir: String,
                     nationA: String = "NATION_1",
                     nationB: String = "NATION_2"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
              (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q10-style returned-item ranking: which customers returned the
    * most revenue. customer/nation broadcast; the one shuffle is
    * lineitem⨝orders; final selection is a bounded TakeOrdered (limit k on
    * a sorted frame), never a global sort of all customers. */
  def returnedItemRevenue(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  /** Per-group top-k via ranking window — partitioned (scales: one shuffle on
    * the partition key, no global funnel). */
  def topKPerGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rk", "o_orderkey")
  }

  /** Per-group top-k via the typed bounded-heap [[graft.functions.TopKAggregator]] —
    * identical output to [[topKPerGroup]] (shared oracle), but partial
    * aggregation keeps only k rows per group per task instead of sorting
    * whole groups. */
  def topKPerGroupAgg(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregator._
    Tables.orders(spark, dir)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .as[OrderRow]
      .groupByKey(_.o_orderpriority)
      .agg(new TopKByPrice(k).toColumn.name("hits"))
      .flatMap { case (prio, hits) => hits.map(h => (prio, h.rk, h.o_orderkey, h.o_totalprice)) }
      .toDF("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rk", "o_orderkey")
  }

  /** Set operations: UNION (distinct) then EXCEPT (distinct) — semantics
    * matching SQL UNION/EXCEPT. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
    building.union(rich).distinct().except(auto).orderBy("c_custkey")
  }

  /** Semi/anti joins: customers with / without orders, one row each way. */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir).select("o_custkey")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .withColumn("has_orders", lit(true))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .withColumn("has_orders", lit(false))
    withOrders.unionAll(withoutOrders).orderBy("c_custkey")
  }

  /** Left-outer join + null-aware aggregation: every customer with their
    * order count and total — 0/0 for the orderless (count(col) skips nulls).
    * The preserved (customer) side cannot be the broadcast build side of an
    * outer join, so this is the co-partitioned shuffle-join shape; the
    * groupBy on the same key reuses the join's partitioning. */
  def outerJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_totalprice")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(sum(col("o_totalprice").cast("decimal(18,2)")), lit(0))
             .cast("double").as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Full-outer join of two per-day event aggregates: days where only one
    * side occurred survive with the other side null-coalesced to 0. */
  def fullOuterDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    def side(t: String, n: String) =
      e.filter(col("event_type") === t).groupBy("day")
        .agg(count(lit(1)).as(n))
    side("click", "n_click").join(side("view", "n_view"), Seq("day"), "full_outer")
      .select(col("day").cast("string").as("day"),
        coalesce(col("n_click"), lit(0L)).as("n_click"),
        coalesce(col("n_view"), lit(0L)).as("n_view"))
      .orderBy("day")
  }

  /** UNPIVOT (melt): wide per-flag aggregates to (flag, metric, value) long
    * form via `stack` — the inverse of [[pivotByStatus]]. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
           count(lit(1)).cast("double").as("n_rows"),
           // explicit exact-sum / count division (not avg()): both engines
           // then divide the same exact values in doubles — bit-identical
           (sum(col("l_discount").cast("decimal(18,6)")).cast("double")
             / count(lit(1))).as("avg_disc"))
      .selectExpr("l_returnflag",
        "stack(3, 'sum_qty', sum_qty, 'n_rows', n_rows, 'avg_disc', avg_disc) AS (metric, value)")
      .orderBy("l_returnflag", "metric")

  /** Ordered string aggregation (LISTAGG/string_agg): the 5 smallest
    * custkeys per market segment joined into one csv string — sorted inside
    * the aggregate so output is partition-order independent. */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("c_mktsegment")
      .agg(array_join(
        transform(sort_array(collect_list(col("c_custkey"))),
          x => x.cast("string")), ",").as("first_keys"))
      .orderBy("c_mktsegment")
  }

  /** Analytic window battery: ranking, offset, distribution, and frame
    * functions over one partitioned ordered window — unique order key makes
    * every function deterministic. */
  def windowBattery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wRunning = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 30) // keep output compact
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        dense_rank().over(w).cast("long").as("w_dense_rank"),
        percent_rank().over(w).as("w_percent_rank"),
        cume_dist().over(w).as("w_cume_dist"),
        ntile(4).over(w).cast("long").as("w_ntile"),
        lag("o_orderkey", 1).over(w).as("w_lag_key"),
        lead("o_orderkey", 1, -1L).over(w).as("w_lead_key"),
        first("o_orderkey").over(wRunning).as("w_first_key"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(wRunning)
          .cast("double").as("w_running_total"),
        count(lit(1)).over(w.rowsBetween(-1, 1)).as("w_neighbors"))
      .orderBy("o_orderpriority", "w_dense_rank", "o_orderkey")
  }

  /** Distinct aggregation per group. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"),
           countDistinct("l_suppkey").as("n_supps"),
           count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Explicit GROUPING SETS with grouping_id — finer than rollup/cube. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("gid"))

  /** CUBE totals over both grouping dimensions. */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Pivot: quantity totals by return flag, one column per line status. */
  def pivotByStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O", "P"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .orderBy("l_returnflag")

  /** Exact interpolated quantiles per group (continuous percentile). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("q25"),
        percentile(col("l_quantity"), lit(0.5)).as("q50"),
        percentile(col("l_quantity"), lit(0.75)).as("q75"))
      .orderBy("l_returnflag")

  /** Equi-width histogram of l_extendedprice: one map-side-combinable
    * aggregate — the narrow groupBy-on-a-derived-key shape that stays one
    * shuffle at any scale. Bounds are literals (not a min/max pre-pass), so
    * the plan is a single scan; doubles on both engines avoid
    * decimal-division semantics diverging between Spark and the oracle. */
  def priceHistogram(spark: SparkSession, dir: String,
                     width: Double = 5000.0): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(floor(col("l_extendedprice").cast("double") / width)
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice").cast("double")).as("lo"),
        max(col("l_extendedprice").cast("double")).as("hi"))
      .orderBy("bucket")

  /** Per-group z-score normalization of an integer metric: (x - mean)/std
    * with population std, computed from EXACT integer sums (sum, sum of
    * squares as decimal) so the final double arithmetic — two divisions, a
    * multiply, subtract, sqrt — is identical on any IEEE engine; no
    * Welford-style partition-order dependence (same argument as corrManual).
    * Groups with zero variance emit z = null rather than a division blow-up.
    *
    * Shape: one grouped aggregate over the group key (map-side combined),
    * its per-group stat row broadcast back over the row stream — the
    * normalize-within-stratum step a quality gate runs before thresholding,
    * e.g. doc length per language.
    *
    * Rows whose group key is NULL are preserved (left join) and emit
    * z = null — a null stratum has no distribution to normalize against.
    * The square is computed in DECIMAL, not the column's native integer
    * type: an int32 value column would overflow x*x silently at
    * |x| > 46340 with ANSI off (long at ~3e9); decimal(19,0) operands cover
    * the full long range and their product (decimal(38,0)) is exact. */
  def groupZScore(df: DataFrame, groupCol: String, valueCol: String,
                  broadcastGuardRows: Option[Long] = None): DataFrame = {
    val vDec = col(valueCol).cast("decimal(19,0)")
    val stats = df.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__s"),
        sum((vDec * vDec).cast("decimal(38,0)")).as("__ss"))
      .withColumn("__mean", col("__s").cast("double") / col("__n").cast("double"))
      .withColumn("__var",
        greatest(col("__ss").cast("double") / col("__n").cast("double")
          - col("__mean") * col("__mean"), lit(0.0)))
      .select(col(groupCol), col("__mean"), sqrt(col("__var")).as("__std"))
    // stat row count = group cardinality — small for real strata (languages,
    // sources) but unbounded in general; the guard degrades to a shuffle
    // join past the limit instead of failing at the 8 GB broadcast cap
    df.join(graft.core.Broadcasts.guarded(stats, broadcastGuardRows),
        Seq(groupCol), "left")
      .withColumn("z",
        when(col("__std") > 0.0,
          (col(valueCol).cast("double") - col("__mean")) / col("__std")))
      .drop("__mean", "__std")
  }

  /** ROBUST per-group outlier score: (x - median) / MAD — the
    * heavy-tail-safe companion to [[groupZScore]] (mean/std are themselves
    * dragged by the outliers a quality gate hunts; median/MAD are not).
    * Two grouped percentile passes (median, then median absolute
    * deviation), each producing a per-group stat row broadcast back over
    * the row stream. Interpolated medians of integers/exact doubles are
    * exact double arithmetic, so scores are engine-identical. Zero-MAD
    * groups (over half the values identical) emit null rather than a
    * division blow-up. Exact `percentile` buffers each group's values —
    * swap `percentile_approx` at 100 TB, same plan shape. */
  def groupRobustZ(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    val withMed = df.join(broadcast(med), Seq(groupCol))
    val mad = withMed.groupBy(groupCol)
      .agg(percentile(abs(col(valueCol).cast("double") - col("__med")), lit(0.5))
        .as("__mad"))
    withMed.join(broadcast(mad), Seq(groupCol))
      .withColumn("rz", when(col("__mad") > 0.0,
        (col(valueCol).cast("double") - col("__med")) / col("__mad")))
      .drop("__med", "__mad")
  }

  /** Distributed EXACT percentiles, bit-identical to Spark's `percentile`
    * (and therefore to the DuckDB `quantile_cont` oracle, the equivalence
    * `q_quantiles` proves): global order statistics via
    * [[GlobalRank.withRank]] — no single-buffer aggregation, no global
    * window — then the two bracketing order statistics per requested
    * fraction are picked by rank IN-PLAN (a 1-row count frame cross-joins
    * in, the filter keeps <= 2 rows per percentile) and interpolated with
    * Percentile's exact formula
    * `(higher - pos) * v_lo + (pos - lower) * v_hi`, `pos = p * (n-1)`,
    * with the integral-rank special case returning the exact element.
    * Returns ONE row with a column per requested percentile name.
    * This is the form that survives 100 TB: per-task state is one
    * partition's sort, the driver never sees values, and the only
    * broadcast is the one-row count. */
  def exactPercentiles(vals: DataFrame, v: String,
                       ps: Seq[(String, Double)]): DataFrame = {
    val nonNull = vals.filter(col(v).isNotNull)
    val cnt = nonNull.agg(count(lit(1)).as("__n"))
    val rn = GlobalRank.withRank(nonNull.select(col(v)), Seq(col(v).asc), "__rn")
      .crossJoin(broadcast(cnt))
    def pos(p: Double): Column = lit(p) * (col("__n") - 1).cast("double")
    def loIdx(p: Double): Column = floor(pos(p)).cast("long") + 1
    def hiIdx(p: Double): Column = ceil(pos(p)).cast("long") + 1
    val wanted = ps.map { case (_, p) =>
      col("__rn") === loIdx(p) || col("__rn") === hiIdx(p)
    }.reduce(_ || _)
    val picked = rn.filter(wanted)
    val aggs = ps.flatMap { case (name, p) => Seq(
      max(when(col("__rn") === loIdx(p), col(v))).as(s"__lo_$name"),
      max(when(col("__rn") === hiIdx(p), col(v))).as(s"__hi_$name"))
    }
    val out = picked.groupBy().agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(cnt))
    val cols = ps.map { case (name, p) =>
      val pp = pos(p)
      when(floor(pp) === ceil(pp), col(s"__lo_$name"))
        .otherwise((ceil(pp) - pp) * col(s"__lo_$name") +
          (pp - floor(pp)) * col(s"__hi_$name"))
        .as(name)
    }
    out.select(cols: _*)
  }

  /** Winsorized per-group stats: clip l_extendedprice to its global
    * [p05, p95] before aggregating — the outlier-trim every metadata-driven
    * quality gate needs (a mis-parsed field can't dominate a mean).
    *
    * The percentile pass is ONE global aggregate producing a 1-row bound
    * table; it broadcasts into the clip map (cross-join of a single row, not
    * a data join), so the second pass stays narrow + one grouped shuffle.
    *
    * Bound estimation is approx-FIRST: the default `percentile_approx`
    * (KLL-style sketch, rank error <= n/accuracy) keeps aggregation state
    * sketch-sized. `exact = true` is the bit-reproducible form for the
    * DuckDB oracle (= `quantile_cont`, proven by q_quantiles), computed by
    * [[exactPercentiles]] — distributed order statistics, NOT the
    * single-buffer `percentile` aggregate it replaced (which held all 600k
    * values in one buffer: 5.4 s at sf0.1 and an OOM at scale); the approx
    * path is oracle-checked separately by [[winsorizeApproxVerdict]]'s
    * rank-bound booleans. */
  def winsorizedStats(spark: SparkSession, dir: String,
                      exact: Boolean = false,
                      accuracy: Int = 10000): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = col("l_extendedprice")
    val bounds =
      // exact form: distributed order statistics (bit-identical to
      // `percentile`, which buffered all 600k values in ONE agg buffer —
      // 5.4 s at sf0.1 and an OOM at scale; measured ~4x faster here)
      if (exact) exactPercentiles(li.select(p.as("__v")), "__v",
        Seq("lo" -> 0.05, "hi" -> 0.95))
      else li.agg(
        percentile_approx(p, lit(0.05), lit(accuracy)).cast("double").as("lo"),
        percentile_approx(p, lit(0.95), lit(accuracy)).cast("double").as("hi"))
    li.join(broadcast(bounds))
      .withColumn("cl", least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        min("cl").as("cl_min"), max("cl").as("cl_max"),
        sum(col("cl").cast("decimal(18,2)")).cast("double").as("cl_sum"))
      .orderBy("l_returnflag")
  }

  /** Per-GROUP [[exactPercentiles]]: rank within each group via a
    * partitioned window (each group sorts in one task — spillable external
    * sort, unlike `percentile`'s in-memory buffer of the group's values),
    * bracketing order statistics picked in-plan, same exact interpolation.
    * One row per group, a column per requested percentile name. */
  def exactPercentilesByGroup(vals: DataFrame, g: String, v: String,
                              ps: Seq[(String, Double)]): DataFrame = {
    val nonNull = vals.filter(col(v).isNotNull)
    val cnt = nonNull.groupBy(g).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(g)).orderBy(col(v).asc)
    val rn = nonNull
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(broadcast(cnt), g)
    def pos(p: Double): Column = lit(p) * (col("__n") - 1).cast("double")
    def loIdx(p: Double): Column = floor(pos(p)).cast("long") + 1
    def hiIdx(p: Double): Column = ceil(pos(p)).cast("long") + 1
    val wanted = ps.map { case (_, p) =>
      col("__rn") === loIdx(p) || col("__rn") === hiIdx(p)
    }.reduce(_ || _)
    val aggs = ps.flatMap { case (name, p) => Seq(
      max(when(col("__rn") === loIdx(p), col(v))).as(s"__lo_$name"),
      max(when(col("__rn") === hiIdx(p), col(v))).as(s"__hi_$name"))
    } :+ max(col("__n")).as("__n")
    val out = rn.filter(wanted).groupBy(g).agg(aggs.head, aggs.tail: _*)
    val cols = col(g) +: ps.map { case (name, p) =>
      val pp = pos(p)
      when(floor(pp) === ceil(pp), col(s"__lo_$name"))
        .otherwise((ceil(pp) - pp) * col(s"__lo_$name") +
          (pp - floor(pp)) * col(s"__hi_$name"))
        .as(name)
    }
    out.select(cols: _*)
  }

  /** PER-GROUP winsorized stats: each group clips to its OWN [p05, p95] —
    * the stratified form of [[winsorizedStats]] (a language's length
    * distribution shouldn't be clipped by another's tails). Bounds are one
    * grouped pass (rows = #groups, broadcast back); approx-first like the
    * global form — `exact = true` only for the bit-reproducible oracle,
    * via [[exactPercentilesByGroup]]: a per-group SPILLABLE window sort
    * replaces the former in-memory `percentile` buffer of each group's
    * values, so a degenerate group can spill instead of OOM. */
  def groupWinsorizedStats(spark: SparkSession, dir: String,
                           exact: Boolean = false,
                           accuracy: Int = 10000): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = col("l_extendedprice")
    val bounds =
      if (exact) exactPercentilesByGroup(
        li.select(col("l_returnflag"), p.as("__v")), "l_returnflag", "__v",
        Seq("lo" -> 0.05, "hi" -> 0.95))
      else li.groupBy("l_returnflag").agg(
        percentile_approx(p, lit(0.05), lit(accuracy)).cast("double").as("lo"),
        percentile_approx(p, lit(0.95), lit(accuracy)).cast("double").as("hi"))
    li.join(broadcast(bounds), Seq("l_returnflag"))
      .withColumn("cl", least(greatest(p, col("lo")), col("hi")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        min("cl").as("cl_min"), max("cl").as("cl_max"),
        sum(col("cl").cast("decimal(18,2)")).cast("double").as("cl_sum"))
      .orderBy("l_returnflag")
  }

  /** Oracle harness for the approx winsorize path (the approxSketches
    * boolean-verdict pattern): sketch bounds aren't engine-reproducible, so
    * the checkable output is the exact row count plus booleans asserting the
    * sketch's RANK guarantee. `percentile_approx` returns a real element of
    * the data whose rank is within p*n ± n/accuracy; with ties that element
    * occupies the rank interval [#strictly-below + 1, #at-or-below], so the
    * tie-safe check is that this interval INTERSECTS the guarantee band. If
    * the sketch ever degrades past its published bound a boolean flips and
    * the hash gate goes red. */
  def winsorizeApproxVerdict(spark: SparkSession, dir: String,
                             accuracy: Int = 10000): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = col("l_extendedprice")
    val bounds = li.agg(
      percentile_approx(p, lit(0.05), lit(accuracy)).cast("double").as("lo_apx"),
      percentile_approx(p, lit(0.95), lit(accuracy)).cast("double").as("hi_apx"))
    def rankOk(q: Double, below: Column, atOrBelow: Column): Column = {
      val n = col("n").cast("double")
      val eps = n / accuracy + 1.0
      (below.cast("double") + 1.0 <= lit(q) * n + eps) &&
        (atOrBelow.cast("double") >= lit(q) * n - eps)
    }
    li.join(broadcast(bounds))
      .agg(count(lit(1)).as("n"),
        sum(when(p < col("lo_apx"), 1L).otherwise(0L)).as("below_lo"),
        sum(when(p <= col("lo_apx"), 1L).otherwise(0L)).as("aob_lo"),
        sum(when(p < col("hi_apx"), 1L).otherwise(0L)).as("below_hi"),
        sum(when(p <= col("hi_apx"), 1L).otherwise(0L)).as("aob_hi"))
      .select(col("n"),
        rankOk(0.05, col("below_lo"), col("aob_lo")).as("lo_rank_ok"),
        rankOk(0.95, col("below_hi"), col("aob_hi")).as("hi_rank_ok"))
  }

  /** Pearson correlation from exact integer-cent moments — the built-in
    * corr() uses incremental (Welford-style) accumulation whose result
    * depends on partition order; exact integer sums make the final double
    * arithmetic identical across engines and runs. Correlation is invariant
    * under linear scaling, so cents give the same value as units.
    *
    * Hot path is pure long arithmetic (codegen'd): `floor(v*100+0.5)` is an
    * exact cent decode for positive 2-dp doubles, and the per-row products
    * fit LONG (5e10 max). Only the sum buffers are DECIMAL — long-backed
    * with graceful promotion, so no per-row BigDecimal multiply (the old
    * decimal(38,4) form cost 10.5 s for 3 rows at sf0.1). */
  def corrManual(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir).select(
      col("l_returnflag"),
      floor(col("l_quantity") * 100 + 0.5).as("xc"),
      floor(col("l_extendedprice") * 100 + 0.5).as("yc"))
    cents
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc").cast("decimal(20,0)")).as("sx"),
        sum(col("yc").cast("decimal(20,0)")).as("sy"),
        sum((col("xc") * col("yc")).cast("decimal(30,0)")).as("sxy"),
        sum((col("xc") * col("xc")).cast("decimal(30,0)")).as("sxx"),
        sum((col("yc") * col("yc")).cast("decimal(30,0)")).as("syy"))
      .select(
        col("l_returnflag"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Sketch aggregates: HyperLogLog++ distinct counts and approximate
    * quantiles — the constant-memory forms for 100 TB cardinality work.
    * Sketch values themselves are engine-specific, so the oracle-checkable
    * output is (a) exact columns both engines can compute and (b) boolean
    * accuracy verdicts of the live sketch against the exact values computed
    * in the same pass — if the sketch ever degrades past its bound the
    * boolean flips and the hash gate goes red. */
  def approxSketches(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Two aggregation passes, joined on the 3-row group key: mixing
    // countDistinct (Expand) with TypedImperative buffers (percentile, HLL,
    // ApproximatePercentile) in ONE agg forces a sort-based plan that costs
    // 25 s at sf0.1; split, each agg gets its optimal physical operator and
    // the join is a broadcast of 3 rows.
    val exact = li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("l_partkey").as("n_parts_exact"),
        percentile(col("l_quantity"), lit(0.5)).as("median_exact"))
    val approx = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("apx_parts"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("apx_median"))
      .withColumnRenamed("l_returnflag", "flag2")
    exact.join(broadcast(approx), col("l_returnflag") === col("flag2"))
      .select(
        col("l_returnflag"), col("n_rows"), col("n_parts_exact"), col("median_exact"),
        (abs(col("apx_parts") - col("n_parts_exact")).cast("double")
          <= lit(0.05) * col("n_parts_exact").cast("double")).as("parts_within_rsd"),
        (abs(col("apx_median") - col("median_exact")) <= lit(1.0)).as("median_within_tol"))
      .orderBy("l_returnflag")
  }

  /** ROLLUP hierarchy totals. */
  /** Correlated-subquery battery: EXISTS, IN, NOT IN against a
    * NULL-carrying list, and a correlated scalar aggregate — exercising
    * Catalyst's DECORRELATION: every per-row subquery here plans as a
    * join (semi/anti/left-outer + aggregate), never a per-row subplan
    * execution, which is the difference between a 100 TB query finishing
    * and not.
    *
    * The NULL trap: ANSI three-valued logic makes `x NOT IN (list with a
    * NULL)` evaluate to NULL (never TRUE) for non-members. Spark honors
    * this in FILTER context (the optimized null-aware anti hash join,
    * SPARK-32290 — `n_null_trap` pins the zero-survivor result) but NOT in
    * projection context, where the ExistenceJoin rewrite yields FALSE
    * where ANSI says NULL — a real cross-engine divergence this battery
    * documents by construction: the projected `not_in_a` list is kept
    * NULL-free so both engines agree, and the trap runs where Spark is
    * ANSI-correct.
    *
    * The PLAN trap (found by measurement — 421 s at sf0.1): a projected
    * `NOT IN` parses to Not(InSubquery) and always rewrites to the
    * null-aware `(a = b OR isnull(a = b))` ExistenceJoin, whose only
    * physical implementation is BroadcastNestedLoopJoin — O(probe x list)
    * even when the list is provably NULL-free; the NAAJ hash-join
    * optimization applies to LeftAnti (filter) only. The fix is to
    * compute the positive `IN` (a plain hash ExistenceJoin) in an inner
    * select and negate the MATERIALIZED boolean outside — identical
    * semantics for a NULL-free list, hash-join plan, 400x faster. */
  def subqueryBattery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("__sq_ord")
    Tables.lineitem(spark, dir).createOrReplaceTempView("__sq_li")
    spark.sql(
      """SELECT o_orderkey, has_big, has_return,
        |  NOT coalesce(in_a, FALSE) AS not_in_a,
        |  n_items, max_qty, n_null_trap
        |FROM (
        |  SELECT o_orderkey,
        |    EXISTS(SELECT 1 FROM __sq_li
        |           WHERE l_orderkey = o_orderkey AND l_quantity > 45) AS has_big,
        |    o_orderkey IN (SELECT l_orderkey FROM __sq_li
        |                   WHERE l_returnflag = 'R') AS has_return,
        |    o_orderkey IN (SELECT l_orderkey FROM __sq_li
        |                   WHERE l_returnflag = 'A') AS in_a,
        |    (SELECT count(*) FROM __sq_li
        |     WHERE l_orderkey = o_orderkey) AS n_items,
        |    (SELECT max(l_quantity) FROM __sq_li
        |     WHERE l_orderkey = o_orderkey) AS max_qty,
        |    (SELECT count(*) FROM __sq_ord o2
        |     WHERE o2.o_orderkey NOT IN
        |       (SELECT CASE WHEN l_quantity > 49 THEN NULL ELSE l_orderkey END
        |        FROM __sq_li)) AS n_null_trap
        |  FROM __sq_ord) t ORDER BY o_orderkey""".stripMargin)
  }

  /** SPEARMAN rank correlation per group — the tie-robust, outlier-robust
    * companion to [[corrManual]]'s Pearson: correlate the RANKS, with ties
    * taking average ranks. Exactness: the doubled average rank
    * 2·avgrank = 2·rank_min + tiecount − 1 is an INTEGER, and Pearson is
    * invariant to per-variable affine maps, so the whole statistic runs on
    * integer moments (the corrManual decimal discipline) and one final
    * IEEE chain — no fractional rank ever materializes.
    *
    * Scale shape: two rank windows partitioned by the group (parallel
    * across groups, sorted within), then one grouped moment aggregate. */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame =
    spearmanBy(Tables.lineitem(spark, dir), "l_returnflag",
      "l_quantity", "l_extendedprice")

  /** Generic grouped Spearman (see [[spearmanCorr]] for the contract).
    *
    * Ranks come from VALUE-GRAIN maps, not a row-grain window (round-10
    * rework, the Mann-Whitney discipline below): a window partitioned by
    * `group` caps the sort at |groups| tasks — 3 for lineitem's returnflag
    * — so the full row stream sorted twice inside 3 tasks was the lane's
    * whole cost at sf1 and would be a scale-killer on a cluster. The
    * doubled average rank of a value v is the exact integer
    * 2·C_v + c_v + 1 (C_v rows strictly smaller, c_v ties), i.e.
    * 2·cum − c + 1 over the value-grain cumulative count — so the window
    * now runs over DISTINCT (group, value) rows only, and the row stream
    * meets the rank maps in two hash joins that parallelize freely. Output
    * bit-identical to the window form (2·rank + ties − 1 = 2(C+1) + c − 1 =
    * 2C + c + 1; RelationalMoreSpec pins it against the retained twin). */
  def spearmanBy(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    def rankMap(value: String, out: String, gAs: String, vAs: String): DataFrame = {
      val w = Window.partitionBy(group).orderBy(col(value))
      df.groupBy(col(group), col(value)).agg(count(lit(1)).as("__c"))
        .select(col(group).as(gAs), col(value).as(vAs),
          (sum("__c").over(w) * 2 - col("__c") + 1).cast("long").as(out))
    }
    // NULL-SAFE equi-joins (<=>): the window twin ranks null-valued rows
    // (orderBy sorts nulls first; a null group is its own partition), and
    // groupBy/partitionBy treat nulls identically on the rank-map side —
    // so null-bearing rows must MATCH here too, or n/rho diverge between
    // the two forms (RelationalMoreSpec pins a null-bearing input)
    val rx = rankMap(x, "rx", "__g_rx", "__v_rx")
    val ry = rankMap(y, "ry", "__g_ry", "__v_ry")
    val r = df.select(col(group), col(x), col(y))
      .join(rx, col(group) <=> col("__g_rx") && col(x) <=> col("__v_rx"))
      .join(ry, col(group) <=> col("__g_ry") && col(y) <=> col("__v_ry"))
      .select(col(group), col("rx"), col("ry"))
    r.groupBy(group)
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx").cast("decimal(20,0)")).as("sx"),
        sum(col("ry").cast("decimal(20,0)")).as("sy"),
        sum((col("rx") * col("ry")).cast("decimal(30,0)")).as("sxy"),
        sum((col("rx") * col("rx")).cast("decimal(30,0)")).as("sxx"),
        sum((col("ry") * col("ry")).cast("decimal(30,0)")).as("syy"))
      .select(
        col(group), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("spearman_rho"))
      .orderBy(group)
  }

  /** The pre-round-10 row-grain-window form of [[spearmanBy]], kept as the
    * parity twin: output must be identical (doubled ranks are the same
    * exact integers). */
  private[graft] def spearmanByWindow(df: DataFrame, group: String,
                                      x: String, y: String): DataFrame = {
    def ranked2(value: Column): Column = {
      val wr = Window.partitionBy(group).orderBy(value)
      val wt = Window.partitionBy(col(group), value)
      (lit(2) * rank().over(wr) + count(lit(1)).over(wt) - lit(1)).cast("long")
    }
    val r = df.select(col(group), col(x), col(y))
      .withColumn("rx", ranked2(col(x)))
      .withColumn("ry", ranked2(col(y)))
    r.groupBy(group)
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx").cast("decimal(20,0)")).as("sx"),
        sum(col("ry").cast("decimal(20,0)")).as("sy"),
        sum((col("rx") * col("ry")).cast("decimal(30,0)")).as("sxy"),
        sum((col("rx") * col("rx")).cast("decimal(30,0)")).as("sxx"),
        sum((col("ry") * col("ry")).cast("decimal(30,0)")).as("syy"))
      .select(
        col(group), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("spearman_rho"))
      .orderBy(group)
  }

  /** MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric "are these two
    * samples from the same distribution" test, for metrics where a mean
    * z-test misleads (skewed doc lengths, latency tails). Tie-corrected
    * normal approximation; `significant` at |z| > 1.96.
    *
    * Exactness: ranks are derived from VALUE-GRAIN counts (min-rank of a
    * value = cumulative count of smaller values + 1), so the doubled
    * average rank 2C_v + c_v + 1 and the doubled U statistic are exact
    * integers; σ² and z are one fixed IEEE chain at the end.
    *
    * Scale shape: one (value)-grain count aggregate over the row stream;
    * the rank ladder is a window over DISTINCT values — bounded by value
    * cardinality, not row count (for continuous metrics at corpus scale,
    * bin first; the test is rank-based, so binning = tie-grouping it
    * already models). */
  def mannWhitney(df: DataFrame, sampleCol: String, valueCol: String,
                  a: String, b: String): DataFrame = {
    val s = df.filter(col(sampleCol).isin(a, b))
      .select(col(sampleCol).as("g"), col(valueCol).as("v"))
    val counts = s.groupBy("v").agg(
      count(when(col("g") === a, 1)).as("na_v"),
      count(when(col("g") === b, 1)).as("nb_v"))
      .withColumn("c", col("na_v") + col("nb_v"))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = (coalesce(sum(col("c")).over(wv), lit(0L)) * 2 + col("c") + 1)
      .cast("long")
    val m = counts.withColumn("r2", r2)
      .agg(
        sum(col("na_v")).cast("long").as("n_a"),
        sum(col("nb_v")).cast("long").as("n_b"),
        sum((col("na_v") * col("r2")).cast("decimal(38,0)")).as("s2r_a"),
        sum((col("c") * col("c") * col("c") - col("c")).cast("decimal(38,0)"))
          .as("ties"))
    // all n_a*n_b products go through decimal(38,0) / per-factor double
    // BEFORE multiplying: a LONG product overflows once each sample
    // exceeds ~2e9 rows, silently at 100 TB
    val naD = col("n_a").cast("decimal(38,0)")
    val nbD = col("n_b").cast("decimal(38,0)")
    m.withColumn("n", col("n_a") + col("n_b"))
      .withColumn("u2_a", // doubled U_a: exact integer even under ties
        lit(2).cast("decimal(38,0)") * naD * nbD +
          naD * (col("n_a") + 1).cast("decimal(38,0)") - col("s2r_a"))
      .withColumn("sigma2",
        col("n_a").cast("double") * col("n_b").cast("double") *
          ((col("n") + 1).cast("double") -
            col("ties").cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double"))) / 12.0)
      .withColumn("z",
        (col("u2_a").cast("double") -
          col("n_a").cast("double") * col("n_b").cast("double")) /
          (lit(2.0) * sqrt(col("sigma2"))))
      .withColumn("significant", abs(col("z")) > 1.96)
      .select(col("n_a"), col("n_b"), col("u2_a").cast("double").as("u2_a"),
        col("z"), col("significant"))
  }

  /** One-way ANOVA (F-test) of a numeric column across K groups — the
    * K-sample companion to [[mannWhitney]]/[[ksTest]]: "do these sources/
    * languages/shards have the same mean at all", the first gate before
    * per-pair drill-downs. Emits one row: K, N, between/within sum of
    * squares, the F statistic, and η² (variance explained).
    *
    * Exactness discipline: per-group moments are exact decimals (operands
    * cast to decimal(19,0) BEFORE squaring — a long x·x overflows at
    * ~3e9, the [[mannWhitney]] lesson); K and N are exact; each group's
    * SSB/SSW term keeps its NUMERATOR in exact decimal ((s·N − S·n)² and
    * n·q − s², division the only float op — the naive q − s²/n double
    * chain cancels to 0 once the mean dwarfs the variance); the
    * cross-group reduction is a CONTRACTUAL LEFT FOLD over the
    * group-name-sorted ladder (`sort_array(collect_list)` + `aggregate`)
    * — the [[graft.operators.Funnel.survivalCurve]] pattern — because an
    * unordered IEEE sum is not an oracle. Zero-variance corpora emit
    * null F (0/0 has no answer), not an ANSI division error.
    *
    * Scale: one row-grain grouped aggregate (map-side combined) to K rows,
    * then a single K-element fold — the ladder is group-cardinality-sized
    * (languages, sources: tens), never row-sized. */
  def anovaOneWay(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(19,0)")
    val perGroup = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("s"),
        sum((vDec * vDec).cast("decimal(38,0)")).as("q"))
    val ladder = perGroup.agg(
      count(lit(1)).as("k"),
      sum("n").cast("long").as("n_total"),
      sum("s").cast("decimal(38,0)").as("s_tot"),
      sort_array(collect_list(struct(col("grp"), col("n"), col("s"), col("q"))))
        .as("__lad"))
    // each term's NUMERATOR is exact decimal — n·(mean_g − mean)² as
    // (s·N − S·n)²/(n·N²) and the within-SS as (n·q − s²)/n — because the
    // naive double chain q − s²/n catastrophically cancels once the mean
    // dwarfs the variance (measured: SSW → 0.0 exactly at mean ~3e9,
    // variance 1 — which then DIVIDES BY ZERO in F)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def nD(r: Column) = r.getField("n").cast("double")
    val nTotD = col("n_total").cast("double")
    val withSs = ladder
      .withColumn("ssb", aggregate(col("__lad"), lit(0.0), (acc, r) => {
        val d = (dec(r.getField("s")) * dec(col("n_total"))
          - col("s_tot") * dec(r.getField("n"))).cast("double")
        acc + d * d / (nD(r) * nTotD * nTotD)
      }))
      .withColumn("ssw", aggregate(col("__lad"), lit(0.0), (acc, r) => {
        val num = (dec(r.getField("q")) * dec(r.getField("n"))
          - dec(r.getField("s")) * dec(r.getField("s"))).cast("double")
        acc + num / nD(r)
      }))
    withSs.select(col("k"), col("n_total"), col("ssb"), col("ssw"),
      when(col("ssw") === 0.0, lit(null).cast("double"))
        .otherwise((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n_total") - col("k")).cast("double"))).as("f_stat"),
      when(col("ssb") + col("ssw") === 0.0, lit(null).cast("double"))
        .otherwise(col("ssb") / (col("ssb") + col("ssw"))).as("eta_sq"))
  }

  /** Welch two-sample t-test on a continuous metric — the A/B readout for
    * MEANS (the two-proportion z-test in [[Funnel.abTest]] covers
    * conversion rates; this covers revenue-per-user / length / latency,
    * where arm variances genuinely differ and pooled-variance Student's t
    * is the classic mistake). Exactly two arms; arms are compared in
    * SORTED label order (a = first).
    *
    * Exactness: values land on the 2⁻²⁰ grid via `floor(v·2²⁰)` (the
    * [[Funnel.cohortLtv]]/[[Funnel.rfmSegments]] pattern — a straight
    * decimal cast would HALF_UP-round fractional metrics, silently
    * corrupting means/variances for continuous revenue/latency inputs;
    * for integer metrics the grid is bit-identical since power-of-two
    * scaling commutes with IEEE rounding, so the integer oracle is
    * unchanged); per-arm moments (n, Σg, Σg²) are exact decimals on the
    * grid, de-scaled at the end by 2⁻²⁰ / 2⁻⁴⁰ — exact exponent shifts;
    * the mean DIFFERENCE uses the exact cross-multiplied numerator
    * (s_a·n_b − s_b·n_a)/(n_a·n_b) — subtracting two rounded per-arm
    * means catastrophically cancels when the effect is small relative to
    * the mean (the [[anovaOneWay]] lesson); each sample variance is the
    * exact-numerator (n·q − s²)/(n·(n−1)). After that: one division per
    * reported quantity and a fixed double tree for t and the
    * Welch–Satterthwaite df. Degenerate arms (n < 2 or zero variance on
    * both sides) yield null t/df, not a division error. No p-value — erf
    * is not engine-portable; the t statistic and the |t| > 1.96
    * large-sample 5% verdict are.
    *
    * Value DOMAIN: |v| < 2⁴³ (≈ 8.8e12). The 2⁻²⁰ grid long overflows the
    * `cast("long")` above that, and under the session's ANSI mode that
    * THROWS (CAST_OVERFLOW) rather than corrupting moments — fail-loud by
    * construction. The bound is not an artifact of choosing long over the
    * old decimal(19,0) grid: the per-arm Σg² accumulator is decimal(38,0),
    * and grid² ≤ 10³⁸ caps |grid| at ~10¹⁹ ⇒ |v| ≲ 9.5e12 — the same
    * order. A/B metrics (revenue, latency, lengths) sit many orders below
    * this; a metric near 10¹³ needs pre-scaling, not a wider grid.
    *
    * Scale shape: ONE row-grain map-side-combined aggregate to two arm
    * rows, then 1-row arithmetic over the sorted 2-element fold. */
  def welchTTest(df: DataFrame, armCol: String, valueCol: String): DataFrame = {
    // 2^-20 grid: exact long per value (|v| < 2^43 — see scaladoc; ANSI
    // throws on the cast beyond that), exact decimal moments thereafter
    val grid = floor(col(valueCol).cast("double") * lit(1048576.0)).cast("long")
    val gDec = grid.cast("decimal(19,0)")
    val arms = df
      .filter(col(armCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(grid.cast("decimal(38,0)")).as("s"),
        sum((gDec * gDec).cast("decimal(38,0)")).as("q"))
    val two = arms.agg(
      count(lit(1)).as("k"),
      sort_array(collect_list(struct(col("arm"), col("n"), col("s"), col("q"))))
        .as("__a"))
    def f(i: Int, name: String) = element_at(col("__a"), i).getField(name)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val (na, nb) = (f(1, "n"), f(2, "n"))
    val (sa, sb) = (f(1, "s"), f(2, "s"))
    val (qa, qb) = (f(1, "q"), f(2, "q"))
    // sample variances, exact numerators on the grid, de-scaled by 2^-40
    // (exact exponent shift — bit-identical to the ungridded form for
    // integer metrics)
    def sVar(n: Column, s: Column, q: Column): Column =
      when(n >= 2L, (dec(q) * dec(n) - dec(s) * dec(s)).cast("double") /
        (n * (n - 1L)).cast("double") / lit(1.099511627776e12))
    val base = two.filter(col("k") === 2).select(
      f(1, "arm").as("arm_a"), f(2, "arm").as("arm_b"),
      na.cast("long").as("n_a"), nb.cast("long").as("n_b"),
      (dec(sa).cast("double") / na.cast("double") / lit(1048576.0))
        .as("mean_a"),
      (dec(sb).cast("double") / nb.cast("double") / lit(1048576.0))
        .as("mean_b"),
      ((dec(sa) * dec(nb) - dec(sb) * dec(na)).cast("double") /
        (dec(na) * dec(nb)).cast("double") / lit(1048576.0)).as("mean_diff"),
      sVar(na, sa, qa).as("var_a"), sVar(nb, sb, qb).as("var_b"))
    val ra = col("var_a") / col("n_a").cast("double")
    val rb = col("var_b") / col("n_b").cast("double")
    base
      .withColumn("se2", ra + rb)
      .withColumn("t_stat",
        when(col("se2") > 0.0, col("mean_diff") / sqrt(col("se2"))))
      .withColumn("df_welch",
        when(col("se2") > 0.0 && col("n_a") >= 2L && col("n_b") >= 2L,
          (col("se2") * col("se2")) /
            (ra * ra / (col("n_a") - 1L).cast("double") +
             rb * rb / (col("n_b") - 1L).cast("double"))))
      .withColumn("significant",
        when(col("t_stat").isNotNull, abs(col("t_stat")) > 1.96))
      .select("arm_a", "arm_b", "n_a", "n_b", "mean_a", "mean_b",
        "mean_diff", "var_a", "var_b", "t_stat", "df_welch", "significant")
  }

  /** Chi-square test of INDEPENDENCE between two categoricals — per-cell
    * contributions. The contingency companion to [[anovaOneWay]]: "is the
    * event mix independent of the weekday / is language independent of
    * source" — the audit run before trusting a stratified sample's margins.
    *
    * Exactness: each cell's term (n−e)²/e is algebraically
    * `(N·n − r·c)² / (N·r·c)` — numerator and denominator EXACT decimals
    * (margins are counts), one IEEE division per cell; `expected` is one
    * division too. No subtraction of rounded doubles anywhere.
    *
    * Scale: one row-grain aggregate to the R×C cell grid (map-side
    * combined); margins are windows over the CELL FRAME (bounded by
    * category cardinalities, never row count). */
  def chi2Cells(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val observed = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("r"), col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n"))
    // DENSIFY to the full R x C grid: an unobserved cell contributes
    // (0 − e)²/e = e to the statistic — dropping zero cells silently
    // understates chi2 (caught by the perfect-association spec: V read
    // 0.79 where 1.0 is forced). The grid frames are category-grain —
    // broadcast ENFORCED, not left to stats-free size estimation (a
    // shared-session AQE run was seen picking SMJ here).
    val cells = observed.select("r").distinct()
      .crossJoin(broadcast(observed.select("c").distinct()))
      .join(broadcast(observed), Seq("r", "c"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wR = Window.partitionBy("r")
    val wC = Window.partitionBy("c")
    val wAll = Window.partitionBy()
    def dec(x: Column) = x.cast("decimal(19,0)")
    cells
      .withColumn("rt", sum("n").over(wR))
      .withColumn("ct", sum("n").over(wC))
      .withColumn("nt", sum("n").over(wAll))
      .select(col("r"), col("c"), col("n"),
        ((dec(col("rt")) * dec(col("ct"))).cast("double") /
          col("nt").cast("double")).as("expected"),
        {
          val d = (dec(col("nt")) * dec(col("n"))
            - dec(col("rt")) * dec(col("ct"))).cast("double")
          (d * d / (dec(col("nt")) * dec(col("rt")) * dec(col("ct")))
            .cast("double")).as("term")
        })
      .orderBy("r", "c")
  }

  /** Single-row chi-square summary over [[chi2Cells]]'s grid: the statistic
    * (contractual (r,c)-ordered fold — an unordered IEEE sum is not an
    * oracle), degrees of freedom, and Cramér's V (one sqrt — correctly
    * rounded IEEE, engine-portable). No p-value is emitted (the chi-square
    * CDF is transcendental, banned house-wide); V is the effect size a
    * pipeline thresholds on. */
  def chi2Independence(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = chi2Cells(df, rowCol, colCol)
    val ladder = cells.agg(
      count(lit(1)).as("n_cells"),
      countDistinct("r").as("n_rows"),
      countDistinct("c").as("n_cols"),
      sum("n").cast("long").as("n_total"),
      sort_array(collect_list(struct(col("r"), col("c"), col("term"))))
        .as("__lad"))
    ladder
      .withColumn("chi2", aggregate(col("__lad"), lit(0.0),
        (acc, t) => acc + t.getField("term")))
      .select(col("n_total"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2"),
        sqrt(col("chi2") / (col("n_total").cast("double") *
          least(col("n_rows") - 1, col("n_cols") - 1).cast("double")))
          .as("cramers_v"))
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two categorical
    * raters (two classifiers, a heuristic gate vs a model, two annotation
    * runs): the eval that distinguishes "they agree 80% of the time" from
    * "they agree 80% of the time but chance alone gives 75%".
    *
    * Exactness: with N = total, D = Σ diagonal agreement, and
    * E = Σ_k row_k·col_k (the chance-agreement cross product),
    * κ = (N·D − E) / (N² − E) — numerator and denominator EXACT decimals,
    * ONE division; p_o = D/N and p_e = E/N² are one division each.
    * Degenerate case: a single category on both sides makes N² = E
    * (chance explains everything) — κ emits null, not a division error.
    *
    * Scale: one row-grain aggregate to the K×K cell grid, margins as
    * cell-frame windows (the [[chi2Cells]] shape), one K²-ladder fold. */
  def cohensKappa(df: DataFrame, raterA: String, raterB: String): DataFrame = {
    val cells = df
      .filter(col(raterA).isNotNull && col(raterB).isNotNull)
      .groupBy(col(raterA).cast("string").as("a"), col(raterB).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))
    def dec(x: Column) = x.cast("decimal(19,0)")
    val lad = cells.agg(
      sum("n").cast("long").as("n_total"),
      sum(when(col("a") === col("b"), col("n")).otherwise(lit(0L)))
        .cast("long").as("d_agree"),
      countDistinct("a").as("k_a"),
      countDistinct("b").as("k_b"))
    // E = Σ_k row_k·col_k over categories BOTH raters use (a one-sided
    // category has the other margin 0 and contributes nothing) — an
    // equi-join of the two category-grain margin frames
    val ra = cells.groupBy("a").agg(sum("n").as("rt"))
    val rb = cells.groupBy("b").agg(sum("n").as("ct"))
    val e = ra.join(rb, col("a") === col("b"))
      .agg(coalesce(sum((dec(col("rt")) * dec(col("ct"))).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("e_cross"))
    val nD = col("n_total").cast("decimal(38,0)")
    lad.crossJoin(broadcast(e))
      .select(col("n_total"), col("k_a"), col("k_b"), col("d_agree"),
        (col("d_agree").cast("double") / col("n_total").cast("double")).as("p_o"),
        (col("e_cross").cast("double") /
          (nD * nD).cast("double")).as("p_e"),
        when((nD * nD).cast("decimal(38,0)") === col("e_cross"),
          lit(null).cast("double"))
          .otherwise((nD * dec(col("d_agree")) - col("e_cross")).cast("double") /
            ((nD * nD) - col("e_cross")).cast("double")).as("kappa"))
  }

  /** EXACT WEIGHTED percentiles — the percentile of a value distribution
    * where each row counts `weight` times (token-weighted doc length,
    * byte-weighted file age …): the curation metric that answers "what
    * does the TOKEN MASS see", which differs from the row-grain percentile
    * whenever size correlates with the value (it always does).
    *
    * Exact lower weighted percentile: smallest v whose cumulative weight
    * reaches ⌈p·W/100⌉ — all integer arithmetic (the cumulative ladder is
    * a window over the VALUE-grain aggregate, bounded by value cardinality
    * like [[mannWhitney]]'s rank ladder; 100·cumW ≥ p·W compares exact
    * decimals, no division anywhere).
    *
    * Scale: one value-grain aggregate (map-side combined), one ladder
    * window, a ladder × |ps| broadcast probe. */
  def weightedPercentiles(df: DataFrame, valueCol: String, weightCol: String,
                          ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100], got $ps")
    val byV = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    val wLad = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val ladder = byV
      .withColumn("cw", sum("w").over(wLad))
      .withColumn("tw", sum("w").over(wAll))
    val probes = explode(array(ps.distinct.sorted.map(p => lit(p)): _*)).as("p")
    ladder.select(col("v"), col("cw"), col("tw"), probes)
      // smallest v with 100*cw >= p*W  (exact decimals, division-free)
      .where(col("cw").cast("decimal(38,0)") * 100 >=
        col("p").cast("decimal(38,0)") * col("tw").cast("decimal(38,0)"))
      .groupBy(col("p").cast("long").as("p"))
      .agg(min("v").as("value"), max("tw").cast("long").as("total_weight"))
      .orderBy("p")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV test — the distribution-drift companion
    * to [[mannWhitney]]: D = max |F_a(v) - F_b(v)| over the pooled value
    * axis, the standard "did this feed's distribution shift" gate run
    * before retraining on a new snapshot. Where Mann-Whitney detects a
    * location shift, KS is sensitive to ANY CDF divergence (shape, spread,
    * truncation — the failure modes a broken parser actually produces).
    *
    * Exactness: the ECDF gap is kept as the INTEGER cross-product
    * |C_a·n_b - C_b·n_a| (decimal(38,0) — a long product overflows past
    * ~2e9 rows per sample) and divided once at the end, so D is one exact
    * integer ratio and the scaled statistic / verdict are a short fixed
    * IEEE chain both engines evaluate identically. `reject_05` applies the
    * large-sample critical value c(0.05) = 1.358 to
    * D·sqrt(n_a·n_b/(n_a+n_b)).
    *
    * Scale shape: same as [[mannWhitney]] — one (value)-grain count
    * aggregate over the row stream, then a window over DISTINCT values
    * (bounded by value cardinality, not row count; bin continuous metrics
    * first — the ECDF gap of the binned distribution is what drift
    * monitoring compares anyway). Totals ride in as a broadcast 1-row
    * frame, so the plan is two map-side-combinable aggregates and one
    * bounded window. */
  /** Per-group tie-corrected AUC of a ranking signal against a subgroup
    * indicator — "how separable is the subgroup under this score?". The
    * two readings that matter in a curation stack: classifier quality
    * (label = ground truth; AUC is the ranking metric that ignores
    * calibration) and BIAS audit (label = subgroup membership; AUC far
    * from 0.5 means the score systematically ranks the subgroup apart).
    *
    * Exactness: AUC is the Mann-Whitney U up to normalization, so the
    * whole computation is the [[ksTest]]/[[mannWhitney]] count-ladder —
    * value-grain counts, one bounded per-group window, the doubled-U kept
    * as an exact decimal (2U = sum np_v*(2*cum_neg_below + nn_v), ties
    * counted half), ONE division at the end. NULL when a group lacks
    * either class. Value-grain exchange only. */
  def aucByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                 labelCol: Column): DataFrame = {
    val s = df.select(col(groupCol).as("g"), col(scoreCol).as("v"),
      labelCol.as("y"))
    val vg = s.groupBy("g", "v").agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("y"), 1L).otherwise(0L)).as("nn"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lad = vg.withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
    lad.groupBy("g")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        // decimal BEFORE the multiply — the doubled-U products overflow
        // LONG once each class exceeds ~2e9 rows (the mannWhitney lesson)
        sum(col("np").cast("decimal(38,0)")
          * (col("cum_nn").cast("decimal(38,0)") * 2 + col("nn")))
          .cast("decimal(38,0)").as("u2"))
      .select(col("g"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double")
            / (col("n_pos").cast("decimal(38,0)") * col("n_neg") * 2)
              .cast("double"))
          .as("auc"))
      .orderBy("g")
  }

  def ksTest(df: DataFrame, sampleCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    val s = df.filter(col(sampleCol).isin(a, b))
      .select(col(sampleCol).as("g"), col(valueCol).as("v"))
    val counts = s.groupBy("v").agg(
      count(when(col("g") === a, 1)).as("na_v"),
      count(when(col("g") === b, 1)).as("nb_v"))
    val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("ca", sum(col("na_v")).over(wv))
      .withColumn("cb", sum(col("nb_v")).over(wv))
    val tot = counts.agg(
      sum(col("na_v")).cast("long").as("n_a"),
      sum(col("nb_v")).cast("long").as("n_b"))
    val naD = col("n_a").cast("decimal(38,0)")
    val nbD = col("n_b").cast("decimal(38,0)")
    val m = cum.crossJoin(broadcast(tot))
      .withColumn("gap",
        abs(col("ca").cast("decimal(38,0)") * nbD -
            col("cb").cast("decimal(38,0)") * naD))
      .groupBy().agg(max(col("gap")).as("d_num"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    m.withColumn("d", col("d_num").cast("double") / (nad * nbd))
      .withColumn("ks_scaled", col("d") * sqrt((nad * nbd) / (nad + nbd)))
      .withColumn("reject_05", col("ks_scaled") > 1.358)
      .select(col("n_a"), col("n_b"), col("d"), col("ks_scaled"),
        col("reject_05"))
  }

  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
           sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** TPC-H Q14 shape — promo revenue share: one month of lineitem joins the
    * part dim (broadcast), a conditional decimal sum over the joined stream,
    * one global 1-row aggregate. The filter hits the parquet scan
    * (PushedFilters), so the join sees a month, not the table. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
    val disc = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,10)")
    li.join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast("decimal(28,10)")))
          .cast("double").as("promo_rev"),
        sum(disc).cast("double").as("total_rev"),
        count(lit(1)).as("n_lines"))
      .withColumn("promo_share_pct",
        lit(100.0) * col("promo_rev") / col("total_rev"))
  }

  /** TPC-H Q19 shape — disjunctive multi-attribute predicates: an OR of
    * brand/size/quantity conjunctions across the lineitem⨝part join. The
    * interesting plan property: the per-side halves of the disjunction
    * (l_quantity bounds, p_size bounds) are derivable and pushable, and the
    * join stays a broadcast hash join with the residual OR as a join-level
    * filter — no nested-loop fallback. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50)))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q12 shape — conditional two-way counts across a fact-fact join:
    * per returnflag, how many lines belong to urgent/high-priority orders
    * vs the rest. One sort-merge join on orderkey; the CASE sums are
    * map-side-combinable integers. */
  def priorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q18 shape — large-quantity orders: a HAVING aggregate over the
    * fact table feeds a semi-style join back to orders + the customer dim,
    * then a bounded TakeOrdered selection. The over-threshold relation is
    * keyed by l_orderkey — it SCALES WITH THE FACT TABLE, so it must NOT
    * carry a broadcast hint (the round-7 full-suite sf1 probe measured the
    * hinted form at 129 s / exponent 2.1: millions of qualifying orderkeys
    * forced into a driver broadcast). AQE broadcasts it when it measures
    * small and shuffles it when it doesn't — the orderkey join is
    * key-aligned either way. The customer dim stays hinted. */
  def largeOrders(spark: SparkSession, dir: String, minQty: Long = 150,
                  k: Int = 20): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(k)
      .orderBy("o_orderkey")
  }

  /** The fixture's `l_shipdate > o_orderdate` stands in for TPC-H's
    * commit/receipt-date lateness (those columns are absent from the
    * synthetic schema); the predicate keeps the original's join-level
    * inequality, which is the part that exercises the plan. */
  private def lateShip: Column =
    col("l_shipdate") > col("o_orderdate")

  private def discounted: Column =
    (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,10)")

  /** TPC-H Q4 shape — order-priority checking: a quarter of orders,
    * EXISTS-reduced against lineitem on orderkey plus a join-level
    * inequality (late shipment). Plans as one LEFT SEMI join on the
    * orderkey — the probe side never duplicates orders however many
    * lines match, so the count is join-shape-independent. */
  def orderPriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li, col("o_orderkey") === col("l_orderkey") && lateShip, "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 shape — forecast-revenue change: the canonical pushdown
    * showcase. All three predicates (shipdate range, discount band,
    * quantity cap) are scan-pushable conjuncts over one table; the plan is
    * scan -> partial agg -> 1-row final. At 100 TB this reads only the
    * min/max-pruned row groups of three columns. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
              col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(28,10)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q8 shape — national market share: per order year, the share of
    * revenue (customer region = EUROPE) delivered by suppliers of one
    * nation. lineitem⨝orders is the single fact-fact shuffle; customer,
    * both nation roles, and region broadcast. The share is a conditional
    * decimal sum over the joined stream — no second pass. */
  def marketShare(spark: SparkSession, dir: String,
                  supplierNation: String = "NATION_7",
                  custRegion: String = "EUROPE"): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val custEu = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === custRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNat = Tables.supplier(spark, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custEu), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        // re-round the exact sum to scale 4 before the double cast: DuckDB's
        // decimal->double cast double-rounds when the scaled integer exceeds
        // 2^53 (10-digit scale does at ~1e8), Spark's BigDecimal does not —
        // at scale 4 the cast is exact in both engines
        sum(when(col("supp_nation") === supplierNation, discounted)
          .otherwise(lit(0).cast("decimal(28,10)")))
          .cast("decimal(28,4)").cast("double").as("nation_rev"),
        sum(discounted).cast("decimal(28,4)").cast("double").as("total_rev"))
      .withColumn("mkt_share", col("nation_rev") / col("total_rev"))
      .orderBy("o_year")
  }

  /** TPC-H Q13 shape — customer order-count distribution: orders pre-
    * aggregate to one row per customer BEFORE the outer join (the join
    * input shrinks from |orders| to |customers|), then a second tiny
    * aggregation over counts. Both shuffles key on custkey/c_count;
    * nothing rides the join but two longs. */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 shape — top supplier: quarterly revenue per supplier, then
    * selection of the max-revenue row(s) via a 1-row broadcast of the max
    * joined back — the view+scalar-subquery form without recomputing the
    * revenue aggregate (it is reused across both sides). */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
      .groupBy("l_suppkey")
      .agg(sum(discounted).cast("double").as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 shape — small-quantity-order revenue: the correlated
    * per-part average decorrelates into one aggregate over the SAME
    * filtered fact slice, broadcast back by partkey. The brand filter
    * prunes part first, and the pruned key set semi-reduces lineitem
    * before either aggregate runs. */
  def smallQtyRevenue(spark: SparkSession, dir: String,
                      brand: String = "Brand#4"): DataFrame = {
    val pk = Tables.part(spark, dir).filter(col("p_brand") === brand)
      .select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    // divisions happen in DOUBLE on exactly-summed decimals: decimal/decimal
    // division scale rules differ across engines, double division is IEEE
    val avgQty = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgQty), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting: the textbook
    * form is a self-join with EXISTS (another supplier in the order) and
    * NOT EXISTS (another LATE supplier). Decorrelated here into ONE
    * aggregate over the order: distinct-supplier count and distinct-late-
    * supplier count per orderkey, joined back against the late lines —
    * lineitem is scanned twice but shuffled on orderkey once, vs the
    * textbook plan's two additional self-join passes. The per-order frame
    * is keyed by orderkey and SCALES WITH THE FACT TABLE, so it carries no
    * broadcast hint (the round-7 full-suite sf1 probe measured the hinted
    * form at 47 s / exponent 1.5); both sides already hash on orderkey, so
    * AQE picks broadcast only when the filtered frame measures small. The
    * oracle runs the EXISTS/NOT-EXISTS form, proving the reformulation
    * equivalent. */
  def waitingSuppliers(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val lo = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
    val perOrder = lo.groupBy(col("l_orderkey").as("po_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(lateShip, col("l_suppkey"))).as("n_late_supp"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
    lo.filter(lateShip)
      .join(perOrder, col("l_orderkey") === col("po_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(k).orderBy("s_suppkey")
  }

  /** Derived supply relation standing in for TPC-H's absent `partsupp`
    * table: one row per (partkey, suppkey) that actually shipped, with the
    * observed minimum unit price as the supply cost. One shuffle on the
    * composite key; every Q2/Q16/Q20 shape below starts from it, so at
    * scale it is the materialize-once input (same pre-aggregation the
    * textbook plans get for free from the real partsupp table). */
  private def supplyRelation(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_unit_cost"),
           sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("ps_total_qty"))

  /** TPC-H Q2 shape — minimum-cost supplier: for each ECONOMY part, the
    * supplier(s) in EUROPE offering the lowest observed unit price. The
    * correlated MIN subquery decorrelates into a per-part aggregate over
    * the SAME region-filtered supply slice, joined back on partkey —
    * supply is shuffled on partkey once and the min table rides the same
    * partitioning. Dims (part/supplier/nation/region) all broadcast. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val europeSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val parts = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .select("p_partkey", "p_brand", "p_size")
    val supply = supplyRelation(spark, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(europeSupp), col("ps_suppkey") === col("s_suppkey"))
    val minCost = supply.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min(col("ps_unit_cost")).as("min_cost"))
    supply.join(minCost, col("ps_partkey") === col("mc_partkey") &&
        col("ps_unit_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"), col("ps_unit_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100).orderBy("p_partkey", "s_name")
  }

  /** TPC-H Q9 shape — product-type profit by nation and year. The fixture
    * schema has no ps_supplycost; the cost proxy is half the part's retail
    * price per unit (deterministic, documented — the plan shape is what's
    * exercised: fact ⨝ filtered-part ⨝ supplier ⨝ nation, all dims
    * broadcast, one groupBy shuffle on (nation, year)). */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val gearParts = Tables.part(spark, dir).filter(col("p_name").contains("gear"))
      .select("p_partkey", "p_retailprice")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    Tables.lineitem(spark, dir)
      .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            lit(0.5) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(28,10)")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape — important inventory value: per-part shipped value
    * restricted to one nation's suppliers, kept where it exceeds a fixed
    * fraction of that slice's total. The scalar total is a 1-row broadcast
    * (crossJoin), the per-part aggregate is the one real shuffle. */
  def importantParts(spark: SparkSession, dir: String,
                     nationName: String = "NATION_7",
                     fraction: Double = 0.001): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val slice = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("v"))
    val perPart = slice.groupBy("l_partkey")
      .agg(sum(col("v").cast("decimal(28,10)")).cast("double").as("part_value"))
    val total = slice.agg(
      (sum(col("v").cast("decimal(28,10)")).cast("double") * fraction).as("threshold"))
    perPart.join(broadcast(total))
      .filter(col("part_value") > col("threshold"))
      .select("l_partkey", "part_value")
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q16 shape — supplier count by part attributes: distinct
    * suppliers per (brand, type, size) over the derived supply relation,
    * excluding one brand, one type prefix, and a NOT-IN supplier set
    * (negative account balance stands in for the original's complaints
    * filter). Anti join broadcasts the tiny excluded set; the distinct
    * count is the one real shuffle. */
  def supplierCountByPart(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").startsWith("SMALL") &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("x_suppkey"))
    supplyRelation(spark, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("ps_suppkey") === col("x_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape — promotion-eligible suppliers: suppliers having some
    * 'small' part whose shipments in 1997 exceeded 30% of their all-time
    * shipments of that part. The nested correlated aggregate collapses to
    * ONE conditional-sum pass over the part-filtered fact (no second scan),
    * and the supplier list is a LEFT SEMI join on the qualifying suppkeys —
    * the oracle runs the textbook EXISTS form to prove equivalence. */
  def promotionSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(spark, dir).filter(col("p_name").startsWith("small"))
      .select("p_partkey")
    val in1997 = col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
      col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")
    val qualifying = Tables.lineitem(spark, dir)
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(when(in1997, col("l_quantity")).otherwise(lit(0.0))
            .cast("decimal(18,2)")).cast("double").as("qty_1997"),
           sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_total"))
      .filter(col("qty_1997") > lit(0.3) * col("qty_total"))
      .select("l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 shape — sales opportunity: customers above the global
    * positive-balance average with no RECENT orders (every fixture
    * customer has some order, so the anti join keys on the recent window
    * — same plan shape as the original's NOT EXISTS). The scalar average
    * is a 1-row broadcast; the anti side pre-distincts to one row per
    * customer before the join. */
  def salesOpportunity(spark: SparkSession, dir: String,
                       recentSince: String = "2000-06-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(recentSince).cast("timestamp_ntz"))
      .select("o_custkey").distinct()
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
      .orderBy("nation")
  }
}
