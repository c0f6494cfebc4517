package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.WeightedAvg
import graft.model.CassandraModel
import graft.operators.Pipeline.hExpr
import graft.sources.Tables

/** Relational operator surface over the star schema.
  *
  * The reference itself executes only scan/project/limit
  * (userdata/cloudinit.sh:346-351); everything else here is the extension
  * surface mandated by the north star, expressed declaratively so Catalyst
  * picks pushdown, pruning, join strategy and AQE does runtime re-planning.
  *
  * Determinism contract with the DuckDB oracle (SURVEY.md §5.2/§7.4):
  *   - every query ends in a total ORDER BY;
  *   - money aggregates are computed in exact DECIMAL and cast to DOUBLE at
  *     the end, so Spark's partial-aggregation order can't perturb the value;
  *   - every computed column is aliased identically in Spark and SQL.
  *
  * Scale notes are per-query in the Scaladoc of each entry.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact money arithmetic: 2-dp doubles → DECIMAL(12,2). */
  private def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Holt-Winters shared expression text (q_holt_winters + q_forecast_mase
    * — one recursion, two consumers, so the forecast and its evaluation
    * can never desynchronize). 9-slot DOUBLE array accumulator
    * [level, trend, s₋₆..s₀]; level recomputes inline (same expression,
    * same value) so both engines run one IEEE tree per step. */
  private val hwNl = "(0.5D * (e - element_at(a, 3)) + " +
    "0.5D * (element_at(a, 1) + element_at(a, 2)))"
  private val hwStep = s"(a, e) -> concat(" +
    s"array($hwNl, 0.5D * ($hwNl - element_at(a, 1)) + 0.5D * element_at(a, 2)), " +
    "slice(a, 4, 6), " +
    s"array(0.5D * (e - $hwNl) + 0.5D * element_at(a, 3)))"
  private val hwL7 = "(aggregate(slice(vals, 1, 7), 0.0D, (a, x) -> a + x) / 7.0D)"
  private val hwSeed = s"concat(array($hwL7, 0.0D), " +
    s"transform(slice(vals, 1, 7), x -> x - $hwL7))"
  /** (1 - discount) / (1 + tax) factors → DECIMAL(6,2): keeps DuckDB's
    * width-additive decimal multiply under 38 digits. */
  private def factor(c: Column): Column = c.cast(DecimalType(6, 2))
  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  /** Shared survival duration rule (the life table of q_kaplan_meier,
    * q_nelson_aalen and q_rmst, and [[survivalRisk]]'s cohorts): one row
    * per user, `lead` columns first, then `ev` = 1 when a purchase
    * follows the user's first event and `dur` = whole days from the first
    * event to that purchase, censored at the stream's end. */
  private[graft] def survivalUsers(s: SparkSession, dir: String, ev: String,
      lead: Column*): DataFrame = {
    val events = t(s, dir, "events")
    val obsEnd = events.agg(max("ts").as("obs_end"))
    val t0 = events.groupBy("user_id").agg(min("ts").as("t0"))
    val firstP = events.filter(col("event_type") === "purchase")
      .join(t0, "user_id").filter(col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    t0.join(firstP, Seq("user_id"), "left")
      .crossJoin(broadcast(obsEnd))
      .select(lead ++ Seq(
        when(col("tp").isNotNull, 1L).otherwise(0L).as(ev),
        when(col("tp").isNotNull,
          expr("(unix_micros(tp) - unix_micros(t0)) div 86400000000"))
          .otherwise(expr(
            "(unix_micros(obs_end) - unix_micros(t0)) div 86400000000"))
          .as("dur")): _*)
  }

  /** Shared KM life table (q_kaplan_meier, q_nelson_aalen, q_rmst — one
    * table, three estimators): per duration day `d` events and `c`
    * censors, `n_total` users and `n_risk` from an INTEGER cumsum over
    * the earlier days (deaths at t precede censors at t). */
  private[graft] def lifeTable(s: SparkSession, dir: String): DataFrame = {
    val users = survivalUsers(s, dir, "ev_flag")
    val byDur = users.groupBy("dur").agg(
      sum("ev_flag").as("d"),
      sum(lit(1L) - col("ev_flag")).as("c"))
    val total = users.agg(count(lit(1)).as("n_total"))
    val wz = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    byDur.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("d") + col("c")).over(wz), lit(0L)))
  }

  /** Shared two-cohort survival risk-set derivation (q_logrank_test +
    * q_cox_regression — one derivation, two consumers, so the test and
    * the model can never disagree on a risk set): [[survivalUsers]]'
    * duration rule, cohort g = user_id parity, per-duration-day event /
    * censor counts per cohort, at-risk counts from INTEGER window
    * cumsums. Returns (risk(dur, d0, d1, n0, n1), tot(tn0, tn1)). */
  private def survivalRisk(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val users = survivalUsers(s, dir, "ev", (col("user_id") % 2).as("g"))
    val tot = users.agg(
      sum(when(col("g") === 0L, 1L).otherwise(0L)).as("tn0"),
      sum(when(col("g") === 1L, 1L).otherwise(0L)).as("tn1"))
    val byd = users.groupBy("dur").agg(
      sum(when(col("g") === 0L && col("ev") === 1L, 1L).otherwise(0L))
        .as("d0"),
      sum(when(col("g") === 0L && col("ev") === 0L, 1L).otherwise(0L))
        .as("c0"),
      sum(when(col("g") === 1L && col("ev") === 1L, 1L).otherwise(0L))
        .as("d1"),
      sum(when(col("g") === 1L && col("ev") === 0L, 1L).otherwise(0L))
        .as("c1"))
    val wz = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = byd.crossJoin(broadcast(tot))
      .withColumn("n0", col("tn0") -
        coalesce(sum(col("d0") + col("c0")).over(wz), lit(0L)))
      .withColumn("n1", col("tn1") -
        coalesce(sum(col("d1") + col("c1")).over(wz), lit(0L)))
      .select("dur", "d0", "d1", "n0", "n1")
    (risk, tot)
  }

  /** Shared one-pass moment table of lineitem's four measures
    * (q_pearson_corr + q_pca_power — one table, so the correlations and
    * the covariance never read different sums): quantity, price cents
    * and discount/tax percent points as exact BIGINTs q, p, d, x, then
    * one row of n, the 4 sums s<a> and the 10 product sums s<ab> (cents²
    * in DECIMAL(37,0), which BIGINT overflows at sf0.1). */
  private[graft] def lineitemMoments(s: SparkSession, dir: String)
      : DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_quantity").cast(LongType).as("q"),
      (money(col("l_extendedprice")) * 100).cast(LongType).as("p"),
      (col("l_discount").cast(DecimalType(6, 2)) * 100).cast(LongType)
        .as("d"),
      (col("l_tax").cast(DecimalType(6, 2)) * 100).cast(LongType)
        .as("x"))
    li.agg(
      count(lit(1)).as("n"),
      sum("q").as("sq"), sum("p").as("sp"),
      sum("d").as("sd"), sum("x").as("sx"),
      sum(col("q") * col("q")).as("sqq"),
      sum(col("p").cast(DecimalType(18, 0)) *
        col("p").cast(DecimalType(18, 0))).as("spp"),
      sum(col("d") * col("d")).as("sdd"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("q") * col("p")).as("sqp"),
      sum(col("q") * col("d")).as("sqd"),
      sum(col("q") * col("x")).as("sqx"),
      sum(col("p") * col("d")).as("spd"),
      sum(col("p") * col("x")).as("spx"),
      sum(col("d") * col("x")).as("sdx"))
  }

  /** Left fold `Σ term` over the sorted struct list `l`, element `p`: the
    * sum runs in list order, never shuffle order, so it is bit-equal to
    * the oracle's identical `list_reduce` (the q_token_entropy rule). */
  private[graft] def fold(term: String): String =
    s"aggregate(l, 0D, (a, p) -> a + ($term))"

  /** σ(b0 + b1·x) for histogram element `p`, as SQL text. */
  private[graft] val logitSig =
    "1.0D / (1.0D + exp(-(b0 + b1 * CAST(p.x AS DOUBLE))))"

  /** Shared logistic fit (q_logistic_newton + q_ipw_estimator — one
    * Newton step, so the GLM and the propensity model never diverge):
    * from b0 = b1 = 0, three Newton–Raphson steps over the x-sorted
    * struct list `l` of (x, n, k) histogram cells, each five [[fold]]s
    * (gradient, Hessian) and a closed-form 2×2 solve, unrolled into one
    * lazy plan on the one-row `hist`. Returns `keep`, b0 and b1. */
  private[graft] def logisticNewton(hist: DataFrame, keep: String*)
      : DataFrame = {
    val sig = logitSig
    def step(d: DataFrame): DataFrame = d
      .withColumn("g1", expr(fold(s"CAST(p.k AS DOUBLE) - p.n * $sig")))
      .withColumn("g2", expr(fold(
        s"(CAST(p.k AS DOUBLE) - p.n * $sig) * p.x")))
      .withColumn("h11", expr(fold(s"p.n * $sig * (1.0D - $sig)")))
      .withColumn("h12", expr(fold(
        s"p.n * $sig * (1.0D - $sig) * p.x")))
      .withColumn("h22", expr(fold(
        s"p.n * $sig * (1.0D - $sig) * p.x * p.x")))
      .withColumn("det", expr("h11 * h22 - h12 * h12"))
      .select(keep.map(col) ++ Seq(
        expr("b0 + (h22 * g1 - h12 * g2) / det").as("b0"),
        expr("b1 + (h11 * g2 - h12 * g1) / det").as("b1")): _*)
    (1 to 3).foldLeft(
      hist.withColumn("b0", lit(0.0)).withColumn("b1", lit(0.0)))(
      (d, _) => step(d))
  }

  /** Shared Shapley coalition mask (q_shapley_attribution +
    * q_shapley_sampled — one game, so the sampled estimate is checked
    * against the same exact values): per user, `mask` has bit 1/2/4/8
    * set when the user had a click/view/signup/error event, and `conv`
    * is 1 when the user purchased. */
  private[graft] def shapleyUsers(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "events").groupBy("user_id").agg(
      (max(when(col("event_type") === "click", 1L).otherwise(0L)) +
        max(when(col("event_type") === "view", 2L).otherwise(0L)) +
        max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
        max(when(col("event_type") === "error", 8L).otherwise(0L)))
        .as("mask"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))

  /** Coalition value v(st): the conversions `cv` of every mask that is a
    * subset of coalition `st`, over the per-mask rollup `mc`. */
  private[graft] def coalitionValues(sts: DataFrame, mc: DataFrame)
      : DataFrame =
    sts.join(broadcast(mc), expr("(mask & st) = mask"), "left")
      .groupBy("st").agg(coalesce(sum("cv"), lit(0L)).as("v"))

  /** Shared per-customer revenue ranking (q_gini + q_trimmed_mean): each
    * customer's order total in exact BIGINT cents `rev`, its 1-based rank
    * `r` by (rev, o_custkey), and the broadcast totals `n` customers and
    * `s1` cents on every row. */
  private[graft] def rankedRevenue(s: SparkSession, dir: String)
      : DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg((sum(money(col("o_totalprice"))) * 100).cast(LongType)
        .as("rev"))
    val tot = perCust.agg(count(lit(1)).as("n"), sum("rev").as("s1"))
    perCust
      .withColumn("r",
        row_number().over(Window.orderBy(col("rev"), col("o_custkey"))))
      .crossJoin(broadcast(tot))
  }

  /** Shared daily event series (q_acf + q_yule_walker): one row holding
    * the day-sorted event counts as DOUBLE `vals`, their count `n`, mean
    * `m`, and `ss` = Σ(x − m)², every sum a left fold in day order. */
  private[graft] def dailySeries(s: SparkSession, dir: String, ss: String)
      : DataFrame =
    t(s, dir, "events")
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(count(lit(1)).as("x"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("l"))
      .withColumn("vals", expr("transform(l, e -> CAST(e.x AS DOUBLE))"))
      .withColumn("n", size(col("vals")))
      .withColumn("m", expr(
        "aggregate(vals, 0.0D, (a, x) -> a + x) / CAST(n AS DOUBLE)"))
      .withColumn(ss, expr("aggregate(transform(vals, " +
        "x -> (x - m) * (x - m)), 0.0D, (a, x) -> a + x)"))

  /** Shared CUSUM readout (q_cusum_changepoint + q_stream_cusum — one
    * readout, so the stream flags exactly the periods the batch replay
    * flags): over a series of (`key`, count x), μ and σ from exact sums
    * (rounded to 6 dp), slack kk = 0.5σ and threshold hh = 4σ, then per
    * period the two-sided CUSUM as slice-prefix greatest-folds over the
    * key-sorted list, ordered by `key`. */
  private[graft] def cusumReadout(series: DataFrame, key: String)
      : DataFrame = {
    val st = series
      .agg(count(lit(1)).as("nd"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        round(col("sx").cast(DoubleType) / col("nd"), 6).as("mu"),
        round(sqrt((col("nd").cast(DoubleType) * col("sxx") -
          col("sx").cast(DoubleType) * col("sx")) /
          (col("nd") * (col("nd") - 1))), 6).as("sd"))
      .select(col("mu"),
        round(col("sd") * 0.5, 6).as("kk"),
        round(col("sd") * 4.0, 6).as("hh"))
    series
      .agg(sort_array(collect_list(struct(col(key), col("x")))).as("l"))
      .crossJoin(broadcast(st))
      .select(col("l"), col("mu"), col("kk"), col("hh"),
        posexplode(col("l")))
      .select(col(s"col.$key").as(key), col("col.x").as("n_events"),
        round(expr(
          """aggregate(slice(l, 1, pos + 1), 0.0D,
            |  (acc, e) -> greatest(0.0D,
            |    acc + (CAST(e.x AS DOUBLE) - mu - kk)))""".stripMargin),
          6).as("cusum_pos"),
        round(expr(
          """aggregate(slice(l, 1, pos + 1), 0.0D,
            |  (acc, e) -> greatest(0.0D,
            |    acc + (mu - kk - CAST(e.x AS DOUBLE))))""".stripMargin),
          6).as("cusum_neg"),
        col("hh").as("threshold"))
      .withColumn("is_change",
        col("cusum_pos") > col("threshold") ||
          col("cusum_neg") > col("threshold"))
      .orderBy(key)
  }

  /** Shared scored-document derivation for the calibration family
    * (q_calibration_bins + q_isotonic_calibration — one scorer, two
    * consumers, so the reliability diagram and the isotonic fit can never
    * desynchronize): score p = logistic of the z-scored char length
    * (z and p round to 6 dp before any grouping so a last-ulp wobble
    * can't move a row across a level), label y = (lang = 'en'). */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("n_chars").cast(LongType).as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val st = d.agg(count(lit(1)).as("nd"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    d.crossJoin(broadcast(st))
      .withColumn("z", round(
        (col("x") - col("sx").cast(DoubleType) / col("nd")) /
          sqrt((col("nd").cast(DoubleType) * col("sxx") -
            col("sx").cast(DoubleType) * col("sx")) /
            (col("nd") * (col("nd") - 1))), 6))
      .withColumn("p",
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6)
          .cast(DecimalType(8, 6)))
  }

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    // O1/O2/O9: full scan + project of the reference's own table, recreated
    // exactly (FIXTURES.md §A). Constant-sized; oracle is a VALUES list.
    "q_users_scan" -> ((s, _) => CassandraModel.users(s).orderBy("id")),

    // TPC-H Q1-style pricing summary: scan → partial agg → final agg.
    // Scale: map-side combine collapses 100 TB to |groups| rows before the
    // shuffle; filter is pushed to the parquet scan (min/max row-group skip).
    "q1_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1999-12-31 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").cast(DoubleType).as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(money(col("l_extendedprice")) * factor(lit(1.0) - col("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          sum(money(col("l_extendedprice")) * factor(lit(1.0) - col("l_discount"))
            * factor(lit(1.0) + col("l_tax"))).cast(DoubleType).as("sum_charge"),
          (sum("l_quantity").cast(DoubleType) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Pushdown demonstrator: selective filter + narrow projection. The plan
    // must show PushedFilters + a 4-column ReadSchema (asserted in
    // PlanSpec."filtered scan pushes filters and prunes columns").
    "q_filtered_scan" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(ts("1998-01-01 00:00:00"), ts("1998-03-31 00:00:00"))
          && col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Top-k: ORDER BY + LIMIT → TakeOrderedAndProject (no full sort, no
    // single-partition shuffle — each partition keeps k, driver merges k·p).
    "q_topk_orders" -> { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // Broadcast-hash join of two small dims (the connector's directJoin
    // analog, SURVEY.md §2.2): region is tiny → explicit broadcast.
    "q_join_nation_region" -> { (s, dir) =>
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    },

    // TPC-H Q3-style: 3-way join, filtered both sides, agg, top-k revenue.
    // Scale: customer/orders/lineitem all grow with SF, so no explicit
    // broadcast hints — size-based auto-broadcast + AQE pick broadcast at
    // small SF and shuffle at large SF, both correct. The lineitem⋈orders
    // shuffle is unavoidable (both sides huge).
    "q3_shipping_priority" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-06-01 00:00:00"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-06-01 00:00:00"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(money(col("l_extendedprice")) * factor(lit(1.0) - col("l_discount")))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    // TPC-H Q5-style: 6-table join tree, region-filtered.
    // Scale: only the constant-cardinality dims (region=5, nation=25) get an
    // unconditional broadcast hint; supplier/customer scale with SF and are
    // left to size-based auto-broadcast + AQE. The only guaranteed shuffled
    // join is lineitem⋈orders.
    "q5_local_supplier_volume" -> { (s, dir) =>
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00")
          && col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(c,
          o("o_custkey") === c("c_custkey")
            && c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(money(col("l_extendedprice")) * factor(lit(1.0) - col("l_discount")))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },

    // Range (theta) join: orders banded by a tiny price-range dimension.
    // The only sane plan for a non-equi join with a constant-size dim is
    // BroadcastNestedLoopJoin — broadcast forced so it stays that plan at
    // any SF (an SF-scaling range side would need a bin-and-equi-join
    // rewrite instead, which is what q_case_math's CASE bucketing is).
    "q_range_join" -> { (s, dir) =>
      val bands = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("1_small", 0.0, 50000.0),
          org.apache.spark.sql.Row("2_medium", 50000.0, 150000.0),
          org.apache.spark.sql.Row("3_large", 150000.0, 1e12)),
        StructType(Seq(
          StructField("band", StringType, nullable = false),
          StructField("lo", DoubleType, nullable = false),
          StructField("hi", DoubleType, nullable = false))))
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy("band")
    },

    // As-of join: for every purchase event, the most recent signup event of
    // the same user at or before it. The scalable formulation is NOT a
    // per-row correlated lookup (O(n²) per user) but one shuffle on the key:
    // sort each user's merged event stream by time and carry the last-seen
    // signup timestamp forward with a running `last(_, ignoreNulls)` window
    // — exactly how a 100 TB trade/quote as-of is done.
    "q_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup"))
      // RANGE frame ordered by ts only: a signup sharing the purchase's exact
      // timestamp is a frame peer and therefore included, matching the
      // oracle's s.ts <= p.ts tie rule (a ROWS frame tie-broken by event_id
      // would exclude equal-ts signups with larger event_ids). The carried
      // value is tie-safe: all in-frame signup peers share the same ts.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("ref_ts",
          last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "ref_ts")
        .orderBy("event_id")
    },

    // ANSI SAFETY VALVES — this session runs full ANSI mode (overflow and
    // division-by-zero THROW, the correctness posture a 100 TB pipeline
    // wants), so the `try_*` family is how a query declares "null, don't
    // fail" for a specific expression instead of disabling ANSI globally.
    // Spark's TryEval catches a JVM exception per failing row, so the
    // boundaries are chosen to keep the exceptional path EXCEPTIONAL
    // (~2-3% of rows each, but present in every group at every SF):
    // try_divide meets a {0,1,2} divisor that is zero exactly on the
    // p % 37 == 0 residue class (~2.6%); try_multiply(p, 9·10¹³)
    // overflows BIGINT exactly when round(price) ≥ 102482 (the top
    // ~2.4% of prices; 102482·9·10¹³ > Long.Max ≥ 102481·9·10¹³) — exact
    // integer boundaries the oracle replays as CASEs, since DuckDB's
    // operators error like ANSI rather than null. Survivor sums stay
    // exact: nonzero divisors are {1,2}, so qty/d values are all k/2
    // (exactly representable) and the double sum is order-independent.
    "q_try_arithmetic" -> { (s, dir) =>
      // spread: the per-row decimal try_divide/try_multiply probes are the
      // heavy work and ran serially on the single-split scan (QProf r19:
      // 2.8 s task time over 7 tasks, parallelEff 0.9×). Safe to
      // repartition: qpd values are exact binary fractions (quantity / 1
      // or 2 through exact decimal division), so their sum is
      // order-independent; every other aggregate is integer min/max/count.
      Tables.spread(t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          expr("cast(round(l_extendedprice) as bigint)").as("p")))
        .withColumn("d", expr(
          "CASE WHEN p % 37 = 0 THEN 0L ELSE 1L + p % 2 END"))
        // decimal dividend: try_divide's null-on-zero contract is the
        // decimal/integral one; the k/2 results cast back to exact doubles
        .withColumn("qpd", expr(
          "cast(try_divide(cast(l_quantity as decimal(12,2)), d) as double)"))
        .withColumn("big", expr("try_multiply(p, 90000000000000L)"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("qpd").isNull, 1L).otherwise(0L)).as("n_div_zero"),
          round(sum("qpd"), 6).as("sum_qpd"),
          sum(when(col("big").isNull, 1L).otherwise(0L)).as("n_overflow"),
          min("big").as("min_big"), max("big").as("max_big"))
        .orderBy("l_returnflag")
    },

    // OBSERVED METRICS (Spark 3.3+ `Dataset.observe` / CollectMetrics):
    // data-quality counters collected as ACCUMULATOR side-effects of a
    // production pass — at 100 TB the difference between "metrics from the
    // pass you were already running" and "metrics from a second scan" is
    // the whole cost of the job, which is why every serious ingest wires
    // observe() instead of a follow-up aggregate. The observed pass here
    // is a realistic one (the corpus flows through a filter to a noop
    // sink); metrics attach BEFORE the filter so they audit the full
    // input, and only partial-mergeable aggregates are legal (no
    // distinct — the API rejects what an accumulator can't merge). The
    // one-row result replays the observed map; the oracle computes the
    // same aggregates the honest (second-scan) way.
    "q_observe_metrics" -> { (s, dir) =>
      val obs = org.apache.spark.sql.Observation()
      graft.Run.noop(t(s, dir, "documents")
        .observe(obs,
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          count(when(col("lang") === "en", lit(1))).as("n_en"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .filter(col("n_chars") >= 100)) // the pass the metrics piggyback on
      val m = obs.get
      // min/max metrics are NULL on an empty table — fail with a diagnostic
      // (the sibling queries' require() discipline) instead of an NPE unbox
      require(m("n_docs").asInstanceOf[Long] > 0L,
        "q_observe_metrics: degenerate corpus (0 documents) — " +
          "min/max observation metrics are undefined")
      import s.implicits._
      Seq((m("n_docs").asInstanceOf[Long], m("n_chars").asInstanceOf[Long],
          m("n_en").asInstanceOf[Long], m("min_chars").asInstanceOf[Long],
          m("max_chars").asInstanceOf[Long]))
        .toDF("n_docs", "n_chars", "n_en", "min_chars", "max_chars")
    },

    // SPARK 4 COLLATIONS — comparison semantics at the TYPE level (the
    // governance alternative to sprinkling lower() into every predicate):
    // a deterministically mixed-case segment column is compared and
    // distinct-counted under UTF8_LCASE, where 'BUILDING' = 'building'
    // holds by collation rather than by rewriting; the binary-collation
    // counts sit alongside as the contrast. The oracle replays with
    // explicit lower() — the semantics collation packages away.
    "q_collation" -> { (s, dir) =>
      val d = t(s, dir, "customer")
        .withColumn("seg_mixed", expr(
          "CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) " +
            "ELSE c_mktsegment END"))
      d.agg(
        count(when(expr(
          "collate(seg_mixed, 'UTF8_LCASE') = 'bUiLdInG' COLLATE UTF8_LCASE"),
          1)).as("n_building_ci"),
        countDistinct(expr("collate(seg_mixed, 'UTF8_LCASE')"))
          .as("n_segments_ci"),
        countDistinct(col("seg_mixed")).as("n_segments_raw"))
    },

    // BUCKETED INTERVAL JOIN — point-in-interval containment at scale:
    // the naive `ts BETWEEN start AND end` join has no equi-key, so Spark
    // plans a BroadcastNestedLoopJoin that evaluates every (event, window)
    // pair — quadratic, the classic range-join trap. The scalable shape
    // adds a 1-hour BUCKET granule as a manufactured equi-key: each window
    // (2 h wide, so ≤ 3 granules) explodes into its covering buckets, the
    // event's single bucket hash-joins against them, and the true
    // containment predicate survives only as a residual on the matched
    // pairs. Windows step 5 h (disjoint), anchored at the corpus min ts
    // (self-deriving — the oracle carries no literals); all time
    // arithmetic is exact unix micros. PlanSpec pins the plan to a
    // BroadcastHashJoin with no BNLJ/cartesian — the entire point.
    "q_interval_join" -> { (s, dir) =>
      val G = 3600L * 1000000L // 1 h bucket granule (µs)
      val W = 7200L * 1000000L // window width 2 h
      val Step = 18000L * 1000000L // window stride 5 h
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
      val t0 = ev.agg(min("us")).head().getLong(0) // scalar: the anchor
      val wins = (0 until 24).flatMap { i =>
        val start = t0 + i * Step; val end = start + W
        (start / G to (end - 1) / G).map(b => (i, b, start, end))
      }
      val wdf = s.createDataFrame(wins)
        .toDF("win_id", "bkt", "w_start", "w_end")
      ev.withColumn("bkt", expr(s"us div $G")).as("e")
        .join(broadcast(wdf.as("w")),
          col("e.bkt") === col("w.bkt")
            && col("e.us") >= col("w.w_start")
            && col("e.us") < col("w.w_end"))
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("e.user_id")).as("n_users"),
          sum("cents").as("sum_cents"))
        .orderBy("win_id")
    },

    // Time-series resample with gap filling: per-user DAILY event counts
    // including zero days, over each user's own active span — the generator
    // (sequence + explode, E9) as a declared operator rather than an LSH
    // internal. Scale: the explode is bounded by span-days per user (narrow,
    // no shuffle), and the left join shuffles once on (user_id, day) — the
    // standard resample shape for feature pipelines at 100 TB.
    "q_resample" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val span = ev.groupBy("user_id")
        .agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val days = span.select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      days.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("user_id", "d")
    },

    // Equi-width histogram: 20 fixed buckets over order value — the
    // binning primitive behind distribution dashboards and outlier cuts.
    // Bucket id is one double divide + floor on values both engines read
    // identically from parquet; counts and double min/max are exact.
    // Scale: map-only bucket assignment, aggregate domain = 20 → map-side
    // combine collapses everything before the single tiny shuffle.
    "q_histogram" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket",
          least(lit(19), floor(col("o_totalprice") / lit(25000.0))).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy("bucket")
    },

    // The SQL front door (O9's spark.sql path): same engine, textual entry —
    // a TPC-H Q6-style forecast revenue query over registered temp views.
    "q_sql_api" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24""")
    },

    // Recursive CTE (WITH RECURSIVE, new in Spark 4.x): a calendar month
    // spine from the first to the last order month, LEFT-joined to monthly
    // revenue so gap months surface as explicit zero rows — the standard
    // "dense time series from sparse facts" shape. Catalyst executes the
    // recursion as a UnionLoop; depth is bounded by CALENDAR length (~80
    // iterations here), never by data volume, and each iteration is one
    // constant-width row — the data side remains a single hash aggregate.
    // That bound is what makes recursion scale-safe: the anti-pattern
    // (recursing over per-row edges) would put the 100 TB corpus inside the
    // loop; a spine recursion keeps it in one shuffle outside the loop.
    "q_recursive_cte" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        WITH RECURSIVE spine(m, hi) AS (
          SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE),
                 CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE)
          FROM orders
          UNION ALL
          SELECT add_months(m, 1), hi FROM spine WHERE m < hi
        ),
        r AS (
          SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
          FROM orders GROUP BY 1
        )
        SELECT s.m AS month_start,
               CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(coalesce(r.revenue, 0.0) AS DOUBLE) AS revenue
        FROM spine s LEFT JOIN r ON s.m = r.m
        ORDER BY month_start""")
    },

    // SQL pipe syntax (Spark 4.x `|>` operators): the same monthly-rollup
    // query a warehouse author would write top-to-bottom — source, filter,
    // derive, aggregate, post-filter, order — each stage reading as a step
    // instead of inside-out nested SQL. Pure FRONT-END sugar: the parser
    // lowers it to the identical logical plan (filter → project → aggregate
    // → filter → sort), so Catalyst optimizes and codegens exactly as the
    // classic form; zero runtime surface. The post-AGGREGATE WHERE is the
    // HAVING shape without the keyword.
    // EXECUTE IMMEDIATE (Spark 4 parameterized SQL): the dynamic-SQL entry
    // point ops tooling uses — a query TEMPLATE with named parameter
    // markers bound at execution, so values never string-concatenate into
    // SQL (the injection-safe form). The parameters themselves come from a
    // first query (top segment by customer count — self-deriving, the
    // oracle recomputes it), demonstrating the template re-run pattern:
    // same plan, new bindings.
    "q_execute_immediate" -> { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      val seg = s.sql("""SELECT c_mktsegment FROM customer
        GROUP BY 1 ORDER BY COUNT(*) DESC, c_mktsegment ASC LIMIT 1""")
        .head().getString(0) // scalar: the binding
      s.sql("DECLARE OR REPLACE VARIABLE graft_seg STRING")
      s.sql(s"SET VAR graft_seg = '${seg.replace("'", "''")}'")
      s.sql("""EXECUTE IMMEDIATE
        'SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
         FROM customer WHERE c_mktsegment = :seg
         GROUP BY c_nationkey ORDER BY c_nationkey'
        USING graft_seg AS seg""")
    },

    "q_sql_pipe" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m
        |> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
           GROUP BY m
        |> WHERE n_orders > 5
        |> ORDER BY m""")
    },

    // SQL scripting (Spark 4.x BEGIN…END control flow): an exponential
    // threshold search — double `thr` until fewer than 100 orders clear it —
    // DECLAREd variables and a WHILE loop driving real scans, the procedural
    // shape ops teams ship as stored-proc-style maintenance jobs. ~20 scalar
    // iterations, each one pushed-down count; the loop is over a SCALAR, the
    // data side stays set-based per iteration (the scale-safe scripting
    // rule — row-at-a-time cursors are the anti-pattern, not loops). The
    // oracle exploits count monotonicity in thr: the first power of two
    // with n < 100 is exactly where the loop stops.
    "q_sql_script" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql("""
        BEGIN
          DECLARE thr BIGINT DEFAULT 1;
          DECLARE n BIGINT DEFAULT 0;
          SET n = (SELECT COUNT(*) FROM orders WHERE o_totalprice >= thr);
          WHILE n >= 100 DO
            SET thr = thr * 2;
            SET n = (SELECT COUNT(*) FROM orders WHERE o_totalprice >= thr);
          END WHILE;
          SELECT thr, n AS n_above;
        END""")
    },

    // UNPIVOT (melt): wide per-segment metrics reshaped to long
    // (segment, metric, value) form — q_pivot's inverse, and the feed shape
    // metric stores and plotting layers want. Dataset.unpivot is a MAP-ONLY
    // reshape (each row fans out to |metrics| rows locally, no shuffle), so
    // it composes freely after the aggregation at any scale. Exact integer
    // cents keep the three metrics in one common value type with no float
    // compare anywhere.
    "q_unpivot" -> { (s, dir) =>
      val cents = (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(min(cents).as("min_cents"), max(cents).as("max_cents"),
          sum(cents).as("sum_cents"))
        .unpivot(Array(col("c_mktsegment")),
          Array(col("min_cents"), col("max_cents"), col("sum_cents")),
          "metric", "cents")
        .orderBy("c_mktsegment", "metric")
    },

    // Spark 4 VARIANT — the open-schema semi-structured type (the
    // warehouse answer to "the upstream team keeps adding fields"): each
    // event's loose attributes assemble into ONE nested JSON document
    // (props rides in verbatim as a nested object; money enters as exact
    // cents so the document text is deterministic), `parse_json` encodes
    // it as a VARIANT — a binary tree walked by PATH at query time, no
    // schema declared up front — and `variant_get` extracts typed fields
    // for a relational rollup. `try_variant_get` probes a path that does
    // not exist: schema drift reads as NULL, never a failure (pinned by
    // n_missing == n). At 100 TB this is the ingest pattern for logs with
    // unstable schemas: the scan stays one column, extraction is
    // expression-level (codegen, prunable), and documents with new fields
    // need no migration. The oracle is DIFFERENTIAL on purpose: DuckDB
    // computes the same rollup from the RAW columns + json_extract of the
    // original props, so construct→variant→extract must round-trip
    // exactly.
    "q_variant_json" -> { (s, dir) =>
      val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
      Tables.load(s, dir, "events")
        .withColumn("doc", concat(
          lit("{\"meta\":{\"type\":\""), col("event_type"),
          lit("\",\"props\":"), col("props"),
          lit("},\"cents\":"), cents, lit("}")))
        .withColumn("v", parse_json(col("doc")))
        .select(
          expr("variant_get(v, '$.meta.type', 'string')").as("etype"),
          expr("variant_get(v, '$.meta.props.k', 'int')").as("k"),
          expr("variant_get(v, '$.cents', 'long')").as("cents"),
          expr("try_variant_get(v, '$.nope.deep', 'int')").as("missing"))
        .groupBy(col("etype"), pmod(col("k"), lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          sum(when(col("missing").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_missing"))
        .orderBy("etype", "k_bucket")
    },

    // SQL-native UDF (Spark 4.x `CREATE FUNCTION … RETURN <expr>`): the
    // discounted-price formula packaged as a reusable catalog function —
    // the governance shape real warehouses standardize metrics with. Unlike
    // a Scala/Python UDF (an opaque black box that breaks codegen, pushdown
    // and the optimizer's cost model), a SQL UDF is INLINED by the analyzer:
    // the plan below contains only the decimal arithmetic itself, stays
    // inside whole-stage codegen, and aggregates exactly like the hand-
    // written q1 idiom (PlanSpec pins no-ScalaUDF + codegen). This is the
    // "functions, not UDFs" rule made available to SQL authors.
    "q_sql_udf" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
        RETURNS DECIMAL(19,4)
        RETURN CAST(p AS DECIMAL(12,2)) * CAST(1 - d AS DECIMAL(6,2))""")
      s.sql("""
        SELECT l_returnflag,
               CAST(SUM(graft_disc_price(l_extendedprice, l_discount)) AS DOUBLE)
                 AS disc_revenue,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },

    // Correlated scalar subqueries → Catalyst decorrelates both into
    // aggregate+join (SURVEY.md §4.1 row "subquery decorrelation");
    // above-nation-average test in exact integer cents so the comparison is
    // engine-portable (a double AVG would be partial-order dependent at the
    // boundary).
    "q_correlated_subquery" -> { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, c_name FROM customer c
        WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) *
              (SELECT COUNT(*) FROM customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
            > (SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
               FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    },

    // LATERAL correlated subquery: per-nation top-2 customers by balance —
    // the per-group-top-k shape as a lateral join instead of a window
    // (Catalyst plans a DomainJoin/decorrelated limit per key).
    "q_lateral_topk" -> { (s, dir) =>
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.acct_cents
        FROM nation n,
        LATERAL (SELECT c_custkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acct_cents
                 FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY acct_cents DESC, c_custkey
                 LIMIT 2) t
        ORDER BY n.n_name, t.acct_cents DESC, t.c_custkey""")
    },

    // Semi join (EXISTS): customers having at least one urgent order.
    "q_semi_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Anti join (NOT EXISTS): customers with no orders at all.
    "q_anti_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Window ranking: top-3 orders per customer (row_number over key'd
    // window). Scale: one shuffle on o_custkey; skew handled by AQE.
    "q_window_topn_per_customer" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // Window analytic frame: per-supplier running quantity by ship date.
    "q_window_running_sum" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty", sum("l_quantity").over(w).cast(DoubleType))
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
    },

    // Value-range window frame: per-customer 30-day trailing spend before
    // each order — RANGE frames bounded by VALUE offsets (days), not row
    // counts, the frame type rows-frames can't express (a customer with 10
    // orders in one week vs one order a month apart gets different windows).
    // Ordering key is exact integer days-since-epoch in both engines.
    "q_window_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d").asc)
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("d", datediff(col("o_orderdate").cast(DateType),
          lit(java.sql.Date.valueOf("1970-01-01"))))
        .withColumn("trailing_30d",
          sum(money(col("o_totalprice"))).over(w).cast(DoubleType))
        .select("o_custkey", "o_orderkey", "o_orderdate", "trailing_30d")
        .orderBy("o_custkey", "o_orderkey")
    },

    // Distribution ranks: ntile/percent_rank/cume_dist per segment — the
    // quantile-bucketing window family (decile features, percentile caps in
    // a feature pipeline). The ORDER BY includes the unique key, so peer
    // groups are single rows and all three functions are engine-portable.
    "q_window_ranks" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("acct_cents").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("acct_cents",
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast(LongType))
        .withColumn("decile", ntile(10).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .select("c_custkey", "c_mktsegment", "acct_cents", "decile", "pr", "cd")
        .orderBy("c_custkey")
    },

    // Lag/lead analytics: gap in days between consecutive orders per customer.
    "q_window_lag_gap" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast(DateType), col("prev_date").cast(DateType)))
        .select("o_custkey", "o_orderkey", "o_orderdate", "gap_days")
        .orderBy("o_custkey", "o_orderkey")
    },

    // Batch sessionization (island-and-gap): the windowed-lag + cumulative-
    // sum assignment of gap-delimited sessions — the batch twin of
    // q_stream_session's session_window, for when the data is already at
    // rest. Gap arithmetic runs in exact unix_micros, matching the oracle's
    // interval comparison bit-for-bit. One shuffle on user_id; both window
    // passes reuse the same partitioning.
    "q_sessionize_batch" -> { (s, dir) =>
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts").asc)
      val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val GapUs = 4L * 3600 * 1000000
      t(s, dir, "events")
        .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(wo))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || expr("unix_micros(ts)") - col("prev_us") >= GapUs, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(wc))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("s_start"), max("ts").as("s_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
        .select("user_id", "s_start", "s_end", "n_events", "sum_value")
        .orderBy("user_id", "s_start")
    },

    // ORDERED-FUNNEL analysis — the product-analytics staple: users
    // completing view → click → purchase IN ORDER, each step within 7
    // days of the previous. STRICT-SEQUENCE semantics (a click before
    // the first view does not count), which set-membership GROUP BYs
    // cannot express: each stage is the previous stage's cohort joined
    // back to the event stream with a (after, within-window) predicate
    // and a min-aggregate — the earliest qualifying event. Scale: every
    // join/agg keys on user_id, so all three stages reuse one hash
    // partitioning; stage tables only shrink; the final rate join is a
    // 1-row broadcast. Interval arithmetic in exact timestamp micros.
    "q_event_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      def step(prev: DataFrame, tPrev: String, typ: String, tNew: String) =
        ev.filter(col("event_type") === typ)
          .join(prev.select("user_id", tPrev), "user_id")
          .filter(col("ts") > col(tPrev) &&
            col("ts") <= col(tPrev) + expr("INTERVAL 7 DAYS"))
          .groupBy("user_id").agg(min("ts").as(tNew))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = step(s1, "t1", "click", "t2")
      val s3 = step(s2, "t2", "purchase", "t3")
      def c(df: DataFrame, n: Int, stage: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(n).as("step"), lit(stage).as("stage"), col("n_users"))
      val counts = c(s1, 1, "view")
        .unionByName(c(s2, 2, "click_after_view"))
        .unionByName(c(s3, 3, "purchase_after_click"))
      val base = s1.agg(count(lit(1)).as("n_base"))
      counts.crossJoin(broadcast(base))
        .select(col("step"), col("stage"), col("n_users"),
          round(col("n_users").cast(DoubleType) / col("n_base"), 6)
            .as("conv_rate"))
        .orderBy("step")
    },

    // RETENTION COHORT matrix — the other product-analytics staple: users
    // grouped by first-seen week (cohort), the fraction still active k
    // weeks later. One groupBy(user) finds first_ts; the (user, cohort
    // week, active week) triples come from a user-keyed join + distinct
    // (both reuse the user_id partitioning); the matrix itself is
    // |weeks|² rows, so the cohort-size join broadcasts. Week offsets are
    // exact integer micros division on date_trunc'd Mondays — no float,
    // no calendar edge (both engines truncate to ISO Monday).
    "q_retention_cohorts" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
      val first = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
      val marks = ev.join(first, "user_id")
        .select(col("user_id"),
          date_trunc("week", col("first_ts")).as("cohort_week"),
          date_trunc("week", col("ts")).as("act_week"))
        .distinct()
        .withColumn("week_offset", expr(
          "(unix_micros(act_week) - unix_micros(cohort_week)) div 604800000000"))
      val act = marks.groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
      val size = act.filter(col("week_offset") === 0)
        .select(col("cohort_week"), col("n_active").as("n_cohort"))
      act.join(broadcast(size), "cohort_week")
        .select(col("cohort_week").cast(DateType).as("cohort_week"),
          col("week_offset"), col("n_active"), col("n_cohort"),
          round(col("n_active").cast(DoubleType) / col("n_cohort"), 6)
            .as("retention"))
        .orderBy("cohort_week", "week_offset")
    },

    // A/B EXPERIMENT readout — the third product-analytics staple next to
    // the funnel and the cohort matrix: deterministic 50/50 variant
    // assignment by the same portable md5 coin the sampling family uses
    // (hash of user_id — reproducible across engines, runs and
    // repartitioning; no seed coordination at 100 TB), conversion = the
    // user purchases within 24 h of their first event (declared-semantics
    // window — "has any purchase" is degenerate on this stream: every
    // user eventually buys), readout = the two-proportion pooled
    // z-statistic. Scale: both the first-event agg and the conversion
    // probe key on user_id (one hash partitioning reused), then a single
    // global agg of four conditional integer sums — the statistic itself
    // is arithmetic on four scalars. All divisions go through explicit
    // DOUBLE casts with the identical expression tree in the oracle
    // (exact-integer inputs + IEEE ops incl. correctly-rounded sqrt ⇒
    // bit-equal), rounded to 6 dp at the end; a degenerate pooled rate
    // (0 or 1) yields NULL z rather than an ANSI divide-by-zero.
    "q_ab_test" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val first = ev.groupBy("user_id").agg(min("ts").as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(first, "user_id")
        .filter(col("ts") > col("t0") &&
          col("ts") <= col("t0") + expr("INTERVAL 1 DAY"))
        .select("user_id").distinct().withColumn("converted", lit(1L))
      val users = first.join(conv, Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("converted"), lit(0L))
          .as("converted"))
        .withColumn("variant", when(
          expr(s"${hExpr("cast(user_id as string)")} % 2") === 0,
          "A").otherwise("B"))
      users.agg(
          sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === "A", col("converted")).otherwise(0L)).as("conv_a"),
          sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("variant") === "B", col("converted")).otherwise(0L)).as("conv_b"))
        .select(col("n_a"), col("conv_a"),
          round(col("conv_a").cast(DoubleType) / col("n_a"), 6).as("rate_a"),
          col("n_b"), col("conv_b"),
          round(col("conv_b").cast(DoubleType) / col("n_b"), 6).as("rate_b"),
          when(col("conv_a") + col("conv_b") > 0 &&
              col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
            round(
              (col("conv_a").cast(DoubleType) / col("n_a") -
                col("conv_b").cast(DoubleType) / col("n_b")) /
              sqrt(((col("conv_a") + col("conv_b")).cast(DoubleType) /
                  (col("n_a") + col("n_b"))) *
                (lit(1.0) - (col("conv_a") + col("conv_b")).cast(DoubleType) /
                  (col("n_a") + col("n_b"))) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
            .as("z_stat"))
    },

    // IQR OUTLIER fences + winsorized mean per order priority — the
    // data-cleaning staple (Tukey fences; winsorization is what a robust
    // feature pipeline does before normalization). Exact interpolated
    // quantiles per group (the q_percentile parity: Spark `percentile` ≡
    // DuckDB `quantile_cont`), fences ROUNDED TO 6 DP BEFORE USE so a
    // last-ulp interpolation difference can't flip a row across a fence;
    // the winsorized sum runs in DECIMAL(18,6) so partial-aggregation
    // order can't perturb it (the money rule). Scale: two passes over the
    // table (quantile agg, then clamp+agg), fences join back via a ≤5-row
    // broadcast; at 100 TB the exact percentile swaps for the t-digest
    // sketch (q_approx_stats) with the same downstream plan.
    "q_outlier_iqr" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val fences = o.groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.25)").as("q1r"),
          expr("percentile(o_totalprice, 0.75)").as("q3r"))
        .select(col("o_orderpriority"),
          round(col("q1r"), 6).as("q1"), round(col("q3r"), 6).as("q3"))
        .withColumn("lo_fence",
          round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6))
        .withColumn("hi_fence",
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6))
      o.join(broadcast(fences), "o_orderpriority")
        .withColumn("clamped",
          round(least(greatest(col("o_totalprice"), col("lo_fence")),
            col("hi_fence")), 6).cast(DecimalType(18, 6)))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          first(col("q1")).as("q1"), first(col("q3")).as("q3"),
          first(col("lo_fence")).as("lo_fence"),
          first(col("hi_fence")).as("hi_fence"),
          sum(when(col("o_totalprice") < col("lo_fence"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("o_totalprice") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_high"),
          sum(col("clamped")).as("wsum"))
        .select(col("o_orderpriority"), col("n_orders"), col("q1"), col("q3"),
          col("lo_fence"), col("hi_fence"), col("n_low"), col("n_high"),
          round(col("wsum").cast(DoubleType) / col("n_orders"), 6)
            .as("winsorized_mean"))
        .orderBy("o_orderpriority")
    },

    // COLUMN PROFILER — the Deequ/dbt-style data-quality summary every
    // ingestion run publishes: per column, row count, null count, exact
    // distinct count, canonical min/max strings. ONE pass over the table:
    // a single global agg computes all 6×4 statistics (the multiple exact
    // COUNT(DISTINCT)s make Catalyst plan an Expand — a deliberate 6×
    // input blow-up that IS the cost of exact profiling; the 100 TB
    // variant swaps approx_count_distinct with the same plan minus the
    // Expand, cf. q_approx_stats), then a map-only `stack` unpivots the
    // one row into the per-column report. Min/max stringification is
    // type-canonical in both engines: BIGINT/VARCHAR verbatim, TIMESTAMP
    // through DATE ('yyyy-MM-dd'), DOUBLE through DECIMAL(12,2).
    "q_column_profile" -> { (s, dir) =>
      // spread: the deliberate 6× Expand multiplies the single-split scan's
      // rows on ONE core locally (min/max/count[distinct] partials are
      // order-free, so partitioning can't move the result); no-op on a
      // cluster where the scan already has ≥cores splits
      val o = Tables.spread(t(s, dir, "orders"))
      def mn(c: Column) = min(c).cast(StringType)
      def mx(c: Column) = max(c).cast(StringType)
      o.agg(
          count(lit(1)).as("nr"),
          count(col("o_orderkey")).as("nn1"),
          countDistinct(col("o_orderkey")).as("nd1"),
          mn(col("o_orderkey")).as("mn1"), mx(col("o_orderkey")).as("mx1"),
          count(col("o_custkey")).as("nn2"),
          countDistinct(col("o_custkey")).as("nd2"),
          mn(col("o_custkey")).as("mn2"), mx(col("o_custkey")).as("mx2"),
          count(col("o_orderstatus")).as("nn3"),
          countDistinct(col("o_orderstatus")).as("nd3"),
          mn(col("o_orderstatus")).as("mn3"), mx(col("o_orderstatus")).as("mx3"),
          count(col("o_totalprice")).as("nn4"),
          countDistinct(col("o_totalprice")).as("nd4"),
          mn(money(col("o_totalprice"))).as("mn4"),
          mx(money(col("o_totalprice"))).as("mx4"),
          count(col("o_orderdate")).as("nn5"),
          countDistinct(col("o_orderdate")).as("nd5"),
          mn(col("o_orderdate").cast(DateType)).as("mn5"),
          mx(col("o_orderdate").cast(DateType)).as("mx5"),
          count(col("o_orderpriority")).as("nn6"),
          countDistinct(col("o_orderpriority")).as("nd6"),
          mn(col("o_orderpriority")).as("mn6"),
          mx(col("o_orderpriority")).as("mx6"))
        .select(expr(
          """stack(6,
            |'o_orderkey',      nr - nn1, nd1, mn1, mx1,
            |'o_custkey',       nr - nn2, nd2, mn2, mx2,
            |'o_orderstatus',   nr - nn3, nd3, mn3, mx3,
            |'o_totalprice',    nr - nn4, nd4, mn4, mx4,
            |'o_orderdate',     nr - nn5, nd5, mn5, mx5,
            |'o_orderpriority', nr - nn6, nd6, mn6, mx6)
            |as (column_name, n_null, n_distinct, min_val, max_val)
            |""".stripMargin), col("nr").as("n_rows"))
        .select("column_name", "n_rows", "n_null", "n_distinct",
          "min_val", "max_val")
        .orderBy("column_name")
    },

    // APPROX COLUMN PROFILER — the 100 TB variant of q_column_profile
    // promised above: the SAME one-pass stacked readout, but the six
    // exact COUNT(DISTINCT)s (which force Catalyst's deliberate 6×
    // Expand) are replaced by six PORTABLE HyperLogLog estimates on the
    // q_hyperloglog registers (house md5 hash, 64 registers, rank ≤ 27,
    // linear-counting small-range correction). Each column's census is
    // ONE native graft_hll64 aggregate — a 64-byte register buffer per
    // group that max-merges map-side — so the whole profile is a single
    // Aggregate with NO Expand (plan pinned in OperatorSpec); at 100 TB
    // this reads the table once and ships 64 registers per column. The
    // estimate folds the exact integer registers j = 0..63 through the
    // same ordered double tree in both engines (2^-M as exact
    // 1/shifted-integer division — no pow; an empty register reads 0 and
    // adds 1); the rel-error contract vs the exact profiler is asserted
    // in OperatorSpec (m=64 HLL band).
    "q_approx_stats" -> { (s, dir) =>
      // spread: 6 md5-sketch updates per row are the per-row work this
      // query exists to amortize; the single-split testdata scan would run
      // them all on one core. With the native kernel, dropping it saved
      // task time but not wall time in a back-to-back pair (QProf, sf0.1,
      // 4 cores, 5 reps: 1.00–1.97 s with it, 1.13–1.75 s without; task
      // time 1.4 vs 0.65 s), so it stays. Register merge is a max
      // (order-free).
      val o = Tables.spread(t(s, dir, "orders"))
      def reg(colName: String, sExpr: String): Column =
        expr(s"graft_hll64(CASE WHEN $colName IS NOT NULL THEN $sExpr END)")
      def mn(c: Column) = min(c).cast(StringType)
      def mx(c: Column) = max(c).cast(StringType)
      val specs = Seq(
        ("o_orderkey", "CAST(o_orderkey AS STRING)",
          col("o_orderkey"), col("o_orderkey")),
        ("o_custkey", "CAST(o_custkey AS STRING)",
          col("o_custkey"), col("o_custkey")),
        ("o_orderstatus", "o_orderstatus",
          col("o_orderstatus"), col("o_orderstatus")),
        ("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING)",
          money(col("o_totalprice")), money(col("o_totalprice"))),
        ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS STRING)",
          col("o_orderdate").cast(DateType), col("o_orderdate").cast(DateType)),
        ("o_orderpriority", "o_orderpriority",
          col("o_orderpriority"), col("o_orderpriority")))
      val aggs = specs.zipWithIndex.flatMap { case ((name, hs, mnc, mxc), i) =>
        Seq(count(col(name)).as(s"nn${i + 1}"),
          reg(name, hs).as(s"ms${i + 1}"),
          mn(mnc).as(s"mn${i + 1}"), mx(mxc).as(s"mx${i + 1}"))
      }
      var d = o.agg(count(lit(1)).as("nr"), aggs: _*)
      (1 to 6).foreach { i =>
        d = d
          .withColumn(s"zs$i", expr(s"aggregate(ms$i, CAST(0 AS DOUBLE), " +
            "(a, r) -> a + CAST(1 AS DOUBLE) / CAST(shiftleft(1L, r) AS DOUBLE))"))
          .withColumn(s"v$i", expr(s"size(filter(ms$i, r -> r = 0))"))
          .withColumn(s"er$i", expr(
            s"CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) / zs$i"))
          .withColumn(s"ad$i", expr(
            s"""round(CASE WHEN er$i <= CAST(160 AS DOUBLE) AND v$i > 0
               |THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v$i)
               |ELSE er$i END, 6)""".stripMargin))
      }
      d.select(expr(
          """stack(6,
            |'o_orderkey',      nr - nn1, ad1, mn1, mx1,
            |'o_custkey',       nr - nn2, ad2, mn2, mx2,
            |'o_orderstatus',   nr - nn3, ad3, mn3, mx3,
            |'o_totalprice',    nr - nn4, ad4, mn4, mx4,
            |'o_orderdate',     nr - nn5, ad5, mn5, mx5,
            |'o_orderpriority', nr - nn6, ad6, mn6, mx6)
            |as (column_name, n_null, approx_distinct, min_val, max_val)
            |""".stripMargin), col("nr").as("n_rows"))
        .select("column_name", "n_rows", "n_null", "approx_distinct",
          "min_val", "max_val")
        .orderBy("column_name")
    },

    // MARKOV NEXT-EVENT transition matrix — P(next event type | current)
    // from each user's time-ordered stream: the behavioral model behind
    // "users who view usually click next" readouts and next-action
    // prediction baselines. Scale: ONE shuffle on user_id for the lead()
    // window (event_id breaks ts ties so the successor is total-ordered),
    // then a |types|²-cell rollup; the per-source totals join back as a
    // ≤|types|-row broadcast. Probabilities are exact-integer ratios
    // rounded at the end.
    "q_markov_transitions" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = ev
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("event_type").as("from_type"), col("to_type"))
      val cnt = tr.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("from_type").agg(sum("n").as("n_from"))
      cnt.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast(DoubleType) / col("n_from"), 6).as("p"))
        .orderBy("from_type", "to_type")
    },

    // ROLLING Z-SCORE anomaly flagging over the daily event-count series —
    // the ops-dashboard staple (trailing-window mean/std, |z| > 2 flags).
    // The window statistics are built from EXACT INTEGER window sums
    // (count, Σn, Σn²) so the variance is one arithmetic expression over
    // exact inputs — identical tree both engines — not an engine-specific
    // streaming stddev; z is rounded to 6 dp and the flag reads the
    // ROUNDED z so a last-ulp difference can't flip it. A <2-day frame or
    // zero variance yields NULL z (guard, not div-by-zero). Scale: the
    // daily rollup is the only corpus-sized agg; the series itself is
    // one row per day (tiny), so the window runs single-partition BY
    // DESIGN on the aggregate, not the raw stream.
    "q_anomaly_zscore" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      daily
        .withColumn("cnt_w", count(lit(1)).over(w))
        .withColumn("sum_w", sum("n_events").over(w))
        .withColumn("sumsq_w", sum(col("n_events") * col("n_events")).over(w))
        .withColumn("mean7",
          round(col("sum_w").cast(DoubleType) / col("cnt_w"), 6))
        .withColumn("varr", when(col("cnt_w") > 1,
          (col("sumsq_w").cast(DoubleType) -
            col("sum_w").cast(DoubleType) * col("sum_w") / col("cnt_w")) /
            (col("cnt_w") - 1)))
        .withColumn("z", when(col("cnt_w") > 1 && col("varr") > 0,
          round((col("n_events") - col("sum_w").cast(DoubleType) /
            col("cnt_w")) / sqrt(col("varr")), 6)))
        .withColumn("is_anomaly",
          coalesce(abs(col("z")) > 2.0, lit(false)))
        .select("day", "n_events", "mean7", "z", "is_anomaly")
        .orderBy("day")
    },

    // EWMA (α = ½) of each user's event-value series — the smoothing
    // baseline feature stores compute per entity. α = ½ is a DECLARED-
    // SEMANTICS constant chosen so every weight (1−α)^k = 2^-k is an
    // EXACT double: the recurrence s_t = ½·x_t + ½·s_{t−1} (s_0 = x_0)
    // is then a deterministic IEEE fold — both engines run the identical
    // left-to-right fold over the identically (ts, event_id)-ordered
    // list (the q_token_entropy sorted-fold rule; Spark seeds aggregate()
    // with the head, DuckDB's list_reduce seeds with element 1 — same
    // semantics). Scale: one groupBy(user_id); the per-entity list is
    // bounded by per-user activity (the sessionization state assumption);
    // values round to 6 dp only at the end.
    "q_ewma" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("value")))).as("seq"))
        .withColumn("vals", expr("transform(seq, x -> x.value)"))
        .withColumn("ewma", round(expr(
          "aggregate(slice(vals, 2, size(vals) - 1), vals[0], " +
            "(acc, x) -> acc * 0.5D + x * 0.5D)"), 6))
        .withColumn("last_value", round(expr("element_at(vals, -1)"), 6))
        .select("user_id", "n_events", "ewma", "last_value")
        .orderBy("user_id")
    },

    // ASSOCIATION RULES over (user, day) event-type baskets — the
    // market-basket staple (support / confidence / lift): which event
    // types co-occur in a user-day beyond chance. Pair enumeration is the
    // standard a-priori self-join on the basket key — fan-out bounded by
    // the ≤|types| items per basket (≤C(5,2) pairs here), NOT quadratic
    // in the corpus; at 100 TB the same plan shuffles once on the basket
    // key. Item/total counts join back as ≤|types|-row broadcasts and a
    // 1-row broadcast; every metric is an exact-integer ratio rounded at
    // the end. Rules emit in BOTH directions (confidence is asymmetric).
    "q_association_rules" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val baskets = ev.select(col("user_id"),
        col("ts").cast(DateType).as("day"), col("event_type")).distinct()
      val items = baskets.groupBy("event_type")
        .agg(count(lit(1)).as("n_item"))
      val total = baskets.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val pairs = baskets.as("b1")
        .join(baskets.as("b2"),
          col("b1.user_id") === col("b2.user_id") &&
            col("b1.day") === col("b2.day") &&
            col("b1.event_type") < col("b2.event_type"))
        .groupBy(col("b1.event_type").as("a"), col("b2.event_type").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      val rules = pairs.select(col("a").as("antecedent"),
          col("b").as("consequent"), col("n_ab"))
        .unionByName(pairs.select(col("b").as("antecedent"),
          col("a").as("consequent"), col("n_ab")))
      rules
        .join(broadcast(items.select(col("event_type").as("antecedent"),
          col("n_item").as("n_ant"))), "antecedent")
        .join(broadcast(items.select(col("event_type").as("consequent"),
          col("n_item").as("n_con"))), "consequent")
        .crossJoin(broadcast(total))
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          round(col("n_ab").cast(DoubleType) / col("n_baskets"), 6)
            .as("support"),
          round(col("n_ab").cast(DoubleType) / col("n_ant"), 6)
            .as("confidence"),
          round(col("n_ab").cast(DoubleType) * col("n_baskets") /
            (col("n_ant") * col("n_con")), 6).as("lift"))
        .orderBy("antecedent", "consequent")
    },

    // SCD Type-2 dimension build from a change log: per user, each
    // event_type transition opens a new version row with
    // [valid_from, valid_to) validity and a version counter; the open row
    // (valid_to NULL) is current. The standard warehouse/feature-store shape
    // for "what was this entity's state as of T". Scale: ONE shuffle on
    // user_id — the change-detect lag, the valid_to lead, and the version
    // row_number all reuse the same partitioning (the filter between them
    // preserves it); no self-join, no global window. At 100 TB the change
    // log bucket-partitions by entity and the same plan holds.
    "q_scd2_dimension" -> { (s, dir) =>
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(wo))
        .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(wo))
        .withColumn("version", row_number().over(wo))
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "version")
    },

    // Collect aggregates: per-group distinct value sets, sorted and joined
    // to a scalar (collect_set raw output is order-nondeterministic AND
    // array-typed — both oracle-unportable).
    "q_collect_agg" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // Set ops over nation keys of customers vs suppliers.
    "q_union_counts" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.unionByName(sup).groupBy("nationkey").agg(count(lit(1)).as("n"))
        .orderBy("nationkey")
    },
    "q_intersect" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).orderBy("nationkey")
    },
    "q_except" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(sup).orderBy("nationkey")
    },

    // Schema-evolution union: two vintages of the same feed with drifted
    // projections merged by NAME with missing columns null-filled
    // (unionByName(allowMissingColumns)) — positional UNION would silently
    // misalign. The batch form of a pipeline ingesting evolving schemas.
    "q_union_evolve" -> { (s, dir) =>
      val v1997 = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v1998 = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      v1997.unionByName(v1998, allowMissingColumns = true)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-drift)")).as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy("priority")
    },

    // ROLLUP hierarchy totals (grouping-sets family). NULL group labels are
    // coalesced so oracle NULL-ordering differences can't bite.
    "q_rollup_returns" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").cast(DoubleType).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus")
    },

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-(status), per-(priority), and grand-total rows in one pass.
    "q_grouping_sets" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    },

    // Pivot: order counts by status spread into columns per priority —
    // DataFrame pivot with pinned column values (pinning keeps the schema
    // static, which is also what a 100 TB pivot needs: an unpinned pivot
    // does an extra distinct-values job first).
    "q_pivot" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    },

    // CUBE over order status × priority.
    "q_cube_orders" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    },

    // Skew-mitigation pattern: two-stage salted aggregation. l_returnflag
    // has only 3 values → 3 reducers own the whole table in a naive groupBy;
    // salting to (key, salt) spreads the partial aggregation over
    // 3×SaltN reducers, and the final combine touches just 3×SaltN rows.
    // (With exact DECIMAL partials the result is bit-identical to the direct
    // aggregation — which is what the oracle computes.) At 100 TB this is
    // the manual fallback when AQE's skew handling can't apply (aggregation
    // skew rather than join skew).
    "q_skew_salted_agg" -> { (s, dir) =>
      val SaltN = 16
      t(s, dir, "lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(SaltN)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(money(col("l_extendedprice"))).as("psum"))
        .groupBy("l_returnflag")
        .agg(sum("pn").as("n"), sum("psum").cast(DoubleType).as("revenue"))
        .orderBy("l_returnflag")
    },

    // Skew-mitigation pattern, JOIN form: replicate-and-salt. The fact side
    // joins on l_returnflag (3 values → 3 reducers own the whole shuffle in
    // a naive sort-merge join); salting the fact key to (flag, salt) and
    // REPLICATING the dim row across all SaltN salt values spreads the join
    // over 3×SaltN balanced partitions. The dim grows ×SaltN — the
    // technique's real cost, affordable exactly when the dim is small
    // relative to the fact (when it's broadcastable you broadcast instead;
    // the shuffle_hash hint models the 100 TB case where per-key state is
    // too big to broadcast but skew would stall 3 reducers). Salt values
    // don't affect the RESULT — dim carries every salt, so (flag, salt)
    // matches exactly the rows (flag) would — which is what the unsalted
    // oracle recomputes; exact DECIMAL partials keep the weighted sum
    // bit-identical.
    "q_skew_salted_join" -> { (s, dir) =>
      val SaltN = 16
      val dim = s.createDataFrame(Seq(("A", 2L), ("N", 10L), ("R", 5L)))
        .toDF("flag", "weight")
        .withColumn("salt", explode(expr(s"sequence(0, ${SaltN - 1})")))
      t(s, dir, "lineitem")
        .withColumn("fsalt", pmod(hash(col("l_orderkey")), lit(SaltN)))
        // hint the DIM side: it becomes the hash-table BUILD side (48
        // rows per partition), the salted fact side streams — building on
        // the fact would materialize the big side into memory per task
        .join(dim.hint("shuffle_hash"), col("l_returnflag") === col("flag") &&
          col("fsalt") === col("salt"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_quantity")) * col("weight"))
            .cast(DoubleType).as("wsum"))
        .orderBy("l_returnflag")
    },

    // Declarative data-quality contract (the Deequ/"expectations" shape):
    // one aggregation pass per table computes every rule's violation count
    // simultaneously (conditional-sum partials — no per-rule scans), plus a
    // referential rule as an anti-join count; the long-format result
    // (table, rule, n_violations, pass) is what a pipeline gates a
    // promotion on. At 100 TB: 2 scans + one broadcast anti-join, however
    // many rules the contract holds. Includes a deliberately tight
    // plausibility bound (totalprice cap) so the failing path is exercised,
    // not just asserted green.
    "q_quality_contract" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      def v(pred: org.apache.spark.sql.Column) =
        sum(when(pred, 1L).otherwise(0L))
      val liRules = li.agg(
        v(col("l_orderkey").isNull).as("r1"),
        v(col("l_quantity") <= 0).as("r2"),
        v(col("l_discount") < 0 || col("l_discount") > 1).as("r3"),
        v(col("l_extendedprice") < 0).as("r4"),
        v(col("l_shipdate").isNull).as("r5"))
        .select(expr("""stack(5,
          'lineitem', 'orderkey_not_null', r1,
          'lineitem', 'quantity_positive', r2,
          'lineitem', 'discount_in_unit_range', r3,
          'lineitem', 'extendedprice_nonnegative', r4,
          'lineitem', 'shipdate_not_null', r5) AS (tbl, rule, n_violations)"""))
      val oRules = o.agg(
        v(col("o_orderkey").isNull).as("r1"),
        v(col("o_totalprice") <= 0).as("r2"),
        v(col("o_totalprice") > 100000).as("r3"),
        v(col("o_orderdate").isNull).as("r4"))
        .select(expr("""stack(4,
          'orders', 'orderkey_not_null', r1,
          'orders', 'totalprice_positive', r2,
          'orders', 'totalprice_cap_100k', r3,
          'orders', 'orderdate_not_null', r4) AS (tbl, rule, n_violations)"""))
      val orphans = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders").as("tbl"), lit("custkey_references_customer").as("rule"),
          col("n_violations"))
      liRules.union(oRules).union(orphans)
        .withColumn("pass", col("n_violations") === 0)
        .orderBy("tbl", "rule")
    },

    // Statistical moment aggregates: stddev/variance/covariance/correlation
    // per group — single-pass distributed moment accumulation (Welford-style
    // partials merge associatively, so the shuffle shape is the same as any
    // partial+final agg). Computed over small-magnitude columns (quantity,
    // discount) and the scale-free corr so 6-dp rounding absorbs
    // partial-order float noise.
    "q_stats_moments" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // Exact distinct aggregation (the expensive kind — needs its own shuffle
    // per distinct column; approx_count_distinct is the 100 TB path, tested
    // separately since HLL values are engine-specific).
    "q_count_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // Scalar string functions over part.
    "q_scalar_string" -> { (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 8).as("prefix"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("snake"))
        .orderBy("p_partkey")
    },

    // Scalar map-function surface over part: construction (map, map_concat,
    // element_at), introspection (size, map_keys/values, map_contains_key)
    // and the map HOFs (map_filter, transform_values). Map-typed columns are
    // serialized to joined strings on output — same portability rule as
    // arrays (the driver's comparator can only sort scalars).
    "q_scalar_map" -> { (s, dir) =>
      t(s, dir, "part")
        .withColumn("m", map_concat(
          map(lit("brand"), col("p_brand"), lit("type"), col("p_type")),
          map(lit("name"), col("p_name"))))
        .select(
          col("p_partkey"),
          element_at(col("m"), "brand").as("v_brand"),
          element_at(col("m"), "name").as("v_name"),
          size(col("m")).as("n_entries"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_sorted"),
          expr("map_contains_key(m, 'type')").as("has_type"),
          expr("size(map_filter(m, (k, v) -> k <> 'type'))").as("n_no_type"),
          expr("array_join(sort_array(map_values(transform_values(m, (k, v) -> upper(v)))), '|')")
            .as("vals_upper"))
        .orderBy("p_partkey")
    },

    // Scalar date/time functions over orders.
    "q_scalar_datetime" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")
    },

    // Scalar math + CASE bucketing, aggregated.
    "q_case_math" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"),
          min(money(col("o_totalprice"))).cast(DoubleType).as("mn"),
          max(money(col("o_totalprice"))).cast(DoubleType).as("mx"))
        .orderBy("bucket")
    },

    // directJoin analog through a custom Rule[LogicalPlan] (SURVEY.md §7.2
    // step 5): a tiny literal key list joined against customer becomes a
    // pushed IN-filter point read on the key — see graft.plans.DirectJoinRule,
    // which every session gets from Sessions.local (GraftExtensions).
    "q_direct_join" -> { (s, dir) =>
      // a driver-local list → LocalRelation, the shape the rule matches
      val keys = s.createDataFrame(
        java.util.Arrays.asList(Seq(7L, 42L, 101L).map(org.apache.spark.sql.Row(_)): _*),
        StructType(Seq(StructField("lookup_key", LongType, nullable = false))))
      val c = t(s, dir, "customer")
      c.join(keys, c("c_custkey") === keys("lookup_key"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // The LeftSemi form of directJoin: EXISTS against a literal key list.
    // A semi join neither duplicates nor projects the lookup side, so
    // DirectJoinRule collapses the entire Join into the pushed
    // `c_custkey IN (...)` filter — the physical plan contains NO join
    // (asserted in PlanSpec), just a point-read scan; the purest form of
    // the connector's key-routed lookup.
    "q_direct_semi_join" -> { (s, dir) =>
      val keys = s.createDataFrame(
        java.util.Arrays.asList(Seq(7L, 42L, 101L, 42L).map(org.apache.spark.sql.Row(_)): _*),
        StructType(Seq(StructField("lookup_key", LongType, nullable = false))))
      val c = t(s, dir, "customer")
      c.join(keys, c("c_custkey") === keys("lookup_key"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Typed Aggregator UDAF (SURVEY.md §7.3): per-returnflag quantity-
    // weighted mean price via graft.functions.WeightedAvg. Exact integer
    // buffers make the value partial-aggregation-order independent; the
    // UDAF participates in the normal partial+final hash aggregate.
    "q_udaf_weighted_avg" -> { (s, dir) =>
      val wavg = udaf(WeightedAvg, WeightedAvg.inputEncoder)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          (money(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
          col("l_quantity").cast(LongType).as("w"))
        .groupBy("l_returnflag")
        .agg(round(wavg(col("cents"), col("w")), 6).as("wavg_price"))
        .orderBy("l_returnflag")
    },

    // from_json with explicit schemas on events.props: struct extraction
    // for the typed field and MapType parsing for schema-on-read key
    // enumeration (SURVEY.md §2.4 names from_json; get_json_object is
    // exercised separately in q_json_events).
    "q_from_json_props" -> { (s, dir) =>
      // events ships as one parquet file → one split; spread before the
      // CPU-bound double JSON parse (Tables.spread is gated: it only
      // shuffles when the scan has fewer splits than cores)
      Tables.spread(t(s, dir, "events"))
        .withColumn("p", from_json(col("props"),
          StructType(Seq(StructField("k", LongType)))))
        .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"),
          sum(size(map_keys(col("m"))).cast(LongType)).as("n_keys"))
        .orderBy("event_type")
    },

    // Spark 4 VARIANT path for semi-structured data: parse_json → VARIANT
    // column → typed variant_get extraction. The third JSON tier next to
    // get_json_object (per-path string extraction) and from_json (fixed
    // schema): variant keeps the full value in a binary-encoded form with
    // per-row structure, the right fit when props schemas drift — and at
    // 100 TB it is shredded columnar in parquet rather than re-parsed text.
    "q_variant_props" -> { (s, dir) =>
      Tables.spread(t(s, dir, "events"))
        .withColumn("v", expr("parse_json(props)"))
        .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          count(when(expr("variant_get(v, '$.missing', 'bigint')").isNull, 1)).as("n_missing"))
        .orderBy("event_type")
    },

    // JSON scalar functions on events.props ({"k": <int>}).
    "q_json_events" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(money(col("value"))).cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    },

    // Exact percentiles (continuous interpolation, matches quantile_cont).
    "q_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy("l_returnflag")
    },

    // Harmonized aggregate over a join: revenue per nation per year.
    // Scale: nation (25 rows, constant) broadcast; customer scales with SF →
    // no hint, AQE/auto-broadcast decides.
    "q_revenue_by_nation_year" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("y"))
        .agg(sum(money(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name", "y")
    },

    // TPC-H Q2 shape (adapted: the testdata has no partsupp, so the
    // supplier-offer table is derived from lineitem): for each part, the
    // EUROPE suppliers whose observed unit price equals the per-part minimum
    // — a multi-table correlated MIN subquery over a reused CTE, the classic
    // decorrelation stress test. unit_cost is one IEEE division of values
    // both engines read identically from parquet, so MIN + the equality
    // predicate match bit-for-bit.
    // Scale: eps is a map-side-combined aggregate on (partkey, suppkey);
    // Catalyst decorrelates the MIN into an aggregate + equi-join on
    // l_partkey (same shuffle key as eps itself); nation/region are
    // constant-size broadcasts; the final LIMIT is TakeOrderedAndProject.
    "q2_min_cost_supplier" -> { (s, dir) =>
      Seq("lineitem", "supplier", "nation", "region", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        WITH eps AS (
          SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
          GROUP BY l_partkey, l_suppkey)
        SELECT p_partkey, p_brand, s_name, n_name,
               ROUND(unit_cost, 6) AS unit_cost
        FROM eps
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN part     ON p_partkey = l_partkey
        WHERE unit_cost = (SELECT MIN(e2.unit_cost) FROM eps e2
                           WHERE e2.l_partkey = eps.l_partkey)
        ORDER BY p_partkey, s_name
        LIMIT 100""")
    },

    // TPC-H Q13 shape: customer order-count distribution through a LEFT
    // OUTER join whose condition carries the filter (a customer with only
    // urgent orders must still appear with c_count = 0 — pre-filtering
    // orders is the classic wrong-plan that a plain inner join would give).
    // Scale: one shuffle on custkey for the outer join + first aggregate
    // (same key → reused partitioning); the second aggregate's domain is
    // |distinct order counts| — tiny.
    "q13_cust_distribution" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey") &&
          o("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q17 shape: revenue from small-quantity orders of one brand,
    // where "small" is a per-part correlated average. The comparison is
    // rewritten in exact integers (5·qty·cnt < sum_qty — quantities are
    // whole numbers, exact in BIGINT) so the decorrelated AVG can't flip at
    // an ulp boundary between engines; money sums in exact DECIMAL.
    // Scale: Catalyst decorrelates both scalar subqueries into one
    // aggregate on l_partkey joined back on the same key; part is the only
    // broadcast-size side.
    "q17_small_qty_revenue" -> { (s, dir) =>
      Seq("lineitem", "part").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
               AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND CAST(l_quantity AS BIGINT) * 5 *
              (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
            < (SELECT SUM(CAST(l_quantity AS BIGINT))
               FROM lineitem l3 WHERE l3.l_partkey = p_partkey)""")
    },

    // TPC-H Q18 shape: large-volume orders — semi join against an
    // aggregated key set (IN over GROUP BY ... HAVING), then re-aggregate
    // with the customer dimension. Quantities are whole-number doubles →
    // exact sums in any partial order.
    // Scale: the HAVING aggregate and the semi join shuffle on the same key
    // (l_orderkey / o_orderkey); AQE picks broadcast for the surviving key
    // set when it is small.
    "q18_large_volume" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val big = l.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("q"))
        .filter(col("q") > 160)
        .select("l_orderkey")
      val oo = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      oo.join(big, oo("o_orderkey") === big("l_orderkey"), "left_semi")
        .join(c, oo("o_custkey") === c("c_custkey"))
        .join(l, oo("o_orderkey") === l("l_orderkey"))
        .groupBy(c("c_name"), c("c_custkey"), oo("o_orderkey"), oo("o_totalprice"))
        .agg(sum("l_quantity").cast(DoubleType).as("total_qty"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_totalprice").cast(DoubleType).as("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },

    // TPC-H Q21 shape (adapted: no l_receiptdate/l_commitdate in the
    // testdata — "late" is shipped >90 days after the order date):
    // suppliers who were the SOLE late shipper in a multi-supplier order.
    // EXISTS → left-semi self-join, NOT EXISTS → left-anti self-join, both
    // with a non-equal secondary condition.
    // Scale: every self-join shuffles on l_orderkey — one co-partitioned
    // key chain end to end; supplier is broadcast-size; final top-k is
    // TakeOrderedAndProject.
    "q21_waiting_supplier" -> { (s, dir) =>
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val late = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
      val l2 = l.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
      val late3 = late.select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
      val sup = t(s, dir, "supplier")
      late
        .join(l2, late("l_orderkey") === l2("lo2") &&
          late("l_suppkey") =!= l2("ls2"), "left_semi")
        .join(late3, late("l_orderkey") === late3("lo3") &&
          late("l_suppkey") =!= late3("ls3"), "left_anti")
        .join(sup, late("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    },

    // TPC-H Q22 shape (adapted: no c_phone — the anti condition is "never
    // placed an urgent order"): per-nation count and total balance of
    // above-average-balance customers with no urgent orders. The global
    // average is an uncorrelated scalar subquery (broadcast 1-row); the
    // comparison is exact integer cents (bal·cnt > sum), the NOT EXISTS a
    // left-anti join.
    // Scale: customer aggregates map-side; the anti join shuffles on
    // custkey; the scalar subquery is a 1-row broadcast cross join.
    "q22_dormant_customers" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c_nationkey, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) *
              (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
            > (SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
               FROM customer c3 WHERE c3.c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")
    },

    // ROC AUC of a scoring rule — the model-evaluation staple next to the
    // q_naive_bayes confusion matrix: does a score rank positives above
    // negatives (here: document length as a predictor of lang='en', a
    // declared-semantics demo pairing). Computed EXACTLY by the
    // rank-statistic identity AUC = U / (P·N) with half-credit for ties —
    // but over the SCORE HISTOGRAM, not the corpus: group to one row per
    // distinct score (the only corpus-sized agg), then a cumulative window
    // over the histogram accumulates negatives-below; 2·U = Σ_s pos(s) ·
    // (2·cum_neg_below(s) + neg(s)) stays in exact BIGINT (no float rank
    // averaging). The window is single-partition BY DESIGN on the
    // histogram (distinct-score-sized, like the q_anomaly_zscore daily
    // series), never on the raw table; at 100 TB the histogram is still
    // ≤|distinct scores| rows. At ~1e10 docs P·N overflows BIGINT — the
    // scale swap is the same tree in DECIMAL(38,0), plan unchanged.
    "q_roc_auc" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val h = d.groupBy(col("n_chars").as("score"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
          sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("cneg", coalesce(sum("neg").over(w), lit(0L)))
        .agg(
          sum(col("pos") * (lit(2L) * col("cneg") + col("neg"))).as("u2"),
          sum("pos").as("n_pos"), sum("neg").as("n_neg"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          round(col("u2").cast(DoubleType) /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"),
          round(col("u2").cast(DoubleType) /
            (col("n_pos").cast(DoubleType) * col("n_neg")) - lit(1.0), 6)
            .as("gini"))
    },

    // ROLLUP REPORT — multi-level subtotals in ONE pass (GROUP BY ROLLUP:
    // detail, per-flag subtotal, grand total — the finance/BI report shape
    // that otherwise takes 3 scans UNIONed): Spark expands the grouping
    // sets via a single Expand over the scan (each input row feeds all 3
    // levels map-side; partial aggregation still combines before the
    // shuffle), so the cost is one scan regardless of level count.
    // GROUPING() flags disambiguate a real NULL key from a subtotal row —
    // the canonical trap this operator exists to solve — and display keys
    // coalesce to 'ALL' (declared; real values are single letters).
    // Quantities sum in BIGINT, revenue in DECIMAL(12,2) (the money rule)
    // cast to double once at the end; ordered by (grouping flags, keys) —
    // a total order putting details before their subtotal.
    "q_rollup_report" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
          grouping(col("l_linestatus")).cast(LongType).as("g_status"),
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast(DoubleType).as("revenue"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("n_rows"), col("sum_qty"),
          col("revenue"))
        .orderBy("g_flag", "flag", "g_status", "status")
    },

    // RFM SEGMENTATION — the CRM workhorse (recency / frequency /
    // monetary quintile scores → named lifecycle segments). The classic
    // formulation is ntile(5) over the whole user table — a GLOBAL
    // single-partition sort, exactly what dies at 100 TB users — so this
    // uses the scale-correct equivalent: quintile FENCES via interpolated
    // percentiles (12 scalars, rounded 6dp at the fence boundary — the
    // q_outlier_iqr discipline so a last-ulp difference can't flip a user
    // across a fence), broadcast as one row, scores assigned MAP-SIDE as
    // 1 + Σ(threshold crossings) in exact integers. Higher score = better
    // (recency inverts: smaller gap crosses more '<' fences). Segment
    // taxonomy is the declared CASE (champion / recent / loyal-at-risk /
    // hibernating / regular); rollup reports exact-integer averages.
    // Scale: one user_id shuffle for the rollup, one percentile pass, the
    // rest map-side — no global sort anywhere.
    "q_rfm_segments" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast(LongType))
      val mx = ev.agg(max("ts").as("maxt"))
      // recency at HOUR resolution via exact integer microseconds — day
      // resolution degenerates on this corpus (nearly every user fires on
      // the final day, collapsing the R quintiles onto 0)
      val per = ev.crossJoin(broadcast(mx)).groupBy("user_id", "maxt")
        .agg(max("ts").as("lastt"), count(lit(1)).as("freq"),
          sum("cents").as("cents"))
        .select(col("user_id"),
          expr("(unix_micros(maxt) - unix_micros(lastt)) div 3600000000")
            .as("recency"),
          col("freq"), col("cents"))
      val fences = per.agg(
        round(expr("percentile(recency, 0.2)"), 6).as("r20"),
        round(expr("percentile(recency, 0.4)"), 6).as("r40"),
        round(expr("percentile(recency, 0.6)"), 6).as("r60"),
        round(expr("percentile(recency, 0.8)"), 6).as("r80"),
        round(expr("percentile(freq, 0.2)"), 6).as("f20"),
        round(expr("percentile(freq, 0.4)"), 6).as("f40"),
        round(expr("percentile(freq, 0.6)"), 6).as("f60"),
        round(expr("percentile(freq, 0.8)"), 6).as("f80"),
        round(expr("percentile(cents, 0.2)"), 6).as("m20"),
        round(expr("percentile(cents, 0.4)"), 6).as("m40"),
        round(expr("percentile(cents, 0.6)"), 6).as("m60"),
        round(expr("percentile(cents, 0.8)"), 6).as("m80"))
      def score(v: String, fs: Seq[String], op: String) =
        s"1L + ${fs.map(f => s"(CASE WHEN $v $op $f THEN 1 ELSE 0 END)")
          .mkString(" + ")}"
      per.crossJoin(broadcast(fences))
        .withColumn("r_score",
          expr(score("recency", Seq("r80", "r60", "r40", "r20"), "<")))
        .withColumn("f_score",
          expr(score("freq", Seq("f20", "f40", "f60", "f80"), ">")))
        .withColumn("m_score",
          expr(score("cents", Seq("m20", "m40", "m60", "m80"), ">")))
        .withColumn("segment", expr(
          """CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            |WHEN r_score >= 4 THEN 'recent'
            |WHEN f_score >= 4 THEN 'loyal_at_risk'
            |WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            |ELSE 'regular' END""".stripMargin))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_users"), sum("recency").as("sr"),
          sum("cents").as("sc"), sum("m_score").as("sm"))
        .select(col("segment"), col("n_users"),
          expr("round(CAST(sr AS DOUBLE) / n_users, 6)")
            .as("avg_recency_h"),
          expr("round(CAST(sc AS DOUBLE) / 100.0D / n_users, 6)")
            .as("avg_spend"),
          expr("round(CAST(sm AS DOUBLE) / n_users, 6)").as("avg_m_score"))
        .orderBy("segment")
    },

    // SOURCE CONCENTRATION AUDIT (Gini / HHI / top-1 share) — the
    // corpus-mix diversity readout next to E69's Zipf slope: is the
    // corpus dominated by a handful of crawl sources (the
    // one-domain-eats-the-mix failure q_source_cap exists to prevent)?
    // Gini over per-source doc counts via the sorted-rank identity
    // G = 2Σi·x₍ᵢ₎/(nΣx) − (n+1)/n — Σi·x is an EXACT BIGINT once ranks
    // come from a total order (count, then source) — plus the
    // Herfindahl–Hirschman index Σshare² and the top-1 share, all one
    // double tree over exact integers. The rank window runs on the
    // ≤|sources|-row rollup BY DESIGN. Scale: one map-side-combined
    // rollup; everything after is ≤|sources| rows.
    "q_concentration" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("x"))
        .withColumn("i", row_number().over(
          Window.orderBy(col("x").asc, col("source").asc)).cast("long"))
      g.agg(count(lit(1)).as("n_sources"), sum("x").as("n_docs"),
          sum(col("i") * col("x")).as("iwx"), max("x").as("max_x"),
          sum(col("x") * col("x")).as("xx"))
        .select(col("n_sources"), col("n_docs"),
          round(expr("2.0D * iwx / (n_sources * CAST(n_docs AS DOUBLE)) " +
            "- (n_sources + 1.0D) / n_sources"), 6).as("gini"),
          round(expr("CAST(max_x AS DOUBLE) / n_docs"), 6).as("top1_share"),
          round(expr("CAST(xx AS DOUBLE) / " +
            "(CAST(n_docs AS DOUBLE) * n_docs)"), 6).as("hhi"))
    },

    // MARKETING ATTRIBUTION (first-touch vs last-touch) — the revenue
    // question product analytics exists to answer: WHICH channel gets
    // credit for a purchase. First-touch credits the user's first-ever
    // event's type; last-touch credits the latest NON-purchase event
    // strictly before the purchase (purchases with no prior touch credit
    // 'direct' — declared). The prior-touch lookup is PORTABLE: a
    // running MAX over the prior rows' CASE'd row numbers (an integer —
    // both engines agree exactly), then one keyed self-join on
    // (user, rn) fetches the touch's type — no IGNORE NULLS window
    // dependence, no per-user arrays. Revenue stays exact integer cents
    // until the final /100 display. Both attribution rollups read the
    // SAME attributed table and full-outer-merge per channel, so the two
    // models' totals reconcile by construction. Scale: one user_id
    // shuffle for the windows, one keyed join, ≤|types|+1 output rows.
    "q_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast("long"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val r = ev.withColumn("rn", row_number().over(w).cast("long"))
      val wPrev = Window.partitionBy("user_id").orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
      val withPn = r.withColumn("pn",
        max(when(col("event_type") =!= "purchase", col("rn"))).over(wPrev))
      val firsts = r.filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_type"))
      val purch = withPn.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("pn"), col("cents"))
      val lastSrc = r.select(col("user_id"), col("rn").as("pn"),
        col("event_type").as("last_type"))
      val att = purch
        .join(firsts, "user_id")
        .join(lastSrc, Seq("user_id", "pn"), "left")
        .withColumn("last_type", coalesce(col("last_type"), lit("direct")))
      val f = att.groupBy(col("first_type").as("channel"))
        .agg(count(lit(1)).as("ft_conv"), sum("cents").as("ft_cents"))
      val l = att.groupBy(col("last_type").as("channel"))
        .agg(count(lit(1)).as("lt_conv"), sum("cents").as("lt_cents"))
      f.join(l, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("ft_conv"), lit(0L)).as("first_touch_conv"),
          round(coalesce(col("ft_cents"), lit(0L)).cast("double") /
            lit(100.0), 6).as("first_touch_rev"),
          coalesce(col("lt_conv"), lit(0L)).as("last_touch_conv"),
          round(coalesce(col("lt_cents"), lit(0L)).cast("double") /
            lit(100.0), 6).as("last_touch_rev"))
        .orderBy("channel")
    },

    // WATERMARK LATENESS AUDIT — the measurement that SIZES the watermark
    // delay every streaming query declares (too small drops events, too
    // big bloats state): replay the events in a simulated out-of-order
    // arrival (the md5 permutation — testdata arrives perfectly sorted,
    // so transport disorder self-derives, declared) and count, for each
    // candidate delay, the events whose event time sits more than the
    // delay behind the high-water mark at their arrival. THE SCAN IS
    // DISTRIBUTED: the arrival-order running max never uses a global
    // sort — arrival keys bucket into contiguous CHUNKS (a div 2²⁶),
    // each chunk's intra-window is bounded, and chunk maxima prefix-fold
    // in a ≤|chunks|-row window (the classic two-level prefix-scan that
    // replaces ORDER BY over 100 TB; chunk width is the only knob).
    // Everything is exact integer micros; drop share is monotone
    // non-increasing in the delay by construction.
    "q_lateness_audit" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("unix_micros(ts)").as("tsu"))
        .withColumn("a", expr(
          hExpr("cast(event_id as string)")))
        .withColumn("chunk", expr("a div 67108864"))
      val wIn = Window.partitionBy("chunk")
        .orderBy(col("a").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunkMax = ev.groupBy("chunk").agg(max("tsu").as("cmax"))
      val wCh = Window.orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunkPrev = chunkMax
        .withColumn("pmax", max("cmax").over(wCh))
        .select(col("chunk"), col("pmax"))
      ev.join(broadcast(chunkPrev), "chunk")
        .withColumn("imax", max("tsu").over(wIn))
        .withColumn("hw", greatest(coalesce(col("imax"), col("tsu")),
          coalesce(col("pmax"), col("tsu"))))
        .withColumn("late_us", greatest(lit(0L), col("hw") - col("tsu")))
        .select(col("late_us"), explode(expr(
          "array(0L, 86400000000L, 604800000000L, 2592000000000L)"))
          .as("delay_us"))
        .groupBy("delay_us")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > col("delay_us"), 1L).otherwise(0L))
            .as("n_dropped"))
        .select(expr("delay_us div 3600000000").as("delay_h"),
          col("n_events"), col("n_dropped"),
          round(col("n_dropped").cast("double") / col("n_events"), 6)
            .as("drop_share"))
        .orderBy("delay_h")
    },

    // INCREMENTAL AGGREGATE REFRESH (delta-view maintenance) — the
    // pattern that makes a 100 TB daily rollup affordable: never
    // recompute the world, keep PARTIAL aggregates (count + exact-cents
    // sum are commutative monoids) and MERGE yesterday's materialized
    // partials with today's delta partials. Here the base (first 25 days,
    // self-derived split) and the delta (the rest) aggregate
    // INDEPENDENTLY, union as partial rows, and a second groupBy merges
    // them — the exact shape of a Delta/Iceberg MERGE-refresh or a
    // two-level Spark partial agg, made explicit. The oracle recomputes
    // from scratch in one pass: merged-partials ≡ full recompute IS the
    // correctness claim (it holds for ANY monoid aggregate; avg is
    // carried as sum+count, never pre-divided — the classic refresh bug
    // this query pins against). Scale: each side shuffles only its own
    // rows once; the merge is |types|-sized.
    "q_delta_refresh" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast(LongType))
        .withColumn("day", col("ts").cast(DateType))
      val cut = ev.agg(date_add(min("day"), 25).as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
      def partial(df: DataFrame, tag: String) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("part", lit(tag))
      val base = partial(tagged.filter(col("day") < col("cut")), "base")
      val delta = partial(tagged.filter(col("day") >= col("cut")), "delta")
      base.unionByName(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n_events"), sum("sum_cents").as("sum_cents"),
          sum(when(col("part") === "base", col("n")).otherwise(0L))
            .as("n_base"),
          sum(when(col("part") === "delta", col("n")).otherwise(0L))
            .as("n_delta"))
        .select(col("event_type"), col("n_events"), col("n_base"),
          col("n_delta"),
          round(expr("CAST(sum_cents AS DOUBLE) / 100.0D / n_events"), 6)
            .as("avg_value"))
        .orderBy("event_type")
    },

    // k-ANONYMITY / l-DIVERSITY AUDIT (Sweeney 2002 / Machanavajjhala
    // 2007) — the re-identification risk readout a governance pipeline
    // runs before releasing a dataset: quasi-identifier = (nationkey,
    // mktsegment) — the columns an attacker links on — and the sensitive
    // attribute is the account-balance band (exact integer cents div
    // 100 000, so the band edge can never float-drift). A QI group
    // smaller than k = 5 (declared) re-identifies its members; a group
    // with few distinct sensitive values leaks the attribute even at
    // size ≥ k (that's l-diversity — the homogeneity attack k-anonymity
    // alone misses). ONE QI rollup computes sizes + per-group distinct
    // bands; the summary is a second ≤|groups| aggregation, all exact
    // integers until the final ratios. Scale: group-by + distinct-count
    // partials, nothing else; at 100 TB the distinct-count swaps to HLL
    // with the same plan shape.
    "q_k_anonymity" -> { (s, dir) =>
      val g = t(s, dir, "customer")
        .withColumn("band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
            " div 100000"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("gsize"),
          countDistinct("band").as("l_div"))
      g.agg(
          count(lit(1)).as("n_groups"),
          sum("gsize").as("n_customers"),
          sum(when(col("gsize") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("gsize") < 5, col("gsize")).otherwise(0L))
            .as("n_exposed"),
          min("gsize").as("min_k"),
          min("l_div").as("min_l"),
          sum("l_div").as("sum_l"))
        .select(col("n_groups"), col("n_customers"), col("n_small_groups"),
          col("n_exposed"),
          round(col("n_exposed").cast("double") / col("n_customers"), 6)
            .as("exposed_share"),
          col("min_k"), col("min_l"),
          round(col("sum_l").cast("double") / col("n_groups"), 6)
            .as("avg_l"))
    },

    // WILSON LOWER-BOUND RANKING (Wilson 1927 via the Agresti/"how not to
    // sort by average rating" discipline) — ranking groups by a raw
    // success rate promotes tiny-n flukes; the Wilson score interval's
    // lower bound penalizes exactly by sample size, which is how real
    // leaderboards/quality gates sort. Here: per-source share of 'en'
    // documents (the corpus-quality readout a mixture designer ranks
    // sources by). n and k are exact integers from ONE map-side-combined
    // rollup; the bound is one shared double tree (z = 1.96 declared,
    // z² spelled as 1.96·1.96 so both engines build the identical
    // product), ordered by the ROUNDED bound with a source tiebreak —
    // a total order. Scale: ≤|sources| rows after a single pass.
    "q_wilson_rank" -> { (s, dir) =>
      val ph = "(CAST(n_en AS DOUBLE) / n_docs)"
      val lo = s"($ph + 1.96D * 1.96D / (2.0D * n_docs) - " +
        s"1.96D * sqrt(($ph * (1.0D - $ph) + " +
        "1.96D * 1.96D / (4.0D * n_docs)) / n_docs)) / " +
        "(1.0D + 1.96D * 1.96D / n_docs)"
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .withColumn("p_hat", round(expr(ph), 6))
        .withColumn("wilson_lo", round(expr(lo), 6))
        .orderBy(col("wilson_lo").desc, col("source").asc)
    },

    // CUPED VARIANCE REDUCTION (Deng et al. 2013, "Improving the
    // Sensitivity of Online Controlled Experiments" — the adjustment every
    // mature A/B platform applies before the t-test): per-user POST-period
    // spend adjusted by the PRE-period covariate, ŷ = y − θ(x − x̄) with
    // θ = cov(x,y)/var(x), shrinks metric variance by ρ² with zero bias.
    // Periods self-derive (pre = first 15 days from min date — declared);
    // x, y in exact integer cents; ONE user rollup then ONE global
    // aggregation yields every sufficient statistic (n, Σx, Σy, Σx²,
    // Σxy, Σy², per-variant Σ via the md5 coin — B-side stats derived by
    // subtraction, so the agg stays six-wide); θ is ROUNDED at the
    // estimator boundary before the adjusted-diff arithmetic (the
    // q_theil_sen discipline), ρ² and both experiment diffs are shared
    // double trees over the exact integers. Degenerate variance yields
    // NULLs. Scale: one user_id shuffle + a 1-row agg — the readout adds
    // nothing to the cost of computing the metric itself.
    "q_cuped" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast(LongType))
        .withColumn("day", col("ts").cast(DateType))
      val mid = ev.agg(date_add(min("day"), 15).as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L))
            .as("x"),
          sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
        .withColumn("va", when(expr(
          s"${hExpr("cast(user_id as string)")} % 2") === 0,
          1L).otherwise(0L))
      val varx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
      val vary = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
      val covn = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
      per.agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("va")).as("n_a"),
          sum(col("va") * col("x")).as("sx_a"),
          sum(col("va") * col("y")).as("sy_a"))
        .withColumn("theta", expr(
          s"CASE WHEN $varx > 0.0D THEN round($covn / $varx, 6) END"))
        .select(col("n").as("n_users"), col("theta"),
          expr(s"""CASE WHEN $varx > 0.0D AND $vary > 0.0D
            |THEN round($covn * $covn / ($varx * $vary), 6) END"""
            .stripMargin).as("rho2"),
          expr("""CASE WHEN n_a > 0 AND n - n_a > 0
            |THEN round((CAST(sy_a AS DOUBLE) / n_a -
            |  CAST(sy - sy_a AS DOUBLE) / (n - n_a)) / 100.0D, 6)
            |END""".stripMargin).as("diff_raw"),
          expr("""CASE WHEN n_a > 0 AND n - n_a > 0 AND theta IS NOT NULL
            |THEN round((CAST(sy_a AS DOUBLE) / n_a -
            |  CAST(sy - sy_a AS DOUBLE) / (n - n_a) -
            |  theta * (CAST(sx_a AS DOUBLE) / n_a -
            |    CAST(sx - sx_a AS DOUBLE) / (n - n_a))) / 100.0D, 6)
            |END""".stripMargin).as("diff_cuped"))
    },

    // WELCH'S UNEQUAL-VARIANCE t-TEST — the parametric member of the
    // experiment-readout family (q_ab_test compares binary conversion,
    // q_mann_whitney compares ranks; this compares MEANS of a continuous
    // metric without assuming equal variances — the default t-test a
    // metrics platform should ship, per Welch 1947): per-event spend in
    // exact integer CENTS by the md5 user coin. ONE map-side-combined
    // aggregation produces the six sufficient statistics (n, Σx, Σx² per
    // variant, all BIGINT — Σx² ≈ 4e16 at sf0.1, far under BIGINT); the
    // t statistic, and the Welch–Satterthwaite df, are one shared double
    // tree over those exact integers (sample variance via the
    // (Σx² − (Σx)²/n)/(n−1) identity — fine in double here because the
    // inputs are exact and both engines run the identical tree). Means
    // report in dollars. Degenerate variants (n ≤ 1 or zero pooled
    // variance) yield NULL t/df. Scale: no shuffle at all beyond the
    // 1-row final agg — the cheapest possible experiment readout.
    "q_welch_ttest" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast(LongType))
        .withColumn("va", when(expr(
          s"${hExpr("cast(user_id as string)")} % 2") === 0,
          1L).otherwise(0L))
      val va = "((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)" +
        " / (n_a - 1.0D) / n_a)"
      val vb = "((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)" +
        " / (n_b - 1.0D) / n_b)"
      ev.agg(
          sum(col("va")).as("n_a"),
          sum(lit(1L) - col("va")).as("n_b"),
          sum(col("va") * col("cents")).as("sum_a"),
          sum((lit(1L) - col("va")) * col("cents")).as("sum_b"),
          sum(col("va") * col("cents") * col("cents")).as("ss_a"),
          sum((lit(1L) - col("va")) * col("cents") * col("cents")).as("ss_b"))
        .select(col("n_a"), col("n_b"),
          expr("round(CAST(sum_a AS DOUBLE) / 100.0D / n_a, 6)").as("mean_a"),
          expr("round(CAST(sum_b AS DOUBLE) / 100.0D / n_b, 6)").as("mean_b"),
          expr(s"""CASE WHEN n_a > 1 AND n_b > 1 AND $va + $vb > 0.0D
            |THEN round((CAST(sum_a AS DOUBLE) / n_a -
            |  CAST(sum_b AS DOUBLE) / n_b) / sqrt($va + $vb), 6)
            |END""".stripMargin).as("t_stat"),
          expr(s"""CASE WHEN n_a > 1 AND n_b > 1 AND $va + $vb > 0.0D
            |THEN round(($va + $vb) * ($va + $vb) /
            |  ($va * $va / (n_a - 1.0D) + $vb * $vb / (n_b - 1.0D)), 6)
            |END""".stripMargin).as("df"))
    },

    // MANN-WHITNEY U — the nonparametric sibling of q_ab_test (does one
    // variant's per-user engagement stochastically dominate the other's,
    // with NO normality assumption on the heavily-skewed count
    // distribution). Sample = per-user event count, variant = the q_ab_test
    // md5 coin. By the AUC identity U is q_roc_auc's rank statistic, so the
    // same machinery runs: histogram to one row per distinct score (the
    // only corpus-sized agg), cumulative window over the histogram, 2U_A =
    // Σ_s n_A(s)·(2·cum_B_below(s) + n_B(s)) in exact BIGINT (half-credit
    // ties via the doubling). Tie-corrected normal approximation: Var U =
    // (n_A·n_B/12)·((n+1) − Σ(t³−t)/(n(n−1))) with the tie term Σ(t³−t)
    // ALSO an exact BIGINT aggregate; z = (U − n_A·n_B/2)/√Var computed as
    // one shared double tree over the exact integers (doubled numerator /
    // 2.0 so no half-integer leaves BIGINT early). Rank sums stay exact by
    // doubling: 2R_A = 2U_A + n_A(n_A+1). Degenerate splits (one-sided or
    // zero variance) yield NULL z, never a throw. Scale: map-side partials
    // into a ≤|distinct scores|-row histogram; the single-partition window
    // runs on the histogram BY DESIGN (q_roc_auc's documented shape); at
    // ~1e10 users the BIGINT products swap to DECIMAL(38,0), plan
    // unchanged.
    "q_mann_whitney" -> { (s, dir) =>
      val users = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("score"))
        .withColumn("va", when(expr(
          s"${hExpr("cast(user_id as string)")} % 2") === 0,
          1L).otherwise(0L))
      val h = users.groupBy("score").agg(
        sum(col("va")).as("na"),
        sum(lit(1L) - col("va")).as("nb"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val varU =
        "(CAST(n_a AS DOUBLE) * n_b / 12.0D) * " +
          "((CAST(n_a + n_b AS DOUBLE) + 1.0D) - CAST(tie_term AS DOUBLE) / " +
          "(CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0D)))"
      h.withColumn("cnb", coalesce(sum("nb").over(w), lit(0L)))
        .agg(
          sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na") * (lit(2L) * col("cnb") + col("nb"))).as("u_x2"),
          sum((col("na") + col("nb")) * (col("na") + col("nb")) *
            (col("na") + col("nb")) - (col("na") + col("nb"))).as("tie_term"))
        .withColumn("rank_sum_x2",
          col("u_x2") + col("n_a") * (col("n_a") + lit(1L)))
        .withColumn("z_stat", expr(
          s"""CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
             |  AND $varU > 0.0D
             |THEN round(((CAST(u_x2 AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
             |  / 2.0D) / sqrt($varU), 6) END""".stripMargin))
        .select("n_a", "n_b", "u_x2", "rank_sum_x2", "tie_term", "z_stat")
    },

    // OLS SIMPLE REGRESSION per group (price ~ quantity by return flag) —
    // closed-form normal equations from ONE aggregation pass: slope =
    // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), plus intercept and R². Every
    // sufficient statistic is an EXACT aggregate (x is integral → BIGINT;
    // y and its products in DECIMAL — the money rule: partial-aggregation
    // order can't perturb them), so the final algebra is IEEE DOUBLE over
    // exact inputs with the identical expression tree in the oracle →
    // bit-equal. Degenerate groups (zero x- or y-variance) yield NULL
    // slope/R², not a divide-by-zero. Scale: map-side partials into a
    // ≤|groups|-row final agg — the cheapest possible "fit a trend at
    // 100 TB" plan (one pass, no shuffle beyond the group keys).
    "q_ols_regression" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast(LongType).as("x"),
          money(col("l_extendedprice")).as("y"))
      val a = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("y") * col("x")).as("sxy"))
      val (dn, dsx, dsxx, dsy, dsyy, dsxy) =
        (col("n").cast(DoubleType), col("sx").cast(DoubleType),
          col("sxx").cast(DoubleType), col("sy").cast(DoubleType),
          col("syy").cast(DoubleType), col("sxy").cast(DoubleType))
      val denomX = dn * dsxx - dsx * dsx
      val denomY = dn * dsyy - dsy * dsy
      val covN = dn * dsxy - dsx * dsy
      a.select(col("l_returnflag"), col("n"),
          when(denomX > 0, round(covN / denomX, 6)).as("slope"),
          when(denomX > 0,
            round((dsy - (covN / denomX) * dsx) / dn, 6)).as("intercept"),
          when(denomX > 0 && denomY > 0,
            round(covN * covN / (denomX * denomY), 6)).as("r2"))
        .orderBy("l_returnflag")
    },

    // KAPLAN–MEIER survival curve — time from a user's first event to
    // first purchase, right-censored at the stream's end: the standard
    // estimator behind "how long until activation" readouts. Durations
    // are exact integer days; the per-duration death/censor rollup is the
    // only corpus-sized agg. n_risk comes from a cumulative window over
    // the ≤|distinct durations|-row life table (single-partition BY
    // DESIGN on the aggregate, the q_anomaly_zscore rule), and the
    // survival product Π(1 − dᵢ/nᵢ) is the house sorted-fold: both
    // engines left-fold the identically-ordered factor list (each factor
    // one correctly-rounded IEEE division of exact integers), so the
    // running product is bit-equal without a log/exp detour. KM
    // convention: deaths at t precede censors at t (same-day censored
    // users remain at risk). Scale: two user_id-keyed aggs sharing one
    // partitioning, a 1-row obs-end broadcast, then life-table-sized work.
    "q_kaplan_meier" -> { (s, dir) =>
      lifeTable(s, dir).select("dur", "d", "n_risk", "c")
        .agg(sort_array(collect_list(
          struct(col("dur"), col("d"), col("n_risk"), col("c")))).as("l"))
        .select(col("l"), posexplode(col("l")))
        .select(col("col.dur").as("duration_day"),
          col("col.n_risk").as("n_risk"),
          col("col.d").as("n_events"),
          col("col.c").as("n_censored"),
          round(expr(
            """aggregate(
              |  transform(slice(l, 1, pos + 1),
              |    x -> 1.0D - CAST(x.d AS DOUBLE) / x.n_risk),
              |  1.0D, (acc, f) -> acc * f)""".stripMargin), 6)
            .as("survival"))
        .orderBy("duration_day")
    },

    // REFERENTIAL-INTEGRITY AUDIT — the warehouse QA contract (dbt
    // `relationships` test / Deequ isContainedIn): for every declared FK
    // edge, how many child rows have no parent. Each edge is ONE left-anti
    // join shuffling on the key (dimension parents broadcast under AQE);
    // the report is a fixed-size union of scalar aggregates. An audit,
    // not an assert: orphan_rate is REPORTED so drift shows up as a
    // number, and NULL child keys count as orphans (they reference
    // nothing). Scale: the fact-to-fact edge (lineitem→orders) is the
    // only big shuffle and it reuses the join key both sides; everything
    // else is broadcast-sized.
    "q_fk_audit" -> { (s, dir) =>
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame = {
        val orphan = child.join(parent, child(ck) === parent(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphan.agg(count(lit(1)).as("n_orphan")))
          .select(lit(name).as("relationship"), col("n_child"),
            col("n_orphan"),
            round(col("n_orphan").cast(DoubleType) / col("n_child"), 6)
              .as("orphan_rate"))
      }
      val (li, o, c, n, r, sup, ev) =
        (t(s, dir, "lineitem"), t(s, dir, "orders"), t(s, dir, "customer"),
          t(s, dir, "nation"), t(s, dir, "region"), t(s, dir, "supplier"),
          t(s, dir, "events"))
      edge("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey")
        .unionByName(edge("events.user_id -> customer", ev, "user_id", c, "c_custkey"))
        .unionByName(edge("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(edge("nation.n_regionkey -> region", n, "n_regionkey", r, "r_regionkey"))
        .unionByName(edge("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(edge("supplier.s_nationkey -> nation", sup, "s_nationkey", n, "n_nationkey"))
        .orderBy("relationship")
    },

    // CALIBRATION (reliability diagram) of a probabilistic scorer — the
    // companion readout to E72's AUC: AUC checks RANKING, this checks
    // whether p≈0.7 means 70%. The demo model is logistic-of-standardized-
    // length (declared semantics, same label as q_roc_auc); z standardizes
    // via EXACT integer sums (n, Σx, Σx²) broadcast as one row, rounds to
    // 6 dp, and p = σ(z) rounds to 6 dp BEFORE use (libm exp isn't
    // correctly rounded — the q_zipf_slope rule: round at the libm
    // boundary, derive everything downstream from the rounded value).
    // Binning and Brier run on p as an EXACT DECIMAL(8,6): the bin index
    // floor(10·p) is decimal arithmetic (no 0.3·10 = 2.999… float trap)
    // and Σp, Σ(p−y)² are exact decimal sums — partial-aggregation order
    // can't perturb any reported statistic. Scale: one corpus pass + a
    // 10-row rollup.
    "q_calibration_bins" -> { (s, dir) =>
      val scored = scoredDocs(s, dir)
        .withColumn("bin",
          least(floor(col("p") * 10).cast(LongType), lit(9L)))
      scored.groupBy("bin")
        .agg(count(lit(1)).as("n_bin"),
          sum(col("p")).as("sp"),
          sum(col("y")).as("n_pos"),
          sum((col("p") - col("y").cast(DecimalType(1, 0))) *
            (col("p") - col("y").cast(DecimalType(1, 0)))).as("ssq"))
        .select(col("bin"), col("n_bin"), col("n_pos"),
          round(col("sp").cast(DoubleType) / col("n_bin"), 6)
            .as("mean_pred"),
          round(col("n_pos").cast(DoubleType) / col("n_bin"), 6)
            .as("frac_pos"),
          round(col("sp").cast(DoubleType) / col("n_bin") -
            col("n_pos").cast(DoubleType) / col("n_bin"), 6).as("gap"),
          round(col("ssq").cast(DoubleType) / col("n_bin"), 6).as("brier"))
        .orderBy("bin")
    },

    // CUSUM changepoint detection over the daily event-count series — the
    // classical sequential drift detector (Page 1954) next to
    // q_anomaly_zscore's point-outlier flags: one-sided cumulative sums
    // S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−μ−k)) / S⁻ₜ symmetric, reference k = σ/2,
    // decision h = 4σ. μ and σ derive from EXACT integer sums of the daily
    // table and round to 6 dp before use; the recurrences are the house
    // sorted-fold (both engines left-fold the identical day-ordered list,
    // so every max/add step is bit-equal IEEE). Per-day prefix folds are
    // O(days²) BY DESIGN on the tiny aggregate — the corpus-sized work is
    // only the daily rollup; the flag reads the ROUNDED statistic so a
    // last-ulp wobble can't flip it.
    "q_cusum_changepoint" -> { (s, dir) =>
      cusumReadout(t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("x")), "day")
    },

    // SNAPSHOT DIFF — the incremental-ingestion audit every corpus refresh
    // publishes (what changed between yesterday's and today's crawl):
    // added / removed / changed / unchanged per source, plus churn rate.
    // The two snapshots self-derive deterministically (A drops doc_id ≡ 3
    // mod 11 — "new docs"; B drops ≡ 5 mod 13 — "expired docs" — and
    // edits the text of ≡ 2 mod 7 — "content drift"). Each side projects
    // to (doc_id, source, content-hash) BEFORE the join — at 100 TB only
    // ids+hashes shuffle, never text — and the diff is ONE full outer
    // join on doc_id; the classification is row-local null/compare logic
    // and the report a ≤|sources|-row rollup of exact integers.
    "q_snapshot_diff" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val snapA = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), col("source"), md5(col("text")).as("ha"))
      val snapB = d.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"), col("source").as("source_b"),
          md5(when(col("doc_id") % 7 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("hb"))
      snapA.join(snapB, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source"), col("source_b")).as("src"),
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
        .select(col("src").as("source"), col("n_docs"), col("n_added"),
          col("n_removed"), col("n_changed"), col("n_unchanged"),
          round((col("n_added") + col("n_removed") + col("n_changed"))
            .cast(DoubleType) / col("n_docs"), 6).as("churn_rate"))
        .orderBy("source")
    },

    // HOLT LINEAR TREND (double exponential smoothing, α = β = ½) over the
    // daily event-count series — the trend-aware upgrade of E65's EWMA
    // (which cannot track a ramp): level lₜ = ½xₜ + ½(lₜ₋₁+bₜ₋₁), trend
    // bₜ = ½(lₜ−lₜ₋₁) + ½bₜ₋₁, seeded l₀ = x₀, b₀ = 0 (declared). α = β =
    // ½ makes every coefficient an exact binary fraction, and the
    // recurrence is the house sorted-fold with a STRUCT accumulator —
    // both engines left-fold the identical day-ordered list carrying
    // (level, trend) through named-struct lambdas, so each IEEE step is
    // bit-equal; lₜ recomputes inside the trend term (same expression,
    // same value — no hidden state). Per-day prefix folds are O(days²)
    // BY DESIGN on the tiny aggregate; the corpus-sized work is only the
    // daily rollup. Output: per-day level, trend, one-step forecast.
    "q_holt_linear" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("x"))
      val step =
        """(a, e) -> named_struct(
          |  'lv', 0.5D * e.lv + 0.5D * (a.lv + a.tr),
          |  'tr', 0.5D * ((0.5D * e.lv + 0.5D * (a.lv + a.tr)) - a.lv)
          |        + 0.5D * a.tr)""".stripMargin
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("l"))
        .withColumn("vals", expr(
          "transform(l, e -> named_struct('lv', CAST(e.x AS DOUBLE), 'tr', 0.0D))"))
        .select(col("l"), col("vals"), posexplode(col("l")))
        .withColumn("st", expr(
          s"""aggregate(slice(vals, 2, pos),
            |  named_struct('lv', vals[0].lv, 'tr', 0.0D),
            |  $step)""".stripMargin))
        .select(col("col.day").as("day"), col("col.x").as("n_events"),
          round(col("st.lv"), 6).as("level"),
          round(col("st.tr"), 6).as("trend"),
          round(expr("st.lv + st.tr"), 6).as("forecast_next"))
        .orderBy("day")
    },

    // THEIL-SEN ROBUST TREND — the median-of-pairwise-slopes estimator
    // (Theil 1950/Sen 1968; up to ~29% outlier contamination cannot move
    // it, where q_ols_regression's least-squares line chases every spike):
    // daily event counts against an exact integer day index, ALL C(n,2)
    // pairwise slopes, slope = median; intercept = median(yᵢ − m·iᵢ) using
    // the ROUNDED slope (rounded at the estimator boundary so both engines
    // feed the intercept pass the identical m — the fence discipline of
    // q_outlier_iqr). Exact interpolated medians (Spark `percentile` ≡
    // DuckDB `quantile_cont`, the q_percentile parity). The pair self-join
    // is O(days²) ON THE DAILY AGGREGATE BY DESIGN — the corpus-sized work
    // is the one rollup; at 10⁵ days the scale swap is the repeated-median
    // or a sampled pair subset, plan shape unchanged.
    "q_theil_sen" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("y"))
      val mind = daily.agg(min("day").as("d0"))
      val idx = daily.crossJoin(broadcast(mind))
        .select(datediff(col("day"), col("d0")).cast(LongType).as("i"),
          col("y"))
      val slopes = idx.as("a").join(idx.as("b"), col("a.i") < col("b.i"))
        .select(((col("b.y") - col("a.y")).cast("double") /
          (col("b.i") - col("a.i"))).as("slope"))
      val m = slopes.agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("slope_med"))
      idx.crossJoin(broadcast(m))
        .agg(count(lit(1)).as("n_days"),
          min("n_pairs").as("n_pairs"),
          min("slope_med").as("slope"),
          round(expr("percentile(y - slope_med * i, 0.5)"), 6)
            .as("intercept"))
    },

    // HOLT-WINTERS additive seasonal smoothing — the production upgrade of
    // q_holt_linear for traffic that repeats by day-of-week: weekly season
    // (period 7) over the daily event series. α = β = γ = ½ so every
    // coefficient is an exact binary fraction. Classical decomposition
    // seeding (declared semantics): l₇ = mean(x₁..x₇), b₇ = 0,
    // sᵢ = xᵢ − l₇ for the first week; from day 8 the recurrence
    //   lₜ = ½(xₜ − sₜ₋₇) + ½(lₜ₋₁ + bₜ₋₁)
    //   bₜ = ½(lₜ − lₜ₋₁) + ½bₜ₋₁
    //   sₜ = ½(xₜ − lₜ) + ½sₜ₋₇
    // folds day-ordered with a 9-slot DOUBLE ARRAY accumulator
    // [level, trend, sₜ₋₆..sₜ] — the house sorted-fold, array (not struct)
    // so the DuckDB list_reduce struct-fold bug (q_holt_linear's note)
    // never applies. The seasonal queue rotates by slice+append, so
    // element 3 is always the season the NEXT step consumes; lₜ recomputes
    // inline inside the trend/season terms (same expression, same value).
    // Both engines run the identical IEEE tree per step → bit-equal before
    // the final round. Per-day prefix folds are O(days²) on the ≤|days|-row
    // daily aggregate BY DESIGN — the corpus-sized work is only the daily
    // rollup. Output (day ≥ 8): level, trend, season, one-step forecast
    // lₜ + bₜ + sₜ₊₁₋₇.
    "q_holt_winters" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("x"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("l"))
        .withColumn("vals", expr("transform(l, e -> CAST(e.x AS DOUBLE))"))
        .select(col("l"), col("vals"), posexplode(col("l")))
        .filter(col("pos") >= 7) // seeded from the first full week
        .withColumn("st", expr(s"aggregate(slice(vals, 8, pos - 6), $hwSeed, $hwStep)"))
        .select(col("col.day").as("day"), col("col.x").as("n_events"),
          round(expr("element_at(st, 1)"), 6).as("level"),
          round(expr("element_at(st, 2)"), 6).as("trend"),
          round(expr("element_at(st, 9)"), 6).as("season"),
          round(expr("element_at(st, 1) + element_at(st, 2) + element_at(st, 3)"), 6)
            .as("forecast_next"))
        .orderBy("day")
    },

    // AUTOCORRELATION FUNCTION (ACF, lags 1..7) — the diagnostic that
    // TELLS you the weekly season q_holt_winters assumes is real (a
    // spike at lag 7 over the daily series) and that q_holt_linear's
    // residual independence holds: r_k = Σ(xₜ−x̄)(xₜ₊ₖ−x̄) / Σ(xₜ−x̄)².
    // The day-ordered value list is collected ONCE; mean, denominator and
    // every lag's numerator fold IN INDEX ORDER (aligned-slice zip_with —
    // a fixed order needs no sort, and both engines run the identical
    // IEEE sum), so all 7 lags are map-side expressions over one ≤|days|
    // array. A constant series (zero variance) yields NULL. Scale: the
    // corpus-sized work is only the daily rollup (the E65/E82 shape).
    "q_acf" -> { (s, dir) =>
      dailySeries(s, dir, "den")
        .select(col("vals"), col("n"), col("m"), col("den"),
          explode(expr("sequence(1, 7)")).as("lag"))
        .withColumn("num", expr(
          "aggregate(zip_with(slice(vals, 1, n - lag), " +
            "slice(vals, 1 + lag, n - lag), " +
            "(u, v) -> (u - m) * (v - m)), 0.0D, (a, x) -> a + x)"))
        .select(col("lag").cast(LongType).as("lag"),
          round(expr("CASE WHEN den > 0.0D THEN num / den END"), 6)
            .as("acf"))
        .orderBy("lag")
    },

    // FORECAST BACKTEST (MASE, Hyndman & Koehler 2006) — the evaluation
    // step q_holt_winters needs before anyone trusts it: walk-forward
    // one-step-ahead errors of the HW forecast vs the SEASONAL-NAIVE
    // baseline (x̂ₜ₊₁ = xₜ₊₁₋₇ — the baseline MASE is defined against;
    // < 1 means the model beats naive out-of-sample). Shares the exact
    // hwSeed/hwStep recursion text with q_holt_winters (one recursion,
    // two consumers); each eval day i ∈ [8, n−1] re-folds to its own
    // state — O(days²) on the daily aggregate BY DESIGN — and both
    // absolute-error series sum via sorted folds; the MASE ratio divides
    // the two ROUNDED MAEs (rounded at the statistic boundary, so the
    // ratio's inputs are bit-identical cross-engine). A zero naive MAE
    // (perfectly periodic series) yields NULL, not a throw.
    "q_forecast_mase" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("x"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("l"))
        .withColumn("vals", expr("transform(l, e -> CAST(e.x AS DOUBLE))"))
        .select(col("vals"), posexplode(col("l")))
        .filter(col("pos") >= 7 && col("pos") <= size(col("vals")) - 2)
        .withColumn("st", expr(s"aggregate(slice(vals, 8, pos - 6), $hwSeed, $hwStep)"))
        .withColumn("errm", expr("abs(element_at(vals, pos + 2) - " +
          "(element_at(st, 1) + element_at(st, 2) + element_at(st, 3)))"))
        .withColumn("errn", expr(
          "abs(element_at(vals, pos + 2) - element_at(vals, pos - 5))"))
        .agg(count(lit(1)).as("n_eval"),
          expr("aggregate(sort_array(collect_list(errm)), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("sm"),
          expr("aggregate(sort_array(collect_list(errn)), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("sn"))
        .select(col("n_eval"),
          round(col("sm") / col("n_eval"), 6).as("mae_model"),
          round(col("sn") / col("n_eval"), 6).as("mae_naive"),
          expr("CASE WHEN sn > 0.0D THEN round(round(sm / n_eval, 6) / " +
            "round(sn / n_eval, 6), 6) END").as("mase"))
    },

    // BENFORD'S LAW first-digit audit — the forensic data-quality check
    // (fabricated/generated numeric columns rarely follow the log
    // distribution natural multiplicative data does): observed leading-
    // digit shares of o_totalprice vs expected log10(1+1/d), with the
    // per-digit chi-square contribution. An AUDIT, not an assert — the
    // deviation is REPORTED (synthetic uniform prices will deviate, which
    // is exactly what the audit is for). The expected shares round at the
    // libm-log10 boundary (the E69/E76 rule) and the contribution
    // (n−e)²/e is one shared double tree over exact integer counts; the
    // leading digit extracts via exact integer floor→string, never float
    // formatting. Scale: one map-side digit extraction + a 9-row rollup.
    "q_benford_audit" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast(LongType)
          .cast(StringType), 1, 1).cast(LongType).as("digit"))
      val tot = o.agg(count(lit(1)).as("n_total"))
      o.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(tot))
        .withColumn("p_expected",
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .select(col("digit"), col("n_obs"),
          round(col("n_obs").cast(DoubleType) / col("n_total"), 6)
            .as("p_observed"),
          col("p_expected"),
          round(
            (col("n_obs") - col("n_total") * col("p_expected")) *
              (col("n_obs") - col("n_total") * col("p_expected")) /
              (col("n_total") * col("p_expected")), 6).as("chi2_term"))
        .orderBy("digit")
    },

    // FREQUENT SEQUENTIAL PATTERNS — contiguous event-type trigrams per
    // user's time-ordered stream (the order-2 extension of E63's Markov
    // bigrams; the "view→click→purchase" path-mining readout). ONE shuffle
    // on user_id for the two lead() windows (event_id breaks ts ties so
    // successors are total-ordered), then a ≤|types|³-cell rollup with the
    // 1-row total broadcast; support is an exact-integer ratio. Ordered by
    // count DESC with a full lexicographic tiebreak — a total order, so
    // equal-support patterns can't reorder across engines.
    "q_seq_patterns" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tri = ev
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .select(col("event_type").as("e1"), col("e2"), col("e3"))
      val cnt = tri.groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      val tot = tri.agg(count(lit(1)).as("n_total"))
      cnt.crossJoin(broadcast(tot))
        .select(col("e1"), col("e2"), col("e3"), col("n"),
          round(col("n").cast(DoubleType) / col("n_total"), 6).as("support"))
        .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
    },

    // SKYLINE (Pareto frontier) — the parts no other part beats on BOTH
    // price (minimize) and size (maximize): the multi-criteria shortlist
    // operator. Naive dominance is an all-pairs quadratic self-join; the
    // 2-D skyline collapses to sort-order algebra instead: per exact-cent
    // price keep the MAX size (same-price smaller rows are dominated
    // in-place by that row), then one cumulative-max window over the
    // price-ascending histogram — a price survives iff its best size
    // strictly exceeds every strictly-cheaper price's best. The corpus
    // reduces to ≤|distinct prices| rows in ONE map-side-combinable agg;
    // the single-partition window runs on that histogram BY DESIGN (the
    // q_roc_auc shape), and the survivor table broadcasts back for the
    // row fetch. Price rides as exact cents via DECIMAL(12,2)·100, so
    // both engines sort/compare identical integers. Equal (price, size)
    // rows are mutually non-dominating — all returned.
    "q_skyline" -> { (s, dir) =>
      val pr = t(s, dir, "part").select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("price_c"),
        col("p_size").cast(LongType).as("p_size"))
      val h = pr.groupBy("price_c").agg(max("p_size").as("smax"))
      val w = Window.orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = h.withColumn("mlt", max("smax").over(w))
        .filter(col("mlt").isNull || col("smax") > col("mlt"))
        .select(col("price_c").as("s_price"), col("smax"))
      pr.join(broadcast(sky), pr("price_c") === col("s_price") &&
          pr("p_size") === col("smax"))
        .select(col("p_partkey"), col("price_c"), col("p_size"))
        .orderBy("price_c", "p_partkey")
    },

    // MANN–KENDALL TREND TEST — the nonparametric "is this metric
    // drifting" monitor on the daily event series: no linearity or
    // normality assumed (the hypothesis-test sibling of q_theil_sen's
    // slope estimator). S = Σ_{i<j} sign(x_j − x_i) over day-ordered
    // daily counts is an EXACT ±1/0 BIGINT sum; the tie correction
    // Σ t(t−1)(2t+5) is an exact BIGINT aggregate; Var S =
    // (n(n−1)(2n+5) − ties)/18 and the continuity-corrected
    // z = (S ∓ 1)/√Var run as ONE double tree over the exact integers,
    // identical in the oracle. Scale: the corpus reduces to ≤|days| rows
    // in one shuffle; the pair join is day² over that CALENDAR-bounded
    // table (30 days → 435 pairs) — bounded by elapsed time, never by
    // corpus size.
    "q_mann_kendall" -> { (s, dir) =>
      val d = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val pairs = d.select(col("day").as("d1"), col("x").as("x1"))
        .join(d.select(col("day").as("d2"), col("x").as("x2")),
          col("d1") < col("d2"))
        .agg(sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s_stat"))
      val ties = d.groupBy("x").agg(count(lit(1)).as("tcnt"))
        .agg(sum(col("tcnt") * (col("tcnt") - 1) *
          (lit(2L) * col("tcnt") + 5)).as("tie_term"))
      val n = d.agg(count(lit(1)).as("n_days"))
      val varS = "(n_days * (n_days - 1.0D) * (2 * n_days + 5) - tie_term)" +
        " / 18.0D"
      n.crossJoin(broadcast(pairs)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("s_stat"), col("tie_term"),
          expr(s"""CASE WHEN $varS > 0.0D
            |THEN round((CASE WHEN s_stat > 0 THEN s_stat - 1.0D
            |  WHEN s_stat < 0 THEN s_stat + 1.0D ELSE 0.0D END)
            |  / sqrt($varS), 6) END""".stripMargin).as("z_stat"))
    },

    // COHEN'S KAPPA — chance-corrected agreement between two independent
    // rule-based document labelers (the inter-annotator-agreement gate a
    // labeling pipeline runs before trusting any quality rubric): A
    // classes docs by character length, B by space-separated token
    // proxy (exact integer space count), both 3-way. κ = (p_o − p_e) /
    // (1 − p_e) with p_o from the contingency diagonal and p_e from the
    // marginal products — every count an exact BIGINT from ONE corpus
    // aggregation into the ≤9-cell contingency table; the marginal
    // product sum joins the two ≤3-row marginal tables on class label.
    // The final algebra is one double tree over exact integers, rounded
    // at display. Scale: one map-side-combined rollup; everything after
    // is ≤|classes|² rows.
    "q_cohens_kappa" -> { (s, dir) =>
      val lab = t(s, dir, "documents").select(
        when(col("n_chars") < 150, "short")
          .when(col("n_chars") < 300, "med").otherwise("long").as("a"),
        when(expr("length(text) - length(replace(text, ' ', ''))") < 25,
          "short")
          .when(expr("length(text) - length(replace(text, ' ', ''))") < 50,
            "med").otherwise("long").as("b"))
      val cells = lab.groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      val tot = cells.agg(sum("cnt").as("n_docs"),
        sum(when(col("a") === col("b"), col("cnt")).otherwise(0L))
          .as("n_agree"))
      val ra = cells.groupBy("a").agg(sum("cnt").as("ra"))
      val cb = cells.groupBy("b").agg(sum("cnt").as("cb"))
      val pe = ra.join(cb, col("a") === col("b"))
        .agg(sum(col("ra") * col("cb")).as("pe_num"))
      val po = "(CAST(n_agree AS DOUBLE) / n_docs)"
      val peE = "(CAST(pe_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * n_docs))"
      tot.crossJoin(broadcast(pe))
        .select(col("n_docs"), col("n_agree"), col("pe_num"),
          expr(s"round($po, 6)").as("po"),
          expr(s"round($peE, 6)").as("pe"),
          expr(s"""CASE WHEN $peE < 1.0D
            |THEN round(($po - $peE) / (1.0D - $peE), 6)
            |END""".stripMargin).as("kappa"))
    },

    // LEAVE-ONE-OUT TARGET ENCODING — the leakage-aware categorical
    // feature prep every GBDT/classifier pipeline runs (Micci-Barreca
    // 2001): encode order priority by the smoothed mean of the target
    // (order finalized) EXCLUDING the row's own label, so the feature
    // never memorizes its own answer. enc = (cat_sum − y + m·prior) /
    // (cat_n − 1 + m), m = 10 (declared), prior = the global rate. The
    // per-category stats are ONE map-side-combined rollup that BROADCASTS
    // into the per-row encode (map-side, zero extra shuffles at 100 TB);
    // within a (category, target) pair the encoding is a single constant,
    // so the verification rollup emits ≤|cats|·2 rows with min() picking
    // the constant. Sums/counts exact BIGINT; one double tree at the end.
    "q_target_encoding" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderpriority").as("cat"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val stats = o.groupBy("cat")
        .agg(count(lit(1)).as("cat_n"), sum("y").as("cat_sum"))
      val g = o.agg(count(lit(1)).as("g_n"), sum("y").as("g_sum"))
      val enc = o.join(broadcast(stats), "cat").crossJoin(broadcast(g))
        .withColumn("enc", expr(
          "(CAST(cat_sum - y AS DOUBLE) + " +
            "10.0D * (CAST(g_sum AS DOUBLE) / g_n)) / (cat_n - 1 + 10)"))
      enc.groupBy("cat", "y")
        .agg(count(lit(1)).as("n_rows"), round(min("enc"), 6).as("enc"))
        .orderBy("cat", "y")
    },

    // CLASSICAL SEASONAL DECOMPOSITION (additive, moving-average trend) —
    // the "is Monday just like this" readout underneath q_holt_winters'
    // forecaster: trend = centered 7-day moving average (full windows
    // only), seasonal = per-weekday mean of the detrended series,
    // residual = the rest. EXACT by construction: the detrended value
    // rides as dx7 = 7x − Σ₇ (a BIGINT — no double ever aggregates), the
    // weekday index self-derives as (day − min_day) mod 7 (no calendar
    // literal, no engine-specific week-start), and trend/seasonal/
    // residual are one shared double tree over exact integers at display.
    // Scale: the corpus reduces to ≤|days| rows in one shuffle; the
    // moving window and weekday rollup run on that calendar-bounded
    // histogram BY DESIGN; the ≤7-row seasonal table broadcasts back.
    "q_seasonal_decompose" -> { (s, dir) =>
      val d = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val d0 = d.agg(min("day").as("d0"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val full = d
        .withColumn("sum7", sum("x").over(w))
        .withColumn("cnt7", count(lit(1)).over(w))
        .filter(col("cnt7") === 7)
        .withColumn("dx7", lit(7L) * col("x") - col("sum7"))
        .crossJoin(broadcast(d0))
        .withColumn("wd", expr("CAST(datediff(day, d0) % 7 AS BIGINT)"))
      val seas = full.groupBy("wd")
        .agg(sum("dx7").as("ssum"), count(lit(1)).as("scnt"))
      full.join(broadcast(seas), "wd")
        .select(col("day"), col("x"),
          round(expr("CAST(sum7 AS DOUBLE) / 7.0D"), 6).as("trend"),
          round(expr("CAST(ssum AS DOUBLE) / (7.0D * scnt)"), 6)
            .as("seasonal"),
          round(expr("CAST(dx7 AS DOUBLE) / 7.0D - " +
            "CAST(ssum AS DOUBLE) / (7.0D * scnt)"), 6).as("residual"))
        .orderBy("day")
    },

    // DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator teams
    // reach for when a feature launched mid-window WITHOUT a holdout:
    // (treat post − treat pre) − (ctrl post − ctrl pre) cancels both the
    // group's level and the common time shock. Panel: per (user, period)
    // event count with ABSENT user-periods as explicit zeros (users ×
    // {pre, post} universe — dropping them would bias toward active
    // users); treatment = the q_ab_test md5 coin; the period fence
    // self-derives as min_day + 15. Every cell statistic (n, Σy, Σy²)
    // is an exact BIGINT; means, the DiD, its pooled SE over the four
    // cell mean-variances, and z are one double tree at the end.
    // Scale: one user_id shuffle for the panel, ≤2·|users| rows after,
    // 4-cell rollup, 1-row output.
    "q_did_estimator" -> { (s, dir) =>
      val coin = s"${hExpr("cast(user_id as string)")} % 2"
      val ev = t(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("day"))
      val d0 = ev.agg(min("day").as("d0"))
      val counts = ev.crossJoin(broadcast(d0))
        .withColumn("post",
          when(expr("datediff(day, d0) >= 15"), 1L).otherwise(0L))
        .groupBy("user_id", "post").agg(count(lit(1)).as("y"))
      val universe = ev.select("user_id").distinct()
        .crossJoin(broadcast(
          s.range(2).select(col("id").as("post"))))
      val panel = universe.join(counts, Seq("user_id", "post"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
        .withColumn("treat", when(expr(s"$coin = 0"), 1L).otherwise(0L))
      val cells = panel.groupBy("treat", "post").agg(
        count(lit(1)).as("n"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("syy"))
      def cell(tr: Int, po: Int, c: String): Column =
        max(when(col("treat") === tr && col("post") === po, col(c)))
      val one = cells.agg(
        cell(1, 0, "n").as("n_t"), cell(0, 0, "n").as("n_c"),
        cell(1, 0, "sy").as("sy_tpre"), cell(1, 0, "syy").as("syy_tpre"),
        cell(1, 1, "sy").as("sy_tpost"), cell(1, 1, "syy").as("syy_tpost"),
        cell(0, 0, "sy").as("sy_cpre"), cell(0, 0, "syy").as("syy_cpre"),
        cell(0, 1, "sy").as("sy_cpost"), cell(0, 1, "syy").as("syy_cpost"))
      def m(sy: String, n: String) = s"(CAST($sy AS DOUBLE) / $n)"
      def v(sy: String, syy: String, n: String) =
        s"(((CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * $sy / $n) / " +
          s"($n - 1.0D)) / $n)"
      val did = s"((${m("sy_tpost", "n_t")} - ${m("sy_tpre", "n_t")}) - " +
        s"(${m("sy_cpost", "n_c")} - ${m("sy_cpre", "n_c")}))"
      val se = s"sqrt(${v("sy_tpre", "syy_tpre", "n_t")} + " +
        s"${v("sy_tpost", "syy_tpost", "n_t")} + " +
        s"${v("sy_cpre", "syy_cpre", "n_c")} + " +
        s"${v("sy_cpost", "syy_cpost", "n_c")})"
      one.select(col("n_t"), col("n_c"),
        expr(s"round(${m("sy_tpre", "n_t")}, 6)").as("mean_t_pre"),
        expr(s"round(${m("sy_tpost", "n_t")}, 6)").as("mean_t_post"),
        expr(s"round(${m("sy_cpre", "n_c")}, 6)").as("mean_c_pre"),
        expr(s"round(${m("sy_cpost", "n_c")}, 6)").as("mean_c_post"),
        expr(s"round($did, 6)").as("did"),
        expr(s"CASE WHEN n_t > 1 AND n_c > 1 AND $se > 0.0D " +
          s"THEN round($se, 6) END").as("se"),
        expr(s"CASE WHEN n_t > 1 AND n_c > 1 AND $se > 0.0D " +
          s"THEN round($did / $se, 6) END").as("z_stat"))
    },

    // KMV (k-minimum-values / Θ-style) DISTINCT SKETCH with set algebra —
    // the audience-overlap readout (Bar-Yossef et al. 2002; Beyer et al.
    // 2007): how many distinct active (user, day) keys does each event
    // type touch, and how much do two types' audiences OVERLAP — answered
    // from 64-value sketches instead of exact distincts. Unlike HLL
    // (q_hll_mergeable), KMV supports INTERSECTION: the union sketch is
    // just the k smallest of the merged sketches (mergeability IS the
    // 100 TB story — per-partition sketches union associatively), est =
    // (k−1)·2³²/h_k on the house md5 hash (exact same integer in both
    // engines; a sub-k sketch holds the whole set and reports it
    // exactly), and |A∩B| = est_A + est_B − est_∪ by inclusion-exclusion,
    // clamped at 0. Scale: ONE distinct shuffle over (type, key-hash),
    // per-type top-64 under WindowGroupLimit (rank pushdown — never a
    // full sort), everything after runs on ≤64·|types| rows.
    "q_kmv_sketch" -> { (s, dir) =>
      val h = hExpr("concat(cast(user_id as string), '#', cast(day as string))")
      val th = t(s, dir, "events")
        .select(col("event_type").as("src"), col("user_id"),
          to_date(col("ts")).as("day"))
        .withColumn("h", expr(h))
        .select("src", "h").distinct()
      val wr = Window.partitionBy("src").orderBy("h")
      val sk = th.withColumn("r", row_number().over(wr))
        .filter(col("r") <= 64).select("src", "h")
      val per = sk.groupBy("src")
        .agg(count(lit(1)).as("n_sk"), max("h").as("hk"))
      val pairs = per.select(col("src").as("s1"))
        .crossJoin(broadcast(per.select(col("src").as("s2"))))
        .filter(col("s1") < col("s2"))
      val m1 = pairs.join(sk.withColumnRenamed("src", "s1"), "s1")
      val m2 = pairs.join(sk.withColumnRenamed("src", "s2"), "s2")
      val mh = m1.select("s1", "s2", "h")
        .union(m2.select("s1", "s2", "h")).distinct()
      val wu = Window.partitionBy("s1", "s2").orderBy("h")
      val us = mh.withColumn("r", row_number().over(wu))
        .filter(col("r") <= 64)
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_u"),
          max("h").as("hku"))
      def est(n: String, hk: String) =
        s"(CASE WHEN $n < 64 THEN CAST($n AS DOUBLE) " +
          s"ELSE 63.0D * 4294967296.0D / $hk END)"
      val (e1, e2, eu) = (est("n1", "hk1"), est("n2", "hk2"),
        est("n_u", "hku"))
      val inter = s"greatest(0.0D, $e1 + $e2 - $eu)"
      us.join(broadcast(per.select(col("src").as("s1"),
          col("n_sk").as("n1"), col("hk").as("hk1"))), "s1")
        .join(broadcast(per.select(col("src").as("s2"),
          col("n_sk").as("n2"), col("hk").as("hk2"))), "s2")
        .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_u"),
          expr(s"round($e1, 6)").as("est_1"),
          expr(s"round($e2, 6)").as("est_2"),
          expr(s"round($eu, 6)").as("est_union"),
          expr(s"round($inter, 6)").as("est_inter"),
          expr(s"CASE WHEN $eu > 0.0D THEN round($inter / $eu, 6) END")
            .as("jaccard"))
        .orderBy("s1", "s2")
    },

    // U-SHAPED (position-based) MULTI-TOUCH ATTRIBUTION — the model
    // between q_attribution's two single-touch extremes: every purchase
    // splits credit over ALL its prior touches — 40% first, 40% last,
    // the middle 20% evenly (1 touch → 100%, 2 → 50/50; touchless
    // purchases are q_attribution's declared 'direct' and carry no
    // credit here). Per-purchase position/count come from ONE
    // (user, purchase) window after the user-keyed prior-touch join
    // (equi on user_id with an rn < purchase residual — bounded by a
    // user's own history, never corpus×corpus). EXACTNESS: touches
    // aggregate to the ≤|channels|·|n|·3-row (channel, n, role) grid
    // with BIGINT counts/cents FIRST; the per-grid-cell weights apply
    // there, and each channel's total folds over the SORTED cell list —
    // both engines add the same doubles in the same order, so the sum
    // is bit-identical with no exact-rational gymnastics.
    "q_position_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(12,2)") * 100).cast("long"))
      val wUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val r = ev.withColumn("rn", row_number().over(wUser).cast("long"))
      val purch = r.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("rn").as("prn"), col("cents"))
      val touch = r.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("rn"), col("event_type").as("channel"))
      val pt = purch.join(touch, Seq("user_id"))
        .filter(col("rn") < col("prn"))
      val wp = Window.partitionBy("user_id", "prn")
      val pos = pt
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("pos", row_number().over(wp.orderBy("rn")).cast("long"))
        .withColumn("role", when(col("pos") === 1, "first")
          .when(col("pos") === col("n"), "last").otherwise("mid"))
      val grid = pos.groupBy("channel", "n", "role")
        .agg(count(lit(1)).as("cnt"), sum("cents").as("scents"))
      val wCase = "(CASE WHEN n = 1 THEN 1.0D WHEN n = 2 THEN 0.5D " +
        "WHEN role = 'mid' THEN 0.2D / (n - 2) ELSE 0.4D END)"
      grid
        .withColumn("conv_d", expr(s"$wCase * cnt"))
        .withColumn("rev_d",
          expr(s"$wCase * (CAST(scents AS DOUBLE) / 100.0D)"))
        .groupBy("channel")
        .agg(sum("cnt").as("n_touches"),
          collect_list("conv_d").as("cl"), collect_list("rev_d").as("rl"))
        .select(col("channel"), col("n_touches"),
          expr("round(aggregate(sort_array(cl), 0.0D, (a, x) -> a + x), 6)")
            .as("credit_conversions"),
          expr("round(aggregate(sort_array(rl), 0.0D, (a, x) -> a + x), 6)")
            .as("credit_revenue"))
        .orderBy("channel")
    },

    // INCREMENTAL JOIN MAINTENANCE (delta join) — the JOIN sibling of
    // q_delta_refresh's aggregate maintenance, the identity every
    // materialized-view engine (and every streaming join) is built on:
    // (A∪dA)⋈(B∪dB) = A⋈B ∪ dA⋈B ∪ A⋈dB ∪ dA⋈dB. The revenue-by-nation
    // view is computed ONLY from the four delta joins (base result +
    // three delta terms unioned before the rollup); the oracle computes
    // the from-scratch join — incremental ≡ full recompute IS the
    // claim. Splits are declared mod fences (orders 80/20, customers
    // 90/10) so both sides contribute a delta. Money stays exact
    // DECIMAL through the union and rollup. Scale: this is why a 100 TB
    // view refresh touches |dA|·|B| join work instead of |A∪dA|·|B∪dB| —
    // the three delta terms are small-side joins AQE broadcasts.
    "q_delta_join" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          money(col("o_totalprice")).as("p"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val oBase = o.filter(col("o_orderkey") % 10 < 8)
      val oDelta = o.filter(col("o_orderkey") % 10 >= 8)
      val cBase = c.filter(col("c_custkey") % 10 < 9)
      val cDelta = c.filter(col("c_custkey") % 10 >= 9)
      def j(a: DataFrame, b: DataFrame): DataFrame =
        a.join(b, col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("p"))
      j(oBase, cBase).union(j(oDelta, cBase))
        .union(j(oBase, cDelta)).union(j(oDelta, cDelta))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum("p").cast(DoubleType).as("revenue"))
        .orderBy("c_nationkey")
    },

    // SIMPSON'S PARADOX AUDIT — the analytics-QA check that catches the
    // oldest aggregation trap: a pooled trend whose sign REVERSES inside
    // every (or any) subgroup. Reuses q_ols_regression's closed-form
    // discipline twice from ONE pass of sufficient statistics (x =
    // quantity BIGINT, y = price DECIMAL): per-group slopes from the
    // grouped rollup, the pooled slope from re-summing THE SAME partials
    // (mergeability again — the pooled stats are the group stats summed,
    // no second scan), flags where sign(group) ≠ sign(pooled). One
    // map-side-combined rollup; everything after is ≤|groups| rows.
    "q_simpson_audit" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast(LongType).as("x"),
          money(col("l_extendedprice")).as("y"))
      val g = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y")).as("sy"),
        sum(col("y") * col("x")).as("sxy"))
      val pool = g.agg(sum("n").as("pn"), sum("sx").as("psx"),
        sum("sxx").as("psxx"), sum("sy").as("psy"), sum("sxy").as("psxy"))
      def slope(n: String, sx: String, sxx: String, sy: String,
          sxy: String) =
        s"(CASE WHEN CAST($n AS DOUBLE) * $sxx - CAST($sx AS DOUBLE) * $sx" +
          s" > 0.0D THEN (CAST($n AS DOUBLE) * $sxy " +
          s"- CAST($sx AS DOUBLE) * $sy) / (CAST($n AS DOUBLE) * $sxx " +
          s"- CAST($sx AS DOUBLE) * $sx) END)"
      val sg = slope("n", "sx", "sxx", "sy", "sxy")
      val sp = slope("pn", "psx", "psxx", "psy", "psxy")
      g.crossJoin(broadcast(pool))
        .select(col("l_returnflag"), col("n"),
          expr(s"round($sg, 6)").as("slope_group"),
          expr(s"round($sp, 6)").as("slope_pooled"),
          expr(s"CASE WHEN $sg IS NOT NULL AND $sp IS NOT NULL THEN " +
            s"CAST(CASE WHEN sign($sg) <> sign($sp) THEN 1 ELSE 0 END " +
            "AS BIGINT) END").as("sign_flips"))
        .orderBy("l_returnflag")
    },

    // SPLIT CONFORMAL PREDICTION INTERVAL — the distribution-free "how
    // wrong is this model allowed to be" wrapper every production ML
    // monitor wants (Vovk; Lei et al. 2018): 3-way md5 split of users
    // into train/calibration/test, constant predictor μ = train mean of
    // per-user event counts, nonconformity = |y − μ|, q̂ = the
    // ⌈0.9·(n_cal+1)⌉-th smallest calibration residual (EXACT rank
    // selection — row_number over (residual, user_id), never a float
    // quantile), and the guarantee audited on the held-out test split:
    // coverage = share of |y − μ| ≤ q̂, ≥ 90% in expectation by the
    // exchangeability argument. μ is one double from exact BIGINTs; the
    // residual order is doubles compared identically in both engines.
    // One user_id shuffle; rank window on the ≤|cal users| rows.
    "q_conformal_interval" -> { (s, dir) =>
      val coin = s"${hExpr("cast(user_id as string)")} % 3"
      val u = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("y"))
        .withColumn("fold", expr(coin))
      val tr = u.filter(col("fold") === 0)
        .agg(sum("y").as("tsy"), count(lit(1)).as("tn"))
      val mu = "(CAST(tsy AS DOUBLE) / tn)"
      val cal = u.filter(col("fold") === 1).crossJoin(broadcast(tr))
        .withColumn("res", expr(s"abs(CAST(y AS DOUBLE) - $mu)"))
      val nCal = cal.agg(count(lit(1)).as("n_cal"))
      val ranked = cal.withColumn("rk", row_number().over(
        Window.partitionBy(pmod(col("fold"), lit(1)))
          .orderBy(col("res").asc, col("user_id").asc)).cast("long"))
      val qhat = ranked.crossJoin(broadcast(nCal))
        // k clamps to n_cal (tiny calibration sets would otherwise ask
        // for the (n+1)-th residual — the infinite interval; the clamp is
        // the declared finite fallback)
        .filter(expr("rk = least(CAST(ceil(0.9D * (n_cal + 1)) AS BIGINT)" +
          ", n_cal)"))
        .select(col("rk").as("k"), col("n_cal"), col("res").as("q_hat"))
      val test = u.filter(col("fold") === 2).crossJoin(broadcast(tr))
        .crossJoin(broadcast(qhat))
        .agg(count(lit(1)).as("n_test"),
          sum(expr(s"CASE WHEN abs(CAST(y AS DOUBLE) - $mu) <= q_hat " +
            "THEN 1L ELSE 0L END")).as("n_covered"),
          min("k").as("k"), min("n_cal").as("n_cal"),
          min("q_hat").as("q_hat"), min("tsy").as("tsy"),
          min("tn").as("tn"))
      test.select(col("tn").as("n_train"), col("n_cal"), col("n_test"),
        expr(s"round($mu, 6)").as("mu"), col("k"),
        round(col("q_hat"), 6).as("q_hat"),
        expr("round(CAST(n_covered AS DOUBLE) / n_test, 6)")
          .as("coverage"))
    },

    // ITEM-ITEM COLLABORATIVE FILTERING — the co-purchase recommender
    // (Sarwar et al. 2001 / Amazon's item-to-item CF): parts bought
    // together in the same order, neighbor score = cosine over the
    // binary order-incidence vectors = n_both / sqrt(n_i · n_j), top-5
    // neighbors for the 10 most-purchased parts. Scale: the pair
    // self-join is keyed on l_orderkey and the blow-up is bounded by
    // BASKET SIZE — enforced, not assumed: a basket larger than
    // BucketCap would emit O(basket²) pairs, so it is dropped whole
    // (the house skew guard, mirrored in the oracle; TPC-H baskets hold
    // ≤7 lineitems, so the guard is inert here — it exists for the
    // degenerate mega-basket at corpus scale); distinct + groupBy(i,j)
    // both map-side combine; the degree join is a plain equi-join on
    // partkey (AQE-broadcast at small SF); the focus list is a 10-row
    // broadcast. Cosine is ONE double tree over exact BIGINT counts —
    // identical in both engines, so the (cosine DESC, neighbor ASC)
    // rank is deterministic; rounding only at display.
    "q_item_cf" -> { (s, dir) =>
      // r19: the capped basket table has THREE consumers (deg + both
      // self-join sides); lazily the distinct+window subtree re-ran for
      // deg (QProf: 12.8 s task time, shuffle read 63.7 MB vs 39.0
      // written). One eager checkpoint materializes it once (guide §2.4)
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("o")))
        .filter(col("bn") <= Pipeline.BucketCap)
        .select("o", "p")
        .localCheckpoint(true)
      val deg = op.groupBy("p").agg(count(lit(1)).as("n"))
      val pairs = op.as("a")
        .join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("i"), col("b.p").as("j"))
        .agg(count(lit(1)).as("nij"))
      val sym = pairs.select(col("i"), col("j"), col("nij"))
        .unionByName(pairs.select(col("j").as("i"), col("i").as("j"),
          col("nij")))
      val focus = deg.orderBy(col("n").desc, col("p").asc).limit(10)
        .select(col("p").as("i"), col("n").as("n_i"))
      val scored = sym.join(broadcast(focus), "i")
        .join(deg.select(col("p").as("j"), col("n").as("n_j")), "j")
        .withColumn("cosine",
          expr("CAST(nij AS DOUBLE) / sqrt(CAST(n_i AS DOUBLE) * n_j)"))
      scored.withColumn("rn", row_number().over(
          Window.partitionBy("i").orderBy(col("cosine").desc, col("j").asc)))
        .filter(col("rn") <= 5)
        .select(col("i").as("part"), col("rn").cast(LongType).as("rank"),
          col("j").as("neighbor"), col("n_i").as("n_part"),
          col("n_j").as("n_neighbor"), col("nij").as("n_both"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("part", "rank")
    },

    // ISOTONIC REGRESSION CALIBRATION — the nonparametric upgrade of
    // q_calibration_bins' reliability diagram (Zadrozny & Elkan 2002:
    // calibrate scores with the best MONOTONE fit, no bin-width choice).
    // PAVA is a sequential pooling algorithm, but isotonic regression has
    // a closed DISTRIBUTABLE form — the minimax identity (Robertson,
    // Wright & Dykstra 1988): ŷᵢ = max_{j≤i} min_{k≥i} mean(y[j..k]) —
    // which turns the fit into joins over prefix sums. Shares
    // q_calibration_bins' scorer via scoredDocs; scores collapse to ≤101
    // percent levels in ONE map-side-combined corpus rollup, so the
    // (j,i,k) triple space is ≤101³ ≈ 1e6 rows against broadcast ≤101-row
    // frames BY DESIGN — never corpus-sized. EXACT: every candidate mean
    // is one division of exact BIGINT prefix-sum deltas (identical
    // cross-engine), and min/max over identical doubles is deterministic;
    // rounding only at display. The global window runs on the ≤101-row
    // level table BY DESIGN.
    "q_isotonic_calibration" -> { (s, dir) =>
      val lvl = scoredDocs(s, dir)
        .withColumn("l", least(floor(col("p") * 100).cast(LongType),
          lit(99L)))
        .groupBy("l").agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val gw = Window.partitionBy(pmod(col("l"), lit(1))).orderBy("l")
      val pre = lvl
        .withColumn("i", row_number().over(gw).cast(LongType))
        .withColumn("cn", sum("n").over(gw))
        .withColumn("cp", sum("pos").over(gw))
        .localCheckpoint(true)
      val lo = pre.select(col("i").as("j"),
        (col("cn") - col("n")).as("n0"), (col("cp") - col("pos")).as("p0"))
      val hi = pre.select(col("i").as("k"), col("cn").as("n1"),
        col("cp").as("p1"))
      val avg = broadcast(lo).join(hi, col("j") <= col("k"))
        .select(col("j"), col("k"),
          ((col("p1") - col("p0")).cast(DoubleType) /
            (col("n1") - col("n0"))).as("m"))
      val fit = avg
        .join(broadcast(pre.select("i")),
          col("j") <= col("i") && col("i") <= col("k"))
        .groupBy("i", "j").agg(min("m").as("inner"))
        .groupBy("i").agg(max("inner").as("iso"))
      pre.join(fit, "i")
        .select(col("l"), col("n"), col("pos"),
          round(col("pos").cast(DoubleType) / col("n"), 6).as("raw_rate"),
          round(col("iso"), 6).as("iso_rate"))
        .orderBy("l")
    },

    // SPRT — Wald's sequential probability ratio test (1945), the
    // always-valid sibling of q_ab_test's fixed-horizon z: monitor the
    // purchase rate day by day and STOP the moment the evidence crosses
    // a boundary, without the peeking penalty. H₀ = the corpus-wide
    // purchase rate (self-derived, rounded to 6 dp before use), H₁ = a
    // declared 25% lift (alternative rounded the same way); boundaries
    // ln((1−β)/α), ln(β/(1−α)) at declared α = β = 0.05. EXACT: the LLR
    // at day t is cum_pos·ln(p₁/p₀) + cum_neg·ln((1−p₁)/(1−p₀)) computed
    // FROM the cumulative exact BIGINT counts — one double tree per day,
    // never a float fold — and the decision reads the ROUNDED statistic
    // so a last-ulp wobble can't flip it. Scale: the corpus collapses to
    // the ≤|days| daily table in one map-side-combined shuffle; the
    // cumulative window runs on that aggregate BY DESIGN.
    "q_sprt" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pos"))
      val p0 = daily.agg(
        round(sum("pos").cast(DoubleType) / sum("n"), 6).as("p0"))
        .withColumn("p1", round(col("p0") * 1.25, 6))
      val gw = Window.partitionBy(pmod(col("n"), lit(1))).orderBy("day")
      daily
        .withColumn("cn", sum("n").over(gw))
        .withColumn("cpos", sum("pos").over(gw))
        .crossJoin(broadcast(p0))
        .withColumn("llr", round(
          col("cpos") * log(col("p1") / col("p0")) +
            (col("cn") - col("cpos")) *
              log((lit(1.0) - col("p1")) / (lit(1.0) - col("p0"))), 6))
        .withColumn("decision",
          when(col("llr") >= round(log(lit(19.0)), 6), "accept_h1")
            .when(col("llr") <= round(log(lit(1.0) / 19.0), 6),
              "accept_h0")
            .otherwise("continue"))
        .select(col("day"), col("cn").as("cum_n"),
          col("cpos").as("cum_pos"), col("llr"), col("decision"))
        .orderBy("day")
    },

    // GINI COEFFICIENT + top-decile Lorenz share (revenue concentration
    // across customers — the inequality readout every marketplace and
    // data-mixture audit wants; Gini 1912 in Sen's rank form): per-customer
    // revenue rolls up to exact BIGINT cents, ranks are row_number over the
    // TOTAL order (rev, custkey), and G = (2·Σr·x − (n+1)·Σx) / (n·Σx) is
    // one double tree over three exact BIGINT aggregates. Top-decile share
    // = Σx over ranks above n − n div 10 (declared integer decile rule)
    // over Σx. Degenerate (Σx = 0) yields NULL, never a throw. Scale: the
    // corpus collapses to the ≤|customers| rollup in one map-side shuffle;
    // the rank window on that rollup is single-partition BY DESIGN (the
    // q_roc_auc shape) — at 1e9 customers swap in the two-level distributed
    // prefix-rank the watermark-lateness audit uses, tree unchanged. Σr·x
    // ≈ 1e17 at sf0.1 — BIGINT-safe; DECIMAL(38,0) swap beyond.
    "q_gini" -> { (s, dir) =>
      rankedRevenue(s, dir)
        .agg(
          max("n").as("n_customers"),
          max("s1").as("total_cents"),
          sum(col("r") * col("rev")).as("sr"),
          sum(when(expr("r > n - n div 10"), col("rev")).otherwise(0L))
            .as("top_cents"))
        .select(col("n_customers"), col("total_cents"),
          expr("""CASE WHEN total_cents > 0 THEN
            |round((2.0D * sr - (CAST(n_customers AS DOUBLE) + 1.0D) *
            |  total_cents) /
            |  (CAST(n_customers AS DOUBLE) * total_cents), 6)
            |END""".stripMargin).as("gini"),
          expr("""CASE WHEN total_cents > 0 THEN
            |round(CAST(top_cents AS DOUBLE) / total_cents, 6)
            |END""".stripMargin).as("top_decile_share"))
    },

    // SPEARMAN RANK CORRELATION (order-frequency vs spend across customers
    // — the monotone-association sibling of q_ols_regression's Pearson r,
    // robust to the heavy spend skew; Spearman 1904): average-rank ties
    // computed WITHOUT a per-row window — each variable collapses to its
    // value histogram and avg rank = cum_below + (cnt+1)/2, kept exact by
    // DOUBLING (2·rank = 2·cum_below + cnt + 1 is always integer), then the
    // doubled ranks join back by value and ρ is the Pearson tree over exact
    // BIGINT rank statistics (doubling cancels in ρ). Degenerate (either
    // variable constant) yields NULL. Scale: one |customers| rollup, two
    // ≤|distinct value| histogram windows BY DESIGN (q_roc_auc shape), two
    // broadcast-sized rank joins; products ≤ ~2e17 at sf0.1 — BIGINT-safe,
    // DECIMAL(38,0) swap beyond.
    "q_spearman" -> { (s, dir) =>
      val u = t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("a"),
          (sum(money(col("o_totalprice"))) * 100).cast(LongType).as("b"))
      def ranks(v: String, r2: String): DataFrame = {
        val w = Window.orderBy(v).rowsBetween(Window.unboundedPreceding, -1)
        u.groupBy(v).agg(count(lit(1)).as("cnt"))
          .withColumn("cb", coalesce(sum("cnt").over(w), lit(0L)))
          .select(col(v),
            (lit(2L) * col("cb") + col("cnt") + lit(1L)).as(r2))
      }
      u.join(ranks("a", "r2a"), "a").join(ranks("b", "r2b"), "b")
        .agg(count(lit(1)).as("n"),
          sum("r2a").as("sa"), sum("r2b").as("sb"),
          sum(col("r2a") * col("r2a")).as("saa"),
          sum(col("r2b") * col("r2b")).as("sbb"),
          sum(col("r2a") * col("r2b")).as("sab"))
        .select(col("n"),
          expr("""CASE WHEN n > 1
            | AND CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa > 0.0D
            | AND CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb > 0.0D
            |THEN round(
            |  (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb) /
            |  sqrt((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) *
            |       (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)), 6)
            |END""".stripMargin).as("rho"))
    },

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV (does variant A's per-event spend
    // DISTRIBUTION differ from B's anywhere, not just in the mean — the
    // whole-shape drift test q_welch_ttest can't see; Smirnov 1939): spend
    // in exact integer cents by the md5 user coin, histogram to one row per
    // distinct value (the only corpus-sized agg), inclusive cumulative
    // window over the histogram, and the sup-gap kept EXACT by cross-
    // multiplication — D_num = max|cumA·nB − cumB·nA| in BIGINT, so no
    // float CDF ever decides the max. D = D_num/(nA·nB) and the scaled
    // statistic √(nA·nB/(nA+nB))·D are one shared double tree; the reject
    // flag reads the ROUNDED statistic against the declared α=0.05
    // critical value 1.358 (Smirnov asymptote). Scale: map-side partials
    // into the ≤|distinct cents| histogram; the single-partition window
    // runs on the histogram BY DESIGN (q_roc_auc's documented shape);
    // cum·n products ≤ 1e10 at sf0.1 — DECIMAL(38,0) swap at ~1e9 events.
    "q_ks_test" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(
          (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType)
            .as("cents"),
          when(expr(
            s"${hExpr("cast(user_id as string)")} % 2") === 0,
            1L).otherwise(0L).as("va"))
      val h = ev.groupBy("cents").agg(
        sum(col("va")).as("na"), sum(lit(1L) - col("va")).as("nb"))
      val tot = h.agg(sum("na").as("ta"), sum("nb").as("tb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      h.withColumn("ca", sum("na").over(w))
        .withColumn("cb", sum("nb").over(w))
        .crossJoin(broadcast(tot))
        .agg(max("ta").as("n_a"), max("tb").as("n_b"),
          max(abs(col("ca") * col("tb") - col("cb") * col("ta")))
            .as("d_num"))
        .select(col("n_a"), col("n_b"), col("d_num"),
          expr("""CASE WHEN n_a > 0 AND n_b > 0 THEN
            |round(CAST(d_num AS DOUBLE) /
            |  (CAST(n_a AS DOUBLE) * n_b), 6) END""".stripMargin)
            .as("d_stat"),
          expr("""CASE WHEN n_a > 0 AND n_b > 0 THEN
            |round(sqrt(CAST(n_a AS DOUBLE) * n_b /
            |    (CAST(n_a AS DOUBLE) + n_b)) *
            |  (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)), 6)
            |END""".stripMargin).as("ks_scaled"))
        .withColumn("reject_05",
          when(col("ks_scaled").isNotNull, col("ks_scaled") > lit(1.358)))
    },

    // PEARSON CORRELATION MATRIX (all 6 pairs over lineitem's four numeric
    // measures from ONE aggregation pass — the feature-redundancy screen a
    // training pipeline runs before fitting anything): each measure lands
    // in an exact integer unit (quantity BIGINT, price cents BIGINT,
    // discount/tax percent points BIGINT via the DECIMAL(6,2) cast), the 15
    // sufficient statistics are exact aggregates (the one BIGINT-unsafe
    // product, cents², runs in DECIMAL(37,0) — ~6e19 at sf0.1 overflows
    // BIGINT), and each r is the q_ols_regression double tree over the cast
    // exact sums. stack() unpivots the 1-row stats into 6 (var_a, var_b, r)
    // rows. Zero-variance pairs yield NULL r. Scale: ONE map-side-combined
    // pass, no shuffle beyond the 1-row final agg — adding measures grows
    // the stat count quadratically but the pass count not at all.
    "q_pearson_corr" -> { (s, dir) =>
      val a = lineitemMoments(s, dir)
      def r(sa: String, sb: String, saa: String, sbb: String,
          sab: String): String =
        s"""CASE WHEN CAST(n AS DOUBLE) * $saa -
           |    CAST($sa AS DOUBLE) * $sa > 0.0D
           |  AND CAST(n AS DOUBLE) * $sbb -
           |    CAST($sb AS DOUBLE) * $sb > 0.0D
           |THEN round(
           |  (CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb) /
           |  sqrt((CAST(n AS DOUBLE) * $saa - CAST($sa AS DOUBLE) * $sa) *
           |    (CAST(n AS DOUBLE) * $sbb - CAST($sb AS DOUBLE) * $sb)), 6)
           |END""".stripMargin
      a.select(col("n"), expr(s"""stack(6,
          |'discount', 'price',    ${r("sd", "sp", "sdd", "spp", "spd")},
          |'discount', 'tax',      ${r("sd", "sx", "sdd", "sxx", "sdx")},
          |'quantity', 'discount', ${r("sq", "sd", "sqq", "sdd", "sqd")},
          |'quantity', 'price',    ${r("sq", "sp", "sqq", "spp", "sqp")},
          |'quantity', 'tax',      ${r("sq", "sx", "sqq", "sxx", "sqx")},
          |'price',    'tax',      ${r("sp", "sx", "spp", "sxx", "spx")}
          |) AS (var_a, var_b, r)""".stripMargin))
        .select(col("var_a"), col("var_b"), col("n"), col("r"))
        .orderBy("var_a", "var_b")
    },

    // NELSON–AALEN CUMULATIVE HAZARD (the estimator siblings of
    // q_kaplan_meier on the SAME signup→purchase life table — hazard
    // accumulates Σ d/n_risk where KM multiplies survival factors; Nelson
    // 1972, Aalen 1978): identical life-table construction (durations in
    // integer days, deaths-before-censors), then the hazard is a left fold
    // of d/n_risk over the dur-SORTED struct list — the q_token_entropy
    // float discipline: double addition is non-associative, so the sum
    // runs in list order, never shuffle order, and matches the oracle's
    // identical fold bit for bit. exp(−H) reports the hazard-implied
    // survival next to KM's product-limit for the textbook H ≥ −ln(S)
    // cross-check (asserted in OperatorSpec). Scale: the corpus collapses
    // to the ≤|users| duration rollup, then everything runs on the
    // ≤|distinct durations| life table BY DESIGN.
    "q_nelson_aalen" -> { (s, dir) =>
      lifeTable(s, dir)
        .agg(sort_array(collect_list(
          struct(col("dur"), col("d"), col("n_risk")))).as("l"))
        .select(col("l"), posexplode(col("l")))
        .select(col("col.dur").as("duration_day"),
          col("col.n_risk").as("n_risk"),
          col("col.d").as("n_events"),
          expr(
            """aggregate(
              |  transform(slice(l, 1, pos + 1),
              |    x -> CAST(x.d AS DOUBLE) / x.n_risk),
              |  0.0D, (acc, f) -> acc + f)""".stripMargin).as("h"))
        .select(col("duration_day"), col("n_risk"), col("n_events"),
          round(col("h"), 6).as("cum_hazard"),
          round(exp(-col("h")), 6).as("na_survival"))
        .orderBy("duration_day")
    },

    // BENJAMINI–HOCHBERG FDR over a per-nation segment scan (25 urgent-
    // order-rate z-tests run at once — exactly the multiple-testing trap
    // BH 1995 exists for; without it ~1–2 nations "win" by chance at
    // α=0.1): each nation tests its urgent rate against the REST (pooled
    // p̂ is then the global rate — one broadcast scalar), z from exact
    // BIGINT counts as one shared double tree, two-sided p through the
    // DECLARED logistic CDF approximation Φ(t) ≈ 1/(1+e^(−1.702t))
    // (Bowling et al. 2009 — both engines share it; no erf cross-engine),
    // decisions read ROUNDED p. Step-up rule: reject all ranks ≤ the
    // largest k with p_(k) ≤ α·k/m, computed as a suffix-max window over
    // the rank order. Scale: one nation-keyed rollup; every window runs on
    // the ≤|nations| frame BY DESIGN.
    "q_benjamini_hochberg" -> { (s, dir) =>
      val byNat = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("x"), count(lit(1)).as("n"))
      val tot = byNat.agg(sum("x").as("tx"), sum("n").as("tn"),
        count(lit(1)).as("m"))
      val scored = byNat.crossJoin(broadcast(tot))
        .withColumn("z", expr(
          """CASE WHEN n > 0 AND tn > n
            | AND CAST(tx AS DOUBLE) / tn > 0.0D
            | AND CAST(tx AS DOUBLE) / tn < 1.0D
            |THEN round((CAST(x AS DOUBLE) / n -
            |    CAST(tx - x AS DOUBLE) / (tn - n)) /
            |  sqrt((CAST(tx AS DOUBLE) / tn) *
            |    (1.0D - CAST(tx AS DOUBLE) / tn) *
            |    (1.0D / n + 1.0D / (tn - n))), 6)
            |END""".stripMargin))
        .withColumn("p_value", expr(
          """CASE WHEN z IS NOT NULL THEN
            |round(2.0D * (1.0D - 1.0D /
            |  (1.0D + exp(-1.702D * abs(z)))), 6) END""".stripMargin))
      val ranked = scored
        .withColumn("k",
          row_number().over(Window.orderBy(col("p_value").asc_nulls_last,
            col("n_name"))))
        .withColumn("bh_threshold",
          expr("round(0.1D * k / m, 6)"))
        .withColumn("ok",
          when(col("p_value") <= col("bh_threshold"), 1L).otherwise(0L))
      ranked
        .withColumn("reject", max("ok").over(
          Window.orderBy(col("k").desc)
            .rowsBetween(Window.unboundedPreceding, 0)) === 1L)
        .select(col("n_name"), col("x").as("n_urgent"), col("n"),
          col("z"), col("p_value"), col("k"), col("bh_threshold"),
          col("reject"))
        .orderBy("k")
    },

    // QUANTILE NORMALIZATION (force the three return-flag price
    // distributions onto a shared reference distribution — the batch-
    // effect remover from Bolstad 2003, the same op a multi-source corpus
    // uses to align per-source quality-score scales): rank within each
    // group over the TOTAL order (cents, orderkey, linenumber), then the
    // reference value at rank r is the cross-group MEAN of the r-th
    // smallest values — exact BIGINT cent sums divided once at the end;
    // the probe emits the first 20 ranks (declared readout; the mapping is
    // defined for every rank). n_groups = 3 is asserted per rank (every
    // group is longer than the probe). Scale: the rank window is
    // PARTITIONED by group — each group sorts independently, exactly the
    // per-source sort a 100 TB quantile-normalize pays; the rank-keyed
    // rollup shuffles ≤20 rows after the early filter.
    "q_quantile_normalize" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        (money(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      li.withColumn("r", row_number().over(
          Window.partitionBy("l_returnflag")
            .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
        .filter(col("r") <= 20)
        .groupBy("r")
        .agg(count(lit(1)).as("n_groups"), sum("cents").as("sc"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .select(col("r").as("rank"), col("n_groups"),
          expr("round(CAST(sc AS DOUBLE) / n_groups / 100.0D, 6)")
            .as("norm_dollars"),
          col("min_cents"), col("max_cents"))
        .orderBy("rank")
    },

    // PCA TOP COMPONENT via power iteration (Mises 1929 — the dominant
    // eigenvector of the 4×4 covariance of lineitem's numeric measures,
    // the first thing any feature-space audit computes): the covariance
    // reuses q_pearson_corr's ONE-pass exact sufficient statistics
    // (c_ab = (Σab − Σa·Σb/n)/(n−1) as doubles over exact sums), then 8
    // power-iteration rounds v ← Cv/|Cv| run as pure column expressions on
    // a ONE-ROW frame — every multiply-add in a fixed written order, so
    // both engines walk the identical IEEE tree and the unrounded
    // intermediates match bit for bit (the q_greedy_decode unroll
    // discipline; rounding only at the readout). Eigenvalue = Rayleigh
    // v·Cv; sign oriented so the price component ≥ 0 (declared — price
    // carries ~all the variance, so it is never ~0). Scale: ONE map-side
    // pass over the corpus; the iteration is 1-row algebra regardless of
    // data size — this is exactly how a 100 TB PCA runs (stats pass +
    // driver-sized eigensolve), minus LAPACK.
    "q_pca_power" -> { (s, dir) =>
      val a = lineitemMoments(s, dir)
      def cv(sab: String, sa: String, sb: String): String =
        s"(CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE) * $sb / n) / (n - 1.0D)"
      val c = a.filter(col("n") > 1).select(
        expr(cv("sqq", "sq", "sq")).as("c11"),
        expr(cv("sqp", "sq", "sp")).as("c12"),
        expr(cv("sqd", "sq", "sd")).as("c13"),
        expr(cv("sqx", "sq", "sx")).as("c14"),
        expr(cv("spp", "sp", "sp")).as("c22"),
        expr(cv("spd", "sp", "sd")).as("c23"),
        expr(cv("spx", "sp", "sx")).as("c24"),
        expr(cv("sdd", "sd", "sd")).as("c33"),
        expr(cv("sdx", "sd", "sx")).as("c34"),
        expr(cv("sxx", "sx", "sx")).as("c44"))
        .withColumn("v1", lit(0.5)).withColumn("v2", lit(0.5))
        .withColumn("v3", lit(0.5)).withColumn("v4", lit(0.5))
      val cs = Seq("c11", "c12", "c13", "c14", "c22", "c23", "c24",
        "c33", "c34", "c44").map(col)
      def matvec(d: DataFrame): DataFrame = d.select(cs ++ Seq(
        expr("c11*v1 + c12*v2 + c13*v3 + c14*v4").as("w1"),
        expr("c12*v1 + c22*v2 + c23*v3 + c24*v4").as("w2"),
        expr("c13*v1 + c23*v2 + c33*v3 + c34*v4").as("w3"),
        expr("c14*v1 + c24*v2 + c34*v3 + c44*v4").as("w4"),
        col("v1"), col("v2"), col("v3"), col("v4")): _*)
      def normalize(d: DataFrame): DataFrame = d
        .withColumn("nm", expr("sqrt(w1*w1 + w2*w2 + w3*w3 + w4*w4)"))
        .select(cs ++ Seq(expr("w1/nm").as("v1"), expr("w2/nm").as("v2"),
          expr("w3/nm").as("v3"), expr("w4/nm").as("v4")): _*)
      val it = (1 to 8).foldLeft(c)((d, _) => normalize(matvec(d)))
      matvec(it)
        .withColumn("lam", expr("v1*w1 + v2*w2 + v3*w3 + v4*w4"))
        .withColumn("sgn", when(col("v2") < 0, lit(-1.0)).otherwise(lit(1.0)))
        // + 0.0 normalizes IEEE −0.0 to +0.0 (a tiny negative component
        // rounds to −0, which would hash-differ from the oracle's +0)
        .select(round(col("lam"), 6).as("eig_value"),
          (round(col("sgn") * col("v1"), 6) + lit(0.0)).as("v_quantity"),
          (round(col("sgn") * col("v2"), 6) + lit(0.0)).as("v_price"),
          (round(col("sgn") * col("v3"), 6) + lit(0.0)).as("v_discount"),
          (round(col("sgn") * col("v4"), 6) + lit(0.0)).as("v_tax"))
    },

    // SHAPLEY CHANNEL ATTRIBUTION (exact, Shapley 1953 — the game-theoretic
    // split of conversions across the four touch channels, the readout
    // first/last-touch attribution approximates): per-user exposure
    // bitmask over the four non-purchase event types + converted flag; the
    // coalition value v(S) = conversions among users whose exposure ⊆ S
    // (monotone by construction), computed from the ≤16-row mask rollup by
    // a subset-sum join; φ_c = Σ_{S∌c} |S|!(3−|S|)!/4! · [v(S∪c) − v(S)]
    // kept EXACT by scaling ×24 (weights 6/2/2/6 are integers — no float
    // touches the attribution until the final division; efficiency
    // Σφ·24 = 24·(v(full) − v(∅)) is asserted in OperatorSpec). Scale: ONE
    // user rollup shuffle; everything after runs on ≤16-row broadcast
    // frames — channels beyond ~10 need the sampled permutation estimator,
    // disclosed here.
    "q_shapley_attribution" -> { (s, dir) =>
      val u = shapleyUsers(s, dir)
      val mc = u.groupBy("mask").agg(sum("conv").as("cv"))
      val sets = s.range(16).select(col("id").as("st"))
      val v = coalitionValues(sets, mc)
      val chan = s.range(4).select(col("id").as("ch"),
        expr("CASE id WHEN 0 THEN 1L WHEN 1 THEN 2L WHEN 2 THEN 4L ELSE 8L END")
          .as("bit"),
        expr("CASE id WHEN 0 THEN 'click' WHEN 1 THEN 'view' WHEN 2 THEN 'signup' ELSE 'error' END")
          .as("channel"))
      val tot = u.agg(sum("conv").as("total_conv"))
      chan.join(broadcast(v.select(col("st").as("s0"), col("v").as("v0"))),
          expr("(s0 & bit) = 0"))
        .join(broadcast(v.select(col("st").as("s1"), col("v").as("v1"))),
          expr("s1 = s0 + bit"))
        .withColumn("w24", expr(
          """CASE (s0 & 1) + ((s0 div 2) & 1) + ((s0 div 4) & 1) +
            |  ((s0 div 8) & 1)
            |WHEN 0 THEN 6L WHEN 1 THEN 2L WHEN 2 THEN 2L ELSE 6L
            |END""".stripMargin))
        .groupBy("channel")
        .agg(sum(col("w24") * (col("v1") - col("v0"))).as("phi24"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("phi24"),
          expr("round(CAST(phi24 AS DOUBLE) / 24.0D, 6)").as("phi"),
          expr("""CASE WHEN total_conv > 0 THEN
            |round(CAST(phi24 AS DOUBLE) / (24.0D * total_conv), 6)
            |END""".stripMargin).as("share"))
        .orderBy("channel")
    },

    // DEPTH-2 CART REGRESSION TREE by histogram split search (the
    // XGBoost/LightGBM core trick, Chen & Guestrin 2016 §3.3: split
    // candidates come from the FEATURE HISTOGRAM, so finding the best
    // split is a prefix-sum scan, not a sort of the corpus): root split
    // on quantity minimizing total SSE of price, then the best split
    // INSIDE each side — variance-reduction CART, exact. EXACT
    // cross-engine by construction: every cumulative is an INTEGER /
    // DECIMAL window sum over the ≤|levels| histogram (float window
    // cumsums are NOT portable — DuckDB may tree-reduce them; integer
    // addition is associative, so these are), and every SSE is one
    // scalar double tree over those exact cums, so the argmin scan picks
    // identical winners under the (sse ASC, x ASC) total order. Scale:
    // ONE map-side histogram rollup; the scans run on the ≤50-row level
    // table BY DESIGN — exactly how histogram-based GBDT distributes.
    // (A side holding a single level has no candidate split and emits
    // no child row — at sf0.001 the root splits at the top of the range
    // and the right side is one level, so the output is 2 rows there
    // and 3 at sf0.01+; both engines derive the same absence.)
    "q_cart_stump" -> { (s, dir) =>
      val lvl = t(s, dir, "lineitem").select(
          col("l_quantity").cast(LongType).as("x"),
          (money(col("l_extendedprice")) * 100).cast(LongType).as("y"))
        .groupBy("x").agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y").cast(DecimalType(18, 0)) *
            col("y").cast(DecimalType(18, 0))).as("syy"))
      val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
      val cum = lvl
        .withColumn("cn", sum("n").over(w))
        .withColumn("cs", sum("sy").over(w))
        .withColumn("css", sum("syy").over(w))
      val tot = lvl.agg(sum("n").as("nn"), sum("sy").as("ss"),
        sum("syy").as("sss"))
      val c2 = cum.crossJoin(broadcast(tot)).localCheckpoint(true)
      def sse(cnt: String, sm: String, ssq: String) =
        s"(CAST($ssq AS DOUBLE) - CAST($sm AS DOUBLE) * $sm / $cnt)"
      val root = c2.filter(col("cn") < col("nn"))
        .withColumn("sa", expr(sse("cn", "cs", "css") + " + " +
          sse("(nn - cn)", "(ss - cs)", "(sss - css)")))
        .orderBy(col("sa").asc, col("x").asc).limit(1)
        .select(col("x").as("t1"), col("cn").as("cn1"),
          col("cs").as("cs1"), col("css").as("css1"), col("sa").as("sa1"),
          col("nn"), col("ss"), col("sss"))
        .localCheckpoint(true)
      val left = c2.drop("nn", "ss", "sss").crossJoin(broadcast(root))
        .filter(col("x") < col("t1"))
        .withColumn("sa", expr(sse("cn", "cs", "css") + " + " +
          sse("(cn1 - cn)", "(cs1 - cs)", "(css1 - css)")))
        .orderBy(col("sa").asc, col("x").asc).limit(1)
      val right = c2.drop("nn", "ss", "sss").crossJoin(broadcast(root))
        .filter(col("x") > col("t1") && col("cn") < col("nn"))
        .withColumn("sa", expr(sse("(cn - cn1)", "(cs - cs1)",
          "(css - css1)") + " + " +
          sse("(nn - cn)", "(ss - cs)", "(sss - css)")))
        .orderBy(col("sa").asc, col("x").asc).limit(1)
      val rootRow = root.select(lit("root").as("node"),
        col("t1").as("split_x"), col("cn1").as("n_left"),
        (col("nn") - col("cn1")).as("n_right"),
        round(expr(sse("nn", "ss", "sss")), 6).as("sse_before"),
        round(col("sa1"), 6).as("sse_after"),
        round(expr(sse("nn", "ss", "sss")) - col("sa1"), 6).as("gain"))
      val leftRow = left.select(lit("left").as("node"),
        col("x").as("split_x"), col("cn").as("n_left"),
        (col("cn1") - col("cn")).as("n_right"),
        round(expr(sse("cn1", "cs1", "css1")), 6).as("sse_before"),
        round(col("sa"), 6).as("sse_after"),
        round(expr(sse("cn1", "cs1", "css1")) - col("sa"), 6).as("gain"))
      val rightRow = right.select(lit("right").as("node"),
        col("x").as("split_x"), (col("cn") - col("cn1")).as("n_left"),
        (col("nn") - col("cn")).as("n_right"),
        round(expr(sse("(nn - cn1)", "(ss - cs1)", "(sss - css1)")), 6)
          .as("sse_before"),
        round(col("sa"), 6).as("sse_after"),
        round(expr(sse("(nn - cn1)", "(ss - cs1)", "(sss - css1)")) -
          col("sa"), 6).as("gain"))
      rootRow.unionByName(leftRow).unionByName(rightRow).orderBy("node")
    },

    // McNEMAR'S PAIRED TEST (McNemar 1947 — THE test for "is classifier
    // B actually better than A on the SAME documents": accuracy deltas
    // mislead under pairing, only the DISCORDANT cells carry signal):
    // two self-derived binary en-detectors (chars vs spaces, each
    // thresholded at its own EXACT rank-selected median — no magic
    // constants), b = A-only-correct, c = B-only-correct, continuity-
    // corrected χ² = (|b−c|−1)²/(b+c). EXACT: medians by integer ceil
    // rank on the two histograms, the 2×2 discordant cells are one
    // corpus rollup, χ² one double tree. Scale: two ≤|distinct|
    // histogram rollups + one map-side-combined cell rollup.
    "q_mcnemar" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(
        col("n_chars").cast(LongType).as("chars"),
        (size(split(col("text"), " ")) - 1).cast(LongType).as("spaces"),
        when(col("lang") === "en", 1L).otherwise(0L).as("truth"))
      def median(c: String): DataFrame = {
        val h = d.groupBy(col(c).as("v")).agg(count(lit(1)).as("cn"))
        val cum = h.withColumn("cum", sum("cn").over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
        val n = h.agg(sum("cn").as("n"))
        cum.crossJoin(broadcast(n))
          .filter(col("cum") >= expr("(n + 1L) div 2L"))
          .agg(min("v").as(s"med_$c"))
      }
      val cells = d
        .crossJoin(broadcast(median("chars")))
        .crossJoin(broadcast(median("spaces")))
        .withColumn("pa",
          when(col("chars") >= col("med_chars"), 1L).otherwise(0L))
        .withColumn("pb",
          when(col("spaces") >= col("med_spaces"), 1L).otherwise(0L))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pa") === col("truth"), 1L).otherwise(0L))
            .as("acc_a"),
          sum(when(col("pb") === col("truth"), 1L).otherwise(0L))
            .as("acc_b"),
          sum(when(col("pa") === col("truth") &&
            col("pb") =!= col("truth"), 1L).otherwise(0L)).as("b"),
          sum(when(col("pa") =!= col("truth") &&
            col("pb") === col("truth"), 1L).otherwise(0L)).as("c"))
      cells.select(col("n"), col("b"), col("c"),
        round(expr("CAST(acc_a AS DOUBLE) / n"), 6).as("acc_a"),
        round(expr("CAST(acc_b AS DOUBLE) / n"), 6).as("acc_b"),
        expr("""CASE WHEN b + c > 0 THEN
          |round(CAST((abs(b - c) - 1L) * (abs(b - c) - 1L) AS DOUBLE)
          |  / (b + c), 6)
          |END""".stripMargin).as("chi2"))
    },

    // LIFT / CUMULATIVE-GAINS CURVE (the decile targeting readout every
    // classifier ships to its consumers beside q_roc_auc's AUC — "call
    // the top 20% and you capture X% of converters"): rank thresholds
    // are EXACT integer ⌈k·n/10⌉ probes into the score-DESC cumulative
    // histogram (the q_roc_auc level-table discipline — ties collapse to
    // score LEVELS first, so no row-level tiebreak ever decides a
    // decile), capture = cum_pos/total_pos, lift = precision-at-depth
    // over base rate, one shared double tree. Scale: corpus → ≤|distinct
    // scores| level histogram in one rollup; the cumulative window and
    // 10 rank probes run on the level table BY DESIGN.
    "q_lift_curve" -> { (s, dir) =>
      val lvl = scoredDocs(s, dir).groupBy("p")
        .agg(count(lit(1)).as("cn"), sum("y").as("pos"))
      val cum = lvl
        .withColumn("cum", sum("cn").over(
          Window.orderBy(col("p").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cpos", sum("pos").over(
          Window.orderBy(col("p").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
      val tot = lvl.agg(sum("cn").as("n"), sum("pos").as("npos"))
      val ks = s.range(1, 11).select(col("id").as("k"))
      ks.crossJoin(broadcast(tot))
        .withColumn("rk", expr("(n * k + 9L) div 10L"))
        .join(cum, col("cum") >= col("rk"))
        .groupBy("k", "rk", "n", "npos")
        .agg(min(struct(col("cum"), col("cpos"))).as("first"))
        .select(col("k").as("decile"), col("rk").as("depth_rank"),
          col("first.cum").as("cum_docs"),
          col("first.cpos").as("cum_pos"),
          round(expr("CAST(first.cpos AS DOUBLE) / npos"), 6)
            .as("capture_rate"),
          round(expr("(CAST(first.cpos AS DOUBLE) / first.cum) / " +
            "(CAST(npos AS DOUBLE) / n)"), 6).as("lift"))
        .orderBy("decile")
    },

    // TWO-PROPORTION SAMPLE-SIZE CALCULATOR (the experiment-design
    // operator that answers "how long must this A/B run" BEFORE it
    // runs — the q_ab_test family's missing front half): the unit is the
    // ACTIVE USER-DAY (per-user lifetime conversion saturates at 1.0 over
    // this 30-day corpus — a degenerate baseline; daily conversion is
    // what a launch actually moves), baseline measured EXACTLY from the
    // corpus, swept over declared absolute MDEs {1,2,5}pp with the
    // standard α=.05/power=.80 normal constants (z = 1.959964, 0.841621
    // — declared-semantics constants, the HLL-α precedent); n/arm =
    // ⌈(z_α+z_β)²·(p₁q₁+p₂q₂)/δ²⌉. Scale: ONE (user, day) rollup; the
    // sweep is 3 rows of scalar algebra.
    "q_sample_size" -> { (s, dir) =>
      val base = t(s, dir, "events")
        .groupBy(col("user_id"), expr("date_trunc('DAY', ts)").as("d"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .agg(count(lit(1)).as("n_units"), sum("conv").as("n_conv"))
      base.select(col("*"),
          explode(expr("array(1L, 2L, 5L)")).as("mde_pp"))
        .withColumn("p1", expr("CAST(n_conv AS DOUBLE) / n_units"))
        .withColumn("p2", expr("p1 + CAST(mde_pp AS DOUBLE) / 100.0D"))
        .withColumn("n_arm", expr(
          """CAST(ceil((1.959964D + 0.841621D) * (1.959964D + 0.841621D)
            |  * (p1 * (1.0D - p1) + p2 * (1.0D - p2))
            |  / ((CAST(mde_pp AS DOUBLE) / 100.0D)
            |     * (CAST(mde_pp AS DOUBLE) / 100.0D))) AS BIGINT)"""
            .stripMargin))
        .select(col("mde_pp"), col("n_units"), col("n_conv"),
          round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
          col("n_arm"))
        .orderBy("mde_pp")
    },

    // BRIER SCORE DECOMPOSITION (Murphy 1973 — the classic three-way
    // readout of WHY a probabilistic classifier scores what it scores:
    // reliability = calibration error to pay down, resolution = earned
    // discrimination, uncertainty = the floor no model beats): over
    // q_calibration_bins' exact 10-bin grid. The identity BS = REL − RES
    // + UNC holds EXACTLY for the BINNED forecast (p̄ₖ as the issued
    // probability), so both the binned Brier and its three parts are
    // reported plus the identity gap (+0.0 normalizes −0.0 cross-engine)
    // — the raw Brier (unbinned p) rides along to show what binning
    // costs. EXACT: per-bin stats are decimal/BIGINT sums; every float
    // term folds over the bin-SORTED ≤10-row list (the q_token_entropy
    // rule). Scale: ONE map-side-combined corpus rollup to ≤10 bins.
    "q_brier_decomposition" -> { (s, dir) =>
      val b = scoredDocs(s, dir)
        .withColumn("bin",
          least(floor(col("p") * 10).cast(LongType), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
          sum("y").as("pos"),
          sum((col("p") - col("y").cast(DecimalType(1, 0))) *
            (col("p") - col("y").cast(DecimalType(1, 0)))).as("ssq"))
      val one = b.agg(sum("n").as("nd"), sum("pos").as("npos"),
          sum("ssq").as("tssq"),
          sort_array(collect_list(struct(col("bin"), col("n"), col("sp"),
            col("pos")))).as("l"))
        .withColumn("ybar", expr("CAST(npos AS DOUBLE) / nd"))
      val pb = "CAST(p.sp AS DOUBLE) / p.n"
      val yb = "CAST(p.pos AS DOUBLE) / p.n"
      one
        .withColumn("rel", expr(
          fold(s"p.n * ($pb - $yb) * ($pb - $yb)") + " / nd"))
        .withColumn("res", expr(
          fold(s"p.n * ($yb - ybar) * ($yb - ybar)") + " / nd"))
        .withColumn("unc", expr("ybar * (1.0D - ybar)"))
        .withColumn("bb", expr(
          fold(s"p.n * $pb * $pb - 2.0D * $pb * p.pos + p.pos") + " / nd"))
        .select(col("nd").as("n_docs"),
          round(expr("CAST(tssq AS DOUBLE) / nd"), 6).as("brier_raw"),
          round(col("bb"), 6).as("brier_binned"),
          round(col("rel"), 6).as("reliability"),
          round(col("res"), 6).as("resolution"),
          round(col("unc"), 6).as("uncertainty"),
          expr("round(bb - (rel - res + unc), 6) + 0.0D")
            .as("identity_gap"))
    },

    // POPULATION STABILITY INDEX (the industry-standard model-input
    // drift monitor with the 0.10/0.25 traffic-light bands — what a
    // scoring pipeline actually alerts on, where E142's JS divergence is
    // the information-theoretic cousin): reference vs current snapshots
    // from the house md5 event coin, bins = EXACT DECILES OF THE
    // REFERENCE (rank-selected from the cents histogram — the
    // q_exact_quantiles machinery; no float quantile decides a
    // boundary), +1 smoothing on both shares (declared — zero-proof,
    // the E142 precedent), PSI = Σ(pᵣ−p꜀)·ln(pᵣ/p꜀) folded over the
    // bin-SORTED ≤10-row list. Scale: two histogram rollups + a 9-row
    // broadcast boundary join; the corpus never shuffles twice.
    "q_psi_drift" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((col("value").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("cents"),
          expr(s"${hExpr("cast(event_id as string)")} % 2").as("snap"))
      val ha = ev.filter(col("snap") === 0).groupBy("cents")
        .agg(count(lit(1)).as("c"))
      val cum = ha.withColumn("cum", sum("c").over(
        Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)))
      val na = ha.agg(sum("c").as("n"))
      val bnd = s.range(1, 10).select(col("id").as("k"))
        .crossJoin(broadcast(na))
        .withColumn("rk", expr("(n * k + 9L) div 10L"))
        .join(cum, col("cum") >= col("rk"))
        .groupBy("k").agg(min("cents").as("bv"))
      val hc = ev.groupBy("snap", "cents").agg(count(lit(1)).as("c"))
      // bin the ≤|distinct cents| HISTOGRAM rows against the 9 boundaries
      // (bin = #boundaries ≤ value), never the corpus itself
      val withBin = hc.crossJoin(broadcast(bnd.select("bv")))
        .groupBy("snap", "cents", "c")
        .agg(sum(when(col("cents") >= col("bv"), 1L).otherwise(0L))
          .as("bin"))
      val piv = s.range(10).select(col("id").as("bin"))
        .join(withBin.groupBy("bin").agg(
          sum(when(col("snap") === 0, col("c")).otherwise(0L)).as("ca"),
          sum(when(col("snap") === 1, col("c")).otherwise(0L)).as("cb")),
          Seq("bin"), "left")
        .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val pa = "(CAST(p.ca AS DOUBLE) + 1.0D) / (CAST(na AS DOUBLE) + 10.0D)"
      val pb = "(CAST(p.cb AS DOUBLE) + 1.0D) / (CAST(nb AS DOUBLE) + 10.0D)"
      piv.agg(sum("ca").as("na"), sum("cb").as("nb"),
          sort_array(collect_list(struct(col("bin"), col("ca"), col("cb"))))
            .as("l"))
        .withColumn("psi", round(expr(
          s"aggregate(l, 0D, (a, p) -> a + ($pa - $pb) * ln($pa / $pb))"),
          6))
        .select(col("na").as("n_ref"), col("nb").as("n_cur"), col("psi"),
          expr("""CASE WHEN psi < 0.1D THEN 'stable'
            |WHEN psi < 0.25D THEN 'moderate'
            |ELSE 'major' END""".stripMargin).as("band"))
    },

    // RIDGE REGRESSION SWEEP (Hoerl & Kennard 1970 — the L2-regularized
    // fit every feature pipeline reaches for when OLS goes unstable;
    // the λ grid is the knob, and the sweep shows the shrinkage path):
    // same ONE-PASS exact sufficient statistics as q_ols_regression
    // (BIGINT x/cents sums), closed form on the centered moments with
    // the intercept unpenalized — b₁(λ) = (n·Σxy−ΣxΣy)/(n·Σxx−Σx²+λ·n),
    // b₀ = (Σy−b₁Σx)/n — swept over λ ∈ {0,100,10⁴,10⁶} via a 4-row
    // explode on the SAME stats row (declared grid; the λ=0 column rides
    // in every row so shrinkage = b₁(λ)/b₁(0) needs no self-join).
    // Scale: one map-side rollup; the sweep is 4 rows of scalar algebra.
    "q_ridge_regression" -> { (s, dir) =>
      val st = t(s, dir, "lineitem").select(
          col("l_quantity").cast(LongType).as("x"),
          (money(col("l_extendedprice")) * 100).cast(LongType).as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"))
      st.select(col("*"),
          explode(expr("array(0L, 100L, 10000L, 1000000L)")).as("lambda"))
        .withColumn("num", expr(
          "CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"))
        .withColumn("den0", expr(
          "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"))
        .withColumn("b1", expr("num / (den0 + CAST(lambda AS DOUBLE) * n)"))
        .withColumn("b1_ols", expr("num / den0"))
        .withColumn("b0", expr("(CAST(sy AS DOUBLE) - b1 * sx) / n"))
        .select(col("lambda"), col("n"),
          round(col("b1"), 6).as("slope"),
          round(col("b0"), 6).as("intercept"),
          round(col("b1") / col("b1_ols"), 6).as("shrinkage"))
        .orderBy("lambda")
    },

    // SAMPLED-PERMUTATION SHAPLEY (Castro et al. 2009 — the Monte-Carlo
    // estimator that is the ONLY tractable Shapley path past ~10
    // channels, where E139's exact 2ⁿ subset walk explodes): φ̂ᵢ =
    // (1/M) Σₘ [v(predᵢ(πₘ) ∪ {i}) − v(predᵢ(πₘ))] over M=12
    // permutations drawn DETERMINISTICALLY from the house md5 coin
    // (rank channels by h(m ':' channel) per sample — the oracle replays
    // the identical draw; production swaps in real randomness, the
    // ESTIMATOR is what's under test, disclosed). The whole pipeline is
    // integer until display: v(S) values are BIGINT conversion counts,
    // marginals subtract exactly, the M-sample sum divides once. The
    // exact φ rides along as the audit pair (phi24/phi_exact +
    // abs_err) — affordable ONLY because n=4 here; at scale the audit
    // columns drop and the sampling path is what remains. Scale: ONE
    // corpus rollup to user masks; v is evaluated ONLY at the ≤2·M·n
    // masks the samples touch (never the 2ⁿ lattice) via a broadcast
    // containment join; everything after is ≤M·n rows.
    "q_shapley_sampled" -> { (s, dir) =>
      val u = shapleyUsers(s, dir)
      val mc = u.groupBy("mask").agg(sum("conv").as("cv"))
      val chan = s.range(4).select(
        expr("CASE id WHEN 0 THEN 1L WHEN 1 THEN 2L WHEN 2 THEN 4L ELSE 8L END")
          .as("bit"),
        expr("CASE id WHEN 0 THEN 'click' WHEN 1 THEN 'view' " +
          "WHEN 2 THEN 'signup' ELSE 'error' END").as("channel"))
      val perm = s.range(12).select(col("id").as("m")).crossJoin(chan)
        .withColumn("h", expr(hExpr("concat(cast(m as string), ':', channel)")))
        .withColumn("r", row_number().over(
          Window.partitionBy("m").orderBy(col("h"), col("channel"))))
        .withColumn("pred", coalesce(sum("bit").over(
          Window.partitionBy("m").orderBy("r")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val need = perm.select(col("pred").as("st"))
        .union(perm.select((col("pred") + col("bit")).as("st"))).distinct()
      val v = coalitionValues(need, mc)
      val marg = perm
        .join(broadcast(v.select(col("st").as("s0"), col("v").as("v0"))),
          col("s0") === col("pred"))
        .join(broadcast(v.select(col("st").as("s1"), col("v").as("v1"))),
          col("s1") === col("pred") + col("bit"))
        .groupBy("channel").agg(sum(col("v1") - col("v0")).as("phi_sum"))
      val sets = s.range(16).select(col("id").as("st"))
      val vx = coalitionValues(sets, mc)
      val ex = chan
        .join(broadcast(vx.select(col("st").as("e0"), col("v").as("w0"))),
          expr("(e0 & bit) = 0"))
        .join(broadcast(vx.select(col("st").as("e1"), col("v").as("w1"))),
          expr("e1 = e0 + bit"))
        .withColumn("w24", expr(
          """CASE (e0 & 1) + ((e0 div 2) & 1) + ((e0 div 4) & 1) +
            |  ((e0 div 8) & 1)
            |WHEN 0 THEN 6L WHEN 1 THEN 2L WHEN 2 THEN 2L ELSE 6L
            |END""".stripMargin))
        .groupBy(col("channel").as("chx"))
        .agg(sum(col("w24") * (col("w1") - col("w0"))).as("phi24"))
      marg.join(ex, col("chx") === col("channel"))
        .select(col("channel"), col("phi24"), col("phi_sum"),
          expr("round(CAST(phi24 AS DOUBLE) / 24.0D, 6)").as("phi_exact"),
          expr("round(CAST(phi_sum AS DOUBLE) / 12.0D, 6)")
            .as("phi_sampled"),
          expr("round(abs(CAST(phi_sum AS DOUBLE) / 12.0D - " +
            "CAST(phi24 AS DOUBLE) / 24.0D), 6)").as("abs_err"))
        .orderBy("channel")
    },

    // LOGISTIC REGRESSION via 3 Newton–Raphson steps (the GLM every
    // quality-classifier calibration actually fits — P(returned | order
    // quantity) here): the corpus collapses ONCE to the ≤50-row (quantity,
    // n, k) sufficient-statistic histogram (the feature is integral, so
    // the per-row sigmoid work is per-DISTINCT-VALUE, not per-row — the
    // histogram trick that makes IRLS distributable), each Newton step is
    // five left folds over the x-SORTED histogram list (gradient + Hessian
    // entries; the q_token_entropy float rule — no shuffle-order float
    // sum) plus a closed-form 2×2 solve, all three steps unrolled into ONE
    // lazy plan on a one-row frame (the q_pca_power discipline — identical
    // IEEE trees cross-engine, rounding only at the readout). Scale: one
    // map-side histogram shuffle; the iteration cost is independent of
    // corpus size. Millions of distinct feature values → bucketize first,
    // same plan.
    "q_logistic_newton" -> { (s, dir) =>
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity").cast(LongType).as("x"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      logisticNewton(hist
        .agg(sum("n").as("n_rows"),
          sort_array(collect_list(struct(col("x"), col("n"), col("k"))))
            .as("l")), "n_rows", "l")
        .withColumn("ll", expr(fold(
          "CAST(p.k AS DOUBLE) * (b0 + b1 * CAST(p.x AS DOUBLE)) " +
            "- p.n * ln(1.0D + exp(b0 + b1 * CAST(p.x AS DOUBLE)))")))
        .select(col("n_rows"),
          round(col("b0"), 6).as("intercept"),
          round(col("b1"), 6).as("slope"),
          round(col("ll"), 6).as("log_lik"))
    },

    // 5-FOLD CROSS-VALIDATION of the closed-form OLS fit (the eval loop
    // every model gate needs before it ships a threshold) — with ZERO
    // extra passes over the data: fold sufficient statistics roll up once
    // (md5 row coin), train stats = TOTAL − fold (aggregate mergeability,
    // the E103 identity, running in reverse), coefficients from the
    // q_ols_regression tree, and the held-out MSE expands algebraically —
    // Σ(y−b0−b1x)² = Σy² − 2b0Σy − 2b1Σxy + nb0² + 2b0b1Σx + b1²Σx² — so
    // the TEST error also reads from the same exact stats, never a
    // per-row residual pass (at 100 TB: one map-side rollup total).
    // Exactness: x BIGINT, y cents BIGINT, y² DECIMAL(37,0) (q_pearson_corr's
    // discipline); all algebra one shared double tree over the cast sums.
    "q_cross_validation" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        expr(s"${hExpr("concat(cast(l_orderkey as string), '-', " +
          "cast(l_linenumber as string))")} % 5").as("fold"),
        col("l_quantity").cast(LongType).as("x"),
        (money(col("l_extendedprice")) * 100).cast(LongType).as("y"))
      val perFold = li.groupBy("fold").agg(
        count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum("y").as("sy"),
        sum(col("y").cast(DecimalType(18, 0)) *
          col("y").cast(DecimalType(18, 0))).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val tot = perFold.agg(sum("n").as("tn"), sum("sx").as("tsx"),
        sum("sxx").as("tsxx"), sum("sy").as("tsy"),
        sum("syy").as("tsyy"), sum("sxy").as("tsxy"))
      perFold.crossJoin(broadcast(tot))
        .withColumn("trn", col("tn") - col("n"))
        .withColumn("den", expr(
          "CAST(trn AS DOUBLE) * (tsxx - sxx) - " +
            "CAST(tsx - sx AS DOUBLE) * (tsx - sx)"))
        .withColumn("b1", expr(
          "CASE WHEN den > 0.0D THEN " +
            "(CAST(trn AS DOUBLE) * (tsxy - sxy) - " +
            "CAST(tsx - sx AS DOUBLE) * (tsy - sy)) / den END"))
        .withColumn("b0", expr(
          "(CAST(tsy - sy AS DOUBLE) - b1 * (tsx - sx)) / trn"))
        .withColumn("mse", expr(
          """(CAST(syy AS DOUBLE) - 2.0D * b0 * sy - 2.0D * b1 * sxy
            | + CAST(n AS DOUBLE) * b0 * b0 + 2.0D * b0 * b1 * sx
            | + b1 * b1 * sxx) / n""".stripMargin))
        .select(col("fold"), (col("tn") - col("n")).as("n_train"),
          col("n").as("n_test"),
          round(col("b1"), 6).as("slope"),
          round(col("b0"), 6).as("intercept"),
          round(col("mse"), 6).as("test_mse"))
        .orderBy("fold")
    },

    // 10%-TRIMMED MEAN of per-customer revenue (the robust location
    // estimate beside q_outlier_iqr's winsorization — drop the tails
    // instead of clamping them): exact integer trim boundaries by rank
    // (n div 10 off each end — no float quantile decides membership),
    // sums in exact BIGINT cents. Scale: same shape as q_gini — one
    // customer rollup, rank window on the rollup BY DESIGN with the
    // two-level prefix-rank swap at 1e9 customers.
    "q_trimmed_mean" -> { (s, dir) =>
      rankedRevenue(s, dir)
        .agg(max("n").as("n_customers"),
          max("s1").as("s1"),
          sum(when(expr("r > n div 10 AND r <= n - n div 10"), col("rev")))
            .as("ts"),
          sum(when(expr("r > n div 10 AND r <= n - n div 10"), 1L)
            .otherwise(0L)).as("n_trimmed"))
        .select(col("n_customers"), col("n_trimmed"),
          expr("round(CAST(s1 AS DOUBLE) / 100.0D / n_customers, 6)")
            .as("raw_mean_dollars"),
          expr("""CASE WHEN n_trimmed > 0 THEN
            |round(CAST(ts AS DOUBLE) / 100.0D / n_trimmed, 6)
            |END""".stripMargin).as("trimmed_mean_dollars"))
    },

    // HYPERLOGLOG distinct-user sketch (Flajolet et al. 2007 — THE
    // production cardinality sketch; the E118 KMV sibling that wins when
    // only unions are needed): 64 registers on the house 32-bit md5 hash
    // (register = h % 64, rank ρ = leading-zero count of the remaining 26
    // bits + 1 via EXACT integer bit-length — never libm log2), built by
    // the native graft_hll64 aggregate: a register is the plain MAX of its
    // ranks, so partial sketches merge across partitions, micro-batches
    // and days BY CONSTRUCTION, which is the entire 100 TB story (and
    // makes a DISTINCT before it redundant). Raw estimate α₆₄·64²/Σ2^(−Mⱼ)
    // with the standard V>0 linear-counting small-range correction (both
    // read exact integer registers; the Σ folds the used registers'
    // ranks in SORTED order, then adds 1 per empty register). Exact
    // distinct + relative error reported for audit (the sketch's accuracy
    // contract, asserted in OperatorSpec).
    "q_hyperloglog" -> { (s, dir) =>
      val m = 64
      val regs = t(s, dir, "events")
        .agg(expr("graft_hll64(cast(user_id as string))").as("rs"))
        .select(expr("size(filter(rs, r -> r > 0))").as("n_used"),
          expr("sort_array(filter(rs, r -> r > 0))").as("ms"))
      val exact = t(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      regs.crossJoin(broadcast(exact))
        .withColumn("zsum", expr(
          s"aggregate(ms, 0D, (a, x) -> a + power(2.0D, -CAST(x AS DOUBLE)))" +
            s" + CAST($m - n_used AS DOUBLE)"))
        .withColumn("e_raw", expr("0.709D * 4096.0D / zsum"))
        .withColumn("v", lit(m.toLong) - col("n_used"))
        .withColumn("e_corr", expr(
          s"""CASE WHEN e_raw <= 2.5D * $m AND v > 0
             |THEN $m.0D * ln($m.0D / v) ELSE e_raw END""".stripMargin))
        .select(col("n_exact"), col("v").as("n_zero_registers"),
          round(col("e_raw"), 6).as("hll_raw"),
          round(col("e_corr"), 6).as("hll_estimate"),
          round(abs(col("e_corr") - col("n_exact")) / col("n_exact"), 6)
            .as("rel_error"))
    },

    // EXACT DISTRIBUTED QUANTILES by histogram rank selection (what
    // replaces percentile_approx when the SLO number is contractual —
    // p50/p90/p99/p999 of per-event spend): quantile ranks are EXACT
    // integers ⌈q·n⌉ computed by integer ceiling division (no float ever
    // picks a rank), the value at rank r = the smallest histogram value
    // whose inclusive cumulative count reaches r. Scale: the corpus
    // collapses to the ≤|distinct cents| histogram (map-side), the
    // cumulative window runs on the histogram BY DESIGN (q_roc_auc
    // shape), and the 4 rank probes are a broadcast join against it.
    "q_exact_quantiles" -> { (s, dir) =>
      val h = t(s, dir, "events")
        .select((col("value").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
        .groupBy("cents").agg(count(lit(1)).as("c"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = h.withColumn("cum", sum("c").over(w))
      val tot = h.agg(sum("c").as("n"))
      val qs = s.range(4).select(col("id"),
        expr("element_at(array('p50','p90','p99','p999'), " +
          "CAST(id + 1 AS INT))").as("q"),
        expr("element_at(array(1L, 9L, 99L, 999L), CAST(id + 1 AS INT))")
          .as("qn"),
        expr("element_at(array(2L, 10L, 100L, 1000L), CAST(id + 1 AS INT))")
          .as("qd"))
      qs.crossJoin(broadcast(tot))
        .withColumn("rk", expr("(n * qn + qd - 1L) div qd"))
        .join(cum, col("cum") >= col("rk"))
        .groupBy("id", "q", "rk", "n")
        .agg(min("cents").as("value_cents"))
        .select(col("q").as("quantile"), col("n"), col("rk").as("rank"),
          col("value_cents"),
          round(col("value_cents") / lit(100.0), 6).as("dollars"))
        .orderBy("rank")
    },

    // DIFFERENTIALLY-PRIVATE COUNTS via the Laplace mechanism (Dwork
    // 2006 — the privacy-preserving release a training-data pipeline
    // publishes instead of raw per-segment counts; sensitivity 1, declared
    // ε = 1): noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|) by inverse-CDF over a
    // hash-derived u ∈ (0,1) — DETERMINISTIC by design here so the oracle
    // can replay it (a production release draws real randomness; the
    // MECHANISM — sensitivity, scale, inverse-CDF — is what's under
    // test, disclosed). True counts stay in the output as the audit
    // column. Scale: one nation rollup; noise is per-GROUP work on the
    // ≤|nations| frame.
    "q_dp_laplace" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("true_count"))
        .withColumn("u", expr(
          s"(CAST(${hExpr("n_name")} % 999999L + 1L AS DOUBLE)) / 1000000.0D"))
        .withColumn("noise", expr(
          """round(-(1.0D / 1.0D) *
            |  CASE WHEN u >= 0.5D THEN 1.0D ELSE -1.0D END *
            |  ln(1.0D - 2.0D * abs(u - 0.5D)), 6)""".stripMargin))
        .select(col("n_name"), col("true_count"), col("noise"),
          (col("true_count") +
            expr("CAST(round(noise, 0) AS BIGINT)")).as("noisy_count"))
        .orderBy("n_name")
    },

    // ONE-WAY ANOVA F (the "does the group matter at all" gate that runs
    // before any per-group deep dive — here: does order priority move
    // total price): the corpus collapses ONCE to the ≤|groups| (n, Σy,
    // Σy²) sufficient-statistic table in exact integers (cents BIGINT,
    // y² through DECIMAL — the q_cross_validation discipline), SSB/SSW
    // are then left folds over the group-SORTED struct list (the
    // q_logistic_newton float rule — a 5-term double sum must not let
    // shuffle order pick the rounding), F and η² read from one shared
    // tree. Scale: one map-side rollup; everything after is per-GROUP
    // scalar algebra on a broadcast-sized frame.
    "q_anova_f" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("y"))
      val gs = d.groupBy("g").agg(count(lit(1)).as("n"),
        sum("y").as("sy"),
        sum(col("y").cast(DecimalType(18, 0)) *
          col("y").cast(DecimalType(18, 0))).as("syy"))
      gs.agg(sum("n").as("tn"), sum("sy").as("tsy"),
          count(lit(1)).as("k"),
          sort_array(collect_list(struct(col("g"), col("n"), col("sy"),
            col("syy")))).as("l"))
        .withColumn("ssb", expr(fold(
          "CAST(p.n AS DOUBLE) * " +
            "(CAST(p.sy AS DOUBLE) / p.n - CAST(tsy AS DOUBLE) / tn) * " +
            "(CAST(p.sy AS DOUBLE) / p.n - CAST(tsy AS DOUBLE) / tn)")))
        .withColumn("ssw", expr(fold(
          "CAST(p.syy AS DOUBLE) - CAST(p.sy AS DOUBLE) * p.sy / p.n")))
        .select(col("tn").as("n"), col("k"),
          round(expr("ssb / 1e8"), 4).as("ss_between_usd2"),
          round(expr("ssw / 1e8"), 4).as("ss_within_usd2"),
          round(expr("(ssb / (k - 1)) / (ssw / (tn - k))"), 6)
            .as("f_stat"),
          round(expr("ssb / (ssb + ssw)"), 6).as("eta_sq"))
    },

    // KRUSKAL–WALLIS H (the rank-based ANOVA that survives the heavy
    // right tail order totals actually have): global average ranks come
    // from the value-LEVEL histogram — 2·avg_rank = 2·cum_before+cnt+1
    // is an EXACT integer, so per-group rank sums are integer sufficient
    // stats (the q_mann_whitney rank discipline, K groups instead of 2),
    // the tie term Σ(t³−t) reads off the same histogram, and H folds
    // over the ≤|groups| sorted list in one double tree. Scale: corpus →
    // level histogram (map-side) → one broadcast-sized rank join; no
    // row-level sort anywhere.
    "q_kruskal_wallis" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("y"))
      val lvl = d.groupBy("y").agg(count(lit(1)).as("cn"))
      val cum = lvl.withColumn("cb", sum("cn").over(
        Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0))
        - col("cn"))
      val gr = d.groupBy("g", "y").agg(count(lit(1)).as("gn"))
        .join(cum, "y")
        .groupBy("g").agg(
          sum(col("gn") * (lit(2L) * col("cb") + col("cn") + 1L))
            .as("r2"),
          sum("gn").as("n"))
      val ties = lvl.agg(
        sum(col("cn") * col("cn") * col("cn") - col("cn")).as("tsum"))
      val st = gr
        .agg(sum("n").as("tn"),
          sort_array(collect_list(struct(col("g"), col("n"), col("r2"))))
            .as("l"))
        .crossJoin(broadcast(ties))
        .withColumn("srn", expr(
          "aggregate(l, 0D, (a, p) -> a + ((CAST(p.r2 AS DOUBLE) / 2) * " +
            "(CAST(p.r2 AS DOUBLE) / 2) / p.n))"))
        .select(col("tn"), col("tsum"),
          expr("12.0D / (CAST(tn AS DOUBLE) * (tn + 1)) * srn " +
            "- 3.0D * (tn + 1)").as("h_raw"))
      gr.crossJoin(broadcast(st))
        .select(col("g").as("grp"), col("n"),
          round(expr("CAST(r2 AS DOUBLE) / 2"), 1).as("rank_sum"),
          round(col("h_raw"), 6).as("h"),
          round(expr("h_raw / (1.0D - CAST(tsum AS DOUBLE) / " +
            "(CAST(tn AS DOUBLE) * tn * tn - tn))"), 6)
            .as("h_corrected"))
        .orderBy("grp")
    },

    // LEVENE'S TEST, Brown–Forsythe variant (the variance-homogeneity
    // check that decides whether q_anova_f's pooled-variance F is even
    // admissible — deviations from the group MEDIAN, robust where the
    // classic mean-based Levene is not): group medians are exact lower
    // medians by integer rank on the per-group histogram (the q_mcnemar
    // median trick, partitioned), |y−med| stays integer cents, and the
    // deviations feed the identical sufficient-stat ANOVA shape as
    // q_anova_f. Scale: two map-side rollups (histogram, then deviation
    // stats) + broadcast medians; W is ≤|groups|-row scalar algebra.
    "q_levene_test" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("y"))
      val h = d.groupBy("g", "y").agg(count(lit(1)).as("cn"))
      val cum = h
        .withColumn("cum", sum("cn").over(
          Window.partitionBy("g").orderBy("y")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("gn", sum("cn").over(Window.partitionBy("g")))
      val med = cum.filter(col("cum") >= expr("(gn + 1L) div 2L"))
        .groupBy("g").agg(min("y").as("med"))
      val z = d.join(broadcast(med), "g")
        .select(col("g"), abs(col("y") - col("med")).as("z"))
      val gs = z.groupBy("g").agg(count(lit(1)).as("n"),
        sum("z").as("sz"),
        sum(col("z").cast(DecimalType(18, 0)) *
          col("z").cast(DecimalType(18, 0))).as("szz"))
      val st = gs
        .agg(sum("n").as("tn"), sum("sz").as("tsz"),
          count(lit(1)).as("k"),
          sort_array(collect_list(struct(col("g"), col("n"), col("sz"),
            col("szz")))).as("l"))
        .withColumn("ssb", expr(fold(
          "CAST(p.n AS DOUBLE) * " +
            "(CAST(p.sz AS DOUBLE) / p.n - CAST(tsz AS DOUBLE) / tn) * " +
            "(CAST(p.sz AS DOUBLE) / p.n - CAST(tsz AS DOUBLE) / tn)")))
        .withColumn("ssw", expr(fold(
          "CAST(p.szz AS DOUBLE) - CAST(p.sz AS DOUBLE) * p.sz / p.n")))
        .select(col("k"), col("tn"),
          round(expr("(ssb / (k - 1)) / (ssw / (tn - k))"), 6)
            .as("w_stat"))
      gs.join(broadcast(med), "g")
        .crossJoin(broadcast(st))
        .select(col("g").as("grp"), col("n"),
          round(expr("CAST(med AS DOUBLE) / 100"), 2).as("median_usd"),
          round(expr("CAST(sz AS DOUBLE) / n / 100"), 6).as("mad_usd"),
          col("w_stat"))
        .orderBy("grp")
    },

    // WILCOXON SIGNED-RANK (the paired two-period test q_welch_ttest
    // cannot be — same customers, before/after 1998, no normality
    // assumed): pairs = per-customer exact cent totals in each period
    // (both-active customers only, zero diffs dropped per the classic
    // procedure), |diff| ranks come from the level histogram with the
    // integer 2·rank trick (q_kruskal_wallis's), W⁺ is an exact integer
    // sum in 2× units, and the tie-corrected normal z reads from one
    // scalar tree. Scale: one customer rollup → |diff| level histogram;
    // no row sort, no per-pair window.
    "q_wilcoxon_signed_rank" -> { (s, dir) =>
      val p = t(s, dir, "orders").select(
        col("o_custkey").as("c"),
        expr("CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' " +
          "THEN 0L ELSE 1L END").as("half"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("y"))
        .groupBy("c").agg(
          sum(when(col("half") === 0L, col("y")).otherwise(0L)).as("y0"),
          sum(when(col("half") === 1L, col("y")).otherwise(0L)).as("y1"),
          min("half").as("mn"), max("half").as("mx"))
      val d = p.filter(col("mn") === 0L && col("mx") === 1L &&
          col("y1") =!= col("y0"))
        .select(col("c"), (col("y1") - col("y0")).as("diff"))
      val lvl = d.groupBy(abs(col("diff")).as("a"))
        .agg(count(lit(1)).as("cn"))
      val cum = lvl.withColumn("cb", sum("cn").over(
        Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0))
        - col("cn"))
      val w = d.join(cum, abs(col("diff")) === col("a"))
        .agg(sum(when(col("diff") > 0L,
          lit(2L) * col("cb") + col("cn") + 1L).otherwise(0L)).as("w2p"),
          count(lit(1)).as("n"))
      val ties = lvl.agg(
        sum(col("cn") * col("cn") * col("cn") - col("cn")).as("tsum"))
      w.crossJoin(broadcast(ties))
        .select(col("n").as("n_pairs"),
          round(expr("CAST(w2p AS DOUBLE) / 2"), 1).as("w_plus"),
          round(expr("(CAST(n AS DOUBLE) * (n + 1) / 2) - " +
            "CAST(w2p AS DOUBLE) / 2"), 1).as("w_minus"),
          round(expr("(CAST(w2p AS DOUBLE) / 2 - " +
            "CAST(n AS DOUBLE) * (n + 1) / 4) / " +
            "sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24 - " +
            "CAST(tsum AS DOUBLE) / 48)"), 6).as("z"))
    },

    // TWO-GROUP LOG-RANK TEST (Mantel 1966 — "do the two cohorts churn
    // at the same rate", the comparison half of the survival family
    // whose curve halves are q_kaplan_meier / q_nelson_aalen): same
    // duration derivation as q_kaplan_meier (first event → first
    // subsequent purchase, censored at obs end), cohort = user_id
    // parity (a deterministic stand-in for any user split). Risk sets
    // per cohort come from INTEGER window cumsums over the duration-day
    // level table (portable — integer addition is associative); the
    // O−E and variance sums are folds over the duration-SORTED struct
    // list so both engines add identical doubles in identical order,
    // with the n = 1 variance term guarded to 0 (its d(n−d) factor is
    // 0 whenever it is reached — the CASE only dodges the 0/0).
    // Scale: one user rollup → one ≤|distinct durations| level table;
    // the statistic is a single fold, nothing row-level past the
    // rollup.
    "q_logrank_test" -> { (s, dir) =>
      val (risk, tot) = survivalRisk(s, dir)
      val lv = risk
        .filter(col("d0") + col("d1") > 0L)
        .select(col("dur"), (col("d0") + col("d1")).as("d"), col("d1"),
          (col("n0") + col("n1")).as("n"), col("n1"))
      lv.agg(sort_array(collect_list(struct(col("dur"), col("d"),
            col("d1"), col("n"), col("n1")))).as("l"),
          sum("d1").as("o1"))
        .withColumn("e1", expr(fold(
          "CAST(p.d AS DOUBLE) * p.n1 / p.n")))
        .withColumn("v", expr(fold(
          "CASE WHEN p.n > 1 THEN CAST(p.d AS DOUBLE) * " +
            "(CAST(p.n1 AS DOUBLE) / p.n) * " +
            "(1.0D - CAST(p.n1 AS DOUBLE) / p.n) * " +
            "(p.n - p.d) / (p.n - 1) ELSE 0.0D END")))
        .crossJoin(broadcast(tot))
        .select(col("tn0").as("n_g0"), col("tn1").as("n_g1"),
          col("o1").as("observed_1"),
          round(col("e1"), 6).as("expected_1"),
          round(expr("(CAST(o1 AS DOUBLE) - e1) / sqrt(v)"), 6).as("z"),
          round(expr("(CAST(o1 AS DOUBLE) - e1) * (o1 - e1) / v"), 6)
            .as("chi_sq"))
    },

    // FRIEDMAN TEST (Friedman 1937 — the within-block rank test for K
    // treatments, the paired generalization q_wilcoxon_signed_rank is
    // the K = 2 special case of): blocks = order years, treatments =
    // order priorities, cell = the block×treatment total in exact cents
    // (BIGINT — ranking a float mean across engines would sit on the
    // rounding boundary; an integer total never does). Within-block
    // average ranks use the 2·rank histogram trick (q_kruskal_wallis's,
    // partitioned by block) so every rank is an exact integer in 2×
    // units; the tie-robust Conover form Q = (k−1)·Σ(R2_j − n(k+1))² /
    // (Σr2² − nk(k+1)²) then divides ONE exact integer by another —
    // the only float op is the final division. Incomplete blocks are
    // dropped (classic complete-block design). Scale: corpus → ≤
    // years×priorities cell grid in one rollup; everything after is
    // algebra on ≤ 35 rows.
    "q_friedman_test" -> { (s, dir) =>
      val cell = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast(LongType).as("b"),
          col("o_orderpriority").as("trt"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("y"))
      val kk = cell.agg(countDistinct("trt").as("k"))
      val blk = cell.crossJoin(broadcast(kk)).groupBy("b", "k")
        .agg(count(lit(1)).as("nc")).filter(col("nc") === col("k"))
        .select("b")
      val c2 = cell.join(broadcast(blk), "b")
      val lvl = c2.groupBy("b", "y").agg(count(lit(1)).as("cn"))
      val cum = lvl.withColumn("cb", sum("cn").over(
        Window.partitionBy("b").orderBy("y")
          .rowsBetween(Window.unboundedPreceding, 0)) - col("cn"))
      val rr = c2.join(cum, Seq("b", "y"))
        .select(col("b"), col("trt"),
          (lit(2L) * col("cb") + col("cn") + 1L).as("r2"))
      val pt = rr.groupBy("trt").agg(sum("r2").as("rs2"))
      val s4 = rr.agg(sum(col("r2") * col("r2")).as("s4"))
      val tot = rr.agg(countDistinct("b").as("nb"),
        countDistinct("trt").as("k"))
      val a = pt.crossJoin(broadcast(tot))
        .agg(sum((col("rs2") - col("nb") * (col("k") + 1L)) *
          (col("rs2") - col("nb") * (col("k") + 1L))).as("a2"))
      val st = tot.crossJoin(broadcast(a)).crossJoin(broadcast(s4))
        .select(col("nb"), col("k"),
          expr("(CAST(k - 1 AS DOUBLE) * a2) / " +
            "(s4 - nb * k * (k + 1) * (k + 1))").as("q0"))
      pt.crossJoin(broadcast(st))
        .select(col("trt"), col("nb").as("n_blocks"),
          col("k").as("k_treatments"),
          round(expr("CAST(rs2 AS DOUBLE) / 2"), 1).as("rank_sum"),
          round(col("q0"), 6).as("q_stat"))
        .orderBy("trt")
    },

    // CONNECTED COMPONENTS by min-label propagation WITH pointer
    // jumping (Kiveris et al. 2014 "Connected Components in MapReduce"
    // — each round every node takes the min label over itself + its
    // neighbors, then labels COMPRESS by one join through themselves,
    // so convergence is O(log diameter) supersteps, not O(diameter)):
    // the graph is the supplier–part bipartite week (who supplied what
    // in the first week of 1995-03) — sparse by construction, hundreds
    // of small components (the co-purchase graph is one giant blob; a
    // CC query needs real components to say anything). The rounds are
    // [[Iterate.minLabelJump]]: one task runs all 8 in memory (the DuckDB
    // oracle spells the same rounds as MATERIALIZED CTEs). 8 jump rounds
    // cover diameter ~2⁸; fixpoint-vs-brute-union-find is asserted in
    // OperatorSpec. Scale: the edges are built distributed; the rounds
    // run in one task that holds the edges plus one label per node.
    "q_connected_components" -> { (s, dir) =>
      val e0 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1995-03-01 00:00:00") &&
          col("l_shipdate") < ts("1995-03-08 00:00:00"))
        .select(concat(lit("s"), col("l_suppkey")).as("w1"),
          concat(lit("p"), col("l_partkey")).as("w2")).distinct()
      val und = e0.union(
        e0.select(col("w2").as("w1"), col("w1").as("w2"))).distinct()
        .localCheckpoint(true)
      // The sf0.1 graph reaches its fixpoint only at round 7 of 8 (DuckDB
      // trace: 838/877/21/41/2/6/0/0 changed labels per round), so the
      // fixed 8 rounds stay; an early exit would save at most one round.
      val lbl = Iterate.minLabelJump(und, und.select(col("w1").as("w"))
        .distinct().select(col("w"), col("w").as("comp")), 8)
      val sz = lbl.groupBy("comp").agg(count(lit(1)).as("comp_size"))
      lbl.join(sz, "comp")
        .select(col("w").as("node"), col("comp"), col("comp_size"))
        .orderBy("node")
    },

    // COCHRAN'S Q TEST (Cochran 1950 — the K-treatment paired test for
    // BINARY outcomes, completing the matched-design bench: Wilcoxon
    // handles paired continuous, Friedman paired ranks, McNemar is the
    // K = 2 case of THIS): blocks = customers, treatments = the years
    // 1995–1997, x = "placed an order that year". Constant blocks
    // (all-0 / all-3) are dropped — they carry no discrimination and
    // their removal is the textbook procedure. EVERYTHING is integer
    // until the final division: column totals G_j, row-total sufficient
    // stats ΣL and ΣL², Q = (k−1)(kΣG² − (ΣG)²) / (kΣL − ΣL²). Scale:
    // one customer rollup (conditional max per year), one 1-row agg;
    // the per-year readout is a 3-row stack.
    "q_cochran_q" -> { (s, dir) =>
      val blk = t(s, dir, "orders").groupBy(col("o_custkey").as("c"))
        .agg(
          max(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L))
            .as("x95"),
          max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
            .as("x96"),
          max(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L))
            .as("x97"))
        .withColumn("li", col("x95") + col("x96") + col("x97"))
        .filter(col("li").isin(1L, 2L))
      blk.agg(sum("x95").as("g95"), sum("x96").as("g96"),
          sum("x97").as("g97"), count(lit(1)).as("nb"),
          sum("li").as("sl"), sum(col("li") * col("li")).as("sll"))
        .withColumn("q0", expr(
          "(2.0D * (3 * (g95*g95 + g96*g96 + g97*g97) - " +
            "(g95+g96+g97) * (g95+g96+g97))) / (3 * sl - sll)"))
        .select(expr("stack(3, 1995L, g95, 1996L, g96, 1997L, g97) " +
            "AS (yr, n_active)"),
          col("nb").as("n_blocks"), round(col("q0"), 6).as("q_stat"))
        .select("yr", "n_active", "n_blocks", "q_stat")
        .orderBy("yr")
    },

    // GRUBBS' OUTLIER TEST (Grubbs 1950 — "is the most extreme point
    // statistically an outlier", the inferential sibling of
    // q_outlier_iqr's fences and q_anomaly_zscore's flags): the
    // extreme point is chosen by maximizing |n·y − Σy| — an EXACT
    // integer, so the argmax can never land differently across engines
    // the way |y − ȳ| in floats could; G = |y* − ȳ|/s reads off the
    // (n, Σy, Σy²) sufficient stats in one scalar tree. Ties break to
    // the smaller value under the total order. Scale: one map-side
    // stats rollup + one top-1 under a total order (TakeOrdered, no
    // full sort); nothing else touches the corpus.
    "q_grubbs_test" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(
        (money(col("o_totalprice")) * 100).cast(LongType).as("y"))
      val st = d.agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y").cast(DecimalType(18, 0)) *
          col("y").cast(DecimalType(18, 0))).as("syy"))
      d.crossJoin(broadcast(st))
        .withColumn("ad", abs(col("n") * col("y") - col("s")))
        .orderBy(col("ad").desc, col("y").asc).limit(1)
        .select(col("n"),
          round(expr("CAST(y AS DOUBLE) / 100"), 2).as("outlier_usd"),
          round(expr("CAST(s AS DOUBLE) / n / 100"), 6).as("mean_usd"),
          round(expr("sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1))) " +
            "/ 100"), 6).as("sd_usd"),
          round(expr("(CAST(ad AS DOUBLE) / n) / " +
            "sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)))"),
            6).as("g_stat"))
    },

    // TIME-SPINE GAP FILL with linear interpolation (the warehouse
    // gap-fill/date-spine feature — Snowflake GAP_FILL, Timescale
    // time_bucket_gapfill — a sparse series becomes a dense one a
    // downstream join or window can trust): the series is the TOP
    // customer's daily order total (deterministic argmax by count
    // DESC, key ASC — a naturally SPARSE series at every SF, so the
    // interpolation path is actually exercised); spine = every day
    // between the first and last observation, missing days filled by
    // LOCF + next-observation windows (IGNORE NULLS — one forward and
    // one backward window pass, no per-gap join) and the linear blend
    // (py·(nd−d) + ny·(d−pd))/(nd−pd) in EXACT integer cents, rounded
    // half-up as (2·num + den) div (2·den) — both engines walk the same
    // positive BIGINTs (a double blend rounded differently across them,
    // by one cent at sf0.1). Edges can't dangle: the spine is clamped
    // to known endpoints. Scale: the spine is per-ENTITY (bounded by
    // the entity's span); at corpus scale the same two windows run
    // partitioned by entity key — nothing here is corpus-wide except
    // the one rollup.
    "q_gap_fill" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val top = o.groupBy(col("o_custkey").as("c"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("c").asc).limit(1).select("c")
      val known = o.join(broadcast(top), col("o_custkey") === col("c"))
        .groupBy(expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
          "DATE '1992-01-01') AS BIGINT)").as("d"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("y"))
      val bounds = known.agg(min("d").as("d0"), max("d").as("d1"))
      val spine = bounds
        .select(explode(expr("sequence(d0, d1)")).as("d"))
      val j = spine.join(known, Seq("d"), "left")
      val wb = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wf = Window.orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
      j.withColumn("py", last(col("y"), ignoreNulls = true).over(wb))
        .withColumn("pd", last(when(col("y").isNotNull, col("d")),
          ignoreNulls = true).over(wb))
        .withColumn("ny", first(col("y"), ignoreNulls = true).over(wf))
        .withColumn("nd", first(when(col("y").isNotNull, col("d")),
          ignoreNulls = true).over(wf))
        .select(col("d").as("day_index"),
          round(expr("CASE WHEN y IS NOT NULL THEN CAST(y AS DOUBLE) " +
            "ELSE CAST((2L * (py * (nd - d) + ny * (d - pd)) + (nd - pd)) " +
            "div (2L * (nd - pd)) AS DOUBLE) END / 100"), 2)
            .as("value_usd"),
          when(col("y").isNotNull, lit("actual"))
            .otherwise(lit("interpolated")).as("status"))
        .orderBy("day_index")
    },

    // HMM VITERBI DECODE, 8-step unrolled (Viterbi 1967 / Rabiner 1989
    // — per-sequence max-product state labeling, the sequence-model
    // counterpart of q_markov_transitions' parameter estimation): a
    // declared 2-state browse/buy HMM (constant transition/emission
    // tables — ln() of literals, the identical IEEE tree both engines)
    // decodes each user's first 8 events (ts, event_id total order).
    // Per step both new state values reference both old values, so
    // each of the 8 unrolled steps is localCheckpoint'd on the
    // bounded per-user frame (the q_kcore discipline — constant plan,
    // and the decode is EMBARRASSINGLY parallel: one row per user, no
    // shuffle after the rollup; at 100 TB this is the map-only shape
    // sequence labeling wants). Path strings carry the argmax
    // backpointers forward (ties prefer browse), final state by
    // GREATEST.
    "q_viterbi_decode" -> { (s, dir) =>
      def emit(state: Int, obs: String): String = {
        val t = if (state == 0)
          Seq("view" -> "0.3", "click" -> "0.3", "signup" -> "0.2",
            "error" -> "0.15", "purchase" -> "0.05")
        else
          Seq("purchase" -> "0.45", "click" -> "0.2", "view" -> "0.15",
            "signup" -> "0.05", "error" -> "0.15")
        "CASE " + t.map { case (k, v) =>
          s"WHEN $obs = '$k' THEN ln(${v}D)"
        }.mkString(" ") + " ELSE ln(0.01D) END"
      }
      var df = t(s, dir, "events")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))).as("l"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 8L)
        .select(col("user_id"),
          expr("transform(slice(l, 1, 8), x -> x.event_type)").as("obs"))
        .withColumn("v0",
          expr(s"ln(0.5D) + (${emit(0, "element_at(obs, 1)")})"))
        .withColumn("v1",
          expr(s"ln(0.5D) + (${emit(1, "element_at(obs, 1)")})"))
        .withColumn("p0", lit("0")).withColumn("p1", lit("1"))
        .localCheckpoint(true)
      (2 to 8).foreach { i =>
        df = df.select(col("user_id"), col("obs"),
          expr("greatest(v0 + ln(0.8D), v1 + ln(0.4D)) + " +
            s"(${emit(0, s"element_at(obs, $i)")})").as("nv0"),
          expr("greatest(v0 + ln(0.2D), v1 + ln(0.6D)) + " +
            s"(${emit(1, s"element_at(obs, $i)")})").as("nv1"),
          expr("concat(CASE WHEN v0 + ln(0.8D) >= v1 + ln(0.4D) " +
            "THEN p0 ELSE p1 END, '0')").as("np0"),
          expr("concat(CASE WHEN v0 + ln(0.2D) >= v1 + ln(0.6D) " +
            "THEN p0 ELSE p1 END, '1')").as("np1"))
          .withColumnRenamed("nv0", "v0").withColumnRenamed("nv1", "v1")
          .withColumnRenamed("np0", "p0").withColumnRenamed("np1", "p1")
          .localCheckpoint(true)
      }
      df.select(col("user_id"),
          expr("CASE WHEN v0 >= v1 THEN p0 ELSE p1 END")
            .as("state_path"),
          expr("CAST(length(CASE WHEN v0 >= v1 THEN p0 ELSE p1 END) - " +
            "length(replace(CASE WHEN v0 >= v1 THEN p0 ELSE p1 END, " +
            "'1', '')) AS BIGINT)").as("n_buy_steps"),
          round(greatest(col("v0"), col("v1")), 6).as("logp"))
        .orderBy("user_id")
    },

    // COX PROPORTIONAL-HAZARDS REGRESSION, binary covariate, Breslow
    // ties, 4 Newton–Raphson steps unrolled (Cox 1972 — the MODEL the
    // survival family was missing: q_kaplan_meier/q_nelson_aalen draw
    // the curves, q_logrank_test decides "different?", this one says
    // BY HOW MUCH as a hazard ratio with a standard error): shares
    // [[survivalRisk]] with q_logrank_test verbatim, so the test and
    // the model read the SAME risk sets. With x ∈ {0,1} the partial-
    // likelihood score and information collapse to folds over the
    // event-time level list — U(β) = Σd₁ − Σ d·n₁e^β/(n₀+n₁e^β),
    // I(β) = Σ d·n₀n₁e^β/(n₀+n₁e^β)² — so each Newton step is two
    // folds over the duration-SORTED struct list on a ONE-ROW frame,
    // localCheckpoint'd per step (both folds reference β — the
    // q_greedy_decode lesson). β* solves U = 0 exactly at the
    // fixpoint; se = I(β*)^(-1/2), z = β*/se. Scale: the corpus work
    // is survivalRisk's one rollup; four steps touch one row.
    "q_cox_regression" -> { (s, dir) =>
      val (risk, tot) = survivalRisk(s, dir)
      val lv = risk.filter(col("d0") + col("d1") > 0L)
        .select(col("dur"), (col("d0") + col("d1")).as("d"), col("d1"),
          col("n0"), col("n1"))
      def foldU = "aggregate(l, 0D, (a, p) -> a + " +
        "(CAST(p.d AS DOUBLE) * p.n1 * exp(beta) / " +
        "(p.n0 + p.n1 * exp(beta))))"
      def foldI = "aggregate(l, 0D, (a, p) -> a + " +
        "(CAST(p.d AS DOUBLE) * p.n0 * p.n1 * exp(beta) / " +
        "((p.n0 + p.n1 * exp(beta)) * (p.n0 + p.n1 * exp(beta)))))"
      var st = lv.agg(sort_array(collect_list(struct(col("dur"),
          col("d"), col("d1"), col("n0"), col("n1")))).as("l"),
          sum("d1").as("sd1"))
        .withColumn("beta", lit(0.0d))
        .localCheckpoint(true)
      (1 to 4).foreach { _ =>
        st = st.withColumn("beta",
          expr(s"beta + (CAST(sd1 AS DOUBLE) - $foldU) / ($foldI)"))
          .localCheckpoint(true)
      }
      st.withColumn("ifin", expr(foldI))
        .crossJoin(broadcast(tot))
        .select(col("tn0").as("n_g0"), col("tn1").as("n_g1"),
          col("sd1").as("events_g1"),
          round(col("beta"), 6).as("beta"),
          round(exp(col("beta")), 6).as("hazard_ratio"),
          round(expr("1.0D / sqrt(ifin)"), 6).as("se"),
          round(expr("beta / (1.0D / sqrt(ifin))"), 6).as("z"))
    },

    // SAX SYMBOLIZATION (Lin & Keogh 2003 — Piecewise Aggregate
    // Approximation + fixed-breakpoint alphabet, the indexable symbolic
    // form a 100 TB time-series store actually searches): the monthly
    // revenue series z-normalizes against EXACT global sufficient
    // stats (Σy BIGINT, Σy² through DECIMAL(28) — a month total's
    // square overflows BIGINT at sf ≥ 1), PAA segments by the
    // any-length rule segment = ⌊r·8/n⌋ (integer — no float boundary
    // decides membership), per-segment means from exact integer sums,
    // symbols by the standard 4-letter Gaussian breakpoints ±0.6745/0.
    // Scale: one rollup to months, one 1-row stats agg; the symbol
    // table is 8 rows. Per-entity SAX at corpus scale is the same
    // plan partitioned by entity key.
    "q_sax_symbols" -> { (s, dir) =>
      val ser = t(s, dir, "orders")
        .groupBy(expr("CAST((year(o_orderdate) - 1992) * 12 + " +
          "month(o_orderdate) - 1 AS BIGINT)").as("m"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("y"))
      val idx = ser
        .withColumn("r",
          (row_number().over(Window.orderBy("m")) - 1).cast(LongType))
      val st = idx.agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y").cast(DecimalType(28, 0)) *
          col("y").cast(DecimalType(28, 0))).as("syy"))
      idx.crossJoin(broadcast(st))
        .groupBy(expr("(r * 8) div n").as("segment"))
        .agg(count(lit(1)).as("n_points"), sum("y").as("sy"),
          max("n").as("n"), max("s").as("s"), max("syy").as("syy"))
        .withColumn("z", expr(
          "(CAST(sy AS DOUBLE) / n_points - CAST(s AS DOUBLE) / n) / " +
            "sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n))"))
        .select(col("segment"), col("n_points"),
          round(col("z"), 6).as("z_paa"),
          expr("CASE WHEN z < -0.6745D THEN 'a' WHEN z < 0D THEN 'b' " +
            "WHEN z < 0.6745D THEN 'c' ELSE 'd' END").as("symbol"))
        .orderBy("segment")
    },

    // MATRIX PROFILE (Yeh & Keogh 2016 — every subsequence's nearest-
    // neighbor distance, THE time-series primitive: motifs are the
    // profile's minima, discords its maxima): window m = 6 over the
    // monthly revenue series, z-normalized Euclidean distance, trivial
    // matches excluded by |i−j| ≥ m. Per-subsequence μ/σ derive from
    // ordered folds over the one broadcast-sized series array; the
    // pair table is a bounded |subs|² nested-loop join (the
    // q_mmr_rerank K² shape — 75² here, NEVER corpus-sized: the
    // series is an aggregate of the corpus, and per-entity profiles
    // at 100 TB partition by entity before this same bounded kernel).
    // Nearest neighbor per i under (dist ASC, j ASC).
    "q_matrix_profile" -> { (s, dir) =>
      val ser = t(s, dir, "orders")
        .groupBy(expr("CAST((year(o_orderdate) - 1992) * 12 + " +
          "month(o_orderdate) - 1 AS BIGINT)").as("m"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("y"))
      val arr = ser
        .agg(sort_array(collect_list(struct(col("m"), col("y")))).as("l"))
        .select(expr("transform(l, p -> CAST(p.y AS DOUBLE))").as("ys"),
          expr("CAST(size(l) AS BIGINT)").as("n"))
      val subs = arr
        .select(col("ys"), col("n"),
          explode(expr("sequence(0L, n - 6)")).as("i"))
        .withColumn("ssum", expr("aggregate(sequence(1, 6), 0D, " +
          "(a, k) -> a + element_at(ys, CAST(i + k AS INT)))"))
        .withColumn("ssq", expr("aggregate(sequence(1, 6), 0D, " +
          "(a, k) -> a + element_at(ys, CAST(i + k AS INT)) * " +
          "element_at(ys, CAST(i + k AS INT)))"))
        .withColumn("mu", expr("ssum / 6"))
        .withColumn("sig", expr("sqrt(ssq / 6 - (ssum / 6) * (ssum / 6))"))
        .select("i", "ys", "mu", "sig")
        .localCheckpoint(true)
      val a = subs.select(col("i").as("ai"), col("ys").as("ays"),
        col("mu").as("amu"), col("sig").as("asig"))
      val b = subs.select(col("i").as("bi"), col("ys").as("bys"),
        col("mu").as("bmu"), col("sig").as("bsig"))
      a.join(b, abs(col("ai") - col("bi")) >= 6L)
        .withColumn("d", expr("sqrt(aggregate(sequence(1, 6), 0D, " +
          "(x, k) -> x + " +
          "((element_at(ays, CAST(ai + k AS INT)) - amu) / asig - " +
          " (element_at(bys, CAST(bi + k AS INT)) - bmu) / bsig) * " +
          "((element_at(ays, CAST(ai + k AS INT)) - amu) / asig - " +
          " (element_at(bys, CAST(bi + k AS INT)) - bmu) / bsig)))"))
        .withColumn("rn", row_number().over(Window.partitionBy("ai")
          .orderBy(col("d").asc, col("bi").asc)))
        .filter(col("rn") === 1)
        .select(col("ai").as("idx"), col("bi").as("nn_idx"),
          round(col("d"), 6).as("nn_dist"))
        .orderBy("idx")
    },

    // ECOD OUTLIER SCORES (Li et al. 2022 — unsupervised outlier
    // detection from per-feature ECDF tail probabilities: no
    // parameters, no distance metric, embarrassingly parallel — the
    // reason it's the go-to first screen at corpus scale): features =
    // (total price, order-date day index); per-feature ECDFs come from
    // INTEGER cumsums over the value-level histograms (exact — no
    // float rank), each row scores −Σ ln(two-sided tail) via two level
    // joins, top-10 under (score DESC, key ASC). The declared variant
    // uses the symmetric tail min(F, 1−F+1/n) per feature. Scale: two
    // level rollups + two equi-joins back — never a sort of the
    // corpus; the top-10 is TakeOrdered.
    "q_ecod_outliers" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("y1"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
          "DATE '1992-01-01') AS BIGINT)").as("y2"))
      val n = d.agg(count(lit(1)).as("n"))
      def cum(c: String): DataFrame =
        d.groupBy(col(c).as("v")).agg(count(lit(1)).as("cn"))
          .withColumn("le", sum("cn").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("v"), col("le"))
      val c1 = cum("y1").select(col("v").as("y1"), col("le").as("le1"))
      val c2 = cum("y2").select(col("v").as("y2"), col("le").as("le2"))
      d.join(c1, "y1").join(c2, "y2").crossJoin(broadcast(n))
        .withColumn("score", expr(
          "-ln(least(CAST(le1 AS DOUBLE) / n, " +
            "1.0D - CAST(le1 AS DOUBLE) / n + 1.0D / n)) " +
            "- ln(least(CAST(le2 AS DOUBLE) / n, " +
            "1.0D - CAST(le2 AS DOUBLE) / n + 1.0D / n))"))
        .orderBy(col("score").desc, col("k").asc).limit(10)
        .select(col("k").as("o_orderkey"),
          round(expr("CAST(y1 AS DOUBLE) / 100"), 2)
            .as("totalprice_usd"),
          col("y2").as("day_index"),
          round(col("score"), 6).as("ecod_score"))
    },

    // IPF RAKING (Deming & Stephan 1940 — iterative proportional
    // fitting of a contingency table to target margins, the survey /
    // panel-weighting workhorse): the segment × region customer grid
    // rakes to uniform margins (tot/5 each) in 4 row+column rounds.
    // The ENTIRE state is one row holding the 25-cell grid as a
    // (seg, reg)-sorted struct list; every margin sum is an ordered
    // fold over that list (masked by CASE — adding 0.0 terms leaves
    // IEEE sums unchanged), so both engines scale identical doubles
    // in identical order. r19: the 8 half-steps run as ONE fold over
    // sequence(1,8) — the list is a lambda VARIABLE inside the step
    // body (transform + margin fold reference it with no textual
    // duplication, which is all the per-half-step checkpoints ever
    // guarded against — 9 eager jobs for constant scalar work), and
    // the alternating seg/reg key is picked by step parity. Scale:
    // corpus → 25-cell rollup is the only big work; raking itself is
    // O(cells²·rounds) driver-free scalar algebra — the same shape at
    // ANY corpus size.
    "q_ipf_raking" -> { (s, dir) =>
      val cnt = t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("r_name").as("reg"))
        .agg(count(lit(1)).as("n"))
      val rake =
        """aggregate(sequence(1, 8), l, (lst, r) -> transform(lst, p ->
          |  named_struct('seg', p.seg, 'reg', p.reg, 'n', p.n,
          |    'w', p.w * (CAST(tot AS DOUBLE) / 5) /
          |      aggregate(lst, 0D, (a, q) -> a +
          |        (CASE WHEN (r % 2 = 1 AND q.seg = p.seg)
          |           OR (r % 2 = 0 AND q.reg = p.reg) THEN q.w
          |         ELSE 0.0D END)))))""".stripMargin
      cnt
        .agg(sort_array(collect_list(struct(col("seg"), col("reg"),
            col("n"), col("n").cast(DoubleType).as("w")))).as("l"),
          sum("n").as("tot"))
        .select(explode(expr(rake)).as("p"))
        .select(col("p.seg").as("segment"), col("p.reg").as("region"),
          col("p.n").as("n_raw"), round(col("p.w"), 6).as("weight"),
          round(expr("p.w / p.n"), 6).as("rake_factor"))
        .orderBy("segment", "region")
    },

    // GRID DBSCAN (the scalable form of density clustering — Xu 1999
    // GDBSCAN / the cell-based variant every distributed DBSCAN uses:
    // points collapse to GRID CELLS first, so density and connectivity
    // are decided on a bounded cell table, never point-to-point):
    // customers in (account balance, lifetime spend) space, integer
    // floor-div cells via pmod (Spark `div` truncates, DuckDB `//`
    // floors — (x − pmod(x,W)) div W floors in BOTH), dense = ≥ 4
    // points, clusters = connected components of dense cells under
    // 8-neighborhood — neighbor edges by the 9-OFFSET EQUI-join
    // (explode 8 offsets, join on shifted coords; the scale-correct
    // shape — no nested-loop over cells), then the q_connected_
    // components pointer-jump kernel (8 rounds in one task). Sparse
    // cells are reported as noise mass. Scale: one point rollup; all
    // clustering on the ≤|cells| frame.
    "q_dbscan_grid" -> { (s, dir) =>
      val spent = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("sp"))
      val pts = t(s, dir, "customer")
        .join(spent, col("c_custkey") === col("o_custkey"), "left")
        .select((money(col("c_acctbal")) * 100).cast(LongType).as("x"),
          coalesce(col("sp"), lit(0L)).as("y"))
      val cells = pts.groupBy(
          expr("(x - pmod(x, 100000L)) div 100000L").as("cx"),
          expr("(y - pmod(y, 20000000L)) div 20000000L").as("cy"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val dense = cells.filter(col("n") >= 4L)
        .withColumn("w", concat(col("cx"), lit(":"), col("cy")))
        .localCheckpoint(true)
      val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
        (1, -1), (1, 0), (1, 1))
        .map { case (dx, dy) => s"struct(${dx}L as dx, ${dy}L as dy)" }
        .mkString(", ")
      val und = dense.select(col("w"),
          explode(expr(s"array($offs)")).as("o"),
          col("cx"), col("cy"))
        .select(col("w").as("w1"), (col("cx") + col("o.dx")).as("nx"),
          (col("cy") + col("o.dy")).as("ny"))
        .join(dense.select(col("cx").as("nx"), col("cy").as("ny"),
          col("w").as("w2")), Seq("nx", "ny"))
        .select("w1", "w2")
      // Fixpoint early-exit is NOT applicable here — the sf0.1 cell
      // chain has diameter right at the 2⁸ horizon (DuckDB trace: labels
      // still changing at round 8), so the declared output IS the 8-round
      // trajectory, not the components.
      val lbl = Iterate.minLabelJump(und,
        dense.select(col("w"), col("w").as("comp")), 8)
      val sz = lbl.groupBy("comp").agg(count(lit(1)).as("n_cells"))
      val noise = cells.filter(col("n") < 4L)
        .agg(coalesce(sum("n"), lit(0L)).as("n_noise_points"))
      dense.join(lbl, "w").join(sz, "comp")
        .crossJoin(broadcast(noise))
        .select(col("cx").as("cell_x"), col("cy").as("cell_y"),
          col("n").as("n_points"), col("comp").as("cluster_id"),
          col("n_cells").as("cluster_cells"), col("n_noise_points"))
        .orderBy("cell_x", "cell_y")
    },

    // MUTUAL-INFORMATION FEATURE RANKING (the filter-method feature
    // screen — I(F;Y) = Σ p(v,y) ln(p(v,y)/(p(v)p(y))) per candidate
    // feature against the returned-flag label; what a training-data
    // pipeline runs before fitting q_logistic_newton to pick WHICH
    // column to fit): 4 categorical features fan out by one stack
    // (the q_column_profile Expand shape), contingency cells and all
    // three marginals are INTEGER groupBy sums (shuffle-order-safe),
    // and each feature's MI is ONE ordered fold over its (v,y)-sorted
    // cell list — the q_token_entropy float rule; `+ 0.0D` washes the
    // -0.0 a cancelling near-independent feature can round to. Scale:
    // one Expand pass + three tiny integer rollups; the fold runs on
    // ≤|distinct v|·2 cells per feature, independent of corpus size.
    "q_mutual_info" -> { (s, dir) =>
      val cells = t(s, dir, "lineitem")
        .select(expr(
          """stack(4,
            |  'linestatus', l_linestatus,
            |  'ship_month', CAST(month(l_shipdate) AS STRING),
            |  'discount_cents', CAST(CAST(CAST(l_discount AS DECIMAL(6,2))
            |    * 100 AS BIGINT) AS STRING),
            |  'tax_cents', CAST(CAST(CAST(l_tax AS DECIMAL(6,2))
            |    * 100 AS BIGINT) AS STRING)) AS (f, v)""".stripMargin),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("f", "v", "y").agg(count(lit(1)).as("n"))
      val nv = cells.groupBy("f", "v").agg(sum("n").as("nv"))
      val ny = cells.groupBy("f", "y").agg(sum("n").as("ny"))
      val nn = cells.groupBy("f").agg(sum("n").as("nn"))
      cells.join(nv, Seq("f", "v")).join(ny, Seq("f", "y"))
        .join(nn, Seq("f"))
        .groupBy("f")
        .agg(countDistinct("v").as("n_values"),
          count(lit(1)).as("n_cells"),
          sort_array(collect_list(struct(col("v"), col("y"), col("n"),
            col("nv"), col("ny"), col("nn")))).as("l"))
        .select(col("f").as("feature"), col("n_values"), col("n_cells"),
          expr(
            """round(aggregate(l, 0D, (a, p) -> a +
              |  (CAST(p.n AS DOUBLE) / CAST(p.nn AS DOUBLE)) *
              |  ln((CAST(p.n AS DOUBLE) * CAST(p.nn AS DOUBLE)) /
              |     (CAST(p.nv AS DOUBLE) * CAST(p.ny AS DOUBLE)))),
              |  6) + 0.0D""".stripMargin).as("mi_nats"))
        .orderBy(col("mi_nats").desc, col("feature"))
    },

    // DYNAMIC TIME WARPING (Sakoe & Chiba 1978 — elastic alignment
    // distance between two series, THE shape-similarity measure SAX
    // (E180) indexes for and the matrix profile (E181) normalizes
    // away; here with the Sakoe-Chiba band |i−j| ≤ 3 that makes
    // real-world DTW linear): 1995-vs-1996 monthly revenue in EXACT
    // BIGINT cents, so the whole DP is integer arithmetic — bit-equal
    // across engines by construction, no float rule needed. The corpus
    // collapses to two 12-point series in one rollup; the banded DP
    // runs as ONE row-major aggregate() fold (r19 — the
    // q_smith_waterman shape; the 12 checkpointed row-frames it
    // replaces cost 13 eager jobs for constant-size scalar work).
    // Readout
    // compares against the lockstep Σ|aᵢ−bᵢ| distance — DTW ≤ lockstep
    // always; the ratio is the elasticity win. Scale: one map-side
    // rollup; the DP is constant work at ANY corpus size (longer
    // series: the same generator emits O(n·band) cells).
    "q_dtw" -> { (s, dir) =>
      val v = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("m"))
        .agg(sum((money(col("o_totalprice")) * 100).cast(LongType))
          .as("v"))
      val st = v.agg(
          map_from_entries(sort_array(collect_list(
            when(col("yr") === 1995L, struct(col("m"), col("v"))))))
            .as("ma"),
          map_from_entries(sort_array(collect_list(
            when(col("yr") === 1996L, struct(col("m"), col("v"))))))
            .as("mb"))
        .select(
          expr("transform(sequence(1L, 12L), " +
            "m -> coalesce(element_at(ma, m), 0L))").as("a"),
          expr("transform(sequence(1L, 12L), " +
            "m -> coalesce(element_at(mb, m), 0L))").as("b"),
          expr("CAST(cardinality(ma) AS BIGINT)").as("n_a"),
          expr("CAST(cardinality(mb) AS BIGINT)").as("n_b"))
        .withColumn("lock", expr(
          "aggregate(transform(sequence(1, 12), " +
            "i -> abs(element_at(a, i) - element_at(b, i))), 0L, " +
            "(s, p) -> s + p)"))
      // The banded DP as ONE row-major fold over a flat 12×12 accumulator
      // (the q_smith_waterman r19 shape): out-of-band cells hold a
      // sentinel that least() can never pick (every in-band non-origin
      // cell has ≥1 in-band neighbor, and real path costs are ≤ ~1.2e11
      // cents ≪ the 4e18 sentinel), so the recurrence selects exactly the
      // in-band terms the 12 unrolled row-frames did — identical integers,
      // none of the 13 eager checkpoints. dtwRowExprs remains the DuckDB
      // oracle's text.
      val inf = "4000000000000000000L"
      val dp =
        s"""aggregate(sequence(1, 12), CAST(array() AS ARRAY<BIGINT>),
           |  (al, i) -> aggregate(sequence(1, 12), al, (r, j) ->
           |    array_append(r,
           |      CASE WHEN abs(i - j) > 3 THEN $inf
           |        WHEN i = 1 AND j = 1
           |          THEN abs(element_at(a, i) - element_at(b, j))
           |        ELSE abs(element_at(a, i) - element_at(b, j)) + least(
           |          CASE WHEN i > 1 THEN element_at(r, (i - 2) * 12 + j)
           |            ELSE $inf END,
           |          CASE WHEN i > 1 AND j > 1
           |            THEN element_at(r, (i - 2) * 12 + j - 1)
           |            ELSE $inf END,
           |          CASE WHEN j > 1 THEN element_at(r, size(r))
           |            ELSE $inf END)
           |      END)))""".stripMargin
      st.withColumn("d12_12", expr(s"element_at($dp, 144)"))
        .select(col("n_a").as("n_months_a"), col("n_b").as("n_months_b"),
          col("lock").as("lockstep_cents"), col("d12_12").as("dtw_cents"),
          round(expr("CAST(d12_12 AS DOUBLE) / CAST(lock AS DOUBLE)"), 6)
            .as("dtw_ratio"))
    },

    // INVERSE-PROPENSITY-WEIGHTED ATE (Horvitz-Thompson / the IPW
    // estimator every observational A/B readout needs when treatment
    // wasn't randomized — completing the causal bench beside q_cuped's
    // variance reduction and q_did_estimator's parallel trends):
    // treatment = urgent/high order priority, outcome = order value,
    // confounder = order month. Propensity e(x) is the SAME 3-step
    // Newton logistic as q_logistic_newton — and because the
    // confounder is integral, the ENTIRE estimator reads off the
    // ≤12-row (x, n, k, Σy_t, Σy_c) histogram: weighted sums
    // Σ T·Y/e(x) collapse to per-cell closed forms, so IPW costs ONE
    // corpus rollup at any scale. Naive difference-in-means reported
    // beside the weighted estimate — the gap IS the confounding. All
    // folds x-ordered (q_token_entropy float rule), outcomes in exact
    // BIGINT cents until the readout divisions.
    "q_ipw_estimator" -> { (s, dir) =>
      val trt = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val cents = (money(col("o_totalprice")) * 100).cast(LongType)
      val hist = t(s, dir, "orders")
        .groupBy(month(col("o_orderdate")).cast(LongType).as("x"))
        .agg(count(lit(1)).as("n"),
          sum(when(trt, 1L).otherwise(0L)).as("k"),
          sum(when(trt, cents).otherwise(0L)).as("syt"),
          sum(when(trt, 0L).otherwise(cents)).as("syc"))
      val sig = logitSig
      logisticNewton(hist
        .agg(sort_array(collect_list(struct(col("x"), col("n"), col("k"),
          col("syt"), col("syc")))).as("l")), "l")
        .withColumn("wt", expr(fold(s"CAST(p.k AS DOUBLE) / ($sig)")))
        .withColumn("wyt", expr(fold(s"CAST(p.syt AS DOUBLE) / ($sig)")))
        .withColumn("wc", expr(fold(
          s"CAST(p.n - p.k AS DOUBLE) / (1.0D - ($sig))")))
        .withColumn("wyc", expr(fold(
          s"CAST(p.syc AS DOUBLE) / (1.0D - ($sig))")))
        .withColumn("nt", expr(fold("CAST(p.k AS DOUBLE)")))
        .withColumn("sytd", expr(fold("CAST(p.syt AS DOUBLE)")))
        .withColumn("nc", expr(fold("CAST(p.n - p.k AS DOUBLE)")))
        .withColumn("sycd", expr(fold("CAST(p.syc AS DOUBLE)")))
        .select(round(col("b0"), 6).as("intercept"),
          round(col("b1"), 6).as("slope"),
          round(expr("(wyt / wt - wyc / wc) / 100.0D"), 6)
            .as("ate_ipw_usd"),
          round(expr("(sytd / nt - sycd / nc) / 100.0D"), 6)
            .as("ate_naive_usd"))
    },

    // POISSON REGRESSION via 4 Newton steps on the canonical log link
    // (the count-GLM beside q_logistic_newton's binary one — rate
    // modeling for event counts): per-customer order counts on the
    // nation feature, zero-order customers INCLUDED via the left join
    // (dropping them biases the rate up — the classic exposure
    // mistake). Initialization at the NULL-MODEL MLE b0 = ln(Σy/Σm)
    // (from b0 = 0 the first Newton step overshoots to b0 ≈ 9 and
    // burns every remaining step crawling back — measured; from the
    // null model 4 steps land on the score-equation fixpoint, asserted
    // in OperatorSpec). The corpus collapses to the ≤25-row (x, m, Σy)
    // histogram; every step is five x-ordered folds + the shared 2×2
    // solve. Scale: one customer rollup + one histogram shuffle.
    "q_poisson_irls" -> { (s, dir) =>
      val cnt = t(s, dir, "orders").groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("y"))
      val hist = t(s, dir, "customer")
        .join(cnt, col("c_custkey") === col("ck"), "left")
        .select(col("c_nationkey").cast(LongType).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
        .groupBy("x")
        .agg(count(lit(1)).as("m"), sum("y").as("sy"))
      val base = hist.agg(
          sort_array(collect_list(struct(col("x"), col("m"), col("sy"))))
            .as("l"),
          expr("ln(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(m) AS DOUBLE))")
            .as("b0"))
        .withColumn("b1", lit(0.0))
      val lam = "exp(b0 + b1 * CAST(p.x AS DOUBLE))"
      def step(d: DataFrame): DataFrame = d
        .withColumn("g1", expr(fold(s"CAST(p.sy AS DOUBLE) - p.m * $lam")))
        .withColumn("g2", expr(fold(
          s"(CAST(p.sy AS DOUBLE) - p.m * $lam) * p.x")))
        .withColumn("h11", expr(fold(s"p.m * $lam")))
        .withColumn("h12", expr(fold(s"p.m * $lam * p.x")))
        .withColumn("h22", expr(fold(s"p.m * $lam * p.x * p.x")))
        .withColumn("det", expr("h11 * h22 - h12 * h12"))
        .select(col("l"),
          expr("b0 + (h22 * g1 - h12 * g2) / det").as("b0"),
          expr("b1 + (h11 * g2 - h12 * g1) / det").as("b1"))
      val it = (1 to 4).foldLeft(base)((d, _) => step(d))
      it.withColumn("qll", expr(fold(
          s"CAST(p.sy AS DOUBLE) * (b0 + b1 * CAST(p.x AS DOUBLE)) " +
            s"- p.m * $lam")))
        .withColumn("m", expr(fold("CAST(p.m AS DOUBLE)")))
        .withColumn("sy", expr(fold("CAST(p.sy AS DOUBLE)")))
        .select(expr("CAST(m AS BIGINT)").as("n_customers"),
          expr("CAST(sy AS BIGINT)").as("n_orders"),
          round(col("b0"), 6).as("intercept"),
          round(col("b1"), 6).as("slope"),
          round(expr("exp(b0)"), 6).as("base_rate"),
          round(col("qll"), 6).as("quasi_log_lik"))
    },

    // BORUVKA MINIMUM SPANNING TREE (Boruvka 1926 / the algorithm every
    // distributed MST runs — GraphX, Pregel papers — because ALL
    // components pick their minimum outgoing edge in parallel and the
    // component count at least HALVES per round: O(log V) supersteps):
    // here the maximum-trade spanning backbone of the 25-nation
    // supplier→customer revenue graph (weights negated so min-MST =
    // max-trade). The corpus collapses ONCE to the ≤300-row canonical
    // edge table; each of 5 Boruvka rounds picks per-component minima
    // under the TOTAL order (w, a, b) — the canonical edge id, so the
    // cluster-minimum edge is chosen by BOTH endpoints and the
    // component-level successor function f has exactly one 2-cycle per
    // cluster (the textbook mutual-min argument). Contraction: because
    // the COMPONENT graph is bounded (≤25 entries — nations, not the
    // corpus), f ships as ONE map_from_entries row (the q_ipf_raking
    // one-row discipline) and f³⁰ is a 30-deep element_at chase in a
    // single projection — 30 ≥ the ≤23-step tail into the 2-cycle, and
    // LEAST(g, f(g)) is parity-independent. No iterate-to-fixpoint, no
    // driver union-find; a measured join-based doubling chain spent
    // ~10× this query's runtime on per-job fixed costs. Frames are
    // ckptCut per round (localCheckpoint ALONE telescopes lazy
    // sizeInBytes stats — see [[Iterate.ckptCut]]). At unbounded
    // component counts the map row is replaced by the E172 pointer-jump
    // kernel — the same round structure, distributed f. OperatorSpec
    // proves the edge SET equals Kruskal's. Scale: one corpus rollup;
    // rounds touch ≤2&#124;E&#124;-row frames; O(log V) supersteps.
    "q_mst_boruvka" -> { (s, dir) =>
      val custNation = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"))
      val pair = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(custNation, col("l_orderkey") === col("o_orderkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(
          least(col("s_nationkey"), col("c_nationkey")).cast(LongType)
            .as("a"),
          greatest(col("s_nationkey"), col("c_nationkey")).cast(LongType)
            .as("b"))
        .agg(sum((money(col("l_extendedprice")) * 100).cast(LongType))
          .as("cents"))
      val edges = Iterate.ckptCut(pair
        .select(col("a"), col("b"), (-col("cents")).as("w"),
          col("a").as("u"), col("b").as("v"))
        .union(pair.select(col("a"), col("b"), (-col("cents")).as("w"),
          col("b").as("u"), col("a").as("v"))))
      // r19: fixpoint early-exit — once no cross-component edge remains,
      // sel is empty and every later round is a no-op (mst.union(∅),
      // identity contraction map), so skipping them leaves the result
      // identical while shedding their jobs-×-scheduler-floor wall. The
      // single-use mrow frame is also inlined lazily into the lbl update
      // (it was a third eager checkpoint per round; referenced once, its
      // subtree cannot duplicate). Cap stays 5 — the declared O(log V)
      // bound.
      val lbl0 = Iterate.ckptCut(edges.select(col("u")).distinct()
        .select(col("u"), col("u").as("comp")))
      val mst0 = Iterate.ckptCut(edges.select("a", "b", "w").limit(0))
      val (_, mst) = Iterate.upTo(5, (lbl0, mst0)) { case (lbl, mst) =>
        val cand = edges
          .join(lbl.select(col("u"), col("comp").as("cu")), "u")
          .join(lbl.select(col("u").as("v"), col("comp").as("cv")), "v")
          .filter(col("cu") =!= col("cv"))
        val sel = Iterate.ckptCut(cand
          .withColumn("rn", row_number().over(
            Window.partitionBy("cu").orderBy(col("w"), col("a"), col("b"))))
          .filter(col("rn") === 1)
          .select("cu", "cv", "w", "a", "b"))
        if (sel.isEmpty) ((lbl, mst), true)
        else {
          val mrow = lbl.select(col("comp")).distinct()
            .join(sel.select(col("cu"), col("cv")),
              col("comp") === col("cu"), "left")
            .agg(map_from_entries(sort_array(collect_list(struct(
              col("comp"), coalesce(col("cv"), col("comp"))))))
              .as("fm"))
          val chase = (1 to 30)
            .foldLeft("comp")((e, _) => s"element_at(fm, $e)")
          ((Iterate.ckptCut(lbl.crossJoin(broadcast(mrow))
            .select(col("u"),
              expr(s"least($chase, element_at(fm, $chase))").as("comp"))),
            mst.union(sel.select("a", "b", "w"))), false)
        }
      }
      val mstD = Iterate.ckptCut(mst.distinct())
      val tot = mstD.agg(sum(-col("w")).as("tree_cents"),
        count(lit(1)).as("n_edges"))
      mstD.crossJoin(broadcast(tot))
        .select(col("a").as("nation_a"), col("b").as("nation_b"),
          (-col("w")).as("trade_cents"), col("n_edges"), col("tree_cents"))
        .orderBy("nation_a", "nation_b")
    },

    // GAUSSIAN MIXTURE via 4 unrolled EM rounds (Dempster 1977 — THE
    // iterative latent-variable algorithm, completing the fitting bench
    // beside the Newton GLMs: EM is what you run when the likelihood
    // has hidden structure): 2 components over the quantity histogram.
    // Same distributive skeleton as q_logistic_newton — the corpus
    // collapses ONCE to the ≤50-cell (x, n) histogram, each EM round is
    // six x-ordered folds (E-step responsibilities γ recomputed inside
    // each fold term — identical IEEE trees cross-engine; M-step = the
    // weighted-moment ratios). Deterministic symmetric-break init at
    // μ ± σ/2 from the exact integer moments (EM is init-sensitive —
    // a pinned init IS the reproducibility contract); variance floored
    // at 0.04 (the standard degenerate-component guard). Readout adds
    // the mixture log-lik with the √2π constant factored once. Scale:
    // one map-side histogram; iteration cost independent of corpus
    // size (continuous features bucketize first — same plan).
    "q_mixture_em" -> { (s, dir) =>
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity").cast(LongType).as("x"))
        .agg(count(lit(1)).as("n"))
      val base = hist
        .agg(sort_array(collect_list(struct(col("x"), col("n")))).as("l"),
          sum("n").as("nn"), sum(col("n") * col("x")).as("sx"),
          sum(col("n") * col("x") * col("x")).as("sxx"))
        .select(col("l"), col("nn").cast(DoubleType).as("n"),
          lit(0.5).as("w1"),
          expr("CAST(sx AS DOUBLE) / nn - sqrt((CAST(sxx AS DOUBLE) * nn" +
            " - CAST(sx AS DOUBLE) * sx) / (CAST(nn AS DOUBLE) * nn))" +
            " / 2.0D").as("m1"),
          expr("(CAST(sxx AS DOUBLE) * nn - CAST(sx AS DOUBLE) * sx) /" +
            " (CAST(nn AS DOUBLE) * nn)").as("v1"),
          expr("CAST(sx AS DOUBLE) / nn + sqrt((CAST(sxx AS DOUBLE) * nn" +
            " - CAST(sx AS DOUBLE) * sx) / (CAST(nn AS DOUBLE) * nn))" +
            " / 2.0D").as("m2"),
          expr("(CAST(sxx AS DOUBLE) * nn - CAST(sx AS DOUBLE) * sx) /" +
            " (CAST(nn AS DOUBLE) * nn)").as("v2"))
      val phi1 = "exp(-(CAST(p.x AS DOUBLE) - m1) * (CAST(p.x AS DOUBLE)" +
        " - m1) / (2.0D * v1)) / sqrt(v1)"
      val phi2 = "exp(-(CAST(p.x AS DOUBLE) - m2) * (CAST(p.x AS DOUBLE)" +
        " - m2) / (2.0D * v2)) / sqrt(v2)"
      val g1 = s"(w1 * $phi1) / (w1 * $phi1 + (1.0D - w1) * $phi2)"
      def step(d: DataFrame): DataFrame = d
        .withColumn("r1", expr(fold(s"p.n * $g1")))
        .withColumn("rx1", expr(fold(s"p.n * $g1 * p.x")))
        .withColumn("rxx1", expr(fold(s"p.n * $g1 * p.x * p.x")))
        .withColumn("r2", expr(fold(s"p.n * (1.0D - $g1)")))
        .withColumn("rx2", expr(fold(s"p.n * (1.0D - $g1) * p.x")))
        .withColumn("rxx2", expr(fold(s"p.n * (1.0D - $g1) * p.x * p.x")))
        .select(col("l"), col("n"),
          expr("r1 / n").as("w1"),
          expr("rx1 / r1").as("m1"),
          expr("greatest(rxx1 / r1 - (rx1 / r1) * (rx1 / r1), 0.04D)")
            .as("v1"),
          expr("rx2 / r2").as("m2"),
          expr("greatest(rxx2 / r2 - (rx2 / r2) * (rx2 / r2), 0.04D)")
            .as("v2"))
      val it = (1 to 4).foldLeft(base)((d, _) => step(d))
      it.withColumn("ll", expr(fold(
          s"p.n * ln((w1 * $phi1 + (1.0D - w1) * $phi2) / " +
            "sqrt(2.0D * pi()))")))
        .select(col("n").cast(LongType).as("n_rows"),
          round(col("w1"), 6).as("weight1"),
          round(col("m1"), 6).as("mean1"),
          round(expr("sqrt(v1)"), 6).as("sd1"),
          round(col("m2"), 6).as("mean2"),
          round(expr("sqrt(v2)"), 6).as("sd2"),
          round(col("ll"), 6).as("log_lik"))
    },

    // GRADIENT-BOOSTED STUMPS (Friedman 2001 L2 boosting, ν = 0.5, 3
    // rounds — the additive-model sibling of q_cart_stump's single
    // tree): because the model F(x) is piecewise-constant on the
    // INTEGRAL feature, per-round residual statistics NEVER touch the
    // corpus again — every candidate split's (R_L, R_R) reads off the
    // integer prefix cums N(t), Σy(t) plus the previous stumps' params
    // via N(min(t, t_k)) map lookups, so 3 boosting rounds cost ONE
    // histogram rollup total (the q_cross_validation "no extra passes"
    // identity, applied to boosting). Integer window cums only (float
    // window sums are not cross-engine portable — the house rule);
    // doubles appear in one shared scalar tree per candidate. Winner
    // per round under (gain DESC, t ASC) via row_number; params carry
    // forward on a ckptCut 1-row frame; train MSE per round from the
    // (x, n, Σy, Σy²)-list fold with Σy² in DECIMAL(38) (a cents²
    // corpus sum overflows BIGINT). Scale: one histogram shuffle; the
    // candidate table is ≤&#124;distinct x&#124; rows per round.
    "q_boosted_stumps" -> { (s, dir) =>
      val cents = (money(col("l_extendedprice")) * 100).cast(LongType)
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_quantity").cast(LongType).as("x"))
        .agg(count(lit(1)).as("n"), sum(cents).as("sy"),
          sum(cents.cast(DecimalType(18, 0)) *
            cents.cast(DecimalType(18, 0))).as("syy"))
        .localCheckpoint(true)
      val cums = Iterate.ckptCut(cells.select(col("x").as("t"),
        sum("n").over(Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, 0)).as("nl"),
        sum("sy").over(Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, 0)).as("syl")))
      val g0 = cells.agg(sum("n").as("ng"), sum("sy").as("syg"))
      val maps = cums.agg(map_from_entries(sort_array(collect_list(
        struct(col("t"), col("nl"))))).as("nm"))
      val lst = cells.agg(sort_array(collect_list(struct(col("x"),
        col("n"), col("sy"), col("syy")))).as("l"))
      var params = Iterate.ckptCut(g0
        .crossJoin(broadcast(maps)).crossJoin(broadcast(lst))
        .select(expr("CAST(syg AS DOUBLE) / CAST(ng AS DOUBLE)").as("f0"),
          col("ng"), col("syg"), col("nm"), col("l")))
      val acc = (k: String) => s"element_at(nm, $k)"
      (1 to 3).foreach { m =>
        val rl = s"CAST(c.syl AS DOUBLE) - (${boostFLeq(m, "c.nl", acc)})"
        val rg = s"CAST(syg AS DOUBLE) - (${boostFAll(m, acc)})"
        val cand = cums.as("c").crossJoin(broadcast(params))
          .filter(col("c.nl") < col("ng"))
          .select(col("c.t").as("t"), col("c.nl").as("nl"),
            (col("ng") - col("c.nl")).as("nr"),
            expr(rl).as("rl"), expr(s"($rg) - ($rl)").as("rr"))
          .withColumn("gain", expr(
            "rl * rl / CAST(nl AS DOUBLE) + rr * rr / CAST(nr AS DOUBLE)"))
        val win = cand
          .withColumn("rn", row_number().over(
            Window.partitionBy(pmod(col("nl"), lit(1)))
              .orderBy(col("gain").desc, col("t").asc)))
          .filter(col("rn") === 1)
          .select(col("t").as(s"t$m"),
            expr("rl / CAST(nl AS DOUBLE)").as(s"l$m"),
            expr("rr / CAST(nr AS DOUBLE)").as(s"r$m"))
        params = Iterate.ckptCut(params.crossJoin(broadcast(win)))
      }
      val mses = (1 to 3).map { m =>
        val f = boostF(m)
        expr(s"""round(aggregate(l, 0D, (a, p) -> a +
          |  (CAST(p.syy AS DOUBLE) - 2.0D * ($f) * CAST(p.sy AS DOUBLE)
          |   + CAST(p.n AS DOUBLE) * ($f) * ($f))) /
          |  CAST(ng AS DOUBLE), 6)""".stripMargin).as(s"mse$m")
      }
      params.select(col("*") +: mses: _*)
        .select(expr(
          """stack(3,
            |  1L, t1, round(l1 / 100.0D, 6), round(r1 / 100.0D, 6), mse1,
            |  2L, t2, round(l2 / 100.0D, 6), round(r2 / 100.0D, 6), mse2,
            |  3L, t3, round(l3 / 100.0D, 6), round(r3 / 100.0D, 6), mse3)
            |AS (round, split_at, leaf_left_usd, leaf_right_usd,
            |  train_mse_cents2)""".stripMargin))
        .orderBy("round")
    },

    // POCKET PERCEPTRON (Rosenblatt 1958 batch rule + Gallant 1990
    // pocket): q_classifier_train's all-integer-perceptron discipline
    // (integral features, η = 1, w₀ = 0 keep every weight a BIGINT —
    // no float portability surface), extended two ways it needs on
    // non-separable data: the POCKET rule (batch perceptron OSCILLATES
    // there — report the best w seen, not the last) and the histogram
    // collapse (classifier_train folds the corpus per round; here
    // rounds cost O(cells), corpus-independent). y = ±1 on returnflag
    // = 'R' over (quantity, discount‰); the corpus collapses ONCE to
    // the ≤|x1|·|x2|·2 cell histogram, each round is
    // four integer folds over the sorted cell list (error count + the
    // three misclassified-sum gradient components), the pocket row =
    // earliest argmin of the five error evaluations (measured here:
    // 60000 → 20046 → 39954 → 20046, a genuine 2-cycle). Scale: one
    // map-side histogram shuffle, then one-row work.
    "q_perceptron" -> { (s, dir) =>
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_quantity").cast(LongType).as("x1"),
          round(col("l_discount") * 100, 0).cast(LongType).as("x2"),
          when(col("l_returnflag") === "R", 1L).otherwise(-1L).as("y"))
        .agg(count(lit(1)).as("n"))
      val mis = "p.y * (w0 + w1 * p.x1 + w2 * p.x2) <= 0L"
      def ifold(term: String): String =
        s"aggregate(l, 0L, (a, p) -> a + (CASE WHEN $mis THEN $term" +
          " ELSE 0L END))"
      val base = cells
        .agg(sort_array(collect_list(struct(col("x1"), col("x2"),
          col("y"), col("n")))).as("l"))
        .select(col("l"),
          lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"))
      val trained = (0 to 3).foldLeft(base) { (d, r) =>
        val d2 = d.withColumn(s"e$r", expr(ifold("p.n")))
        val carried = Seq(col("l")) ++
          (0 to r).map(k => col(s"e$k")) ++
          (0 until r).flatMap(k => Seq(col(s"w0_$k"), col(s"w1_$k"),
            col(s"w2_$k")))
        d2.select(carried ++ Seq(
          col("w0").as(s"w0_$r"), col("w1").as(s"w1_$r"),
          col("w2").as(s"w2_$r"),
          (col("w0") + expr(ifold("p.y * p.n"))).as("w0"),
          (col("w1") + expr(ifold("p.y * p.n * p.x1"))).as("w1"),
          (col("w2") + expr(ifold("p.y * p.n * p.x2"))).as("w2")): _*)
      }
      val fin = trained.withColumn("e4", expr(ifold("p.n")))
        .withColumn("w0_4", col("w0")).withColumn("w1_4", col("w1"))
        .withColumn("w2_4", col("w2"))
        .withColumn("emin", least((0 to 4).map(k => col(s"e$k")): _*))
        .withColumn("argmin", expr(
          """CASE WHEN e0 = emin THEN 0L WHEN e1 = emin THEN 1L
            |WHEN e2 = emin THEN 2L WHEN e3 = emin THEN 3L
            |ELSE 4L END""".stripMargin))
      fin.select(expr((0 to 4).map(k =>
          s"${k}L, w0_$k, w1_$k, w2_$k, e$k, " +
            s"CASE WHEN argmin = ${k}L THEN 1L ELSE 0L END")
          .mkString("stack(5,\n", ",\n",
            ")\nAS (step, w_bias, w_qty, w_disc, errors, is_pocket)")))
        .orderBy("step")
    },

    // KENDALL'S τ-b ON THE DECILE GRID (Kendall 1938 with the tie-
    // corrected τ-b — the rank-correlation sibling of q_spearman: ρ
    // correlates rank VALUES, τ counts pairwise ORDER agreements, the
    // more robust readout when only monotonicity matters): chars vs
    // token count per document. Exact τ needs all-pairs; the SCALE
    // move is value-based decile bucketing FIRST — each distinct value
    // maps to ⌈10·cum/n⌉ from its exact cumulative count (value-
    // deterministic, unlike NTILE whose boundary ties split by row
    // order) — making concordance a ≤100-cell × ≤100-cell join with
    // n₁·n₂ pair weights, ALL-INTEGER until the final ratio. τ-b's
    // tie terms fall out of the same cell marginals. Measured 0.967 —
    // chars and tokens are near-perfectly concordant, as they must be.
    // Scale: two bounded-domain histograms + one 10⁴-cell-pair join.
    "q_kendall_tau" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(
        col("n_chars").cast(LongType).as("x"),
        size(split(col("text"), " ")).cast(LongType).as("y"))
      val n = d.agg(count(lit(1)).as("nn"))
      def dec(c: String): DataFrame = d.groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cn"))
        .withColumn("cum", sum("cn").over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(n))
        .select(col("v").as(c), expr("(10L * cum + nn - 1L) div nn")
          .as(s"g$c"))
      val cells = d.join(broadcast(dec("x")), "x")
        .join(broadcast(dec("y")), "y")
        .groupBy("gx", "gy").agg(count(lit(1)).as("cn"))
        .localCheckpoint(true)
      val pairs = cells.as("a").crossJoin(cells.as("b"))
        .agg(
          sum(when(col("b.gx") > col("a.gx") &&
            col("b.gy") > col("a.gy"),
            col("a.cn") * col("b.cn")).otherwise(0L)).as("cc"),
          sum(when(col("b.gx") > col("a.gx") &&
            col("b.gy") < col("a.gy"),
            col("a.cn") * col("b.cn")).otherwise(0L)).as("dd"))
      val tx = cells.groupBy("gx").agg(sum("cn").as("s"))
        .agg(sum(expr("s * (s - 1L) div 2L")).as("t1"))
      val ty = cells.groupBy("gy").agg(sum("cn").as("s"))
        .agg(sum(expr("s * (s - 1L) div 2L")).as("t2"))
      pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .crossJoin(broadcast(n))
        .select(col("nn").as("n_rows"), col("cc").as("concordant"),
          col("dd").as("discordant"),
          round(expr(
            """(CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
              |sqrt((CAST(nn AS DOUBLE) * (nn - 1L) / 2 - t1) *
              |     (CAST(nn AS DOUBLE) * (nn - 1L) / 2 - t2))"""
              .stripMargin), 6).as("tau_b"))
    },

    // RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010 — the top-
    // weighted ranking-similarity measure: Kendall/Spearman treat all
    // positions equally, RBO discounts depth d by pᵈ⁻¹, which is what
    // "did the TOP of the leaderboard change?" actually asks): 1995 vs
    // 1996 nation revenue rankings (total order tie-broken by name),
    // truncated RBO@25 with the published p = 0.9. Overlap at each
    // depth is an INTEGER fold over the joined (rank_a, rank_b) list —
    // |∩@d| = Σ[max(rₐ, r_b) ≤ d] — and the depth-weighted sum folds
    // d-ordered with pᵈ⁻¹ written exp((d−1)·ln p) (the house p^α
    // cross-engine rule). Readout adds the raw depth-5/10 overlaps.
    // Scale: two grouped rollups + rank windows on ≤|nations| rows;
    // everything after is a ≤25-element array on one row.
    "q_rbo" -> { (s, dir) =>
      val rev = t(s, dir, "orders").as("o")
        .join(broadcast(t(s, dir, "customer").as("c")),
          col("o.o_custkey") === col("c.c_custkey"))
        .join(broadcast(t(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .filter(year(col("o.o_orderdate")).isin(1995, 1996))
        .groupBy(col("n.n_name").as("nm"),
          year(col("o.o_orderdate")).as("yr"))
        .agg(sum((money(col("o.o_totalprice")) * 100).cast(LongType))
          .as("rev"))
      def ranked(y: Int, out: String): DataFrame = rev
        .filter(col("yr") === y)
        .select(col("nm"), row_number().over(
          Window.orderBy(col("rev").desc, col("nm").asc)).as(out))
      val j = ranked(1995, "ra").join(ranked(1996, "rb"), "nm")
        .agg(sort_array(collect_list(struct(col("ra"), col("rb"))))
          .as("l"))
      def ov(d: String): String =
        s"aggregate(l, 0L, (p, x) -> p + (CASE WHEN " +
          s"greatest(x.ra, x.rb) <= $d THEN 1L ELSE 0L END))"
      j.withColumn("ovs", expr(
          s"transform(sequence(1, 25), d -> ${ov("d")})"))
        .select(
          round(expr(
            """(CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE)) *
              |aggregate(transform(sequence(1, 25), d ->
              |  exp((d - 1) * ln(CAST(0.9 AS DOUBLE))) *
              |  CAST(element_at(ovs, d) AS DOUBLE) / CAST(d AS DOUBLE)),
              |  0D, (p, x) -> p + x)""".stripMargin), 6).as("rbo_at_25"),
          expr("element_at(ovs, 5)").as("overlap_at_5"),
          expr("element_at(ovs, 10)").as("overlap_at_10"))
    },

    // HILL TAIL-INDEX ESTIMATOR (Hill 1975 — THE heavy-tail diagnostic:
    // α̂ = k / Σᵢ≤k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order statistics;
    // the number a pipeline checks BEFORE trusting means and variances
    // — α ≤ 2 means infinite variance and every Σx² rollup in this
    // bench is noise): order totalprice cents, k = 50 and 100 (the
    // two-k readout IS the stability check — a genuine power law gives
    // the same α at both). EXACT top-(k+1) selection (orderBy DESC
    // limit 101 — boundary ties don't matter, only the value multiset
    // enters), then each α is one ln-fold over the DESC-sorted list
    // prefix (canonical order — both engines run the identical IEEE
    // sum). A large α (measured ~330 here) correctly reads "bounded,
    // not heavy-tailed" — uniform synthetic prices. Scale: TopK is one
    // reduction; everything after is a ≤101-element array on one row.
    "q_hill_tail" -> { (s, dir) =>
      val cents = (money(col("o_totalprice")) * 100).cast(LongType)
      val top = t(s, dir, "orders").select(cents.as("c"))
        .orderBy(col("c").desc).limit(101)
      val base = top.agg(sort_array(collect_list(col("c")), asc = false)
        .as("l"))
      def alpha(k: Int): String =
        s"""CAST($k AS DOUBLE) / aggregate(slice(l, 1, $k), 0D,
           |  (a, x) -> a + ln(CAST(x AS DOUBLE) /
           |    CAST(element_at(l, ${k + 1}) AS DOUBLE)))""".stripMargin
      base.select(expr(
          s"""stack(2,
             |  50L, round(CAST(element_at(l, 51) AS DOUBLE) / 100.0D, 2),
             |    round(${alpha(50)}, 6),
             |  100L, round(CAST(element_at(l, 101) AS DOUBLE) / 100.0D, 2),
             |    round(${alpha(100)}, 6))
             |AS (k, threshold_usd, alpha)""".stripMargin))
        .orderBy("k")
    },

    // MARKOV-CHAIN ENTROPY RATE (Shannon 1948 §7 — bits of genuine
    // novelty per event once the chain's memory is accounted for:
    // H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ, the sequence-level sibling of
    // q_token_entropy's iid rate and the summary number over
    // q_markov_transitions' full matrix): transition counts from ONE
    // lead() window pass (the q_absorbing_chain spine, uncensored),
    // stationary π by 8 power steps from uniform — run as one
    // aggregate() fold whose lambda variable carries π (r19; no
    // textual nesting, no per-step checkpoints) — and the entropy
    // readout is one shared scalar tree with a p > 0 guard. Measured
    // ≈ ln 5: the
    // synthetic event stream is genuinely memoryless-uniform, and the
    // estimator says exactly that. Scale: one window pass + a 25-cell
    // rollup; the power iteration is constant one-row work.
    "q_entropy_rate" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val types = Seq("click", "error", "purchase", "signup", "view")
      val w = W.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead("src", 1).over(w))
        .filter(col("dst").isNotNull)
      val cnts = for (a <- types; b <- types) yield
        sum(when(col("src") === a && col("dst") === b, 1L)
          .otherwise(0L)).as(s"c_${a}_$b")
      val one = pairs.agg(cnts.head, cnts.tail: _*)
      // r19: the 8 power steps run as ONE fold over sequence(1,8) — π is
      // the fold's lambda VARIABLE (array of 5), so each step's 5-term
      // dot products reference it with no textual nesting (the 5⁸ blowup
      // the 9 per-step ckptCuts guarded against), and each component is
      // the same left-associated 5-term chain the unrolled columns ran —
      // identical IEEE trees over identical p values, 9 eager jobs gone.
      def pTxt(i: Int, j: Int): String = {
        val tot = types.map(b => s"c_${types(i)}_$b")
          .mkString("(", " + ", ")")
        s"(CAST(c_${types(i)}_${types(j)} AS DOUBLE) / " +
          s"CAST($tot AS DOUBLE))"
      }
      val pi0 = Seq.fill(5)("CAST(1 AS DOUBLE) / 5")
        .mkString("array(", ", ", ")")
      val stepArr = types.indices.map { d =>
        types.indices.map(i => s"element_at(pi, ${i + 1}) * ${pTxt(i, d)}")
          .mkString(" + ")
      }.mkString("array(", ",\n", ")")
      val fold = s"aggregate(sequence(1, 8), $pi0, (pi, s) -> $stepArr)"
      val hTerm = types.indices.map { i =>
        val inner = types.indices.map(j =>
          s"(CASE WHEN ${pTxt(i, j)} > CAST(0 AS DOUBLE) " +
            s"THEN ${pTxt(i, j)} * ln(${pTxt(i, j)}) " +
            s"ELSE CAST(0 AS DOUBLE) END)")
          .mkString(" + ")
        s"element_at(pi8, ${i + 1}) * ($inner)"
      }.mkString(" + ")
      one.withColumn("pi8", expr(fold))
        .select(types.zipWithIndex.map { case (tn, i) =>
          round(expr(s"element_at(pi8, ${i + 1})"), 6).as(s"pi_$tn")
        } :+ round(expr(s"-($hTerm)"), 6).as("entropy_rate_nats"): _*)
    },

    // SMITH-WATERMAN LOCAL ALIGNMENT (Smith & Waterman 1981 — THE
    // local-similarity DP, the alignment sibling of q_dtw's global
    // elastic match and q_substring_dedup's exact-run detector: where edit
    // distance scores whole strings, SW finds the best-scoring LOCAL
    // region, which is how plagiarism spans and shared boilerplate
    // actually surface): token-level, match +2 / mismatch −1 / gap −1,
    // over the first 12 tokens of the two longest documents (picked by
    // the deterministic (n_chars DESC, doc_id ASC) rank). The DP is
    // ALL-INTEGER — bit-equal across engines by construction — and
    // runs as ONE row-major aggregate() fold over a flat 144-cell
    // accumulator (r19; the 12 checkpointed row-frames it replaces
    // spent ~2 s of driver-side Catalyst analysis on the inlined cell
    // trees). Readout: best score, its earliest (i, j) end cell, and the
    // count of positive cells (the alignment's footprint). Scale: the
    // corpus work is one rank-and-limit; the DP is constant work.
    "q_smith_waterman" -> { (s, dir) =>
      val two = t(s, dir, "documents")
        .select(split(col("text"), " ").as("tk"), col("n_chars"),
          col("doc_id"))
        .filter(size(col("tk")) >= 12)
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(2)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id").asc)))
        .localCheckpoint(true)
      val st = two.filter(col("rk") === 1)
        .select(slice(col("tk"), 1, 12).as("a"))
        .crossJoin(two.filter(col("rk") === 2)
          .select(slice(col("tk"), 1, 12).as("b")))
      // All 144 DP cells in ONE row-major fold: cell (i, j) is appended
      // after its diag/up neighbors (previous row, read back from the flat
      // accumulator at (i-2)*12+j[-1]) and left (the accumulator's last
      // element) — the identical all-integer recurrence the 12 unrolled
      // row-frames ran (swRowExprs, still the oracle's text), minus the 12
      // eager checkpoints and the driver-side Catalyst analysis of the
      // textually inlined cell trees that dominated this query's wall
      // (~2 s of 2.4 s at sf0.1) and grew with matrix size.
      val dp =
        """aggregate(sequence(1, 12), CAST(array() AS ARRAY<BIGINT>),
          |  (al, i) -> aggregate(sequence(1, 12), al, (r, j) ->
          |    array_append(r, greatest(CAST(0 AS BIGINT),
          |      (CASE WHEN i = 1 OR j = 1 THEN CAST(0 AS BIGINT)
          |        ELSE element_at(r, (i - 2) * 12 + j - 1) END) +
          |      (CASE WHEN element_at(a, i) = element_at(b, j)
          |        THEN 2 ELSE -1 END),
          |      (CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
          |        ELSE element_at(r, (i - 2) * 12 + j) END) - 1,
          |      (CASE WHEN j = 1 THEN CAST(0 AS BIGINT)
          |        ELSE element_at(r, size(r)) END) - 1))))""".stripMargin
      st.withColumn("h", expr(dp))
        .withColumn("best", expr("array_max(h)"))
        // earliest best cell in the same row-major order the unrolled CASE
        // chain scanned (i outer, j inner)
        .withColumn("k",
          expr("filter(sequence(1, 144), k -> element_at(h, k) = best)[0]"))
        .select(col("best").as("best_score"),
          expr("CAST((k - 1) div 12 + 1 AS BIGINT)").as("end_i"),
          expr("CAST((k - 1) % 12 + 1 AS BIGINT)").as("end_j"),
          expr("CAST(size(filter(h, x -> x > 0)) AS BIGINT)")
            .as("n_positive_cells"))
    },

    // ABSORBING MARKOV CHAIN (Kemeny & Snell 1960 — the fundamental-
    // matrix readout of the funnel: q_markov_transitions gives the raw
    // transition probabilities, THIS answers the questions a growth
    // team actually asks: "from a view, how many steps until the
    // journey ends, and does it end in purchase or error?"): purchase/
    // error modeled as absorbing, each user's sequence CENSORED at the
    // first absorption (transitions after it are a different journey);
    // the successor is lead() over the (ts, event_id) total order and
    // the censor mask an INTEGER prefix sum — one window pass, no
    // self-join. The 15 transition counts collapse to one row, N =
    // (I−Q)⁻¹ is the closed-form 3×3 adjugate/determinant (one shared
    // scalar tree — the same cofactor TEXTS run in both engines),
    // expected steps t = N·1, absorption split B = N·R (rows sum to 1
    // — asserted). Scale: one corpus window pass + a 15-cell rollup.
    "q_absorbing_chain" -> { (s, dir) =>
      val srcs = chainStates.take(3)
      val base = chainCounts(t(s, dir, "events")).select(chainProbs: _*)
      val fin = base.select(col("*") +:
        (1 to 3).flatMap(i => (1 to 3).map(j =>
          expr(fundN(i, j)).as(s"nn$i$j"))): _*)
      fin.select(expr(srcs.zipWithIndex.map { case ((sn, _), k) =>
          val i = k + 1
          s"'$sn', round(nn${i}1 + nn${i}2 + nn${i}3, 6), " +
            s"round(nn${i}1 * r11 + nn${i}2 * r21 + nn${i}3 * r31, 6), " +
            s"round(nn${i}1 * r12 + nn${i}2 * r22 + nn${i}3 * r32, 6)"
        }.mkString("stack(3,\n", ",\n",
          ")\nAS (start_state, expected_steps, p_error, p_purchase)")))
        .orderBy("start_state")
    },

    // RANK-1 ALS FACTORIZATION (Koren/Bell/Volinsky 2009's workhorse at
    // its minimal rank — THE recommender decomposition, and the missing
    // sibling of q_pca_power: power iteration finds the top eigenvector
    // of XᵀX, ALS alternates exact least-squares half-steps on the
    // RATING matrix itself, sparse-aware by construction): R[segment,
    // nation] = revenue cents; v⁰ = 1, then 3 rounds of uᵢ =
    // Σⱼ Rᵢⱼvⱼ / Σⱼ vⱼ² and the mirrored vⱼ update, each a j-sorted
    // (resp. i-sorted) fold with map lookups — per-row sums run over
    // OBSERVED cells only, exactly how ALS stays linear in nnz at 100 TB
    // (the corpus collapses ONCE to the ≤|I|·|J| cell rollup; every
    // half-step afterwards is one-row map work, ckptCut per half-step
    // so the lookup trees never nest). Readout: unit-normalized factor
    // loadings per axis + the implied top singular value σ =
    // uᵀRv/(‖u‖‖v‖). Scale: rounds cost O(nnz) independent of corpus.
    "q_als_rank1" -> { (s, dir) =>
      val cents = (money(col("l_extendedprice")) * 100).cast(LongType)
      val cells = t(s, dir, "lineitem").as("l")
        .join(t(s, dir, "orders").as("o"),
          col("l.l_orderkey") === col("o.o_orderkey"))
        .join(broadcast(t(s, dir, "customer").as("c")),
          col("o.o_custkey") === col("c.c_custkey"))
        .join(broadcast(t(s, dir, "supplier").as("sp")),
          col("l.l_suppkey") === col("sp.s_suppkey"))
        .join(broadcast(t(s, dir, "nation").as("n")),
          col("sp.s_nationkey") === col("n.n_nationkey"))
        .groupBy(col("c.c_mktsegment").as("i"), col("n.n_name").as("j"))
        .agg(sum(cents).as("r"))
      val ri = cells.groupBy("i")
        .agg(sort_array(collect_list(struct(col("j"), col("r")))).as("l"))
      val rj = cells.groupBy("j")
        .agg(sort_array(collect_list(struct(col("i"), col("r")))).as("l"))
      def newmap(keys: String, lists: String, vm: String,
          ka: String): String =
        s"""map_from_entries(transform($keys, k -> struct(k,
           |  aggregate(element_at($lists, k), 0D, (a, p) ->
           |    a + CAST(p.r AS DOUBLE) * element_at($vm, p.$ka)) /
           |  aggregate(element_at($lists, k), 0D, (a, p) ->
           |    a + element_at($vm, p.$ka) * element_at($vm, p.$ka)))))"""
          .stripMargin
      // r19: each side's map AND key list come out of ONE aggregation (was
      // two aggs + two extra crossJoins over the same rollup), and the two
      // half-steps of a round share ONE checkpoint (vm's reference to the
      // um column inlines um's bounded ≤nnz-cell tree once — constant plan
      // depth per round, half the eager jobs). Same folds, same values.
      val base = ri
        .agg(map_from_entries(collect_list(struct(col("i"), col("l"))))
            .as("rowm"),
          sort_array(collect_list(col("i"))).as("ikeys"))
        .crossJoin(rj.agg(map_from_entries(collect_list(
            struct(col("j"), col("l")))).as("colm"),
          sort_array(collect_list(col("j"))).as("jkeys")))
        .crossJoin(cells.agg(sort_array(collect_list(
          struct(col("i"), col("j"), col("r")))).as("cl")))
        .withColumn("vm0", expr(
          "map_from_entries(transform(jkeys, x -> struct(x, 1.0D)))"))
      var st = Iterate.ckptCut(base)
      for (r <- 1 to 3) {
        st = Iterate.ckptCut(st
          .withColumn(s"um$r", expr(newmap("ikeys", "rowm",
            if (r == 1) "vm0" else s"vm${r - 1}", "j")))
          .withColumn(s"vm$r", expr(newmap("jkeys", "colm", s"um$r", "i"))))
      }
      val fin = Iterate.ckptCut(st
        .withColumn("un", expr(
          """sqrt(aggregate(transform(ikeys, k ->
            |  element_at(um3, k) * element_at(um3, k)), 0D,
            |  (a, x) -> a + x))""".stripMargin))
        .withColumn("vn", expr(
          """sqrt(aggregate(transform(jkeys, k ->
            |  element_at(vm3, k) * element_at(vm3, k)), 0D,
            |  (a, x) -> a + x))""".stripMargin))
        .withColumn("urv", expr(
          """aggregate(transform(cl, p -> CAST(p.r AS DOUBLE) *
            |  element_at(um3, p.i) * element_at(vm3, p.j)), 0D,
            |  (a, x) -> a + x)""".stripMargin)))
      val segs = fin.select(lit("segment").as("axis"),
          explode(col("ikeys")).as("name"), col("um3").as("fm"),
          col("un").as("nrm"), col("urv"), col("un"), col("vn"))
      val nats = fin.select(lit("nation").as("axis"),
          explode(col("jkeys")).as("name"), col("vm3").as("fm"),
          col("vn").as("nrm"), col("urv"), col("un"), col("vn"))
      segs.unionByName(nats)
        .select(col("axis"), col("name"),
          round(expr("element_at(fm, name) / nrm"), 6).as("weight"),
          round(expr("urv / (un * vn) / 100.0D"), 2).as("sigma_usd"))
        .orderBy("axis", "name")
    },

    // YULE-WALKER AR(2) (Yule 1927 / Walker 1931 — the method-of-moments
    // autoregression fit; the MODEL the q_acf diagnostic feeds: ρ₁, ρ₂
    // in, φ₁, φ₂ out through the closed 2×2 Toeplitz solve, no
    // iteration): daily event counts, autocovariances c₀/c₁/c₂ as
    // aligned-slice index-ordered folds over the ONE day-sorted value
    // list (the q_acf discipline — fixed order needs no sort and both
    // engines run the identical IEEE sum), φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²),
    // φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²), intercept μ(1−φ₁−φ₂), and the in-sample
    // one-step RMSE folds the SAME recursion text both engines share.
    // Scale: corpus work is only the daily rollup; everything after is
    // one ≤|days| array on one row.
    "q_yule_walker" -> { (s, dir) =>
      dailySeries(s, dir, "c0")
        .withColumn("c1", expr(
          """aggregate(transform(sequence(1, n - 1), i ->
            |  (element_at(vals, i) - m) *
            |  (element_at(vals, i + 1) - m)), 0.0D, (a, x) -> a + x)"""
            .stripMargin))
        .withColumn("c2", expr(
          """aggregate(transform(sequence(1, n - 2), i ->
            |  (element_at(vals, i) - m) *
            |  (element_at(vals, i + 2) - m)), 0.0D, (a, x) -> a + x)"""
            .stripMargin))
        .withColumn("rho1", expr("c1 / c0"))
        .withColumn("rho2", expr("c2 / c0"))
        .withColumn("phi1", expr(
          "rho1 * (1.0D - rho2) / (1.0D - rho1 * rho1)"))
        .withColumn("phi2", expr(
          "(rho2 - rho1 * rho1) / (1.0D - rho1 * rho1)"))
        .withColumn("rmse", expr(
          """sqrt(aggregate(transform(sequence(3, n), i ->
            |  (element_at(vals, i) - (m + phi1 *
            |    (element_at(vals, i - 1) - m) + phi2 *
            |    (element_at(vals, i - 2) - m)))
            |  * (element_at(vals, i) - (m + phi1 *
            |    (element_at(vals, i - 1) - m) + phi2 *
            |    (element_at(vals, i - 2) - m)))), 0.0D, (a, x) -> a + x)
            |  / CAST(n - 2 AS DOUBLE))""".stripMargin))
        .select(col("n").cast(LongType).as("n_days"),
          round(col("m"), 6).as("mean_daily"),
          round(col("rho1"), 6).as("rho1"),
          round(col("rho2"), 6).as("rho2"),
          round(col("phi1"), 6).as("phi1"),
          round(col("phi2"), 6).as("phi2"),
          round(expr("m * (1.0D - phi1 - phi2)"), 6).as("intercept"),
          round(col("rmse"), 6).as("rmse_onestep"))
    },

    // FISHER LINEAR DISCRIMINANT (Fisher 1936 — the closed-form
    // classifier: w = S_pooled⁻¹ (μ₁ − μ₀), no iteration at all, which
    // makes it the exactness benchmark of the classifier bench): label
    // = extendedprice above the EXACT lower-median (rank-selected from
    // the bounded cents histogram — the q_mcnemar idiom, guaranteeing
    // a pinned 50/50-ish split with no magic constant), features
    // (quantity, discount‰). The corpus collapses to the labeled
    // ≤|x1|·|x2|·2 cell histogram; all 12 class sufficient statistics
    // (n, Σx, Σx², Σx₁x₂ per class) are INTEGER sums off it, the 2×2
    // pooled-covariance solve is one shared scalar tree, and the
    // confusion matrix re-reads the SAME histogram with the integer-
    // feature score w·x compared to the midpoint threshold (identical
    // IEEE trees cross-engine). Scale: one bounded-domain median
    // histogram + one cell rollup; the solve and confusion are
    // cell-table work by design.
    "q_fisher_lda" -> { (s, dir) =>
      // NOT spread (r19 A/B: 2.25 s plain vs 2.75 s spread at sf0.1) —
      // unlike q_try_arithmetic's per-row decimal probes, these two
      // rollups are cheap integer-count partials that collapse rows
      // faster than the repartition can ship them
      val b = t(s, dir, "lineitem").select(
        col("l_quantity").cast(LongType).as("x1"),
        round(col("l_discount") * 100, 0).cast(LongType).as("x2"),
        (money(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
      val h = b.groupBy("cents").agg(count(lit(1)).as("cn"))
      val med = h
        .withColumn("cum", sum("cn").over(
          Window.orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(h.agg(sum("cn").as("n"))))
        .filter(col("cum") >= expr("(n + 1L) div 2L"))
        .agg(min("cents").as("med"))
      // r19: the ≤|x1|·|x2|·2-cell histogram is read TWICE (the 12-stat
      // solve and the confusion readout) — lazily each reader re-ran the
      // lineitem rollup. One eager checkpoint of the ~1k-row table cuts
      // one of the three corpus scans (guide §2.4); every downstream
      // number is an exact sum off it.
      val cells = b.crossJoin(broadcast(med))
        .groupBy(col("x1"), col("x2"),
          when(col("cents") > col("med"), 1L).otherwise(0L).as("y"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      def cs(cls: Int, term: String, name: String) =
        sum(when(col("y") === cls.toLong, expr(term)).otherwise(0L))
          .as(name)
      val suff = cells.agg(
        cs(0, "n", "n0"), cs(0, "n * x1", "a1"), cs(0, "n * x2", "a2"),
        cs(0, "n * x1 * x1", "a11"), cs(0, "n * x2 * x2", "a22"),
        cs(0, "n * x1 * x2", "a12"),
        cs(1, "n", "n1"), cs(1, "n * x1", "b1"), cs(1, "n * x2", "b2"),
        cs(1, "n * x1 * x1", "b11"), cs(1, "n * x2 * x2", "b22"),
        cs(1, "n * x1 * x2", "b12"))
      val params = suff.select(col("*"),
          expr("""(CAST(a11 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n0
            | + CAST(b11 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n1)
            | / (CAST(n0 + n1 AS DOUBLE) - 2.0D)""".stripMargin).as("sa"),
          expr("""(CAST(a22 AS DOUBLE) - CAST(a2 AS DOUBLE) * a2 / n0
            | + CAST(b22 AS DOUBLE) - CAST(b2 AS DOUBLE) * b2 / n1)
            | / (CAST(n0 + n1 AS DOUBLE) - 2.0D)""".stripMargin).as("sb"),
          expr("""(CAST(a12 AS DOUBLE) - CAST(a1 AS DOUBLE) * a2 / n0
            | + CAST(b12 AS DOUBLE) - CAST(b1 AS DOUBLE) * b2 / n1)
            | / (CAST(n0 + n1 AS DOUBLE) - 2.0D)""".stripMargin).as("sc"),
          expr("CAST(b1 AS DOUBLE) / n1 - CAST(a1 AS DOUBLE) / n0")
            .as("d1"),
          expr("CAST(b2 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n0")
            .as("d2"))
        .select(col("*"),
          expr("(sb * d1 - sc * d2) / (sa * sb - sc * sc)").as("w1"),
          expr("(sa * d2 - sc * d1) / (sa * sb - sc * sc)").as("w2"))
        .select(col("n0"), col("n1"), col("w1"), col("w2"), expr(
          """w1 * (CAST(a1 AS DOUBLE) / n0 + CAST(b1 AS DOUBLE) / n1)
            | / 2.0D +
            |w2 * (CAST(a2 AS DOUBLE) / n0 + CAST(b2 AS DOUBLE) / n1)
            | / 2.0D""".stripMargin).as("c"))
      val score = "w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) > c"
      cells.crossJoin(broadcast(params))
        .agg(
          sum(when(col("y") === 1L && expr(score), col("n"))
            .otherwise(0L)).as("tp"),
          sum(when(col("y") === 0L && expr(score), col("n"))
            .otherwise(0L)).as("fp"),
          sum(when(col("y") === 1L && !expr(score), col("n"))
            .otherwise(0L)).as("fn"),
          sum(when(col("y") === 0L && !expr(score), col("n"))
            .otherwise(0L)).as("tn"),
          first("n0").as("n0"), first("n1").as("n1"),
          first("w1").as("w1"), first("w2").as("w2"),
          first("c").as("c"))
        .select((col("n0") + col("n1")).as("n_rows"),
          (round(col("w1"), 9) + lit(0.0)).as("w_qty"),
          (round(col("w2"), 9) + lit(0.0)).as("w_disc"),
          (round(col("c"), 9) + lit(0.0)).as("threshold"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          round(expr("CAST(tp + tn AS DOUBLE) / (n0 + n1)"), 6)
            .as("accuracy"))
    },

    // 1-D WASSERSTEIN (EARTH-MOVER) DRIFT per event_type vs the rest —
    // W₁ = ∫|F_A − F_B| dx, the drift number that (unlike q_ks_test's
    // sup-norm or q_psi_drift's binned score) weighs HOW FAR mass moved,
    // not just that it moved; the metric behind t-closeness and
    // distribution-shift monitors. EXACT, no binning: values are
    // cent-quantized (the synthetic stream is 2-decimal already, so the
    // quantization is lossless), CDFs are integer cumulative counts over
    // the merged support, and each trapezoid term |cumA·n_B − cumB·n_A|·Δv
    // is an exact DECIMAL(38,0) product — the summation is order-FREE, so
    // no sorted-fold detour is needed; doubles appear only in the final
    // two divisions (identical expression tree in the oracle). The KS
    // statistic falls out of the same pass as a max — a free cross-check
    // against q_ks_test's machinery. Scale: two hash aggs + a |types|-way
    // broadcast grid over the cent-bounded support (≤49k rows per type
    // REGARDLESS of row count — the domain, not the data, sizes the
    // window), one narrow per-type window pass. The decimal casts before
    // the cum-products are deliberate: at 10¹² events cumA·n_B overflows
    // BIGINT but not DECIMAL(38,0).
    "q_wasserstein_drift" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val ev = t(s, dir, "events")
        .select(col("event_type").as("et"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val perTv = ev.groupBy("et", "v").agg(count(lit(1)).as("ca"))
      val perV = ev.groupBy("v").agg(count(lit(1)).as("ct"))
      val perT = ev.groupBy("et").agg(count(lit(1)).as("nt"))
      val tot = ev.agg(count(lit(1)).as("n_all"))
      val grid = perV.crossJoin(broadcast(perT.crossJoin(tot)))
        .join(perTv, Seq("et", "v"), "left")
        .withColumn("ca", coalesce(col("ca"), lit(0L)))
        .withColumn("cb", col("ct") - col("ca"))
      val w = W.partitionBy("et").orderBy("v")
      val dec38 = DecimalType(38, 0)
      val stepped = grid
        .withColumn("cuma", sum("ca").over(w))
        .withColumn("cumb", sum("cb").over(w))
        .withColumn("dv",
          coalesce(lead("v", 1).over(w) - col("v"), lit(0L)))
        .withColumn("dnum",
          abs(col("cuma").cast(dec38) * (col("n_all") - col("nt")).cast(dec38)
            - col("cumb").cast(dec38) * col("nt").cast(dec38)))
      stepped.groupBy("et")
        .agg(first("nt").as("n_type"), first("n_all").as("n_all"),
          sum(col("dnum") * col("dv").cast(dec38)).as("dsum"),
          max("dnum").as("dmax"))
        .select(col("et").as("event_type"), col("n_type"),
          round(expr("CAST(dsum AS DOUBLE) / (CAST(n_type AS DOUBLE) * " +
            "CAST(n_all - n_type AS DOUBLE)) / 100.0D"), 6)
            .as("w1_vs_rest"),
          round(expr("CAST(dmax AS DOUBLE) / (CAST(n_type AS DOUBLE) * " +
            "CAST(n_all - n_type AS DOUBLE))"), 6).as("ks_stat"))
        .orderBy("event_type")
    },

    // t-CLOSENESS privacy audit (Li, Li & Venkatasubramanian 2007 — the
    // third rung of the k-anonymity ladder: q_k_anonymity checks group
    // SIZE, l-diversity checks sensitive-value VARIETY, t-closeness
    // checks that each quasi-identifier group's sensitive DISTRIBUTION
    // stays within EMD t of the global one — the audit that catches a
    // group whose 10 distinct balances are all "broke"). Sensitive
    // attribute = acctbal in 10 fixed $1,100 bands computed by EXACT
    // integer division on cents (no data-dependent quantiles — the
    // banding must not itself leak); ordered-attribute EMD = Σᵢ|cumP −
    // cumQ| / (m−1) with the q_wasserstein_drift integer-product trick,
    // so the only doubles are the final division tree. Scale: the grid
    // is |QI groups| × 10 rows built from broadcast band totals — the
    // corpus is touched by exactly one hash agg; DECIMAL(38,0) products
    // keep the cum terms exact past 10¹⁰ customers.
    "q_t_closeness" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val cust = t(s, dir, "customer")
        .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
          expr("least(9L, greatest(0L, (CAST(round(c_acctbal * 100) " +
            "AS BIGINT) + 100000L) div 110000L))").as("band"))
      val gb = cust.groupBy("nk", "seg", "band").agg(count(lit(1)).as("ng"))
      val glob = cust.groupBy("band").agg(count(lit(1)).as("nb"))
      val grp = cust.groupBy("nk", "seg").agg(count(lit(1)).as("k"),
        countDistinct("band").as("l_distinct"))
      val tot = cust.agg(count(lit(1)).as("n_all"))
      val bands = s.range(0, 10).select(col("id").as("band"))
      val dec38 = DecimalType(38, 0)
      val grid = grp.crossJoin(broadcast(bands))
        .join(broadcast(glob), Seq("band"), "left")
        .join(gb, Seq("nk", "seg", "band"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("ng", coalesce(col("ng"), lit(0L)))
        .withColumn("nb", coalesce(col("nb"), lit(0L)))
      val w = W.partitionBy("nk", "seg").orderBy("band")
      grid.withColumn("cumg", sum("ng").over(w))
        .withColumn("cumb", sum("nb").over(w))
        .filter(col("band") < 9)
        .withColumn("dnum",
          abs(col("cumg").cast(dec38) * col("n_all").cast(dec38)
            - col("cumb").cast(dec38) * col("k").cast(dec38)))
        .groupBy("nk", "seg")
        .agg(first("k").as("k"), first("l_distinct").as("l_distinct"),
          sum("dnum").as("dsum"), first("n_all").as("n_all"))
        .select(col("nk").as("c_nationkey"), col("seg").as("c_mktsegment"),
          col("k"), col("l_distinct"),
          round(expr("CAST(dsum AS DOUBLE) / (CAST(k AS DOUBLE) * " +
            "CAST(n_all AS DOUBLE)) / 9.0D"), 6).as("t_emd"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // QUANTILE (MEDIAN / LAD) REGRESSION per return flag — price ~
    // quantity under the L1 loss OLS can't give: the median fit a robust
    // pipeline reports when the tail (q_hill_tail's α) says means are
    // fragile. IRLS with 8 unrolled rounds: wᵢ = 1/max($1, |rᵢ|)
    // re-derives the LAD estimate as a sequence of weighted least
    // squares. The cross-engine contract is the q_kcenter_select integer
    // trick applied to WEIGHTS: residuals are floor-quantized to cents
    // (floor, not round — no half-way rounding-mode trap), the weight is
    // the exact BIGINT 10⁸ div max(100, |r_cents|), and every weighted
    // sufficient statistic is an EXACT integer sum of per-row BIGINT
    // products (w·x·y ≤ 6·10¹⁴) — summed as three 21-bit-chunk LONG
    // sums recombined into the DECIMAL(38,0) total (see
    // quantileRegressionPlan) — partial-aggregation order can't
    // perturb them, so each round's (a, b) doubles are bit-equal to the
    // oracle's and the NEXT round sees identical weights: the whole
    // 8-round trajectory is deterministic, not just the fixed point.
    // Scale: 8 linear passes over a persisted 3-column projection, each
    // a broadcast join against the 3-row parameter table + one map-side-
    // combined agg — no shuffle grows with rounds; the ≤3-row result is
    // materialized eagerly so the finally-unpersist can't strand a lazy
    // plan against an evicted cache.
    "q_quantile_regression" -> { (s, dir) =>
      val li = quantileRegressionInput(s, dir).persist()
      // eager ≤3-row materialization before li leaves the cache; PlanSpec
      // pins the broadcast-join shape on the LAZY plan via the helper
      try quantileRegressionPlan(li).localCheckpoint(true)
      finally { li.unpersist(); () }
    },

    // MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016 — the
    // model-based answer to q_attribution's positional and
    // q_shapley_attribution's cooperative heuristics: delete channel c
    // from the journey chain, recompute P(conversion), and credit c
    // with the drop): q_absorbing_chain's first-journey transition
    // counts and (I−Q)⁻¹ cofactor algebra, PLUS the start distribution
    // π from each user's first event; removal ≠ renormalization — paths
    // into the deleted state are LOST (the 2×2 minor chain), so effects
    // are nonnegative by construction. Every probability divides exact
    // BIGINTs and the cofactor trees are the SAME generated text on
    // both engines (fundN / markovRemoved). Scale: two corpus window
    // passes collapse to one 18-column row; everything after is scalar.
    "q_markov_attribution" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = t(s, dir, "events")
      val srcs = chainStates.take(3)
      val fc = ev
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .agg(srcs.zipWithIndex.map { case ((sn, _), i) =>
          sum(when(col("event_type") === sn, 1L).otherwise(0L))
            .as(s"f${i + 1}")
        }.head, srcs.zipWithIndex.tail.map { case ((sn, _), i) =>
          sum(when(col("event_type") === sn, 1L).otherwise(0L))
            .as(s"f${i + 1}")
        }: _*)
      val one = chainCounts(ev).crossJoin(broadcast(fc))
      val probs = chainProbs ++ (1 to 3).map(i =>
        expr(s"CAST(f$i AS DOUBLE) / CAST(f1 + f2 + f3 AS DOUBLE)")
          .as(s"pi$i"))
      val base = one.select(probs: _*)
      val fin = base.select(col("*") +: (1 to 3).flatMap(i =>
        (1 to 3).map(j => expr(fundN(i, j)).as(s"nn$i$j"))): _*)
        .withColumn("p_full", expr(markovFull))
      val fin2 = (1 to 3).foldLeft(fin) { (df, k) =>
        df.withColumn(s"prm$k", expr(markovRemoved(k)))
      }
      val fin3 = (1 to 3).foldLeft(fin2) { (df, k) =>
        df.withColumn(s"eff$k", expr(s"(p_full - prm$k) / p_full"))
      }
      fin3.select(expr(srcs.zipWithIndex.map { case ((sn, _), k) =>
          val i = k + 1
          s"'$sn', round(p_full, 6), round(prm$i, 6), round(eff$i, 6), " +
            s"round(eff$i / (eff1 + eff2 + eff3), 6)"
        }.mkString("stack(3,\n", ",\n",
          ")\nAS (channel, p_purchase_full, p_purchase_removed, " +
            "removal_effect, attribution)")))
        .orderBy("channel")
    },

    // RESTRICTED MEAN SURVIVAL TIME (Royston & Parmar 2013 — the
    // model-free "average days survived in the first τ" readout
    // clinicians and retention teams quote when q_kaplan_meier's curve
    // is the input and a single comparable number is the output; robust
    // where median survival is undefined): RMST(τ) = ∫₀^τ S(t)dt over
    // the KM step function, evaluated at τ = 30 and 60 days. The fold
    // carries [prod, area, prev] as a DOUBLE ARRAY accumulator (the
    // q_holt_winters array-not-struct rule for DuckDB's list_reduce)
    // over the dur-sorted life table — each KM factor is one correctly
    // rounded division of exact integers, each trapezoid S·Δt uses the
    // identical least()-clamped tree in both engines, and the post-fold
    // tail term extends the last step to τ. Scale: identical to KM —
    // two user-keyed aggs, then life-table-sized scalar work.
    "q_rmst" -> { (s, dir) =>
      val lrow = lifeTable(s, dir)
        .agg(sort_array(collect_list(array(
          col("dur").cast(DoubleType), col("d").cast(DoubleType),
          col("n_risk").cast(DoubleType)))).as("l"))
      def taued(tau: Int): DataFrame = {
        val tc = s"CAST($tau AS DOUBLE)"
        lrow
          .withColumn("st", expr(
            s"""aggregate(l,
               |  array(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE),
               |    CAST(0 AS DOUBLE)),
               |  (a, el) -> array(
               |    element_at(a, 1) * (CAST(1 AS DOUBLE)
               |      - element_at(el, 2) / element_at(el, 3)),
               |    element_at(a, 2) + element_at(a, 1)
               |      * (least(element_at(el, 1), $tc)
               |        - least(element_at(a, 3), $tc)),
               |    element_at(el, 1)))""".stripMargin))
          .select(
            lit(tau.toLong).as("tau_days"),
            round(expr(s"element_at(st, 2) + element_at(st, 1) * " +
              s"($tc - least(element_at(st, 3), $tc))"), 6)
              .as("rmst_days"),
            round(expr(
              s"""aggregate(filter(l, el -> element_at(el, 1) <= $tc),
                 |  CAST(1 AS DOUBLE), (a, el) -> a * (CAST(1 AS DOUBLE)
                 |    - element_at(el, 2) / element_at(el, 3)))"""
                .stripMargin), 6).as("survival_at_tau"))
      }
      taued(30).unionByName(taued(60)).orderBy("tau_days")
    },

    // COCHRAN–MANTEL–HAENSZEL stratified association (Mantel & Haenszel
    // 1959 — the FIX for the paradox q_simpson_audit exhibits: test the
    // exposure→outcome link while CONTROLLING for the stratum, and pool
    // the odds ratio the stratification-robust way): 2×2×K table over
    // exposure = quantity > 25, outcome = returned, strata = the order's
    // priority (5 strata). Per-stratum cells are exact BIGINTs from ONE
    // hash agg over the order join; the χ²_CMH numerator Σ(aₖ−Eₖ),
    // variance ΣVₖ and both Mantel-Haenszel OR sums fold a K-sorted
    // struct list with a 4-slot DOUBLE-ARRAY accumulator (the house
    // sorted-fold — 5 elements, identical IEEE order both engines).
    // The cells are pre-cast to DOUBLE BEFORE the fold so the stepwise
    // additions (e.a + e.b + e.c + e.d, left-assoc doubles) are the
    // SAME tree DuckDB's list_reduce evaluates — that shared tree, not
    // exactness, carries the cross-engine contract once any
    // intermediate sum passes 2⁵³ (~9·10¹⁵ rows/stratum).
    // Continuity-corrected χ² = (|Σ(aₖ−Eₖ)|−½)²/ΣVₖ. Scale: one
    // broadcast-dim join + one 5-row rollup; the fold is constant work.
    "q_cmh" -> { (s, dir) =>
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("k"),
          (col("l_quantity") > 25).as("ex"),
          (col("l_returnflag") === "R").as("out"))
      val cells = j.groupBy("k").agg(
        sum(when(col("ex") && col("out"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ex") && !col("out"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ex") && col("out"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ex") && !col("out"), 1L).otherwise(0L)).as("d"))
      val folded = cells
        .agg(sort_array(collect_list(struct(col("k"),
          col("a").cast(DoubleType).as("a"),
          col("b").cast(DoubleType).as("b"),
          col("c").cast(DoubleType).as("c"),
          col("d").cast(DoubleType).as("d")))).as("l"))
        .withColumn("st", expr(
          """aggregate(l,
            |  array(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
            |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
            |  (acc, e) -> array(
            |    element_at(acc, 1) + (e.a
            |      - (e.a + e.b) * (e.a + e.c)
            |        / (e.a + e.b + e.c + e.d)),
            |    element_at(acc, 2)
            |      + ((e.a + e.b) * (e.c + e.d))
            |      * ((e.a + e.c) * (e.b + e.d))
            |      / (((e.a + e.b + e.c + e.d)
            |        * (e.a + e.b + e.c + e.d))
            |        * ((e.a + e.b + e.c + e.d)
            |          - CAST(1 AS DOUBLE))),
            |    element_at(acc, 3) + e.a * e.d
            |      / (e.a + e.b + e.c + e.d),
            |    element_at(acc, 4) + e.b * e.c
            |      / (e.a + e.b + e.c + e.d)))""".stripMargin))
        .select(
          round(expr("(abs(element_at(st, 1)) - CAST(0.5 AS DOUBLE)) " +
            "* (abs(element_at(st, 1)) - CAST(0.5 AS DOUBLE)) " +
            "/ element_at(st, 2)"), 6).as("cmh_chi2"),
          round(expr("element_at(st, 3) / element_at(st, 4)"), 6)
            .as("or_mh"))
      cells.crossJoin(broadcast(folded))
        .select(col("k").as("o_orderpriority"), col("a"), col("b"),
          col("c"), col("d"),
          round(expr("CASE WHEN b > 0 AND c > 0 THEN " +
            "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) " +
            "/ (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END"), 6)
            .as("or_stratum"),
          col("cmh_chi2"), col("or_mh"))
        .orderBy("o_orderpriority")
    },

    // MEDIATION ANALYSIS (Baron & Kenny 1986 + Sobel 1982 — the causal
    // decomposition beside q_did_estimator and q_ipw_estimator: how much
    // of quantity's price effect flows THROUGH the discount?): three
    // exact-sufficient-statistic regressions per return flag — total
    // effect c (y~x), path a (m~x), and the 2-predictor fit y~x+m whose
    // centered 2×2 normal equations invert in closed form (the
    // q_fisher_lda algebra) giving direct c′ and path b; Sobel
    // z = ab/√(b²s_a² + a²s_b²) with the textbook standard errors from
    // residual variances. Every sufficient statistic is exact (x, m in
    // integral units — quantity, discount basis points — y in cents;
    // DECIMAL(38,0) sums), so the entire double tree is shared with the
    // oracle. Scale: ONE map-side-combined agg per group; everything
    // after is scalar algebra on ≤3 rows.
    "q_mediation" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          col("l_quantity").cast(LongType).as("x"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("m"),
          (money(col("l_extendedprice")) * 100).cast(LongType).as("y"))
      val dec38 = DecimalType(38, 0)
      def sd(c: Column) = sum(c.cast(dec38))
      val g = li.groupBy("rf").agg(
        count(lit(1)).as("n"),
        sd(col("x")).as("sx"), sd(col("m")).as("sm"), sd(col("y")).as("sy"),
        sd(col("x") * col("x")).as("sxx"),
        sd(col("m") * col("m")).as("smm"),
        sd(col("x") * col("m")).as("sxm"),
        sd(col("x") * col("y")).as("sxy"),
        sd(col("m") * col("y")).as("smy"),
        sd(col("y") * col("y")).as("syy"))
      // centered second moments (exact-integer numerators over n)
      val cent = g.select(col("rf"), col("n"),
        expr("CAST(n AS DOUBLE)").as("dn"),
        expr("CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("cxx"),
        expr("CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)").as("cmm"),
        expr("CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)").as("cxm"),
        expr("CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cxy"),
        expr("CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cmy"),
        expr("CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cyy"))
      cent
        .withColumn("c_tot", expr("cxy / cxx"))
        .withColumn("aa", expr("cxm / cxx"))
        .withColumn("det", expr("cxx * cmm - cxm * cxm"))
        .withColumn("cp", expr("(cmm * cxy - cxm * cmy) / det"))
        .withColumn("bb", expr("(cxx * cmy - cxm * cxy) / det"))
        .withColumn("se_a2", expr(
          "((cmm - aa * cxm) / (dn - CAST(2 AS DOUBLE))) / cxx"))
        .withColumn("sig2", expr(
          "(cyy - cp * cxy - bb * cmy) / (dn - CAST(3 AS DOUBLE))"))
        .withColumn("se_b2", expr("sig2 * cxx / det"))
        .withColumn("sobel_z", expr(
          "aa * bb / sqrt(bb * bb * se_a2 + aa * aa * se_b2)"))
        .select(col("rf").as("l_returnflag"), col("n"),
          round(expr("c_tot / 100.0D"), 6).as("total_effect"),
          round(col("aa"), 6).as("path_a"),
          round(expr("bb / 100.0D"), 6).as("path_b"),
          round(expr("cp / 100.0D"), 6).as("direct_effect"),
          round(expr("aa * bb / 100.0D"), 6).as("indirect_effect"),
          round(col("sobel_z"), 6).as("sobel_z"),
          round(expr("aa * bb / c_tot"), 6).as("prop_mediated"))
        .orderBy("l_returnflag")
    },

    // ADAMIC-ADAR LINK PREDICTION (Adamic & Adar 2003 — the common-
    // neighbor score that weights each shared neighbor by 1/ln(degree),
    // so rare co-occurrences count more than hubs): which supplier
    // pairs, not yet co-supplying, are LIKELY to? Graph = the March-1995
    // supplier–part bipartite month (q_connected_components' week graph,
    // widened so common neighbors exist). Candidate pairs come from the
    // co-neighbor self-join through parts with degree ∈ [2, 32] — the
    // hub cap is BOTH the standard AA practice (1/ln(d) of a hub ≈ no
    // signal) and the scale guard: pair volume is ≤ cap²/2 per part, so
    // candidates grow linearly in parts, never n². Consequence, named
    // honestly in the output: n_common_capped counts only common
    // neighbors INSIDE the [2,32] cap, and a pair sharing only hub
    // parts is absent entirely — that is the candidate-generation
    // semantics, not the true common-neighbor count. The score folds
    // each pair's DEGREE LIST sorted ascending (the house sorted-fold —
    // both engines sum 1/ln(d) in the identical IEEE order).
    "q_adamic_adar" -> { (s, dir) =>
      val e0 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1995-03-01 00:00:00") &&
          col("l_shipdate") < ts("1995-04-01 00:00:00"))
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val deg = e0.groupBy("pk").agg(count(lit(1)).as("deg"))
        .filter(col("deg").between(2, 32))
      e0.select(col("pk"), col("sk").as("s_a"))
        .join(e0.select(col("pk"), col("sk").as("s_b")), "pk")
        .filter(col("s_a") < col("s_b"))
        .join(deg, "pk")
        .groupBy("s_a", "s_b")
        .agg(count(lit(1)).as("n_common_capped"),
          expr("aggregate(array_sort(collect_list(deg)), " +
            "CAST(0 AS DOUBLE), (acc, d) -> acc + CAST(1 AS DOUBLE) " +
            "/ ln(CAST(d AS DOUBLE)))").as("aa_raw"))
        .select(col("s_a"), col("s_b"), col("n_common_capped"),
          round(col("aa_raw"), 6).as("aa_score"))
        .orderBy("s_a", "s_b")
    },

    // PAIRED PERMUTATION TEST (Fisher 1935 randomization, the exact-
    // inference sibling of q_welch_ttest/q_mann_whitney that assumes
    // NOTHING about the distribution): does a user's mean click value
    // differ from their mean view value? Per qualifying user the paired
    // difference quantizes to centi-cents by an EXACT integer tree
    // (BIGINT sums, one floor(double)); the null distribution is 200
    // DETERMINISTIC sign flips — flip k negates user u iff the house
    // md5 hash of "u_k" is odd, so both engines draw the identical
    // "random" signs with no RNG — and every T statistic is an exact
    // BIGINT sum (order-free). p = (1 + #{|Tk| ≥ |T0|}) / 201, the
    // add-one permutation p-value. Scale: one corpus hash agg to the
    // per-user row, then users × 201 map-side products into a 201-key
    // agg — the flips never touch the corpus again.
    "q_permutation_test" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"),
          (col("event_type") === "click").as("isc"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id").agg(
          sum(when(col("isc"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("isc"), col("cents")).otherwise(0L)).as("sc"),
          sum(when(col("isc"), 0L).otherwise(1L)).as("nv"),
          sum(when(col("isc"), 0L).otherwise(col("cents"))).as("sv"))
        .filter(col("nc") > 0 && col("nv") > 0)
        .withColumn("d", expr(
          "CAST(floor(CAST((sc * nv - sv * nc) * 100 AS DOUBLE) " +
            "/ CAST(nc * nv AS DOUBLE)) AS BIGINT)"))
      val nu = per.agg(count(lit(1)).as("n_users"))
      val ks = s.range(0, 201).select(col("id").as("k"))
      val ts0 = per.select("user_id", "d").crossJoin(broadcast(ks))
        .withColumn("sgn", expr(
          "CASE WHEN k = 0 THEN CAST(1 AS BIGINT) ELSE 1 - 2 * " +
            s"(${hExpr("concat(CAST(user_id AS STRING), '_', CAST(k AS STRING))")} % 2) " +
            "END"))
        .groupBy("k").agg(sum(col("sgn") * col("d")).as("t"))
      val t0 = ts0.filter(col("k") === 0).select(col("t").as("t0"))
      ts0.filter(col("k") > 0).crossJoin(broadcast(t0))
        .agg(first("t0").as("t0"),
          sum(when(abs(col("t")) >= abs(col("t0")), 1L).otherwise(0L))
            .as("n_extreme"))
        .crossJoin(broadcast(nu))
        .select(col("n_users"),
          round(expr("CAST(t0 AS DOUBLE) / 100"), 6).as("t_obs_cents"),
          col("n_extreme"),
          round(expr("(n_extreme + 1) / CAST(201 AS DOUBLE)"), 6)
            .as("p_value"))
    })

  /** q_quantile_regression's 3-column projection (rf, quantity, price
    * cents) — factored so the public query can persist it and PlanSpec
    * can rebuild the lazy pipeline on an unpersisted copy. */
  private[graft] def quantileRegressionInput(s: SparkSession,
      dir: String): DataFrame =
    // spread AFTER the projection: the single-file testdata scan yields one
    // split, which would serialize all 10 IRLS passes on one core; shuffling
    // only the 3 projected columns keeps the one-off cost minimal, and on a
    // cluster (scan splits ≥ cores) the repartition is a no-op. Decimal-exact
    // sums make the result partitioning-independent by construction.
    Tables.spread(t(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").cast(LongType).as("x"),
        (money(col("l_extendedprice")) * 100).cast(LongType).as("y")))

  /** The LAZY 8-round IRLS pipeline over `li` (see the q_quantile_
    * regression Scaladoc). The public query materializes this eagerly
    * inside its persist scope (which collapses the visible plan to the
    * checkpoint scan), so PlanSpec pins the broadcast-join strategy
    * HERE — the q_importance_resample factoring discipline. */
  private[graft] def quantileRegressionPlan(li: DataFrame): DataFrame = {
    // EXACT sufficient statistics WITHOUT per-row BigDecimal updates: a
    // sum(CAST(v AS DECIMAL(38,0))) runs a java.math.BigDecimal add per
    // row once precision exceeds 18 (Spark's compact-long decimal stops
    // at 18 digits), and QProf r19 measured the 10 IRLS decimal-sum
    // passes at ~1.2-2.0 s task time EACH — the whole query's cost.
    // Each nonnegative BIGINT product v (≤ 5.5e14, see the Scaladoc
    // bound) splits into three 21-bit chunks, v = c2·2⁴² + c1·2²¹ + c0;
    // the chunk sums codegen as primitive LONG adds and recombine into
    // the IDENTICAL DECIMAL(38,0) integer on the ≤3-row result (Scratch
    // A/B: equal=true, warm task time 2.1 → 0.4 s per pass). Exactness:
    // chunks < 2²¹, so a chunk sum reaches 2⁶³ only past ~4.4e12 rows
    // per group (100 TB lineitem ≈ 6e11) — and Spark ANSI sum(BIGINT)
    // throws on overflow rather than wrapping, so the bound is loud.
    def chunkSums(name: String, v: String): Seq[Column] = Seq(
      sum(expr(s"shiftright($v, 42)")).as(s"${name}_c2"),
      sum(expr(s"(shiftright($v, 21)) & 2097151")).as(s"${name}_c1"),
      sum(expr(s"($v) & 2097151")).as(s"${name}_c0"))
    def recomb(name: String): Column = expr(
      s"CAST(CAST(${name}_c2 AS DECIMAL(38,0)) * 4398046511104 + " +
        s"CAST(${name}_c1 AS DECIMAL(38,0)) * 2097152 + " +
        s"CAST(${name}_c0 AS DECIMAL(38,0)) AS DECIMAL(38,0))").as(name)
    val wstats = Seq("sw" -> "wt", "swx" -> "wt * x", "swxx" -> "wt * x * x",
      "swy" -> "wt * y", "swxy" -> "wt * x * y")
    def wsums(df: DataFrame): DataFrame = {
      val aggs = count(lit(1)).as("n") +:
        wstats.flatMap { case (n, v) => chunkSums(n, v) }
      df.groupBy("rf").agg(aggs.head, aggs.tail: _*)
        .select(col("rf") +: col("n") +: wstats.map(s => recomb(s._1)): _*)
    }
    def solve(sums: DataFrame): DataFrame = sums
      .withColumn("b", expr(
        """(CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
          | - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
          | / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
          | - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))""".stripMargin))
      .withColumn("a", expr(
        "(CAST(swy AS DOUBLE) - b * CAST(swx AS DOUBLE)) " +
          "/ CAST(sw AS DOUBLE)"))
      .select("rf", "n", "a", "b")
    // round 0 = OLS (wt ≡ 1), then 8 reweighted rounds. Each round's ≤3-row
    // parameter table is localCheckpoint'd (eager): without it the final
    // plan nests 9 broadcast subtrees (round k's params embed rounds
    // 0..k-1), and Catalyst planning + the serial broadcast-job chain cost
    // more than the aggregation passes themselves (QProf r18: 34 jobs,
    // parallelism 1.4×). The checkpoint changes nothing numerically — the
    // same exact-integer sufficient statistics feed the same double solve.
    var params = solve(wsums(li.withColumn("wt", lit(1L))))
      .localCheckpoint(true)
    val rcExpr = "greatest(100L, CAST(floor(abs(CAST(y AS DOUBLE) " +
      "- (a + b * CAST(x AS DOUBLE)))) AS BIGINT))"
    (1 to 8).foreach { _ =>
      val j = li.join(broadcast(params.select("rf", "a", "b")), "rf")
        .withColumn("wt", expr(s"100000000L div ($rcExpr)"))
      params = solve(wsums(j)).localCheckpoint(true)
    }
    li.join(broadcast(params), "rf")
      .withColumn("ar", expr("CAST(floor(abs(CAST(y AS DOUBLE) " +
        "- (a + b * CAST(x AS DOUBLE)))) AS BIGINT)"))
      .groupBy("rf")
      .agg(first("n").as("n"), (Seq(first("a").as("a"),
        first("b").as("b")) ++ chunkSums("sar", "ar")): _*)
      .select(col("rf"), col("n"), col("a"), col("b"), recomb("sar"))
      .select(col("rf").as("l_returnflag"), col("n"),
        round(expr("a / 100.0D"), 6).as("intercept"),
        round(expr("b / 100.0D"), 6).as("slope"),
        round(expr("CAST(sar AS DOUBLE) / CAST(n AS DOUBLE) / 100.0D"), 6)
          .as("mean_abs_resid"))
      .orderBy("l_returnflag")
  }

  /** q_boosted_stumps shared texts — the n-weighted model sum over the
    * cells at or left of candidate t, after stumps 1..m−1. `acc` renders
    * the N-cum map lookup per engine (Spark element_at returns the
    * value; DuckDB returns a 1-element list), `half` the ν literal. */
  private def boostFLeq(m: Int, nl: String, acc: String => String,
      half: String = "0.5D"): String = {
    val parts = Seq(s"f0 * CAST($nl AS DOUBLE)") ++ (1 until m).map { k =>
      val nk = s"CAST(${acc(s"least(t, t$k)")} AS DOUBLE)"
      s"$half * (l$k * $nk + r$k * (CAST($nl AS DOUBLE) - $nk))"
    }
    parts.mkString(" + ")
  }

  /** q_boosted_stumps: the n-weighted model sum over ALL cells. */
  private def boostFAll(m: Int, acc: String => String,
      half: String = "0.5D"): String = {
    val parts = Seq("f0 * CAST(ng AS DOUBLE)") ++ (1 until m).map { k =>
      val nk = s"CAST(${acc(s"t$k")} AS DOUBLE)"
      s"$half * (l$k * $nk + r$k * (CAST(ng AS DOUBLE) - $nk))"
    }
    parts.mkString(" + ")
  }

  /** q_boosted_stumps: F(p.x) after stumps 1..m, for the SSE fold. */
  private def boostF(m: Int, half: String = "0.5D"): String =
    (Seq("f0") ++ (1 to m).map { k =>
      s"$half * (CASE WHEN p.x <= t$k THEN l$k ELSE r$k END)"
    }).mkString(" + ")

  /** q_smith_waterman's DuckDB-oracle cell texts: the 12 cells of DP
    * row i, with element accessor `el` (DuckDB a[k]). The in-row left
    * dependency inlines textually; up/diag reference the previous row's
    * MATERIALIZED CTE columns. The Spark side runs the identical
    * all-integer recurrence as one aggregate() fold (r19) — same values
    * by integer exactness, none of the per-row analysis cost. */
  private[operators] def swRowExprs(i: Int,
      el: (String, Int) => String): Seq[(String, String)] = {
    var left = "CAST(0 AS BIGINT)"
    (1 to 12).map { j =>
      val sc = s"(CASE WHEN ${el("a", i)} = ${el("b", j)} " +
        "THEN 2 ELSE -1 END)"
      val diag = if (i == 1 || j == 1) "CAST(0 AS BIGINT)"
        else s"h${i - 1}_${j - 1}"
      val up = if (i == 1) "CAST(0 AS BIGINT)" else s"h${i - 1}_$j"
      val cell = s"greatest(CAST(0 AS BIGINT), $diag + $sc, $up - 1, " +
        s"($left) - 1)"
      left = cell
      (s"h${i}_$j", cell)
    }
  }

  /** Absorbing-chain states as (event_type, tag): the three transient
    * sources first, then the absorbing error and purchase. */
  private[graft] val chainStates = Seq("click" -> "c", "signup" -> "s",
    "view" -> "v", "error" -> "e", "purchase" -> "p")

  /** Shared absorbing-chain transitions (q_absorbing_chain +
    * q_markov_attribution — one censoring rule, so both readouts walk
    * the same chain): each user's successor over the (ts, event_id)
    * order, cut at the first absorption, counted into one row of
    * c_<src><dst> for the 3 × 5 (transient, any) state pairs. */
  private[graft] def chainCounts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val srcs = chainStates.take(3)
    val cnts = for ((sn, sa) <- srcs; (dn, da) <- chainStates) yield
      sum(when(col("src") === sn && col("dst") === dn, 1L)
        .otherwise(0L)).as(s"c_$sa$da")
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"),
        when(col("event_type").isin("purchase", "error"), 1L)
          .otherwise(0L).as("ab"))
      .withColumn("dst", lead("src", 1).over(w))
      .withColumn("abs_before", coalesce(sum("ab").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("dst").isNotNull && col("abs_before") === 0L &&
        col("ab") === 0L)
      .agg(cnts.head, cnts.tail: _*)
  }

  /** Over [[chainCounts]]' row: transient-to-transient probabilities
    * q<i><j> and absorption probabilities r<i>1 (error), r<i>2
    * (purchase), each an exact count over its source's row total. */
  private[graft] def chainProbs: Seq[Column] =
    chainStates.take(3).zipWithIndex.flatMap { case ((_, sa), i) =>
      val tot = s"CAST(c_${sa}c + c_${sa}s + c_${sa}v + c_${sa}e " +
        s"+ c_${sa}p AS DOUBLE)"
      chainStates.take(3).zipWithIndex.map { case ((_, da), j) =>
        expr(s"CAST(c_$sa$da AS DOUBLE) / ($tot)").as(s"q${i + 1}${j + 1}")
      } ++ Seq(
        expr(s"CAST(c_${sa}e AS DOUBLE) / ($tot)").as(s"r${i + 1}1"),
        expr(s"CAST(c_${sa}p AS DOUBLE) / ($tot)").as(s"r${i + 1}2"))
    }

  /** q_absorbing_chain: entry (i, j) of N = (I−Q)⁻¹ via the closed
    * 3×3 adjugate/determinant, as ENGINE-NEUTRAL SQL text over the
    * q11..q33 columns (CAST(1 AS DOUBLE), not 1.0D/::DOUBLE, so the
    * identical string runs in Spark and DuckDB). */
  private[operators] def fundN(i: Int, j: Int): String = {
    def m(a: Int, b: Int): String =
      if (a == b) s"(CAST(1 AS DOUBLE) - q$a$b)" else s"(- q$a$b)"
    def c2(a: Int, b: Int, c: Int, d: Int): String =
      s"(${m(a, b)} * ${m(c, d)} - ${m(a, d)} * ${m(c, b)})"
    val det = s"(${m(1, 1)} * ${c2(2, 2, 3, 3)} - ${m(1, 2)} * " +
      s"(${m(2, 1)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 1)}) + " +
      s"${m(1, 3)} * (${m(2, 1)} * ${m(3, 2)} - ${m(2, 2)} * ${m(3, 1)}))"
    // inverse entry (i, j) = cofactor C(j, i) / det
    val rows = Seq(1, 2, 3).filter(_ != j)
    val cols = Seq(1, 2, 3).filter(_ != i)
    val minor = s"(${m(rows(0), cols(0))} * ${m(rows(1), cols(1))} - " +
      s"${m(rows(0), cols(1))} * ${m(rows(1), cols(0))})"
    val sign = if ((i + j) % 2 == 0) "" else "- "
    s"($sign$minor) / $det"
  }

  /** q_markov_attribution: P(purchase) from the start distribution
    * through the FULL chain — Σᵢ πᵢ (N r₂)ᵢ over the fundN entries.
    * Engine-neutral text shared by the Spark expr and the oracle. */
  private[operators] def markovFull: String =
    (1 to 3).map(i => s"pi$i * (nn${i}1 * r12 + nn${i}2 * r22 " +
      s"+ nn${i}3 * r32)").mkString("(", " + ", ")")

  /** q_markov_attribution: P(purchase) with transient state k DELETED
    * (paths into k are lost, no renormalization) — the 2×2 minor
    * chain's (I−Q')⁻¹ applied to the remaining start mass. Same
    * generated text on both engines. */
  private[operators] def markovRemoved(k: Int): String = {
    def mm(i: Int, j: Int): String =
      if (i == j) s"(CAST(1 AS DOUBLE) - q$i$j)" else s"(- q$i$j)"
    val Seq(a, b) = Seq(1, 2, 3).filter(_ != k)
    val det = s"(${mm(a, a)} * ${mm(b, b)} - ${mm(a, b)} * ${mm(b, a)})"
    s"""(pi$a * ((${mm(b, b)} / $det) * r${a}2
       | + ((- ${mm(a, b)}) / $det) * r${b}2)
       | + pi$b * (((- ${mm(b, a)}) / $det) * r${a}2
       | + (${mm(a, a)} / $det) * r${b}2))""".stripMargin
  }

  /** Sakoe-Chiba band of q_dtw: legal j-range for row i. */
  private def dtwBand(i: Int): Range =
    math.max(1, i - 3) to math.min(12, i + 3)

  /** One banded-DP row of q_dtw as (column, expression) pairs. up/diag
    * reference the previous row's materialized COLUMNS; the in-row left
    * term inlines the previous cell's text (linear growth along the ≤7
    * cell band). `acc` renders series element access per engine. */
  private def dtwRowExprs(
      i: Int,
      acc: (String, Int) => String =
        (arr, k) => s"element_at($arr, $k)"): Seq[(String, String)] = {
    val texts = scala.collection.mutable.Map[Int, String]()
    dtwBand(i).map { j =>
      val cst = s"abs(${acc("a", i)} - ${acc("b", j)})"
      val terms = Seq(
        if (i > 1 && dtwBand(i - 1).contains(j)) Some(s"d${i - 1}_$j")
        else None,
        if (i > 1 && j - 1 >= 1 && dtwBand(i - 1).contains(j - 1))
          Some(s"d${i - 1}_${j - 1}")
        else None,
        if (j - 1 >= dtwBand(i).head) Some(texts(j - 1)) else None).flatten
      val e =
        if (terms.isEmpty) cst
        else if (terms.size == 1) s"($cst + ${terms.head})"
        else s"($cst + least(${terms.mkString(", ")}))"
      texts(j) = e
      s"d${i}_$j" -> e
    }
  }

  // ----------------------------------------------------------- oracle SQL

  /** q_pca_power's oracle: the same one-pass covariance stats, then the 8
    * power-iteration rounds unrolled as CTE pairs (w = Cv, v = w/|w|) with
    * the multiply-adds written in the same order as the Spark columns —
    * identical IEEE trees, so the unrounded intermediates match exactly.
    */
  private def pcaPowerOracle: String = {
    val stats =
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS p,
        |    CAST(CAST(l_discount AS DECIMAL(6,2)) * 100 AS BIGINT) AS d,
        |    CAST(CAST(l_tax AS DECIMAL(6,2)) * 100 AS BIGINT) AS x
        |  FROM lineitem),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(q*q) AS BIGINT) AS sqq,
        |    SUM(CAST(p AS DECIMAL(18,0)) * CAST(p AS DECIMAL(18,0)))
        |      AS spp,
        |    CAST(SUM(d*d) AS BIGINT) AS sdd,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(q*p) AS BIGINT) AS sqp,
        |    CAST(SUM(q*d) AS BIGINT) AS sqd,
        |    CAST(SUM(q*x) AS BIGINT) AS sqx,
        |    CAST(SUM(p*d) AS BIGINT) AS spd,
        |    CAST(SUM(p*x) AS BIGINT) AS spx,
        |    CAST(SUM(d*x) AS BIGINT) AS sdx
        |  FROM b)""".stripMargin
    def cv(sab: String, sa: String, sb: String) =
      s"(CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE) * $sb / n) / " +
        "(n - 1.0::DOUBLE)"
    val cov = s"""cov AS (
      |  SELECT ${cv("sqq", "sq", "sq")} AS c11,
      |    ${cv("sqp", "sq", "sp")} AS c12, ${cv("sqd", "sq", "sd")} AS c13,
      |    ${cv("sqx", "sq", "sx")} AS c14, ${cv("spp", "sp", "sp")} AS c22,
      |    ${cv("spd", "sp", "sd")} AS c23, ${cv("spx", "sp", "sx")} AS c24,
      |    ${cv("sdd", "sd", "sd")} AS c33, ${cv("sdx", "sd", "sx")} AS c34,
      |    ${cv("sxx", "sx", "sx")} AS c44
      |  FROM a WHERE n > 1),
      |it0 AS (
      |  SELECT *, 0.5::DOUBLE AS v1, 0.5::DOUBLE AS v2,
      |    0.5::DOUBLE AS v3, 0.5::DOUBLE AS v4 FROM cov)""".stripMargin
    val cNames = "c11, c12, c13, c14, c22, c23, c24, c33, c34, c44"
    val wExprs =
      """c11*v1 + c12*v2 + c13*v3 + c14*v4 AS w1,
        |    c12*v1 + c22*v2 + c23*v3 + c24*v4 AS w2,
        |    c13*v1 + c23*v2 + c33*v3 + c34*v4 AS w3,
        |    c14*v1 + c24*v2 + c34*v3 + c44*v4 AS w4""".stripMargin
    val iters = (1 to 8).map { i =>
      s"""w$i AS (
         |  SELECT $cNames, $wExprs
         |  FROM it${i - 1}),
         |it$i AS (
         |  SELECT $cNames,
         |    w1/sqrt(w1*w1 + w2*w2 + w3*w3 + w4*w4) AS v1,
         |    w2/sqrt(w1*w1 + w2*w2 + w3*w3 + w4*w4) AS v2,
         |    w3/sqrt(w1*w1 + w2*w2 + w3*w3 + w4*w4) AS v3,
         |    w4/sqrt(w1*w1 + w2*w2 + w3*w3 + w4*w4) AS v4
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
    val fin =
      """wf AS (
        |  SELECT $CN, $WE, v1, v2, v3, v4 FROM it8),
        |f AS (
        |  SELECT v1*w1 + v2*w2 + v3*w3 + v4*w4 AS lam,
        |    CASE WHEN v2 < 0 THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS sgn,
        |    v1, v2, v3, v4
        |  FROM wf)
        |SELECT round(lam, 6) AS eig_value,
        |  round(sgn * v1, 6) + 0.0::DOUBLE AS v_quantity,
        |  round(sgn * v2, 6) + 0.0::DOUBLE AS v_price,
        |  round(sgn * v3, 6) + 0.0::DOUBLE AS v_discount,
        |  round(sgn * v4, 6) + 0.0::DOUBLE AS v_tax
        |FROM f""".stripMargin
        .replace("$CN", cNames).replace("$WE", wExprs)
    s"$stats,\n$cov,\n$iters,\n$fin"
  }

  /** q_logistic_newton's oracle: the same (x, n, k) histogram collapsed to
    * one x-SORTED struct list, the same three Newton steps unrolled as CTE
    * triples (gradient/Hessian folds → det → update), every float sum a
    * list_reduce left fold over the SAME list order with the SAME term
    * trees as the Spark `aggregate(...)` HOFs — identical IEEE sequences,
    * so the unrounded coefficients match bit-for-bit before the 6dp
    * readout. */
  private def logisticNewtonOracle: String = {
    def fold(term: String): String =
      "list_reduce(list_concat([0.0::DOUBLE], list_transform(l, " +
        s"p -> ($term))), (a, b) -> a + b)"
    val sig =
      "1.0::DOUBLE / (1.0::DOUBLE + exp(-(b0 + b1 * CAST(p.x AS DOUBLE))))"
    val steps = (1 to 3).map { i =>
      val prev = if (i == 1) "base" else s"s${i - 1}"
      s"""s${i}a AS (
         |  SELECT n_rows, l, b0, b1,
         |    ${fold(s"CAST(p.k AS DOUBLE) - p.n * $sig")} AS g1,
         |    ${fold(s"(CAST(p.k AS DOUBLE) - p.n * $sig) * p.x")} AS g2,
         |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig)")} AS h11,
         |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig) * p.x")} AS h12,
         |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig) * p.x * p.x")}
         |      AS h22
         |  FROM $prev),
         |s${i}b AS (
         |  SELECT n_rows, l, b0, b1, g1, g2, h11, h12, h22,
         |    h11 * h22 - h12 * h12 AS det
         |  FROM s${i}a),
         |s$i AS (
         |  SELECT n_rows, l,
         |    b0 + (h22 * g1 - h12 * g2) / det AS b0,
         |    b1 + (h11 * g2 - h12 * g1) / det AS b1
         |  FROM s${i}b)""".stripMargin
    }.mkString(",\n")
    val ll = fold(
      "CAST(p.k AS DOUBLE) * (b0 + b1 * CAST(p.x AS DOUBLE)) " +
        "- p.n * ln(1.0::DOUBLE + exp(b0 + b1 * CAST(p.x AS DOUBLE)))")
    s"""WITH hist AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k
       |  FROM lineitem GROUP BY x),
       |base AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       |    list(struct_pack(x := x, n := n, k := k) ORDER BY x) AS l,
       |    0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1
       |  FROM hist),
       |$steps
       |SELECT n_rows, round(b0, 6) AS intercept, round(b1, 6) AS slope,
       |  round($ll, 6) AS log_lik
       |FROM s3""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // same exact 2×2×K cells, same K-sorted 4-slot array-accumulator
    // fold — cells are pre-cast to DOUBLE before the fold on BOTH
    // engines, so the stepwise add/product/division trees are identical
    "q_cmh" ->
      """WITH j AS (
        |  SELECT o.o_orderpriority AS k, l.l_quantity > 25 AS ex,
        |    l.l_returnflag = 'R' AS outc
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |cells AS (
        |  SELECT k,
        |    CAST(SUM(CASE WHEN ex AND outc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM j GROUP BY k),
        |lst AS (
        |  SELECT list([CAST(a AS DOUBLE), CAST(b AS DOUBLE),
        |    CAST(c AS DOUBLE), CAST(d AS DOUBLE)] ORDER BY k) AS l
        |  FROM cells),
        |f AS (
        |  SELECT list_reduce(list_concat(
        |    [[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |      CAST(0 AS DOUBLE)]], l),
        |    (acc, e) -> [
        |      acc[1] + (e[1] - (e[1] + e[2]) * (e[1] + e[3])
        |        / (e[1] + e[2] + e[3] + e[4])),
        |      acc[2] + ((e[1] + e[2]) * (e[3] + e[4]))
        |        * ((e[1] + e[3]) * (e[2] + e[4]))
        |        / (((e[1] + e[2] + e[3] + e[4])
        |          * (e[1] + e[2] + e[3] + e[4]))
        |          * ((e[1] + e[2] + e[3] + e[4]) - CAST(1 AS DOUBLE))),
        |      acc[3] + e[1] * e[4] / (e[1] + e[2] + e[3] + e[4]),
        |      acc[4] + e[2] * e[3] / (e[1] + e[2] + e[3] + e[4])])
        |    AS st
        |  FROM lst),
        |sc AS (
        |  SELECT round((abs(st[1]) - CAST(0.5 AS DOUBLE))
        |      * (abs(st[1]) - CAST(0.5 AS DOUBLE)) / st[2], 6)
        |      AS cmh_chi2,
        |    round(st[3] / st[4], 6) AS or_mh
        |  FROM f)
        |SELECT k AS o_orderpriority, a, b, c, d,
        |  round(CASE WHEN b > 0 AND c > 0 THEN
        |    (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
        |    / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END, 6)
        |    AS or_stratum,
        |  cmh_chi2, or_mh
        |FROM cells CROSS JOIN sc ORDER BY o_orderpriority""".stripMargin,

    // same month graph, same [2,32] degree cap, same ascending-degree
    // sorted fold of 1/ln(d)
    "q_adamic_adar" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'),
        |deg AS (
        |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY pk
        |  HAVING COUNT(*) BETWEEN 2 AND 32),
        |pr AS (
        |  SELECT a.sk AS s_a, b.sk AS s_b, d.deg
        |  FROM e0 a JOIN e0 b USING (pk) JOIN deg d USING (pk)
        |  WHERE a.sk < b.sk)
        |SELECT s_a, s_b, CAST(COUNT(*) AS BIGINT) AS n_common_capped,
        |  round(list_reduce(list_concat([CAST(0 AS DOUBLE)],
        |    list_transform(list(deg ORDER BY deg),
        |      d -> CAST(1 AS DOUBLE) / ln(CAST(d AS DOUBLE)))),
        |    (x, y) -> x + y), 6) AS aa_score
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same exact centi-cent paired differences, same md5 "u_k" parity
    // sign draws, same exact BIGINT T sums
    "q_permutation_test" ->
      """WITH ev AS (
        |  SELECT user_id, event_type = 'click' AS isc,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view')),
        |per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN isc THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN isc THEN cents ELSE 0 END) AS BIGINT) AS sc,
        |    CAST(SUM(CASE WHEN isc THEN 0 ELSE 1 END) AS BIGINT) AS nv,
        |    CAST(SUM(CASE WHEN isc THEN 0 ELSE cents END) AS BIGINT) AS sv
        |  FROM ev GROUP BY 1
        |  HAVING SUM(CASE WHEN isc THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN isc THEN 0 ELSE 1 END) > 0),
        |du AS (
        |  SELECT user_id, CAST(floor(CAST((sc * nv - sv * nc) * 100
        |    AS DOUBLE) / CAST(nc * nv AS DOUBLE)) AS BIGINT) AS d
        |  FROM per),
        |fl AS (
        |  SELECT k.k, du.user_id,
        |    CASE WHEN k.k = 0 THEN CAST(1 AS BIGINT)
        |      ELSE 1 - 2 * (CAST(('0x' || substr(md5(
        |        CAST(du.user_id AS VARCHAR) || '_' ||
        |        CAST(k.k AS VARCHAR)), 1, 8)) AS BIGINT) % 2) END AS sgn,
        |    du.d
        |  FROM du, range(0, 201) k(k)),
        |ts AS (SELECT k, CAST(SUM(sgn * d) AS BIGINT) AS t
        |       FROM fl GROUP BY k),
        |t0 AS (SELECT t AS t0 FROM ts WHERE k = 0)
        |SELECT (SELECT COUNT(*) FROM du) AS n_users,
        |  round(CAST(t0.t0 AS DOUBLE) / 100, 6) AS t_obs_cents,
        |  CAST(SUM(CASE WHEN abs(ts.t) >= abs(t0.t0) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_extreme,
        |  round((SUM(CASE WHEN abs(ts.t) >= abs(t0.t0) THEN 1 ELSE 0 END)
        |    + 1) / CAST(201 AS DOUBLE), 6) AS p_value
        |FROM ts CROSS JOIN t0 WHERE ts.k > 0 GROUP BY t0.t0""".stripMargin,

    // same integral quantization (quantity, basis points, cents), same
    // HUGEINT sufficient statistics, same stepwise centered-moment and
    // Sobel trees
    "q_mediation" ->
      """WITH li AS (
        |  SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_discount * 10000) AS BIGINT) AS m,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT rf, COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(m) AS HUGEINT) AS sm,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx,
        |    CAST(SUM(m * m) AS HUGEINT) AS smm,
        |    CAST(SUM(x * m) AS HUGEINT) AS sxm,
        |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(m * y) AS HUGEINT) AS smy,
        |    CAST(SUM(y * y) AS HUGEINT) AS syy
        |  FROM li GROUP BY rf),
        |cent AS (
        |  SELECT rf, n, CAST(n AS DOUBLE) AS dn,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cxx,
        |    CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cmm,
        |    CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cxm,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cxy,
        |    CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cmy,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cyy
        |  FROM g),
        |f1 AS (SELECT *, cxy / cxx AS c_tot, cxm / cxx AS aa,
        |         cxx * cmm - cxm * cxm AS det FROM cent),
        |f2 AS (SELECT *, (cmm * cxy - cxm * cmy) / det AS cp,
        |         (cxx * cmy - cxm * cxy) / det AS bb FROM f1),
        |f3 AS (SELECT *,
        |         ((cmm - aa * cxm) / (dn - CAST(2 AS DOUBLE))) / cxx
        |           AS se_a2,
        |         (cyy - cp * cxy - bb * cmy) / (dn - CAST(3 AS DOUBLE))
        |           AS sig2 FROM f2),
        |f4 AS (SELECT *, sig2 * cxx / det AS se_b2 FROM f3),
        |f5 AS (SELECT *,
        |         aa * bb / sqrt(bb * bb * se_a2 + aa * aa * se_b2)
        |           AS sobel_z FROM f4)
        |SELECT rf AS l_returnflag, n,
        |  round(c_tot / 100.0::DOUBLE, 6) AS total_effect,
        |  round(aa, 6) AS path_a,
        |  round(bb / 100.0::DOUBLE, 6) AS path_b,
        |  round(cp / 100.0::DOUBLE, 6) AS direct_effect,
        |  round(aa * bb / 100.0::DOUBLE, 6) AS indirect_effect,
        |  round(sobel_z, 6) AS sobel_z,
        |  round(aa * bb / c_tot, 6) AS prop_mediated
        |FROM f5 ORDER BY l_returnflag""".stripMargin,

    // same first-journey transition counts, same start distribution,
    // same generated cofactor texts (fundN for the full chain,
    // markovRemoved for each 2×2 minor chain)
    "q_markov_attribution" -> {
      val keys = Seq("click" -> "c", "signup" -> "s", "view" -> "v",
        "error" -> "e", "purchase" -> "p")
      val srcs = keys.take(3)
      val cnts = (for ((sn, sa) <- srcs; (dn, da) <- keys) yield
        s"CAST(SUM(CASE WHEN src = '$sn' AND dst = '$dn' THEN 1 " +
          s"ELSE 0 END) AS BIGINT) AS c_$sa$da").mkString(",\n    ")
      val fcs = srcs.zipWithIndex.map { case ((sn, _), i) =>
        s"CAST(SUM(CASE WHEN event_type = '$sn' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS f${i + 1}"
      }.mkString(",\n    ")
      val probs = (srcs.zipWithIndex.flatMap { case ((_, sa), i) =>
        val tot = s"CAST(c_${sa}c + c_${sa}s + c_${sa}v + c_${sa}e " +
          s"+ c_${sa}p AS DOUBLE)"
        keys.take(3).zipWithIndex.map { case ((_, da), j) =>
          s"CAST(c_$sa$da AS DOUBLE) / ($tot) AS q${i + 1}${j + 1}"
        } ++ Seq(
          s"CAST(c_${sa}e AS DOUBLE) / ($tot) AS r${i + 1}1",
          s"CAST(c_${sa}p AS DOUBLE) / ($tot) AS r${i + 1}2")
      } ++ (1 to 3).map(i =>
        s"CAST(f$i AS DOUBLE) / CAST(f1 + f2 + f3 AS DOUBLE) AS pi$i"))
        .mkString(",\n    ")
      val nns = (1 to 3).flatMap(i => (1 to 3).map(j =>
        s"${fundN(i, j)} AS nn$i$j")).mkString(",\n    ")
      val prms = (1 to 3).map(k =>
        s"${markovRemoved(k)} AS prm$k").mkString(",\n    ")
      val effs = (1 to 3).map(k =>
        s"(p_full - prm$k) / p_full AS eff$k").mkString(",\n    ")
      val rows = srcs.zipWithIndex.map { case ((sn, _), k) =>
        val i = k + 1
        s"""SELECT '$sn' AS channel,
           |  round(p_full, 6) AS p_purchase_full,
           |  round(prm$i, 6) AS p_purchase_removed,
           |  round(eff$i, 6) AS removal_effect,
           |  round(eff$i / (eff1 + eff2 + eff3), 6) AS attribution
           |FROM fin4""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type AS src,
         |    CASE WHEN event_type IN ('purchase', 'error') THEN 1
         |      ELSE 0 END AS ab
         |  FROM events),
         |p AS (
         |  SELECT src, ab,
         |    LEAD(src) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst,
         |    COALESCE(SUM(ab) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS abs_before
         |  FROM e),
         |f AS (SELECT src, dst FROM p
         |  WHERE dst IS NOT NULL AND abs_before = 0 AND ab = 0),
         |fst AS (
         |  SELECT event_type FROM (
         |    SELECT event_type, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |    FROM events) WHERE rn = 1),
         |fc AS (
         |  SELECT $fcs
         |  FROM fst),
         |one AS (
         |  SELECT $cnts
         |  FROM f),
         |base AS (
         |  SELECT $probs
         |  FROM one CROSS JOIN fc),
         |fin AS (
         |  SELECT *,
         |    $nns
         |  FROM base),
         |fin2 AS (SELECT *, $markovFull AS p_full FROM fin),
         |fin3 AS (
         |  SELECT *,
         |    $prms
         |  FROM fin2),
         |fin4 AS (
         |  SELECT *,
         |    $effs
         |  FROM fin3)
         |$rows
         |ORDER BY channel""".stripMargin
    },

    // same life table as q_kaplan_meier, same [prod, area, prev]
    // array-accumulator fold (the holt_winters array-not-struct rule),
    // same least()-clamped trapezoid and tail-extension trees
    "q_rmst" -> {
      def fold(tau: Int): String =
        s"""list_reduce(list_concat(
           |    [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
           |    lst.l),
           |  (a, el) -> [
           |    a[1] * (CAST(1 AS DOUBLE) - el[2] / el[3]),
           |    a[2] + a[1] * (least(el[1], CAST($tau AS DOUBLE))
           |      - least(a[3], CAST($tau AS DOUBLE))),
           |    el[1]])""".stripMargin
      def sTau(tau: Int): String =
        s"""list_reduce(list_concat([CAST(1 AS DOUBLE)],
           |  list_transform(
           |    list_filter(lst.l, el -> el[1] <= CAST($tau AS DOUBLE)),
           |    el -> CAST(1 AS DOUBLE) - el[2] / el[3])),
           |  (a, b) -> a * b)""".stripMargin
      def row(tau: Int): String =
        s"""SELECT CAST($tau AS BIGINT) AS tau_days,
           |  round(st[2] + st[1] * (CAST($tau AS DOUBLE)
           |    - least(st[3], CAST($tau AS DOUBLE))), 6) AS rmst_days,
           |  round(${sTau(tau)}, 6) AS survival_at_tau
           |FROM (SELECT ${fold(tau)} AS st FROM lst) CROSS JOIN lst"""
          .stripMargin
      s"""WITH ends AS (SELECT MAX(ts) AS obs_end FROM events),
         |t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events
         |       GROUP BY user_id),
         |fp AS (
         |  SELECT e.user_id, MIN(e.ts) AS tp
         |  FROM events e JOIN t0 USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > t0.t0
         |  GROUP BY e.user_id),
         |u AS (
         |  SELECT CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END
         |      AS ev_flag,
         |    CASE WHEN fp.user_id IS NULL
         |      THEN (epoch_us(ends.obs_end) - epoch_us(t0.t0))
         |        // 86400000000
         |      ELSE (epoch_us(fp.tp) - epoch_us(t0.t0)) // 86400000000
         |    END AS dur
         |  FROM t0 LEFT JOIN fp ON fp.user_id = t0.user_id
         |  CROSS JOIN ends),
         |bd AS (
         |  SELECT dur, CAST(SUM(ev_flag) AS BIGINT) AS d,
         |    CAST(SUM(1 - ev_flag) AS BIGINT) AS c
         |  FROM u GROUP BY dur),
         |tot AS (SELECT COUNT(*) AS n_total FROM u),
         |rk AS (
         |  SELECT dur, d, c, CAST(tot.n_total - COALESCE(SUM(d + c) OVER
         |    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM bd CROSS JOIN tot),
         |lst AS (
         |  SELECT list([CAST(dur AS DOUBLE), CAST(d AS DOUBLE),
         |    CAST(n_risk AS DOUBLE)] ORDER BY dur) AS l
         |  FROM rk)
         |${row(30)}
         |UNION ALL
         |${row(60)}
         |ORDER BY tau_days""".stripMargin
    },

    // same cent quantization, same merged-support grid, same exact
    // HUGEINT trapezoid terms (≡ Spark's DECIMAL(38,0)), same final
    // double division tree
    "q_wasserstein_drift" ->
      """WITH ev AS (
        |  SELECT event_type AS et, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |ptv AS (SELECT et, v, COUNT(*) AS ca FROM ev GROUP BY et, v),
        |pv AS (SELECT v, COUNT(*) AS ct FROM ev GROUP BY v),
        |pt AS (SELECT et, COUNT(*) AS nt FROM ev GROUP BY et),
        |tot AS (SELECT COUNT(*) AS n_all FROM ev),
        |grid AS (
        |  SELECT pt.et, pv.v, pt.nt, tot.n_all,
        |    COALESCE(ptv.ca, 0) AS ca, pv.ct - COALESCE(ptv.ca, 0) AS cb
        |  FROM pv CROSS JOIN pt CROSS JOIN tot
        |  LEFT JOIN ptv ON ptv.et = pt.et AND ptv.v = pv.v),
        |st AS (
        |  SELECT et, nt, n_all,
        |    SUM(ca) OVER (PARTITION BY et ORDER BY v) AS cuma,
        |    SUM(cb) OVER (PARTITION BY et ORDER BY v) AS cumb,
        |    COALESCE(LEAD(v) OVER (PARTITION BY et ORDER BY v) - v, 0)
        |      AS dv
        |  FROM grid),
        |d AS (
        |  SELECT et, nt, n_all,
        |    abs(CAST(cuma AS HUGEINT) * (n_all - nt)
        |      - CAST(cumb AS HUGEINT) * nt) AS dnum, dv
        |  FROM st)
        |SELECT et AS event_type, MAX(nt) AS n_type,
        |  round(CAST(SUM(dnum * dv) AS DOUBLE) / (CAST(MAX(nt) AS DOUBLE)
        |    * CAST(MAX(n_all) - MAX(nt) AS DOUBLE)) / 100.0::DOUBLE, 6)
        |    AS w1_vs_rest,
        |  round(CAST(MAX(dnum) AS DOUBLE) / (CAST(MAX(nt) AS DOUBLE)
        |    * CAST(MAX(n_all) - MAX(nt) AS DOUBLE)), 6) AS ks_stat
        |FROM d GROUP BY et ORDER BY et""".stripMargin,

    // same exact cent banding (integer division — no quantiles), same
    // groups × 10-band grid, same HUGEINT cum products, same division
    "q_t_closeness" ->
      """WITH cust AS (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |    least(9, greatest(0, (CAST(round(c_acctbal * 100) AS BIGINT)
        |      + 100000) // 110000)) AS band
        |  FROM customer),
        |gb AS (SELECT nk, seg, band, COUNT(*) AS ng
        |       FROM cust GROUP BY nk, seg, band),
        |gl AS (SELECT band, COUNT(*) AS nb FROM cust GROUP BY band),
        |grp AS (SELECT nk, seg, COUNT(*) AS k,
        |          COUNT(DISTINCT band) AS l_distinct
        |        FROM cust GROUP BY nk, seg),
        |tot AS (SELECT COUNT(*) AS n_all FROM cust),
        |bands AS (SELECT CAST(range AS BIGINT) AS band FROM range(0, 10)),
        |grid AS (
        |  SELECT grp.nk, grp.seg, b.band, grp.k, grp.l_distinct,
        |    tot.n_all, COALESCE(gb.ng, 0) AS ng, COALESCE(gl.nb, 0) AS nb
        |  FROM grp CROSS JOIN bands b CROSS JOIN tot
        |  LEFT JOIN gl ON gl.band = b.band
        |  LEFT JOIN gb ON gb.nk = grp.nk AND gb.seg = grp.seg
        |    AND gb.band = b.band),
        |st AS (
        |  SELECT nk, seg, k, l_distinct, n_all, band,
        |    SUM(ng) OVER (PARTITION BY nk, seg ORDER BY band) AS cumg,
        |    SUM(nb) OVER (PARTITION BY nk, seg ORDER BY band) AS cumb
        |  FROM grid),
        |d AS (
        |  SELECT nk, seg, k, l_distinct, n_all,
        |    abs(CAST(cumg AS HUGEINT) * n_all
        |      - CAST(cumb AS HUGEINT) * k) AS dnum
        |  FROM st WHERE band < 9)
        |SELECT nk AS c_nationkey, seg AS c_mktsegment,
        |  MAX(k) AS k, MAX(l_distinct) AS l_distinct,
        |  round(CAST(SUM(dnum) AS DOUBLE) / (CAST(MAX(k) AS DOUBLE)
        |    * CAST(MAX(n_all) AS DOUBLE)) / 9.0::DOUBLE, 6) AS t_emd
        |FROM d GROUP BY nk, seg
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // same OLS warm start, same 8 unrolled IRLS rounds with the exact
    // BIGINT weight ladder (10⁸ // max(100, floor|r| cents)) and HUGEINT
    // weighted sums — every round's (a, b) doubles share Spark's tree
    "q_quantile_regression" -> quantileRegOracle,

    // same exact cent rollup, same total rank order, same double tree
    // over the three BIGINT aggregates
    "q_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY o_custkey),
        |tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s1 FROM pc),
        |rk AS (
        |  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS r
        |  FROM pc),
        |a AS (
        |  SELECT MAX(tot.n) AS n_customers, MAX(tot.s1) AS total_cents,
        |    CAST(SUM(r * rev) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN r > tot.n - tot.n // 10 THEN rev ELSE 0 END)
        |      AS BIGINT) AS top_cents
        |  FROM rk CROSS JOIN tot)
        |SELECT n_customers, total_cents,
        |  CASE WHEN total_cents > 0 THEN
        |    round((2.0::DOUBLE * sr -
        |      (CAST(n_customers AS DOUBLE) + 1.0::DOUBLE) * total_cents) /
        |      (CAST(n_customers AS DOUBLE) * total_cents), 6) END AS gini,
        |  CASE WHEN total_cents > 0 THEN
        |    round(CAST(top_cents AS DOUBLE) / total_cents, 6) END
        |    AS top_decile_share
        |FROM a""".stripMargin,

    // same doubled average-rank histograms, same Pearson tree over the
    // exact BIGINT rank statistics
    "q_spearman" ->
      """WITH u AS (
        |  SELECT o_custkey, COUNT(*) AS a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS b
        |  FROM orders GROUP BY o_custkey),
        |ha AS (SELECT a, COUNT(*) AS cnt FROM u GROUP BY a),
        |ra AS (
        |  SELECT a, 2 * COALESCE(SUM(cnt) OVER (ORDER BY a
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r2a
        |  FROM ha),
        |hb AS (SELECT b, COUNT(*) AS cnt FROM u GROUP BY b),
        |rb AS (
        |  SELECT b, 2 * COALESCE(SUM(cnt) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r2b
        |  FROM hb),
        |st AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(r2a) AS BIGINT) AS sa, CAST(SUM(r2b) AS BIGINT) AS sb,
        |    CAST(SUM(r2a * r2a) AS BIGINT) AS saa,
        |    CAST(SUM(r2b * r2b) AS BIGINT) AS sbb,
        |    CAST(SUM(r2a * r2b) AS BIGINT) AS sab
        |  FROM u JOIN ra USING (a) JOIN rb USING (b))
        |SELECT n,
        |  CASE WHEN n > 1
        |    AND CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa
        |      > 0.0::DOUBLE
        |    AND CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb
        |      > 0.0::DOUBLE
        |  THEN round(
        |    (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb) /
        |    sqrt((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) *
        |         (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)), 6)
        |  END AS rho
        |FROM st""".stripMargin,

    // same md5 coin, same histogram + inclusive cumulative window, same
    // cross-multiplied exact sup-gap and rounded-statistic decision
    "q_ks_test" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
        |      % 2 = 0 THEN 1 ELSE 0 END AS va
        |  FROM events),
        |h AS (
        |  SELECT cents, CAST(SUM(va) AS BIGINT) AS na,
        |    CAST(SUM(1 - va) AS BIGINT) AS nb
        |  FROM ev GROUP BY cents),
        |tot AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS ta,
        |    CAST(SUM(nb) AS BIGINT) AS tb FROM h),
        |cw AS (
        |  SELECT CAST(SUM(na) OVER win AS BIGINT) AS ca,
        |    CAST(SUM(nb) OVER win AS BIGINT) AS cb
        |  FROM h WINDOW win AS (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |a AS (
        |  SELECT MAX(tot.ta) AS n_a, MAX(tot.tb) AS n_b,
        |    CAST(MAX(abs(ca * tot.tb - cb * tot.ta)) AS BIGINT) AS d_num
        |  FROM cw CROSS JOIN tot),
        |sc AS (
        |  SELECT n_a, n_b, d_num,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      round(CAST(d_num AS DOUBLE) /
        |        (CAST(n_a AS DOUBLE) * n_b), 6) END AS d_stat,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      round(sqrt(CAST(n_a AS DOUBLE) * n_b /
        |          (CAST(n_a AS DOUBLE) + n_b)) *
        |        (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)), 6)
        |    END AS ks_scaled
        |  FROM a)
        |SELECT *, CASE WHEN ks_scaled IS NOT NULL
        |  THEN ks_scaled > 1.358::DOUBLE END AS reject_05
        |FROM sc""".stripMargin,

    // same exact integer units, same 15 one-pass sufficient statistics
    // (cents² in DECIMAL), same r tree per pair
    "q_pearson_corr" -> {
      def r(sa: String, sb: String, saa: String, sbb: String,
          sab: String): String =
        s"""CASE WHEN CAST(n AS DOUBLE) * $saa -
           |      CAST($sa AS DOUBLE) * $sa > 0.0::DOUBLE
           |    AND CAST(n AS DOUBLE) * $sbb -
           |      CAST($sb AS DOUBLE) * $sb > 0.0::DOUBLE
           |  THEN round(
           |    (CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb) /
           |    sqrt((CAST(n AS DOUBLE) * $saa -
           |        CAST($sa AS DOUBLE) * $sa) *
           |      (CAST(n AS DOUBLE) * $sbb -
           |        CAST($sb AS DOUBLE) * $sb)), 6)
           |  END""".stripMargin
      s"""WITH b AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS q,
         |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS p,
         |    CAST(CAST(l_discount AS DECIMAL(6,2)) * 100 AS BIGINT) AS d,
         |    CAST(CAST(l_tax AS DECIMAL(6,2)) * 100 AS BIGINT) AS x
         |  FROM lineitem),
         |a AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
         |    CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(q*q) AS BIGINT) AS sqq,
         |    SUM(CAST(p AS DECIMAL(18,0)) * CAST(p AS DECIMAL(18,0)))
         |      AS spp,
         |    CAST(SUM(d*d) AS BIGINT) AS sdd,
         |    CAST(SUM(x*x) AS BIGINT) AS sxx,
         |    CAST(SUM(q*p) AS BIGINT) AS sqp,
         |    CAST(SUM(q*d) AS BIGINT) AS sqd,
         |    CAST(SUM(q*x) AS BIGINT) AS sqx,
         |    CAST(SUM(p*d) AS BIGINT) AS spd,
         |    CAST(SUM(p*x) AS BIGINT) AS spx,
         |    CAST(SUM(d*x) AS BIGINT) AS sdx
         |  FROM b)
         |SELECT var_a, var_b, n, r FROM (
         |  SELECT 'discount' AS var_a, 'price' AS var_b, n,
         |    ${r("sd", "sp", "sdd", "spp", "spd")} AS r FROM a
         |  UNION ALL SELECT 'discount', 'tax', n,
         |    ${r("sd", "sx", "sdd", "sxx", "sdx")} FROM a
         |  UNION ALL SELECT 'quantity', 'discount', n,
         |    ${r("sq", "sd", "sqq", "sdd", "sqd")} FROM a
         |  UNION ALL SELECT 'quantity', 'price', n,
         |    ${r("sq", "sp", "sqq", "spp", "sqp")} FROM a
         |  UNION ALL SELECT 'quantity', 'tax', n,
         |    ${r("sq", "sx", "sqq", "sxx", "sqx")} FROM a
         |  UNION ALL SELECT 'price', 'tax', n,
         |    ${r("sp", "sx", "spp", "sxx", "spx")} FROM a)
         |ORDER BY var_a, var_b""".stripMargin
    },

    // same life table as q_kaplan_meier, additive fold instead of the
    // product-limit fold (same sorted-list float discipline)
    "q_nelson_aalen" ->
      """WITH ends AS (SELECT MAX(ts) AS obs_end FROM events),
        |t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts) AS tp
        |  FROM events e JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t0.t0
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END AS ev_flag,
        |    CASE WHEN fp.user_id IS NULL
        |      THEN (epoch_us(ends.obs_end) - epoch_us(t0.t0)) // 86400000000
        |      ELSE (epoch_us(fp.tp) - epoch_us(t0.t0)) // 86400000000
        |    END AS dur
        |  FROM t0 LEFT JOIN fp ON fp.user_id = t0.user_id CROSS JOIN ends),
        |bd AS (
        |  SELECT dur, CAST(SUM(ev_flag) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev_flag) AS BIGINT) AS c
        |  FROM u GROUP BY dur),
        |tot AS (SELECT COUNT(*) AS n_total FROM u),
        |rk AS (
        |  SELECT dur, d, CAST(tot.n_total - COALESCE(SUM(d + c) OVER
        |    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS n_risk
        |  FROM bd CROSS JOIN tot),
        |lst AS (
        |  SELECT list(struct_pack(dur := dur, d := d, n_risk := n_risk)
        |    ORDER BY dur) AS l
        |  FROM rk),
        |e AS (
        |  SELECT dur, d, n_risk, ROW_NUMBER() OVER (ORDER BY dur) AS i
        |  FROM rk)
        |SELECT e.dur AS duration_day, e.n_risk, e.d AS n_events,
        |  round(list_reduce(list_concat([0.0::DOUBLE],
        |    list_transform(lst.l[1:e.i],
        |      x -> x.d::DOUBLE / x.n_risk)),
        |    (acc, f) -> acc + f), 6) AS cum_hazard,
        |  round(exp(-list_reduce(list_concat([0.0::DOUBLE],
        |    list_transform(lst.l[1:e.i],
        |      x -> x.d::DOUBLE / x.n_risk)),
        |    (acc, f) -> acc + f)), 6) AS na_survival
        |FROM e CROSS JOIN lst
        |ORDER BY duration_day""".stripMargin,

    // same nation-vs-rest z from exact counts, same declared logistic CDF,
    // same rounded-p rank and step-up suffix max
    "q_benjamini_hochberg" ->
      """WITH bn AS (
        |  SELECT n_name,
        |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END) AS BIGINT) AS x,
        |    COUNT(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |tot AS (
        |  SELECT CAST(SUM(x) AS BIGINT) AS tx, CAST(SUM(n) AS BIGINT)
        |    AS tn, COUNT(*) AS m
        |  FROM bn),
        |sc AS (
        |  SELECT n_name, x, n, m,
        |    CASE WHEN n > 0 AND tn > n
        |      AND CAST(tx AS DOUBLE) / tn > 0.0::DOUBLE
        |      AND CAST(tx AS DOUBLE) / tn < 1.0::DOUBLE
        |    THEN round((CAST(x AS DOUBLE) / n -
        |        CAST(tx - x AS DOUBLE) / (tn - n)) /
        |      sqrt((CAST(tx AS DOUBLE) / tn) *
        |        (1.0::DOUBLE - CAST(tx AS DOUBLE) / tn) *
        |        (1.0::DOUBLE / n + 1.0::DOUBLE / (tn - n))), 6)
        |    END AS z
        |  FROM bn CROSS JOIN tot),
        |pv AS (
        |  SELECT *, CASE WHEN z IS NOT NULL THEN
        |    round(2.0::DOUBLE * (1.0::DOUBLE - 1.0::DOUBLE /
        |      (1.0::DOUBLE + exp(-1.702::DOUBLE * abs(z)))), 6) END
        |    AS p_value
        |  FROM sc),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value NULLS LAST, n_name)
        |    AS k
        |  FROM pv),
        |th AS (
        |  SELECT *, round(0.1::DOUBLE * k / m, 6) AS bh_threshold,
        |    CASE WHEN p_value <= round(0.1::DOUBLE * k / m, 6)
        |      THEN 1 ELSE 0 END AS ok
        |  FROM rk),
        |rj AS (
        |  SELECT *, MAX(ok) OVER (ORDER BY k DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS reject
        |  FROM th)
        |SELECT n_name, x AS n_urgent, n, z, p_value, k, bh_threshold,
        |  reject
        |FROM rj ORDER BY k""".stripMargin,

    // same per-group total-order ranks, same cross-group exact cent means
    "q_quantile_normalize" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |rk AS (
        |  SELECT l_returnflag, cents, ROW_NUMBER() OVER (
        |    PARTITION BY l_returnflag
        |    ORDER BY cents, l_orderkey, l_linenumber) AS r
        |  FROM li),
        |g AS (
        |  SELECT r, COUNT(*) AS n_groups, CAST(SUM(cents) AS BIGINT) AS sc,
        |    MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |  FROM rk WHERE r <= 20 GROUP BY r)
        |SELECT r AS "rank", n_groups,
        |  round(CAST(sc AS DOUBLE) / n_groups / 100.0::DOUBLE, 6)
        |    AS norm_dollars,
        |  min_cents, max_cents
        |FROM g ORDER BY "rank"""".stripMargin,

    "q_pca_power" -> pcaPowerOracle,

    "q_logistic_newton" -> logisticNewtonOracle,

    // same integer/decimal histogram prefix sums (portable: integer
    // window addition is associative), same scalar SSE trees, same
    // (sse ASC, x ASC) argmin scans
    "q_cart_stump" ->
      """WITH lvl AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x, COUNT(*) AS n,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS sy,
        |    SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) AS DECIMAL(18,0)) *
        |      CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) AS DECIMAL(18,0))) AS syy
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT x, n, sy, syy,
        |    CAST(SUM(n) OVER w AS BIGINT) AS cn,
        |    CAST(SUM(sy) OVER w AS BIGINT) AS cs,
        |    SUM(syy) OVER w AS css
        |  FROM lvl WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |  CAST(SUM(sy) AS BIGINT) AS ss, SUM(syy) AS sss FROM lvl),
        |c2 AS (SELECT * FROM cum CROSS JOIN tot),
        |root AS (
        |  SELECT x AS t1, cn AS cn1, cs AS cs1, css AS css1, nn, ss, sss,
        |    (CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * cs / cn) +
        |    (CAST((sss - css) AS DOUBLE) -
        |      CAST((ss - cs) AS DOUBLE) * (ss - cs) / (nn - cn)) AS sa1
        |  FROM c2 WHERE cn < nn
        |  ORDER BY sa1 ASC, x ASC LIMIT 1),
        |lft AS (
        |  SELECT c.*, r.t1, r.cn1, r.cs1, r.css1,
        |    (CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * cs / cn) +
        |    (CAST((css1 - css) AS DOUBLE) -
        |      CAST((cs1 - cs) AS DOUBLE) * (cs1 - cs) / (cn1 - cn)) AS sa
        |  FROM cum c CROSS JOIN root r WHERE c.x < r.t1
        |  ORDER BY sa ASC, x ASC LIMIT 1),
        |rgt AS (
        |  SELECT c.*, r.t1, r.cn1, r.cs1, r.css1, r.nn, r.ss, r.sss,
        |    (CAST((css - css1) AS DOUBLE) -
        |      CAST((cs - cs1) AS DOUBLE) * (cs - cs1) / (cn - cn1)) +
        |    (CAST((sss - css) AS DOUBLE) -
        |      CAST((ss - cs) AS DOUBLE) * (ss - cs) / (nn - cn)) AS sa
        |  FROM cum c CROSS JOIN root r WHERE c.x > r.t1 AND c.cn < r.nn
        |  ORDER BY sa ASC, x ASC LIMIT 1)
        |SELECT * FROM (
        |  SELECT 'root' AS node, t1 AS split_x, cn1 AS n_left,
        |    nn - cn1 AS n_right,
        |    round((CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nn), 6)
        |      AS sse_before,
        |    round(sa1, 6) AS sse_after,
        |    round((CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nn)
        |      - sa1, 6) AS gain
        |  FROM root
        |  UNION ALL
        |  SELECT 'left', x, cn, cn1 - cn,
        |    round((CAST(css1 AS DOUBLE) -
        |      CAST(cs1 AS DOUBLE) * cs1 / cn1), 6),
        |    round(sa, 6),
        |    round((CAST(css1 AS DOUBLE) -
        |      CAST(cs1 AS DOUBLE) * cs1 / cn1) - sa, 6)
        |  FROM lft
        |  UNION ALL
        |  SELECT 'right', x, cn - cn1, nn - cn,
        |    round((CAST((sss - css1) AS DOUBLE) -
        |      CAST((ss - cs1) AS DOUBLE) * (ss - cs1) / (nn - cn1)), 6),
        |    round(sa, 6),
        |    round((CAST((sss - css1) AS DOUBLE) -
        |      CAST((ss - cs1) AS DOUBLE) * (ss - cs1) / (nn - cn1))
        |      - sa, 6)
        |  FROM rgt) ORDER BY node""".stripMargin,

    // same rank-selected medians, same discordant-cell rollup, same
    // continuity-corrected chi2 tree
    "q_mcnemar" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS chars,
        |    CAST(len(string_split(text, ' ')) - 1 AS BIGINT) AS spaces,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth
        |  FROM documents),
        |hc AS (SELECT chars AS v, COUNT(*) AS cn FROM d GROUP BY 1),
        |mc AS (
        |  SELECT MIN(v) AS med_chars FROM (
        |    SELECT v, SUM(cn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM hc) x CROSS JOIN
        |    (SELECT CAST(SUM(cn) AS BIGINT) AS n FROM hc) t
        |  WHERE cum >= (n + 1) // 2),
        |hs AS (SELECT spaces AS v, COUNT(*) AS cn FROM d GROUP BY 1),
        |ms AS (
        |  SELECT MIN(v) AS med_spaces FROM (
        |    SELECT v, SUM(cn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM hs) x CROSS JOIN
        |    (SELECT CAST(SUM(cn) AS BIGINT) AS n FROM hs) t
        |  WHERE cum >= (n + 1) // 2),
        |cells AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN pa = truth THEN 1 ELSE 0 END) AS BIGINT)
        |      AS acc_a,
        |    CAST(SUM(CASE WHEN pb = truth THEN 1 ELSE 0 END) AS BIGINT)
        |      AS acc_b,
        |    CAST(SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0
        |      END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0
        |      END) AS BIGINT) AS c
        |  FROM (
        |    SELECT truth,
        |      CASE WHEN chars >= med_chars THEN 1 ELSE 0 END AS pa,
        |      CASE WHEN spaces >= med_spaces THEN 1 ELSE 0 END AS pb
        |    FROM d CROSS JOIN mc CROSS JOIN ms))
        |SELECT n, b, c,
        |  round(CAST(acc_a AS DOUBLE) / n, 6) AS acc_a,
        |  round(CAST(acc_b AS DOUBLE) / n, 6) AS acc_b,
        |  CASE WHEN b + c > 0 THEN
        |    round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
        |      / (b + c), 6)
        |  END AS chi2
        |FROM cells""".stripMargin,

    // same scored level histogram, same score-DESC cumulative window and
    // integer decile rank probes, same capture/lift trees
    "q_lift_curve" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |st AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM d),
        |z AS (
        |  SELECT y, round((x - sx::DOUBLE / nd) /
        |    sqrt((nd::DOUBLE * sxx - sx::DOUBLE * sx) /
        |      (nd * (nd - 1))), 6) AS z
        |  FROM d CROSS JOIN st),
        |sc AS (
        |  SELECT y, CAST(round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z)), 6)
        |    AS DECIMAL(8,6)) AS p
        |  FROM z),
        |lvl AS (SELECT p, COUNT(*) AS cn, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM sc GROUP BY 1),
        |cum AS (
        |  SELECT p, CAST(SUM(cn) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |    CAST(SUM(pos) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cpos
        |  FROM lvl),
        |tot AS (SELECT CAST(SUM(cn) AS BIGINT) AS n,
        |  CAST(SUM(pos) AS BIGINT) AS npos FROM lvl),
        |sel AS (
        |  SELECT k.range AS decile, (n * k.range + 9) // 10 AS rk, n,
        |    npos, MIN(struct_pack(cum := cum, cpos := cpos)) AS first
        |  FROM range(1, 11) k CROSS JOIN tot
        |  JOIN cum ON cum.cum >= (tot.n * k.range + 9) // 10
        |  GROUP BY 1, 2, 3, 4)
        |SELECT decile, CAST(rk AS BIGINT) AS depth_rank,
        |  first.cum AS cum_docs, first.cpos AS cum_pos,
        |  round(CAST(first.cpos AS DOUBLE) / npos, 6) AS capture_rate,
        |  round((CAST(first.cpos AS DOUBLE) / first.cum) /
        |    (CAST(npos AS DOUBLE) / n), 6) AS lift
        |FROM sel ORDER BY decile""".stripMargin,

    // same user-day rollup, same declared z constants and MDE grid, same
    // ceiling tree
    "q_sample_size" ->
      """WITH u AS (
        |  SELECT user_id, date_trunc('day', ts) AS d,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT COUNT(*) AS n_units,
        |  CAST(SUM(conv) AS BIGINT) AS n_conv FROM u),
        |g AS (
        |  SELECT m.mde_pp, n_units, n_conv,
        |    CAST(n_conv AS DOUBLE) / n_units AS p1
        |  FROM base CROSS JOIN (VALUES (1::BIGINT), (2::BIGINT),
        |    (5::BIGINT)) AS m(mde_pp)),
        |e AS (
        |  SELECT *, p1 + CAST(mde_pp AS DOUBLE) / 100.0::DOUBLE AS p2
        |  FROM g)
        |SELECT mde_pp, n_units, n_conv, round(p1, 6) AS p1,
        |  round(p2, 6) AS p2,
        |  CAST(ceil((1.959964::DOUBLE + 0.841621::DOUBLE) *
        |    (1.959964::DOUBLE + 0.841621::DOUBLE) *
        |    (p1 * (1.0::DOUBLE - p1) + p2 * (1.0::DOUBLE - p2))
        |    / ((CAST(mde_pp AS DOUBLE) / 100.0::DOUBLE)
        |       * (CAST(mde_pp AS DOUBLE) / 100.0::DOUBLE))) AS BIGINT)
        |    AS n_arm
        |FROM e ORDER BY mde_pp""".stripMargin,

    // same scored 10-bin grid, same bin-sorted folds over exact
    // decimal/BIGINT bin stats, same +0.0 −0.0 normalization
    "q_brier_decomposition" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |st AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM d),
        |z AS (
        |  SELECT y, round((x - sx::DOUBLE / nd) /
        |    sqrt((nd::DOUBLE * sxx - sx::DOUBLE * sx) /
        |      (nd * (nd - 1))), 6) AS z
        |  FROM d CROSS JOIN st),
        |p AS (
        |  SELECT y, CAST(round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z)), 6)
        |    AS DECIMAL(8,6)) AS p
        |  FROM z),
        |b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    COUNT(*) AS n, SUM(p) AS sp, CAST(SUM(y) AS BIGINT) AS pos,
        |    SUM((p - y::DECIMAL(1,0)) * (p - y::DECIMAL(1,0))) AS ssq
        |  FROM p GROUP BY 1),
        |one AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nd,
        |    CAST(SUM(pos) AS BIGINT) AS npos, SUM(ssq) AS tssq,
        |    list(struct_pack(bin := bin, n := n, sp := sp, pos := pos)
        |      ORDER BY bin) AS l
        |  FROM b),
        |o2 AS (SELECT *, CAST(npos AS DOUBLE) / nd AS ybar FROM one),
        |o3 AS (
        |  SELECT *,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> (p.n * (CAST(p.sp AS DOUBLE) / p.n -
        |        CAST(p.pos AS DOUBLE) / p.n)
        |        * (CAST(p.sp AS DOUBLE) / p.n -
        |        CAST(p.pos AS DOUBLE) / p.n)))),
        |      (a, b) -> a + b) / nd AS rel,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> (p.n * (CAST(p.pos AS DOUBLE) / p.n - ybar)
        |        * (CAST(p.pos AS DOUBLE) / p.n - ybar)))),
        |      (a, b) -> a + b) / nd AS res,
        |    ybar * (1.0::DOUBLE - ybar) AS unc,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> (p.n * (CAST(p.sp AS DOUBLE) / p.n) *
        |        (CAST(p.sp AS DOUBLE) / p.n)
        |        - 2.0::DOUBLE * (CAST(p.sp AS DOUBLE) / p.n) * p.pos
        |        + p.pos))),
        |      (a, b) -> a + b) / nd AS bb
        |  FROM o2)
        |SELECT nd AS n_docs,
        |  round(CAST(tssq AS DOUBLE) / nd, 6) AS brier_raw,
        |  round(bb, 6) AS brier_binned,
        |  round(rel, 6) AS reliability,
        |  round(res, 6) AS resolution,
        |  round(unc, 6) AS uncertainty,
        |  round(bb - (rel - res + unc), 6) + 0.0::DOUBLE AS identity_gap
        |FROM o3""".stripMargin,

    // same md5 snapshot coin, same rank-selected reference deciles, same
    // +1-smoothed bin-sorted PSI fold, same banded readout
    "q_psi_drift" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8))::BIGINT % 2
        |      AS snap
        |  FROM events),
        |ha AS (SELECT cents, COUNT(*) AS c FROM ev WHERE snap = 0
        |  GROUP BY 1),
        |cum AS (
        |  SELECT cents, CAST(SUM(c) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM ha),
        |na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ha),
        |bnd AS (
        |  SELECT k.range AS k, MIN(cents) AS bv
        |  FROM range(1, 10) k CROSS JOIN na
        |  JOIN cum ON cum.cum >= (na.n * k.range + 9) // 10
        |  GROUP BY 1),
        |hc AS (SELECT snap, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |wb AS (
        |  SELECT snap, cents, c,
        |    CAST(SUM(CASE WHEN cents >= bv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bin
        |  FROM hc CROSS JOIN bnd GROUP BY 1, 2, 3),
        |piv AS (
        |  SELECT u.range AS bin,
        |    CAST(COALESCE(SUM(CASE WHEN snap = 0 THEN c END), 0)
        |      AS BIGINT) AS ca,
        |    CAST(COALESCE(SUM(CASE WHEN snap = 1 THEN c END), 0)
        |      AS BIGINT) AS cb
        |  FROM range(0, 10) u LEFT JOIN wb ON wb.bin = u.range
        |  GROUP BY 1),
        |one AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    list(struct_pack(bin := bin, ca := ca, cb := cb)
        |      ORDER BY bin) AS l
        |  FROM piv),
        |o2 AS (
        |  SELECT na, nb, round(list_reduce(list_concat([0.0::DOUBLE],
        |    list_transform(l, p ->
        |      (((CAST(p.ca AS DOUBLE) + 1.0::DOUBLE) /
        |        (CAST(na AS DOUBLE) + 10.0::DOUBLE))
        |        - ((CAST(p.cb AS DOUBLE) + 1.0::DOUBLE) /
        |        (CAST(nb AS DOUBLE) + 10.0::DOUBLE)))
        |      * ln(((CAST(p.ca AS DOUBLE) + 1.0::DOUBLE) /
        |        (CAST(na AS DOUBLE) + 10.0::DOUBLE))
        |        / ((CAST(p.cb AS DOUBLE) + 1.0::DOUBLE) /
        |        (CAST(nb AS DOUBLE) + 10.0::DOUBLE))))),
        |    (a, b) -> a + b), 6) AS psi
        |  FROM one)
        |SELECT na AS n_ref, nb AS n_cur, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable'
        |    WHEN psi < 0.25 THEN 'moderate' ELSE 'major' END AS band
        |FROM o2""".stripMargin,

    // same one-pass exact stats, same centered closed form and declared
    // λ grid, same shrinkage-vs-OLS readout
    "q_ridge_regression" ->
      """WITH st AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y
        |    FROM lineitem)),
        |lam(lambda) AS (VALUES (0::BIGINT), (100::BIGINT),
        |  (10000::BIGINT), (1000000::BIGINT)),
        |d AS (
        |  SELECT lambda, n,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS den0,
        |    sx, sy
        |  FROM st CROSS JOIN lam),
        |e AS (
        |  SELECT lambda, n,
        |    num / (den0 + CAST(lambda AS DOUBLE) * n) AS b1,
        |    num / den0 AS b1_ols, sx, sy
        |  FROM d)
        |SELECT lambda, n, round(b1, 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - b1 * sx) / n, 6) AS intercept,
        |  round(b1 / b1_ols, 6) AS shrinkage
        |FROM e ORDER BY lambda""".stripMargin,

    // same md5 permutation draw, same needed-mask containment join, same
    // exact-24-weight audit pair; integer until the final divisions
    "q_shapley_sampled" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |mc AS (SELECT mask, CAST(SUM(conv) AS BIGINT) AS cv
        |  FROM u GROUP BY mask),
        |chan(bit, channel) AS (VALUES (1::BIGINT, 'click'),
        |  (2::BIGINT, 'view'), (4::BIGINT, 'signup'),
        |  (8::BIGINT, 'error')),
        |p0 AS (
        |  SELECT m.range AS m, bit, channel,
        |    ('0x'||substr(md5(CAST(m.range AS VARCHAR) || ':' ||
        |      channel),1,8))::BIGINT AS h
        |  FROM range(0, 12) m CROSS JOIN chan),
        |p1 AS (
        |  SELECT m, bit, channel,
        |    ROW_NUMBER() OVER (PARTITION BY m ORDER BY h, channel) AS r
        |  FROM p0),
        |perm AS (
        |  SELECT m, bit, channel,
        |    CAST(COALESCE(SUM(bit) OVER (PARTITION BY m ORDER BY r
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pred
        |  FROM p1),
        |need AS (SELECT DISTINCT pred AS st FROM perm
        |  UNION SELECT DISTINCT pred + bit FROM perm),
        |v AS (
        |  SELECT st, CAST(COALESCE(SUM(cv), 0) AS BIGINT) AS v
        |  FROM need LEFT JOIN mc ON (mask & st) = mask GROUP BY st),
        |marg AS (
        |  SELECT p.channel, CAST(SUM(v1.v - v0.v) AS BIGINT) AS phi_sum
        |  FROM perm p JOIN v v0 ON v0.st = p.pred
        |  JOIN v v1 ON v1.st = p.pred + p.bit
        |  GROUP BY p.channel),
        |sets AS (SELECT range AS st FROM range(0, 16)),
        |vx AS (
        |  SELECT st, CAST(COALESCE(SUM(cv), 0) AS BIGINT) AS v
        |  FROM sets LEFT JOIN mc ON (mask & st) = mask GROUP BY st),
        |ex AS (
        |  SELECT c.channel,
        |    CAST(SUM((CASE (v0.st & 1) + ((v0.st // 2) & 1) +
        |      ((v0.st // 4) & 1) + ((v0.st // 8) & 1)
        |      WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
        |      * (v1.v - v0.v)) AS BIGINT) AS phi24
        |  FROM chan c
        |  JOIN vx v0 ON (v0.st & c.bit) = 0
        |  JOIN vx v1 ON v1.st = v0.st + c.bit
        |  GROUP BY c.channel)
        |SELECT m.channel, phi24, phi_sum,
        |  round(CAST(phi24 AS DOUBLE) / 24.0::DOUBLE, 6) AS phi_exact,
        |  round(CAST(phi_sum AS DOUBLE) / 12.0::DOUBLE, 6) AS phi_sampled,
        |  round(abs(CAST(phi_sum AS DOUBLE) / 12.0::DOUBLE -
        |    CAST(phi24 AS DOUBLE) / 24.0::DOUBLE), 6) AS abs_err
        |FROM marg m JOIN ex ON ex.channel = m.channel
        |ORDER BY m.channel""".stripMargin,

    // same md5 fold coin, same exact BIGINT/DECIMAL sufficient stats,
    // same train = TOTAL − fold algebra and expanded-MSE double tree
    "q_cross_validation" ->
      """WITH li AS (
        |  SELECT ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR)),1,8))::BIGINT % 5 AS fold,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |pf AS (
        |  SELECT fold, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
        |      AS syy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM li GROUP BY fold),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(sx) AS BIGINT) AS tsx,
        |    CAST(SUM(sxx) AS BIGINT) AS tsxx,
        |    CAST(SUM(sy) AS BIGINT) AS tsy, SUM(syy) AS tsyy,
        |    CAST(SUM(sxy) AS BIGINT) AS tsxy
        |  FROM pf),
        |d AS (
        |  SELECT *, tn - n AS trn,
        |    CAST(tn - n AS DOUBLE) * (tsxx - sxx) -
        |      CAST(tsx - sx AS DOUBLE) * (tsx - sx) AS den
        |  FROM pf CROSS JOIN tot),
        |b AS (
        |  SELECT *, CASE WHEN den > 0.0::DOUBLE THEN
        |    (CAST(trn AS DOUBLE) * (tsxy - sxy) -
        |      CAST(tsx - sx AS DOUBLE) * (tsy - sy)) / den END AS b1
        |  FROM d),
        |b0c AS (
        |  SELECT *, (CAST(tsy - sy AS DOUBLE) - b1 * (tsx - sx)) / trn
        |    AS b0
        |  FROM b),
        |m AS (
        |  SELECT *, (CAST(syy AS DOUBLE) - 2.0::DOUBLE * b0 * sy
        |    - 2.0::DOUBLE * b1 * sxy + CAST(n AS DOUBLE) * b0 * b0
        |    + 2.0::DOUBLE * b0 * b1 * sx + b1 * b1 * sxx) / n AS mse
        |  FROM b0c)
        |SELECT fold, trn AS n_train, n AS n_test, round(b1, 6) AS slope,
        |  round(b0, 6) AS intercept, round(mse, 6) AS test_mse
        |FROM m ORDER BY fold""".stripMargin,

    // same exact cent rollup, same total rank order, same integer trim
    // boundaries (n div 10 off each end), same double readout tree
    "q_trimmed_mean" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY o_custkey),
        |tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s1 FROM pc),
        |rk AS (
        |  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS r
        |  FROM pc),
        |a AS (
        |  SELECT MAX(tot.n) AS n_customers, MAX(tot.s1) AS s1,
        |    CAST(SUM(CASE WHEN r > tot.n // 10
        |      AND r <= tot.n - tot.n // 10 THEN rev END) AS BIGINT) AS ts,
        |    CAST(SUM(CASE WHEN r > tot.n // 10
        |      AND r <= tot.n - tot.n // 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_trimmed
        |  FROM rk CROSS JOIN tot)
        |SELECT n_customers, n_trimmed,
        |  round(CAST(s1 AS DOUBLE) / 100.0::DOUBLE / n_customers, 6)
        |    AS raw_mean_dollars,
        |  CASE WHEN n_trimmed > 0 THEN
        |    round(CAST(ts AS DOUBLE) / 100.0::DOUBLE / n_trimmed, 6)
        |  END AS trimmed_mean_dollars
        |FROM a""".stripMargin,

    // same 32-bit md5 hash, same register split (j = h % 64, rank from
    // exact bin() bit-length), same register-sorted 2^(−M) fold
    "q_hyperloglog" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |hs AS (
        |  SELECT ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT
        |    AS h
        |  FROM u),
        |rr AS (
        |  SELECT h % 64 AS j,
        |    CASE WHEN h // 64 = 0 THEN 27::BIGINT
        |      ELSE 27::BIGINT - CAST(length(bin(h // 64)) AS BIGINT) END
        |      AS rho
        |  FROM hs),
        |regs AS (SELECT j, MAX(rho) AS mj FROM rr GROUP BY j),
        |ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
        |    list(mj ORDER BY mj) AS ms
        |  FROM regs),
        |z AS (
        |  SELECT n_exact, n_used,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(ms,
        |        x -> power(2.0::DOUBLE, -CAST(x AS DOUBLE)))),
        |      (a, b) -> a + b) + CAST(64 - n_used AS DOUBLE) AS zsum
        |  FROM ag CROSS JOIN ex),
        |e AS (
        |  SELECT n_exact, 64 - n_used AS v,
        |    0.709::DOUBLE * 4096.0::DOUBLE / zsum AS e_raw
        |  FROM z),
        |c AS (
        |  SELECT n_exact, v, e_raw,
        |    CASE WHEN e_raw <= 2.5::DOUBLE * 64 AND v > 0
        |      THEN 64.0::DOUBLE * ln(64.0::DOUBLE / v) ELSE e_raw END
        |      AS e_corr
        |  FROM e)
        |SELECT n_exact, v AS n_zero_registers, round(e_raw, 6) AS hll_raw,
        |  round(e_corr, 6) AS hll_estimate,
        |  round(abs(e_corr - n_exact) / n_exact, 6) AS rel_error
        |FROM c""".stripMargin,

    // same exact cents histogram, same inclusive cumulative window, same
    // integer ceiling ranks ⌈q·n⌉ probed against the histogram
    "q_exact_quantiles" ->
      """WITH h AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents, COUNT(*) AS c
        |  FROM events GROUP BY cents),
        |cum AS (
        |  SELECT cents, CAST(SUM(c) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
        |qs(q, qn, qd) AS (VALUES ('p50', 1::BIGINT, 2::BIGINT),
        |  ('p90', 9::BIGINT, 10::BIGINT), ('p99', 99::BIGINT, 100::BIGINT),
        |  ('p999', 999::BIGINT, 1000::BIGINT)),
        |rks AS (
        |  SELECT q, n, CAST((n * qn + qd - 1) // qd AS BIGINT) AS rk
        |  FROM qs CROSS JOIN tot),
        |sel AS (
        |  SELECT q, n, rk, MIN(cents) AS value_cents
        |  FROM rks JOIN cum ON cum.cum >= rks.rk GROUP BY q, n, rk)
        |SELECT q AS quantile, n, rk AS "rank", value_cents,
        |  round(value_cents / 100.0::DOUBLE, 6) AS dollars
        |FROM sel ORDER BY "rank"""".stripMargin,

    // same md5-derived u ∈ (0,1), same inverse-CDF Laplace tree, same
    // rounded-noise integer release
    "q_dp_laplace" ->
      """WITH g AS (
        |  SELECT n_name, COUNT(*) AS true_count
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |uu AS (
        |  SELECT n_name, true_count,
        |    CAST(('0x'||substr(md5(n_name),1,8))::BIGINT % 999999 + 1
        |      AS DOUBLE) / 1000000.0::DOUBLE AS u
        |  FROM g),
        |nn AS (
        |  SELECT n_name, true_count,
        |    round(-(1.0::DOUBLE / 1.0::DOUBLE) *
        |      CASE WHEN u >= 0.5::DOUBLE THEN 1.0::DOUBLE
        |        ELSE -1.0::DOUBLE END *
        |      ln(1.0::DOUBLE - 2.0::DOUBLE * abs(u - 0.5::DOUBLE)), 6)
        |      AS noise
        |  FROM uu)
        |SELECT n_name, true_count, noise,
        |  true_count + CAST(round(noise, 0) AS BIGINT) AS noisy_count
        |FROM nn ORDER BY n_name""".stripMargin,

    // same mask rollup, subset-sum coalition values, exact ×24 weights
    "q_shapley_attribution" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |mc AS (
        |  SELECT mask, CAST(SUM(conv) AS BIGINT) AS cv
        |  FROM u GROUP BY mask),
        |sets AS (SELECT range AS st FROM range(0, 16)),
        |v AS (
        |  SELECT st, CAST(COALESCE(SUM(cv), 0) AS BIGINT) AS v
        |  FROM sets LEFT JOIN mc ON (mask & st) = mask
        |  GROUP BY st),
        |chan AS (SELECT * FROM (VALUES (1, 'click'), (2, 'view'),
        |  (4, 'signup'), (8, 'error')) AS t(bit, channel)),
        |tot AS (SELECT CAST(SUM(conv) AS BIGINT) AS total_conv FROM u),
        |pairs AS (
        |  SELECT c.channel, s0.st AS st0, s0.v AS v0, s1.v AS v1
        |  FROM chan c JOIN v s0 ON (s0.st & c.bit) = 0
        |  JOIN v s1 ON s1.st = s0.st + c.bit),
        |ph AS (
        |  SELECT channel, CAST(SUM(
        |    (CASE (st0 & 1) + ((st0 // 2) & 1) + ((st0 // 4) & 1) +
        |       ((st0 // 8) & 1)
        |     WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END) *
        |    (v1 - v0)) AS BIGINT) AS phi24
        |  FROM pairs GROUP BY channel)
        |SELECT channel, phi24,
        |  round(CAST(phi24 AS DOUBLE) / 24.0::DOUBLE, 6) AS phi,
        |  CASE WHEN total_conv > 0 THEN
        |    round(CAST(phi24 AS DOUBLE) / (24.0::DOUBLE * total_conv), 6)
        |  END AS share
        |FROM ph CROSS JOIN tot ORDER BY channel""".stripMargin,

    "q_users_scan" ->
      """SELECT * FROM (VALUES
        | (1, 'Alice',   'alice@example.com'),
        | (2, 'Bob',     'bob@example.com'),
        | (3, 'Charlie', 'charlie@example.com')) AS t(id, name, email)
        |ORDER BY id""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2)))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2))
        |    * CAST(1.0 + l_tax AS DECIMAL(6,2))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1998-01-01 00:00:00' AND TIMESTAMP '1998-03-31 00:00:00'
        |  AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q_join_nation_region" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q_range_join" ->
      """SELECT band, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN (VALUES ('1_small', 0.0, 50000.0),
        |             ('2_medium', 50000.0, 150000.0),
        |             ('3_large', 150000.0, 1e12)) b(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band
        |ORDER BY band""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, MAX(s.ts) AS ref_ts
        |FROM events p
        |LEFT JOIN events s
        |  ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id, p.ts
        |ORDER BY p.event_id""".stripMargin,

    // DuckDB's operators ERROR like ANSI rather than null, so the oracle
    // replays the try_* semantics as lazily-guarded CASEs: the
    // p % 37 == 0 zero divisor and the exact p >= 102482 overflow boundary
    "q_try_arithmetic" ->
      """WITH l AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(round(l_extendedprice) AS BIGINT) AS p
        |  FROM lineitem),
        |ld AS (SELECT l_returnflag, l_quantity, p,
        |    CASE WHEN p % 37 = 0 THEN 0 ELSE 1 + p % 2 END AS d
        |  FROM l),
        |x AS (SELECT l_returnflag,
        |    CASE WHEN d = 0 THEN NULL ELSE l_quantity / d END AS qpd,
        |    CASE WHEN p >= 102482 THEN NULL
        |         ELSE p * 90000000000000 END AS big
        |  FROM ld)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN qpd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_div_zero,
        |  round(SUM(qpd), 6) AS sum_qpd,
        |  CAST(SUM(CASE WHEN big IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overflow,
        |  CAST(MIN(big) AS BIGINT) AS min_big,
        |  CAST(MAX(big) AS BIGINT) AS max_big
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle re-derives the binding (top segment) and inlines it
    "q_execute_immediate" ->
      """WITH seg AS (
        |  SELECT c_mktsegment FROM customer
        |  GROUP BY 1 ORDER BY COUNT(*) DESC, c_mktsegment ASC LIMIT 1)
        |SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM customer WHERE c_mktsegment = (SELECT c_mktsegment FROM seg)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the honest second-scan version of the observed accumulators
    "q_observe_metrics" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents""".stripMargin,

    // lower() is the semantics UTF8_LCASE packages at the type level
    "q_collation" ->
      """WITH d AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |              ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT COUNT(CASE WHEN lower(seg) = 'building' THEN 1 END)
        |    AS n_building_ci,
        |  COUNT(DISTINCT lower(seg)) AS n_segments_ci,
        |  COUNT(DISTINCT seg) AS n_segments_raw
        |FROM d""".stripMargin,

    // DIFFERENTIAL: the naive containment join — the bucketed equi-join
    // plus residual must equal it exactly
    "q_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |t0 AS (SELECT MIN(us) AS t0 FROM e),
        |w AS (SELECT CAST(r.i AS INT) AS win_id,
        |    t0.t0 + r.i * 18000000000 AS w_start,
        |    t0.t0 + r.i * 18000000000 + 7200000000 AS w_end
        |  FROM range(0, 24) r(i), t0)
        |SELECT w.win_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  CAST(SUM(e.cents) AS BIGINT) AS sum_cents
        |FROM e JOIN w ON e.us >= w.w_start AND e.us < w.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_resample" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        |  FROM events GROUP BY 1),
        |days AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span)
        |SELECT days.user_id, days.d AS d, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
        |FROM days LEFT JOIN daily ON days.user_id = daily.user_id AND days.d = daily.d
        |ORDER BY 1, 2""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(least(19, floor(o_totalprice / 25000.0)) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_sql_api" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |                * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.09
        |  AND l_quantity < 24""".stripMargin,

    // DuckDB executes the identical recursion (interval add instead of
    // add_months — same month-start arithmetic on first-of-month dates).
    "q_recursive_cte" ->
      """WITH RECURSIVE spine(m, hi) AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM spine WHERE m < hi
        |),
        |r AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |           AS revenue
        |  FROM orders GROUP BY 1
        |)
        |SELECT s.m AS month_start,
        |  CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(r.revenue, 0.0) AS DOUBLE) AS revenue
        |FROM spine s LEFT JOIN r ON s.m = r.m
        |ORDER BY month_start""".stripMargin,

    // classic GROUP BY + HAVING — the pipe form lowers to exactly this
    "q_sql_pipe" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY 1
        |HAVING COUNT(*) > 5
        |ORDER BY m""".stripMargin,

    // closed form of the exponential search: counts are monotone
    // non-increasing in thr, so the loop stops at the FIRST power of two
    // whose count drops below 100
    "q_sql_script" ->
      """WITH p AS (
        |  SELECT CAST(power(2, i) AS BIGINT) AS thr FROM range(0, 41) t(i)),
        |c AS (
        |  SELECT thr,
        |    (SELECT COUNT(*) FROM orders WHERE o_totalprice >= thr) AS n_above
        |  FROM p)
        |SELECT thr, n_above FROM c
        |WHERE n_above < 100
        |ORDER BY thr LIMIT 1""".stripMargin,

    // result-equivalent UNION ALL melt (metric = source column name)
    "q_unpivot" -> {
      val c = "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
      s"""WITH b AS (
        |  SELECT c_mktsegment, MIN($c) AS min_cents, MAX($c) AS max_cents,
        |    CAST(SUM($c) AS BIGINT) AS sum_cents
        |  FROM customer GROUP BY 1)
        |SELECT c_mktsegment, 'min_cents' AS metric, min_cents AS cents FROM b
        |UNION ALL
        |SELECT c_mktsegment, 'max_cents' AS metric, max_cents AS cents FROM b
        |UNION ALL
        |SELECT c_mktsegment, 'sum_cents' AS metric, sum_cents AS cents FROM b
        |ORDER BY c_mktsegment, metric""".stripMargin
    },

    // DIFFERENTIAL: the same rollup from the RAW columns + json_extract of
    // the original props — construct→VARIANT→extract must round-trip; the
    // never-present probe path pins n_missing == n
    "q_variant_json" ->
      """WITH x AS (
        |  SELECT event_type AS etype,
        |    CAST(json_extract(props, '$.k') AS INT) AS k,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT etype, k % 10 AS k_bucket, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  COUNT(*) AS n_missing
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the UDF body inlined — same exact-decimal arithmetic, no macro needed
    "q_sql_udf" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(1 - l_discount AS DECIMAL(6,2))) AS DOUBLE)
        |    AS disc_revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_correlated_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2
        |       WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
        |       FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_lateral_topk" ->
      """SELECT n.n_name, t.c_custkey, t.acct_cents
        |FROM nation n,
        |LATERAL (SELECT c_custkey,
        |           CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acct_cents
        |         FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY acct_cents DESC, c_custkey
        |         LIMIT 2) t
        |ORDER BY n.n_name, t.acct_cents DESC, t.c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_topn_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) x
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_window_running_sum" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  CAST(SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_ranks" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acct_cents,
        |  CAST(ntile(10) OVER w AS INT) AS decile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) ASC,
        |           c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_lag_gap" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(date_diff('day',
        |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS gap_days
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_sessionize_batch" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    // same strict-sequence stages, same 7-day windows, same rate base
    "q_event_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |c AS (
        |  SELECT 1 AS step, 'view' AS stage,
        |    (SELECT COUNT(*) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click_after_view', (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase_after_click',
        |    (SELECT COUNT(*) FROM s3))
        |SELECT step, stage, n_users,
        |  round(n_users::DOUBLE / (SELECT COUNT(*) FROM s1), 6) AS conv_rate
        |FROM c ORDER BY step""".stripMargin,

    // same Monday truncation, same exact-micros week offsets
    "q_retention_cohorts" ->
      """WITH first AS (
        |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
        |marks AS (
        |  SELECT DISTINCT e.user_id,
        |    date_trunc('week', f.first_ts) AS cohort_week,
        |    date_trunc('week', e.ts) AS act_week
        |  FROM events e JOIN first f USING (user_id)),
        |m2 AS (
        |  SELECT user_id, cohort_week, act_week,
        |    (epoch_us(act_week) - epoch_us(cohort_week)) // 604800000000
        |      AS week_offset
        |  FROM marks),
        |act AS (
        |  SELECT cohort_week, week_offset, COUNT(*) AS n_active
        |  FROM m2 GROUP BY cohort_week, week_offset),
        |sz AS (
        |  SELECT cohort_week, n_active AS n_cohort FROM act
        |  WHERE week_offset = 0)
        |SELECT a.cohort_week::DATE AS cohort_week, a.week_offset,
        |  a.n_active, s.n_cohort,
        |  round(a.n_active::DOUBLE / s.n_cohort, 6) AS retention
        |FROM act a JOIN sz s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // same md5 coin, same 24 h conversion window, same pooled-z
    // expression tree (explicit DOUBLE casts), same degenerate-rate guard
    "q_ab_test" ->
      """WITH f AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
        |c AS (
        |  SELECT DISTINCT e.user_id
        |  FROM events e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > f.t0
        |    AND e.ts <= f.t0 + INTERVAL 1 DAY),
        |u AS (
        |  SELECT f.user_id,
        |    CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS converted
        |  FROM f LEFT JOIN c ON c.user_id = f.user_id),
        |v AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
        |    ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant, converted
        |  FROM u),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_b
        |  FROM v)
        |SELECT n_a, conv_a, round(conv_a::DOUBLE / n_a, 6) AS rate_a,
        |  n_b, conv_b, round(conv_b::DOUBLE / n_b, 6) AS rate_b,
        |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
        |    THEN round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
        |      sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |        (1.0::DOUBLE - (conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |        (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)), 6)
        |  END AS z_stat
        |FROM a""".stripMargin,

    // same rounded fences, same DECIMAL(18,6) winsorized sum
    "q_outlier_iqr" ->
      """WITH f AS (
        |  SELECT o_orderpriority,
        |    round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
        |    round(quantile_cont(o_totalprice, 0.75), 6) AS q3
        |  FROM orders GROUP BY o_orderpriority),
        |f2 AS (
        |  SELECT o_orderpriority, q1, q3,
        |    round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
        |    round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
        |  FROM f)
        |SELECT o.o_orderpriority, COUNT(*) AS n_orders,
        |  ANY_VALUE(f2.q1) AS q1, ANY_VALUE(f2.q3) AS q3,
        |  ANY_VALUE(f2.lo_fence) AS lo_fence,
        |  ANY_VALUE(f2.hi_fence) AS hi_fence,
        |  CAST(SUM(CASE WHEN o.o_totalprice < f2.lo_fence THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN o.o_totalprice > f2.hi_fence THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high,
        |  round(SUM(round(least(greatest(o.o_totalprice, f2.lo_fence),
        |      f2.hi_fence), 6)::DECIMAL(18,6))::DOUBLE / COUNT(*), 6)
        |    AS winsorized_mean
        |FROM orders o JOIN f2 USING (o_orderpriority)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // same basket key, same a<b pair enumeration, same exact ratios
    "q_association_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT user_id, ts::DATE AS day, event_type
        |  FROM events),
        |items AS (
        |  SELECT event_type, COUNT(*) AS n_item FROM baskets
        |  GROUP BY event_type),
        |tot AS (
        |  SELECT COUNT(*) AS n_baskets FROM
        |    (SELECT DISTINCT user_id, day FROM baskets)),
        |pairs AS (
        |  SELECT b1.event_type AS a, b2.event_type AS b, COUNT(*) AS n_ab
        |  FROM baskets b1 JOIN baskets b2
        |    ON b1.user_id = b2.user_id AND b1.day = b2.day
        |    AND b1.event_type < b2.event_type
        |  GROUP BY b1.event_type, b2.event_type),
        |rules AS (
        |  SELECT a AS antecedent, b AS consequent, n_ab FROM pairs
        |  UNION ALL
        |  SELECT b, a, n_ab FROM pairs)
        |SELECT r.antecedent, r.consequent, r.n_ab,
        |  round(r.n_ab::DOUBLE / t.n_baskets, 6) AS support,
        |  round(r.n_ab::DOUBLE / ia.n_item, 6) AS confidence,
        |  round(r.n_ab::DOUBLE * t.n_baskets / (ia.n_item * ic.n_item), 6)
        |    AS lift
        |FROM rules r
        |JOIN items ia ON ia.event_type = r.antecedent
        |JOIN items ic ON ic.event_type = r.consequent
        |CROSS JOIN tot t
        |ORDER BY antecedent, consequent""".stripMargin,

    // same (ts, event_id) successor order, same integer-ratio rounding
    "q_markov_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c
        |  GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(c.n::DOUBLE / t.n_from, 6) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // same exact-integer window sums, same variance tree, same rounded-z
    // flag and guards
    "q_anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY ts::DATE),
        |w AS (
        |  SELECT day, n_events,
        |    COUNT(*) OVER fr AS cnt_w,
        |    SUM(n_events) OVER fr AS sum_w,
        |    SUM(n_events * n_events) OVER fr AS sumsq_w
        |  FROM daily
        |  WINDOW fr AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
        |    AND CURRENT ROW)),
        |z AS (
        |  SELECT day, n_events,
        |    round(sum_w::DOUBLE / cnt_w, 6) AS mean7,
        |    CASE WHEN cnt_w > 1 AND
        |      (sumsq_w::DOUBLE - sum_w::DOUBLE * sum_w / cnt_w)
        |        / (cnt_w - 1) > 0
        |    THEN round((n_events - sum_w::DOUBLE / cnt_w) /
        |      sqrt((sumsq_w::DOUBLE - sum_w::DOUBLE * sum_w / cnt_w)
        |        / (cnt_w - 1)), 6)
        |    END AS z
        |  FROM w)
        |SELECT day, n_events, mean7, z,
        |  COALESCE(abs(z) > 2.0::DOUBLE, false) AS is_anomaly
        |FROM z ORDER BY day""".stripMargin,

    // same (ts, event_id) list order, same seeded left fold, same α = ½
    "q_ewma" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list(value ORDER BY ts, event_id) AS vals
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  round(list_reduce(vals,
        |    (acc, x) -> acc * 0.5::DOUBLE + x * 0.5::DOUBLE), 6) AS ewma,
        |  round(vals[-1], 6) AS last_value
        |FROM u ORDER BY user_id""".stripMargin,

    // same canonical stringification: BIGINT/VARCHAR verbatim,
    // TIMESTAMP via DATE, DOUBLE via DECIMAL(12,2)
    "q_column_profile" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(o_orderkey) AS n_null,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    MIN(o_orderkey)::VARCHAR AS min_val,
        |    MAX(o_orderkey)::VARCHAR AS max_val
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    MIN(o_custkey)::VARCHAR, MAX(o_custkey)::VARCHAR
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    MIN(o_orderstatus), MAX(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    MIN(o_totalprice::DECIMAL(12,2))::VARCHAR,
        |    MAX(o_totalprice::DECIMAL(12,2))::VARCHAR
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        |    COUNT(DISTINCT o_orderdate),
        |    MIN(o_orderdate::DATE)::VARCHAR, MAX(o_orderdate::DATE)::VARCHAR
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*),
        |    COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    MIN(o_orderpriority), MAX(o_orderpriority)
        |  FROM orders)
        |SELECT column_name, n_rows, n_null, n_distinct, min_val, max_val
        |FROM p ORDER BY column_name""".stripMargin,

    // identical 64-register md5 HLL census per column (exact integer
    // (j, rho) sets), identical register→estimate double tree
    "q_approx_stats" -> {
      def reg(s: String): String = {
        val h = s"('0x'||substr(md5($s),1,8))::BIGINT"
        s"list(DISTINCT struct_pack(j := $h % 64, r := CASE WHEN " +
          s"$h // 64 = 0 THEN 27 ELSE 27 - CAST(length(bin($h // 64)) " +
          s"AS BIGINT) END))"
      }
      val specs = Seq(
        ("o_orderkey", "o_orderkey::VARCHAR",
          "MIN(o_orderkey)::VARCHAR", "MAX(o_orderkey)::VARCHAR"),
        ("o_custkey", "o_custkey::VARCHAR",
          "MIN(o_custkey)::VARCHAR", "MAX(o_custkey)::VARCHAR"),
        ("o_orderstatus", "o_orderstatus",
          "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
        ("o_totalprice", "(o_totalprice::DECIMAL(12,2))::VARCHAR",
          "MIN(o_totalprice::DECIMAL(12,2))::VARCHAR",
          "MAX(o_totalprice::DECIMAL(12,2))::VARCHAR"),
        ("o_orderdate", "(o_orderdate::DATE)::VARCHAR",
          "MIN(o_orderdate::DATE)::VARCHAR",
          "MAX(o_orderdate::DATE)::VARCHAR"),
        ("o_orderpriority", "o_orderpriority",
          "MIN(o_orderpriority)", "MAX(o_orderpriority)"))
      val parts = specs.map { case (name, hs, mnS, mxS) =>
        s"""  SELECT '$name' AS column_name, COUNT(*) AS n_rows,
           |    COUNT(*) - COUNT($name) AS n_null,
           |    ${reg(hs)} FILTER ($name IS NOT NULL) AS ms,
           |    $mnS AS min_val, $mxS AS max_val
           |  FROM orders""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH p AS (
         |$parts),
         |e AS (
         |  SELECT column_name, n_rows, n_null, min_val, max_val,
         |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
         |      list_transform(range(0, 64), j ->
         |        CAST(1 AS DOUBLE) / CAST(1::BIGINT << CAST(
         |          COALESCE(list_max(list_transform(list_filter(ms,
         |            x -> x.j = j), x -> x.r)), 0) AS INT) AS DOUBLE))),
         |      (a, b) -> a + b) AS zsum,
         |    64 - len(list_distinct(list_transform(ms, x -> x.j))) AS v
         |  FROM p),
         |f AS (
         |  SELECT *, CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) / zsum
         |    AS e_raw
         |  FROM e)
         |SELECT column_name, n_rows, n_null,
         |  round(CASE WHEN e_raw <= CAST(160 AS DOUBLE) AND v > 0
         |    THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
         |    ELSE e_raw END, 6) AS approx_distinct,
         |  min_val, max_val
         |FROM f ORDER BY column_name""".stripMargin
    },

    "q_scd2_dimension" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  event_type, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "q_collect_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_union_counts" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier) u
        |GROUP BY nationkey
        |ORDER BY nationkey""".stripMargin,

    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_union_evolve" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE YEAR(o_orderdate) = 1997
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE YEAR(o_orderdate) = 1998)
        |SELECT COALESCE(o_orderpriority, '(pre-drift)') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM u
        |GROUP BY 1
        |ORDER BY priority""".stripMargin,

    "q_rollup_returns" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
        |       COALESCE(l_linestatus, '(all)') AS linestatus,
        |       COUNT(*) AS n, CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |       COALESCE(o_orderpriority, '(all)') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_cube_orders" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |       COALESCE(o_orderpriority, '(all)') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the UNSALTED join recomputed — salting must not change the result
    "q_skew_salted_join" ->
      """WITH dim AS (SELECT * FROM (VALUES
        |  ('A', 2), ('N', 10), ('R', 5)) AS d(flag, weight))
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * weight) AS DOUBLE)
        |    AS wsum
        |FROM lineitem JOIN dim ON l_returnflag = flag
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_quality_contract" ->
      """WITH r AS (
        |  SELECT 'lineitem' AS tbl, 'orderkey_not_null' AS rule,
        |    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_violations
        |  FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'quantity_positive',
        |    SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'discount_in_unit_range',
        |    SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
        |    FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'extendedprice_nonnegative',
        |    SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'shipdate_not_null',
        |    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'orders', 'orderkey_not_null',
        |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'orders', 'totalprice_positive',
        |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'orders', 'totalprice_cap_100k',
        |    SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'orders', 'orderdate_not_null',
        |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'orders', 'custkey_references_customer',
        |    COUNT(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                      WHERE c.c_custkey = o.o_custkey))
        |SELECT tbl, rule, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM r ORDER BY tbl, rule""".stripMargin,

    "q_stats_moments" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_scalar_string" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS uname,
        |  LENGTH(p_name) AS name_len,
        |  SUBSTRING(p_name, 1, 8) AS prefix,
        |  p_brand || '/' || p_type AS brand_type,
        |  REPLACE(p_name, ' ', '_') AS snake
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_scalar_map" ->
      """SELECT p_partkey,
        |  p_brand AS v_brand,
        |  p_name AS v_name,
        |  3 AS n_entries,
        |  'brand,name,type' AS keys_sorted,
        |  TRUE AS has_type,
        |  2 AS n_no_type,
        |  array_to_string(list_sort([upper(p_brand), upper(p_type), upper(p_name)]), '|') AS vals_upper
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_scalar_datetime" ->
      """SELECT o_orderkey,
        |  CAST(YEAR(o_orderdate) AS INT) AS y,
        |  CAST(MONTH(o_orderdate) AS INT) AS m,
        |  CAST(DAY(o_orderdate) AS INT) AS d,
        |  date_trunc('month', o_orderdate) AS month_start
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q_case_math" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mn,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mx
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    "q_direct_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |JOIN (VALUES (7), (42), (101)) t(lookup_key) ON c_custkey = lookup_key
        |ORDER BY c_custkey""".stripMargin,

    "q_direct_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey IN (
        |  SELECT lookup_key FROM (VALUES (7), (42), (101), (42)) t(lookup_key))
        |ORDER BY c_custkey""".stripMargin,

    "q_udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |  round(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |            * CAST(l_quantity AS BIGINT)) * 1.0
        |        / (100 * SUM(CAST(l_quantity AS BIGINT))), 6) AS wavg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_from_json_props" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(SUM(len(json_keys(props))) AS BIGINT) AS n_keys
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_variant_props" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n_missing
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_json_events" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_revenue_by_nation_year" ->
      """SELECT n_name, CAST(YEAR(o_orderdate) AS INT) AS y,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name, CAST(YEAR(o_orderdate) AS INT)
        |ORDER BY n_name, y""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH eps AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT p_partkey, p_brand, s_name, n_name,
        |       ROUND(unit_cost, 6) AS unit_cost
        |FROM eps
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN part     ON p_partkey = l_partkey
        |WHERE unit_cost = (SELECT MIN(e2.unit_cost) FROM eps e2
        |                   WHERE e2.l_partkey = eps.l_partkey)
        |ORDER BY p_partkey, s_name
        |LIMIT 100""".stripMargin,

    "q13_cust_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |       AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND CAST(l_quantity AS BIGINT) * 5 *
        |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |    < (SELECT SUM(CAST(l_quantity AS BIGINT))
        |       FROM lineitem l3 WHERE l3.l_partkey = p_partkey)""".stripMargin,

    "q18_large_volume" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 160)
        |GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 100""".stripMargin,

    "q22_dormant_customers" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |    > (SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
        |       FROM customer c3 WHERE c3.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // same score histogram, same exact-BIGINT 2U rank statistic, same
    // half-credit tie handling, same double trees for auc/gini
    "q_roc_auc" ->
      """WITH h AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS neg
        |  FROM documents GROUP BY n_chars),
        |cw AS (
        |  SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        |  FROM h),
        |a AS (
        |  SELECT CAST(SUM(pos * (2 * cneg + neg)) AS BIGINT) AS u2,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(neg) AS BIGINT) AS n_neg
        |  FROM cw)
        |SELECT n_pos, n_neg, u2,
        |  round(u2::DOUBLE / (2.0::DOUBLE * n_pos * n_neg), 6) AS auc,
        |  round(u2::DOUBLE / (n_pos::DOUBLE * n_neg) - 1.0::DOUBLE, 6)
        |    AS gini
        |FROM a""".stripMargin,

    // same rounded quintile fences, same map-side crossing scores, same
    // declared segment taxonomy, same exact-integer averages
    "q_rfm_segments" ->
      """WITH ev AS (
        |  SELECT user_id, ts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |mx AS (SELECT MAX(ts) AS maxt FROM ev),
        |per AS (
        |  SELECT user_id,
        |    CAST((epoch_us(maxt) - epoch_us(MAX(ts))) // 3600000000
        |      AS BIGINT) AS recency,
        |    COUNT(*) AS freq, CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM ev, mx GROUP BY user_id, maxt),
        |f AS (
        |  SELECT round(quantile_cont(recency, 0.2), 6) AS r20,
        |    round(quantile_cont(recency, 0.4), 6) AS r40,
        |    round(quantile_cont(recency, 0.6), 6) AS r60,
        |    round(quantile_cont(recency, 0.8), 6) AS r80,
        |    round(quantile_cont(freq, 0.2), 6) AS f20,
        |    round(quantile_cont(freq, 0.4), 6) AS f40,
        |    round(quantile_cont(freq, 0.6), 6) AS f60,
        |    round(quantile_cont(freq, 0.8), 6) AS f80,
        |    round(quantile_cont(cents, 0.2), 6) AS m20,
        |    round(quantile_cont(cents, 0.4), 6) AS m40,
        |    round(quantile_cont(cents, 0.6), 6) AS m60,
        |    round(quantile_cont(cents, 0.8), 6) AS m80
        |  FROM per),
        |sc AS (
        |  SELECT
        |    1 + (CASE WHEN recency < r80 THEN 1 ELSE 0 END) +
        |      (CASE WHEN recency < r60 THEN 1 ELSE 0 END) +
        |      (CASE WHEN recency < r40 THEN 1 ELSE 0 END) +
        |      (CASE WHEN recency < r20 THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN freq > f20 THEN 1 ELSE 0 END) +
        |      (CASE WHEN freq > f40 THEN 1 ELSE 0 END) +
        |      (CASE WHEN freq > f60 THEN 1 ELSE 0 END) +
        |      (CASE WHEN freq > f80 THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN cents > m20 THEN 1 ELSE 0 END) +
        |      (CASE WHEN cents > m40 THEN 1 ELSE 0 END) +
        |      (CASE WHEN cents > m60 THEN 1 ELSE 0 END) +
        |      (CASE WHEN cents > m80 THEN 1 ELSE 0 END) AS m_score,
        |    recency, cents
        |  FROM per, f),
        |lab AS (
        |  SELECT CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |    WHEN r_score >= 4 THEN 'recent'
        |    WHEN f_score >= 4 THEN 'loyal_at_risk'
        |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |    ELSE 'regular' END AS segment,
        |    recency, cents, m_score
        |  FROM sc)
        |SELECT segment, COUNT(*) AS n_users,
        |  round(CAST(SUM(recency) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_recency_h,
        |  round(CAST(SUM(cents) AS DOUBLE) / 100.0::DOUBLE / COUNT(*), 6)
        |    AS avg_spend,
        |  round(CAST(SUM(m_score) AS DOUBLE) / COUNT(*), 6) AS avg_m_score
        |FROM lab GROUP BY segment ORDER BY segment""".stripMargin,

    // same sorted-rank Gini identity, same exact Σi·x / Σx² inputs,
    // same shared double trees
    "q_concentration" ->
      """WITH g AS (
        |  SELECT source, COUNT(*) AS x FROM documents GROUP BY source),
        |r AS (
        |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, source ASC)
        |    AS BIGINT) AS i
        |  FROM g)
        |SELECT COUNT(*) AS n_sources,
        |  CAST(SUM(x) AS BIGINT) AS n_docs,
        |  round(2.0::DOUBLE * CAST(SUM(i * x) AS BIGINT) /
        |    (COUNT(*) * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)) -
        |    (COUNT(*) + 1.0::DOUBLE) / COUNT(*), 6) AS gini,
        |  round(CAST(MAX(x) AS DOUBLE) / CAST(SUM(x) AS BIGINT), 6)
        |    AS top1_share,
        |  round(CAST(SUM(x * x) AS DOUBLE) /
        |    (CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) *
        |      CAST(SUM(x) AS BIGINT)), 6) AS hhi
        |FROM r""".stripMargin,

    // same running-max prior-touch lookup, same keyed type fetch, same
    // 'direct' fallback, same exact-cents accounting
    "q_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM ev),
        |wp AS (
        |  SELECT *, MAX(CASE WHEN event_type <> 'purchase' THEN rn END)
        |    OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
        |  FROM r),
        |fs AS (SELECT user_id, event_type AS first_type FROM r WHERE rn = 1),
        |pu AS (SELECT user_id, pn, cents FROM wp
        |  WHERE event_type = 'purchase'),
        |ls AS (SELECT user_id, rn AS pn, event_type AS last_type FROM r),
        |att AS (
        |  SELECT pu.cents, fs.first_type,
        |    COALESCE(ls.last_type, 'direct') AS last_type
        |  FROM pu JOIN fs USING (user_id)
        |  LEFT JOIN ls ON ls.user_id = pu.user_id AND ls.pn = pu.pn),
        |f AS (SELECT first_type AS channel, COUNT(*) AS ft_conv,
        |  CAST(SUM(cents) AS BIGINT) AS ft_cents FROM att GROUP BY 1),
        |l AS (SELECT last_type AS channel, COUNT(*) AS lt_conv,
        |  CAST(SUM(cents) AS BIGINT) AS lt_cents FROM att GROUP BY 1)
        |SELECT channel,
        |  CAST(COALESCE(ft_conv, 0) AS BIGINT) AS first_touch_conv,
        |  round(COALESCE(ft_cents, 0)::DOUBLE / 100.0::DOUBLE, 6)
        |    AS first_touch_rev,
        |  CAST(COALESCE(lt_conv, 0) AS BIGINT) AS last_touch_conv,
        |  round(COALESCE(lt_cents, 0)::DOUBLE / 100.0::DOUBLE, 6)
        |    AS last_touch_rev
        |FROM f FULL OUTER JOIN l USING (channel)
        |ORDER BY channel""".stripMargin,

    // same md5 arrival permutation, same two-level chunk/prefix scan,
    // same exact-micros lateness + delay grid
    "q_lateness_audit" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS tsu,
        |    ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8))::BIGINT AS a
        |  FROM events),
        |ec AS (SELECT *, a // 67108864 AS chunk FROM ev),
        |cm AS (SELECT chunk, MAX(tsu) AS cmax FROM ec GROUP BY chunk),
        |cp AS (SELECT chunk, MAX(cmax) OVER (ORDER BY chunk
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM cm),
        |e2 AS (
        |  SELECT ec.tsu,
        |    MAX(tsu) OVER (PARTITION BY ec.chunk
        |      ORDER BY ec.a ASC, ec.event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS imax,
        |    cp.pmax
        |  FROM ec JOIN cp USING (chunk)),
        |l AS (
        |  SELECT greatest(0, greatest(COALESCE(imax, tsu),
        |    COALESCE(pmax, tsu)) - tsu) AS late_us FROM e2),
        |d AS (
        |  SELECT late_us, t.delay_us FROM l, (SELECT unnest([0,
        |    86400000000, 604800000000, 2592000000000]) AS delay_us) t)
        |SELECT CAST(delay_us // 3600000000 AS BIGINT) AS delay_h,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late_us > delay_us THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  round(SUM(CASE WHEN late_us > delay_us THEN 1 ELSE 0 END)::DOUBLE
        |    / COUNT(*), 6) AS drop_share
        |FROM d GROUP BY delay_us ORDER BY delay_h""".stripMargin,

    // the FULL single-pass recompute (merged partials must equal it),
    // with the same base/delta breakdown via the self-derived cut
    "q_delta_refresh" ->
      """WITH ev AS (
        |  SELECT event_type, ts::DATE AS day,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |c AS (SELECT MIN(day) + 25 AS cut FROM ev)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_base,
        |  CAST(SUM(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_delta,
        |  round(CAST(SUM(cents) AS DOUBLE) / 100.0::DOUBLE / COUNT(*), 6)
        |    AS avg_value
        |FROM ev, c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same QI rollup, same exact band edges, same k=5 / distinct-band
    // accounting
    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS gsize,
        |    CAST(COUNT(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
        |      AS BIGINT) // 100000) AS BIGINT) AS l_div
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(gsize) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
        |    AS n_exposed,
        |  round(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END)::DOUBLE /
        |    SUM(gsize), 6) AS exposed_share,
        |  CAST(MIN(gsize) AS BIGINT) AS min_k,
        |  CAST(MIN(l_div) AS BIGINT) AS min_l,
        |  round(SUM(l_div)::DOUBLE / COUNT(*), 6) AS avg_l
        |FROM g""".stripMargin,

    // same exact integer n/k, same 1.96·1.96 double tree, same total order
    "q_wilson_rank" ->
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_en
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_en,
        |  round((CAST(n_en AS DOUBLE) / n_docs), 6) AS p_hat,
        |  round(((CAST(n_en AS DOUBLE) / n_docs) +
        |    1.96::DOUBLE * 1.96::DOUBLE / (2.0::DOUBLE * n_docs) -
        |    1.96::DOUBLE * sqrt(((CAST(n_en AS DOUBLE) / n_docs) *
        |      (1.0::DOUBLE - (CAST(n_en AS DOUBLE) / n_docs)) +
        |      1.96::DOUBLE * 1.96::DOUBLE / (4.0::DOUBLE * n_docs))
        |      / n_docs)) /
        |    (1.0::DOUBLE + 1.96::DOUBLE * 1.96::DOUBLE / n_docs), 6)
        |    AS wilson_lo
        |FROM g ORDER BY wilson_lo DESC, source ASC""".stripMargin,

    // same self-derived period split, same exact-cents sufficient
    // statistics, same boundary-rounded theta, same shared double trees
    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, ts::DATE AS day,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT MIN(day) + 15 AS mid FROM ev),
        |per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM ev, mid GROUP BY user_id),
        |pv AS (
        |  SELECT x, y, CASE WHEN ('0x'||substr(md5(user_id::VARCHAR),1,8))
        |    ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS va
        |  FROM per),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(va) AS BIGINT) AS n_a,
        |    CAST(SUM(va * x) AS BIGINT) AS sx_a,
        |    CAST(SUM(va * y) AS BIGINT) AS sy_a
        |  FROM pv),
        |t AS (
        |  SELECT a.*, CASE WHEN
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0.0::DOUBLE
        |    THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |      (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |    END AS theta
        |  FROM a)
        |SELECT n AS n_users, theta,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      > 0.0::DOUBLE
        |    AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
        |      > 0.0::DOUBLE
        |  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |     (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
        |  END AS rho2,
        |  CASE WHEN n_a > 0 AND n - n_a > 0
        |  THEN round((CAST(sy_a AS DOUBLE) / n_a -
        |    CAST(sy - sy_a AS DOUBLE) / (n - n_a)) / 100.0::DOUBLE, 6)
        |  END AS diff_raw,
        |  CASE WHEN n_a > 0 AND n - n_a > 0 AND theta IS NOT NULL
        |  THEN round((CAST(sy_a AS DOUBLE) / n_a -
        |    CAST(sy - sy_a AS DOUBLE) / (n - n_a) -
        |    theta * (CAST(sx_a AS DOUBLE) / n_a -
        |      CAST(sx - sx_a AS DOUBLE) / (n - n_a))) / 100.0::DOUBLE, 6)
        |  END AS diff_cuped
        |FROM t""".stripMargin,

    // same one-pass ROLLUP, same GROUPING flags, same money discipline
    "q_rollup_report" ->
      """SELECT
        |  COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, flag, g_status, status""".stripMargin,

    // same md5 coin, same exact integer-cents sufficient statistics, same
    // Welch t / Satterthwaite-df double trees, same degenerate guard
    "q_welch_ttest" ->
      """WITH e AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents,
        |    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
        |      ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS va
        |  FROM events),
        |a AS (
        |  SELECT CAST(SUM(va) AS BIGINT) AS n_a,
        |    CAST(SUM(1 - va) AS BIGINT) AS n_b,
        |    CAST(SUM(va * cents) AS BIGINT) AS sum_a,
        |    CAST(SUM((1 - va) * cents) AS BIGINT) AS sum_b,
        |    CAST(SUM(va * cents * cents) AS BIGINT) AS ss_a,
        |    CAST(SUM((1 - va) * cents * cents) AS BIGINT) AS ss_b
        |  FROM e)
        |SELECT n_a, n_b,
        |  round(CAST(sum_a AS DOUBLE) / 100.0::DOUBLE / n_a, 6) AS mean_a,
        |  round(CAST(sum_b AS DOUBLE) / 100.0::DOUBLE / n_b, 6) AS mean_b,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b) > 0.0::DOUBLE
        |  THEN round((CAST(sum_a AS DOUBLE) / n_a -
        |    CAST(sum_b AS DOUBLE) / n_b) / sqrt(
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b)), 6)
        |  END AS t_stat,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b) > 0.0::DOUBLE
        |  THEN round((
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b)) * (
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b)) / (
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) *
        |    ((CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a)
        |      / (n_a - 1.0::DOUBLE) / n_a) / (n_a - 1.0::DOUBLE) +
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b) *
        |    ((CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b)
        |      / (n_b - 1.0::DOUBLE) / n_b) / (n_b - 1.0::DOUBLE)), 6)
        |  END AS df
        |FROM a""".stripMargin,

    // same md5 coin, same per-score histogram + cumulative window, same
    // exact-BIGINT 2U / tie-term / doubled rank sum, same tie-corrected
    // z double tree with the identical degenerate guard
    "q_mann_whitney" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS score FROM events GROUP BY user_id),
        |v AS (
        |  SELECT score, CASE WHEN ('0x' || substr(md5(user_id::VARCHAR),
        |    1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS va
        |  FROM u),
        |h AS (
        |  SELECT score, CAST(SUM(va) AS BIGINT) AS na,
        |    CAST(SUM(1 - va) AS BIGINT) AS nb
        |  FROM v GROUP BY score),
        |cw AS (
        |  SELECT na, nb, COALESCE(SUM(nb) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        |  FROM h),
        |a AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
        |    CAST(SUM(nb) AS BIGINT) AS n_b,
        |    CAST(SUM(na * (2 * cnb + nb)) AS BIGINT) AS u_x2,
        |    CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))
        |      AS BIGINT) AS tie_term
        |  FROM cw)
        |SELECT n_a, n_b, u_x2,
        |  u_x2 + n_a * (n_a + 1) AS rank_sum_x2, tie_term,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
        |    AND (CAST(n_a AS DOUBLE) * n_b / 12.0::DOUBLE) *
        |      ((CAST(n_a + n_b AS DOUBLE) + 1.0::DOUBLE) -
        |       CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |         (CAST(n_a + n_b AS DOUBLE) - 1.0::DOUBLE))) > 0.0::DOUBLE
        |  THEN round(((CAST(u_x2 AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
        |    / 2.0::DOUBLE) /
        |    sqrt((CAST(n_a AS DOUBLE) * n_b / 12.0::DOUBLE) *
        |      ((CAST(n_a + n_b AS DOUBLE) + 1.0::DOUBLE) -
        |       CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |         (CAST(n_a + n_b AS DOUBLE) - 1.0::DOUBLE)))), 6)
        |  END AS z_stat
        |FROM a""".stripMargin,

    // same exact sufficient statistics (BIGINT x, DECIMAL(12,2) y), same
    // double algebra over the cast aggregates, same degenerate guards
    "q_ols_regression" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    SUM(y) AS sy, SUM(y * y) AS syy, SUM(y * x) AS sxy
        |  FROM b GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n, n::DOUBLE AS dn, sx::DOUBLE AS dsx,
        |    sxx::DOUBLE AS dsxx, sy::DOUBLE AS dsy, syy::DOUBLE AS dsyy,
        |    sxy::DOUBLE AS dsxy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  CASE WHEN dn * dsxx - dsx * dsx > 0 THEN
        |    round((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx), 6)
        |  END AS slope,
        |  CASE WHEN dn * dsxx - dsx * dsx > 0 THEN
        |    round((dsy - ((dn * dsxy - dsx * dsy) /
        |      (dn * dsxx - dsx * dsx)) * dsx) / dn, 6)
        |  END AS intercept,
        |  CASE WHEN dn * dsxx - dsx * dsx > 0 AND dn * dsyy - dsy * dsy > 0
        |    THEN round((dn * dsxy - dsx * dsy) * (dn * dsxy - dsx * dsy) /
        |      ((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)), 6)
        |  END AS r2
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // same integer-day durations, same deaths-before-censors life table,
    // same left-fold of (1 - d/n_risk) factors over the dur-sorted list
    "q_kaplan_meier" ->
      """WITH ends AS (SELECT MAX(ts) AS obs_end FROM events),
        |t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts) AS tp
        |  FROM events e JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t0.t0
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END AS ev_flag,
        |    CASE WHEN fp.user_id IS NULL
        |      THEN (epoch_us(ends.obs_end) - epoch_us(t0.t0)) // 86400000000
        |      ELSE (epoch_us(fp.tp) - epoch_us(t0.t0)) // 86400000000
        |    END AS dur
        |  FROM t0 LEFT JOIN fp ON fp.user_id = t0.user_id CROSS JOIN ends),
        |bd AS (
        |  SELECT dur, CAST(SUM(ev_flag) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev_flag) AS BIGINT) AS c
        |  FROM u GROUP BY dur),
        |tot AS (SELECT COUNT(*) AS n_total FROM u),
        |rk AS (
        |  SELECT dur, d, c, CAST(tot.n_total - COALESCE(SUM(d + c) OVER
        |    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS n_risk
        |  FROM bd CROSS JOIN tot),
        |lst AS (
        |  SELECT list(struct_pack(dur := dur, d := d, n_risk := n_risk)
        |    ORDER BY dur) AS l
        |  FROM rk),
        |e AS (
        |  SELECT dur, d, n_risk, c, ROW_NUMBER() OVER (ORDER BY dur) AS i
        |  FROM rk)
        |SELECT e.dur AS duration_day, e.n_risk, e.d AS n_events,
        |  e.c AS n_censored,
        |  round(list_reduce(list_concat([1.0::DOUBLE],
        |    list_transform(lst.l[1:e.i],
        |      x -> 1.0::DOUBLE - x.d::DOUBLE / x.n_risk)),
        |    (acc, f) -> acc * f), 6) AS survival
        |FROM e CROSS JOIN lst
        |ORDER BY duration_day""".stripMargin,

    // same six declared FK edges, NOT EXISTS ≡ the left-anti join
    // (NULL child keys orphan in both)
    "q_fk_audit" ->
      """WITH edges AS (
        |  SELECT 'customer.c_nationkey -> nation' AS relationship,
        |    (SELECT COUNT(*) FROM customer) AS n_child,
        |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |      AS n_orphan
        |  UNION ALL
        |  SELECT 'events.user_id -> customer',
        |    (SELECT COUNT(*) FROM events),
        |    (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey -> orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'nation.n_regionkey -> region',
        |    (SELECT COUNT(*) FROM nation),
        |    (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |  UNION ALL
        |  SELECT 'orders.o_custkey -> customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey -> nation',
        |    (SELECT COUNT(*) FROM supplier),
        |    (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)))
        |SELECT relationship, n_child, n_orphan,
        |  round(n_orphan::DOUBLE / n_child, 6) AS orphan_rate
        |FROM edges ORDER BY relationship""".stripMargin,

    // same exact standardization sums, same round-at-the-libm-boundary
    // sigmoid, same DECIMAL(8,6) binning and Brier accounting
    "q_calibration_bins" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |st AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM d),
        |z AS (
        |  SELECT y, round((x - sx::DOUBLE / nd) /
        |    sqrt((nd::DOUBLE * sxx - sx::DOUBLE * sx) /
        |      (nd * (nd - 1))), 6) AS z
        |  FROM d CROSS JOIN st),
        |p AS (
        |  SELECT y, CAST(round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z)), 6)
        |    AS DECIMAL(8,6)) AS p
        |  FROM z),
        |b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, y
        |  FROM p)
        |SELECT bin, COUNT(*) AS n_bin, CAST(SUM(y) AS BIGINT) AS n_pos,
        |  round(SUM(p)::DOUBLE / COUNT(*), 6) AS mean_pred,
        |  round(SUM(y)::DOUBLE / COUNT(*), 6) AS frac_pos,
        |  round(SUM(p)::DOUBLE / COUNT(*) -
        |    SUM(y)::DOUBLE / COUNT(*), 6) AS gap,
        |  round(SUM((p - y::DECIMAL(1,0)) * (p - y::DECIMAL(1,0)))::DOUBLE /
        |    COUNT(*), 6) AS brier
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // same rounded mu/k/h from exact daily sums, same day-ordered
    // left-fold recurrences, flag reads the rounded statistics
    "q_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY ts::DATE),
        |st0 AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM daily),
        |st1 AS (
        |  SELECT round(sx::DOUBLE / nd, 6) AS mu,
        |    round(sqrt((nd::DOUBLE * sxx - sx::DOUBLE * sx) /
        |      (nd * (nd - 1))), 6) AS sd
        |  FROM st0),
        |st AS (
        |  SELECT mu, round(sd * 0.5, 6) AS kk, round(sd * 4.0, 6) AS hh
        |  FROM st1),
        |lst AS (
        |  SELECT list(struct_pack(day := day, x := x) ORDER BY day) AS l
        |  FROM daily),
        |e AS (
        |  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS i
        |  FROM daily),
        |folds AS (
        |  SELECT e.day, e.x,
        |    round(list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(lst.l[1:e.i], v -> v.x::DOUBLE)),
        |      (acc, xv) -> greatest(0.0::DOUBLE,
        |        acc + (xv - st.mu - st.kk))), 6) AS cusum_pos,
        |    round(list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(lst.l[1:e.i], v -> v.x::DOUBLE)),
        |      (acc, xv) -> greatest(0.0::DOUBLE,
        |        acc + (st.mu - st.kk - xv))), 6) AS cusum_neg,
        |    st.hh AS threshold
        |  FROM e CROSS JOIN lst CROSS JOIN st)
        |SELECT day, x AS n_events, cusum_pos, cusum_neg, threshold,
        |  (cusum_pos > threshold OR cusum_neg > threshold) AS is_change
        |FROM folds ORDER BY day""".stripMargin,

    // same derived snapshots, same hash-compare full outer join
    "q_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, source, md5(text) AS ha FROM documents
        |  WHERE doc_id % 11 <> 3),
        |b AS (
        |  SELECT doc_id, source AS source_b,
        |    md5(CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END)
        |      AS hb
        |  FROM documents WHERE doc_id % 13 <> 5),
        |j AS (
        |  SELECT COALESCE(a.source, b.source_b) AS source,
        |    CASE WHEN a.ha IS NULL THEN 'added'
        |         WHEN b.hb IS NULL THEN 'removed'
        |         WHEN a.ha <> b.hb THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged,
        |  round((SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) +
        |         SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) +
        |         SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END))::DOUBLE
        |    / COUNT(*), 6) AS churn_rate
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // same day-ordered (level, trend) left fold, same seed (x0, 0). The
    // accumulator is a 2-element DOUBLE LIST, not a struct: DuckDB 1.0.0's
    // list_reduce mis-evaluates multi-field STRUCT accumulators (later
    // steps see partially-updated fields — verified by minimal repro);
    // the list form folds correctly and carries the identical arithmetic.
    "q_holt_linear" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY ts::DATE),
        |lst AS (
        |  SELECT list([x::DOUBLE, 0.0::DOUBLE] ORDER BY day) AS vals
        |  FROM daily),
        |e AS (
        |  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        |f AS (
        |  SELECT e.day, e.x,
        |    list_reduce(list_concat(
        |      [[lst.vals[1][1], 0.0::DOUBLE]],
        |      lst.vals[2:e.i]),
        |      (a, el) -> [
        |        0.5::DOUBLE * el[1] + 0.5::DOUBLE * (a[1] + a[2]),
        |        0.5::DOUBLE * ((0.5::DOUBLE * el[1] +
        |            0.5::DOUBLE * (a[1] + a[2])) - a[1])
        |          + 0.5::DOUBLE * a[2]]) AS st
        |  FROM e CROSS JOIN lst)
        |SELECT day, x AS n_events,
        |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[1] + st[2], 6) AS forecast_next
        |FROM f ORDER BY day""".stripMargin,

    // same integer day index, same C(n,2) pair slopes, same rounded-slope
    // boundary before the intercept median, same interpolated quantiles
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS y
        |  FROM events GROUP BY ts::DATE),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS (SELECT CAST(day - d0 AS BIGINT) AS i, y FROM daily, d0),
        |p AS (
        |  SELECT (b.y - a.y)::DOUBLE / (b.i - a.i) AS slope
        |  FROM idx a JOIN idx b ON a.i < b.i),
        |m AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    round(quantile_cont(slope, 0.5), 6) AS slope_med
        |  FROM p)
        |SELECT COUNT(*) AS n_days,
        |  CAST(MIN(n_pairs) AS BIGINT) AS n_pairs,
        |  MIN(slope_med) AS slope,
        |  round(quantile_cont(y - slope_med * i, 0.5), 6) AS intercept
        |FROM idx, m""".stripMargin,

    // same first-week decomposition seed, same day-ordered 9-slot list
    // fold with the rotating seasonal queue, same inlined-level IEEE tree
    // (list accumulator — the q_holt_linear struct-fold-bug workaround)
    "q_holt_winters" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY ts::DATE),
        |lst AS (
        |  SELECT list([x::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
        |    0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE]
        |    ORDER BY day) AS vals
        |  FROM daily),
        |e AS (
        |  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        |f AS (
        |  SELECT e.day, e.x,
        |    list_reduce(list_concat(
        |      [list_concat(
        |        [(list_reduce(list_transform(lst.vals[1:7], v -> v[1]),
        |            (a, b) -> a + b) / 7.0::DOUBLE), 0.0::DOUBLE],
        |        list_transform(lst.vals[1:7], v -> v[1] -
        |          (list_reduce(list_transform(lst.vals[1:7], v2 -> v2[1]),
        |            (a, b) -> a + b) / 7.0::DOUBLE)))],
        |      lst.vals[8:e.i]),
        |      (a, el) -> [
        |        (0.5::DOUBLE * (el[1] - a[3]) +
        |          0.5::DOUBLE * (a[1] + a[2])),
        |        0.5::DOUBLE * ((0.5::DOUBLE * (el[1] - a[3]) +
        |            0.5::DOUBLE * (a[1] + a[2])) - a[1])
        |          + 0.5::DOUBLE * a[2],
        |        a[4], a[5], a[6], a[7], a[8], a[9],
        |        0.5::DOUBLE * (el[1] - (0.5::DOUBLE * (el[1] - a[3]) +
        |            0.5::DOUBLE * (a[1] + a[2])))
        |          + 0.5::DOUBLE * a[3]]) AS st
        |  FROM e CROSS JOIN lst
        |  WHERE e.i >= 8)
        |SELECT day, x AS n_events,
        |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[9], 6) AS season,
        |  round(st[1] + st[2] + st[3], 6) AS forecast_next
        |FROM f ORDER BY day""".stripMargin,

    // same day-ordered list, same index-order folds per lag, same
    // zero-variance guard
    "q_acf" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY ts::DATE),
        |lst AS (SELECT list(x::DOUBLE ORDER BY day) AS vals FROM daily),
        |s AS (
        |  SELECT vals, len(vals) AS n,
        |    list_reduce(list_concat([0.0::DOUBLE], vals), (a, b) -> a + b)
        |      / CAST(len(vals) AS DOUBLE) AS m
        |  FROM lst),
        |s2 AS (
        |  SELECT vals, n, m,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(vals, x -> (x - m) * (x - m))),
        |      (a, b) -> a + b) AS den
        |  FROM s),
        |k AS (
        |  SELECT vals, n, m, den, unnest(range(1, 8)) AS lag FROM s2),
        |r AS (
        |  SELECT lag, CASE WHEN den > 0.0::DOUBLE THEN
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, n - lag + 1),
        |        t -> (vals[t] - m) * (vals[t + lag] - m))),
        |      (a, b) -> a + b) / den END AS acf0
        |  FROM k)
        |SELECT CAST(lag AS BIGINT) AS lag, round(acf0, 6) AS acf
        |FROM r ORDER BY lag""".stripMargin,

    // same hwSeed/hwStep recursion per eval day, same seasonal-naive
    // baseline, same sorted error folds + rounded-MAE ratio
    "q_forecast_mase" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY ts::DATE),
        |lst AS (
        |  SELECT list([x::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
        |    0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE]
        |    ORDER BY day) AS vals
        |  FROM daily),
        |e AS (
        |  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        |f AS (
        |  SELECT e.i,
        |    list_reduce(list_concat(
        |      [list_concat(
        |        [(list_reduce(list_transform(lst.vals[1:7], v -> v[1]),
        |            (a, b) -> a + b) / 7.0::DOUBLE), 0.0::DOUBLE],
        |        list_transform(lst.vals[1:7], v -> v[1] -
        |          (list_reduce(list_transform(lst.vals[1:7], v2 -> v2[1]),
        |            (a, b) -> a + b) / 7.0::DOUBLE)))],
        |      lst.vals[8:e.i]),
        |      (a, el) -> [
        |        (0.5::DOUBLE * (el[1] - a[3]) +
        |          0.5::DOUBLE * (a[1] + a[2])),
        |        0.5::DOUBLE * ((0.5::DOUBLE * (el[1] - a[3]) +
        |            0.5::DOUBLE * (a[1] + a[2])) - a[1])
        |          + 0.5::DOUBLE * a[2],
        |        a[4], a[5], a[6], a[7], a[8], a[9],
        |        0.5::DOUBLE * (el[1] - (0.5::DOUBLE * (el[1] - a[3]) +
        |            0.5::DOUBLE * (a[1] + a[2])))
        |          + 0.5::DOUBLE * a[3]]) AS st,
        |    abs(lst.vals[e.i + 1][1] - lst.vals[e.i - 6][1]) AS errn,
        |    lst.vals[e.i + 1][1] AS nxt
        |  FROM e CROSS JOIN lst
        |  WHERE e.i >= 8 AND e.i <= len(lst.vals) - 1),
        |err AS (
        |  SELECT abs(nxt - (st[1] + st[2] + st[3])) AS errm, errn FROM f),
        |g AS (
        |  SELECT COUNT(*) AS n_eval,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(errm))),
        |      (a, v) -> a + v) AS sm,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(errn))),
        |      (a, v) -> a + v) AS sn
        |  FROM err)
        |SELECT n_eval,
        |  round(sm / n_eval, 6) AS mae_model,
        |  round(sn / n_eval, 6) AS mae_naive,
        |  CASE WHEN sn > 0.0::DOUBLE THEN round(round(sm / n_eval, 6) /
        |    round(sn / n_eval, 6), 6) END AS mase
        |FROM g""".stripMargin,

    // same exact integer digit extraction, same rounded-log10 expected
    // shares, same (n-e)^2/e tree
    "q_benford_audit" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |tot AS (SELECT COUNT(*) AS n_total FROM d),
        |g AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit)
        |SELECT digit, n_obs,
        |  round(n_obs::DOUBLE / n_total, 6) AS p_observed,
        |  round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 6) AS p_expected,
        |  round((n_obs - n_total * round(log10(1.0::DOUBLE +
        |      1.0::DOUBLE / digit), 6)) *
        |    (n_obs - n_total * round(log10(1.0::DOUBLE +
        |      1.0::DOUBLE / digit), 6)) /
        |    (n_total * round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 6)),
        |    6) AS chi2_term
        |FROM g CROSS JOIN tot ORDER BY digit""".stripMargin,

    // same lead-x2 trigram extraction, same exact support ratio, same
    // count-desc + lexicographic total order
    "q_seq_patterns" ->
      """WITH tri AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |t2 AS (SELECT e1, e2, e3 FROM tri WHERE e3 IS NOT NULL),
        |cnt AS (
        |  SELECT e1, e2, e3, COUNT(*) AS n FROM t2 GROUP BY e1, e2, e3),
        |tot AS (SELECT COUNT(*) AS n_total FROM t2)
        |SELECT e1, e2, e3, n,
        |  round(n::DOUBLE / n_total, 6) AS support
        |FROM cnt CROSS JOIN tot
        |ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC""".stripMargin,

    // same exact-cent prices, same per-price max reduction, same
    // strictly-cheaper cumulative-max survivor rule, same row fetch
    "q_skyline" ->
      """WITH pr AS (
        |  SELECT p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS price_c,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part),
        |h AS (SELECT price_c, MAX(p_size) AS smax FROM pr GROUP BY price_c),
        |c AS (
        |  SELECT price_c, smax, MAX(smax) OVER (ORDER BY price_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt
        |  FROM h),
        |s AS (SELECT price_c, smax FROM c WHERE mlt IS NULL OR smax > mlt)
        |SELECT pr.p_partkey, pr.price_c, pr.p_size
        |FROM pr JOIN s ON pr.price_c = s.price_c AND pr.p_size = s.smax
        |ORDER BY pr.price_c, pr.p_partkey""".stripMargin,

    // same daily reduction, same exact BIGINT S / tie term, same
    // continuity-corrected z double tree with the identical guard
    "q_mann_kendall" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM d a JOIN d b ON a.day < b.day),
        |tt AS (
        |  SELECT CAST(SUM(tcnt * (tcnt - 1) * (2 * tcnt + 5)) AS BIGINT)
        |    AS tie_term
        |  FROM (SELECT COUNT(*) AS tcnt FROM d GROUP BY x)),
        |nn AS (SELECT COUNT(*) AS n_days FROM d)
        |SELECT n_days, s_stat, tie_term,
        |  CASE WHEN (n_days * (n_days - 1.0::DOUBLE) * (2 * n_days + 5)
        |      - tie_term) / 18.0::DOUBLE > 0.0::DOUBLE
        |  THEN round((CASE WHEN s_stat > 0 THEN s_stat - 1.0::DOUBLE
        |    WHEN s_stat < 0 THEN s_stat + 1.0::DOUBLE
        |    ELSE 0.0::DOUBLE END)
        |    / sqrt((n_days * (n_days - 1.0::DOUBLE) * (2 * n_days + 5)
        |      - tie_term) / 18.0::DOUBLE), 6)
        |  END AS z_stat
        |FROM nn CROSS JOIN p CROSS JOIN tt""".stripMargin,

    // same two rule labelers, same exact contingency/marginal BIGINTs,
    // same po/pe/kappa double tree with the identical pe < 1 guard
    "q_cohens_kappa" ->
      """WITH lab AS (
        |  SELECT
        |    CASE WHEN n_chars < 150 THEN 'short'
        |      WHEN n_chars < 300 THEN 'med' ELSE 'long' END AS a,
        |    CASE WHEN length(text) - length(replace(text, ' ', '')) < 25
        |      THEN 'short'
        |      WHEN length(text) - length(replace(text, ' ', '')) < 50
        |      THEN 'med' ELSE 'long' END AS b
        |  FROM documents),
        |cells AS (SELECT a, b, COUNT(*) AS cnt FROM lab GROUP BY a, b),
        |tot AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM cells),
        |ra AS (SELECT a, SUM(cnt) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, SUM(cnt) AS cb FROM cells GROUP BY b),
        |pe AS (
        |  SELECT CAST(SUM(ra.ra * cb.cb) AS BIGINT) AS pe_num
        |  FROM ra JOIN cb ON ra.a = cb.b)
        |SELECT n_docs, n_agree, pe_num,
        |  round(CAST(n_agree AS DOUBLE) / n_docs, 6) AS po,
        |  round(CAST(pe_num AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS pe,
        |  CASE WHEN CAST(pe_num AS DOUBLE)
        |      / (CAST(n_docs AS DOUBLE) * n_docs) < 1.0::DOUBLE
        |  THEN round((CAST(n_agree AS DOUBLE) / n_docs
        |    - CAST(pe_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * n_docs))
        |    / (1.0::DOUBLE - CAST(pe_num AS DOUBLE)
        |      / (CAST(n_docs AS DOUBLE) * n_docs)), 6)
        |  END AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin,

    // same per-category broadcast stats, same LOO + m=10 smoothing tree,
    // same constant-per-(cat,y) min() rollup
    "q_target_encoding" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS cat,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
        |      AS BIGINT) AS y
        |  FROM orders),
        |stats AS (
        |  SELECT cat, COUNT(*) AS cat_n, CAST(SUM(y) AS BIGINT) AS cat_sum
        |  FROM o GROUP BY cat),
        |g AS (
        |  SELECT COUNT(*) AS g_n, CAST(SUM(y) AS BIGINT) AS g_sum FROM o),
        |enc AS (
        |  SELECT o.cat, o.y,
        |    (CAST(stats.cat_sum - o.y AS DOUBLE)
        |      + 10.0::DOUBLE * (CAST(g.g_sum AS DOUBLE) / g.g_n))
        |      / (stats.cat_n - 1 + 10) AS enc
        |  FROM o JOIN stats ON o.cat = stats.cat CROSS JOIN g)
        |SELECT cat, y, COUNT(*) AS n_rows, round(MIN(enc), 6) AS enc
        |FROM enc GROUP BY cat, y
        |ORDER BY cat, y""".stripMargin,

    // same daily reduction, same full-window 7-day sums, same exact dx7
    // BIGINT detrending, same self-derived weekday, same display trees
    "q_seasonal_decompose" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |d0 AS (SELECT MIN(day) AS d0 FROM d),
        |t7 AS (
        |  SELECT day, x, SUM(x) OVER w AS sum7, COUNT(*) OVER w AS cnt7
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (
        |  SELECT day, x, sum7, 7 * x - sum7 AS dx7,
        |    CAST((day - d0.d0) % 7 AS BIGINT) AS wd
        |  FROM t7 CROSS JOIN d0 WHERE cnt7 = 7),
        |seas AS (
        |  SELECT wd, CAST(SUM(dx7) AS BIGINT) AS ssum, COUNT(*) AS scnt
        |  FROM f GROUP BY wd)
        |SELECT f.day, f.x,
        |  round(CAST(sum7 AS DOUBLE) / 7.0::DOUBLE, 6) AS trend,
        |  round(CAST(ssum AS DOUBLE) / (7.0::DOUBLE * scnt), 6)
        |    AS seasonal,
        |  round(CAST(dx7 AS DOUBLE) / 7.0::DOUBLE
        |    - CAST(ssum AS DOUBLE) / (7.0::DOUBLE * scnt), 6) AS residual
        |FROM f JOIN seas ON f.wd = seas.wd
        |ORDER BY f.day""".stripMargin,

    // same zero-filled user×period panel, same md5 coin, same exact cell
    // sufficient statistics, same DiD/SE/z double tree with the guards
    "q_did_estimator" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM ev),
        |counts AS (
        |  SELECT user_id,
        |    CAST(CASE WHEN (ev.day - d0.d0) >= 15 THEN 1 ELSE 0 END
        |      AS BIGINT) AS post,
        |    COUNT(*) AS y
        |  FROM ev CROSS JOIN d0 GROUP BY 1, 2),
        |users AS (SELECT DISTINCT user_id FROM ev),
        |universe AS (
        |  SELECT user_id, CAST(p.post AS BIGINT) AS post
        |  FROM users CROSS JOIN (VALUES (0), (1)) AS p(post)),
        |panel AS (
        |  SELECT u.user_id, u.post, COALESCE(c.y, 0) AS y,
        |    CASE WHEN ('0x' || substr(md5(u.user_id::VARCHAR), 1, 8))
        |      ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS treat
        |  FROM universe u LEFT JOIN counts c
        |    ON u.user_id = c.user_id AND u.post = c.post),
        |cells AS (
        |  SELECT treat, post, COUNT(*) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM panel GROUP BY 1, 2),
        |one AS (
        |  SELECT
        |    MAX(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t,
        |    MAX(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c,
        |    MAX(CASE WHEN treat = 1 AND post = 0 THEN sy END) AS sy_tpre,
        |    MAX(CASE WHEN treat = 1 AND post = 0 THEN syy END) AS syy_tpre,
        |    MAX(CASE WHEN treat = 1 AND post = 1 THEN sy END) AS sy_tpost,
        |    MAX(CASE WHEN treat = 1 AND post = 1 THEN syy END) AS syy_tpost,
        |    MAX(CASE WHEN treat = 0 AND post = 0 THEN sy END) AS sy_cpre,
        |    MAX(CASE WHEN treat = 0 AND post = 0 THEN syy END) AS syy_cpre,
        |    MAX(CASE WHEN treat = 0 AND post = 1 THEN sy END) AS sy_cpost,
        |    MAX(CASE WHEN treat = 0 AND post = 1 THEN syy END) AS syy_cpost
        |  FROM cells)
        |SELECT n_t, n_c,
        |  round((CAST(sy_tpre AS DOUBLE) / n_t), 6) AS mean_t_pre,
        |  round((CAST(sy_tpost AS DOUBLE) / n_t), 6) AS mean_t_post,
        |  round((CAST(sy_cpre AS DOUBLE) / n_c), 6) AS mean_c_pre,
        |  round((CAST(sy_cpost AS DOUBLE) / n_c), 6) AS mean_c_post,
        |  round((((CAST(sy_tpost AS DOUBLE) / n_t)
        |    - (CAST(sy_tpre AS DOUBLE) / n_t))
        |    - ((CAST(sy_cpost AS DOUBLE) / n_c)
        |    - (CAST(sy_cpre AS DOUBLE) / n_c))), 6) AS did,
        |  CASE WHEN n_t > 1 AND n_c > 1 AND sqrt(
        |      (((CAST(syy_tpre AS DOUBLE) - CAST(sy_tpre AS DOUBLE)
        |        * sy_tpre / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_tpost AS DOUBLE) - CAST(sy_tpost AS DOUBLE)
        |        * sy_tpost / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_cpre AS DOUBLE) - CAST(sy_cpre AS DOUBLE)
        |        * sy_cpre / n_c) / (n_c - 1.0::DOUBLE)) / n_c)
        |      + (((CAST(syy_cpost AS DOUBLE) - CAST(sy_cpost AS DOUBLE)
        |        * sy_cpost / n_c) / (n_c - 1.0::DOUBLE)) / n_c)) > 0.0::DOUBLE
        |  THEN round(sqrt(
        |      (((CAST(syy_tpre AS DOUBLE) - CAST(sy_tpre AS DOUBLE)
        |        * sy_tpre / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_tpost AS DOUBLE) - CAST(sy_tpost AS DOUBLE)
        |        * sy_tpost / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_cpre AS DOUBLE) - CAST(sy_cpre AS DOUBLE)
        |        * sy_cpre / n_c) / (n_c - 1.0::DOUBLE)) / n_c)
        |      + (((CAST(syy_cpost AS DOUBLE) - CAST(sy_cpost AS DOUBLE)
        |        * sy_cpost / n_c) / (n_c - 1.0::DOUBLE)) / n_c)), 6)
        |  END AS se,
        |  CASE WHEN n_t > 1 AND n_c > 1 AND sqrt(
        |      (((CAST(syy_tpre AS DOUBLE) - CAST(sy_tpre AS DOUBLE)
        |        * sy_tpre / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_tpost AS DOUBLE) - CAST(sy_tpost AS DOUBLE)
        |        * sy_tpost / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_cpre AS DOUBLE) - CAST(sy_cpre AS DOUBLE)
        |        * sy_cpre / n_c) / (n_c - 1.0::DOUBLE)) / n_c)
        |      + (((CAST(syy_cpost AS DOUBLE) - CAST(sy_cpost AS DOUBLE)
        |        * sy_cpost / n_c) / (n_c - 1.0::DOUBLE)) / n_c)) > 0.0::DOUBLE
        |  THEN round((((CAST(sy_tpost AS DOUBLE) / n_t)
        |    - (CAST(sy_tpre AS DOUBLE) / n_t))
        |    - ((CAST(sy_cpost AS DOUBLE) / n_c)
        |    - (CAST(sy_cpre AS DOUBLE) / n_c))) / sqrt(
        |      (((CAST(syy_tpre AS DOUBLE) - CAST(sy_tpre AS DOUBLE)
        |        * sy_tpre / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_tpost AS DOUBLE) - CAST(sy_tpost AS DOUBLE)
        |        * sy_tpost / n_t) / (n_t - 1.0::DOUBLE)) / n_t)
        |      + (((CAST(syy_cpre AS DOUBLE) - CAST(sy_cpre AS DOUBLE)
        |        * sy_cpre / n_c) / (n_c - 1.0::DOUBLE)) / n_c)
        |      + (((CAST(syy_cpost AS DOUBLE) - CAST(sy_cpost AS DOUBLE)
        |        * sy_cpost / n_c) / (n_c - 1.0::DOUBLE)) / n_c)), 6)
        |  END AS z_stat
        |FROM one""".stripMargin,

    // same md5 key hash, same per-type/per-pair top-64 sketches, same
    // (k-1)*2^32/h_k estimator with the sub-k exact path, same
    // inclusion-exclusion intersection clamp
    "q_kmv_sketch" ->
      """WITH th AS (
        |  SELECT DISTINCT event_type AS src,
        |    ('0x' || substr(md5(user_id::VARCHAR || '#' ||
        |      (CAST(ts AS DATE))::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM events),
        |sk AS (
        |  SELECT src, h FROM (
        |    SELECT src, h,
        |      row_number() OVER (PARTITION BY src ORDER BY h) AS r
        |    FROM th) WHERE r <= 64),
        |per AS (
        |  SELECT src, COUNT(*) AS n_sk, MAX(h) AS hk FROM sk GROUP BY src),
        |pairs AS (
        |  SELECT a.src AS s1, b.src AS s2
        |  FROM per a CROSS JOIN per b WHERE a.src < b.src),
        |mh AS (
        |  SELECT DISTINCT s1, s2, h FROM (
        |    SELECT p.s1, p.s2, k.h FROM pairs p JOIN sk k ON k.src = p.s1
        |    UNION ALL
        |    SELECT p.s1, p.s2, k.h FROM pairs p JOIN sk k ON k.src = p.s2)),
        |us AS (
        |  SELECT s1, s2, COUNT(*) AS n_u, MAX(h) AS hku FROM (
        |    SELECT s1, s2, h,
        |      row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS r
        |    FROM mh) WHERE r <= 64 GROUP BY s1, s2)
        |SELECT us.s1, us.s2, p1.n_sk AS n1, p2.n_sk AS n2, us.n_u,
        |  round((CASE WHEN p1.n_sk < 64 THEN CAST(p1.n_sk AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p1.hk END), 6)
        |    AS est_1,
        |  round((CASE WHEN p2.n_sk < 64 THEN CAST(p2.n_sk AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p2.hk END), 6)
        |    AS est_2,
        |  round((CASE WHEN us.n_u < 64 THEN CAST(us.n_u AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / us.hku END), 6)
        |    AS est_union,
        |  round(greatest(0.0::DOUBLE,
        |    (CASE WHEN p1.n_sk < 64 THEN CAST(p1.n_sk AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p1.hk END)
        |    + (CASE WHEN p2.n_sk < 64 THEN CAST(p2.n_sk AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p2.hk END)
        |    - (CASE WHEN us.n_u < 64 THEN CAST(us.n_u AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / us.hku END)), 6)
        |    AS est_inter,
        |  CASE WHEN (CASE WHEN us.n_u < 64 THEN CAST(us.n_u AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / us.hku END)
        |      > 0.0::DOUBLE
        |  THEN round(greatest(0.0::DOUBLE,
        |    (CASE WHEN p1.n_sk < 64 THEN CAST(p1.n_sk AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p1.hk END)
        |    + (CASE WHEN p2.n_sk < 64 THEN CAST(p2.n_sk AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / p2.hk END)
        |    - (CASE WHEN us.n_u < 64 THEN CAST(us.n_u AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / us.hku END))
        |    / (CASE WHEN us.n_u < 64 THEN CAST(us.n_u AS DOUBLE)
        |      ELSE 63.0::DOUBLE * 4294967296.0::DOUBLE / us.hku END), 6)
        |  END AS jaccard
        |FROM us JOIN per p1 ON p1.src = us.s1
        |  JOIN per p2 ON p2.src = us.s2
        |ORDER BY s1, s2""".stripMargin,

    // same user-keyed prior-touch join, same (n, pos, role) grid with
    // exact BIGINT counts/cents, same weights, same sorted-list fold
    "q_position_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events),
        |purch AS (
        |  SELECT user_id, rn AS prn, cents FROM ev
        |  WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, rn, event_type AS channel FROM ev
        |  WHERE event_type <> 'purchase'),
        |pt AS (
        |  SELECT p.user_id, p.prn, p.cents, t.rn, t.channel
        |  FROM purch p JOIN touch t
        |    ON p.user_id = t.user_id AND t.rn < p.prn),
        |pos AS (
        |  SELECT channel, cents,
        |    COUNT(*) OVER (PARTITION BY user_id, prn) AS n,
        |    row_number() OVER (PARTITION BY user_id, prn ORDER BY rn)
        |      AS pos
        |  FROM pt),
        |grid AS (
        |  SELECT channel, n,
        |    CASE WHEN pos = 1 THEN 'first'
        |      WHEN pos = n THEN 'last' ELSE 'mid' END AS role,
        |    COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS scents
        |  FROM pos GROUP BY 1, 2, 3),
        |contrib AS (
        |  SELECT channel, cnt,
        |    (CASE WHEN n = 1 THEN 1.0::DOUBLE WHEN n = 2 THEN 0.5::DOUBLE
        |      WHEN role = 'mid' THEN 0.2::DOUBLE / (n - 2)
        |      ELSE 0.4::DOUBLE END) * cnt AS conv_d,
        |    (CASE WHEN n = 1 THEN 1.0::DOUBLE WHEN n = 2 THEN 0.5::DOUBLE
        |      WHEN role = 'mid' THEN 0.2::DOUBLE / (n - 2)
        |      ELSE 0.4::DOUBLE END)
        |      * (CAST(scents AS DOUBLE) / 100.0::DOUBLE) AS rev_d
        |  FROM grid)
        |SELECT channel, CAST(SUM(cnt) AS BIGINT) AS n_touches,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_sort(list(conv_d))), (a, x) -> a + x), 6)
        |    AS credit_conversions,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_sort(list(rev_d))), (a, x) -> a + x), 6)
        |    AS credit_revenue
        |FROM contrib GROUP BY channel
        |ORDER BY channel""".stripMargin,

    // DIFFERENTIAL oracle: the from-scratch join over the full tables —
    // the incremental union-of-four-delta-joins must land exactly here
    "q_delta_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // same one-pass sufficient statistics, same re-summed pooled
    // partials, same slope trees and sign comparison
    "q_simpson_audit" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    SUM(y) AS sy, SUM(y * x) AS sxy
        |  FROM b GROUP BY l_returnflag),
        |pool AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS pn, SUM(sx) AS psx,
        |    SUM(sxx) AS psxx, SUM(sy) AS psy, SUM(sxy) AS psxy
        |  FROM g)
        |SELECT l_returnflag, n,
        |  round((CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx
        |      > 0.0::DOUBLE
        |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) END), 6)
        |    AS slope_group,
        |  round((CASE WHEN CAST(pn AS DOUBLE) * psxx
        |      - CAST(psx AS DOUBLE) * psx > 0.0::DOUBLE
        |    THEN (CAST(pn AS DOUBLE) * psxy - CAST(psx AS DOUBLE) * psy)
        |      / (CAST(pn AS DOUBLE) * psxx - CAST(psx AS DOUBLE) * psx)
        |    END), 6) AS slope_pooled,
        |  CASE WHEN (CASE WHEN CAST(n AS DOUBLE) * sxx
        |      - CAST(sx AS DOUBLE) * sx > 0.0::DOUBLE
        |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) END)
        |      IS NOT NULL
        |    AND (CASE WHEN CAST(pn AS DOUBLE) * psxx
        |      - CAST(psx AS DOUBLE) * psx > 0.0::DOUBLE
        |    THEN (CAST(pn AS DOUBLE) * psxy - CAST(psx AS DOUBLE) * psy)
        |      / (CAST(pn AS DOUBLE) * psxx - CAST(psx AS DOUBLE) * psx)
        |    END) IS NOT NULL
        |  THEN CAST(CASE WHEN sign((CASE WHEN CAST(n AS DOUBLE) * sxx
        |      - CAST(sx AS DOUBLE) * sx > 0.0::DOUBLE
        |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) END))
        |    <> sign((CASE WHEN CAST(pn AS DOUBLE) * psxx
        |      - CAST(psx AS DOUBLE) * psx > 0.0::DOUBLE
        |    THEN (CAST(pn AS DOUBLE) * psxy - CAST(psx AS DOUBLE) * psy)
        |      / (CAST(pn AS DOUBLE) * psxx - CAST(psx AS DOUBLE) * psx)
        |    END)) THEN 1 ELSE 0 END AS BIGINT)
        |  END AS sign_flips
        |FROM g CROSS JOIN pool
        |ORDER BY l_returnflag""".stripMargin,

    // same md5 3-fold split, same train mean, same exact-rank residual
    // selection with the declared n_cal clamp, same coverage tree
    "q_conformal_interval" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS y,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 3
        |      AS fold
        |  FROM events GROUP BY user_id),
        |tr AS (
        |  SELECT CAST(SUM(y) AS BIGINT) AS tsy, COUNT(*) AS tn
        |  FROM u WHERE fold = 0),
        |cal AS (
        |  SELECT u.user_id,
        |    abs(CAST(y AS DOUBLE) - (CAST(tsy AS DOUBLE) / tn)) AS res
        |  FROM u CROSS JOIN tr WHERE fold = 1),
        |nc AS (SELECT COUNT(*) AS n_cal FROM cal),
        |rk AS (
        |  SELECT res, row_number() OVER (ORDER BY res ASC, user_id ASC)
        |    AS rk
        |  FROM cal),
        |qh AS (
        |  SELECT rk.rk AS k, nc.n_cal, rk.res AS q_hat
        |  FROM rk CROSS JOIN nc
        |  WHERE rk.rk = least(CAST(ceil(0.9::DOUBLE * (nc.n_cal + 1))
        |    AS BIGINT), nc.n_cal)),
        |te AS (
        |  SELECT COUNT(*) AS n_test,
        |    CAST(SUM(CASE WHEN abs(CAST(y AS DOUBLE)
        |      - (CAST(tsy AS DOUBLE) / tn)) <= q_hat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |    MIN(k) AS k, MIN(n_cal) AS n_cal, MIN(q_hat) AS q_hat,
        |    MIN(tsy) AS tsy, MIN(tn) AS tn
        |  FROM u CROSS JOIN tr CROSS JOIN qh WHERE fold = 2)
        |SELECT tn AS n_train, n_cal, n_test,
        |  round((CAST(tsy AS DOUBLE) / tn), 6) AS mu, k,
        |  round(q_hat, 6) AS q_hat,
        |  round(CAST(n_covered AS DOUBLE) / n_test, 6) AS coverage
        |FROM te""".stripMargin,

    // same distinct incidence, same BucketCap=128 mega-basket guard,
    // same cosine tree and (cosine DESC, neighbor ASC) rank
    "q_item_cf" ->
      """WITH op AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS bn
        |    FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |          FROM lineitem))
        |  WHERE bn <= 128),
        |deg AS (SELECT p, COUNT(*) AS n FROM op GROUP BY 1),
        |pairs AS (
        |  SELECT a.p AS i, b.p AS j, COUNT(*) AS nij
        |  FROM op a JOIN op b ON b.o = a.o AND a.p < b.p
        |  GROUP BY 1, 2),
        |sym AS (SELECT i, j, nij FROM pairs
        |  UNION ALL SELECT j AS i, i AS j, nij FROM pairs),
        |focus AS (SELECT p AS i, n AS n_i FROM deg
        |  ORDER BY n DESC, p ASC LIMIT 10),
        |scored AS (
        |  SELECT s.i, s.j, s.nij, f.n_i, d.n AS n_j,
        |    CAST(s.nij AS DOUBLE) / sqrt(CAST(f.n_i AS DOUBLE) * d.n)
        |      AS cosine
        |  FROM sym s JOIN focus f ON f.i = s.i JOIN deg d ON d.p = s.j),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY i
        |    ORDER BY cosine DESC, j ASC) AS rn
        |  FROM scored)
        |SELECT i AS part, CAST(rn AS BIGINT) AS "rank", j AS neighbor,
        |  n_i AS n_part, n_j AS n_neighbor, nij AS n_both,
        |  round(cosine, 6) AS cosine
        |FROM rk WHERE rn <= 5
        |ORDER BY part, "rank"""".stripMargin,

    // same shared scorer, same ≤101-level rollup, same minimax identity
    // over the same exact prefix-sum deltas
    "q_isotonic_calibration" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |st AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM d),
        |z AS (
        |  SELECT y, round((x - sx::DOUBLE / nd) /
        |    sqrt((nd::DOUBLE * sxx - sx::DOUBLE * sx) /
        |      (nd * (nd - 1))), 6) AS z
        |  FROM d CROSS JOIN st),
        |p AS (
        |  SELECT y, CAST(round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z)), 6)
        |    AS DECIMAL(8,6)) AS p
        |  FROM z),
        |lvl AS (
        |  SELECT least(CAST(floor(p * 100) AS BIGINT), 99) AS l,
        |    COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM p GROUP BY 1),
        |pre AS (
        |  SELECT l, n, pos,
        |    CAST(row_number() OVER (ORDER BY l) AS BIGINT) AS i,
        |    CAST(SUM(n) OVER (ORDER BY l) AS BIGINT) AS cn,
        |    CAST(SUM(pos) OVER (ORDER BY l) AS BIGINT) AS cp
        |  FROM lvl),
        |avg_jk AS (
        |  SELECT a.i AS j, b.i AS k,
        |    (b.cp - (a.cp - a.pos))::DOUBLE / (b.cn - (a.cn - a.n)) AS m
        |  FROM pre a JOIN pre b ON a.i <= b.i),
        |fit AS (
        |  SELECT i, MAX(inner_m) AS iso FROM (
        |    SELECT p.i, v.j, MIN(v.m) AS inner_m
        |    FROM avg_jk v JOIN pre p ON v.j <= p.i AND p.i <= v.k
        |    GROUP BY p.i, v.j) q
        |  GROUP BY i)
        |SELECT pre.l, pre.n, pre.pos,
        |  round(pre.pos::DOUBLE / pre.n, 6) AS raw_rate,
        |  round(f.iso, 6) AS iso_rate
        |FROM pre JOIN fit f ON f.i = pre.i
        |ORDER BY pre.l""".stripMargin,

    // same rounded self-derived p0/p1, same cumulative exact counts,
    // same one-tree LLR and rounded-boundary decision
    "q_sprt" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT round(SUM(pos)::DOUBLE / SUM(n), 6) AS p0,
        |    round(round(SUM(pos)::DOUBLE / SUM(n), 6) * 1.25::DOUBLE, 6)
        |      AS p1
        |  FROM daily),
        |cum AS (
        |  SELECT day,
        |    CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cn,
        |    CAST(SUM(pos) OVER (ORDER BY day) AS BIGINT) AS cpos
        |  FROM daily),
        |sc AS (
        |  SELECT day, cn, cpos,
        |    round(cpos * ln(p1 / p0) +
        |      (cn - cpos) * ln((1.0::DOUBLE - p1) / (1.0::DOUBLE - p0)), 6)
        |      AS llr
        |  FROM cum CROSS JOIN h)
        |SELECT day, cn AS cum_n, cpos AS cum_pos, llr,
        |  CASE WHEN llr >= round(ln(19.0::DOUBLE), 6) THEN 'accept_h1'
        |       WHEN llr <= round(ln(1.0::DOUBLE / 19.0::DOUBLE), 6)
        |         THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM sc ORDER BY day""".stripMargin,

    // same group sufficient stats, same group-sorted list folds (the
    // fold-pairing rule: list_reduce over [0.0]++terms == Spark
    // aggregate), same SSB/SSW/F/eta trees
    "q_anova_f" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |gs AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
        |      AS syy
        |  FROM d GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(sy) AS BIGINT) AS tsy, COUNT(*) AS k,
        |    list_sort(list(struct_pack(g := g, n := n, sy := sy,
        |      syy := syy))) AS l
        |  FROM gs),
        |st AS (
        |  SELECT tn, tsy, k,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> (p.n::DOUBLE *
        |        (p.sy::DOUBLE / p.n - tsy::DOUBLE / tn) *
        |        (p.sy::DOUBLE / p.n - tsy::DOUBLE / tn)))),
        |      (a, b) -> a + b) AS ssb,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> (p.syy::DOUBLE - p.sy::DOUBLE * p.sy / p.n))),
        |      (a, b) -> a + b) AS ssw
        |  FROM tot)
        |SELECT tn AS n, k,
        |  round(ssb / 1e8, 4) AS ss_between_usd2,
        |  round(ssw / 1e8, 4) AS ss_within_usd2,
        |  round((ssb / (k - 1)) / (ssw / (tn - k)), 6) AS f_stat,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM st""".stripMargin,

    // same level histogram, same integer 2·rank trick, same tie term,
    // same group-sorted fold and H trees
    "q_kruskal_wallis" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |lvl AS (SELECT y, COUNT(*) AS cn FROM d GROUP BY 1),
        |cum AS (
        |  SELECT y, cn, CAST(SUM(cn) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cn
        |    AS BIGINT) AS cb
        |  FROM lvl),
        |gr AS (
        |  SELECT g,
        |    CAST(SUM(gv.gn * (2 * c.cb + c.cn + 1)) AS BIGINT) AS r2,
        |    CAST(SUM(gv.gn) AS BIGINT) AS n
        |  FROM (SELECT g, y, COUNT(*) AS gn FROM d GROUP BY 1, 2) gv
        |  JOIN cum c ON gv.y = c.y GROUP BY 1),
        |ties AS (
        |  SELECT CAST(SUM(cn * cn * cn - cn) AS BIGINT) AS tsum FROM lvl),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    list_sort(list(struct_pack(g := g, n := n, r2 := r2))) AS l
        |  FROM gr),
        |st AS (
        |  SELECT tn, tsum,
        |    12.0::DOUBLE / (tn::DOUBLE * (tn + 1)) *
        |      list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |        p -> ((p.r2::DOUBLE / 2) * (p.r2::DOUBLE / 2) / p.n))),
        |        (a, b) -> a + b)
        |      - 3.0::DOUBLE * (tn + 1) AS h_raw
        |  FROM tot CROSS JOIN ties)
        |SELECT g AS grp, n, round(r2::DOUBLE / 2, 1) AS rank_sum,
        |  round(h_raw, 6) AS h,
        |  round(h_raw / (1.0::DOUBLE - tsum::DOUBLE /
        |    (tn::DOUBLE * tn * tn - tn)), 6) AS h_corrected
        |FROM gr CROSS JOIN st ORDER BY grp""".stripMargin,

    // same per-group lower medians by integer rank, same |y−med| cents,
    // same ANOVA fold trees as q_anova_f
    "q_levene_test" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |h AS (SELECT g, y, COUNT(*) AS cn FROM d GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, y, SUM(cn) OVER (PARTITION BY g ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    CAST(SUM(cn) OVER (PARTITION BY g) AS BIGINT) AS gn
        |  FROM h),
        |med AS (
        |  SELECT g, MIN(y) AS med FROM cum
        |  WHERE cum >= (gn + 1) // 2 GROUP BY 1),
        |z AS (
        |  SELECT d.g, abs(d.y - med.med) AS z
        |  FROM d JOIN med ON d.g = med.g),
        |gs AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(z) AS BIGINT) AS sz,
        |    SUM(CAST(z AS DECIMAL(18,0)) * CAST(z AS DECIMAL(18,0)))
        |      AS szz
        |  FROM z GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(sz) AS BIGINT) AS tsz, COUNT(*) AS k,
        |    list_sort(list(struct_pack(g := g, n := n, sz := sz,
        |      szz := szz))) AS l
        |  FROM gs),
        |st AS (
        |  SELECT k, tn,
        |    round((list_reduce(list_concat([0.0::DOUBLE],
        |        list_transform(l, p -> (p.n::DOUBLE *
        |          (p.sz::DOUBLE / p.n - tsz::DOUBLE / tn) *
        |          (p.sz::DOUBLE / p.n - tsz::DOUBLE / tn)))),
        |        (a, b) -> a + b) / (k - 1)) /
        |      (list_reduce(list_concat([0.0::DOUBLE],
        |        list_transform(l, p -> (p.szz::DOUBLE -
        |          p.sz::DOUBLE * p.sz / p.n))),
        |        (a, b) -> a + b) / (tn - k)), 6) AS w_stat
        |  FROM tot)
        |SELECT g AS grp, n, round(med::DOUBLE / 100, 2) AS median_usd,
        |  round(sz::DOUBLE / n / 100, 6) AS mad_usd, w_stat
        |FROM gs JOIN med USING (g) CROSS JOIN st ORDER BY grp""".stripMargin,

    // same both-active pair rollup, same |diff| level ranks, same
    // tie-corrected z tree
    "q_wilcoxon_signed_rank" ->
      """WITH p AS (
        |  SELECT o_custkey AS c,
        |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS y0,
        |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 0 ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) END) AS y1,
        |    MIN(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 0 ELSE 1 END) AS mn,
        |    MAX(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 0 ELSE 1 END) AS mx
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT c, CAST(y1 - y0 AS BIGINT) AS diff
        |  FROM p WHERE mn = 0 AND mx = 1 AND y1 <> y0),
        |lvl AS (SELECT abs(diff) AS a, COUNT(*) AS cn FROM d GROUP BY 1),
        |cum AS (
        |  SELECT a, cn, CAST(SUM(cn) OVER (ORDER BY a
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cn
        |    AS BIGINT) AS cb
        |  FROM lvl),
        |w AS (
        |  SELECT CAST(SUM(CASE WHEN d.diff > 0
        |      THEN 2 * c.cb + c.cn + 1 ELSE 0 END) AS BIGINT) AS w2p,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d JOIN cum c ON abs(d.diff) = c.a),
        |ties AS (
        |  SELECT CAST(SUM(cn * cn * cn - cn) AS BIGINT) AS tsum FROM lvl)
        |SELECT n AS n_pairs, round(w2p::DOUBLE / 2, 1) AS w_plus,
        |  round((n::DOUBLE * (n + 1) / 2) - w2p::DOUBLE / 2, 1)
        |    AS w_minus,
        |  round((w2p::DOUBLE / 2 - n::DOUBLE * (n + 1) / 4) /
        |    sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 24 -
        |      tsum::DOUBLE / 48), 6) AS z
        |FROM w CROSS JOIN ties""".stripMargin,

    // same KM duration derivation, same integer risk-set cumsums, same
    // duration-sorted O−E / variance folds with the n = 1 guard
    "q_logrank_test" ->
      """WITH obs AS (SELECT MAX(ts) AS obs_end FROM events),
        |t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(e.ts) AS tp
        |       FROM events e JOIN t0 ON e.user_id = t0.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t0.t0
        |       GROUP BY 1),
        |users AS (
        |  SELECT t0.user_id % 2 AS g,
        |    CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |    CASE WHEN fp.tp IS NOT NULL
        |      THEN (epoch_us(fp.tp) - epoch_us(t0.t0)) // 86400000000
        |      ELSE (epoch_us(obs.obs_end) - epoch_us(t0.t0))
        |        // 86400000000 END AS dur
        |  FROM t0 LEFT JOIN fp ON t0.user_id = fp.user_id
        |  CROSS JOIN obs),
        |tot AS (SELECT
        |  CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn0,
        |  CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn1
        |  FROM users),
        |byd AS (SELECT dur,
        |  CAST(SUM(CASE WHEN g = 0 AND ev = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d0,
        |  CAST(SUM(CASE WHEN g = 0 AND ev = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c0,
        |  CAST(SUM(CASE WHEN g = 1 AND ev = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d1,
        |  CAST(SUM(CASE WHEN g = 1 AND ev = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c1
        |  FROM users GROUP BY 1),
        |risk AS (SELECT dur, d0, d1,
        |  tn0 - CAST(COALESCE(SUM(d0 + c0) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n0,
        |  tn1 - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n1
        |  FROM byd CROSS JOIN tot),
        |lv AS (SELECT dur, d0 + d1 AS d, d1, n0 + n1 AS n, n1 FROM risk
        |       WHERE d0 + d1 > 0),
        |agg AS (SELECT
        |  list_sort(list(struct_pack(dur := dur, d := d, d1 := d1,
        |    n := n, n1 := n1))) AS l,
        |  CAST(SUM(d1) AS BIGINT) AS o1 FROM lv),
        |st AS (SELECT o1,
        |  list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |    p -> (p.d::DOUBLE * p.n1 / p.n))), (a, b) -> a + b) AS e1,
        |  list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |    p -> (CASE WHEN p.n > 1 THEN p.d::DOUBLE *
        |      (p.n1::DOUBLE / p.n) * (1.0::DOUBLE - p.n1::DOUBLE / p.n)
        |      * (p.n - p.d) / (p.n - 1) ELSE 0.0::DOUBLE END))),
        |    (a, b) -> a + b) AS v
        |  FROM agg)
        |SELECT tn0 AS n_g0, tn1 AS n_g1, o1 AS observed_1,
        |  round(e1, 6) AS expected_1,
        |  round((o1::DOUBLE - e1) / sqrt(v), 6) AS z,
        |  round((o1::DOUBLE - e1) * (o1 - e1) / v, 6) AS chi_sq
        |FROM st CROSS JOIN tot""".stripMargin,

    // same exact-cent cell grid, same per-block 2·rank histogram, same
    // all-integer Conover numerator/denominator
    "q_friedman_test" ->
      """WITH cell AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS b,
        |    o_orderpriority AS trt,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS k
        |       FROM cell),
        |blk AS (SELECT b FROM cell CROSS JOIN kk
        |        GROUP BY b, k HAVING COUNT(*) = k),
        |c2 AS (SELECT cell.* FROM cell JOIN blk USING (b)),
        |lvl AS (SELECT b, y, COUNT(*) AS cn FROM c2 GROUP BY 1, 2),
        |cum AS (SELECT b, y, cn,
        |  CAST(SUM(cn) OVER (PARTITION BY b ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cn
        |    AS BIGINT) AS cb
        |  FROM lvl),
        |rr AS (SELECT c2.b, c2.trt,
        |  CAST(2 * cum.cb + cum.cn + 1 AS BIGINT) AS r2
        |  FROM c2 JOIN cum ON c2.b = cum.b AND c2.y = cum.y),
        |pt AS (SELECT trt, CAST(SUM(r2) AS BIGINT) AS rs2
        |       FROM rr GROUP BY 1),
        |s4 AS (SELECT CAST(SUM(r2 * r2) AS BIGINT) AS s4 FROM rr),
        |tot AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb,
        |  CAST(COUNT(DISTINCT trt) AS BIGINT) AS k FROM rr),
        |a AS (SELECT CAST(SUM((rs2 - nb * (k + 1)) *
        |    (rs2 - nb * (k + 1))) AS BIGINT) AS a2
        |  FROM pt CROSS JOIN tot),
        |st AS (SELECT nb, k,
        |  ((k - 1)::DOUBLE * a2) / (s4 - nb * k * (k + 1) * (k + 1))
        |    AS q0
        |  FROM tot CROSS JOIN a CROSS JOIN s4)
        |SELECT trt, nb AS n_blocks, k AS k_treatments,
        |  round(rs2::DOUBLE / 2, 1) AS rank_sum,
        |  round(q0, 6) AS q_stat
        |FROM pt CROSS JOIN st ORDER BY trt""".stripMargin,

    // same supplier–part week edges, same 8 min-propagate + pointer-jump
    // rounds (MATERIALIZED: each round references its predecessor twice
    // — inlined, the CTE tree is 4^8 base-scan copies)
    "q_connected_components" -> connectedComponentsOracle,

    // same per-customer year flags, same informative-block filter, same
    // all-integer Q ratio
    "q_cochran_q" ->
      """WITH blk AS (
        |  SELECT o_custkey AS c,
        |    CAST(MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0
        |      END) AS BIGINT) AS x95,
        |    CAST(MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0
        |      END) AS BIGINT) AS x96,
        |    CAST(MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0
        |      END) AS BIGINT) AS x97
        |  FROM orders GROUP BY 1),
        |inf AS (
        |  SELECT *, x95 + x96 + x97 AS li FROM blk
        |  WHERE x95 + x96 + x97 IN (1, 2)),
        |g AS (SELECT CAST(SUM(x95) AS BIGINT) AS g95,
        |  CAST(SUM(x96) AS BIGINT) AS g96,
        |  CAST(SUM(x97) AS BIGINT) AS g97,
        |  CAST(COUNT(*) AS BIGINT) AS nb,
        |  CAST(SUM(li) AS BIGINT) AS sl,
        |  CAST(SUM(li * li) AS BIGINT) AS sll
        |  FROM inf),
        |st AS (SELECT nb, g95, g96, g97,
        |  (2.0::DOUBLE * (3 * (g95*g95 + g96*g96 + g97*g97) -
        |    (g95+g96+g97) * (g95+g96+g97))) / (3 * sl - sll) AS q0
        |  FROM g)
        |SELECT yr, n_active, nb AS n_blocks, round(q0, 6) AS q_stat
        |FROM (
        |  SELECT 1995::BIGINT AS yr, g95 AS n_active, nb, q0 FROM st
        |  UNION ALL
        |  SELECT 1996::BIGINT, g96, nb, q0 FROM st
        |  UNION ALL
        |  SELECT 1997::BIGINT, g97, nb, q0 FROM st)
        |ORDER BY yr""".stripMargin,

    // same integer |n·y − Σy| argmax, same sufficient-stat G tree
    "q_grubbs_test" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS y
        |  FROM orders),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS s,
        |    SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
        |      AS syy
        |  FROM d),
        |top AS (
        |  SELECT y, abs(n * y - s) AS ad FROM d CROSS JOIN st
        |  ORDER BY ad DESC, y ASC LIMIT 1)
        |SELECT n, round(y::DOUBLE / 100, 2) AS outlier_usd,
        |  round(s::DOUBLE / n / 100, 6) AS mean_usd,
        |  round(sqrt((n::DOUBLE * syy::DOUBLE - s::DOUBLE * s) /
        |    (n::DOUBLE * (n - 1))) / 100, 6) AS sd_usd,
        |  round((ad::DOUBLE / n) /
        |    sqrt((n::DOUBLE * syy::DOUBLE - s::DOUBLE * s) /
        |      (n::DOUBLE * (n - 1))), 6) AS g_stat
        |FROM top CROSS JOIN st""".stripMargin,

    // same top-entity series, same IGNORE NULLS forward/backward
    // windows, same integer-cent blend rounded half-up
    "q_gap_fill" ->
      """WITH top AS (
        |  SELECT o_custkey AS c FROM orders GROUP BY 1
        |  ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 1),
        |known AS (
        |  SELECT CAST(date_diff('day', TIMESTAMP '1992-01-01',
        |    o_orderdate) AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders JOIN top ON o_custkey = top.c GROUP BY 1),
        |bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM known),
        |spine AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
        |j AS (SELECT spine.d, known.y FROM spine
        |      LEFT JOIN known USING (d)),
        |f AS (
        |  SELECT d, y,
        |    LAST_VALUE(y IGNORE NULLS) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS py,
        |    LAST_VALUE(CASE WHEN y IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) AS pd,
        |    FIRST_VALUE(y IGNORE NULLS) OVER (ORDER BY d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ny,
        |    FIRST_VALUE(CASE WHEN y IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND
        |        UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT d AS day_index,
        |  round(CASE WHEN y IS NOT NULL THEN y::DOUBLE
        |    ELSE ((2 * (py * (nd - d) + ny * (d - pd)) + (nd - pd)) //
        |      (2 * (nd - pd)))::DOUBLE
        |    END / 100, 2) AS value_usd,
        |  CASE WHEN y IS NOT NULL THEN 'actual' ELSE 'interpolated' END
        |    AS status
        |FROM f ORDER BY day_index""".stripMargin,

    // same declared HMM constants, same 8 unrolled max-product steps
    // (MATERIALIZED — each step references the previous twice), same
    // backpointer strings
    "q_viterbi_decode" -> viterbiOracle,

    // same survivalRisk CTE chain as q_logrank_test, same 4 MATERIALIZED
    // Newton steps with the identical U/I folds
    "q_cox_regression" -> coxOracle,

    // same exact global stats, same integer segment rule, same z tree
    // and breakpoints
    "q_sax_symbols" ->
      """WITH ser AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12 +
        |    month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY m) - 1 AS BIGINT)
        |    AS r
        |  FROM ser),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS s,
        |    SUM(CAST(y AS DECIMAL(28,0)) * CAST(y AS DECIMAL(28,0)))
        |      AS syy
        |  FROM idx),
        |seg AS (
        |  SELECT (r * 8) // n AS segment, CAST(COUNT(*) AS BIGINT)
        |    AS n_points, CAST(SUM(y) AS BIGINT) AS sy,
        |    MAX(n) AS n, MAX(s) AS s, MAX(syy) AS syy
        |  FROM idx CROSS JOIN st GROUP BY 1),
        |zz AS (
        |  SELECT segment, n_points,
        |    (sy::DOUBLE / n_points - s::DOUBLE / n) /
        |      sqrt((n::DOUBLE * syy::DOUBLE - s::DOUBLE * s) /
        |        (n::DOUBLE * n)) AS z
        |  FROM seg)
        |SELECT segment, n_points, round(z, 6) AS z_paa,
        |  CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
        |       WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
        |FROM zz ORDER BY segment""".stripMargin,

    // same series array, same μ/σ folds, same z-normalized distance
    // fold and (dist, j) nearest-neighbor order
    "q_matrix_profile" ->
      """WITH ser AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12 +
        |    month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |arr AS MATERIALIZED (
        |  SELECT list_transform(list_sort(list(struct_pack(m := m,
        |    y := y))), p -> p.y::DOUBLE) AS ys,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ser),
        |subs AS MATERIALIZED (
        |  SELECT i, ys, ssum / 6 AS mu,
        |    sqrt(ssq / 6 - (ssum / 6) * (ssum / 6)) AS sig
        |  FROM (
        |    SELECT i, ys,
        |      list_reduce(list_concat([0.0::DOUBLE],
        |        list_transform(range(1, 7), k -> ys[i + k])),
        |        (a, b) -> a + b) AS ssum,
        |      list_reduce(list_concat([0.0::DOUBLE],
        |        list_transform(range(1, 7), k -> ys[i + k] * ys[i + k])),
        |        (a, b) -> a + b) AS ssq
        |    FROM arr, LATERAL (SELECT unnest(range(0, n - 5)) AS i) t)),
        |pairs AS (
        |  SELECT a.i AS ai, b.i AS bi,
        |    sqrt(list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, 7), k ->
        |        ((a.ys[a.i + k] - a.mu) / a.sig -
        |         (b.ys[b.i + k] - b.mu) / b.sig) *
        |        ((a.ys[a.i + k] - a.mu) / a.sig -
        |         (b.ys[b.i + k] - b.mu) / b.sig))),
        |      (x, y) -> x + y)) AS d
        |  FROM subs a JOIN subs b ON abs(a.i - b.i) >= 6),
        |best AS (
        |  SELECT ai, bi, d,
        |    row_number() OVER (PARTITION BY ai ORDER BY d ASC, bi ASC)
        |      AS rn
        |  FROM pairs)
        |SELECT ai AS idx, bi AS nn_idx, round(d, 6) AS nn_dist
        |FROM best WHERE rn = 1 ORDER BY idx""".stripMargin,

    // same integer level cumsums, same two-sided tail score tree, same
    // (score DESC, key ASC) top-10
    "q_ecod_outliers" ->
      """WITH d AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y1,
        |    CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
        |      AS BIGINT) AS y2
        |  FROM orders),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        |l1 AS (SELECT y1 AS v, COUNT(*) AS cn FROM d GROUP BY 1),
        |c1 AS (SELECT v, CAST(SUM(cn) OVER (ORDER BY v ROWS BETWEEN
        |  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS le
        |  FROM l1),
        |l2 AS (SELECT y2 AS v, COUNT(*) AS cn FROM d GROUP BY 1),
        |c2 AS (SELECT v, CAST(SUM(cn) OVER (ORDER BY v ROWS BETWEEN
        |  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS le
        |  FROM l2),
        |sc AS (
        |  SELECT d.k, d.y1, d.y2,
        |    -ln(LEAST(c1.le::DOUBLE / n.n, 1.0::DOUBLE -
        |      c1.le::DOUBLE / n.n + 1.0::DOUBLE / n.n))
        |    - ln(LEAST(c2.le::DOUBLE / n.n, 1.0::DOUBLE -
        |      c2.le::DOUBLE / n.n + 1.0::DOUBLE / n.n)) AS score
        |  FROM d JOIN c1 ON d.y1 = c1.v JOIN c2 ON d.y2 = c2.v
        |  CROSS JOIN n)
        |SELECT k AS o_orderkey,
        |  round(y1::DOUBLE / 100, 2) AS totalprice_usd,
        |  y2 AS day_index, round(score, 6) AS ecod_score
        |FROM sc ORDER BY score DESC, k ASC LIMIT 10""".stripMargin,

    // same 25-cell sorted grid, same 8 MATERIALIZED masked-fold
    // half-steps, same uniform targets
    "q_ipf_raking" -> ipfOracle,

    // same pmod floor-div cells, same 9-offset equi-join edges, same 8
    // pointer-jump rounds (MATERIALIZED), same noise mass
    "q_dbscan_grid" -> dbscanOracle,

    // q_mutual_info's oracle: identical integer contingency/marginal
    // rollups, identical (v,y)-ordered fold tree per feature.
    "q_mutual_info" -> {
      val label = "CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END " +
        "AS BIGINT)"
      val feats = Seq(
        "linestatus" -> "l_linestatus",
        "ship_month" -> "CAST(month(l_shipdate) AS VARCHAR)",
        "discount_cents" -> ("CAST(CAST(CAST(l_discount AS DECIMAL(6,2))" +
          " * 100 AS BIGINT) AS VARCHAR)"),
        "tax_cents" -> ("CAST(CAST(CAST(l_tax AS DECIMAL(6,2))" +
          " * 100 AS BIGINT) AS VARCHAR)"))
      val raw = feats.map { case (n, e) =>
        s"SELECT '$n' AS f, $e AS v, $label AS y FROM lineitem"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH raw AS (
         |  $raw),
         |cells AS (
         |  SELECT f, v, y, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM raw GROUP BY 1, 2, 3),
         |nv AS (SELECT f, v, CAST(SUM(n) AS BIGINT) AS nv
         |       FROM cells GROUP BY 1, 2),
         |ny AS (SELECT f, y, CAST(SUM(n) AS BIGINT) AS ny
         |       FROM cells GROUP BY 1, 2),
         |nn AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nn
         |       FROM cells GROUP BY 1),
         |j AS (
         |  SELECT c.f,
         |    CAST(COUNT(DISTINCT c.v) AS BIGINT) AS n_values,
         |    CAST(COUNT(*) AS BIGINT) AS n_cells,
         |    list(struct_pack(v := c.v, y := c.y, n := c.n, nv := nv.nv,
         |      ny := ny.ny, nn := nn.nn) ORDER BY c.v, c.y) AS l
         |  FROM cells c
         |  JOIN nv ON c.f = nv.f AND c.v = nv.v
         |  JOIN ny ON c.f = ny.f AND c.y = ny.y
         |  JOIN nn ON c.f = nn.f
         |  GROUP BY c.f)
         |SELECT f AS feature, n_values, n_cells,
         |  round(list_reduce(list_concat([0.0::DOUBLE],
         |    list_transform(l, p ->
         |      (CAST(p.n AS DOUBLE) / CAST(p.nn AS DOUBLE)) *
         |      ln((CAST(p.n AS DOUBLE) * CAST(p.nn AS DOUBLE)) /
         |         (CAST(p.nv AS DOUBLE) * CAST(p.ny AS DOUBLE))))),
         |    (a, b) -> a + b), 6) + 0.0::DOUBLE AS mi_nats
         |FROM j
         |ORDER BY mi_nats DESC, feature""".stripMargin
    },

    // q_dtw's oracle: identical integer series (missing months 0-filled
    // by a month-spine left join), the SAME generated banded-DP cell
    // expressions — 12 MATERIALIZED CTEs mirror the 12 checkpointed
    // row-frames; all-BIGINT arithmetic, so equality is structural.
    "q_dtw" -> {
      val ctes = (1 to 12).map { i =>
        val prev = if (i == 1) "base" else s"r${i - 1}"
        val cols = dtwRowExprs(i, (arr, k) => s"$arr[$k]")
          .map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
        val carry = (Seq("a", "b", "n_a", "n_b", "lock") ++
          (if (i == 1) Nil else dtwBand(i - 1).map(j => s"d${i - 1}_$j")))
          .mkString(", ")
        s"""r$i AS MATERIALIZED (
           |  SELECT $carry,
           |    $cols
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    CAST(month(o_orderdate) AS BIGINT) AS m,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS v
         |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
         |  GROUP BY 1, 2),
         |mon AS (SELECT r.range AS m FROM range(1, 13) r),
         |sa AS (SELECT list(COALESCE(v.v, 0) ORDER BY mon.m) AS a,
         |  CAST(SUM(CASE WHEN v.v IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_a
         |  FROM mon LEFT JOIN v ON v.yr = 1995 AND v.m = mon.m),
         |sb AS (SELECT list(COALESCE(v.v, 0) ORDER BY mon.m) AS b,
         |  CAST(SUM(CASE WHEN v.v IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_b
         |  FROM mon LEFT JOIN v ON v.yr = 1996 AND v.m = mon.m),
         |base AS (SELECT a, b, n_a, n_b,
         |  CAST(list_aggregate(list_transform(range(1, 13),
         |    i -> abs(a[i] - b[i])), 'sum') AS BIGINT) AS lock
         |  FROM sa CROSS JOIN sb),
         |$ctes
         |SELECT n_a AS n_months_a, n_b AS n_months_b,
         |  lock AS lockstep_cents, d12_12 AS dtw_cents,
         |  round(CAST(d12_12 AS DOUBLE) / CAST(lock AS DOUBLE), 6)
         |    AS dtw_ratio
         |FROM r12""".stripMargin
    },

    // q_ipw_estimator's oracle: identical integer histogram, the SAME
    // 3 Newton CTE steps as logisticNewtonOracle, identical weighted
    // readout folds (sig parenthesized in every division).
    "q_ipw_estimator" -> {
      def fold(term: String): String =
        "list_reduce(list_concat([0.0::DOUBLE], list_transform(l, " +
          s"p -> ($term))), (a, b) -> a + b)"
      val sig = "1.0::DOUBLE / (1.0::DOUBLE + " +
        "exp(-(b0 + b1 * CAST(p.x AS DOUBLE))))"
      val steps = (1 to 3).map { i =>
        val prev = if (i == 1) "base" else s"s${i - 1}"
        s"""s${i}a AS (
           |  SELECT l, b0, b1,
           |    ${fold(s"CAST(p.k AS DOUBLE) - p.n * $sig")} AS g1,
           |    ${fold(s"(CAST(p.k AS DOUBLE) - p.n * $sig) * p.x")} AS g2,
           |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig)")} AS h11,
           |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig) * p.x")} AS h12,
           |    ${fold(s"p.n * $sig * (1.0::DOUBLE - $sig) * p.x * p.x")}
           |      AS h22
           |  FROM $prev),
           |s${i}b AS (
           |  SELECT l, b0, b1, g1, g2, h11, h12, h22,
           |    h11 * h22 - h12 * h12 AS det
           |  FROM s${i}a),
           |s$i AS (
           |  SELECT l,
           |    b0 + (h22 * g1 - h12 * g2) / det AS b0,
           |    b1 + (h11 * g2 - h12 * g1) / det AS b1
           |  FROM s${i}b)""".stripMargin
      }.mkString(",\n")
      val cents = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT)"
      s"""WITH hist AS (
         |  SELECT CAST(month(o_orderdate) AS BIGINT) AS x,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS k,
         |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |      THEN $cents ELSE 0 END) AS BIGINT) AS syt,
         |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |      THEN 0 ELSE $cents END) AS BIGINT) AS syc
         |  FROM orders GROUP BY 1),
         |base AS (
         |  SELECT list(struct_pack(x := x, n := n, k := k, syt := syt,
         |    syc := syc) ORDER BY x) AS l,
         |    0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1
         |  FROM hist),
         |$steps,
         |r AS (
         |  SELECT b0, b1,
         |    ${fold(s"CAST(p.k AS DOUBLE) / ($sig)")} AS wt,
         |    ${fold(s"CAST(p.syt AS DOUBLE) / ($sig)")} AS wyt,
         |    ${fold(s"CAST(p.n - p.k AS DOUBLE) / (1.0::DOUBLE - ($sig))")}
         |      AS wc,
         |    ${fold(s"CAST(p.syc AS DOUBLE) / (1.0::DOUBLE - ($sig))")}
         |      AS wyc,
         |    ${fold("CAST(p.k AS DOUBLE)")} AS nt,
         |    ${fold("CAST(p.syt AS DOUBLE)")} AS sytd,
         |    ${fold("CAST(p.n - p.k AS DOUBLE)")} AS nc,
         |    ${fold("CAST(p.syc AS DOUBLE)")} AS sycd
         |  FROM s3)
         |SELECT round(b0, 6) AS intercept, round(b1, 6) AS slope,
         |  round((wyt / wt - wyc / wc) / 100.0::DOUBLE, 6) AS ate_ipw_usd,
         |  round((sytd / nt - sycd / nc) / 100.0::DOUBLE, 6)
         |    AS ate_naive_usd
         |FROM r""".stripMargin
    },

    // q_poisson_irls's oracle: identical left-join histogram (zero-order
    // customers kept), null-model init, the SAME 4 Newton CTE steps.
    "q_poisson_irls" -> {
      def fold(term: String): String =
        "list_reduce(list_concat([0.0::DOUBLE], list_transform(l, " +
          s"p -> ($term))), (a, b) -> a + b)"
      val lam = "exp(b0 + b1 * CAST(p.x AS DOUBLE))"
      val steps = (1 to 4).map { i =>
        val prev = if (i == 1) "base" else s"s${i - 1}"
        s"""s${i}a AS (
           |  SELECT l, b0, b1,
           |    ${fold(s"CAST(p.sy AS DOUBLE) - p.m * $lam")} AS g1,
           |    ${fold(s"(CAST(p.sy AS DOUBLE) - p.m * $lam) * p.x")} AS g2,
           |    ${fold(s"p.m * $lam")} AS h11,
           |    ${fold(s"p.m * $lam * p.x")} AS h12,
           |    ${fold(s"p.m * $lam * p.x * p.x")} AS h22
           |  FROM $prev),
           |s${i}b AS (
           |  SELECT l, b0, b1, g1, g2, h11, h12, h22,
           |    h11 * h22 - h12 * h12 AS det
           |  FROM s${i}a),
           |s$i AS (
           |  SELECT l,
           |    b0 + (h22 * g1 - h12 * g2) / det AS b0,
           |    b1 + (h11 * g2 - h12 * g1) / det AS b1
           |  FROM s${i}b)""".stripMargin
      }.mkString(",\n")
      s"""WITH cnt AS (
         |  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |hist AS (
         |  SELECT CAST(c.c_nationkey AS BIGINT) AS x,
         |    CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(COALESCE(cnt.y, 0)) AS BIGINT) AS sy
         |  FROM customer c LEFT JOIN cnt ON cnt.ck = c.c_custkey
         |  GROUP BY 1),
         |base AS (
         |  SELECT list(struct_pack(x := x, m := m, sy := sy) ORDER BY x)
         |    AS l,
         |    ln(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(m) AS DOUBLE)) AS b0,
         |    0.0::DOUBLE AS b1
         |  FROM hist),
         |$steps,
         |r AS (SELECT b0, b1,
         |  ${fold(s"CAST(p.sy AS DOUBLE) * (b0 + b1 * CAST(p.x AS DOUBLE)) - p.m * $lam")}
         |    AS qll,
         |  ${fold("CAST(p.m AS DOUBLE)")} AS m,
         |  ${fold("CAST(p.sy AS DOUBLE)")} AS sy
         |  FROM s4)
         |SELECT CAST(m AS BIGINT) AS n_customers,
         |  CAST(sy AS BIGINT) AS n_orders,
         |  round(b0, 6) AS intercept, round(b1, 6) AS slope,
         |  round(exp(b0), 6) AS base_rate, round(qll, 6) AS quasi_log_lik
         |FROM r""".stripMargin
    },

    // q_mst_boruvka's oracle: identical canonical edge rollup, the same
    // 5 Boruvka rounds × 5 pointer-jump doublings as MATERIALIZED CTEs,
    // same (w, a, b) total order and LEAST(g, f(g)) contraction.
    "q_mst_boruvka" -> {
      val rounds = (1 to 5).map { r =>
        val prevLbl = if (r == 1) "l0" else s"l${r - 1}"
        val prevMst = if (r == 1) "m0" else s"m${r - 1}"
        val jumps = (1 to 5).map { k =>
          val pf = if (k == 1) s"f${r}_0" else s"f${r}_${k - 1}"
          s"""f${r}_$k AS MATERIALIZED (
             |  SELECT a.c AS c, b.t AS t FROM $pf a JOIN $pf b
             |  ON a.t = b.c)""".stripMargin
        }.mkString(",\n")
        s"""cand$r AS MATERIALIZED (
           |  SELECT la.comp AS cu, lb.comp AS cv, e.w, e.a, e.b
           |  FROM edges e
           |  JOIN $prevLbl la ON e.u = la.u
           |  JOIN $prevLbl lb ON e.v = lb.u
           |  WHERE la.comp <> lb.comp),
           |sel$r AS MATERIALIZED (
           |  SELECT cu, cv, w, a, b FROM (
           |    SELECT cu, cv, w, a, b,
           |      ROW_NUMBER() OVER (PARTITION BY cu ORDER BY w, a, b)
           |        AS rn
           |    FROM cand$r) WHERE rn = 1),
           |m$r AS MATERIALIZED (
           |  SELECT a, b, w FROM $prevMst
           |  UNION
           |  SELECT a, b, w FROM sel$r),
           |f${r}_0 AS MATERIALIZED (
           |  SELECT lc.comp AS c, COALESCE(s.cv, lc.comp) AS t
           |  FROM (SELECT DISTINCT comp FROM $prevLbl) lc(comp)
           |  LEFT JOIN sel$r s ON s.cu = lc.comp),
           |$jumps,
           |l$r AS MATERIALIZED (
           |  SELECT p.u, LEAST(g.t, f0.t) AS comp
           |  FROM $prevLbl p
           |  JOIN f${r}_5 g ON g.c = p.comp
           |  JOIN f${r}_0 f0 ON f0.c = g.t)""".stripMargin
      }.mkString(",\n")
      s"""WITH tr AS (
         |  SELECT CAST(s.s_nationkey AS BIGINT) AS su,
         |    CAST(cu.c_nationkey AS BIGINT) AS cn,
         |    CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS cents
         |  FROM lineitem l
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer cu ON o.o_custkey = cu.c_custkey
         |  WHERE s.s_nationkey <> cu.c_nationkey),
         |pair AS (
         |  SELECT LEAST(su, cn) AS a, GREATEST(su, cn) AS b,
         |    CAST(SUM(cents) AS BIGINT) AS cents
         |  FROM tr GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT a, b, -cents AS w, a AS u, b AS v FROM pair
         |  UNION ALL
         |  SELECT a, b, -cents AS w, b AS u, a AS v FROM pair),
         |nodes AS (SELECT DISTINCT u FROM edges),
         |l0 AS MATERIALIZED (SELECT u, u AS comp FROM nodes),
         |m0 AS (SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT)
         |  AS b, CAST(NULL AS BIGINT) AS w WHERE 1 = 0),
         |$rounds,
         |tot AS (SELECT CAST(SUM(-w) AS BIGINT) AS tree_cents,
         |  CAST(COUNT(*) AS BIGINT) AS n_edges FROM m5)
         |SELECT m.a AS nation_a, m.b AS nation_b,
         |  CAST(-m.w AS BIGINT) AS trade_cents, t.n_edges, t.tree_cents
         |FROM m5 m CROSS JOIN tot t
         |ORDER BY m.a, m.b""".stripMargin
    },

    // q_mixture_em's oracle: identical pinned init, the same 4 EM CTE
    // rounds with identical six-fold E/M texts, same variance floor.
    "q_mixture_em" -> {
      def fold(term: String): String =
        "list_reduce(list_concat([0.0::DOUBLE], list_transform(l, " +
          s"p -> ($term))), (a, b) -> a + b)"
      val phi1 = "exp(-(CAST(p.x AS DOUBLE) - m1) * (CAST(p.x AS DOUBLE)" +
        " - m1) / (2.0::DOUBLE * v1)) / sqrt(v1)"
      val phi2 = "exp(-(CAST(p.x AS DOUBLE) - m2) * (CAST(p.x AS DOUBLE)" +
        " - m2) / (2.0::DOUBLE * v2)) / sqrt(v2)"
      val g1 = s"(w1 * $phi1) / (w1 * $phi1 + (1.0::DOUBLE - w1) * $phi2)"
      val steps = (1 to 4).map { i =>
        val prev = if (i == 1) "base" else s"s${i - 1}"
        s"""s${i}a AS (
           |  SELECT l, n,
           |    ${fold(s"p.n * $g1")} AS r1,
           |    ${fold(s"p.n * $g1 * p.x")} AS rx1,
           |    ${fold(s"p.n * $g1 * p.x * p.x")} AS rxx1,
           |    ${fold(s"p.n * (1.0::DOUBLE - $g1)")} AS r2,
           |    ${fold(s"p.n * (1.0::DOUBLE - $g1) * p.x")} AS rx2,
           |    ${fold(s"p.n * (1.0::DOUBLE - $g1) * p.x * p.x")} AS rxx2
           |  FROM $prev),
           |s$i AS (
           |  SELECT l, n, r1 / n AS w1,
           |    rx1 / r1 AS m1,
           |    greatest(rxx1 / r1 - (rx1 / r1) * (rx1 / r1), 0.04::DOUBLE)
           |      AS v1,
           |    rx2 / r2 AS m2,
           |    greatest(rxx2 / r2 - (rx2 / r2) * (rx2 / r2), 0.04::DOUBLE)
           |      AS v2
           |  FROM s${i}a)""".stripMargin
      }.mkString(",\n")
      val ll = fold(s"p.n * ln((w1 * $phi1 + (1.0::DOUBLE - w1) * $phi2)" +
        " / sqrt(2.0::DOUBLE * pi()))")
      s"""WITH hist AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lineitem GROUP BY 1),
         |st AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |    CAST(SUM(n * x) AS BIGINT) AS sx,
         |    CAST(SUM(n * x * x) AS BIGINT) AS sxx
         |  FROM hist),
         |base AS (
         |  SELECT list(struct_pack(x := x, n := n) ORDER BY x) AS l,
         |    CAST(nn AS DOUBLE) AS n,
         |    0.5::DOUBLE AS w1,
         |    CAST(sx AS DOUBLE) / nn - sqrt((CAST(sxx AS DOUBLE) * nn
         |      - CAST(sx AS DOUBLE) * sx) / (CAST(nn AS DOUBLE) * nn))
         |      / 2.0::DOUBLE AS m1,
         |    (CAST(sxx AS DOUBLE) * nn - CAST(sx AS DOUBLE) * sx) /
         |      (CAST(nn AS DOUBLE) * nn) AS v1,
         |    CAST(sx AS DOUBLE) / nn + sqrt((CAST(sxx AS DOUBLE) * nn
         |      - CAST(sx AS DOUBLE) * sx) / (CAST(nn AS DOUBLE) * nn))
         |      / 2.0::DOUBLE AS m2,
         |    (CAST(sxx AS DOUBLE) * nn - CAST(sx AS DOUBLE) * sx) /
         |      (CAST(nn AS DOUBLE) * nn) AS v2
         |  FROM hist CROSS JOIN st GROUP BY nn, sx, sxx),
         |$steps
         |SELECT CAST(n AS BIGINT) AS n_rows, round(w1, 6) AS weight1,
         |  round(m1, 6) AS mean1, round(sqrt(v1), 6) AS sd1,
         |  round(m2, 6) AS mean2, round(sqrt(v2), 6) AS sd2,
         |  round($ll, 6) AS log_lik
         |FROM s4""".stripMargin
    },

    // q_boosted_stumps's oracle: identical integer histogram/cums, the
    // same generated candidate/winner texts per round (DuckDB map
    // element_at returns a 1-element list — the [1] accessor), same
    // stack readout via UNNEST.
    "q_boosted_stumps" -> {
      val acc = (k: String) => s"element_at(nm, $k)[1]"
      val half = "0.5::DOUBLE"
      val rounds = (1 to 3).map { m =>
        val prev = if (m == 1) "params0" else s"params${m - 1}"
        val rl = s"CAST(c.syl AS DOUBLE) - " +
          s"(${boostFLeq(m, "c.nl", acc, half)})"
        val rg = s"CAST(syg AS DOUBLE) - (${boostFAll(m, acc, half)})"
        s"""cand$m AS MATERIALIZED (
           |  SELECT c.t, c.nl, ng - c.nl AS nr,
           |    $rl AS rl,
           |    ($rg) - ($rl) AS rr,
           |    p.*
           |  FROM cums c CROSS JOIN $prev p
           |  WHERE c.nl < ng),
           |win$m AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT t AS wt, rl / CAST(nl AS DOUBLE) AS wl,
           |      rr / CAST(nr AS DOUBLE) AS wr,
           |      ROW_NUMBER() OVER (ORDER BY
           |        rl * rl / CAST(nl AS DOUBLE)
           |          + rr * rr / CAST(nr AS DOUBLE) DESC,
           |        t ASC) AS rn
           |    FROM cand$m) WHERE rn = 1),
           |params$m AS MATERIALIZED (
           |  SELECT p.*, w.wt AS t$m, w.wl AS l$m, w.wr AS r$m
           |  FROM $prev p CROSS JOIN win$m w)""".stripMargin
      }.mkString(",\n")
      val mses = (1 to 3).map { m =>
        val f = boostF(m, half)
        s"""round(list_reduce(list_concat([0.0::DOUBLE],
           |  list_transform(l, p -> CAST(p.syy AS DOUBLE)
           |    - 2.0::DOUBLE * ($f) * CAST(p.sy AS DOUBLE)
           |    + CAST(p.n AS DOUBLE) * ($f) * ($f))),
           |  (a, b) -> a + b) / CAST(ng AS DOUBLE), 6) AS mse$m"""
          .stripMargin
      }.mkString(",\n")
      val cents = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT)"
      s"""WITH cells AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM($cents) AS BIGINT) AS sy,
         |    SUM(CAST($cents AS DECIMAL(18,0))
         |        * CAST($cents AS DECIMAL(18,0))) AS syy
         |  FROM lineitem GROUP BY 1),
         |cums AS MATERIALIZED (
         |  SELECT x AS t,
         |    CAST(SUM(n) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS nl,
         |    CAST(SUM(sy) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS syl
         |  FROM cells),
         |g AS (SELECT CAST(SUM(n) AS BIGINT) AS ng,
         |      CAST(SUM(sy) AS BIGINT) AS syg FROM cells),
         |maps AS (SELECT map_from_entries(list(
         |  struct_pack(k := t, v := nl) ORDER BY t)) AS nm FROM cums),
         |lst AS (SELECT list(struct_pack(x := x, n := n, sy := sy,
         |  syy := syy) ORDER BY x) AS l FROM cells),
         |params0 AS (
         |  SELECT CAST(syg AS DOUBLE) / CAST(ng AS DOUBLE) AS f0,
         |    ng, syg, nm, l
         |  FROM g CROSS JOIN maps CROSS JOIN lst),
         |$rounds,
         |wide AS (SELECT p.*,
         |$mses
         |  FROM params3 p)
         |SELECT CAST(stump AS BIGINT) AS round,
         |  CAST(CASE stump WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t3 END
         |    AS BIGINT) AS split_at,
         |  round(CASE stump WHEN 1 THEN l1 WHEN 2 THEN l2 ELSE l3 END
         |    / 100.0::DOUBLE, 6) AS leaf_left_usd,
         |  round(CASE stump WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE r3 END
         |    / 100.0::DOUBLE, 6) AS leaf_right_usd,
         |  CASE stump WHEN 1 THEN mse1 WHEN 2 THEN mse2 ELSE mse3 END
         |    AS train_mse_cents2
         |FROM wide CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS stump) s
         |ORDER BY 1""".stripMargin
    },

    // q_perceptron's oracle: identical cell histogram, the same four
    // all-integer fold texts per round (BIGINT list_reduce — no float
    // anywhere), same pocket argmin, UNNEST readout.
    "q_perceptron" -> {
      val mis = "p.y * (w0 + w1 * p.x1 + w2 * p.x2) <= 0"
      def ifold(term: String): String =
        "list_reduce(list_concat([0::BIGINT], list_transform(l, " +
          s"p -> CASE WHEN $mis THEN $term ELSE 0::BIGINT END)), " +
          "(a, b) -> a + b)"
      val rounds = (0 to 3).map { r =>
        val prev = if (r == 0) "base" else s"s${r - 1}"
        val carried = (0 until r).map(k => s"e$k, w0_$k, w1_$k, w2_$k")
          .mkString(", ")
        val carry = if (carried.isEmpty) "" else carried + ","
        s"""r$r AS (
           |  SELECT l, $carry
           |    ${ifold("p.n")} AS e$r,
           |    w0 AS w0_$r, w1 AS w1_$r, w2 AS w2_$r,
           |    w0 + ${ifold("p.y * p.n")} AS u0,
           |    w1 + ${ifold("p.y * p.n * p.x1")} AS u1,
           |    w2 + ${ifold("p.y * p.n * p.x2")} AS u2
           |  FROM $prev),
           |s$r AS (
           |  SELECT * EXCLUDE (u0, u1, u2), u0 AS w0, u1 AS w1,
           |    u2 AS w2
           |  FROM r$r)""".stripMargin
      }.mkString(",\n")
      def pick(name: Int => String) = s"CASE step " +
        (0 to 4).map(k => s"WHEN $k THEN ${name(k)}").mkString(" ") +
        " END"
      s"""WITH cells AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x1,
         |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
         |    CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END
         |      AS BIGINT) AS y,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lineitem GROUP BY 1, 2, 3),
         |base AS (
         |  SELECT list(struct_pack(x1 := x1, x2 := x2, y := y, n := n)
         |      ORDER BY x1, x2, y) AS l,
         |    0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2
         |  FROM cells),
         |$rounds,
         |fin AS (
         |  SELECT *, ${ifold("p.n")} AS e4,
         |    w0 AS w0_4, w1 AS w1_4, w2 AS w2_4
         |  FROM s3),
         |fin2 AS (
         |  SELECT *, least(e0, e1, e2, e3, e4) AS emin,
         |    CASE WHEN e0 = least(e0, e1, e2, e3, e4) THEN 0
         |      WHEN e1 = least(e0, e1, e2, e3, e4) THEN 1
         |      WHEN e2 = least(e0, e1, e2, e3, e4) THEN 2
         |      WHEN e3 = least(e0, e1, e2, e3, e4) THEN 3
         |      ELSE 4 END AS argmin
         |  FROM fin)
         |SELECT CAST(step AS BIGINT) AS step,
         |  CAST(${pick(k => s"w0_$k")} AS BIGINT) AS w_bias,
         |  CAST(${pick(k => s"w1_$k")} AS BIGINT) AS w_qty,
         |  CAST(${pick(k => s"w2_$k")} AS BIGINT) AS w_disc,
         |  CAST(${pick(k => s"e$k")} AS BIGINT) AS errors,
         |  CAST(CASE WHEN step = argmin THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_pocket
         |FROM fin2 CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4]) AS step) s
         |ORDER BY 1""".stripMargin
    },

    // q_kendall_tau's oracle: identical value-based decile bucketing,
    // cell-pair concordance with the same integer pair weights, same
    // tie marginals and final double tree.
    "q_kendall_tau" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
        |dxb AS (
        |  SELECT x, CAST((10 * cum + (SELECT nn FROM n) - 1)
        |    // (SELECT nn FROM n) AS BIGINT) AS gx
        |  FROM (SELECT x, SUM(c) OVER (ORDER BY x ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM d
        |      GROUP BY 1))),
        |dyb AS (
        |  SELECT y, CAST((10 * cum + (SELECT nn FROM n) - 1)
        |    // (SELECT nn FROM n) AS BIGINT) AS gy
        |  FROM (SELECT y, SUM(c) OVER (ORDER BY y ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM d
        |      GROUP BY 1))),
        |cells AS (
        |  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM d JOIN dxb USING (x) JOIN dyb USING (y)
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT CAST(SUM(CASE WHEN b.gx > a.gx AND b.gy > a.gy
        |      THEN a.cn * b.cn ELSE 0 END) AS BIGINT) AS cc,
        |    CAST(SUM(CASE WHEN b.gx > a.gx AND b.gy < a.gy
        |      THEN a.cn * b.cn ELSE 0 END) AS BIGINT) AS dd
        |  FROM cells a CROSS JOIN cells b),
        |tx AS (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS t1
        |  FROM (SELECT SUM(cn) AS s FROM cells GROUP BY gx)),
        |ty AS (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS t2
        |  FROM (SELECT SUM(cn) AS s FROM cells GROUP BY gy))
        |SELECT (SELECT nn FROM n) AS n_rows, cc AS concordant,
        |  dd AS discordant,
        |  round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
        |    sqrt((CAST((SELECT nn FROM n) AS DOUBLE) *
        |        ((SELECT nn FROM n) - 1) / 2 - t1) *
        |      (CAST((SELECT nn FROM n) AS DOUBLE) *
        |        ((SELECT nn FROM n) - 1) / 2 - t2)), 6) AS tau_b
        |FROM pairs CROSS JOIN tx CROSS JOIN ty""".stripMargin,

    // q_rbo's oracle: identical ranked join, the same integer overlap
    // folds per depth (nested-lambda capture) and the same
    // exp((d−1)·ln p) weighting.
    "q_rbo" ->
      """WITH rev AS (
        |  SELECT n.n_name AS nm, year(o.o_orderdate) AS yr,
        |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |ra AS (SELECT nm, ROW_NUMBER() OVER (ORDER BY rev DESC, nm ASC)
        |  AS ra FROM rev WHERE yr = 1995),
        |rb AS (SELECT nm, ROW_NUMBER() OVER (ORDER BY rev DESC, nm ASC)
        |  AS rb FROM rev WHERE yr = 1996),
        |j AS (SELECT list(struct_pack(ra := ra, rb := rb) ORDER BY ra)
        |  AS l FROM ra JOIN rb USING (nm)),
        |o AS (SELECT list_transform(generate_series(1, 25), d ->
        |    list_reduce(list_concat([CAST(0 AS BIGINT)],
        |      list_transform(l, x -> CAST(CASE WHEN greatest(x.ra, x.rb)
        |        <= d THEN 1 ELSE 0 END AS BIGINT))),
        |      (p, q) -> p + q)) AS ovs
        |  FROM j)
        |SELECT round((CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE)) *
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(generate_series(1, 25), d ->
        |        exp((d - 1) * ln(CAST(0.9 AS DOUBLE))) *
        |        CAST(ovs[d] AS DOUBLE) / CAST(d AS DOUBLE))),
        |      (p, q) -> p + q), 6) AS rbo_at_25,
        |  ovs[5] AS overlap_at_5, ovs[10] AS overlap_at_10
        |FROM o""".stripMargin,

    // q_hill_tail's oracle: identical exact top-101 value multiset,
    // the same DESC-ordered ln-folds (Spark slice == DuckDB l[1:k]).
    "q_hill_tail" -> {
      def alpha(k: Int): String =
        s"""CAST($k AS DOUBLE) / list_reduce(list_concat([0.0::DOUBLE],
           |  list_transform(l[1:$k], x -> ln(CAST(x AS DOUBLE) /
           |    CAST(l[${k + 1}] AS DOUBLE)))), (a, b) -> a + b)"""
          .stripMargin
      def row(k: Int): String =
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  round(CAST(l[${k + 1}] AS DOUBLE) / 100.0::DOUBLE, 2)
           |    AS threshold_usd,
           |  round(${alpha(k)}, 6) AS alpha
           |FROM base""".stripMargin
      s"""WITH top AS (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |    AS BIGINT) AS c
         |  FROM orders ORDER BY 1 DESC LIMIT 101),
         |base AS (SELECT list(c ORDER BY c DESC) AS l FROM top)
         |${row(50)}
         |UNION ALL
         |${row(100)}
         |ORDER BY k""".stripMargin
    },

    // q_entropy_rate's oracle: identical lead() pairs, 25-cell rollup,
    // the SAME engine-neutral dot-product texts per power step (8
    // MATERIALIZED CTEs mirror the 8 ckptCut frames), same guarded
    // entropy tree.
    "q_entropy_rate" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cnts = (for (a <- types; b <- types) yield
        s"CAST(SUM(CASE WHEN src = '$a' AND dst = '$b' THEN 1 ELSE 0 " +
          s"END) AS BIGINT) AS c_${a}_$b").mkString(",\n    ")
      val probs = types.zipWithIndex.flatMap { case (a, i) =>
        val tot = types.map(b => s"c_${a}_$b").mkString("(", " + ", ")")
        types.zipWithIndex.map { case (b, j) =>
          s"CAST(c_${a}_$b AS DOUBLE) / CAST($tot AS DOUBLE) AS p$i$j"
        }
      }.mkString(",\n    ")
      val pi0 = types.indices.map(i =>
        s"CAST(1 AS DOUBLE) / 5 AS pi0_$i").mkString(", ")
      val steps = (1 to 8).map { step =>
        val prev = if (step == 1) "st0" else s"st${step - 1}"
        val cols = types.indices.map { d =>
          types.indices.map(i => s"pi${step - 1}_$i * p$i$d")
            .mkString(" + ") + s" AS pi${step}_$d"
        }.mkString(",\n    ")
        s"st$step AS MATERIALIZED (SELECT *,\n    $cols\n  FROM $prev)"
      }.mkString(",\n")
      val hTerm = types.indices.map { i =>
        val inner = types.indices.map(j =>
          s"(CASE WHEN p$i$j > CAST(0 AS DOUBLE) " +
            s"THEN p$i$j * ln(p$i$j) ELSE CAST(0 AS DOUBLE) END)")
          .mkString(" + ")
        s"pi8_$i * ($inner)"
      }.mkString(" + ")
      val outs = types.zipWithIndex.map { case (tn, i) =>
        s"round(pi8_$i, 6) AS pi_$tn"
      }.mkString(",\n  ")
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type AS src FROM events),
         |pr AS (
         |  SELECT src, LEAD(src) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS dst
         |  FROM e),
         |f AS (SELECT src, dst FROM pr WHERE dst IS NOT NULL),
         |one AS (
         |  SELECT $cnts
         |  FROM f),
         |st0 AS (
         |  SELECT $probs,
         |    $pi0
         |  FROM one),
         |$steps
         |SELECT $outs,
         |  round(-($hTerm), 6) AS entropy_rate_nats
         |FROM st8""".stripMargin
    },

    // q_smith_waterman's oracle: identical deterministic pair pick,
    // the SAME generated all-integer cell texts (12 MATERIALIZED CTEs
    // mirror the 12 checkpointed row-frames), chunked per-row sums
    // for the positive-cell count (a flat 144-term + chain exceeds
    // DuckDB's binder recursion depth).
    "q_smith_waterman" -> {
      val el = (arr: String, k: Int) => s"$arr[$k]"
      val pick =
        """SELECT string_split(text, ' ')[1:12] AS %s
          |FROM documents
          |WHERE len(string_split(text, ' ')) >= 12
          |ORDER BY n_chars DESC, doc_id ASC LIMIT 1%s""".stripMargin
      val ctes = new scala.collection.mutable.ArrayBuffer[String]
      ctes += ("base AS MATERIALIZED (SELECT a, b FROM (" +
        pick.format("a", "") + ") CROSS JOIN (" +
        pick.format("b", " OFFSET 1") + "))")
      var prev = "base"
      (1 to 12).foreach { i =>
        val exprs = swRowExprs(i, el)
          .map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
        ctes += s"r$i AS MATERIALIZED (SELECT *,\n    $exprs\n  FROM $prev)"
        prev = s"r$i"
      }
      val all = for (i <- 1 to 12; j <- 1 to 12) yield s"h${i}_$j"
      val pos = "CASE " + (for (i <- 1 to 12; j <- 1 to 12)
        yield s"WHEN h${i}_$j = best THEN ${i * 100 + j}")
        .mkString(" ") + " END"
      val npos = (1 to 12).map(i => "(" + (1 to 12)
        .map(j => s"(CASE WHEN h${i}_$j > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ") + ")").mkString(" + ")
      s"""WITH ${ctes.mkString(",\n")},
         |fin AS (SELECT *, greatest(${all.mkString(", ")}) AS best
         |  FROM r12)
         |SELECT CAST(best AS BIGINT) AS best_score,
         |  CAST(($pos) // 100 AS BIGINT) AS end_i,
         |  CAST(($pos) % 100 AS BIGINT) AS end_j,
         |  CAST($npos AS BIGINT) AS n_positive_cells
         |FROM fin""".stripMargin
    },

    // q_absorbing_chain's oracle: identical windowed successor/censor
    // pass, the same 15-cell rollup, and the IDENTICAL engine-neutral
    // fundN cofactor texts (one generator, two engines).
    "q_absorbing_chain" -> {
      val keys = Seq("click" -> "c", "signup" -> "s", "view" -> "v",
        "error" -> "e", "purchase" -> "p")
      val srcs = keys.take(3)
      val cnts = (for ((sn, sa) <- srcs; (dn, da) <- keys) yield
        s"CAST(SUM(CASE WHEN src = '$sn' AND dst = '$dn' THEN 1 " +
          s"ELSE 0 END) AS BIGINT) AS c_$sa$da").mkString(",\n    ")
      val probs = srcs.zipWithIndex.flatMap { case ((_, sa), i) =>
        val tot = s"CAST(c_${sa}c + c_${sa}s + c_${sa}v + c_${sa}e " +
          s"+ c_${sa}p AS DOUBLE)"
        keys.take(3).zipWithIndex.map { case ((_, da), j) =>
          s"CAST(c_$sa$da AS DOUBLE) / ($tot) AS q${i + 1}${j + 1}"
        } ++ Seq(
          s"CAST(c_${sa}e AS DOUBLE) / ($tot) AS r${i + 1}1",
          s"CAST(c_${sa}p AS DOUBLE) / ($tot) AS r${i + 1}2")
      }.mkString(",\n    ")
      val nns = (1 to 3).flatMap(i => (1 to 3).map(j =>
        s"${fundN(i, j)} AS nn$i$j")).mkString(",\n    ")
      val rows = srcs.zipWithIndex.map { case ((sn, _), k) =>
        val i = k + 1
        s"""SELECT '$sn' AS start_state,
           |  round(nn${i}1 + nn${i}2 + nn${i}3, 6) AS expected_steps,
           |  round(nn${i}1 * r11 + nn${i}2 * r21 + nn${i}3 * r31, 6)
           |    AS p_error,
           |  round(nn${i}1 * r12 + nn${i}2 * r22 + nn${i}3 * r32, 6)
           |    AS p_purchase
           |FROM fin""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type AS src,
         |    CASE WHEN event_type IN ('purchase', 'error') THEN 1
         |      ELSE 0 END AS ab
         |  FROM events),
         |p AS (
         |  SELECT src, ab,
         |    LEAD(src) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS dst,
         |    COALESCE(SUM(ab) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS abs_before
         |  FROM e),
         |f AS (SELECT src, dst FROM p
         |  WHERE dst IS NOT NULL AND abs_before = 0 AND ab = 0),
         |one AS (
         |  SELECT $cnts
         |  FROM f),
         |base AS (
         |  SELECT $probs
         |  FROM one),
         |fin AS (
         |  SELECT *,
         |    $nns
         |  FROM base)
         |$rows
         |ORDER BY start_state""".stripMargin
    },

    // q_als_rank1's oracle: identical cell rollup, the same generated
    // half-step map texts per round (DuckDB element_at returns a
    // 1-element list — the [1] accessor), same normalized readout.
    "q_als_rank1" -> {
      def ufold(lists: String, vm: String, ka: String): String =
        s"""list_reduce(list_concat([0.0::DOUBLE], list_transform(
           |  element_at($lists, k)[1],
           |  p -> CAST(p.r AS DOUBLE) * element_at($vm, p.$ka)[1])),
           |  (a,b) -> a + b) /
           |list_reduce(list_concat([0.0::DOUBLE], list_transform(
           |  element_at($lists, k)[1],
           |  p -> element_at($vm, p.$ka)[1] * element_at($vm, p.$ka)[1])),
           |  (a,b) -> a + b)""".stripMargin
      def newmap(keys: String, lists: String, vm: String,
          ka: String): String =
        s"""map_from_entries(list_transform($keys, k ->
           |  struct_pack(k := k, v := ${ufold(lists, vm, ka)})))"""
          .stripMargin
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "b0" else s"v${r - 1}"
        val pvm = if (r == 1) "vm0" else s"vm${r - 1}"
        s"""u$r AS (
           |  SELECT *, ${newmap("ikeys", "rowm", pvm, "j")} AS um$r
           |  FROM $prev),
           |v$r AS (
           |  SELECT *, ${newmap("jkeys", "colm", s"um$r", "i")} AS vm$r
           |  FROM u$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH cells AS (
         |  SELECT c.c_mktsegment AS i, n.n_name AS j,
         |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
         |      * 100 AS BIGINT)) AS BIGINT) AS r
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  GROUP BY 1, 2),
         |ri AS (SELECT i, list(struct_pack(j := j, r := r) ORDER BY j)
         |  AS l FROM cells GROUP BY 1),
         |rj AS (SELECT j, list(struct_pack(i := i, r := r) ORDER BY i)
         |  AS l FROM cells GROUP BY 1),
         |rowmF AS (SELECT map_from_entries(list(struct_pack(k := i,
         |  v := l) ORDER BY i)) AS rowm FROM ri),
         |colmF AS (SELECT map_from_entries(list(struct_pack(k := j,
         |  v := l) ORDER BY j)) AS colm FROM rj),
         |ikeysF AS (SELECT list(i ORDER BY i) AS ikeys FROM ri),
         |jkeysF AS (SELECT list(j ORDER BY j) AS jkeys FROM rj),
         |cellsF AS (SELECT list(struct_pack(i := i, j := j, r := r)
         |  ORDER BY i, j) AS cl FROM cells),
         |b0 AS (
         |  SELECT *, map_from_entries(list_transform(jkeys, x ->
         |    struct_pack(k := x, v := 1.0::DOUBLE))) AS vm0
         |  FROM rowmF CROSS JOIN colmF CROSS JOIN ikeysF
         |    CROSS JOIN jkeysF CROSS JOIN cellsF),
         |$rounds,
         |fin AS (
         |  SELECT *,
         |    sqrt(list_reduce(list_concat([0.0::DOUBLE],
         |      list_transform(ikeys, k ->
         |        element_at(um3, k)[1] * element_at(um3, k)[1])),
         |      (a,b) -> a + b)) AS un,
         |    sqrt(list_reduce(list_concat([0.0::DOUBLE],
         |      list_transform(jkeys, k ->
         |        element_at(vm3, k)[1] * element_at(vm3, k)[1])),
         |      (a,b) -> a + b)) AS vn,
         |    list_reduce(list_concat([0.0::DOUBLE],
         |      list_transform(cl, p -> CAST(p.r AS DOUBLE) *
         |        element_at(um3, p.i)[1] * element_at(vm3, p.j)[1])),
         |      (a,b) -> a + b) AS urv
         |  FROM v3)
         |SELECT axis, name, weight, sigma_usd FROM (
         |  SELECT 'segment' AS axis, k AS name,
         |    round(element_at(um3, k)[1] / un, 6) AS weight,
         |    round(urv / (un * vn) / 100.0::DOUBLE, 2) AS sigma_usd
         |  FROM fin CROSS JOIN UNNEST(ikeys) AS t(k)
         |  UNION ALL
         |  SELECT 'nation' AS axis, k AS name,
         |    round(element_at(vm3, k)[1] / vn, 6) AS weight,
         |    round(urv / (un * vn) / 100.0::DOUBLE, 2) AS sigma_usd
         |  FROM fin CROSS JOIN UNNEST(jkeys) AS t(k))
         |ORDER BY axis, name""".stripMargin
    },

    // q_yule_walker's oracle: the same day-sorted list, the same
    // index-ordered autocovariance and one-step-error folds (DuckDB
    // 1-based vals[i] == Spark element_at), same Toeplitz solve.
    "q_yule_walker" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |base AS (
        |  SELECT list(struct_pack(day := day, x := x) ORDER BY day) AS l
        |  FROM daily),
        |b1 AS (
        |  SELECT list_transform(l, e -> CAST(e.x AS DOUBLE)) AS vals,
        |    len(l) AS n FROM base),
        |b2 AS (
        |  SELECT vals, n,
        |    list_reduce(list_concat([0.0::DOUBLE], vals), (a,b) -> a + b)
        |      / CAST(n AS DOUBLE) AS m FROM b1),
        |b3 AS (
        |  SELECT vals, n, m,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(vals, x -> (x - m) * (x - m))),
        |      (a,b) -> a + b) AS c0,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(generate_series(1::BIGINT, n - 1), i ->
        |        (vals[i] - m) * (vals[i + 1] - m))), (a,b) -> a + b) AS c1,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(generate_series(1::BIGINT, n - 2), i ->
        |        (vals[i] - m) * (vals[i + 2] - m))), (a,b) -> a + b) AS c2
        |  FROM b2),
        |b4 AS (SELECT vals, n, m, c1 / c0 AS rho1, c2 / c0 AS rho2
        |  FROM b3),
        |b5 AS (
        |  SELECT vals, n, m, rho1, rho2,
        |    rho1 * (1.0::DOUBLE - rho2) / (1.0::DOUBLE - rho1 * rho1)
        |      AS phi1,
        |    (rho2 - rho1 * rho1) / (1.0::DOUBLE - rho1 * rho1) AS phi2
        |  FROM b4),
        |b6 AS (
        |  SELECT n, m, rho1, rho2, phi1, phi2,
        |    sqrt(list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(generate_series(3::BIGINT, n), i ->
        |        (vals[i] - (m + phi1 * (vals[i - 1] - m)
        |          + phi2 * (vals[i - 2] - m)))
        |        * (vals[i] - (m + phi1 * (vals[i - 1] - m)
        |          + phi2 * (vals[i - 2] - m))))), (a,b) -> a + b)
        |      / CAST(n - 2 AS DOUBLE)) AS rmse
        |  FROM b5)
        |SELECT CAST(n AS BIGINT) AS n_days, round(m, 6) AS mean_daily,
        |  round(rho1, 6) AS rho1, round(rho2, 6) AS rho2,
        |  round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
        |  round(m * (1.0::DOUBLE - phi1 - phi2), 6) AS intercept,
        |  round(rmse, 6) AS rmse_onestep
        |FROM b6""".stripMargin,

    // q_fisher_lda's oracle: identical rank-selected median, cell
    // histogram, 12 integer sufficient statistics, the same layered
    // scalar trees for the pooled 2×2 solve, same strict > midpoint
    // classification off the cell table.
    "q_fisher_lda" -> {
      def cs(cls: Int, term: String, name: String) =
        s"CAST(SUM(CASE WHEN y = $cls THEN $term ELSE 0 END) AS BIGINT)" +
          s" AS $name"
      s"""WITH b AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x1,
         |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
         |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS cents
         |  FROM lineitem),
         |h AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM b GROUP BY 1),
         |med AS (
         |  SELECT MIN(cents) AS med FROM (
         |    SELECT cents,
         |      SUM(cn) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW) AS cum,
         |      (SELECT SUM(cn) FROM h) AS n
         |    FROM h)
         |  WHERE cum >= (n + 1) // 2),
         |cells AS (
         |  SELECT x1, x2,
         |    CAST(CASE WHEN cents > (SELECT med FROM med) THEN 1
         |      ELSE 0 END AS BIGINT) AS y,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2, 3),
         |suff AS (
         |  SELECT ${cs(0, "n", "n0")}, ${cs(0, "n * x1", "a1")},
         |    ${cs(0, "n * x2", "a2")}, ${cs(0, "n * x1 * x1", "a11")},
         |    ${cs(0, "n * x2 * x2", "a22")},
         |    ${cs(0, "n * x1 * x2", "a12")},
         |    ${cs(1, "n", "n1")}, ${cs(1, "n * x1", "b1")},
         |    ${cs(1, "n * x2", "b2")}, ${cs(1, "n * x1 * x1", "b11")},
         |    ${cs(1, "n * x2 * x2", "b22")},
         |    ${cs(1, "n * x1 * x2", "b12")}
         |  FROM cells),
         |p1 AS (
         |  SELECT *,
         |    (CAST(a11 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n0
         |     + CAST(b11 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n1)
         |     / (CAST(n0 + n1 AS DOUBLE) - 2.0::DOUBLE) AS sa,
         |    (CAST(a22 AS DOUBLE) - CAST(a2 AS DOUBLE) * a2 / n0
         |     + CAST(b22 AS DOUBLE) - CAST(b2 AS DOUBLE) * b2 / n1)
         |     / (CAST(n0 + n1 AS DOUBLE) - 2.0::DOUBLE) AS sb,
         |    (CAST(a12 AS DOUBLE) - CAST(a1 AS DOUBLE) * a2 / n0
         |     + CAST(b12 AS DOUBLE) - CAST(b1 AS DOUBLE) * b2 / n1)
         |     / (CAST(n0 + n1 AS DOUBLE) - 2.0::DOUBLE) AS sc,
         |    CAST(b1 AS DOUBLE) / n1 - CAST(a1 AS DOUBLE) / n0 AS d1,
         |    CAST(b2 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n0 AS d2
         |  FROM suff),
         |p2 AS (
         |  SELECT *,
         |    (sb * d1 - sc * d2) / (sa * sb - sc * sc) AS w1,
         |    (sa * d2 - sc * d1) / (sa * sb - sc * sc) AS w2
         |  FROM p1),
         |params AS (
         |  SELECT n0, n1, w1, w2,
         |    w1 * (CAST(a1 AS DOUBLE) / n0 + CAST(b1 AS DOUBLE) / n1)
         |     / 2.0::DOUBLE +
         |    w2 * (CAST(a2 AS DOUBLE) / n0 + CAST(b2 AS DOUBLE) / n1)
         |     / 2.0::DOUBLE AS c
         |  FROM p2),
         |conf AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN y = 1 AND w1 * CAST(x1 AS DOUBLE)
         |      + w2 * CAST(x2 AS DOUBLE) > c THEN n ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN y = 0 AND w1 * CAST(x1 AS DOUBLE)
         |      + w2 * CAST(x2 AS DOUBLE) > c THEN n ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN y = 1 AND NOT (w1 * CAST(x1 AS DOUBLE)
         |      + w2 * CAST(x2 AS DOUBLE) > c) THEN n ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN y = 0 AND NOT (w1 * CAST(x1 AS DOUBLE)
         |      + w2 * CAST(x2 AS DOUBLE) > c) THEN n ELSE 0 END)
         |      AS BIGINT) AS tn,
         |    ANY_VALUE(n0) AS n0, ANY_VALUE(n1) AS n1,
         |    ANY_VALUE(w1) AS w1, ANY_VALUE(w2) AS w2,
         |    ANY_VALUE(c) AS c
         |  FROM cells CROSS JOIN params)
         |SELECT CAST(n0 + n1 AS BIGINT) AS n_rows,
         |  round(w1, 9) + 0.0::DOUBLE AS w_qty,
         |  round(w2, 9) + 0.0::DOUBLE AS w_disc,
         |  round(c, 9) + 0.0::DOUBLE AS threshold,
         |  tp, fp, fn, tn,
         |  round(CAST(tp + tn AS DOUBLE) / (n0 + n1), 6) AS accuracy
         |FROM conf""".stripMargin
    })

  /** [[Iterate.minLabelJump]] as DuckDB CTEs over `und` (w1, w2) and the
    * initial label CTE `l0` (w, comp): round i's min frame `m$i` and
    * jumped labels `l$i`, both MATERIALIZED (each is referenced twice). */
  private def minLabelJumpSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""m$i AS MATERIALIZED (SELECT w, MIN(comp) AS comp FROM (
         |  SELECT w, comp FROM l${i - 1}
         |  UNION ALL
         |  SELECT u.w1 AS w, p.comp FROM und u
         |  JOIN l${i - 1} p ON u.w2 = p.w
         |) GROUP BY w),
         |l$i AS MATERIALIZED (SELECT a.w, b.comp
         |  FROM m$i a JOIN m$i b ON a.comp = b.w)""".stripMargin
    }.mkString(",\n")

  /** q_dbscan_grid's oracle: the cell rollup + 8-neighborhood edges +
    * the q_connected_components pointer-jump rounds on dense cells. */
  private def dbscanOracle: String = {
    s"""WITH pts AS (
       |  SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
       |    AS x, COALESCE(t.sp, 0) AS y
       |  FROM customer LEFT JOIN (
       |    SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice
       |      AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sp
       |    FROM orders GROUP BY 1) t ON c_custkey = o_custkey),
       |cells AS MATERIALIZED (
       |  SELECT (x - ((x % 100000) + 100000) % 100000) // 100000 AS cx,
       |    (y - ((y % 20000000) + 20000000) % 20000000) // 20000000
       |      AS cy,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pts GROUP BY 1, 2),
       |dense AS MATERIALIZED (
       |  SELECT cx, cy, n, cx::VARCHAR || ':' || cy::VARCHAR AS w
       |  FROM cells WHERE n >= 4),
       |und AS MATERIALIZED (
       |  SELECT a.w AS w1, b.w AS w2
       |  FROM (SELECT d.cx + o.dx AS nx, d.cy + o.dy AS ny, d.w
       |        FROM dense d, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
       |          (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)) a0
       |  JOIN dense b ON a0.nx = b.cx AND a0.ny = b.cy
       |  JOIN dense a ON a.w = a0.w),
       |l0 AS (SELECT w, w AS comp FROM dense),
       |${minLabelJumpSql(8)},
       |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_cells
       |       FROM l8 GROUP BY 1),
       |noise AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT)
       |  AS n_noise_points FROM cells WHERE n < 4)
       |SELECT d.cx AS cell_x, d.cy AS cell_y, d.n AS n_points,
       |  l.comp AS cluster_id, sz.n_cells AS cluster_cells,
       |  noise.n_noise_points
       |FROM dense d JOIN l8 l ON d.w = l.w JOIN sz ON l.comp = sz.comp
       |CROSS JOIN noise
       |ORDER BY cell_x, cell_y""".stripMargin
  }

  /** q_ipf_raking's oracle: the segment × region rollup + the same 4
    * row+column raking rounds as one-row list states. */
  private def ipfOracle: String = {
    def scale(key: String): String =
      s"""list_transform(l, p -> struct_pack(seg := p.seg,
         |    reg := p.reg, n := p.n,
         |    w := p.w * (tot::DOUBLE / 5) /
         |      list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
         |        q -> CASE WHEN q.$key = p.$key THEN q.w
         |             ELSE 0.0::DOUBLE END)), (a, b) -> a + b)))"""
        .stripMargin
    val rounds = (1 to 4).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT ${scale("seg")} AS l, tot FROM c${i - 1}),
         |c$i AS MATERIALIZED (
         |  SELECT ${scale("reg")} AS l, tot FROM r$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH cnt AS (
       |  SELECT c_mktsegment AS seg, r_name AS reg,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY 1, 2),
       |c0 AS MATERIALIZED (
       |  SELECT list_sort(list(struct_pack(seg := seg, reg := reg,
       |    n := n, w := n::DOUBLE))) AS l, CAST(SUM(n) AS BIGINT) AS tot
       |  FROM cnt),
       |$rounds
       |SELECT u.seg AS segment, u.reg AS region, u.n AS n_raw,
       |  round(u.w, 6) AS weight,
       |  round(u.w / u.n, 6) AS rake_factor
       |FROM c4, LATERAL (SELECT unnest(l, recursive := true))
       |  u(seg, reg, n, w)
       |ORDER BY segment, region""".stripMargin
  }

  /** q_cox_regression's oracle: the q_logrank_test risk-set chain + the
    * same 4 unrolled Newton–Raphson steps over the event-level list. */
  private def coxOracle: String = {
    def foldU = """list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
      |    p -> (p.d::DOUBLE * p.n1 * exp(beta) /
      |      (p.n0 + p.n1 * exp(beta))))), (a, b) -> a + b)""".stripMargin
    def foldI = """list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
      |    p -> (p.d::DOUBLE * p.n0 * p.n1 * exp(beta) /
      |      ((p.n0 + p.n1 * exp(beta)) * (p.n0 + p.n1 * exp(beta)))))),
      |    (a, b) -> a + b)""".stripMargin
    val steps = (1 to 4).map { i =>
      s"""s$i AS MATERIALIZED (SELECT l, sd1,
         |  beta + (sd1::DOUBLE - $foldU) / ($foldI) AS beta
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH obs AS (SELECT MAX(ts) AS obs_end FROM events),
       |t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1),
       |fp AS (SELECT e.user_id, MIN(e.ts) AS tp
       |       FROM events e JOIN t0 ON e.user_id = t0.user_id
       |       WHERE e.event_type = 'purchase' AND e.ts > t0.t0
       |       GROUP BY 1),
       |users AS (
       |  SELECT t0.user_id % 2 AS g,
       |    CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
       |    CASE WHEN fp.tp IS NOT NULL
       |      THEN (epoch_us(fp.tp) - epoch_us(t0.t0)) // 86400000000
       |      ELSE (epoch_us(obs.obs_end) - epoch_us(t0.t0))
       |        // 86400000000 END AS dur
       |  FROM t0 LEFT JOIN fp ON t0.user_id = fp.user_id
       |  CROSS JOIN obs),
       |tot AS (SELECT
       |  CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn0,
       |  CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn1
       |  FROM users),
       |byd AS (SELECT dur,
       |  CAST(SUM(CASE WHEN g = 0 AND ev = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS d0,
       |  CAST(SUM(CASE WHEN g = 0 AND ev = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS c0,
       |  CAST(SUM(CASE WHEN g = 1 AND ev = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS d1,
       |  CAST(SUM(CASE WHEN g = 1 AND ev = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS c1
       |  FROM users GROUP BY 1),
       |risk AS (SELECT dur, d0, d1,
       |  tn0 - CAST(COALESCE(SUM(d0 + c0) OVER (ORDER BY dur
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS n0,
       |  tn1 - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY dur
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS n1
       |  FROM byd CROSS JOIN tot),
       |lv AS (SELECT dur, d0 + d1 AS d, d1, n0, n1 FROM risk
       |       WHERE d0 + d1 > 0),
       |s0 AS MATERIALIZED (SELECT
       |  list_sort(list(struct_pack(dur := dur, d := d, d1 := d1,
       |    n0 := n0, n1 := n1))) AS l,
       |  CAST(SUM(d1) AS BIGINT) AS sd1, 0.0::DOUBLE AS beta FROM lv),
       |$steps
       |SELECT tn0 AS n_g0, tn1 AS n_g1, sd1 AS events_g1,
       |  round(beta, 6) AS beta,
       |  round(exp(beta), 6) AS hazard_ratio,
       |  round(1.0::DOUBLE / sqrt($foldI), 6) AS se,
       |  round(beta / (1.0::DOUBLE / sqrt($foldI)), 6) AS z
       |FROM s4 CROSS JOIN tot""".stripMargin
  }

  /** q_viterbi_decode's oracle: the per-user first-8 observation rollup
    * + the same 8 unrolled Viterbi steps with backpointer strings. */
  private def viterbiOracle: String = {
    def emit(state: Int, obs: String): String = {
      val t = if (state == 0)
        Seq("view" -> "0.3", "click" -> "0.3", "signup" -> "0.2",
          "error" -> "0.15", "purchase" -> "0.05")
      else
        Seq("purchase" -> "0.45", "click" -> "0.2", "view" -> "0.15",
          "signup" -> "0.05", "error" -> "0.15")
      "CASE " + t.map { case (k, v) =>
        s"WHEN $obs = '$k' THEN ln($v::DOUBLE)"
      }.mkString(" ") + " ELSE ln(0.01::DOUBLE) END"
    }
    val steps = (2 to 8).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT user_id, obs,
         |    GREATEST(v0 + ln(0.8::DOUBLE), v1 + ln(0.4::DOUBLE)) +
         |      (${emit(0, s"obs[$i]")}) AS v0,
         |    GREATEST(v0 + ln(0.2::DOUBLE), v1 + ln(0.6::DOUBLE)) +
         |      (${emit(1, s"obs[$i]")}) AS v1,
         |    (CASE WHEN v0 + ln(0.8::DOUBLE) >= v1 + ln(0.4::DOUBLE)
         |      THEN p0 ELSE p1 END) || '0' AS p0,
         |    (CASE WHEN v0 + ln(0.2::DOUBLE) >= v1 + ln(0.6::DOUBLE)
         |      THEN p0 ELSE p1 END) || '1' AS p1
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS MATERIALIZED (
       |  SELECT user_id,
       |    list_transform(list_sort(list(struct_pack(ts := ts,
       |      eid := event_id, et := event_type)))[1:8], x -> x.et)
       |      AS obs
       |  FROM events GROUP BY user_id HAVING COUNT(*) >= 8),
       |s1 AS MATERIALIZED (
       |  SELECT user_id, obs,
       |    ln(0.5::DOUBLE) + (${emit(0, "obs[1]")}) AS v0,
       |    ln(0.5::DOUBLE) + (${emit(1, "obs[1]")}) AS v1,
       |    '0' AS p0, '1' AS p1
       |  FROM seq),
       |$steps
       |SELECT user_id,
       |  CASE WHEN v0 >= v1 THEN p0 ELSE p1 END AS state_path,
       |  CAST(length(CASE WHEN v0 >= v1 THEN p0 ELSE p1 END) -
       |    length(replace(CASE WHEN v0 >= v1 THEN p0 ELSE p1 END,
       |    '1', '')) AS BIGINT) AS n_buy_steps,
       |  round(GREATEST(v0, v1), 6) AS logp
       |FROM s8 ORDER BY user_id""".stripMargin
  }

  /** q_connected_components's oracle: the symmetrized bipartite week +
    * the same 8 unrolled min-label + pointer-jump rounds. */
  private def connectedComponentsOracle: String = {
    s"""WITH e0 AS (
       |  SELECT DISTINCT 's' || l_suppkey AS w1, 'p' || l_partkey AS w2
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1995-03-01'
       |    AND l_shipdate < TIMESTAMP '1995-03-08'),
       |und AS MATERIALIZED (SELECT w1, w2 FROM e0
       |  UNION SELECT w2 AS w1, w1 AS w2 FROM e0),
       |nodes AS (SELECT DISTINCT w1 AS w FROM und),
       |l0 AS (SELECT w, w AS comp FROM nodes),
       |${minLabelJumpSql(8)},
       |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size
       |       FROM l8 GROUP BY 1)
       |SELECT w AS node, comp, comp_size FROM l8 JOIN sz USING (comp)
       |ORDER BY node""".stripMargin
  }

  /** q_quantile_regression's oracle: OLS warm start (round 0, wt ≡ 1)
    * then 8 unrolled IRLS rounds. Weighted sufficient statistics are
    * HUGEINT (≡ Spark's DECIMAL(38,0) sums of exact BIGINT per-row
    * products); the (a, b) solve and the residual→weight ladder use
    * the same double expression trees as the Spark side, so the whole
    * trajectory is bit-deterministic, not just the fixed point. */
  private def quantileRegOracle: String = {
    val bTree =
      """(CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
        | - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
        | / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
        | - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))""".stripMargin
    def sums(i: Int): String =
      s"""s$i AS (
         |  SELECT rf, COUNT(*) AS n,
         |    CAST(SUM(wt) AS HUGEINT) AS sw,
         |    CAST(SUM(wt * x) AS HUGEINT) AS swx,
         |    CAST(SUM(wt * x * x) AS HUGEINT) AS swxx,
         |    CAST(SUM(wt * y) AS HUGEINT) AS swy,
         |    CAST(SUM(wt * x * y) AS HUGEINT) AS swxy
         |  FROM w$i GROUP BY rf),
         |p${i}b AS (SELECT rf, n, sw, swx, swy,
         |  $bTree AS b FROM s$i),
         |p$i AS (SELECT rf, n, b,
         |  (CAST(swy AS DOUBLE) - b * CAST(swx AS DOUBLE))
         |    / CAST(sw AS DOUBLE) AS a
         |  FROM p${i}b)""".stripMargin
    val rc = "greatest(100, CAST(floor(abs(CAST(y AS DOUBLE) " +
      "- (a + b * CAST(x AS DOUBLE)))) AS BIGINT))"
    val rounds = (1 to 8).map { i =>
      s"""w$i AS (
         |  SELECT li.rf, li.x, li.y,
         |    100000000 // ($rc) AS wt
         |  FROM li JOIN p${i - 1} USING (rf)),
         |${sums(i)}""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS x,
       |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |      AS y
       |  FROM lineitem),
       |w0 AS (SELECT rf, x, y, CAST(1 AS BIGINT) AS wt FROM li),
       |${sums(0)},
       |$rounds,
       |fin AS (
       |  SELECT li.rf, p8.n, p8.a, p8.b,
       |    CAST(floor(abs(CAST(y AS DOUBLE)
       |      - (a + b * CAST(x AS DOUBLE)))) AS BIGINT) AS ar
       |  FROM li JOIN p8 USING (rf))
       |SELECT rf AS l_returnflag, MAX(n) AS n,
       |  round(MAX(a) / 100.0::DOUBLE, 6) AS intercept,
       |  round(MAX(b) / 100.0::DOUBLE, 6) AS slope,
       |  round(CAST(SUM(ar) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
       |    / 100.0::DOUBLE, 6) AS mean_abs_resid
       |FROM fin GROUP BY rf ORDER BY l_returnflag""".stripMargin
  }
}
