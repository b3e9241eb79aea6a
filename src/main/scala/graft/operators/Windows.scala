package graft.operators

import graft.{QueryPack, Tables}
import graft.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

/** Window functions — SURVEY.md §3B #27–31. Upstream analogs: plotorder
  * ranking, image_change / collect-`difference` day deltas, cumulative SWI,
  * smoothed series, peak-SWE date ([U] SURVEY.md §3A; /root/reference empty
  * at survey time, §0).
  *
  * Scale notes (100 TB): each window shuffles once on its partition key and
  * sorts within partitions — no global sort. Partition keys (customer, user)
  * are high-cardinality, so partitions stay small; a single-partition window
  * (no partitionBy) is deliberately absent — that is the anti-pattern at
  * scale. Window ORDER BY always carries a unique tiebreak column so frame
  * contents are deterministic under parallel re-ordering.
  */
object Windows extends QueryPack {

  def queries: Seq[(String, Fn)] = Seq(
    // #27 ranking trio, top-3 orders per customer. Analog: plotorder.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk", "drnk")
        .orderBy("o_custkey", "rn")
    }),

    // #28 lag delta per user time series. Analog: day-over-day image change.
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", r4(col("value") - col("prev_value")))
        .select(col("event_id"), col("user_id"), r4(col("value")).as("value"),
          r4(col("prev_value")).as("prev_value"), col("delta"))
        .orderBy("event_id")
    }),

    // #29 running total (row frame). Analog: cumulative SWI.
    "q_window_cumsum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .withColumn("cum_spend", r4(dsumOver(col("o_totalprice"), w)))
        .select("o_custkey", "o_orderkey", "cum_spend")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // #30 time-range moving agg: trailing 7 days per customer. Analog:
    // smoothed basin series. Range frame on epoch-seconds; ties (same day)
    // share a frame, so the result is order-independent.
    "q_window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(tsec(col("o_orderdate")))
        .rangeBetween(-7L * 24 * 3600, 0)
      t(s, d, "orders")
        .withColumn("movsum_7d", r4(dsumOver(col("o_totalprice"), w)))
        .withColumn("n_7d", count(lit(1)).over(w))
        .select("o_custkey", "o_orderkey", "movsum_7d", "n_7d")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Distribution ranks: ntile quartiles + percent_rank + cume_dist per
    // customer segment. Analog: percentile placement of basins in reports.
    "q_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).as("quartile"),
          r4(percent_rank().over(w)).as("pct_rank"),
          r4(cume_dist().over(w)).as("cume"))
        .orderBy("c_custkey")
    }),

    // Positional analytics: first_value / last_value / nth_value over the
    // full partition frame (last_value under the default frame would see
    // only the current row's prefix — the classic trap). Analog: collect()
    // `end` method (value at end date) per basin.
    "q_window_firstlast" -> ((s, d) => {
      val ord = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(full).as("first_order"),
          last(col("o_orderkey")).over(full).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Exponentially-weighted moving average per user series — the classic
    // "sequential" recursion e_i = α·x_i + (1−α)·e_{i−1} rewritten as a
    // closed-form pair of window passes: with r = 1−α, i = row_number and
    // c_i = Σ_{j≤i} x_j·r^{−j}, e_i = α·r^i·c_i + (1−α)·r^{i−1}·x_1.
    // All three windows (row_number, cumsum, first) share ONE user_id
    // shuffle+sort; no iterative driver loop. Numeric domain: r^{−j}
    // stays finite while run length × ln(1/r) < ~700 (≈1900 events/user
    // at α=0.3) — beyond that a production run segments the series into
    // blocks and chains block-initial values (two passes), same algebra.
    "q_window_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("i", row_number().over(w).cast("double"))
        .withColumn("x1", first(col("value")).over(w))
        .withColumn("ci", sum(col("value") * pow(lit(0.7), -col("i"))).over(wcum))
        .select(col("user_id"), col("i").cast("long").as("i"), col("event_id"),
          r4(col("value")).as("value"),
          r4(lit(0.3) * pow(lit(0.7), col("i")) * col("ci") +
             lit(0.7) * pow(lit(0.7), col("i") - 1) * col("x1")).as("ewma"))
        .orderBy("user_id", "i")
    }),

    // Gap-fill + linear interpolation: resample each user's irregular
    // series onto an hourly grid (sequence-explode per user span — grid
    // size is timespan-bounded, not corpus-bounded), average observed
    // values per cell through exact decimal partials, and interpolate
    // missing cells between the nearest observed neighbors (IGNORE NULLS
    // last over a running frame in each direction: the next observation is
    // the last one seen scanning h descending, so both passes are O(L) per
    // user; a (currentRow, unboundedFollowing) frame re-evaluates its whole
    // suffix per row, O(L²)). Edges carry the nearest value. The observed
    // cell value is pre-rounded so the interpolation inputs are
    // bit-identical across engines.
    "q_window_resample" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), tsec(col("ts")).as("et"), col("value"))
        .withColumn("h", expr("(et div 3600) * 3600"))
      val obs = ev.groupBy("user_id", "h")
        .agg(r4(dsum(col("value")) / count(lit(1))).as("v_obs"))
      val span = ev.groupBy("user_id").agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(3600L))).as("h"))
      // h is unique per user, so the descending pass sees exactly the
      // mirror of the ascending one
      def running(o: Column) = Window.partitionBy("user_id").orderBy(o)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = running(col("h").asc)
      val wn = running(col("h").desc)
      grid.join(obs, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v_obs"), ignoreNulls = true).over(wp))
        .withColumn("ph", last(when(col("v_obs").isNotNull, col("h")), true).over(wp))
        .withColumn("nv", last(col("v_obs"), ignoreNulls = true).over(wn))
        .withColumn("nh", last(when(col("v_obs").isNotNull, col("h")), true).over(wn))
        .withColumn("v_filled", r4(
          when(col("v_obs").isNotNull, col("v_obs"))
            .when(col("ph").isNull, col("nv"))
            .when(col("nh").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("h") - col("ph")).cast("double") / (col("nh") - col("ph")))))
        .withColumn("interpolated", col("v_obs").isNull)
        .select("user_id", "h", "v_filled", "interpolated")
        .orderBy("user_id", "h")
    }),

    // SCD Type-2 dimension build via gaps-and-islands: collapse each
    // customer's consecutive same-status order runs into validity
    // intervals [valid_from, valid_to) with a current-interval flag — the
    // slowly-changing-dimension construction a warehouse load derives from
    // an event/order history. ONE shuffle on o_custkey serves all three
    // window passes (change flag → island id → interval close; same
    // partition key, Catalyst reuses the exchange), and the interval close
    // runs over the already-collapsed runs (≤ #status changes per
    // customer), not the raw history.
    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val runs = t(s, d, "orders")
        .withColumn("chg",
          when(lag(col("o_orderstatus"), 1).over(w) === col("o_orderstatus"), 0)
            .otherwise(1))
        .withColumn("island", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(LongType))
        .groupBy("o_custkey", "island", "o_orderstatus")
        .agg(min(col("o_orderdate")).as("valid_from"),
          count(lit(1)).as("n_orders"))
      val iv = Window.partitionBy("o_custkey").orderBy("island")
      runs
        .withColumn("valid_to", lead(col("valid_from"), 1).over(iv))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "island", "o_orderstatus", "valid_from",
          "valid_to", "n_orders", "is_current")
        .orderBy("o_custkey", "island")
    }),

    // #31 arg-max per group with a unique struct tiebreak (max_by over a
    // non-unique key alone is nondeterministic). Analog: peak-SWE date.
    "q_argmax" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
          r4(max(col("o_totalprice"))).as("top_price"))
        .orderBy("o_custkey")),

    // Interval merge (time-overlap gaps-and-islands): each order opens a
    // 30-day half-open activity interval [date, date+30); overlapping or
    // touching intervals per customer coalesce into maximal islands —
    // the coverage/uptime primitive (sensor validity windows, session
    // coalescing, SLA downtime). A new island starts exactly when an
    // interval's start clears the running max end of ALL previous
    // intervals (max-end, not lag-end: an earlier long interval can
    // swallow several later ones — lag(e) would split those). ONE
    // shuffle on o_custkey serves both window passes AND the final
    // groupBy (island keys extend the partition key, so clustering is
    // already satisfied); date arithmetic stays in exact DATE ints.
    "q_interval_merge" -> ((s, d) => {
      val w = Window.partitionBy("cust").orderBy(col("s"), col("okey"))
      val iv = t(s, d, "orders").select(
        col("o_custkey").as("cust"), col("o_orderkey").as("okey"),
        col("o_orderdate").cast("date").as("s"),
        date_add(col("o_orderdate").cast("date"), INTERVAL_DAYS).as("e"))
      iv
        .withColumn("pme",
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ni", when(col("pme").isNull || col("s") > col("pme"), 1)
          .otherwise(0))
        .withColumn("island", sum(col("ni")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(LongType))
        .groupBy("cust", "island")
        .agg(min(col("s")).as("island_start"), max(col("e")).as("island_end"),
          count(lit(1)).as("n_orders"))
        .select(col("cust").as("o_custkey"),
          // ISO strings: Spark dates surface as python date objects but
          // DuckDB DATEs as datetime64 — same instant, different repr;
          // the string form hashes identically on both engines
          col("island_start").cast("string").as("island_start"),
          col("island_end").cast("string").as("island_end"), col("n_orders"),
          datediff(col("island_end"), col("island_start")).as("span_days"))
        .orderBy("o_custkey", "island_start")
    }),

    // Lag-k autocorrelation of the daily-revenue series per return flag
    // (k = 1 and 7 — momentum and weekly seasonality), the time-series
    // diagnostic behind forecasting and anomaly thresholds. The corpus
    // collapses FIRST to the (flag, day) daily aggregate (one shuffle,
    // map-side combinable, exact decimal revenue); the series is then
    // days-bounded (~2.5k rows per flag) and the lag alignment + the
    // Pearson co-moments run over THAT — stack(2) unpivots both lags
    // from one pass, and the correlation is closed-form IEEE arithmetic
    // on exact DECIMAL(38,6) pair sums (the q_stats_ols playbook).
    "q_stats_autocorr" -> ((s, d) => {
      val daily = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("day"))
        .agg(dsum(col("l_extendedprice")).as("rev"))
      val w = Window.partitionBy("flag").orderBy("day")
      val pairs = daily
        .withColumn("rev1", lag(col("rev"), 1).over(w))
        .withColumn("rev7", lag(col("rev"), 7).over(w))
        .select(col("flag"), expr(
          "stack(2, 1, rev, rev1, 7, rev, rev7) AS (lag_k, x, y)"))
        .select(col("flag"), col("lag_k"), col("x"), col("y"))
        .where(col("y").isNotNull)
      val suff = pairs.groupBy("flag", "lag_k")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"),
          dsum(col("x") * col("y")).as("sxy"))
      suff.select(col("flag"), col("lag_k"), col("n").cast(LongType).as("n_pairs"),
          r4((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))).as("autocorr"))
        .orderBy("flag", "lag_k")
    }),

    // Maximum drawdown of the per-flag daily-revenue series — running
    // peak (a cumulative max window over the days-bounded daily
    // aggregate), per-day drawdown fraction, and the single worst day
    // per flag selected by the row_number rank-1 pattern the injected
    // rule rewrites to TopKPerKey. Same two-stage shape as
    // q_stats_autocorr: corpus → daily rows once, windows never touch
    // corpus-scale data.
    "q_window_drawdown" -> ((s, d) => {
      val daily = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("day"))
        .agg(dsum(col("l_extendedprice")).as("rev"))
      val cum = Window.partitionBy("flag").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("peak", max(col("rev")).over(cum))
        .withColumn("drawdown", (col("peak") - col("rev")) / col("peak"))
      val pick = Window.partitionBy("flag")
        .orderBy(col("drawdown").desc, col("day").asc)
      dd.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("flag"), col("day").cast("string").as("worst_day"),
          r4(col("rev")).as("rev"), r4(col("peak")).as("peak"),
          r4(col("drawdown")).as("max_drawdown"))
        .orderBy("flag")
    }),

    // Month-over-month leaderboard movement: each supplier's revenue
    // rank within its month, the previous month's rank, and the delta —
    // the "who's rising" report behind every ops dashboard. Corpus →
    // (supplier, month) aggregate once (one combinable shuffle); the
    // per-month ranking window partitions by month over the
    // DIMENSION-bounded supplier set, and the rank-recall window
    // re-shuffles only |suppliers|×|months| aggregate rows. Ranks use
    // row_number with a suppkey tiebreak so both engines see one total
    // order.
    "q_window_rank_change" -> ((s, d) => {
      val monthly = t(s, d, "lineitem")
        .groupBy(col("l_suppkey").as("supp"),
          date_trunc("month", col("l_shipdate")).cast("date").as("month"))
        .agg(dsum(col("l_extendedprice")).as("rev"))
      val rankW = Window.partitionBy("month")
        .orderBy(col("rev").desc, col("supp").asc)
      val histW = Window.partitionBy("supp").orderBy("month")
      monthly
        .withColumn("rnk", row_number().over(rankW))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(histW))
        .select(col("supp"), col("month").cast("string").as("month"),
          r4(col("rev")).as("rev"), col("rnk"), col("prev_rnk"),
          (col("prev_rnk") - col("rnk")).as("moved_up"))
        .orderBy("month", "rnk")
    }),
  )

  /** Activity-interval width (days) for q_interval_merge — mirrored in the
    * oracle's `+ $INTERVAL_DAYS` date arithmetic. */
  private val INTERVAL_DAYS = 30

  def oracle: Seq[(String, String)] = Seq(
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   CAST(row_number() OVER w AS INT) AS rn, CAST(rank() OVER w AS INT) AS rnk,
        |   CAST(dense_rank() OVER w AS INT) AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, user_id,
        | CAST(round(CAST(value AS DECIMAL(38,6)), 4) AS DOUBLE) AS value,
        | CAST(round(CAST(prev_value AS DECIMAL(38,6)), 4) AS DOUBLE) AS prev_value,
        | CAST(round(CAST(value - prev_value AS DECIMAL(38,6)), 4) AS DOUBLE) AS delta
        |FROM (
        |  SELECT event_id, user_id, value,
        |   lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_window_cumsum" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS cum_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w, 4) AS DOUBLE) AS movsum_7d,
        | count(*) OVER w AS n_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | CAST(round(CAST(percent_rank() OVER w AS DECIMAL(38,6)), 4) AS DOUBLE) AS pct_rank,
        | CAST(round(CAST(cume_dist() OVER w AS DECIMAL(38,6)), 4) AS DOUBLE) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_order,
        | last_value(o_orderkey) OVER w AS last_order,
        | nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_ewma" ->
      s"""WITH o AS (
         |  SELECT user_id, event_id, value,
         |   CAST(row_number() OVER w AS DOUBLE) AS i,
         |   first_value(value) OVER w AS x1
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |c AS (
         |  SELECT *, sum(value * pow(0.7, -i)) OVER (
         |    PARTITION BY user_id ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
         |  FROM o)
         |SELECT user_id, CAST(i AS BIGINT) AS i, event_id,
         | ${r4sql("value")} AS value,
         | ${r4sql("0.3 * pow(0.7, i) * ci + 0.7 * pow(0.7, i - 1) * x1")} AS ewma
         |FROM c ORDER BY user_id, i""".stripMargin,
    "q_window_resample" ->
      s"""WITH ev AS (
         |  SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h, value
         |  FROM events),
         |obs AS (
         |  SELECT user_id, h,
         |   ${r4sql("CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*)")} AS v_obs
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS h FROM span),
         |f AS (
         |  SELECT g.user_id, g.h, o.v_obs,
         |   last_value(o.v_obs IGNORE NULLS) OVER wp AS pv,
         |   last_value(CASE WHEN o.v_obs IS NOT NULL THEN g.h END IGNORE NULLS) OVER wp AS ph,
         |   first_value(o.v_obs IGNORE NULLS) OVER wn AS nv,
         |   first_value(CASE WHEN o.v_obs IS NOT NULL THEN g.h END IGNORE NULLS) OVER wn AS nh
         |  FROM grid g LEFT JOIN obs o USING (user_id, h)
         |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY g.user_id ORDER BY g.h
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, h,
         | ${r4sql("CASE WHEN v_obs IS NOT NULL THEN v_obs " +
                   "WHEN ph IS NULL THEN nv WHEN nh IS NULL THEN pv " +
                   "ELSE pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph) END")} AS v_filled,
         | (v_obs IS NULL) AS interpolated
         |FROM f ORDER BY user_id, h""".stripMargin,
    "q_scd2" ->
      """WITH isl AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus,
        |   CAST(sum(chg) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM (
        |    SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |     CASE WHEN lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |       ORDER BY o_orderdate, o_orderkey) = o_orderstatus
        |      THEN 0 ELSE 1 END AS chg
        |    FROM orders)),
        |runs AS (
        |  SELECT o_custkey, island, o_orderstatus,
        |   min(o_orderdate) AS valid_from, count(*) AS n_orders
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT o_custkey, island, o_orderstatus, valid_from,
        | lead(valid_from) OVER w AS valid_to, n_orders,
        | (lead(valid_from) OVER w IS NULL) AS is_current
        |FROM runs
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY island)
        |ORDER BY o_custkey, island""".stripMargin,
    "q_argmax" ->
      """SELECT o_custkey, o_orderkey AS top_order,
        | CAST(round(CAST(top_price AS DECIMAL(38,6)), 4) AS DOUBLE) AS top_price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
        |   max(o_totalprice) OVER (PARTITION BY o_custkey) AS top_price
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_interval_merge" ->
      s"""WITH iv AS (
         |  SELECT o_custkey AS cust, o_orderkey AS okey,
         |   CAST(o_orderdate AS DATE) AS s,
         |   CAST(o_orderdate AS DATE) + $INTERVAL_DAYS AS e
         |  FROM orders),
         |m AS (
         |  SELECT *, max(e) OVER (PARTITION BY cust ORDER BY s, okey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM iv),
         |g AS (
         |  SELECT *, sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY cust ORDER BY s, okey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m)
         |SELECT cust AS o_custkey,
         | CAST(min(s) AS VARCHAR) AS island_start,
         | CAST(max(e) AS VARCHAR) AS island_end,
         | count(*) AS n_orders,
         | CAST(date_diff('day', min(s), max(e)) AS INT) AS span_days
         |FROM g GROUP BY cust, island
         |ORDER BY o_custkey, island_start""".stripMargin,
    "q_stats_autocorr" ->
      s"""WITH daily AS (
         |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
         |   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
         |  FROM lineitem GROUP BY 1, 2),
         |lagged AS (
         |  SELECT flag, rev,
         |   lag(rev, 1) OVER (PARTITION BY flag ORDER BY day) AS rev1,
         |   lag(rev, 7) OVER (PARTITION BY flag ORDER BY day) AS rev7
         |  FROM daily),
         |pairs AS (
         |  SELECT flag, 1 AS lag_k, rev AS x, rev1 AS y FROM lagged WHERE rev1 IS NOT NULL
         |  UNION ALL
         |  SELECT flag, 7, rev, rev7 FROM lagged WHERE rev7 IS NOT NULL),
         |suff AS (
         |  SELECT flag, lag_k, CAST(count(*) AS DOUBLE) AS n,
         |   CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |   CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |   CAST(sum(CAST(x*x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |   CAST(sum(CAST(y*y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         |   CAST(sum(CAST(x*y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
         |  FROM pairs GROUP BY 1, 2)
         |SELECT flag, lag_k, CAST(n AS BIGINT) AS n_pairs,
         | ${r4sql("(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))")} AS autocorr
         |FROM suff ORDER BY flag, lag_k""".stripMargin,
    "q_window_drawdown" ->
      s"""WITH daily AS (
         |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
         |   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
         |  FROM lineitem GROUP BY 1, 2),
         |dd AS (
         |  SELECT flag, day, rev,
         |   max(rev) OVER (PARTITION BY flag ORDER BY day
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM daily),
         |r AS (
         |  SELECT *, (peak - rev) / peak AS drawdown,
         |   row_number() OVER (PARTITION BY flag
         |     ORDER BY (peak - rev) / peak DESC, day ASC) AS rn
         |  FROM dd)
         |SELECT flag, CAST(day AS VARCHAR) AS worst_day, ${r4sql("rev")} AS rev,
         | ${r4sql("peak")} AS peak, ${r4sql("drawdown")} AS max_drawdown
         |FROM r WHERE rn = 1 ORDER BY flag""".stripMargin,
    "q_window_rank_change" ->
      """WITH monthly AS (
        |  SELECT l_suppkey AS supp, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT supp, month, rev,
        |   row_number() OVER (PARTITION BY month ORDER BY rev DESC, supp ASC) AS rnk
        |  FROM monthly),
        |h AS (
        |  SELECT *, lag(rnk, 1) OVER (PARTITION BY supp ORDER BY month) AS prev_rnk
        |  FROM r)
        |SELECT supp, CAST(month AS VARCHAR) AS month,
        | CAST(round(CAST(rev AS DECIMAL(38,6)), 4) AS DOUBLE) AS rev,
        | rnk, prev_rnk, prev_rnk - rnk AS moved_up
        |FROM h ORDER BY month, rnk""".stripMargin,
  )
}
