package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{AirQuality, Calibration, GeoFunctions}
import graft.operators._

import Shared._

/** Reports and time series: scans, joins, resampling, windows, outlier
  * tests, regressions, the scalar function libraries, and the report
  * writers and readers (XLSX, HTML, CSV, chart documents) round-tripped
  * through their own parsers. */
object ReportQueries {

  val all: Seq[Query] = Seq(
    // Q1 — scan + filter + project (P2/P8): predicate and projection push
    // down to the parquet scan.
    Query("q01_filter_project", (s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_quantity").between(10, 40) && col("l_returnflag") === "N")
        .select(col("l_orderkey"), col("l_quantity"))
    }, oracle =
      """SELECT l_orderkey, l_quantity FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 40 AND l_returnflag = 'N'"""),

    // Q2 — hourly bucket aggregation (A1).
    Query("q02_hourly_agg", (s, d) => {
      val e = Tables.events(s, d)
      Resample.hourlyAvg(e, col("ts"), col("value"))
    }, oracle = hourlyAggSql),

    // Q3 — gap-filled resample (A2): spine left-join, null rows for empty
    // buckets.
    Query("q03_gapfill", (s, d) => {
      val e = Tables.events(s, d)
      Resample.gapFill(e, col("ts"), 3600,
        Resample.hourlyAvg(e, col("ts"), col("value")))
    }, oracle =
      s"""WITH agg AS ($hourlyAggSql),
          bounds AS (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg),
          spine AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS bucket_ts FROM bounds)
          SELECT s.bucket_ts, a.avg_value, a.n
          FROM spine s LEFT JOIN agg a USING (bucket_ts)"""),

    // Q4 — summary statistics per device (A3).
    Query("q04_summary_stats", (s, d) => {
      Tables.events(s, d).groupBy(col("user_id")).agg(
        count(col("value")).as("n"),
        Resample.roundStable(avg(col("value")), 4).as("avg_v"),
        Resample.roundStable(stddev_samp(col("value")), 4).as("sd_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
    }, oracle =
      """SELECT user_id, count(value) AS n,
                CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_v,
                CAST(round(CAST(stddev_samp(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS sd_v,
                min(value) AS min_v, max(value) AS max_v
         FROM events GROUP BY user_id"""),

    // Q5 — dimension equi-joins (J1): fact ⋈ broadcast dims, grouped.
    Query("q05_dim_join_revenue", (s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }, oracle =
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue,
                count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name"""),

    // Q6 — broadcast calibration-dimension join + Taylor apply (J9/F1).
    Query("q06_broadcast_calibrate", (s, d) => {
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .withColumn("cal", Calibration.taylorCols(col("l_extendedprice"),
          col("p_retailprice") * 0.01, lit(1.05)))
        .groupBy(col("p_brand"))
        // decimal-typed sum (the q94 oracle pattern): these totals are
        // ~1e10 with 2-decimal rounding, where double summation ORDER
        // decides the last digit — r12's multi-split scans changed the
        // partial-sum order and flipped two brands at the .005 boundary.
        // Exact decimal accumulation is order-free in both engines.
        .agg(round(sum(col("cal").cast("decimal(18,6)")).cast("double"), 2)
          .as("cal_total"), count(lit(1)).as("n"))
    }, oracle =
      """SELECT p_brand,
                round(CAST(sum(CAST(p_retailprice*0.01 + 1.05*l_extendedprice
                  AS DECIMAL(18,6))) AS DOUBLE),2) AS cal_total,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand"""),

    // Q7 — as-of alignment of two series to a common grid (J3).
    Query("q07_asof_align", (s, d) => {
      val e = Tables.events(s, d)
      AsOfAlign.bucketAlign(
        e.where(col("event_type") === "click"), col("ts"), col("value"),
        e.where(col("event_type") === "purchase"), col("ts"), col("value"),
        900)
    }, oracle =
      s"""WITH a AS (SELECT (${eSq("ts")})//900*900 AS bucket_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_a, count(*) AS n_a
                 FROM events WHERE event_type = 'click' GROUP BY 1),
          b AS (SELECT (${eSq("ts")})//900*900 AS bucket_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_b, count(*) AS n_b
                 FROM events WHERE event_type = 'purchase' GROUP BY 1)
          SELECT bucket_ts, avg_a, n_a, avg_b, n_b FROM a JOIN b USING (bucket_ts)"""),

    // Q8 — latest row per key (W1).
    Query("q08_latest_per_key", (s, d) => {
      WindowOps.latestPerKey(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), eUs(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
    }, oracle =
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) = 1"""),

    // Q9 — run-length static-value detection (P5/W3).
    Query("q09_run_length", (s, d) => {
      WindowOps.runLengths(Tables.events(s, d), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), col("event_type"), 3)
        .select(col("user_id"), col("event_type"), col("run_len"),
          eS(col("run_start")).as("run_start"))
    }, oracle =
      s"""WITH t AS (SELECT user_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
          FROM events)
          SELECT user_id, event_type, count(*) AS run_len,
                 ${eSq("min(ts)")} AS run_start
          FROM t GROUP BY user_id, event_type, grp HAVING count(*) >= 3"""),

    // Q10 — last-non-null forward fill (W2).
    Query("q10_backfill", (s, d) => {
      val masked = Tables.events(s, d).withColumn("masked",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      WindowOps.backfill(masked, Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), col("masked"), "filled")
        .select(col("user_id"), col("event_id"), col("filled"))
    }, oracle =
      """SELECT user_id, event_id,
                last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM events"""),

    // Q11 — cadence/interval estimation (A11/W4).
    Query("q11_interval_estimate", (s, d) => {
      WindowOps.intervalEstimate(Tables.events(s, d), col("user_id"),
        col("ts"), 1, 86400, Seq(col("event_id")))
    }, oracle =
      """WITH dd AS (SELECT user_id,
            (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id))/1e6 AS diff_s
          FROM events)
         SELECT user_id,
                CAST(round(CAST(avg(diff_s) AS DECIMAL(28,12)),4) AS DOUBLE) AS mean_interval,
                CAST(round(CAST(avg(diff_s) + 2*stddev_samp(diff_s) AS DECIMAL(28,12)),4) AS DOUBLE) AS interval_2sig,
                count(*) AS n_diffs
         FROM dd WHERE diff_s BETWEEN 1 AND 86400 GROUP BY user_id"""),

    // Q12 — half-overlapping sliding windows (A5/W5). SUM not mean: a
    // window of 2^k two-decimal values averages onto an exact 5th-decimal
    // half where engine summation order decides the rounding (failed at
    // sf0.001 with n=8); the sum stays on the value grid.
    Query("q12_sliding_windows", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), window(col("ts"), "1 day", "12 hours"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(col("user_id"), eS(col("window.start")).as("win_start"),
          col("n"), col("sum_v"))
    }, oracle =
      """SELECT user_id, (epoch_us(ts)//43200000000 - o) * 43200 AS win_start,
                count(*) AS n, round(sum(value),2) AS sum_v
         FROM events CROSS JOIN (SELECT unnest([0,1]) AS o)
         GROUP BY user_id, win_start"""),

    // Q13 — mode / top-1 by frequency (P6): stuck-sensor report needs a
    // discretized value (raw doubles are all-distinct).
    Query("q13_mode_top1", (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("v", floor(col("value")).cast("long"))
      WindowOps.modeTop1(e, Seq(col("user_id")), col("v"), 2)
        .select(col("user_id"), col("v"), col("cnt"))
    }, oracle =
      """SELECT user_id, v, cnt FROM (
           SELECT user_id, CAST(floor(value) AS BIGINT) AS v, count(*) AS cnt
           FROM events GROUP BY user_id, v HAVING count(*) > 2)
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY cnt DESC, v ASC) = 1"""),

    // Q14 — dead-key gap detection (A12).
    Query("q14_dead_keys", (s, d) => {
      WindowOps.deadKeys(Tables.events(s, d), col("user_id"), col("ts"), 3600)
    }, oracle =
      s"""WITH ls AS (SELECT user_id, max(${eSq("ts")}) AS last_seen
          FROM events GROUP BY user_id)
          SELECT user_id, last_seen,
                 (SELECT max(last_seen) FROM ls) - last_seen AS gap_s
          FROM ls WHERE (SELECT max(last_seen) FROM ls) - last_seen > 3600"""),

    // Q15 — dedup on key (U1): deterministic first-by-(ts,id) per key.
    Query("q15_dedup_keys", (s, d) => {
      WindowOps.latestPerKey(Tables.events(s, d),
          Seq(col("user_id"), col("event_type")),
          Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }, oracle =
      """SELECT user_id, event_type, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts ASC, event_id ASC) = 1"""),

    // Q16 — union + distinct (U2/U3).
    Query("q16_union_distinct", (s, d) => {
      val e = Tables.events(s, d)
      e.where(col("event_type") === "click").select(col("user_id"), col("event_type"))
        .unionByName(e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_type")))
        .distinct()
    }, oracle =
      """SELECT DISTINCT user_id, event_type FROM (
           SELECT user_id, event_type FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, event_type FROM events WHERE event_type = 'purchase')"""),

    // Q17 — long→wide pivot (V1), fixed vocabulary.
    Query("q17_pivot", (s, d) => {
      Tables.events(s, d)
        .groupBy(eS(date_trunc("day", col("ts"))).as("day_ts"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 2))
    }, oracle =
      """SELECT epoch_us(date_trunc('day', ts))//1000000 AS day_ts,
                round(sum(value) FILTER (WHERE event_type='click'),2) AS click,
                round(sum(value) FILTER (WHERE event_type='error'),2) AS error,
                round(sum(value) FILTER (WHERE event_type='purchase'),2) AS purchase,
                round(sum(value) FILTER (WHERE event_type='signup'),2) AS signup,
                round(sum(value) FILTER (WHERE event_type='view'),2) AS view
         FROM events GROUP BY 1"""),

    // Q18 — wide→long melt (V2) via Dataset.unpivot.
    Query("q18_melt", (s, d) => {
      Tables.lineitem(s, d).unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "field", "val")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS field, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"""),

    // Q19 — top-N with deterministic ties (W6).
    Query("q19_topn", (s, d) => {
      Tables.events(s, d).orderBy(col("value").desc, col("event_id").asc)
        .limit(100).select(col("event_id"), col("user_id"), col("value"))
    }, oracle =
      """SELECT event_id, user_id, value FROM events
         ORDER BY value DESC, event_id ASC LIMIT 100"""),

    // Q21 — full-outer metadata diff (J7).
    Query("q21_outer_diff", (s, d) => {
      val c = Tables.customer(s, d)
      val a = c.where(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("bal_a"))
      val b = c.where(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 5)
            .otherwise(col("c_acctbal")).as("bal_b"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .where(!(col("bal_a") <=> col("bal_b")))
    }, oracle =
      """WITH a AS (SELECT c_custkey, c_acctbal AS bal_a FROM customer
                    WHERE c_custkey % 3 != 0),
              b AS (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 5
                           ELSE c_acctbal END AS bal_b
                    FROM customer WHERE c_custkey % 5 != 0)
         SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey, bal_a, bal_b
         FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
         WHERE bal_a IS DISTINCT FROM bal_b"""),

    // Q22 — per-key linear fit, closed form (A8 order 1).
    Query("q22_linear_fit", (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x", eUs(col("ts")) / 1e6 - 1704067200L)
      RegressionOps.linearFit(e, col("user_id"), col("x"), col("value"), 86400)
    }, oracle =
      """WITH t AS (SELECT user_id, epoch_us(ts)/1e6 - 1704067200 AS x,
                           value AS y FROM events)
         SELECT user_id, count(*) AS n,
                round(covar_samp(x,y)/var_samp(x)*86400,4) AS slope,
                round(avg(y) - covar_samp(x,y)/var_samp(x)*avg(x),4) AS intercept,
                round(pow(corr(x,y),2),4) AS r2
         FROM t GROUP BY user_id"""),

    // Q23 — z-score outliers (A4 single pass).
    Query("q23_zscore_outliers", (s, d) => {
      Outliers.zscoreOutliers(Tables.events(s, d), col("user_id"),
          col("value"), 2.5)
        .select(col("user_id"), col("event_id"), round(col("z"), 4).as("z"))
    }, oracle =
      """WITH s AS (SELECT user_id AS k, avg(value) AS mu,
                           stddev_samp(value) AS sigma
                    FROM events GROUP BY user_id)
         SELECT user_id, event_id, round((value-mu)/sigma,4) AS z
         FROM events JOIN s ON user_id = k
         WHERE abs((value-mu)/sigma) > 2.5"""),

    // Q24 — scalar function library (F5 haversine, F7 AQI, F8 LKI, F10
    // AQHI, F12 dew point) as one wide projection.
    Query("q24_scalar_functions", (s, d) => {
      // __rh staged as an attribute: dewPoint references rh 3× and the
      // regexp_extract would be inlined (and re-run) per reference
      val k = regexp_extract(col("props"), "([0-9]+)", 1).cast("int")
      val temp = col("value") / 10
      Tables.events(s, d)
        .withColumn("__rh", least(greatest(k, lit(1)), lit(99)).cast("double"))
        .select(
        col("event_id"),
        round(Calibration.dewPoint(temp, col("__rh")), 4).as("dewp"),
        round(AirQuality.aqiPm25.column(col("value")), 4).as("aqi"),
        round(AirQuality.lkiPm25.column(col("value")), 4).as("lki"),
        AirQuality.aqhi(col("value"), col("value") / 2, col("value") / 4).as("aqhi_v"),
        round(GeoFunctions.haversineKm(
          lit(52.0) + (col("user_id") % 10).cast("double") * 0.5,
          lit(4.0) + (col("user_id") % 20).cast("double") * 0.5,
          lit(52.37), lit(4.89)), 4).as("dist_km"))
    }, oracle = {
      // TRY_CAST: Spark's cast-to-int yields null on a non-numeric extract;
      // DuckDB's CAST would error instead (ADVICE r1) — TRY_CAST agrees.
      val rh = "least(greatest(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INT), 1), 99)::DOUBLE"
      val temp = "(value/10)"
      val lat1 = s"(52.0 + (user_id % 10)::DOUBLE * 0.5)"
      val lon1 = s"(4.0 + (user_id % 20)::DOUBLE * 0.5)"
      val hav = s"2*6371000*asin(sqrt(pow(sin(radians(52.37-$lat1)/2),2) + " +
        s"cos(radians($lat1))*cos(radians(52.37))*pow(sin(radians(4.89-$lon1)/2),2)))/1000.0"
      s"""SELECT event_id,
             round(${Calibration.dewPointSql(temp, rh)}, 4) AS dewp,
             round(${AirQuality.aqiPm25.sqlCase("value")}, 4) AS aqi,
             round(${AirQuality.lkiPm25.sqlCase("value")}, 4) AS lki,
             ${AirQuality.aqhiSql("value", "(value/2)", "(value/4)")} AS aqhi_v,
             round($hav, 4) AS dist_km
          FROM events"""
    }),

    // Q37 — recursive Grubbs envelope per key (A4): oracle is a DuckDB
    // recursive CTE (its oracle below) with the Student-t critical table
    // interpolated from the same Stats.grubbsCritical the engine runs;
    // exactness also covered by GrubbsSpec against published t-tables.
    Query("q37_grubbs", (s, d) =>
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(Grubbs.grubbs(col("value")).as("g"))
        .select(col("user_id"), round(col("g.lo"), 4).as("lo"),
          round(col("g.hi"), 4).as("hi"),
          col("g.nKept").as("n_kept"), col("g.nRemoved").as("n_removed")), oracle =
      (grubbsIterSql("user_id",
        """SELECT user_id, list_sort(list(value)) AS vals, count(*) AS n0
           FROM events GROUP BY user_id""") +
        """
        SELECT user_id, round(vals[1], 4) AS lo,
               round(vals[len(vals)], 4) AS hi,
               len(vals) AS n_kept, n0 - len(vals) AS n_removed
        FROM iter
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY len(vals)) = 1""")),

    // Q39 — borrow-from-neighbour gap fill (J5, Get_data.pl:1117-1159
    // findElsewhere): a primary station's missing hour is taken from the
    // first neighbour (priority order) that has the hour.
    Query("q39_borrow_neighbour", (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("user_id"), eS(date_trunc("hour", col("ts"))).as("hour_ts"))
        .agg(Resample.roundStable(avg(col("value")), 4).as("v"))
      val p = hourly.where(col("user_id") < 50)
        .withColumn("v_self", // deterministic gap injection
          when((col("user_id") + col("hour_ts") / 3600) % 5 === 0, lit(null))
            .otherwise(col("v")))
      val n1 = hourly.select((col("user_id") - 50).as("u1"),
        col("hour_ts").as("h1"), col("v").as("v_n1"))
      val n2 = hourly.select((col("user_id") - 100).as("u2"),
        col("hour_ts").as("h2"), col("v").as("v_n2"))
      p.join(n1, col("user_id") === col("u1") && col("hour_ts") === col("h1"), "left")
        .join(n2, col("user_id") === col("u2") && col("hour_ts") === col("h2"), "left")
        .select(col("user_id"), col("hour_ts"),
          coalesce(col("v_self"), col("v_n1"), col("v_n2")).as("filled"),
          when(col("v_self").isNotNull, "self")
            .when(col("v_n1").isNotNull, "n1")
            .when(col("v_n2").isNotNull, "n2").as("src"))
    }, oracle =
      """WITH hourly AS (SELECT user_id,
              epoch_us(date_trunc('hour', ts))//1000000 AS hour_ts,
              CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
          p AS (SELECT user_id, hour_ts,
              CASE WHEN (user_id + hour_ts/3600) % 5 = 0 THEN NULL ELSE v END AS v_self
              FROM hourly WHERE user_id < 50)
          SELECT p.user_id, p.hour_ts,
                 coalesce(p.v_self, n1.v, n2.v) AS filled,
                 CASE WHEN p.v_self IS NOT NULL THEN 'self'
                      WHEN n1.v IS NOT NULL THEN 'n1'
                      WHEN n2.v IS NOT NULL THEN 'n2' END AS src
          FROM p
          LEFT JOIN hourly n1 ON n1.user_id = p.user_id + 50 AND n1.hour_ts = p.hour_ts
          LEFT JOIN hourly n2 ON n2.user_id = p.user_id + 100 AND n2.hour_ts = p.hour_ts"""),

    // Q40 — IQR-trimmed mean per key (A7, RPi/MyThreading.py:122-175:
    // keep [Q1−1.5·IQR, Q1+1.5·IQR] — the reference's asymmetric upper
    // bound uses Q1, not Q3).
    Query("q40_iqr_trimmed", (s, d) => {
      val e = Tables.events(s, d)
      val q = e.groupBy(col("user_id").as("__k")).agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      // Bounds widened by 1e-6: source values sit on a 0.01 grid and the
      // interpolated bounds on a 0.0025 grid, so a value can lie EXACTLY
      // on a bound — where a 1-ulp engine difference in the quantile
      // flips membership. The epsilon is >> ulp noise and << the grid.
      e.join(q, col("user_id") === col("__k"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5 - 1e-6)
        .withColumn("hi", col("q1") + (col("q3") - col("q1")) * 1.5 + 1e-6)
        .groupBy(col("user_id"))
        // SUM, not mean: the mean of 2-decimal values lands on exact
        // 4-decimal halves (e.g. 2148.37/56 = 38.36375) where engine
        // summation order decides the rounding — irreducibly unstable.
        // The sum of 2-decimal values never sits on a 4-decimal half;
        // consumers derive the mean as trimmed_sum / n_kept.
        .agg(sum(when(col("value").between(col("lo"), col("hi")),
          col("value"))).as("trimmed_sum"),
          count(when(col("value").between(col("lo"), col("hi")), 1)).as("n_kept"),
          count(lit(1)).as("n_total"))
    }, oracle =
      """WITH q AS (SELECT user_id AS k,
              quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
              FROM events GROUP BY 1),
          j AS (SELECT user_id, value,
              q1 - (q3 - q1) * 1.5 - 1e-6 AS lo, q1 + (q3 - q1) * 1.5 + 1e-6 AS hi
              FROM events JOIN q ON user_id = k)
          SELECT user_id,
                 sum(CASE WHEN value BETWEEN lo AND hi THEN value END)
                   AS trimmed_sum,
                 count(CASE WHEN value BETWEEN lo AND hi THEN 1 END) AS n_kept,
                 count(*) AS n_total
          FROM j GROUP BY user_id"""),

    // Q41 — Gaussian-kernel weighted moving average (A14,
    // grubbs.py:1039-1075): ±2-row kernel, edge-normalized.
    Query("q41_kernel_smooth", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val weights = Seq(-2, -1, 0, 1, 2)
        .map(i => i -> math.exp(-i * i / 2.0))
      val num = weights.map { case (i, wt) =>
        when(lag(col("value"), i).over(w).isNotNull,
          lag(col("value"), i).over(w) * wt).otherwise(0.0) }.reduce(_ + _)
      val den = weights.map { case (i, wt) =>
        when(lag(col("value"), i).over(w).isNotNull, wt).otherwise(0.0) }.reduce(_ + _)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), (num / den).as("smoothed"))
    }, oracle = {
      // Weights emitted from the SAME Scala doubles as the Spark plan —
      // a SQL-side exp() could differ in the last ulp.
      val weights = Seq(-2, -1, 0, 1, 2).map(i => i -> math.exp(-i * i / 2.0))
      def lagSql(i: Int) =
        if (i < 0) s"lead(value, ${-i}) OVER w"
        else if (i > 0) s"lag(value, $i) OVER w"
        else "value"
      val num = weights.map { case (i, wt) =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${lagSql(i)} * $wt ELSE 0.0 END)"
      }.mkString(" + ")
      val den = weights.map { case (i, wt) =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      s"""SELECT user_id, event_id, ($num) / ($den) AS smoothed
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
    }),

    // Q42 — scalar library II: Taylor/Horner calibration + PM clamp (F1),
    // Joost and RIVM humidity corrections (F13/F14), µg/m³→ppb (F3),
    // Pa→hPa, the +1 h pre-epoch-1515547638 tz repair (F16), lossy
    // address normalization (F17), per-field rounding (F18).
    Query("q42_scalar_lib2", (s, d) => {
      val temp = col("value") / 10
      val rh = (col("user_id") % 101).cast("double")
      val pm = col("value") / 5
      Tables.events(s, d).select(
        col("event_id"),
        round(Calibration.taylor(pm, Seq(-2.163, 1.308)), 4).as("cal_lin"),
        round(Calibration.taylorPm(pm, Seq(-20.0, 0.5)), 4).as("cal_pm_clamped"),
        round(Calibration.joostPm25(pm, rh / 100), 4).as("joost25"),
        round(Calibration.rivmRhCorrection(pm, rh), 4).as("rivm_pm"),
        round(Calibration.ugm3ToPpb(pm, "no2", temp, lit(1013.25)), 4).as("no2_ppb"),
        Calibration.paToHPa(col("value") * 100).as("hpa"),
        Calibration.tzRepair(eS(col("ts"))).as("ts_repaired"),
        lower(regexp_replace(regexp_replace(col("props"), "\\s+", " "),
          "straat", "str")).as("addr_norm"),
        // F18 per-field decimals: Spark round() needs a foldable scale, so
        // the dimension lookup becomes a branch per distinct scale.
        when(col("event_type") === "click", round(col("value"), 1))
          .otherwise(round(col("value"), 3)).as("v_rounded"))
    }, oracle = {
      val temp = "(value/10)"
      val rh = "CAST(user_id % 101 AS DOUBLE)"
      val pm = "(value/5)"
      // Horner order mirrors Calibration.taylor: ((0·x + a_n)·x + …) + a0
      val lin = s"((0.0 * $pm + 1.308) * $pm + -2.163)"
      val pmClamped = s"greatest(((0.0 * $pm + 0.5) * $pm + -20.0), 0.01)"
      val rhJ = s"least(greatest($rh/100, 0.0), 100.0)"
      val fJ = s"(3.9 * pow($rhJ, -0.409))"
      val rhC = s"least(greatest($rh, 1.0), 99.0)"
      s"""SELECT event_id,
             round($lin, 4) AS cal_lin,
             round($pmClamped, 4) AS cal_pm_clamped,
             round(CASE WHEN $fJ BETWEEN 0.0 AND 1.0 THEN $pm * $fJ END, 4) AS joost25,
             round($pm * 4.65 * pow(100.0 - $rhC, -0.65), 4) AS rivm_pm,
             round($pm * ((273.15 + $temp) / 12.187) * (1013.25/1013.25) / 46.0055, 4)
               AS no2_ppb,
             (value * 100) * 0.01 AS hpa,
             CASE WHEN epoch_us(ts)//1000000 <= 1515547638
                  THEN epoch_us(ts)//1000000 + 3600
                  ELSE epoch_us(ts)//1000000 END AS ts_repaired,
             lower(regexp_replace(regexp_replace(props, '\\s+', ' ', 'g'),
               'straat', 'str', 'g')) AS addr_norm,
             round(value, CASE WHEN event_type = 'click' THEN 1 ELSE 3 END)
               AS v_rounded
          FROM events"""
    }),

    // Q43 — field-presence census (A15, ReportFailingSensors.sh:527-539):
    // non-null count per column, melted to (field, n_nonnull).
    Query("q43_presence_census", (s, d) => {
      val e = Tables.events(s, d).withColumn("masked_props",
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("props")))
      val cols = Seq("event_id", "user_id", "value", "masked_props")
      e.agg(count(col(cols.head)).as(cols.head),
          cols.tail.map(c => count(col(c)).as(c)): _*)
        .unpivot(Array.empty[Column],
          cols.map(col).toArray, "field", "n_nonnull")
    }, oracle =
      """SELECT 'event_id' AS field, count(event_id) AS n_nonnull FROM events
         UNION ALL SELECT 'user_id', count(user_id) FROM events
         UNION ALL SELECT 'value', count(value) FROM events
         UNION ALL SELECT 'masked_props',
           count(CASE WHEN event_id % 3 = 0 THEN NULL ELSE props END) FROM events"""),

    // Q44 — per-year normalisation factor (F15, Get_data.pl:953-1020):
    // factor dimension keyed by year, multiply-through, re-aggregate.
    Query("q44_year_norm", (s, d) => {
      val o = Tables.orders(s, d).withColumn("y", year(col("o_orderdate")))
      val factors = o.select(col("y")).distinct()
        .withColumn("f", lit(1.0) + (col("y") % 3) * 0.05)
      o.join(broadcast(factors), "y")
        .groupBy(col("y"))
        // decimal-typed sum — same order-sensitivity fix as q06
        .agg(round(sum((col("o_totalprice") * col("f"))
            .cast("decimal(18,6)")).cast("double"), 2).as("norm_revenue"),
          count(lit(1)).as("n"))
    }, oracle =
      """WITH o AS (SELECT year(o_orderdate) AS y, o_totalprice FROM orders),
          f AS (SELECT DISTINCT y, 1.0 + (y % 3) * 0.05 AS f FROM o)
          SELECT y, round(CAST(sum(CAST(o_totalprice * f AS DECIMAL(18,6)))
                   AS DOUBLE),2) AS norm_revenue,
                 count(*) AS n
          FROM o JOIN f USING (y) GROUP BY y"""),

    // Q45 — in-repair invalidation + PM-zero repair (P10
    // FilterShow.py:400-415, D6 MyDatacollector.py:845-852): tri-state
    // _valid (true/false/null-in-repair) and the 0.013 NaN-compression
    // repair for masked PM with a positive particle count.
    Query("q45_repair_invalidate", (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("pm", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("value")))
        .withColumn("cnt", (col("event_id") % 3).cast("int"))
      val inRepair = (col("user_id") % 4 === 0) &&
        dayofmonth(col("ts")).between(10, 12)
      e.select(col("event_id"),
        when(inRepair, lit(null).cast("boolean"))
          .otherwise(col("pm").isNotNull && col("pm") > 0).as("pm_valid"),
        when(col("pm").isNull && col("cnt") > 0, 0.013)
          .otherwise(col("pm")).as("pm_repaired"))
    }, oracle =
      """WITH t AS (SELECT event_id, user_id, ts,
              CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS pm,
              CAST(event_id % 3 AS INT) AS cnt FROM events)
         SELECT event_id,
                CASE WHEN user_id % 4 = 0 AND day(ts) BETWEEN 10 AND 12 THEN NULL
                     ELSE (pm IS NOT NULL AND pm > 0) END AS pm_valid,
                CASE WHEN pm IS NULL AND cnt > 0 THEN 0.013 ELSE pm END AS pm_repaired
         FROM t"""),

    // Q47 — two-feature OLS summary per event_type (A9): params, R² and
    // t-values via the covariance normal equations, one aggregate pass.
    Query("q47_multi_ols", (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x1", (eUs(col("ts")) / 1e6 - 1704067200L) / 86400)
        .withColumn("x2", (col("user_id") % 101).cast("double") / 10)
      RegressionOps.multiOls(e, col("event_type"), col("x1"), col("x2"),
        col("value"))
    }, oracle =
      """WITH t AS (SELECT event_type,
              (epoch_us(ts)/1e6 - 1704067200) / 86400 AS x1,
              CAST(user_id % 101 AS DOUBLE) / 10 AS x2,
              value AS y FROM events),
          a AS (SELECT event_type, count(*) AS n,
              avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
              var_samp(x1) AS s11, var_samp(x2) AS s22,
              covar_samp(x1, x2) AS s12,
              covar_samp(x1, y) AS sy1, covar_samp(x2, y) AS sy2,
              var_samp(y) AS syy
              FROM t GROUP BY event_type),
          b AS (SELECT *,
              (sy1*s22 - sy2*s12) / (s11*s22 - s12*s12) AS b1,
              (sy2*s11 - sy1*s12) / (s11*s22 - s12*s12) AS b2
              FROM a),
          c AS (SELECT *,
              (b1*sy1 + b2*sy2) / syy AS r2,
              s12*s12 / (s11*s22) AS r12sq
              FROM b),
          d AS (SELECT *,
              syy * (1.0 - r2) * (n - 1) / (n - 3) AS sigma2
              FROM c)
          SELECT event_type, n,
                 round(my - b1*m1 - b2*m2, 4) AS b0,
                 round(b1, 4) AS b1, round(b2, 4) AS b2,
                 round(r2, 4) AS r2,
                 round(b1 / sqrt(sigma2 / ((n-1) * s11 * (1.0 - r12sq))), 4) AS t1,
                 round(b2 / sqrt(sigma2 / ((n-1) * s22 * (1.0 - r12sq))), 4) AS t2
          FROM d"""),

    // Q48 — salted two-stage aggregation (skew handling): identical
    // result to the direct groupBy, verified by the unsalted oracle.
    // event_type is low-cardinality (5 keys over 32 reducers = the skew
    // shape); the salt spreads each key over 16 buckets.
    Query("q48_salted_agg", (s, d) =>
      Skew.saltedSumCount(Tables.events(s, d), col("event_type"),
          col("event_id"), col("value"), 16)
        .select(col("k"), round(col("sum_v"), 2).as("sum_v"), col("n")), oracle =
      // The oracle is deliberately UNSALTED — the salted two-stage plan
      // must be observationally identical to the direct group-by.
      """SELECT event_type AS k, round(sum(value), 2) AS sum_v,
                count(value) AS n
         FROM events GROUP BY event_type"""),

    // Q50 — archive long/wide model round-trip (SURVEY §1.4): a wide
    // frame with tri-state _valid companions → long (field,value,valid)
    // rows → pivoted back must equal the original wide frame. The
    // oracle is the direct wide projection (identity).
    Query("q50_archive_model", (s, d) => {
      val wide = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        (col("value") / 10).as("temp"),
        when(col("event_id") % 13 === 0, lit(null).cast("boolean"))
          .otherwise(col("event_id") % 7 =!= 0).as("temp_valid"),
        (col("user_id") % 101).cast("double").as("rv"),
        lit(true).as("rv_valid"))
      val long = ArchiveModel.toLong(wide,
        Seq(col("user_id")), col("event_id"), Seq("temp", "rv"))
      ArchiveModel.toWide(long, Seq(col("user_id")), Seq("temp", "rv"))
        .select(col("user_id"), col("datum").as("event_id"),
          col("temp"), col("temp_valid"), col("rv"), col("rv_valid"))
    }, oracle =
      // identity: long→wide must reproduce the original wide projection
      """SELECT user_id, event_id, value/10 AS temp,
                CASE WHEN event_id % 13 = 0 THEN NULL
                     ELSE event_id % 7 != 0 END AS temp_valid,
                CAST(user_id % 101 AS DOUBLE) AS rv,
                true AS rv_valid
         FROM events"""),

    // Q51 — CAQI family + combined indices (F9/F11): per-pollutant CAQI,
    // the maxCAQI +50 bump, and the AQI cumulative-effect max-index.
    Query("q51_aqi_combined", (s, d) => {
      // Staged selects (the q31 tokenize-once pattern): each piecewise
      // chain is a large when-tree that maxCaqi/maxIndex reference
      // several times — materialize them as attributes first so
      // CollapseProject doesn't inline each chain per reference.
      val pm25 = col("value") / 4
      val pm10 = col("value") / 2
      Tables.events(s, d).select(col("event_id"),
          AirQuality.caqiPm25.column(pm25).as("caqi_pm25"),
          AirQuality.caqiPm10.column(pm10).as("caqi_pm10"),
          AirQuality.aqiPm25.column(pm25).as("__a25"),
          AirQuality.aqiPm10.column(pm10).as("__a10"))
        .select(col("event_id"), col("caqi_pm25"), col("caqi_pm10"),
          AirQuality.maxCaqi(col("caqi_pm25"), col("caqi_pm10")).as("caqi_max"),
          AirQuality.maxIndex(col("__a25"), col("__a10")).as("aqi_max"))
    }, oracle = {
      val c25 = AirQuality.caqiPm25.sqlCase("(value/4)")
      val c10 = AirQuality.caqiPm10.sqlCase("(value/2)")
      val a25 = AirQuality.aqiPm25.sqlCase("(value/4)")
      val a10 = AirQuality.aqiPm10.sqlCase("(value/2)")
      s"""SELECT event_id,
             $c25 AS caqi_pm25, $c10 AS caqi_pm10,
             ${AirQuality.maxCaqiSql(Seq(c25, c10))} AS caqi_max,
             ${AirQuality.maxIndexSql(Seq(a25, a10))} AS aqi_max
          FROM events"""
    }),

    // Q52 — min-max and z-score normalisation per key (A10), raw doubles.
    Query("q52_normalize", (s, d) => {
      val e = Tables.events(s, d)
      val mm = RegressionOps.minMaxNorm(e, col("user_id"), col("value"), "mm")
      RegressionOps.zNorm(mm, col("user_id"), col("value"), "z")
        .select(col("event_id"), col("mm"), col("z"))
    }, oracle =
      """SELECT event_id,
                (value - min(value) OVER w) / (max(value) OVER w - min(value) OVER w)
                  AS mm,
                (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
         FROM events
         WINDOW w AS (PARTITION BY user_id)"""),

    // Q53 — exact ±tol as-of alignment (J3's literal pickValue
    // semantics) via a banded range join on integer microseconds.
    Query("q53_tolerance_align", (s, d) => {
      val e = Tables.events(s, d)
      AsOfAlign.toleranceAlign(
        e.where(col("event_type") === "click"), col("event_id"), col("ts"),
        col("value"),
        e.where(col("event_type") === "purchase"), col("ts"), col("value"),
        450)
    }, oracle =
      """SELECT l.event_id AS l_id, epoch_us(l.ts) AS l_us, l.value AS l_v,
                CAST(round(CAST(avg(r.value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_r, count(*) AS n_match
         FROM events l JOIN events r
           ON l.event_type = 'click' AND r.event_type = 'purchase'
          AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 450000000
         GROUP BY 1, 2, 3"""),

    // Q54 — the SAME alignment written as a naive abs(Δt) ≤ tol theta-
    // join: BandedIntervalJoinRule rewrites the nested-loop plan into
    // the banded equi-join at optimization time. Same oracle as q53 —
    // the rewrite must be invisible in the results.
    Query("q54_banded_rule_align", (s, d) => {
      // defensively ensure the rule on driver-foreign sessions; append,
      // never clobber pre-existing extra optimizations (idempotent)
      if (!s.experimental.extraOptimizations.contains(graft.plans.BandedIntervalJoinRule))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.BandedIntervalJoinRule
      val e = Tables.events(s, d)
      val l = e.where(col("event_type") === "click").select(
        col("event_id").as("l_id"),
        unix_micros(col("ts").cast("timestamp")).as("l_us"),
        col("value").as("l_v"))
      val r = e.where(col("event_type") === "purchase").select(
        unix_micros(col("ts").cast("timestamp")).as("r_us"),
        col("value").as("r_v"))
      l.join(r, abs(col("l_us") - col("r_us")) <= lit(450000000L))
        .groupBy(col("l_id"), col("l_us"), col("l_v"))
        .agg(Resample.roundStable(avg(col("r_v")), 4).as("avg_r"),
          count(lit(1)).as("n_match"))
    }, oracle =
      """SELECT l.event_id AS l_id, epoch_us(l.ts) AS l_us, l.value AS l_v,
                CAST(round(CAST(avg(r.value) AS DECIMAL(18,6)),4) AS DOUBLE) AS avg_r, count(*) AS n_match
         FROM events l JOIN events r
           ON l.event_type = 'click' AND r.event_type = 'purchase'
          AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 450000000
         GROUP BY 1, 2, 3"""),

    // Q57 — JSON series serialization (F19): the HighCharts-style
    // [[epoch, value], …] per-key series string
    // (visualisation/ChartsPM.pl:1171-1238). Lexicographic [t, v] pair
    // sort keeps the aggregation order-deterministic; both engines
    // render compact JSON.
    Query("q57_json_series", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(array(
          eS(col("ts")), floor(col("value")).cast("long")))).as("series"))
        .select(col("user_id"), to_json(col("series")).as("series_json")), oracle =
      """SELECT user_id,
                to_json(list(
                  ARRAY[epoch_us(ts)//1000000, CAST(floor(value) AS BIGINT)]
                  ORDER BY epoch_us(ts)//1000000, CAST(floor(value) AS BIGINT)))
                  AS series_json
         FROM events GROUP BY user_id"""),

    // Q58 — sliding-window Grubbs sweep (A5): half-overlapping windows,
    // recursive test per (key, window). Oracle: same recursive CTE as
    // q37 seeded per (key, window); exactness also via GrubbsSpec.
    Query("q58_grubbs_sweep", (s, d) =>
      Outliers.grubbsSweep(Tables.events(s, d), col("user_id"),
          col("ts"), col("value"), 7 * 86400)
        .select(col("user_id"), col("win_start"),
          round(col("keep_lo"), 4).as("keep_lo"),
          round(col("keep_hi"), 4).as("keep_hi")), oracle =
      // Half-overlapping epoch-aligned windows (width 7 d, stride 3.5 d):
      // every event lands in exactly the two windows starting at
      // (floor(epoch/stride) − k)·stride, k ∈ {0,1} — the same assignment
      // Spark's window(ts, w, w/2) makes (nested-floor property makes the
      // seconds-level floor equal the microsecond-level one).
      (grubbsIterSql("user_id, win_start",
        """SELECT user_id, win_start, list_sort(list(value)) AS vals,
                  count(*) AS n0
           FROM (SELECT user_id, value,
                   (epoch_us(ts)//1000000 // 302400 - k.k) * 302400
                     AS win_start
                 FROM events, (VALUES (0), (1)) k(k))
           GROUP BY user_id, win_start""") +
        """
        SELECT user_id, win_start, round(vals[1], 4) AS keep_lo,
               round(vals[len(vals)], 4) AS keep_hi
        FROM iter
        QUALIFY row_number() OVER (PARTITION BY user_id, win_start
                                   ORDER BY len(vals)) = 1""")),

    // Q61 — order-3 polynomial fit per key (A8 full): the general
    // np.polyfit(x, y, order) via power-sum aggregation + Cramer solve,
    // one aggregate pass. x scaled to [-1,1] (30-day window mid-point)
    // for a well-conditioned moment matrix — the same scaling any
    // production fit over epoch time needs.
    Query("q61_polyfit", (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("x", (eUs(col("ts")) / 1e6 - 1705363200L) / 1296000.0)
      RegressionOps.polyFit(e, col("event_type"), col("x"), col("value"), 3)
    }, oracle = RegressionOps.polyFitSql(
      """SELECT event_type AS k,
                (epoch_us(ts)/1e6 - 1705363200) / 1296000.0 AS x,
                value AS y FROM events""", 3)),

    // Q67 — the forecast.pl assembly (scripts/forecast.pl): hourly AQI
    // forecast per location, zero-filled gaps, closed-form AQI→PM2.5
    // inverse, LKI presentation index (1-dec half-up) + colour/quality
    // classes, emitted as per-location JSON series arrays. user_id % 5
    // plays the location key.
    Query("q67_forecast_series", (s, d) =>
      Forecast.assemble(Tables.events(s, d),
        col("user_id") % 5, col("ts"), col("value")), oracle =
      // Staged CTEs mirror Forecast.assemble stage by stage; every scalar is
      // rendered from the same PiecewiseTable / classify definitions as the
      // Spark plan (inverseSql / sqlCase / classifySql twins).
      s"""WITH hourly AS (
            SELECT user_id % 5 AS loc,
                   (epoch_us(ts)//1000000)//3600*3600 AS hr,
                   floor(CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4)
                     AS DOUBLE)) AS aqi
            FROM events GROUP BY 1, 2),
          bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
          spine AS (SELECT loc, hr
                    FROM (SELECT DISTINCT loc FROM hourly),
                         (SELECT unnest(range(lo, hi + 3600, 3600)) AS hr
                          FROM bounds)),
          filled AS (SELECT s.loc, s.hr, coalesce(h.aqi, 0) AS aqi
                     FROM spine s LEFT JOIN hourly h USING (loc, hr)),
          conv AS (SELECT loc, hr,
                     ${AirQuality.aqiPm25.inverseSql("aqi")} AS pm25
                   FROM filled),
          idx AS (SELECT loc, hr, pm25,
                    floor((${AirQuality.lkiPm25.sqlCase("pm25")}) * 10 + 0.5)
                      / 10.0 AS lki
                  FROM conv),
          cls AS (SELECT loc, hr, pm25, lki,
                    ${AirQuality.classifySql("lki",
                      AirQuality.lkiColorIndex, AirQuality.lkiColors)} AS color,
                    ${AirQuality.classifySql("lki",
                      AirQuality.lkiQualityIndex, AirQuality.lkiQuality)} AS qual
                  FROM idx)
          SELECT loc, min(hr) AS start_s, count(*) AS hours,
                 to_json(list(pm25 ORDER BY hr)) AS pm25_json,
                 to_json(list(lki ORDER BY hr)) AS lki_json,
                 to_json(list(color ORDER BY hr)) AS colors_json,
                 to_json(list(qual ORDER BY hr)) AS qual_json,
                 CAST(round(CAST(${Forecast.pm10ToPm25Sql("avg(pm25) * 2")}
                   AS DECIMAL(18,6)), 1) AS DOUBLE) AS pm25_from_pm10
          FROM cls GROUP BY loc"""),

    // Q69 — RRD round-robin archive consolidation (K8, Get_data.pl
    // :498-549): AVERAGE/MIN/MAX × six spans, 785-row retention, xff 0.5.
    // The six archive branches reuse one hourly-PDP exchange.
    Query("q69_rrd_retention", (s, d) =>
      RrdArchive.consolidate(Tables.events(s, d), col("ts"), col("value")), oracle =
      // The RRA grid (span_hours, pdp_per_row) mirrors RrdArchive
      // .referenceRras: pdp_per_row = (span_h + 785) // 785, W = 785 rows.
      """WITH pdp AS (SELECT (epoch_us(ts)//1000000)//3600*3600 AS pdp_ts,
                 CAST(round(CAST(avg(value) AS DECIMAL(18,6)),4) AS DOUBLE)
                   AS pdp_v
            FROM events GROUP BY 1),
          mx AS (SELECT max(pdp_ts) AS max_ts FROM pdp),
          rra(span_h, ppr) AS (VALUES (24, 1), (168, 1), (720, 1),
            (8760, 12), (26280, 34), (52560, 67)),
          cdp AS (SELECT span_h, ppr,
                    (pdp_ts // (ppr*3600)) * (ppr*3600) AS row_ts,
                    CAST(round(CAST(avg(pdp_v) AS DECIMAL(18,6)),4) AS DOUBLE)
                      AS avg_v,
                    min(pdp_v) AS min_v, max(pdp_v) AS max_v,
                    count(*) AS n_pdp
                  FROM pdp, rra, mx
                  WHERE pdp_ts >= ((max_ts // (ppr*3600)) - 784) * (ppr*3600)
                  GROUP BY 1, 2, 3)
          SELECT span_h, cf, row_ts,
                 CASE WHEN n_pdp*2 >= ppr THEN v END AS value, n_pdp
          FROM (SELECT span_h, ppr, row_ts, 'AVERAGE' AS cf, avg_v AS v,
                       n_pdp FROM cdp
                UNION ALL SELECT span_h, ppr, row_ts, 'MIN', min_v, n_pdp
                          FROM cdp
                UNION ALL SELECT span_h, ppr, row_ts, 'MAX', max_v, n_pdp
                          FROM cdp)"""),

    // Q71 — sensor-plugin sliding buffer (S8, MyThreading.py:97-205):
    // last-5-polls buffer per sensor, numpy-interpolated quartiles,
    // asymmetric Q1-based IQR filter, 3-decimal mean, mid-range stamp.
    Query("q71_sensor_buffer", (s, d) =>
      SensorBuffer.slidingAverage(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")),
          eS(col("ts")), col("value"), bufSize = 5)
        .select(col("user_id"), col("event_id"), col("mid_ts"),
          col("n_buf"), col("n_kept"), col("buf_avg")), oracle = {
      // Frame list → sorted → the shared quartile/filter/mean rendering
      // (SensorBuffer.slidingAverageSql) — one definition, two engines.
      val (_, nKept, avg) = SensorBuffer.slidingAverageSql("vals")
      s"""WITH f AS (SELECT user_id, event_id,
                 epoch_us(ts)//1000000 AS t,
                 list_sort(list_filter(list(value) OVER w,
                                       v -> v IS NOT NULL)) AS vals,
                 min(epoch_us(ts)//1000000) OVER w AS t0
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
          SELECT user_id, event_id,
                 CAST(t0 + t AS DOUBLE) / 2 AS mid_ts,
                 CAST(len(vals) AS INT) AS n_buf,
                 CAST($nKept AS INT) AS n_kept,
                 $avg AS buf_avg
          FROM f"""
    }),

    // Q73 — the weather half of forecast.pl (Get_weather_forecast
    // :557-660): a REAL yr.no-document encode→nested-from_json→explode
    // round-trip; start epoch = earliest timeseries time, hour count,
    // per-variable hourly arrays. Oracle computes the same closed-form
    // from events — a hash match proves the JSON leg.
    Query("q73_weather_series", (s, d) =>
      Forecast.weatherSeries(Tables.events(s, d),
        col("user_id") % 5, col("ts"), col("value")), oracle =
      // Closed-form twin of the weather assembly (the engine path goes
      // through a real yr.no JSON encode→parse; the oracle computes the
      // same hourly variables directly).
      """WITH hourly AS (
            SELECT user_id % 5 AS loc,
                   (epoch_us(ts)//1000000)//3600*3600 AS hr,
                   CAST(round(CAST(avg(value)/10 AS DECIMAL(18,6)),1)
                     AS DOUBLE) AS temp,
                   CAST(round(CAST(990.0 + avg(value)/20 AS DECIMAL(18,6)),1)
                     AS DOUBLE) AS pres,
                   CAST(round(CAST(least(avg(value)/5, 100.0)
                     AS DECIMAL(18,6)),1) AS DOUBLE) AS cloud
            FROM events GROUP BY 1, 2)
          SELECT loc, min(hr) AS start_s, count(*) AS hours,
                 to_json(list(temp ORDER BY hr)) AS temp_json,
                 to_json(list(pres ORDER BY hr)) AS pressure_json,
                 to_json(list(cloud ORDER BY hr)) AS cloud_json
          FROM hourly GROUP BY loc"""),

    // Q77 — modified z-score (median/MAD) outliers (A6,
    // grubbs.py:745-756): |x−med| / median(|x−med|) ≥ 3.5 per device.
    // Both engines interpolate medians with the same lo+(hi−lo)·frac
    // formula, so the filtered row set hashes identically.
    Query("q77_mad_outliers", (s, d) =>
      Outliers.madOutliers(Tables.events(s, d), col("user_id"),
          col("value"), 3.5)
        .select(col("user_id"), col("event_id"), col("value")), oracle =
      // median/quantile_cont interpolate with the same lo+(hi−lo)·frac
      // formula as Spark's percentile, so both engines derive identical
      // med/MAD doubles from the same parquet values.
      """WITH med AS (SELECT user_id AS k, median(value) AS med
                      FROM events GROUP BY 1),
          dev AS (SELECT user_id, event_id, value, abs(value - med) AS adev
                  FROM events JOIN med ON user_id = k),
          mad AS (SELECT user_id AS k2, median(adev) AS mad
                  FROM dev GROUP BY 1)
          SELECT user_id, event_id, value FROM dev JOIN mad ON user_id = k2
          WHERE adev / mad >= 3.5"""),

    // Q80 — XLSX writer→reader round trip (K9 report writer + S6 XLSX
    // source, Things2XLSX.py / MyDB2XLSX): a per-nation customer report
    // is written as a real OOXML workbook and read back through the
    // distributed binaryFile reader. Sums go through DECIMAL(18,2) so
    // both engines add exact decimals — the workbook's number cells then
    // round-trip bit-for-bit via shortest-repr doubles.
    Query("q80_xlsx_roundtrip", (s, d) => {
      val rpt = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("total_bal"))
      val f = graft.Scratch.tempDir("q80")
        .resolve("report.xlsx").toString
      graft.sources.XlsxWriter.write(rpt, f)
      graft.sources.XlsxSource.read(s, f)
    }, oracle =
      // The workbook round trip must reproduce the report frame exactly:
      // DECIMAL(18,2) sums are exact on both engines, and the OOXML number
      // cells round-trip doubles via shortest-repr text.
      """SELECT n_name AS nation, count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1"""),

    // Q81 — HTML table round trip (S7 scrape): a supplier listing is
    // rendered as an HTML document (driver-side fixture, dim-bounded)
    // and scraped back through the distributed parser — header from
    // <th>, numeric columns typed via the sanitizer. Column choice is
    // sanitizer-safe by construction: the nation label is digit-free
    // (digits would be sanitizer-coerced to numbers — that's the
    // scraper's documented contract), acctbal keeps its leading minus.
    Query("q81_html_roundtrip", (s, d) => {
      val rows = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"),
          translate(col("n_name"), "0123456789", "abcdefghij").as("nation"),
          col("s_acctbal"))
        .collect() // dim-bounded (supplier is an unreplicated dim)
      val sb = new StringBuilder(
        "<html><body><h1>suppliers</h1><table>" +
          "<tr><th>s_suppkey</th><th>nation</th><th>s_acctbal</th></tr>")
      rows.foreach { r =>
        sb.append(s"<tr><td>${r.getLong(0)}</td><td>${r.getString(1)}" +
          s"</td><td>${r.getDouble(2)}</td></tr>")
      }
      sb.append("</table></body></html>")
      val f = graft.Scratch.tempDir("q81")
        .resolve("suppliers.html")
      java.nio.file.Files.writeString(f, sb.toString)
      graft.sources.HtmlTableSource.read(s, f.toString)
    }, oracle =
      """SELECT s_suppkey,
                translate(n_name, '0123456789', 'abcdefghij') AS nation,
                s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey"""),

    // Q82 — the hourly CSV export round trip (K3 sink + A1 job,
    // MySQL2CSV.sh:349-412): gap-filled per-kit hourly frame written as
    // header'd CSV partitioned by kit (the reference's file-per-kit
    // layout), then read back through Spark's CSV source. Gap rows
    // round-trip as empty fields → NULLs, like the reference's awk.
    Query("q82_csv_roundtrip", (s, d) => {
      val fromS = 1704067200L // 2024-01-01T00Z
      val toS = 1704240000L   // 2024-01-03T00Z, 49 hourly buckets
      val frame = HourlyExport.hourlyFrame(Tables.events(s, d),
        pmod(col("user_id"), lit(50)), col("ts"), col("value"), fromS, toS)
      val dir = graft.Scratch.tempDir("q82").toString
      HourlyExport.writeCsv(frame, dir)
      // Explicit read schema (r13 opt, guide §6): inferSchema is a FULL
      // extra pass over every file, and the select below casts every
      // column to a fixed type anyway — so inference only ever produced
      // an intermediate type the cast then normalized. Parsing straight
      // into the final types is value-identical (same CSV parser, same
      // null-on-empty gap semantics; hash-checked) and skips the pass.
      // The reference reader (awk over MySQL2CSV exports) is likewise
      // fixed-schema — inference was never part of the modeled contract.
      s.read.option("header", "true")
        .schema("bucket_ts LONG, avg_value DOUBLE, n LONG")
        .csv(dir)
        .select(col("k").cast("long").as("k"),
          col("bucket_ts").cast("long").as("bucket_ts"),
          col("avg_value").cast("double").as("avg_value"),
          col("n").cast("long").as("n"))
    }, oracle =
      // Same bucket/rounding contract as q02 (DECIMAL-stable round), plus
      // the gap spine: every hour in [from, to] per key present in the
      // window — gap rows carry NULL avg/n (the CSV's empty fields).
      """WITH f AS (SELECT user_id % 50 AS k,
                           epoch_us(date_trunc('hour', ts))//1000000 AS bucket_ts,
                           value
                    FROM events
                    WHERE epoch_us(ts)//1000000 BETWEEN 1704067200 AND 1704240000),
              agg AS (SELECT k, bucket_ts,
                             CAST(round(CAST(avg(value) AS DECIMAL(18,6)),2) AS DOUBLE) AS avg_value,
                             count(*) AS n
                      FROM f GROUP BY 1, 2),
              spine AS (SELECT DISTINCT k FROM agg),
              grid AS (SELECT k, unnest(range(1704067200, 1704240001, 3600)) AS bucket_ts
                       FROM spine)
         SELECT k, bucket_ts, avg_value, n
         FROM grid LEFT JOIN agg USING (k, bucket_ts)"""),

    // Q89 — HighCharts chart-document round trip (visualisation/
    // ChartsPM.pl:553-615 Array2Units, :1659-1669 JS var emission):
    // per-station×pollutant series regridded from the FIRST reading
    // (values[0] raw, bucket k≥1 means, empty/sub-0.1 buckets → JS null,
    // the Perl's int(x*10+0.4)/10 rounding, MINHOURS gate), emitted as a
    // chart document and parsed back distributively. 'error' events are
    // throttled to 1-in-149 so the MINHOURS gate provably fires.
    Query("q89_chart_doc", (s, d) => {
      val e = Tables.events(s, d)
        .where(col("event_type") =!= "error" || col("event_id") % 149 === 0)
      val blocks = ChartDoc.seriesBlocks(e,
        (col("user_id") % 12).cast("int"), col("event_type"),
        eS(col("ts")), col("event_id"), col("value"))
      val f = graft.Scratch.tempDir("q89")
        .resolve("charts.html")
      java.nio.file.Files.writeString(f, ChartDoc.document(blocks))
      ChartDoc.parseSeries(s, f.toString)
    }, oracle =
      // Closed form of the ChartsPM regrid: bucket 0 = raw first reading,
      // bucket k≥1 = mean over [t0+(k-1)u, t0+ku), empty or sub-0.1 buckets
      // NULL, floor(m*10+0.4)/10 rounding on the 6-decimal-stable DECIMAL,
      // MINHOURS(12)+1 admission, spine out to each series' last bucket.
      """WITH base AS (
            SELECT CAST(user_id % 12 AS INT) AS st, event_type AS pol,
                   epoch_us(ts)//1000000 AS t, event_id AS o, value AS v
            FROM events
            WHERE event_type != 'error' OR event_id % 149 = 0),
          srs AS (
            SELECT *, row_number() OVER (PARTITION BY st, pol
                                         ORDER BY t, o) AS rn,
                   min(t) OVER (PARTITION BY st, pol) AS t0,
                   count(*) OVER (PARTITION BY st, pol) AS n
            FROM base),
          bk AS (
            SELECT st, pol, t0,
                   CASE WHEN rn = 1 THEN 0 ELSE (t - t0)//3600 + 1 END AS k,
                   avg(v) AS m, max(CASE WHEN rn = 1 THEN v END) AS raw
            FROM srs WHERE n >= 13 GROUP BY 1, 2, 3, 4),
          r AS (
            SELECT st, pol, t0, k,
                   CASE WHEN k = 0 THEN raw
                        WHEN CAST(m AS DECIMAL(18,6)) < 0.1 THEN NULL
                        ELSE CAST(floor(CAST(m AS DECIMAL(18,6))*10 + 0.4)
                                  AS DOUBLE)/10
                   END AS value
            FROM bk),
          spine AS (
            SELECT st, pol, t0, unnest(range(0, kmax + 1)) AS k
            FROM (SELECT st, pol, t0, max(k) AS kmax
                  FROM r GROUP BY 1, 2, 3))
         SELECT s.st, s.pol, s.k, s.t0 + s.k*3600 AS ts_s, r.value
         FROM spine s LEFT JOIN r USING (st, pol, t0, k)"""),

    // Q100 — console monitor row (K4, MyDatacollector.py:2110-2117
    // layout + :418-427 colors): every printf quirk exercised — %-92.91s
    // truncate-then-pad (the long sensor list crosses 91 chars), %4.d /
    // %2.d space-justify with the zero→empty precision-dot case
    // (event_id % 19999 = 0), tri-state validity, geo suffix, gateway
    // count presence, and the ≤1h interval suffix. Pure Column algebra
    // (Forwarding.monitorLine); the oracle restates the layout in SQL.
    Query("q100_console_monitor", (s, d) => {
      val sensors = when(col("event_id") % 4 === 0, lit(""))
        .when(col("event_id") % 4 === 1, lit("temp"))
        .when(col("event_id") % 4 === 2, lit("temp,rv"))
        .otherwise(lit("pm10,pm25,rh0,temp,rv,pres,grain,aerosol," +
          "windspeed,winddir,luchtdruk"))
      val valid = when(col("event_id") % 5 === 0, lit(null).cast("boolean"))
        .when(col("event_id") % 5 === 1, lit(false)).otherwise(lit(true))
      val kitLoc = when(col("event_id") % 7 === 0, lit("u1hc230"))
        .otherwise(lit(null).cast("string"))
      val nGtws = when(col("event_id") % 11 === 0, lit(null).cast("int"))
        .otherwise((col("event_id") % 13 + 1).cast("int"))
      val out = graft.streaming.Forwarding.monitorLine(
        col("ts").cast("timestamp"),
        concat(lit("TTN/kit"), col("user_id")),
        concat(lit("SAN_d"), col("user_id")),
        sensors, valid, kitLoc, nGtws,
        (col("event_id") % 19999).cast("int"),
        (col("event_id") % 7200).cast("int"))
      Tables.events(s, d).select(col("event_id"),
        out.getField("line").as("line"), out.getField("color").as("color"))
    }, oracle =
      // q100: the monitor printf layout restated in SQL — rpad(substr(,91),92)
      // is %-92.91s, the CASE'd lpad is %4.d (no truncation of wider counts,
      // zero renders empty per the precision dot), iv//60 matches %d of the
      // float division (non-negative → floor).
      """WITH b AS (
           SELECT event_id, user_id,
                  strftime(ts, '%Y-%m-%d %H:%M') AS dt,
                  CASE WHEN event_id % 4 = 0 THEN ''
                       WHEN event_id % 4 = 1 THEN 'temp'
                       WHEN event_id % 4 = 2 THEN 'temp,rv'
                       ELSE 'pm10,pm25,rh0,temp,rv,pres,grain,aerosol,windspeed,winddir,luchtdruk'
                  END AS sensors,
                  CASE WHEN event_id % 5 = 0 THEN ' mobile'
                       WHEN event_id % 5 = 1 THEN ' invalid' ELSE '' END
                    || CASE WHEN event_id % 7 = 0 THEN ' geo ''u1hc230''' ELSE '' END
                    AS validity,
                  CASE WHEN event_id % 11 = 0 THEN ''
                       ELSE ' #gtws:' || lpad(CAST(event_id % 13 + 1 AS VARCHAR), 2, ' ')
                  END AS gtws,
                  CASE WHEN event_id % 19999 = 0 THEN ''
                       ELSE CAST(event_id % 19999 AS VARCHAR) END AS cnt,
                  event_id % 7200 AS iv
           FROM events),
          i AS (
           SELECT event_id, sensors, cnt, iv,
                  dt || ' TTN/kit' || CAST(user_id AS VARCHAR)
                     || ' (SAN_d' || CAST(user_id AS VARCHAR)
                     || CASE WHEN sensors = '' THEN ' meta/event info'
                             ELSE '[' || sensors || ']' END
                     || validity || ')' || gtws AS innr
           FROM b)
          SELECT event_id,
                 rpad(substr(innr, 1, 91), 92, ' ') || ' #'
                   || CASE WHEN length(cnt) >= 4 THEN cnt
                           ELSE lpad(cnt, 4, ' ') END
                   || CASE WHEN iv <= 3600
                           THEN ' at ' || CAST(iv // 60 AS VARCHAR) || 'm'
                                || CAST(iv % 60 AS VARCHAR) || 's'
                           ELSE '' END AS line,
                 CASE WHEN sensors = '' THEN 33 ELSE 21 END AS color
          FROM i""")
  )
}
