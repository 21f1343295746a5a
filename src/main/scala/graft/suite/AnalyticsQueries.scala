package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.suite.Shared._

/** Window, statistics and event-sequence analytics: sessions, ranking and
  * frame batteries, cumulative and decayed sums, exact percentiles and
  * outlier fences, EWMA, gap fill, funnels, cohorts, Markov transitions,
  * per-group OLS and basket lift.
  */
object AnalyticsQueries {

  val queries: Seq[Query] = Seq(
    // §2.8 timezone + P6 multi-branch conditional (session labels)
    Query("q_tz_sessions", ((s, dir) => {
      val e = ev(s, dir)
      val nyH = hour(from_utc_timestamp(col("ts"), "America/New_York"))
      val loH = hour(from_utc_timestamp(col("ts"), "Europe/London"))
      e.select(
        col("event_id"),
        nyH.cast("int").as("ny_hour"),
        loH.cast("int").as("london_hour"),
        when(nyH >= 9 && nyH <= 16, "NY_Session")
          .when(nyH >= 17 && nyH <= 20, "NY_After_Hours")
          .otherwise("NY_Closed").as("ny_session"),
        when(loH >= 8 && loH <= 16, "London_Session")
          .otherwise("London_Closed").as("london_session"),
        dayofweek(col("ts")).isin(1, 7).cast("int").as("is_weekend"))
        .orderBy("event_id")
    }),
        s"""SELECT event_id,
              CAST(hour(($evTs AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') AS INTEGER) AS ny_hour,
              CAST(hour(($evTs AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/London') AS INTEGER) AS london_hour,
              CASE WHEN hour(($evTs AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') BETWEEN 9 AND 16 THEN 'NY_Session'
                   WHEN hour(($evTs AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') BETWEEN 17 AND 20 THEN 'NY_After_Hours'
                   ELSE 'NY_Closed' END AS ny_session,
              CASE WHEN hour(($evTs AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/London') BETWEEN 8 AND 16 THEN 'London_Session'
                   ELSE 'London_Closed' END AS london_session,
              CAST(dayofweek($evTs) IN (0, 6) AS INTEGER) AS is_weekend
            FROM events ORDER BY event_id""",
    ),

    // W4-class: gap-based sessionization (batch twin of the streaming
    // flatMapGroupsWithState operator in graft.streaming)
    Query("q_sessionize", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_id")
    }),
        s"""WITH e AS (
              SELECT user_id, $evTs AS ts, event_id FROM events),
            d AS (
              SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
              FROM d)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_id""",
    ),

    // §2.9/W4: gap sessions via the NATIVE session_window aggregate (the
    // same operator Structured Streaming uses for session state) — one
    // hash-agg with merging windows, no lag/prefix-sum window pass. Note
    // the boundary: session_window breaks at gap >= 30min (half-open
    // [t, t+gap) windows), where the lag formulation in q_sessionize
    // breaks only at gap > 30min.
    Query("q_session_window", ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")),
        s"""WITH e AS (
              SELECT user_id, $evTs AS ts, event_id FROM events),
            d AS (
              SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                         THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
              FROM d)
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_start""",
    ),

    // W4: exact percentiles (research-workload analytics; rounded on both
    // sides because interpolation association differs across engines)
    Query("q_quantiles", ((s, dir) =>
      ev(s, dir).groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),
        """SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90,
             round(quantile_cont(value, 0.99), 6) AS p99,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY event_type ORDER BY event_type""",
    ),

    // W4: lag-1 autocorrelation via the explicit co-moment formula over
    // DECIMAL-exact sums — bit-deterministic, unlike builtin corr() whose
    // incremental co-moments are accumulation-order-dependent
    Query("q_autocorr", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), col("value").as("x"))
        .withColumn("y", lag(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
      val agged = pairs.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      agged.select(
        col("event_type"), col("n").cast("long").as("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("autocorr"))
        .orderBy("event_type")
    }),
        s"""WITH pairs AS (
              SELECT event_type, value AS x,
                lag(value) OVER (PARTITION BY event_type
                  ORDER BY $evTs, event_id) AS y
              FROM events),
            agged AS (
              SELECT event_type,
                CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
              FROM pairs WHERE y IS NOT NULL GROUP BY event_type)
            SELECT event_type, CAST(n AS BIGINT) AS n,
              (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS autocorr
            FROM agged ORDER BY event_type""",
    ),

    // W-class: ranking-function battery (rank/dense_rank/percent_rank/
    // cume_dist/ntile over a unique total order -> deterministic)
    Query("q_rank_funcs", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("rnk", rank().over(w).cast("int"))
        .withColumn("drnk", dense_rank().over(w).cast("int"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("tile", ntile(4).over(w).cast("int"))
        .filter(col("rnk") <= 100)
        .orderBy("o_orderpriority", "rnk")
    }),
        """SELECT * FROM (
             SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               CAST(ntile(4) OVER w AS INTEGER) AS tile
             FROM orders
             WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey))
           WHERE rnk <= 100
           ORDER BY o_orderpriority, rnk""",
    ),

    // time-decayed weighted sum (recency-weighted feature aggregation):
    // integer-hour decay so pow(0.5, h) is an exact power of two in both
    // engines; per-term round(…,6) + decimal sum keeps the total exact
    Query("q_decay_sum", ((s, dir) => {
      val e = ev(s, dir)
      val anchor = e.agg(max(col("ts")).as("anchor"))
      e.crossJoin(broadcast(anchor))
        // `div`, NOT `/`: long / long is DOUBLE division in Spark, and a
        // ratio within an ulp of an integer rounds up — disagreeing with
        // the oracle's exact integer floor (same trap as the ns→µs /1000)
        .withColumn("h",
          expr("(unix_micros(anchor) - unix_micros(ts)) div 3600000000"))
        // floor(x*1e6)/1e6, NOT round(x, 6): halving a 2-decimal value
        // lands terms exactly on .5-of-the-7th-digit boundaries, where
        // Spark rounds the shortest decimal repr (2.0353125 -> ...13) but
        // DuckDB rounds the binary double (2.03531249... -> ...12). The
        // floor form is pure IEEE arithmetic — identical in both engines.
        .withColumn("term",
          floor(col("value") * pow(lit(0.5), col("h")) * 1e6) / 1e6)
        .groupBy("user_id")
        .agg(dsum(col("term")).as("decayed_value"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
        """WITH a AS (SELECT max(CAST(ts AS TIMESTAMP)) AS anchor FROM events)
           SELECT user_id,
             CAST(sum(CAST(floor(value * pow(0.5,
               (epoch_us(anchor) - epoch_us(CAST(ts AS TIMESTAMP))) // 3600000000
               ) * 1000000) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS decayed_value,
             CAST(count(*) AS BIGINT) AS n_events
           FROM events CROSS JOIN a
           GROUP BY user_id ORDER BY user_id""",
    ),

    // statistical outlier detection: z-score from exact decimal co-moments
    // (same formula both engines — no engine-native stddev, whose fp
    // accumulation order differs)
    Query("q_zscore", ((s, dir) => {
      val e = ev(s, dir)
      val stats = e.groupBy(col("event_type").as("et"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("s1"),
          dsum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("sd", sqrt(
          (col("n") * col("s2") - col("s1") * col("s1")) /
            (col("n") * (col("n") - lit(1)))))
      e.join(broadcast(stats), col("event_type") === col("et"))
        .withColumn("z", round((col("value") - col("mean")) / col("sd"), 6))
        .filter(abs(col("z")) > 3.0)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    }),
        """WITH stats AS (
             SELECT event_type AS et, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
             FROM events GROUP BY event_type)
           SELECT event_id, event_type, value,
             round((value - s1 / n) /
               sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6) AS z
           FROM events JOIN stats ON event_type = et
           WHERE abs(round((value - s1 / n) /
               sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6)) > 3.0
           ORDER BY event_id""",
    ),

    // fixed-width histogram via pure arithmetic bucketing (identical
    // expression both engines; clamped to [0, 19])
    Query("q_histogram", ((s, dir) =>
      ev(s, dir)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 5.0), lit(0.0)), lit(19.0)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket")),
        """SELECT CAST(least(greatest(floor(value / 5.0), 0), 19) AS INTEGER) AS bucket,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
           FROM events GROUP BY bucket ORDER BY bucket""",
    ),

    // deterministic mode (most frequent hour-of-day per event type, count
    // desc + smallest-hour tiebreak — engine-native mode() has ties)
    Query("q_mode", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = ev(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).cast("int").as("hod"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("n").desc, col("hod"))
      cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "hod", "n")
        .orderBy("event_type")
    }),
        """SELECT event_type, hod, n FROM (
             SELECT event_type, hod, n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY n DESC, hod) AS rn
             FROM (
               SELECT event_type,
                 CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
                 CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type, hod))
           WHERE rn = 1 ORDER BY event_type""",
    ),

    // W3 battery: first/last/nth value over the full partition frame
    Query("q_first_last", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wn = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("first_v", first(col("value")).over(w))
        .withColumn("last_v", last(col("value")).over(w))
        .withColumn("second_v", nth_value(col("value"), 2).over(w))
        .withColumn("rn", row_number().over(wn))
        .filter(col("rn") === 1)
        .select("user_id", "first_v", "last_v", "second_v")
        .orderBy("user_id")
    }),
        """SELECT user_id, first_v, last_v, second_v FROM (
             SELECT user_id,
               first_value(value) OVER w AS first_v,
               last_value(value) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
               nth_value(value, 2) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v,
               row_number() OVER w AS rn
             FROM events
             WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id))
           WHERE rn = 1 ORDER BY user_id""",
    ),

    // exact discrete percentiles via rank arithmetic (PERCENTILE_DISC
    // semantics, identical rank math both engines)
    Query("q_percentile_disc", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === ceil(col("n") * 0.5).cast("long"), col("value")))
            .as("p50"),
          max(when(col("rn") === ceil(col("n") * 0.9).cast("long"), col("value")))
            .as("p90"),
          max(col("n")).as("n"))
        .orderBy("event_type")
    }),
        """SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS p50,
             max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END) AS p90,
             CAST(max(n) AS BIGINT) AS n
           FROM (
             SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM events)
           GROUP BY event_type ORDER BY event_type""",
    ),

    // W-class: running cumulative aggregates (decimal-exact running sum)
    Query("q_cumsum", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("run_sum",
          sum(col("value").cast(DecimalType(38, 6))).over(w).cast("double"))
        .withColumn("run_n", count(lit(1)).over(w))
        .select("user_id", "ts", "event_id", "value", "run_sum", "run_n")
        .orderBy("user_id", "ts", "event_id")
    }),
        """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS run_sum,
             CAST(count(*) OVER w AS BIGINT) AS run_n
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ORDER BY user_id, ts, event_id""",
    ),

    // W-class: numeric RANGE frame (value-distance window, not row-count):
    // frame membership depends only on values, so the result is
    // deterministic even across duplicate sort keys
    Query("q_range_frame", ((s, dir) =>
      ev(s, dir)
        .withColumn("n_within_5",
          expr("""count(*) OVER (PARTITION BY event_type ORDER BY value
                  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)"""))
        .withColumn("sum_within_5",
          expr("""CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
                    PARTITION BY event_type ORDER BY value
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)"""))
        .select("event_id", "event_type", "value", "n_within_5", "sum_within_5")
        .orderBy("event_id")),
        """SELECT event_id, event_type, value,
             CAST(count(*) OVER w AS BIGINT) AS n_within_5,
             CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_within_5
           FROM events
           WINDOW w AS (PARTITION BY event_type ORDER BY value
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
           ORDER BY event_id""",
    ),

    // sequential per-key recursion (EWMA) via the mapPartitions scan,
    // FULL per-row output. α = 1/2 makes the recursion's two products
    // exact halvings, so each step is the same three IEEE ops in any
    // engine (q_ewma_fold pins the identical fold for last-values); the
    // oracle replays every prefix with a windowed list_reduce, so the
    // whole scan hash-matches — no rounding, no rows-only fallback.
    Query("q_ewma", ((s, dir) =>
      graft.operators.TimeSeries
        .ewma(ev(s, dir).select("user_id", "ts", "event_id", "value"),
          key = "user_id", time = "ts", tiebreak = "event_id",
          value = "value", alpha = 0.5)
        .orderBy("user_id", "ts", "event_id")),
      // per-row EWMA: each row's value is the fold over its own ordered
      // prefix (windowed list; O(prefix) per row is oracle-scale-only —
      // the engine side is the one-pass mapPartitions scan)
        s"""SELECT user_id, ts, event_id, value,
              list_reduce(list(value) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                (acc, x) -> x * 0.5 + acc * 0.5) AS ewma
            FROM (SELECT user_id, $evTs AS ts, event_id, value FROM events)
            ORDER BY user_id, ts, event_id""",
    ),

    // Weighted mean (VWAP shape): decimal-exact numerator and denominator,
    // then a single double division — the partial-aggregation order can't
    // perturb the result
    Query("q_weighted_avg", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_rev"),
          dsum(col("l_quantity")).as("qty"))
        .withColumn("unit_rev", floor(col("disc_rev") / col("qty") * lit(1e6)) / 1e6)
        .orderBy("l_returnflag", "l_linestatus")),
        """WITH a AS (
             SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                 AS DOUBLE) AS disc_rev,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
             FROM lineitem GROUP BY 1, 2)
           SELECT l_returnflag, l_linestatus, disc_rev, qty,
             floor(disc_rev / qty * 1e6) / 1e6 AS unit_rev
           FROM a ORDER BY l_returnflag, l_linestatus""",
    ),

    // Calendar gap-fill + forward-fill: hourly grid per key, last
    // observation carried forward via the tagged-union + ignoreNulls-last
    // window (same machinery as the asof join, inlined)
    Query("q_ffill", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = ev(s, dir).filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          lit(0).as("src"))
      val grid = ev(s, dir).filter(col("user_id") < 50)
        .select("user_id").distinct()
        .select(col("user_id"),
          explode(expr(
            "sequence(timestamp'2024-01-05 00:00:00', timestamp'2024-01-12 00:00:00', interval 1 hour)"))
            .as("ts"),
          lit(null).cast("long").as("event_id"),
          lit(null).cast("double").as("value"),
          lit(1).as("src"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("src"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(grid)
        .withColumn("ffill", last(col("value"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select("user_id", "ts", "ffill")
        .orderBy("user_id", "ts")
    }),
        """WITH e AS (
             SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value, 0 AS src
             FROM events WHERE user_id < 50),
           grid AS (
             SELECT u.user_id, g.ts,
               CAST(NULL AS BIGINT) AS event_id,
               CAST(NULL AS DOUBLE) AS value, 1 AS src
             FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 50) u
             CROSS JOIN generate_series(TIMESTAMP '2024-01-05 00:00:00',
               TIMESTAMP '2024-01-12 00:00:00', INTERVAL 1 HOUR) g(ts)),
           f AS (
             SELECT user_id, ts, src,
               last_value(value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, src, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill
             FROM (SELECT * FROM e UNION ALL SELECT * FROM grid))
           SELECT user_id, ts, ffill FROM f WHERE src = 1
           ORDER BY user_id, ts""",
    ),

    // EWMA final state per key, oracled: α=0.5 makes every fold step exact
    // IEEE halving, and DuckDB list_reduce replays the identical sequential
    // recursion (seed = first element) — bit-equal with no rounding at all.
    // Complements the rows-only per-row q_ewma.
    Query("q_ewma_fold", ((s, dir) =>
      graft.operators.TimeSeries
        .ewma(ev(s, dir).select("user_id", "ts", "event_id", "value"),
          key = "user_id", time = "ts", tiebreak = "event_id",
          value = "value", alpha = 0.5)
        .groupBy("user_id")
        .agg(max_by(col("ewma"), struct(col("ts"), col("event_id"))).as("ewma_last"))
        .orderBy("user_id")),
        """SELECT user_id,
             list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> x * 0.5 + acc * 0.5) AS ewma_last
           FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
                 FROM events)
           GROUP BY user_id ORDER BY user_id""",
    ),

    // W-class: exact interpolated percentiles (percentile ≙ quantile_cont —
    // verified bit-equal interpolation; the price median gets a floor guard)
    Query("q_percentile_cont", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25D)").as("p25"),
          expr("percentile(l_quantity, 0.5D)").as("p50"),
          expr("percentile(l_quantity, 0.9D)").as("p90"),
          expr("floor(percentile(l_extendedprice, 0.5D) * 1e4) / 1e4").as("price_med"))
        .orderBy("l_returnflag")),
        """SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS p25,
             quantile_cont(l_quantity, 0.5) AS p50,
             quantile_cont(l_quantity, 0.9) AS p90,
             floor(quantile_cont(l_extendedprice, 0.5) * 1e4) / 1e4 AS price_med
           FROM lineitem GROUP BY 1 ORDER BY 1""",
    ),

    // Feature scaling: per-event_type min-max normalization to [0,1] —
    // tiny stats side broadcast back onto the stream, no window over the
    // full table
    Query("q_minmax_scale", ((s, dir) => {
      val e = ev(s, dir).select("event_id", "event_type", "value")
      val stats = e.groupBy("event_type")
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          when(col("vmax") =!= col("vmin"),
            floor((col("value") - col("vmin")) * lit(1e6) / (col("vmax") - col("vmin"))) / 1e6)
            .otherwise(0.0).as("scaled"))
        .orderBy("event_id")
    }),
        """WITH s AS (
             SELECT event_type, min(value) AS vmin, max(value) AS vmax
             FROM events GROUP BY 1)
           SELECT event_id, e.event_type,
             CASE WHEN vmax <> vmin
               THEN floor((value - vmin) * 1e6 / (vmax - vmin)) / 1e6
               ELSE 0.0 END AS scaled
           FROM events e JOIN s USING (event_type)
           ORDER BY event_id""",
    ),

    // Funnel depth view→click→purchase anchored at each user's first view,
    // chain within a 3-day window — k chained filter→per-user-min
    // aggregations, no event-log self-join (EventSeq.anchoredFunnel)
    Query("q_funnel", ((s, dir) =>
      graft.operators.EventSeq.anchoredFunnel(ev(s, dir), "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"), windowSec = 259200L)
        .orderBy("uid")),
        s"""WITH u1 AS (
              SELECT user_id AS uid, min($evTs) AS t_1
              FROM events WHERE event_type = 'view' GROUP BY 1),
            u2 AS (
              SELECT e.user_id AS uid, min($evTs) AS t_2
              FROM events e JOIN u1 ON u1.uid = e.user_id
              WHERE event_type = 'click' AND $evTs > u1.t_1
                AND $evTs <= u1.t_1 + INTERVAL 259200 SECOND
              GROUP BY 1),
            u3 AS (
              SELECT e.user_id AS uid, min($evTs) AS t_3
              FROM events e
              JOIN u1 ON u1.uid = e.user_id
              JOIN u2 ON u2.uid = e.user_id
              WHERE event_type = 'purchase' AND $evTs > u2.t_2
                AND $evTs <= u1.t_1 + INTERVAL 259200 SECOND
              GROUP BY 1)
            SELECT u1.uid,
              CASE WHEN t_3 IS NOT NULL THEN 3
                   WHEN t_2 IS NOT NULL THEN 2
                   ELSE 1 END AS level,
              t_1, t_2, t_3
            FROM u1
            LEFT JOIN u2 ON u1.uid = u2.uid
            LEFT JOIN u3 ON u1.uid = u3.uid
            ORDER BY u1.uid""",
    ),

    // Cohort retention by epoch-week of first activity: (cohort, offset,
    // distinct active users) — two aggregations + one key join
    // (EventSeq.cohortRetention)
    Query("q_cohort_retention", ((s, dir) =>
      graft.operators.EventSeq.cohortRetention(ev(s, dir), "user_id", "ts",
        c => floor(floor(c.cast("double")) / lit(604800.0)).cast("long"))
        .orderBy("cohort", "period_offset")),
        s"""WITH wp AS (
              SELECT user_id AS uid,
                CAST(floor(floor(epoch($evTs)) / 604800) AS BIGINT) AS p
              FROM events),
            f AS (SELECT uid, min(p) AS cohort FROM wp GROUP BY 1),
            act AS (SELECT DISTINCT uid, p FROM wp)
            SELECT cohort, p - cohort AS period_offset,
              CAST(count(DISTINCT a.uid) AS BIGINT) AS n_active
            FROM act a JOIN f USING (uid)
            GROUP BY 1, 2 ORDER BY cohort, period_offset""",
    ),

    // Ordered-pattern match over per-user event-symbol strings (first
    // letters are distinct across the 5 event types): did the user ever
    // view, then later sign up, then later purchase?
    // (EventSeq.sequenceMatch; deterministic sort_array ordering)
    Query("q_seq_match", ((s, dir) =>
      graft.operators.EventSeq.sequenceMatch(ev(s, dir), "user_id", "ts",
        "event_id", substring(col("event_type"), 1, 1), "v.*s.*p")
        .orderBy("uid")),
        s"""SELECT user_id AS uid,
              string_agg(substr(event_type, 1, 1), ''
                ORDER BY $evTs, event_id) AS seq,
              regexp_matches(string_agg(substr(event_type, 1, 1), ''
                ORDER BY $evTs, event_id), 'v.*s.*p') AS matched
            FROM events GROUP BY 1 ORDER BY uid""",
    ),

    // First-order Markov transition matrix of event types (per-user lag
    // window + one pair aggregation; probabilities exact e6 integers)
    Query("q_markov", ((s, dir) =>
      graft.operators.EventSeq.transitionMatrix(ev(s, dir), "user_id",
        "ts", "event_id", "event_type")
        .orderBy("from_state", "to_state")),
        s"""WITH p AS (
              SELECT user_id, event_type AS from_state,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY $evTs, event_id) AS to_state
              FROM events),
            c AS (
              SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
              FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
            t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tt
                  FROM c GROUP BY 1)
            SELECT from_state, to_state, n, n * 1000000 // tt AS p_e6
            FROM c JOIN t USING (from_state)
            ORDER BY from_state, to_state""",
    ),

    // Robust outlier fences: per-type median/MAD with |x−med| > 3·MAD
    // counts — two exact percentile aggs, medians broadcast back
    // (Stats.madOutliers)
    Query("q_mad_outliers", ((s, dir) =>
      graft.operators.Stats.madOutliers(
        ev(s, dir).select("event_type", "value"), Seq("event_type"), "value")
        .orderBy("event_type")),
        """WITH m AS (
             SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
           d AS (
             SELECT e.event_type, med, abs(value - med) AS ad
             FROM events e JOIN m USING (event_type)),
           md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
                  FROM d GROUP BY 1)
           SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_rows,
             min(med) AS med, min(mad) AS mad,
             CAST(sum(CASE WHEN ad > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
           FROM d JOIN md USING (event_type)
           GROUP BY 1 ORDER BY 1""",
    ),

    // Per-type OLS trend of value over time (hours since 2024-01-01,
    // centi-units) — one pass of exact BIGINT moments, closed-form
    // slope/intercept via signed truncating division (Stats.groupOls)
    Query("q_group_ols", ((s, dir) =>
      graft.operators.Stats.groupOls(ev(s, dir), Seq("event_type"),
        xCol = expr("(CAST(ts AS LONG) - 1704067200L) div 3600"),
        yCol = floor(col("value") * 100))
        .orderBy("event_type")),
        s"""WITH b AS (
              SELECT event_type,
                (CAST(floor(epoch($evTs)) AS BIGINT) - 1704067200) // 3600
                  AS x,
                CAST(floor(value * 100) AS BIGINT) AS y
              FROM events),
            m AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM b GROUP BY 1)
            SELECT event_type, n,
              CAST(CAST(n * sxy - sx * sy AS HUGEINT) * 1000000
                // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT) AS slope_e6,
              CAST(CAST(sy * sxx - sx * sxy AS HUGEINT) * 1000000
                // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
                AS intercept_e6
            FROM m WHERE n * sxx - sx * sx <> 0
            ORDER BY event_type""",
    ),

    // Market-basket pair lift over order baskets (support ≥ 2, exact e6
    // lift, top-100) — basket-bounded pair explosion + broadcast singles
    // (Itemsets.pairLift)
    Query("q_itemset_lift", ((s, dir) =>
      graft.operators.Itemsets.pairLift(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("lift_e6").desc, col("item_a"), col("item_b"))
        .limit(100)),
        """WITH b AS (
             SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
             FROM lineitem),
           nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nn FROM b),
           s AS (SELECT it, CAST(count(*) AS BIGINT) AS ns
                 FROM b GROUP BY 1),
           p AS (
             SELECT a.it AS item_a, c.it AS item_b,
               CAST(count(*) AS BIGINT) AS n_pair
             FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
             GROUP BY 1, 2 HAVING count(*) >= 2)
           SELECT item_a, item_b, n_pair,
             n_pair * (SELECT nn FROM nb) * 1000000 // (sa.ns * sb.ns)
               AS lift_e6
           FROM p
           JOIN s sa ON sa.it = item_a
           JOIN s sb ON sb.it = item_b
           ORDER BY lift_e6 DESC, item_a, item_b LIMIT 100""",
    ),
  )
}
