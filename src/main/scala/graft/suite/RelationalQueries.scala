package graft
package suite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.operators.{AsofJoin, BloomJoin, SkewJoin}
import graft.suite.Shared._

/** The relational SQL surface: TPC-H-shaped aggregates and joins,
  * semi/anti/outer, range and interval-overlap joins, skew and bloom
  * joins, set operations, grouping sets, the scalar, string, array, JSON,
  * map and NULL function batteries, the SQL text path, and warehouse
  * maintenance (SCD2, CDC merge, snapshot diff, constraint audit,
  * profiling).
  */
object RelationalQueries {

  val queries: Seq[Query] = Seq(
    // A1-analog headline agg (TPC-H Q1 shape): group-agg with exact sums
    Query("q1_pricing", ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
        """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
             CAST(count(*) AS BIGINT) AS count_order
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
           GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus""",
    ),

    // J3: lookup joins (broadcast dims) + agg
    Query("q_join_agg", ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("acctbal"))
        .orderBy("r_name", "n_name")
    }),
        """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS acctbal
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name
           ORDER BY r_name, n_name""",
    ),

    // J4-analog: left-semi join (EXISTS)
    Query("q_semi_join", ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
        """SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_totalprice > 200000)
           ORDER BY c_custkey""",
    ),

    // U2-analog: left-anti join (NOT EXISTS)
    Query("q_anti_join", ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
           ORDER BY o_orderkey""",
    ),

    // J5: full-outer validation join with match accounting
    Query("q_outer_join", ((s, dir) => {
      val oc = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.cast("int").as("has_customer"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),
        """WITH oc AS (
             SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
             FROM orders GROUP BY o_custkey)
           SELECT COALESCE(c_custkey, o_custkey) AS custkey,
                  CAST(c_custkey IS NOT NULL AS INTEGER) AS has_customer,
                  COALESCE(n_orders, 0) AS n_orders
           FROM customer FULL OUTER JOIN oc ON c_custkey = o_custkey
           ORDER BY custkey""",
    ),

    // O1 top-k by aggregate (TPC-H Q3 shape), broadcast customer side
    Query("q_top_revenue", ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      broadcast(c)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
        """SELECT o_orderkey, o_orderdate,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
           GROUP BY o_orderkey, o_orderdate
           ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    ),

    // §2.8: scalar function battery (date parts/arith/format, CASE, ratios)
    Query("q_scalar_funcs", ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("y"),
        month(col("o_orderdate")).cast("int").as("m"),
        add_months(to_date(col("o_orderdate")), 1).as("next_month"),
        months_between(trunc(to_date(col("o_orderdate")), "MM"), lit("1995-01-01").cast("date"))
          .as("months_since"),
        date_format(col("o_orderdate"), "yyyyMM").as("yyyymm"),
        upper(col("o_orderpriority")).as("pri_upper"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("band"),
        when(col("o_totalprice") > 0, abs(col("o_totalprice")) / lit(1000.0)).as("kprice"))
        .orderBy("o_orderkey")),
        """SELECT o_orderkey,
             CAST(year(o_orderdate) AS INTEGER) AS y,
             CAST(month(o_orderdate) AS INTEGER) AS m,
             CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
             CAST(date_diff('month', DATE '1995-01-01',
               CAST(date_trunc('month', o_orderdate) AS DATE)) AS DOUBLE) AS months_since,
             strftime(o_orderdate, '%Y%m') AS yyyymm,
             upper(o_orderpriority) AS pri_upper,
             CASE WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid'
                  ELSE 'high' END AS band,
             CASE WHEN o_totalprice > 0 THEN abs(o_totalprice) / 1000.0 END AS kprice
           FROM orders ORDER BY o_orderkey""",
    ),

    // A3+P5: conditional aggregation (countIf) + NULL-safe ratio
    Query("q_cond_agg", ((s, dir) =>
      ev(s, dir).groupBy("event_type")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("value") > 100, lit(1))).as("n_hi"))
        .withColumn("share_hi",
          when(col("n_total") > 0, col("n_hi").cast("double") / col("n_total")))
        .orderBy("event_type")),
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(CASE WHEN value > 100 THEN 1 END) AS BIGINT) AS n_hi,
             CASE WHEN count(*) > 0
               THEN CAST(count(CASE WHEN value > 100 THEN 1 END) AS DOUBLE) / count(*)
             END AS share_hi
           FROM events GROUP BY event_type ORDER BY event_type""",
    ),

    // A-class: ROLLUP hierarchy aggregation with grouping indicators
    Query("q_rollup", ((s, dir) => {
      val j = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
      // rollup(col(...)), not rollup("..."): the String overload resolves via
      // Dataset.col, whose dataset-id tags get duplicated by the rollup's
      // Expand and trip DetectAmbiguousSelfJoin (a false positive here)
      j.rollup(col("r_name"), col("n_name"))
        .agg(
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"),
          count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("g_r"), col("g_n"), col("n_cust"), col("acctbal"))
        .orderBy("r_name", "n_name")
    }),
        """SELECT COALESCE(r_name, 'ALL') AS r_name,
                  COALESCE(n_name, 'ALL') AS n_name,
                  CAST(GROUPING(r_name) AS INTEGER) AS g_r,
                  CAST(GROUPING(n_name) AS INTEGER) AS g_n,
                  CAST(count(*) AS BIGINT) AS n_cust,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS acctbal
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY ROLLUP(r_name, n_name)
           ORDER BY r_name, n_name""",
    ),

    // A-class: PIVOT (explicit value list -> fixed output schema)
    Query("q_pivot", ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("y"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(
          col("y"),
          coalesce(col("1-URGENT"), lit(0L)).as("p_urgent"),
          coalesce(col("2-HIGH"), lit(0L)).as("p_high"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p_medium"),
          coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("p_notspec"),
          coalesce(col("5-LOW"), lit(0L)).as("p_low"))
        .orderBy("y")),
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
                  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p_urgent,
                  CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p_high,
                  CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p_medium,
                  CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p_notspec,
                  CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p_low
           FROM orders GROUP BY y ORDER BY y""",
    ),

    // U-class: INTERSECT (distinct set semantics, both engines) — order
    // statuses 'O' vs 'F' overlap heavily, so the result is non-trivial at
    // every SF (year∩year was empty at small SF)
    Query("q_intersect", ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    }),
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           ORDER BY o_custkey""",
    ),

    // O1-scale: top-k per group with partition-local pre-pruning (bounded
    // heaps cap the shuffle at k·groups·partitions rows; result == plain
    // window rank, which is what the oracle computes)
    Query("q_group_topk", ((s, dir) =>
      graft.operators.TopKPerGroup
        .topK(ev(s, dir).select("event_type", "event_id", "value"),
          keys = Seq("event_type"), ord = "value", tiebreak = "event_id", k = 5)
        .orderBy("event_type", "rank")),
        """SELECT event_type, event_id, value, rank FROM (
             SELECT event_type, event_id, value,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id) AS INTEGER) AS rank
             FROM events)
           WHERE rank <= 5
           ORDER BY event_type, rank""",
    ),

    // J-class: non-equi range-containment join (overlapping 6h windows,
    // 4h stride — not bucketable; small side broadcast, fact side streamed)
    Query("q_range_join", ((s, dir) => {
      val wnd = s.range(1)
        .select(explode(expr(
          "sequence(TIMESTAMP '2024-01-01 00:00:00', " +
            "TIMESTAMP '2024-01-31 20:00:00', INTERVAL 4 HOURS)")).as("w_start"))
        .withColumn("w_end", expr("w_start + INTERVAL 6 HOURS"))
      ev(s, dir)
        .join(broadcast(wnd), col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy("w_start", "w_end")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("w_start")
    }),
        """WITH w AS (
             SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
               TIMESTAMP '2024-01-31 20:00:00', INTERVAL 4 HOUR)) AS w_start)
           SELECT w_start, w_start + INTERVAL 6 HOUR AS w_end,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
           FROM w JOIN events e
             ON CAST(e.ts AS TIMESTAMP) >= w_start
            AND CAST(e.ts AS TIMESTAMP) < w_start + INTERVAL 6 HOUR
           GROUP BY w_start ORDER BY w_start""",
    ),

    // J-class scale operator: bloom-prefiltered semi join (sketch built on
    // the filtered build side, probe rows dropped before the shuffle; exact
    // semi join removes false positives -> result == plain semi join)
    Query("q_bloom_semi", ((s, dir) => {
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      BloomJoin.bloomSemiJoin(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          returned, "o_orderkey", "l_orderkey",
          // sized to the build side at bench SF (~0.25M distinct keys);
          // at cluster scale callers size to their key cardinality
          expectedItems = 262144L, numBits = 2097152L)
        .orderBy("o_orderkey")
    }),
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
           ORDER BY o_orderkey""",
    ),

    // J-class scale operator: salted skew join (deterministic whole-row
    // salt; result identical to the unsalted join by construction)
    Query("q_salted_join", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      SkewJoin.saltedInnerJoin(li, o, "l_orderkey", "o_orderkey", salts = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ),

    // Same join through the r12 AUTO-dispatched form (SkewJoin.autoInnerJoin,
    // the general-join sibling of AsofJoin.leftAsofAuto): a capped no-shuffle
    // probe quick-rejects salting here (no hot key at bench SF) and would
    // size the salt count to the hottest key on pathological shapes.
    // Driver-gating pins that the dispatcher's chosen plan is row-for-row
    // the unsalted join, not just spec-equivalent.
    Query("q_salted_auto", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      SkewJoin.autoInnerJoin(li, o, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ),

    // correlated-scalar-subquery shape: rows above their group's average
    // (decomposed into a per-group aggregate + join, the distributed form)
    Query("q_above_avg", ((s, dir) => {
      val c = t(s, dir, "customer")
      val navg = c.groupBy(col("c_nationkey").as("nk"))
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("nat_avg"))
      c.join(navg, col("c_nationkey") === col("nk"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("c_acctbal") > col("nat_avg"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("nat_avg"))
        .orderBy("c_custkey")
    }),
        """WITH navg AS (
             SELECT c_nationkey AS nk,
               CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS nat_avg
             FROM customer GROUP BY c_nationkey)
           SELECT c_custkey, c_name, c_acctbal, n_name, nat_avg
           FROM customer
           JOIN navg ON c_nationkey = nk
           JOIN nation ON c_nationkey = n_nationkey
           WHERE c_acctbal > nat_avg
           ORDER BY c_custkey""",
    ),

    // §2.8 array-function battery over ArrayType(Float) (scalar outputs:
    // element_at / min / max / filter-count / prefix-fold, all cast-exact)
    Query("q_array_funcs", ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("first_v"),
          array_max(col("embedding")).cast("double").as("vmax"),
          array_min(col("embedding")).cast("double").as("vmin"),
          size(filter(col("embedding"), x => x > lit(0.0f))).cast("int").as("n_pos"),
          aggregate(slice(col("embedding"), 1, 8), lit(0.0),
            (a, x) => a + x.cast("double")).as("head8_sum"))
        .orderBy("vec_id")),
        """SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS first_v,
             CAST(list_max(embedding) AS DOUBLE) AS vmax,
             CAST(list_min(embedding) AS DOUBLE) AS vmin,
             CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
             list_reduce(list_prepend(0.0,
               list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))),
               (a, b) -> a + b) AS head8_sum
           FROM embeddings ORDER BY vec_id""",
    ),

    // §2.8 string-function battery (substr/pad/regex/concat/translate/
    // reverse/position/levenshtein)
    Query("q_string_funcs", ((s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          substring(col("c_name"), 1, 12).as("name12"),
          upper(col("c_name")).as("name_up"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("name_num"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
          translate(col("c_name"), "#", "-").as("name_dash"),
          reverse(col("c_name")).as("name_rev"),
          length(col("c_mktsegment")).cast("int").as("seg_len"),
          instr(col("c_name"), "#").cast("int").as("hash_pos"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("int").as("lev_seg"))
        .orderBy("c_custkey")),
        """SELECT c_custkey,
             substring(c_name, 1, 12) AS name12,
             upper(c_name) AS name_up,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
             regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
             concat_ws('|', c_mktsegment, c_name) AS seg_name,
             translate(c_name, '#', '-') AS name_dash,
             reverse(c_name) AS name_rev,
             CAST(length(c_mktsegment) AS INTEGER) AS seg_len,
             CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
             CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS lev_seg
           FROM customer ORDER BY c_custkey""",
    ),

    // §2.8 JSON path extraction (props is a JSON string column): typed
    // extraction feeding exact integer aggregates
    Query("q_json_funcs", ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),
        """SELECT event_type,
             CAST(count(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
             CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
             CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
           FROM events GROUP BY event_type ORDER BY event_type""",
    ),

    // A-class: ordered string aggregation (array_sort(collect_list) — the
    // order-independent distributed form of ORDER BY inside string_agg)
    Query("q_string_agg", ((s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).cast("long").as("n_nations"))
        .orderBy("r_name")),
        """SELECT r_name,
                  string_agg(n_name, ',' ORDER BY n_name) AS nations,
                  CAST(count(*) AS BIGINT) AS n_nations
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name ORDER BY r_name""",
    ),

    // A-class: GROUPING SETS (each-dimension marginals + grand total in one
    // pass — Expand-based, one shuffle)
    Query("q_grouping_sets", ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                  COALESCE(o_orderpriority, 'ALL') AS priority,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
           FROM orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           ORDER BY status, priority""",
    ),

    // U1b: UNION with distinct semantics (complement to q_intersect)
    Query("q_union_distinct", ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1994).select("o_custkey")
        .union(o.filter(year(col("o_orderdate")) === 1995).select("o_custkey"))
        .distinct()
        .orderBy("o_custkey")
    }),
        """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
           UNION
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
           ORDER BY o_custkey""",
    ),

    // SQL entry path (§2/S7): the same engine drives spark.sql text —
    // TPC-H Q3 shape over temp views, exercising parser → Catalyst →
    // the identical physical operators the DataFrame API plans
    Query("q_sql_q3", ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'AUTOMOBILE'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 20""")
    }),
        """SELECT o_orderkey, o_orderdate, o_orderpriority,
                  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           WHERE c_mktsegment = 'AUTOMOBILE'
           GROUP BY o_orderkey, o_orderdate, o_orderpriority
           ORDER BY revenue DESC, o_orderkey
           LIMIT 20""",
    ),

    // §2.8 NULL-semantics battery (coalesce/nullif/nvl2-shape/null-safe
    // equality) over the asof join's genuinely-NULL click columns
    Query("q_null_funcs", ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      AsofJoin
        .leftAsofNative(purchases, clicks, on = Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("value"), suffix = "_c")
        .select(
          col("event_id"),
          coalesce(col("value_c"), lit(-1.0)).as("click_or_default"),
          nullif(col("value_c"), col("value")).as("click_unless_same"),
          when(col("value_c").isNotNull, lit("seen")).otherwise(lit("cold")).as("flag"),
          col("value_c").isNull.as("is_cold"),
          (col("value_c") <=> col("value")).as("nseq"))
        .orderBy("event_id")
    }),
        """SELECT l.event_id,
                  coalesce(r.value, -1.0) AS click_or_default,
                  nullif(r.value, l.value) AS click_unless_same,
                  CASE WHEN r.value IS NOT NULL THEN 'seen' ELSE 'cold' END AS flag,
                  r.value IS NULL AS is_cold,
                  r.value IS NOT DISTINCT FROM l.value AS nseq
           FROM (SELECT * FROM events WHERE event_type = 'purchase') l
           ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
             ON l.user_id = r.user_id
            AND CAST(l.ts AS TIMESTAMP) >= CAST(r.ts AS TIMESTAMP)
           ORDER BY l.event_id""",
    ),

    // §2.8 bitwise battery (shift/and/or/xor/not/popcount)
    Query("q_bitwise", ((s, dir) =>
      ev(s, dir)
        .select(
          col("event_id"),
          shiftleft(col("event_id"), 3).as("shl"),
          shiftright(col("event_id"), 2).as("shr"),
          col("event_id").bitwiseAND(lit(255L)).as("band"),
          col("event_id").bitwiseOR(lit(4096L)).as("bor"),
          col("event_id").bitwiseXOR(col("user_id")).as("bxor"),
          bitwise_not(col("event_id")).as("bnot"),
          bit_count(col("event_id")).cast("int").as("popcnt"))
        .orderBy("event_id")),
        """SELECT event_id,
             event_id << 3 AS shl,
             event_id >> 2 AS shr,
             event_id & 255 AS band,
             event_id | 4096 AS bor,
             xor(event_id, user_id) AS bxor,
             ~event_id AS bnot,
             CAST(bit_count(event_id) AS INTEGER) AS popcnt
           FROM events ORDER BY event_id""",
    ),

    // A-class: CUBE marginals over (order year, priority) with grouping
    // indicators — completes the rollup/grouping-sets/cube triple
    Query("q_cube", ((s, dir) => {
      val o = t(s, dir, "orders").select(
        year(col("o_orderdate")).cast("int").as("y"),
        col("o_orderpriority").as("pri"),
        col("o_totalprice"))
      o.cube(col("y"), col("pri"))
        .agg(
          grouping(col("y")).cast("int").as("g_y"),
          grouping(col("pri")).cast("int").as("g_p"),
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("y"), lit(-1)).as("y"),
          coalesce(col("pri"), lit("ALL")).as("pri"),
          col("g_y"), col("g_p"), col("n"), col("total"))
        .orderBy("y", "pri", "g_y", "g_p")
    }),
        """WITH o AS (
             SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
                    o_orderpriority AS pri, o_totalprice
             FROM orders)
           SELECT coalesce(y, -1) AS y, coalesce(pri, 'ALL') AS pri,
             CAST(grouping(y) AS INTEGER) AS g_y,
             CAST(grouping(pri) AS INTEGER) AS g_p,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
           FROM o GROUP BY CUBE (y, pri)
           ORDER BY 1, 2, 3, 4""",
    ),

    // J-class: correlated EXISTS / NOT EXISTS subqueries through the SQL
    // facade — Catalyst decorrelates both into semi/anti joins
    Query("q_exists", ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_custkey, c_mktsegment
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM v_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")
    }),
        """SELECT c_custkey, c_mktsegment
           FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 300000)
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderpriority = '1-URGENT')
           ORDER BY c_custkey""",
    ),

    // §2.8 MapType surface: per-user event_type→count map assembled with
    // map_from_entries, probed with element_at / map_keys / map_contains_key
    Query("q_map_funcs", ((s, dir) =>
      ev(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("c"))))).as("m"))
        .select(
          col("user_id"),
          size(map_keys(col("m"))).cast("int").as("n_types"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases"),
          coalesce(element_at(col("m"), "error"), lit(0L)).as("errors"),
          map_contains_key(col("m"), lit("signup")).cast("int").as("has_signup"))
        .orderBy("user_id")),
        """WITH c AS (
             SELECT user_id, event_type, count(*) AS c
             FROM events GROUP BY 1, 2)
           SELECT user_id,
             CAST(count(*) AS INTEGER) AS n_types,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN c END), 0)
               AS BIGINT) AS purchases,
             CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN c END), 0)
               AS BIGINT) AS errors,
             CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS INTEGER) AS has_signup
           FROM c GROUP BY user_id ORDER BY user_id""",
    ),

    // §2.8 date/interval arithmetic battery (all integer/date outputs)
    Query("q_interval_arith", ((s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"),
          date_add(to_date(col("o_orderdate")), 30).as("d_plus30"),
          add_months(to_date(col("o_orderdate")), 2).as("d_plus2m"),
          last_day(to_date(col("o_orderdate"))).as("eom"),
          datediff(lit("1996-01-01").cast("date"), to_date(col("o_orderdate")))
            .cast("int").as("days_to_96"),
          quarter(col("o_orderdate")).cast("int").as("qtr"),
          dayofweek(col("o_orderdate")).cast("int").as("dow"),
          weekofyear(col("o_orderdate")).cast("int").as("woy"))
        .orderBy("o_orderkey")),
        """SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d,
             CAST(o_orderdate AS DATE) + 30 AS d_plus30,
             CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS d_plus2m,
             last_day(CAST(o_orderdate AS DATE)) AS eom,
             CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01')
               AS INTEGER) AS days_to_96,
             CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
             CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
             CAST(weekofyear(o_orderdate) AS INTEGER) AS woy
           FROM orders ORDER BY o_orderkey""",
    ),

    // Dataset profiling: one stats row per column (nulls / distincts /
    // min / max) — numeric extremes integer-scaled so their string repr is
    // engine-independent
    Query("q_profile", ((s, dir) => {
      val e = ev(s, dir)
      def prof(name: String, c: Column, minRepr: Column, maxRepr: Column) =
        e.agg(
          count(lit(1)).as("n_rows"),
          sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(c).as("n_distinct"),
          minRepr.cast("string").as("min_repr"),
          maxRepr.cast("string").as("max_repr"))
          .select(lit(name).as("col_name"), col("*"))
      prof("event_id", col("event_id"), min(col("event_id")), max(col("event_id")))
        .unionByName(prof("user_id", col("user_id"),
          min(col("user_id")), max(col("user_id"))))
        .unionByName(prof("event_type", col("event_type"),
          min(col("event_type")), max(col("event_type"))))
        .unionByName(prof("value", col("value"),
          floor(min(col("value")) * 1e6).cast("long"),
          floor(max(col("value")) * 1e6).cast("long")))
        .orderBy("col_name")
    }),
        """WITH e AS (SELECT event_id, user_id, event_type, value FROM events)
           SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
             CAST(min(event_id) AS VARCHAR) AS min_repr,
             CAST(max(event_id) AS VARCHAR) AS max_repr
           FROM e
           UNION ALL
           SELECT 'user_id', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT user_id) AS BIGINT),
             CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
           FROM e
           UNION ALL
           SELECT 'event_type', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT event_type) AS BIGINT),
             CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
           FROM e
           UNION ALL
           SELECT 'value', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT value) AS BIGINT),
             CAST(CAST(floor(min(value) * 1e6) AS BIGINT) AS VARCHAR),
             CAST(CAST(floor(max(value) * 1e6) AS BIGINT) AS VARCHAR)
           FROM e
           ORDER BY col_name""",
    ),

    // SCD2 dimension history from the events change-log: per user, runs of
    // identical event_type collapse into validity intervals (two window
    // functions over ONE key shuffle — Scd.scd2FromChangeLog)
    Query("q_scd2", ((s, dir) =>
      graft.operators.Scd.scd2FromChangeLog(
        ev(s, dir), keys = Seq("user_id"), ts = "ts",
        tiebreak = Seq("event_id"), attrs = Seq("event_type"))
        .orderBy("user_id", "valid_from")),
        s"""WITH c AS (
              SELECT user_id, $evTs AS ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY $evTs, event_id) AS prev
              FROM events),
            o AS (
              SELECT user_id, event_type, ts AS valid_from
              FROM c WHERE prev IS NULL OR prev <> event_type)
            SELECT user_id, event_type, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id
                ORDER BY valid_from) AS valid_to,
              lead(valid_from) OVER (PARTITION BY user_id
                ORDER BY valid_from) IS NULL AS is_current
            FROM o ORDER BY user_id, valid_from""",
    ),

    // CDC merge: latest-change-wins upsert/delete batch (ts > cutoff,
    // 'error' plays the delete op) applied to the current-state table
    // (latest per-user state at the cutoff) — one argmax aggregation per
    // side + one full-outer join, no window sort (Scd.applyChanges)
    Query("q_cdc_merge", ((s, dir) => {
      val e = ev(s, dir)
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val current = e.filter(col("ts") <= cutoff)
        .groupBy("user_id")
        .agg(max_by(struct(col("event_type").as("state"), col("value")),
          struct(col("ts"), col("event_id"))).as("__w"))
        .select(col("user_id"), col("__w.state").as("state"),
          col("__w.value").as("value"))
      val changes = e.filter(col("ts") > cutoff)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_type").as("state"), col("value"))
      graft.operators.Scd.applyChanges(current, changes,
        keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"),
        opCol = "op", payload = Seq("state", "value"))
        .orderBy("user_id")
    }),
        s"""WITH cur AS (
              SELECT user_id, event_type AS state, value FROM (
                SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY $evTs DESC, event_id DESC) AS rn
                FROM events
                WHERE $evTs <= TIMESTAMP '2024-01-15 00:00:00')
              WHERE rn = 1),
            chg AS (
              SELECT user_id,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                event_type AS state, value FROM (
                SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY $evTs DESC, event_id DESC) AS rn
                FROM events
                WHERE $evTs > TIMESTAMP '2024-01-15 00:00:00')
              WHERE rn = 1)
            SELECT COALESCE(c.user_id, l.user_id) AS user_id,
              CASE WHEN l.op IS NOT NULL THEN l.state ELSE c.state END AS state,
              CASE WHEN l.op IS NOT NULL THEN l.value ELSE c.value END AS value
            FROM cur c FULL JOIN chg l ON c.user_id = l.user_id
            WHERE COALESCE(l.op, 'U') <> 'D'
            ORDER BY user_id""",
    ),

    // Snapshot diff: customer vs a deterministically mutated successor
    // (%13 removed, %7 rebalanced, %5 re-segmented, %11 cloned under new
    // keys) — added/removed/changed classification with per-column change
    // lists from ONE full-outer join (SnapshotDiff.diff)
    Query("q_snapshot_diff", ((s, dir) => {
      val cust = t(s, dir, "customer")
      val after = cust.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 5 === 0, lit("MIGRATED"))
            .otherwise(col("c_mktsegment")))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.operators.SnapshotDiff.diff(cust, after, Seq("c_custkey"),
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .orderBy("change", "c_custkey")
    }),
        """WITH b AS (
             SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             FROM customer),
           a AS (
             SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal,
               CASE WHEN c_custkey % 5 = 0 THEN 'MIGRATED'
                    ELSE c_mktsegment END AS c_mktsegment
             FROM customer WHERE c_custkey % 13 <> 0
             UNION ALL
             SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
               c_mktsegment
             FROM customer WHERE c_custkey % 11 = 0),
           j AS (
             SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
               b.c_custkey IS NOT NULL AS inb, a.c_custkey IS NOT NULL AS ina,
               b.c_name AS bn, a.c_name AS an,
               b.c_nationkey AS bk, a.c_nationkey AS ak,
               b.c_acctbal AS bb, a.c_acctbal AS ab,
               b.c_mktsegment AS bm, a.c_mktsegment AS am
             FROM b FULL JOIN a ON b.c_custkey = a.c_custkey),
           d AS (
             SELECT c_custkey,
               CASE WHEN NOT inb THEN 'added'
                    WHEN NOT ina THEN 'removed'
                    ELSE 'changed' END AS change,
               concat_ws(',',
                 CASE WHEN bn IS DISTINCT FROM an THEN 'c_name' END,
                 CASE WHEN bk IS DISTINCT FROM ak THEN 'c_nationkey' END,
                 CASE WHEN bb IS DISTINCT FROM ab THEN 'c_acctbal' END,
                 CASE WHEN bm IS DISTINCT FROM am THEN 'c_mktsegment' END)
                 AS cc
             FROM j)
           SELECT c_custkey, change,
             CASE WHEN change = 'changed' THEN cc END AS changed_cols
           FROM d WHERE change <> 'changed' OR cc <> ''
           ORDER BY change, c_custkey""",
    ),

    // Declarative data-quality audit over lineitem: the row-local battery
    // folds into ONE scan; uniqueness adds one groupBy, referential
    // integrity one broadcast anti-join (ConstraintAudit.audit)
    Query("q_constraint_audit", ((s, dir) => {
      import graft.operators.ConstraintAudit._
      audit(t(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey_not_null", "l_orderkey"),
        InRange("l_quantity_1_50", "l_quantity", 1, 50),
        InRange("l_discount_0_01", "l_discount", 0, 0.1),
        Check("l_ship_after_19920101",
          col("l_shipdate") >= lit("1992-01-01").cast("timestamp")),
        Check("l_price_positive", col("l_extendedprice") > 0),
        Unique("l_order_line_unique", Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_orderkey_in_orders", "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")))
        .orderBy("constraint")
    }),
        """SELECT "constraint", n_violations FROM (
             SELECT 'l_orderkey_not_null' AS "constraint",
               CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
             FROM lineitem
             UNION ALL
             SELECT 'l_quantity_1_50',
               CAST(coalesce(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                 THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM lineitem
             UNION ALL
             SELECT 'l_discount_0_01',
               CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                 THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM lineitem
             UNION ALL
             SELECT 'l_ship_after_19920101',
               CAST(coalesce(sum(CASE WHEN NOT coalesce(
                 CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1992-01-01',
                 true) THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM lineitem
             UNION ALL
             SELECT 'l_price_positive',
               CAST(coalesce(sum(CASE WHEN NOT coalesce(l_extendedprice > 0,
                 true) THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM lineitem
             UNION ALL
             SELECT 'l_order_line_unique',
               CAST(coalesce((SELECT sum(c - 1) FROM (
                 SELECT count(*) AS c FROM lineitem
                 GROUP BY l_orderkey, l_linenumber)), 0) AS BIGINT)
             UNION ALL
             SELECT 'l_orderkey_in_orders',
               CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT))
           ORDER BY "constraint"""",
    ),

    // J-class scale operator: BIG-BIG interval-overlap join — purchase
    // attribution windows [ts, ts+2h) against click activity windows
    // [ts, ts+1h) per user. The naive keyed theta join enumerates every
    // same-key pair with the range predicate as a residual filter
    // (quadratic per key); IntervalJoin widens the equi key to
    // (user, 2h bucket) so only bucket-sharing pairs are enumerated —
    // no broadcast, no nested loop, each qualifying pair emitted exactly
    // once (attributed to the later start's bucket). The oracle runs the
    // plain non-equi SQL: identical rows by construction.
    Query("q_interval_overlap", ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("e"),
          col("event_id").as("lid"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("e"),
          col("event_id").as("rid"))
      graft.operators.IntervalJoin
        .overlapJoin(purchases, clicks, Seq("user_id"), "s", "e", "s", "e",
          suffix = "_r", bucketSeconds = 7200L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("lid")).cast("long").as("sum_lid"),
          sum(col("rid_r")).cast("long").as("sum_rid"))
        .orderBy("user_id")
    }),
        s"""WITH l AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 2 HOUR AS e,
                     event_id AS lid
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 1 HOUR AS e,
                     event_id AS rid
              FROM events WHERE event_type = 'click')
            SELECT l.user_id,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(l.lid) AS BIGINT) AS sum_lid,
                   CAST(sum(r.rid) AS BIGINT) AS sum_rid
            FROM l JOIN r
              ON l.user_id = r.user_id AND l.s < r.e AND r.s < l.e
            GROUP BY 1 ORDER BY 1""",
    ),

    // the AUTO-dispatched overlap join: bucket width MEASURED off the
    // interval lengths (two narrow max/p99 probes, Probes
    // .intervalLengthStats) instead of hand-picked — width is purely
    // physical, so this hash-matches the same plain non-equi oracle
    Query("q_interval_auto", ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("e"),
          col("event_id").as("lid"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("e"),
          col("event_id").as("rid"))
      graft.operators.IntervalJoin
        .overlapJoinAuto(purchases, clicks, Seq("user_id"), "s", "e", "s", "e")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("lid")).cast("long").as("sum_lid"),
          sum(col("rid_r")).cast("long").as("sum_rid"))
        .orderBy("user_id")
    }),
      // identical semantics to q_interval_overlap — the auto dispatch only
      // picks the physical bucket width, never the rows
        s"""WITH l AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 2 HOUR AS e,
                     event_id AS lid
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 1 HOUR AS e,
                     event_id AS rid
              FROM events WHERE event_type = 'click')
            SELECT l.user_id,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(l.lid) AS BIGINT) AS sum_lid,
                   CAST(sum(r.rid) AS BIGINT) AS sum_rid
            FROM l JOIN r
              ON l.user_id = r.user_id AND l.s < r.e AND r.s < l.e
            GROUP BY 1 ORDER BY 1""",
    ),

    // LEFT OUTER overlap join: purchases with no overlapping click survive
    // NULL-filled (the reference's own join keeps unmatched left rows —
    // ASOF LEFT, clickhouse_ohlc_generator.py:187-190). Same bucketed
    // decomposition for the matched pairs; the unmatched remainder is a
    // narrow signature anti join, no row ids, no broadcast. Oracled
    // against DuckDB's plain LEFT JOIN with the range predicate in ON.
    Query("q_interval_left", ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("e"),
          col("event_id").as("lid"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("e"),
          col("event_id").as("rid"))
      graft.operators.IntervalJoin
        .overlapJoinLeft(purchases, clicks, Seq("user_id"), "s", "e", "s", "e",
          suffix = "_r", bucketSeconds = 7200L)
        .groupBy("user_id")
        .agg(count(col("rid_r")).as("n_matched"),
          sum(when(col("rid_r").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum(col("lid")).cast("long").as("sum_lid"),
          coalesce(sum(col("rid_r")), lit(0L)).cast("long").as("sum_rid"))
        .orderBy("user_id")
    }),
      // LEFT OUTER overlap: the range predicate lives in ON, so unmatched
      // purchases survive NULL-filled — count(r.rid) skips them,
      // n_unmatched counts them, and every purchase-holding user appears
        s"""WITH l AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 2 HOUR AS e,
                     event_id AS lid
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id, $evTs AS s, $evTs + INTERVAL 1 HOUR AS e,
                     event_id AS rid
              FROM events WHERE event_type = 'click')
            SELECT l.user_id,
                   CAST(count(r.rid) AS BIGINT) AS n_matched,
                   CAST(sum(CASE WHEN r.rid IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_unmatched,
                   CAST(sum(l.lid) AS BIGINT) AS sum_lid,
                   CAST(coalesce(sum(r.rid), 0) AS BIGINT) AS sum_rid
            FROM l LEFT JOIN r
              ON l.user_id = r.user_id AND l.s < r.e AND r.s < l.e
            GROUP BY 1 ORDER BY 1""",
    ),
  )
}
