package graft
package suite

import org.apache.spark.sql.functions._

import graft.suite.Shared._

/** Graph operators: weighted PageRank and exact triangle counts.
  */
object GraphQueries {

  val queries: Seq[Query] = Seq(
    // weighted PageRank over the nation-level trade graph (cust-nation →
    // supp-nation, weight = lineitem multiplicity): fixed-iteration
    // iterative graph compute as join + partial-agg rounds with lineage
    // cuts — the domain-authority ranking a crawl pipeline scores source
    // hosts with, in exact e6 integer arithmetic (operators.PageRank)
    Query("q_pagerank", ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation").select(col("n_nationkey").as("cnk"),
          col("n_name").as("src")), col("c_nationkey") === col("cnk"))
        .join(t(s, dir, "nation").select(col("n_nationkey").as("snk"),
          col("n_name").as("dst")), col("s_nationkey") === col("snk"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.operators.PageRank.weightedRanksE6(edges, iters = 5)
        .orderBy(col("rank_e6").desc, col("node"))
    }),
      // PageRank mirror: same trade-graph edges, 5 unrolled iterations of
      // the integer update rank' = 150000 + 850000·Σ(rank·w // tw) // 1e6
      // (floor division inside the sum, identical association)
      {
        val iter = (prev: String, cur: String) =>
          s"""$cur AS (
             SELECT n.node,
               150000 + 850000 * COALESCE(s.c, 0) // 1000000 AS rank_e6
             FROM nodes n LEFT JOIN (
               SELECT e.dst AS node,
                 CAST(sum(r.rank_e6 * e.w // e.tw) AS BIGINT) AS c
               FROM ew e JOIN $prev r ON e.src = r.node GROUP BY 1) s
             USING (node))"""
        """WITH edges AS (
             SELECT cn.n_name AS src, sn.n_name AS dst,
               CAST(count(*) AS BIGINT) AS w
             FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             JOIN nation cn ON c.c_nationkey = cn.n_nationkey
             JOIN nation sn ON s.s_nationkey = sn.n_nationkey
             GROUP BY 1, 2),
           ew AS (
             SELECT e.src, e.dst, e.w, t.tw
             FROM edges e JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS tw
                                FROM edges GROUP BY 1) t USING (src)),
           nodes AS (SELECT src AS node FROM edges
                     UNION SELECT dst FROM edges),
           r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6
                  FROM nodes),
           """ +
          Seq("r0" -> "r1", "r1" -> "r2", "r2" -> "r3", "r3" -> "r4",
            "r4" -> "r5").map { case (p, c) => iter(p, c) }.mkString(",\n") +
          """
           SELECT node, rank_e6 FROM r5 ORDER BY rank_e6 DESC, node"""
      },
    ),

    // Exact triangle counts on the part co-purchase graph (parts sharing
    // an order), degree-ordered node-iterator — per-node wedge fanout
    // bounded O(√m) (Triangles.perNodeCounts); top-100 participants
    Query("q_triangles", ((s, dir) => {
      // co-purchase edges WITHOUT a lineitem self-join: one partial-agg
      // groupBy to the per-order part set, then a narrow in-row pair
      // explosion — same edge set as join-on-orderkey + u<v (Triangles
      // dedups), but the fact table shuffles once as (order, parts)
      // instead of twice through a join
      val li = t(s, dir, "lineitem")
      val edges = li.groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)), y ->
                 named_struct('u', x, 'v', y))))""")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      graft.operators.Triangles.perNodeCounts(edges, "u", "v")
        .orderBy(col("n_tri").desc, col("node")).limit(100)
    }),
        """WITH e0 AS (
             SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           deg AS (
             SELECT n, count(*) AS d FROM (
               SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
             GROUP BY 1),
           o AS (
             SELECT CASE WHEN (d1.d, u) < (d2.d, v) THEN u ELSE v END AS src,
                    CASE WHEN (d1.d, u) < (d2.d, v) THEN v ELSE u END AS dst
             FROM e0 JOIN deg d1 ON d1.n = e0.u JOIN deg d2 ON d2.n = e0.v),
           w AS (
             SELECT o1.src AS c, o1.dst AS x, o2.dst AS y
             FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
           cl AS (
             SELECT src AS x, dst AS y FROM o
             UNION ALL SELECT dst, src FROM o),
           t AS (SELECT c, x, y FROM w JOIN cl USING (x, y)),
           n AS (SELECT unnest([c, x, y]) AS node FROM t)
           SELECT node, CAST(count(*) AS BIGINT) AS n_tri
           FROM n GROUP BY 1 ORDER BY n_tri DESC, node LIMIT 100""",
    ),
  )
}
