package graft
package suite

import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.suite.Shared._
import graft.vector.VectorFunctions

/** Vector search over embeddings: exact cosine top-k, LSH, IVF, int8 and
  * product-quantization ANN with their recall evaluations, fusion and MMR
  * re-ranking, centroids, norms and scalar quantization.
  */
object VectorQueries {

  // Shared CTE chain for the int8 retrieval oracles (q_ann_int8 and its
  // recall evaluation): per-vector quantization (the q_vec_quant mirror),
  // exact-BIGINT shortlist key, float-cosine re-rank of the shortlist.
  private val annInt8Ctes =
    """WITH base AS (
         SELECT vec_id, embedding,
           greatest(CAST(list_max(embedding) AS DOUBLE),
                    -CAST(list_min(embedding) AS DOUBLE), 1e-12) AS amax
         FROM embeddings),
       coded AS (
         SELECT vec_id, embedding, amax,
           greatest(CAST(floor(amax * 1e6) AS BIGINT), CAST(1 AS BIGINT)) AS amax_e6,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT))
             AS codes
         FROM base),
       q AS (SELECT vec_id AS query_id, embedding AS qe, codes AS qc
             FROM coded WHERE vec_id < 20),
       s AS (
         SELECT query_id, c.vec_id AS neighbor_id, qe, c.embedding AS ce,
           c.amax_e6 * list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(qc)+1), i -> qc[i] * c.codes[i])),
             (x, y) -> x + y) AS int8_key
         FROM q, coded c WHERE c.vec_id != query_id),
       sl AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY int8_key DESC, neighbor_id) AS srank
         FROM s),
       re AS (
         SELECT query_id, neighbor_id, int8_key, srank,
           list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
             i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))), (x,y) -> x + y)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))), (x,y) -> x + y))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ce)+1),
                i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
         FROM sl WHERE srank <= 20),
       r AS (
         SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         FROM re)"""

  // Shared CTE chain for the product-quantization oracles (q_ann_pq and its
  // recall evaluation): subvector slicing, hash-seeded codebooks, ONE
  // unrolled Lloyd iteration per subspace (L2² argmin assignment with ties
  // on cell, decimal-exact per-component means, empty cells keep their
  // centroid), corpus encoding, per-query distance LUTs, sequential-fold
  // ADC, float-cosine re-rank — the full VectorFunctions.pqRerank mirror.
  private val annPqCtes = {
    def l2(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1),
            i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
               * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (x,y) -> x + y)"""
    val (m, ksub, iters) = (8, 16, 2)
    // one unrolled Lloyd iteration: L2² argmin assignment (ties on cell),
    // decimal-exact per-component means, empty cells keep their centroid
    def lloyd(i: Int): String = {
      val prev = s"cb${i - 1}"
      s"""pa$i AS (
         SELECT sub, cell, svec FROM (
           SELECT v.sub, c.cell, v.svec,
             row_number() OVER (PARTITION BY v.vec_id, v.sub
               ORDER BY ${l2("v.svec", "c.cent")} ASC, c.cell) AS rk
           FROM sv v JOIN $prev c ON c.sub = v.sub)
         WHERE rk = 1),
       pm$i AS (
         SELECT sub, cell, pos,
           CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
             / count(*) AS m
         FROM (SELECT sub, cell, generate_subscripts(svec, 1) AS pos,
                      unnest(svec) AS x FROM pa$i)
         GROUP BY sub, cell, pos),
       cb$i AS (
         SELECT c.sub, c.cell, coalesce(u.newc, c.cent) AS cent
         FROM $prev c LEFT JOIN (
           SELECT sub, cell,
             list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS newc
           FROM pm$i GROUP BY sub, cell) u
           ON u.sub = c.sub AND u.cell = c.cell)"""
    }
    s"""WITH sv AS (
         SELECT e.vec_id, s.sub,
           e.embedding[s.sub*(len(e.embedding)//$m)+1 :
                       s.sub*(len(e.embedding)//$m)+(len(e.embedding)//$m)] AS svec
         FROM embeddings e CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       pqseeds AS (
         SELECT vec_id FROM embeddings
         ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007, vec_id
         LIMIT $ksub),
       cb0 AS (
         SELECT v.sub, v.vec_id AS cell, v.svec AS cent
         FROM sv v JOIN pqseeds d ON d.vec_id = v.vec_id),
       ${(1 to iters).map(lloyd).mkString(",\n       ")},
       codes AS (
         SELECT vec_id, sub, cell FROM (
           SELECT v.vec_id, v.sub, c.cell,
             row_number() OVER (PARTITION BY v.vec_id, v.sub
               ORDER BY ${l2("v.svec", "c.cent")} ASC, c.cell) AS rk
           FROM sv v JOIN cb$iters c ON c.sub = v.sub)
         WHERE rk = 1),
       lut AS (
         SELECT v.vec_id AS query_id, v.sub, c.cell,
           ${l2("v.svec", "c.cent")} AS d
         FROM sv v JOIN cb$iters c ON c.sub = v.sub
         WHERE v.vec_id < 20),
       adc AS (
         SELECT l.query_id, cd.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list(l.d ORDER BY l.sub)),
             (x,y) -> x + y) AS adc
         FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.cell = cd.cell
         WHERE cd.vec_id <> l.query_id
         GROUP BY l.query_id, cd.vec_id),
       psl AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS srank
         FROM adc),
       pre AS (
         SELECT query_id, neighbor_id, adc, srank,
           list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.embedding)+1),
             i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))), (x,y) -> x + y)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.embedding)+1),
                i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))), (x,y) -> x + y))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ce.embedding)+1),
                i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))), (x,y) -> x + y)))
           AS sim
         FROM psl
         JOIN embeddings qe ON qe.vec_id = psl.query_id
         JOIN embeddings ce ON ce.vec_id = psl.neighbor_id
         WHERE srank <= 50),
       pr AS (
         SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         FROM pre)"""
  }

  val queries: Seq[Query] = Seq(
    // similarity search: exact brute-force cosine top-k
    Query("q_cosine_topk", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                      FROM embeddings WHERE vec_id < 20),
           c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
           s AS (
             SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                 i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                    i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ce)+1),
                    i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
             FROM q, c WHERE neighbor_id != query_id),
           r AS (
             SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
             FROM s)
           SELECT query_id, neighbor_id, sim, rank FROM r
           WHERE rank <= 5 ORDER BY query_id, rank""",
    ),

    // hybrid-retrieval fusion: exact float ranking ⊕ int8-shortlist
    // ranking combined by reciprocal-rank fusion in exact integers
    // (VectorFunctions.rrfFuse) — the lexical⊕semantic combiner shape,
    // here fusing the two retrieval stages the engine already mirrors
    Query("q_rrf_fusion", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val bf = VectorFunctions
        .bruteForceTopK(emb, q, "vec_id", "embedding", k = 20)
        .select("query_id", "neighbor_id", "rank")
      val i8 = VectorFunctions
        .annInt8Rerank(emb, q, "vec_id", "embedding", k = 20, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"), col("srank").as("rank"))
      VectorFunctions.rrfFuse(Seq(i8, bf), rrfK = 60, topK = 5)
        .orderBy("query_id", "frank")
    }),
      // RRF mirror: the int8 shortlist CTEs plus a brute-force cosine
      // ranking, fused with the same integer contributions
      (annInt8Ctes + """,
           i8rank AS (SELECT query_id, neighbor_id,
                        CAST(srank AS BIGINT) AS rank FROM r),
           bfs AS (
             SELECT query_id, c.vec_id AS neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                 i -> CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                    i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.embedding)+1),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
             FROM q, coded c WHERE c.vec_id != query_id),
           bfr AS (
             SELECT query_id, neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
                 AS BIGINT) AS rank
             FROM bfs),
           uni AS (
             SELECT query_id, neighbor_id, rank FROM i8rank
             UNION ALL
             SELECT query_id, neighbor_id, rank FROM bfr WHERE rank <= 20),
           fused AS (
             SELECT query_id, neighbor_id,
               CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_e6,
               CAST(count(*) AS INTEGER) AS n_lists
             FROM uni GROUP BY 1, 2),
           fr AS (
             SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_e6 DESC, neighbor_id)
               AS INTEGER) AS frank
             FROM fused)
           SELECT query_id, neighbor_id, rrf_e6, n_lists, frank
           FROM fr WHERE frank <= 5 ORDER BY query_id, frank"""),
    ),

    // nearest-centroid classification + confusion matrix: decimal-exact
    // per-label centroids (the q_centroid construction) broadcast as L
    // rows, sequential-fold L2 distances, per-vector argmin with
    // deterministic tie-break — label quality audit of an embedding space
    Query("q_nearest_centroid", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val cent = emb
        .select(col("label").as("clabel"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("clabel", "pos")
        .agg(count(lit(1)).as("n"), dsum(col("v").cast("double")).as("sv"))
        .select(col("clabel"), col("pos"),
          (floor(col("sv") / col("n") * lit(1e6)) / 1e6).as("m"))
        .groupBy("clabel")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("clabel"), expr("transform(pm, e -> e.m)").as("cvec"))
      emb.crossJoin(broadcast(cent))
        .withColumn("d", expr(
          """aggregate(zip_with(embedding, cvec,
             (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),
             CAST(0.0 AS DOUBLE), (x, y) -> x + y)"""))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d"), col("clabel"))))
        .filter(col("rn") === 1)
        .groupBy(col("label"), col("clabel").as("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    }),
      // nearest-centroid mirror: q_centroid's decimal-exact means packed
      // into per-label arrays, the same sequential-fold squared distance,
      // argmin by (d, label)
        """WITH comp AS (
             SELECT label AS clabel, generate_subscripts(embedding, 1) AS pos,
                    unnest(embedding) AS v
             FROM embeddings),
           cm AS (
             SELECT clabel, pos,
               floor(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*) * 1e6) / 1e6 AS m
             FROM comp GROUP BY 1, 2),
           cv AS (SELECT clabel, list(m ORDER BY pos) AS cvec
                  FROM cm GROUP BY 1),
           da AS (
             SELECT e.vec_id, e.label, c.clabel,
               list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))),
                 (x, y) -> x + y) AS d
             FROM embeddings e CROSS JOIN cv c),
           bst AS (
             SELECT vec_id, label, clabel,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel)
                 AS rn
             FROM da)
           SELECT label, clabel AS assigned, CAST(count(*) AS BIGINT) AS n
           FROM bst WHERE rn = 1 GROUP BY 1, 2 ORDER BY label, assigned""",
    ),

    // vector norms / dims (embedding hygiene scan)
    Query("q_embed_norm", ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("int").as("dim"),
          VectorFunctions.norm2(col("embedding")).as("norm"))
        .orderBy("vec_id")),
        """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b)) AS norm
           FROM embeddings ORDER BY vec_id""",
    ),

    // similarity search: LSH-bucketed ANN — hash-oracled (the DuckDB mirror
    // replays the same hyperplane bucket construction); recall vs brute
    // force is additionally asserted in ScalaTest
    Query("q_ann_lsh", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .lshTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nbits = 8)
        .orderBy("query_id", "rank")
    }),
      // Full LSH ANN path, exactly mirrored: hyperplane coefficients are a
      // pure integer-hash formula (see functions.HyperplaneBuckets), dots
      // and cosines are sequential folds, rank ties break on neighbor id.
      // nbits=8, tables=8 matches the q_ann_lsh call.
        """WITH buck AS (
             SELECT vec_id, t.tbl AS tbl,
               CAST(list_sum(list_transform(range(0, 8), b ->
                 CASE WHEN list_reduce(list_prepend(0.0,
                        list_transform(range(1, len(embedding)+1), j ->
                          CAST(embedding[j] AS DOUBLE) *
                          (CAST(((1000003*(t.tbl*8+b) + 7919*(j-1) + 12345)
                                 * 2654435761) % 1000000007 AS DOUBLE)
                           * 2.0 / 1000000007.0 - 1.0))),
                      (x, y) -> x + y) >= 0
                 THEN 1 << (7 - b) ELSE 0 END)) AS BIGINT) AS bucket
             FROM embeddings, (SELECT unnest(range(0, 8)) AS tbl) t),
           cand AS (
             SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
             WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
           scored AS (
             SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.embedding)+1),
                 i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.embedding)+1),
                    i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ce.embedding)+1),
                    i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))), (x,y) -> x + y)))
               AS sim
             FROM cand
             JOIN embeddings qe ON qe.vec_id = query_id
             JOIN embeddings ce ON ce.vec_id = neighbor_id),
           rk AS (
             SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
             FROM scored)
           SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
           FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",
    ),

    // similarity search: IVF-partitioned ANN — hash-oracled (DuckDB mirrors
    // the deterministic first-nlist centroid stub and the same cosine
    // folds); recall vs brute force additionally asserted in ScalaTest
    Query("q_ann_ivf", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
      // IVF ANN path, exactly mirrored: centroids are the deterministic
      // first-nlist stub (nlist=16), assignment/probing by the same
      // sequential cosine folds, nprobe=4, k=5 — matching the q_ann_ivf
      // call. Each neighbor lives in exactly one cell, so no pair dedup.
        """WITH cents AS (
             SELECT vec_id AS cell, embedding AS cent
             FROM embeddings ORDER BY vec_id LIMIT 16),
           cassign AS (
             SELECT neighbor_id, emb, cell FROM (
               SELECT e.vec_id AS neighbor_id, e.embedding AS emb, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), (x,y) -> x + y))
                    * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent)+1),
                        i -> CAST(c.cent[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)))
                   DESC, c.cell) AS rk
               FROM embeddings e CROSS JOIN cents c)
             WHERE rk <= 1),
           qprobe AS (
             SELECT query_id, qemb, cell FROM (
               SELECT q.vec_id AS query_id, q.embedding AS qemb, c.cell,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(q.embedding)+1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q.embedding)+1),
                        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), (x,y) -> x + y))
                    * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.cent)+1),
                        i -> CAST(c.cent[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)))
                   DESC, c.cell) AS rk
               FROM embeddings q CROSS JOIN cents c
               WHERE q.vec_id < 20)
             WHERE rk <= 4),
           scored AS (
             SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qemb)+1),
                 i -> CAST(qemb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qemb)+1),
                    i -> CAST(qemb[i] AS DOUBLE) * CAST(qemb[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
                    i -> CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE))), (x,y) -> x + y)))
               AS sim
             FROM cassign JOIN qprobe USING (cell)
             WHERE neighbor_id <> query_id),
           rk AS (
             SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
             FROM scored)
           SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
           FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",
    ),

    // similarity search: IVF with REAL k-means-trained centroids — the
    // whole Lloyd loop (portable-hash seeding, cosine argmax assignment,
    // decimal-exact centroid means) is mirrored in the DuckDB oracle, so
    // this is hash-checked end to end, training included
    Query("q_ann_ivf_trained", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .ivfTopKTrained(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 2, trainIters = 2)
        .orderBy("query_id", "rank")
    }),
      // Trained-IVF ANN, the ENTIRE k-means loop mirrored: seeds = first 8
      // vectors by the portable multiplicative hash, two unrolled Lloyd
      // iterations (cosine argmax assignment with ties on cell, per-
      // component decimal-exact means, empty cells keep their centroid),
      // then the same assign/probe/score plumbing as q_ann_ivf with
      // nprobe=2, k=5. Norms are factored into `ev`/`cnrm` once — same
      // IEEE ops as the inline sqrt folds, just not repeated.
        """WITH ev AS (
             SELECT vec_id, embedding,
               sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (x,y) -> x + y)) AS nrm
             FROM embeddings),
           seeds AS (
             SELECT vec_id AS cell, embedding AS cent, nrm AS cnrm FROM ev
             ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007, vec_id
             LIMIT 8),
           a1 AS (
             SELECT cell, emb FROM (
               SELECT e.embedding AS emb, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (e.nrm * c.cnrm) DESC, c.cell) AS rk
               FROM ev e CROSS JOIN seeds c)
             WHERE rk = 1),
           m1 AS (
             SELECT cell, pos,
               CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) AS m
             FROM (SELECT cell, generate_subscripts(emb, 1) AS pos,
                          unnest(emb) AS v FROM a1)
             GROUP BY cell, pos),
           c1 AS (
             SELECT cell, cent,
               sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cent)+1),
                 i -> CAST(cent[i] AS DOUBLE) * CAST(cent[i] AS DOUBLE))), (x,y) -> x + y)) AS cnrm
             FROM (
               SELECT s.cell, coalesce(u.newc, s.cent) AS cent
               FROM seeds s LEFT JOIN (
                 SELECT cell,
                   list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS newc
                 FROM m1 GROUP BY cell) u USING (cell))),
           a2 AS (
             SELECT cell, emb FROM (
               SELECT e.embedding AS emb, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (e.nrm * c.cnrm) DESC, c.cell) AS rk
               FROM ev e CROSS JOIN c1 c)
             WHERE rk = 1),
           m2 AS (
             SELECT cell, pos,
               CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) AS m
             FROM (SELECT cell, generate_subscripts(emb, 1) AS pos,
                          unnest(emb) AS v FROM a2)
             GROUP BY cell, pos),
           c2 AS (
             SELECT cell, cent,
               sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cent)+1),
                 i -> CAST(cent[i] AS DOUBLE) * CAST(cent[i] AS DOUBLE))), (x,y) -> x + y)) AS cnrm
             FROM (
               SELECT s.cell, coalesce(u.newc, s.cent) AS cent
               FROM c1 s LEFT JOIN (
                 SELECT cell,
                   list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS newc
                 FROM m2 GROUP BY cell) u USING (cell))),
           cassign AS (
             SELECT neighbor_id, emb, nrm, cell FROM (
               SELECT e.vec_id AS neighbor_id, e.embedding AS emb, e.nrm, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (e.nrm * c.cnrm) DESC, c.cell) AS rk
               FROM ev e CROSS JOIN c2 c)
             WHERE rk = 1),
           qprobe AS (
             SELECT query_id, qemb, qnrm, cell FROM (
               SELECT q.vec_id AS query_id, q.embedding AS qemb, q.nrm AS qnrm, c.cell,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(q.embedding)+1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (q.nrm * c.cnrm) DESC, c.cell) AS rk
               FROM ev q CROSS JOIN c2 c
               WHERE q.vec_id < 20)
             WHERE rk <= 2),
           scored AS (
             SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qemb)+1),
                 i -> CAST(qemb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE))), (x,y) -> x + y)
               / (qnrm * nrm) AS sim
             FROM cassign JOIN qprobe USING (cell)
             WHERE neighbor_id <> query_id),
           rk AS (
             SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
             FROM scored)
           SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
           FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",
    ),

    // similarity search: two-stage int8 retrieval — integer-exact
    // quantized shortlist (amax_e6 · Σ qcode·dcode, codes =
    // floor(x·127/amax + ½)) re-ranked by true float cosine. The whole
    // shortlist stage is BIGINT arithmetic, so candidates AND final ranks
    // hash-match DuckDB end to end (see VectorFunctions.annInt8Rerank).
    Query("q_ann_int8", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .annInt8Rerank(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, shortlist = 20)
        .orderBy("query_id", "rank")
    }),
      // Two-stage int8 retrieval: quantization (the q_vec_quant mirror),
      // EXACT-BIGINT shortlist key amax_e6 · Σ qcode·dcode, float-cosine
      // re-rank (the q_cosine_topk fold) over the shortlist only.
      (annInt8Ctes + """
           SELECT query_id, neighbor_id, sim, rank, int8_key,
             CAST(srank AS INTEGER) AS srank
           FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
    ),

    // ANN EVALUATION: recall@5 of the int8-shortlist+rerank path against
    // exact float top-5 — the harness an ANN deployment runs before
    // trading accuracy for the 4× bandwidth win. Per-query hit counts are
    // exact integers (both constituent rankings are deterministic and
    // independently oracled), so the whole evaluation hash-matches.
    Query("q_ann_int8_recall", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val bf = VectorFunctions
        .bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val i8 = VectorFunctions
        .annInt8Rerank(emb, q, "vec_id", "embedding", k = 5, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      bf.join(i8, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .orderBy("query_id")
    }),
      // Recall@5 of the int8 path vs exact float top-5: both rankings are
      // the already-mirrored constructions; per-query hits are integers.
      (annInt8Ctes + """,
           i8 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
           bfs AS (
             SELECT query_id, c.vec_id AS neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                 i -> CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qe)+1),
                    i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.embedding)+1),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
             FROM q, coded c WHERE c.vec_id != query_id),
           bf AS (
             SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM bfs) WHERE rnk <= 5)
           SELECT bf.query_id AS query_id,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN i8.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
           FROM bf LEFT JOIN i8
             ON bf.query_id = i8.query_id AND bf.neighbor_id = i8.neighbor_id
           GROUP BY bf.query_id ORDER BY query_id"""),
    ),

    // similarity search: PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) —
    // per-subspace codebooks trained by the decimal-exact Lloyd loop,
    // corpus stored as m=4 codebook cells, per-query distance LUTs,
    // sequential-fold ADC shortlist, true-cosine re-rank. The ENTIRE
    // pipeline (training, encoding, ADC, re-rank) is mirrored in the
    // DuckDB oracle, so this hash-checks end to end like q_ann_ivf_trained.
    Query("q_ann_pq", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .pqRerank(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, m = 8, ksub = 16, shortlist = 50, trainIters = 2)
        .orderBy("query_id", "rank")
    }),
      // Product-quantization ANN, the ENTIRE pipeline mirrored: codebook
      // training (one Lloyd iteration per subspace, same decimal-exact
      // discipline as q_ann_ivf_trained), encoding, sequential-fold ADC
      // shortlist, float-cosine re-rank.
      (annPqCtes + """
           SELECT query_id, neighbor_id, sim, rank, adc,
             CAST(srank AS INTEGER) AS srank
           FROM pr WHERE rank <= 5 ORDER BY query_id, rank"""),
    ),

    // ANN EVALUATION: recall@5 of the PQ-ADC+rerank path against exact
    // float top-5 (the q_ann_int8_recall harness pointed at the 64×-
    // compression operating point instead of int8's 4×). Exact-integer
    // hit counts; hash-matches end to end.
    Query("q_ann_pq_recall", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val bf = VectorFunctions
        .bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      val pq = VectorFunctions
        .pqRerank(emb, q, "vec_id", "embedding", k = 5, m = 8, ksub = 16,
          shortlist = 50, trainIters = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      bf.join(pq, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .orderBy("query_id")
    }),
      // Recall@5 of the PQ path vs exact float top-5 (the int8_recall
      // harness at the 64×-compression operating point).
      (annPqCtes + """,
           pqr AS (SELECT query_id, neighbor_id FROM pr WHERE rank <= 5),
           pbfs AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(q.embedding)+1),
                 i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q.embedding)+1),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.embedding)+1),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
             FROM embeddings q, embeddings c
             WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
           pbf AS (
             SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM pbfs) WHERE rnk <= 5)
           SELECT pbf.query_id AS query_id,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN pqr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
           FROM pbf LEFT JOIN pqr
             ON pbf.query_id = pqr.query_id AND pbf.neighbor_id = pqr.neighbor_id
           GROUP BY pbf.query_id ORDER BY query_id"""),
    ),

    // vector scalar quantization (int8) with reconstruction-error audit —
    // the storage-side half of ANN at scale (4 bytes -> 1 byte per dim);
    // integer outputs via the floor(x*1e6) convention keep it hash-exact
    Query("q_vec_quant", ((s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("amax",
          greatest(array_max(col("embedding")).cast("double"),
            -array_min(col("embedding")).cast("double"), lit(1e-12)))
        .withColumn("sum_abs_err",
          expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                  (a, x) -> a + abs(CAST(x AS DOUBLE) -
                    floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) * amax / 127.0))"""))
        .select(
          col("vec_id"),
          floor(col("amax") * 1e6).cast("long").as("amax_e6"),
          floor(col("sum_abs_err") / size(col("embedding")) * 1e9).cast("long")
            .as("mae_e9"))
        .orderBy("vec_id")),
        """SELECT vec_id,
             CAST(floor(amax * 1e6) AS BIGINT) AS amax_e6,
             CAST(floor(sum_abs_err / len(embedding) * 1e9) AS BIGINT) AS mae_e9
           FROM (
             SELECT vec_id, embedding,
               greatest(CAST(list_max(embedding) AS DOUBLE),
                        -CAST(list_min(embedding) AS DOUBLE), 1e-12) AS amax,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(embedding, x ->
                   abs(CAST(x AS DOUBLE) -
                     floor(CAST(x AS DOUBLE) * 127.0 /
                       greatest(CAST(list_max(embedding) AS DOUBLE),
                                -CAST(list_min(embedding) AS DOUBLE), 1e-12) + 0.5) *
                     greatest(CAST(list_max(embedding) AS DOUBLE),
                              -CAST(list_min(embedding) AS DOUBLE), 1e-12) / 127.0))),
                 (a, b) -> a + b) AS sum_abs_err
             FROM embeddings)
           ORDER BY vec_id""",
    ),

    // Per-label embedding centroids: posexplode to (label, pos) cells keeps
    // the aggregation partially-combinable with no per-vector state — the
    // centroid step of IVF/k-means at corpus scale
    Query("q_centroid", ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), dsum(col("v").cast("double")).as("sv"))
        .select(
          col("label"), col("pos").cast("int").as("pos"), col("n"),
          (floor(col("sv") / col("n") * lit(1e6)) / 1e6).as("mean_v"))
        .orderBy("label", "pos")),
        """SELECT label, CAST(pos - 1 AS INTEGER) AS pos,
             CAST(count(*) AS BIGINT) AS n,
             floor(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*) * 1e6) / 1e6 AS mean_v
           FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                        unnest(embedding) AS v
                 FROM embeddings)
           GROUP BY label, pos ORDER BY label, pos""",
    ),

    // MMR diversity re-rank over the int8 shortlist: greedy
    // λ·rel − (1−λ)·maxSim selection in one consistent exact-integer
    // scale (Mmr.rerank; 8 queries, top-5 from a 25-candidate shortlist)
    Query("q_mmr", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.vector.Mmr.rerank(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, shortlist = 25, lambdaTenths = 7)
        .orderBy("query_id", "sel_rank")
    }),
      // greedy MMR unrolled to 5 selection steps (the q_pagerank unrolling
      // pattern): candidates are the per-query top-25 by the exact-integer
      // key e6(q)·e6(d)·Σ(qc·dc); each step excludes selected rows,
      // penalizes by the max pairwise key to the selected set, and picks
      // argmax(7·rel − 3·maxSim) with id tiebreak
      {
        val dotSql = (a: String, b: String) =>
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])),
              (x, y) -> x + y)"""
        val step = (prev: String, pick: String, next: String, ord: Int) =>
          s"""p$ord AS (
               SELECT c.query_id, c.neighbor_id, c.codes, c.e6, c.rel_key,
                 max(c.e6 * s.e6 * ${dotSql("c.codes", "s.codes")}) AS ms
               FROM cand c JOIN $prev s ON s.query_id = c.query_id
               WHERE NOT EXISTS (SELECT 1 FROM $prev x
                 WHERE x.query_id = c.query_id
                   AND x.neighbor_id = c.neighbor_id)
               GROUP BY 1, 2, 3, 4, 5),
             $pick AS (
               SELECT query_id, neighbor_id, codes, e6,
                 $ord AS sel_rank, 7 * rel_key - 3 * ms AS score
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY 7 * rel_key - 3 * ms DESC, neighbor_id) AS rn
                     FROM p$ord)
               WHERE rn = 1),
             $next AS (SELECT * FROM $prev UNION ALL SELECT * FROM $pick)"""
        s"""WITH base AS (
              SELECT vec_id, embedding,
                greatest(CAST(list_max(embedding) AS DOUBLE),
                         -CAST(list_min(embedding) AS DOUBLE), 1e-12) AS amax
              FROM embeddings),
            coded AS (
              SELECT vec_id,
                greatest(CAST(floor(amax * 1e6) AS BIGINT),
                         CAST(1 AS BIGINT)) AS e6,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5)
                    AS BIGINT)) AS codes
              FROM base),
            q AS (SELECT vec_id AS query_id, e6 AS qe6, codes AS qc
                  FROM coded WHERE vec_id < 8),
            rel AS (
              SELECT query_id, c.vec_id AS neighbor_id,
                c.e6 * qe6 * ${dotSql("qc", "c.codes")} AS rel_key,
                c.codes AS codes, c.e6 AS e6
              FROM q, coded c WHERE c.vec_id <> query_id),
            cand AS (
              SELECT query_id, neighbor_id, rel_key, codes, e6 FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel_key DESC, neighbor_id) AS srank
                FROM rel)
              WHERE srank <= 25),
            s1 AS (
              SELECT query_id, neighbor_id, codes, e6,
                1 AS sel_rank, 7 * rel_key AS score
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY 7 * rel_key DESC, neighbor_id) AS rn
                    FROM cand)
              WHERE rn = 1),
            ${step("s1", "n2", "s2", 2)},
            ${step("s2", "n3", "s3", 3)},
            ${step("s3", "n4", "s4", 4)},
            ${step("s4", "n5", "s5", 5)}
            SELECT query_id, sel_rank, neighbor_id, score
            FROM s5 ORDER BY query_id, sel_rank"""
      },
    ),
  )
}
