package graft
package suite

import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.operators.Dedup
import graft.text.{MinHash, TextFunctions => TF}
import graft.vector.VectorFunctions

/** Deduplication: exact, MinHash/LSH, SimHash, substring and span,
  * embedding-space and multi-signal dedup, near-dup groups (label
  * propagation and star contraction), the incremental lifecycle, and the
  * group-aware split that keys on those groups.
  */
object DedupQueries {

  // Shared ground truth for q_dedup_groups AND q_dedup_groups_star: the
  // same polynomial signature/band construction as q_minhash_lsh (k=16 but
  // 4 bands × 4 rows), then a recursive transitive closure; group_rep =
  // min reachable doc id. Closure size is Σ|component|² — fine for oracle
  // scale, which is exactly why the engine side uses label propagation /
  // star contraction instead.
  private val dedupGroupsClosureCtes =
    """WITH RECURSIVE toks AS (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
         FROM documents),
       shs AS (
         SELECT doc_id,
           CASE WHEN len(t) >= 3
             THEN list_distinct(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(t[i:i+2], ' ')))
             ELSE [] END AS sh
         FROM toks),
       sig AS (
         SELECT doc_id,
           list_transform(range(0, 16), s ->
             list_min(list_transform(sh, g ->
               list_reduce(
                 list_prepend(CAST(s + 1 AS BIGINT),
                   list_transform(regexp_extract_all(g, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
         FROM shs WHERE len(sh) > 0),
       bb AS (
         SELECT doc_id, b.band AS band, b.bh AS bh
         FROM (SELECT doc_id,
                 unnest(list_transform(range(0, 4), j -> {'band': j, 'bh':
                   list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                     (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                   * 998244353 +
                   list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                     (a, v) -> (a * 137 + (v % 998244353)) % 998244353)}))
                 AS b
               FROM sig)),
       edges AS (
         SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh),
       reach AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  private val dedupGroupsClosureSql = dedupGroupsClosureCtes + """
       SELECT src AS id, min(dst) AS group_rep
       FROM reach GROUP BY src ORDER BY id"""

  val queries: Seq[Query] = Seq(
    // embedding-cosine near-dup pairs (dedup extension): exact all-pairs
    // over a bounded id range, threshold filter
    Query("q_cosine_pairs", ((s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("sim", VectorFunctions.cosine(col("va"), col("vb")))
        .filter(col("sim") >= 0.25)
        .select("id_a", "id_b", "sim")
        .orderBy("id_a", "id_b")
    }),
        """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
           p AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x + y)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (x,y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(b.embedding)+1),
                    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x + y))) AS sim
             FROM e a JOIN e b ON a.vec_id < b.vec_id)
           SELECT id_a, id_b, sim FROM p WHERE sim >= 0.25
           ORDER BY id_a, id_b""",
    ),

    // dedup (exact): content-digest groups
    Query("q_dedup_exact", ((s, dir) =>
      Dedup.exactText(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("content_hash")),
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                  CAST(count(*) AS BIGINT) AS dup_count
           FROM documents GROUP BY content_hash ORDER BY content_hash""",
    ),

    // Duplicate-token fraction (Lee et al. 2022's headline dedup metric):
    // what share of the corpus's tokens live in exact-duplicate documents
    // — the number that motivates running dedup at all. One groupBy on
    // the content hash carrying pre-aggregated token counts; exact
    // integer fraction (e6 fixed point).
    Query("q_dup_token_fraction", ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        md5(col("text")).as("h"),
        TF.tokenCount(col("text")).cast("long").as("nt"))
      d.groupBy("h")
        .agg(sum(col("nt")).as("g_tokens"), count(lit(1)).as("n"))
        .agg(
          sum(col("g_tokens")).as("total_tokens"),
          sum(when(col("n") > 1, col("g_tokens")).otherwise(0L)).as("dup_tokens"))
        .select(col("total_tokens"), col("dup_tokens"),
          expr("dup_tokens * 1000000L div total_tokens").as("dup_frac_e6"))
    }),
        """WITH g AS (
             SELECT md5(text) AS h,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS g_tokens,
               count(*) AS n
             FROM documents GROUP BY h)
           SELECT CAST(sum(g_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN n > 1 THEN g_tokens ELSE 0 END) AS BIGINT) AS dup_tokens,
             CAST(sum(CASE WHEN n > 1 THEN g_tokens ELSE 0 END) * 1000000
               // sum(g_tokens) AS BIGINT) AS dup_frac_e6
           FROM g""",
    ),

    // dedup (near): MinHash + LSH candidate pairs, exact-Jaccard verified
    Query("q_minhash_lsh", ((s, dir) =>
      MinHash.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, k = 16, bands = 8, threshold = 0.8)
        .orderBy("id_a", "id_b")),
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id, sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs),
           banded AS (
             SELECT doc_id, sh,
               unnest(list_transform(range(0, 8), j -> {'band': j, 'bh':
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                 * 998244353 +
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 137 + (v % 998244353)) % 998244353)})) AS b
             FROM sig),
           cand AS (
             SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             FROM banded a JOIN banded c
               ON a.b.band = c.b.band AND a.b.bh = c.b.bh AND a.doc_id < c.doc_id),
           verified AS (
             SELECT id_a, id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(sa.sh || sb.sh)) AS jaccard
             FROM cand
             JOIN shs sa ON sa.doc_id = id_a
             JOIN shs sb ON sb.doc_id = id_b)
           SELECT id_a, id_b, jaccard FROM verified
           WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",
    ),

    // Cross-corpus decontamination: training docs (doc_id % 3 != 0) that
    // near-duplicate any "benchmark" doc (doc_id % 3 == 0) — the GPT-3-
    // style eval-overlap removal at near-dup level. Per contaminated doc:
    // how many benchmark docs it hits and the strongest overlap.
    Query("q_decontaminate", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val bench = docs.filter(col("doc_id") % 3 === 0)
      MinHash.crossNearDupPairs(corpus, bench, "doc_id", "text",
          shingleN = 3, k = 16, bands = 8, threshold = 0.8)
        .groupBy(col("left_id").as("corpus_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy("corpus_id")
    }),
      // Same LSH/verify construction, inter-corpus candidates only
      // (corpus % 3 != 0 side × benchmark % 3 == 0 side), rolled up per
      // contaminated training doc.
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id, sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs),
           banded AS (
             SELECT doc_id, sh,
               unnest(list_transform(range(0, 8), j -> {'band': j, 'bh':
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                 * 998244353 +
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 137 + (v % 998244353)) % 998244353)})) AS b
             FROM sig),
           cand AS (
             SELECT DISTINCT a.doc_id AS cid, c.doc_id AS bid
             FROM banded a JOIN banded c
               ON a.b.band = c.b.band AND a.b.bh = c.b.bh
             WHERE a.doc_id % 3 != 0 AND c.doc_id % 3 = 0),
           verified AS (
             SELECT cid, bid,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(sa.sh || sb.sh)) AS jaccard
             FROM cand
             JOIN shs sa ON sa.doc_id = cid
             JOIN shs sb ON sb.doc_id = bid)
           SELECT cid AS corpus_id,
             CAST(count(*) AS BIGINT) AS n_bench_matches,
             max(jaccard) AS max_jaccard
           FROM verified WHERE jaccard >= 0.8
           GROUP BY cid ORDER BY corpus_id""",
    ),

    // n-gram Jaccard similarity on a deterministic candidate set
    Query("q_ngram_jaccard", ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TF.wordShingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(
          col("id_a"), col("id_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
        .orderBy("id_a")
    }),
        """WITH shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
                   FROM documents))
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)) AS jaccard
           FROM shs a JOIN shs b ON b.doc_id = a.doc_id + 1
           ORDER BY id_a""",
    ),

    // embedding-space near-dup GROUPS: connected components of the
    // vector↔hyperplane-bucket graph — the semantic twin of q_dedup_groups
    // (same ConnectedComponents fixpoint, hyperplane buckets instead of
    // MinHash bands). Oracled against a DuckDB recursive-CTE closure over
    // the same integer-hash hyperplane construction as q_ann_lsh.
    Query("q_semantic_dedup", ((s, dir) =>
      VectorFunctions
        .semanticDupGroups(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("id")),
      // Semantic dedup groups: the q_ann_lsh hyperplane-bucket mirror
      // (nbits=16, tables=2 matching the semanticDupGroups defaults)
      // feeding the q_dedup_groups recursive transitive closure — the
      // fixpoint label propagation's output is exactly the per-component
      // min over the bucket graph.
        """WITH RECURSIVE buck AS (
             SELECT vec_id, t.tbl AS tbl,
               CAST(list_sum(list_transform(range(0, 16), b ->
                 CASE WHEN list_reduce(list_prepend(0.0,
                        list_transform(range(1, len(embedding)+1), j ->
                          CAST(embedding[j] AS DOUBLE) *
                          (CAST(((1000003*(t.tbl*16+b) + 7919*(j-1) + 12345)
                                 * 2654435761) % 1000000007 AS DOUBLE)
                           * 2.0 / 1000000007.0 - 1.0))),
                      (x, y) -> x + y) >= 0
                 THEN 1 << (15 - b) ELSE 0 END)) AS BIGINT) AS bucket
             FROM embeddings, (SELECT unnest(range(0, 2)) AS tbl) t),
           edges AS (
             SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
             FROM buck a JOIN buck b ON a.tbl = b.tbl AND a.bucket = b.bucket),
           reach AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
           SELECT src AS id, min(dst) AS group_rep
           FROM reach GROUP BY src ORDER BY id""",
    ),

    // exact substring-overlap dedup (Lee et al. 2022's 50-token criterion):
    // docs sharing ANY 50-token window group transitively — local and
    // exact, catches long-quote embedding that whole-doc MinHash misses
    Query("q_substring_dedup", ((s, dir) =>
      MinHash.substringDupGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id")),
        """WITH RECURSIVE toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           ws AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 50
                 THEN list_distinct(list_transform(range(1, len(t) - 48),
                        i -> array_to_string(t[i:i+49], ' ')))
                 ELSE [] END AS w
             FROM toks),
           wh AS (
             SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(g, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007)
               * 998244353 +
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(g, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 137 + b) % 998244353) AS wh
             FROM (SELECT doc_id, unnest(w) AS g FROM ws)),
           edges AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM wh a JOIN wh b ON a.wh = b.wh),
           reach AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
           SELECT src AS id, min(dst) AS group_rep
           FROM reach GROUP BY src ORDER BY id""",
    ),

    // Duplicate-SPAN removal (Lee et al. 2022 ExactSubstr): rewrite the
    // corpus so every 50-token window occurs once — first occurrence wins,
    // later occurrences are cut and the doc reassembled. The text-rewriting
    // complement of q_substring_dedup's doc grouping.
    Query("q_span_removal", ((s, dir) =>
      text.CorpusOps.removeDupSpans(Tables.documents(s, dir), "doc_id", "text",
        windowTokens = 50)
        .orderBy("id")),
      // Substring-overlap dedup: 50-token windows from the same
      // shingle/trim/lower tokenization, identified by the PAIR of
      // independent poly folds (131 mod 1e9+7, 137 mod 998244353) combined
      // into one ~59-bit value, transitive closure over shared windows.
      // Duplicate-span removal, fully mirrored: same 59-bit window hashes
      // as q_substring_dedup, canonical occurrence = row_number 1 in
      // (doc, start) order per hash, covered positions unioned, kept
      // tokens reassembled in position order.
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           occ AS (
             SELECT doc_id, i - 1 AS start,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(g, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) * 998244353 +
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(g, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 137 + b) % 998244353) AS wh
             FROM (SELECT doc_id, i, array_to_string(t[i:i+49], ' ') AS g
                   FROM (SELECT doc_id, t, unnest(range(1, len(t) - 48)) AS i
                         FROM toks WHERE len(t) >= 50))),
           rn AS (
             SELECT doc_id, start,
               row_number() OVER (PARTITION BY wh ORDER BY doc_id, start) AS rn
             FROM occ),
           covered AS (
             SELECT DISTINCT doc_id, start + j.j AS pos
             FROM rn CROSS JOIN (SELECT unnest(range(0, 50)) AS j) j
             WHERE rn > 1),
           tokens AS (
             SELECT doc_id, i - 1 AS pos, t[i] AS tok
             FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
           kept AS (
             SELECT tk.doc_id, tk.pos, tk.tok
             FROM tokens tk LEFT JOIN covered c
               ON tk.doc_id = c.doc_id AND tk.pos = c.pos
             WHERE c.doc_id IS NULL),
           agg AS (
             SELECT doc_id, count(*) AS n_kept,
                    string_agg(tok, ' ' ORDER BY pos) AS cleaned
             FROM kept GROUP BY doc_id)
           SELECT t.doc_id AS id, CAST(len(t.t) AS BIGINT) AS n_tokens,
             CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
             coalesce(a.cleaned, '') AS cleaned_text
           FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY id""",
    ),

    // SemDeDup (Abbas et al. 2023): k-means cluster, exact pairwise cosine
    // within clusters only, transitive groups above tau, keep the group
    // member FARTHEST from its centroid. The whole path — k-means training
    // included — is mirrored in the oracle.
    Query("q_semdedup", ((s, dir) =>
      VectorFunctions.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, trainIters = 2, tau = 0.3)
        .orderBy("id")),
      // SemDeDup, the ENTIRE path mirrored: the q_ann_ivf_trained k-means
      // prefix (seeds by the portable hash, two unrolled Lloyd iterations),
      // assignment keeps the winning cosine as simc, exact pairwise cosine
      // within cells at tau=0.3, recursive-CTE closure over the symmetric
      // pair edges, keep = argmin (simc, id) per group.
        """WITH RECURSIVE ev AS (
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
             SELECT vec_id, emb, nrm, cell, sim AS simc FROM (
               SELECT e.vec_id, e.embedding AS emb, e.nrm, c.cell,
                 list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                 / (e.nrm * c.cnrm) AS sim,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE))), (x,y) -> x + y)
                   / (e.nrm * c.cnrm) DESC, c.cell) AS rk
               FROM ev e CROSS JOIN c2 c)
             WHERE rk = 1),
           pairs AS (
             SELECT a.vec_id AS pa, b.vec_id AS pb
             FROM cassign a JOIN cassign b ON a.cell = b.cell AND a.vec_id < b.vec_id
             WHERE list_reduce(list_prepend(0.0, list_transform(range(1, len(a.emb)+1),
                     i -> CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE))), (x,y) -> x + y)
                   / (a.nrm * b.nrm) >= 0.3),
           edges AS (
             SELECT pa AS src, pb AS dst FROM pairs
             UNION ALL SELECT pb, pa FROM pairs),
           reach AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
           rep AS (
             SELECT c.vec_id AS id,
               least(c.vec_id, coalesce(m.mn, c.vec_id)) AS group_rep
             FROM cassign c LEFT JOIN
               (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
               ON c.vec_id = m.src),
           keep AS (
             SELECT group_rep, vec_id AS keep_id FROM (
               SELECT r.group_rep, c.vec_id,
                 row_number() OVER (PARTITION BY r.group_rep
                                    ORDER BY c.simc, c.vec_id) AS rk
               FROM rep r JOIN cassign c ON r.id = c.vec_id)
             WHERE rk = 1)
           SELECT c.vec_id AS id, c.cell, c.simc, r.group_rep,
             (c.vec_id = k.keep_id) AS kept
           FROM cassign c
           JOIN rep r ON c.vec_id = r.id
           JOIN keep k ON r.group_rep = k.group_rep
           ORDER BY id""",
    ),

    // MULTI-SIGNAL dedup: one connected-components pass over the UNION of
    // the text LSH graph and the embedding hyperplane graph — "duplicate
    // by surface text OR semantic similarity", transitively through mixed
    // chains. Buckets namespaced by kind; same shared fixpoint
    Query("q_dedup_multisignal", ((s, dir) =>
      graft.operators.MultiSignalDedup.groups(
        Tables.documents(s, dir), "doc_id", "text",
        Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("id")),
      // Multi-signal dedup: text band buckets (q_dedup_groups mirror) and
      // hyperplane buckets (q_semantic_dedup mirror) unioned under a kind
      // namespace, one transitive closure over the combined graph.
        """WITH RECURSIVE toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs WHERE len(sh) > 0),
           bb AS (
             SELECT doc_id, b.band AS band, b.bh AS bh
             FROM (SELECT doc_id,
                     unnest(list_transform(range(0, 4), j -> {'band': j, 'bh':
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                       * 998244353 +
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 137 + (v % 998244353)) % 998244353)}))
                     AS b
                   FROM sig)),
           buck AS (
             SELECT vec_id, t.tbl AS tbl,
               CAST(list_sum(list_transform(range(0, 16), b ->
                 CASE WHEN list_reduce(list_prepend(0.0,
                        list_transform(range(1, len(embedding)+1), j ->
                          CAST(embedding[j] AS DOUBLE) *
                          (CAST(((1000003*(t.tbl*16+b) + 7919*(j-1) + 12345)
                                 * 2654435761) % 1000000007 AS DOUBLE)
                           * 2.0 / 1000000007.0 - 1.0))),
                      (x, y) -> x + y) >= 0
                 THEN 1 << (15 - b) ELSE 0 END)) AS BIGINT) AS bucket
             FROM embeddings, (SELECT unnest(range(0, 2)) AS tbl) t),
           mem AS (
             SELECT doc_id AS id, 'b' || CAST(band AS VARCHAR) AS kind,
               bh AS key
             FROM bb
             UNION ALL
             SELECT vec_id AS id, 'v' || CAST(tbl AS VARCHAR) AS kind,
               bucket AS key
             FROM buck),
           edges AS (
             SELECT DISTINCT a.id AS src, b.id AS dst
             FROM mem a JOIN mem b ON a.kind = b.kind AND a.key = b.key),
           reach AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
           SELECT src AS id, min(dst) AS group_rep
           FROM reach GROUP BY src ORDER BY id""",
    ),

    // dedup (near): SimHash fingerprints over polynomial token hashes —
    // reproducible in DuckDB, so oracle hash-checked
    Query("q_simhash", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), MinHash.simhashPoly(col("text"), 30).as("simhash"))
        .orderBy("doc_id")),
        """WITH t AS (
             SELECT doc_id,
               list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
                 tok -> list_reduce(
                   list_prepend(CAST(1 AS BIGINT),
                     list_transform(regexp_extract_all(tok, '(?s).'),
                       c -> CAST(unicode(c) AS BIGINT))),
                   (a, b) -> (a * 131 + b) % 1000000007)) AS hs
             FROM documents)
           SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 30), j ->
                 CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(hs, h ->
                          CASE WHEN (h >> j) & 1 = 1 THEN CAST(1 AS BIGINT)
                               ELSE CAST(-1 AS BIGINT) END)),
                        (a, b) -> a + b) >= 0
                      THEN (CAST(1 AS BIGINT) << j)
                      ELSE CAST(0 AS BIGINT) END)),
               (a, b) -> a + b) AS simhash
           FROM t ORDER BY doc_id""",
    ),

    // near-dup GROUPS via label propagation over LSH buckets — linear in
    // docs×bands even on a fully-duplicated corpus (no pair enumeration).
    // Runs to fixpoint, so the output is the exact connected components of
    // the bucket graph — oracled against a DuckDB recursive-CTE closure
    Query("q_dedup_groups", ((s, dir) =>
      MinHash.nearDupGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id")),
      // Exact connected components of the LSH doc↔bucket graph — see
      // [[dedupGroupsClosureSql]] for the construction.
      dedupGroupsClosureSql,
    ),

    // Same groups via large-star/small-star contraction — the
    // adversarial-topology path (O(log² n) rounds for ANY id placement,
    // see ConnectedComponents.starContractWithRounds). Shares
    // q_dedup_groups' oracle: both must equal the recursive-CTE closure.
    Query("q_dedup_groups_star", ((s, dir) =>
      MinHash.nearDupGroupsStar(Tables.documents(s, dir), "doc_id", "text")._1
        .orderBy("id")),
      // identical ground truth for the star-contraction path: both
      // engines' outputs must equal the same transitive closure
      dedupGroupsClosureSql,
    ),

    // INCREMENTAL dedup: docs ending in 0 arrive as a "new batch" against
    // the already-clustered rest; the batch is labeled via the stored
    // (rep, band, bh) bucket index without re-clustering the corpus. New
    // docs adopt reps, merge through the old corpus, or form new groups —
    // the whole two-phase pipeline is mirrored in the oracle. NOTE: the
    // measured time is dominated by the SETUP (clustering the 4/5 "old"
    // corpus from scratch, which a real deployment amortizes across every
    // batch); the incremental phase itself is O(batch) — the fixpoint runs
    // only on the index slice whose buckets the batch touches
    Query("q_dedup_incremental", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
      val newDocs = docs.filter(col("doc_id") % 5 === 0)
      // edges computed ONCE (persisted): feed the clustering and the
      // index projection from the same pass — the signature scan is the
      // expensive part of the setup phase
      val oldEdges = MinHash.bandEdges(oldDocs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (oldLabels, _) = graft.operators.ConnectedComponents
          .labelPropagateWithRounds(oldEdges, "id", Seq("band", "bh"))
        val index = oldEdges.join(oldLabels, Seq("id"))
          .select(col("group_rep"), col("band"), col("bh")).distinct()
        val (labels, _) =
          MinHash.nearDupGroupsIncremental(index, newDocs, "doc_id", "text")
        // labels is O(batch) — cut its lineage so the corpus edge cache
        // (the big block) can be dropped before the frame is consumed,
        // instead of living in the block manager for the rest of a
        // 165-query bench pass
        org.apache.spark.sql.graft.bridge.cutLineage(labels).orderBy("id")
      } finally oldEdges.unpersist(blocking = false)
    }),
      // Incremental dedup, both phases mirrored: cluster the old corpus
      // (doc_id % 5 <> 0), project its buckets to group reps, then close
      // over the joint (rep ∪ new-batch) bucket graph. Reps are old doc
      // ids (never ≡ 0 mod 5), so the output filter cleanly selects the
      // new batch.
        """WITH RECURSIVE toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs WHERE len(sh) > 0),
           bb AS (
             SELECT doc_id, b.band AS band, b.bh AS bh
             FROM (SELECT doc_id,
                     unnest(list_transform(range(0, 4), j -> {'band': j, 'bh':
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                       * 998244353 +
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 137 + (v % 998244353)) % 998244353)}))
                     AS b
                   FROM sig)),
           bb_old AS (SELECT * FROM bb WHERE doc_id % 5 <> 0),
           bb_new AS (SELECT * FROM bb WHERE doc_id % 5 = 0),
           edges_old AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bb_old a JOIN bb_old b ON a.band = b.band AND a.bh = b.bh),
           reach_old AS (
             SELECT src, dst FROM edges_old
             UNION
             SELECT r.src, e.dst FROM reach_old r JOIN edges_old e ON r.dst = e.src),
           labels_old AS (
             SELECT src AS id, min(dst) AS group_rep FROM reach_old GROUP BY src),
           joint AS (
             SELECT DISTINCT l.group_rep AS doc_id, b.band, b.bh
             FROM bb_old b JOIN labels_old l ON b.doc_id = l.id
             UNION
             SELECT doc_id, band, bh FROM bb_new),
           edges_j AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM joint a JOIN joint b ON a.band = b.band AND a.bh = b.bh),
           reach_j AS (
             SELECT src, dst FROM edges_j
             UNION
             SELECT r.src, e.dst FROM reach_j r JOIN edges_j e ON r.dst = e.src)
           SELECT src AS id, min(dst) AS group_rep
           FROM reach_j WHERE src % 5 = 0 GROUP BY src ORDER BY id""",
    ),

    // RECONCILIATION of the incremental-dedup lifecycle: replay the
    // q_dedup_incremental deployment (old corpus clustered, batch labeled
    // against the stored index), take the ACCUMULATED label store
    // (old-corpus labels ∪ incremental batch labels — exactly what a
    // deployment has on disk), and emit the repair delta
    // (id, old_rep, new_rep): the rows whose stored rep diverged from the
    // full-recluster ground truth (bridge merges, lower-id adoptions).
    // The oracle mirrors all three closures in SQL. Signatures are
    // per-doc, so ONE signature pass over the whole corpus serves all
    // three phases: old corpus and batch are `doc_id % 5` filters of the
    // same persisted band-edge frame, and the ground-truth re-cluster
    // (MinHash.reconcileFromEdges) runs on the frame itself.
    Query("q_dedup_reconcile", ((s, dir) => {
      val edges = MinHash.bandEdges(Tables.documents(s, dir), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val oldEdges = edges.filter(col("id") % 5 =!= 0)
        val newEdges = edges.filter(col("id") % 5 === 0)
        val (oldLabels, _) = graft.operators.ConnectedComponents
          .labelPropagateWithRounds(oldEdges, "id", Seq("band", "bh"))
        val index = oldEdges.join(oldLabels, Seq("id"))
          .select(col("group_rep"), col("band"), col("bh")).distinct()
        val (newLabels, _) =
          MinHash.nearDupGroupsIncrementalFromEdges(index, newEdges)
        val stored = oldLabels.unionByName(newLabels)
        val (_, _, repairs) = MinHash.reconcileFromEdges(edges, stored)
        // the repair delta is tiny (only rows whose rep moved); cut its
        // lineage so the persisted edge frame can be released here rather
        // than leaking into the rest of the bench pass
        org.apache.spark.sql.graft.bridge.cutLineage(repairs).orderBy("id")
      } finally edges.unpersist(blocking = false)
    }),
      // Reconcile = stored labels (old-corpus closure ∪ incremental joint
      // closure for the batch) diffed against the full-corpus closure.
      // Shares the q_dedup_incremental construction; adds the all-docs
      // closure and the repair diff.
        """WITH RECURSIVE toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs WHERE len(sh) > 0),
           bb AS (
             SELECT doc_id, b.band AS band, b.bh AS bh
             FROM (SELECT doc_id,
                     unnest(list_transform(range(0, 4), j -> {'band': j, 'bh':
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                       * 998244353 +
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 137 + (v % 998244353)) % 998244353)}))
                     AS b
                   FROM sig)),
           bb_old AS (SELECT * FROM bb WHERE doc_id % 5 <> 0),
           bb_new AS (SELECT * FROM bb WHERE doc_id % 5 = 0),
           edges_old AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bb_old a JOIN bb_old b ON a.band = b.band AND a.bh = b.bh),
           reach_old AS (
             SELECT src, dst FROM edges_old
             UNION
             SELECT r.src, e.dst FROM reach_old r JOIN edges_old e ON r.dst = e.src),
           labels_old AS (
             SELECT src AS id, min(dst) AS group_rep FROM reach_old GROUP BY src),
           joint AS (
             SELECT DISTINCT l.group_rep AS doc_id, b.band, b.bh
             FROM bb_old b JOIN labels_old l ON b.doc_id = l.id
             UNION
             SELECT doc_id, band, bh FROM bb_new),
           edges_j AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM joint a JOIN joint b ON a.band = b.band AND a.bh = b.bh),
           reach_j AS (
             SELECT src, dst FROM edges_j
             UNION
             SELECT r.src, e.dst FROM reach_j r JOIN edges_j e ON r.dst = e.src),
           labels_new AS (
             SELECT src AS id, min(dst) AS group_rep
             FROM reach_j WHERE src % 5 = 0 GROUP BY src),
           stored AS (
             SELECT * FROM labels_old UNION ALL SELECT * FROM labels_new),
           edges_all AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh),
           reach_all AS (
             SELECT src, dst FROM edges_all
             UNION
             SELECT r.src, e.dst FROM reach_all r JOIN edges_all e ON r.dst = e.src),
           labels_all AS (
             SELECT src AS id, min(dst) AS group_rep FROM reach_all GROUP BY src)
           SELECT s.id, s.group_rep AS old_rep, f.group_rep AS new_rep
           FROM stored s JOIN labels_all f ON s.id = f.id
           WHERE s.group_rep <> f.group_rep
           ORDER BY s.id""",
    ),

    // LEAKAGE-SAFE train/val/test split: the hash keys on the near-dup
    // GROUP representative, so every member of a duplicate family lands in
    // the same split — the guard against train/eval contamination via
    // near-duplicates that a per-doc hash split cannot give. Docs with no
    // shingles (no group) fall back to their own id (left join +
    // coalesce). One fixpoint + one broadcastable label join on top of
    // the shuffle-free hash filter.
    Query("q_split_groupaware", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val groups = MinHash.nearDupGroups(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      docs.join(groups, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("group_rep"), col("doc_id")))
        .select(
          col("doc_id"),
          col("group_key"),
          graft.operators.Sampling.splitLabel(col("group_key")).as("split"))
        .orderBy("doc_id")
    }),
      // Group-aware split: the closure CTEs compute near-dup groups, then
      // the q_split hash keys on the group rep (own id for groupless docs)
      (dedupGroupsClosureCtes + """,
           g AS (SELECT src AS id, min(dst) AS group_rep
                 FROM reach GROUP BY src)
           SELECT doc_id, group_key,
             CASE WHEN h < 800 THEN 'train'
                  WHEN h < 900 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id, group_key,
                   ((group_key % 1000000007) * 2654435761) % 1000000007 % 1000 AS h
                 FROM (SELECT d.doc_id,
                         coalesce(g.group_rep, d.doc_id) AS group_key
                       FROM documents d LEFT JOIN g ON d.doc_id = g.id))
           ORDER BY doc_id"""),
    ),

    // the full dedup DECISION a trainer runs: near-dup groups (fixpoint
    // label propagation) joined with the quality score, keeping the
    // best-quality member per group (ties → min doc_id). min_by over a
    // (4-score, id) struct = one partially-aggregated shuffle — no window
    Query("q_dedup_keep_best", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val groups = MinHash.nearDupGroups(docs, "doc_id", "text")
      val scored = docs.select(
        col("doc_id").as("id"),
        ((size(TF.rawTokens(col("text"))) >= 50 &&
          size(TF.rawTokens(col("text"))) <= 20000).cast("int") +
          (TF.alphaCount(col("text")) >= size(TF.rawTokens(col("text"))) * 2 &&
            TF.alphaCount(col("text")) <= size(TF.rawTokens(col("text"))) * 12)
            .cast("int") +
          (TF.punctCount(col("text")) * 10 <= length(col("text"))).cast("int") +
          (TF.digitCount(col("text")) * 5 <= length(col("text"))).cast("int"))
          .cast("long").as("score"))
      groups.join(scored, Seq("id"))
        .groupBy("group_rep")
        .agg(
          count(lit(1)).as("n_members"),
          max(col("score")).as("best_score"),
          min_by(col("id"), struct(lit(4L) - col("score"), col("id")))
            .as("keep_id"))
        .orderBy("group_rep")
    }),
      // q_dedup_groups' recursive closure composed with q_quality_filter's
      // score: per near-dup group, keep the best-quality member (ties →
      // min doc_id) — the dedup decision a training pipeline actually makes
        """WITH RECURSIVE toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs WHERE len(sh) > 0),
           bb AS (
             SELECT doc_id, b.band AS band, b.bh AS bh
             FROM (SELECT doc_id,
                     unnest(list_transform(range(0, 4), j -> {'band': j, 'bh':
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                       * 998244353 +
                       list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*4+1:j*4+4]),
                         (a, v) -> (a * 137 + (v % 998244353)) % 998244353)}))
                     AS b
                   FROM sig)),
           edges AS (
             SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh),
           reach AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
           labels AS (
             SELECT src AS id, min(dst) AS group_rep FROM reach GROUP BY src),
           q AS (
             SELECT doc_id AS id,
               CAST(CAST(n_words >= 50 AND n_words <= 20000 AS INTEGER)
                  + CAST(n_alpha >= n_words * 2 AND n_alpha <= n_words * 12
                      AS INTEGER)
                  + CAST(n_punct * 10 <= n_chars AS INTEGER)
                  + CAST(n_digit * 5 <= n_chars AS INTEGER) AS BIGINT) AS score
             FROM (SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                       AS n_words,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)
                       AS n_alpha,
                     CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
                       AS n_digit,
                     CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                       AS n_punct
                   FROM documents)),
           r AS (
             SELECT l.group_rep, l.id, q.score,
               row_number() OVER (PARTITION BY l.group_rep
                                  ORDER BY q.score DESC, l.id) AS rk,
               count(*) OVER (PARTITION BY l.group_rep) AS n_members,
               max(q.score) OVER (PARTITION BY l.group_rep) AS best_score
             FROM labels l JOIN q USING (id))
           SELECT group_rep, CAST(n_members AS BIGINT) AS n_members,
             best_score, id AS keep_id
           FROM r WHERE rk = 1 ORDER BY group_rep""",
    ),

    // URL-level dedup with canonicalization (the first dedup stage of a
    // web corpus pipeline). The corpus has no URL column, so the query
    // derives messy-but-deterministic URLs from (source, doc_id) —
    // mirrored verbatim in the oracle — with four casing / default-port /
    // trailing-slash / tracking-param / fragment variants per path, so
    // canonicalization produces genuine cross-variant collisions; the real
    // operator (UrlOps.canonicalize + dedupByUrl) then ranks each
    // canonical group. ScalaTested on adversarial URLs besides.
    Query("q_url_dedup", ((s, dir) => {
      val k = expr("doc_id div 4") % 60
      val variant = col("doc_id") % 4
      val url =
        when(variant === 0, concat(lit("HTTP://WWW."), col("source"),
          lit(".Example.COM/a/"), k.cast("string"), lit("?b=2&a=1")))
        .when(variant === 1, concat(lit("http://"), col("source"),
          lit(".example.com:80/a/"), k.cast("string"), lit("/?a=1&b=2")))
        .when(variant === 2, concat(lit("http://www."), col("source"),
          lit(".example.com/a/"), k.cast("string"), lit("?a=1&utm_source=rss&b=2")))
        .otherwise(concat(lit("http://"), col("source"),
          lit(".Example.com/a/"), k.cast("string"), lit("?b=2&a=1#frag")))
      graft.text.UrlOps.dedupByUrl(
          Tables.documents(s, dir).select(col("doc_id"), col("source"))
            .withColumn("url", url),
          "doc_id", "url")
        .select("doc_id", "url", "canonical_url", "url_rank", "is_kept")
        .orderBy("doc_id")
    }),
      // URL dedup: same derived URLs, same regex canonicalization chain
      // (fragment drop, scheme/host lowercase, default-port + www. strip,
      // trailing-slash strip, tracking-param drop, param sort), same
      // first-id-wins ranking.
        """WITH u AS (
             SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM/a/'
                   || CAST((doc_id // 4) % 60 AS VARCHAR) || '?b=2&a=1'
                 WHEN 1 THEN 'http://' || source || '.example.com:80/a/'
                   || CAST((doc_id // 4) % 60 AS VARCHAR) || '/?a=1&b=2'
                 WHEN 2 THEN 'http://www.' || source || '.example.com/a/'
                   || CAST((doc_id // 4) % 60 AS VARCHAR) || '?a=1&utm_source=rss&b=2'
                 ELSE 'http://' || source || '.Example.com/a/'
                   || CAST((doc_id // 4) % 60 AS VARCHAR) || '?b=2&a=1#frag'
               END AS url
             FROM documents),
           nf AS (
             SELECT doc_id, url, regexp_extract(url, '^([^#]*)', 1) AS nofrag
             FROM u),
           p AS (
             SELECT doc_id, url, nofrag,
               coalesce(array_to_string(list_sort(list_filter(
                 str_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
                 pp -> pp <> ''
                   AND NOT regexp_matches(pp, '^(utm_[^=]*|fbclid|gclid|ref)='))),
                 '&'), '') AS q
             FROM nf),
           canon AS (
             SELECT doc_id, url,
               lower(regexp_extract(nofrag, '^([^:/?#]+)://', 1)) || '://'
               || regexp_replace(regexp_replace(
                    lower(regexp_extract(nofrag, '^[^:/?#]+://([^/?#]*)', 1)),
                    ':(80|443)$', ''), '^www\.', '')
               || regexp_replace(
                    regexp_extract(nofrag, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
                    '/+$', '')
               || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
             FROM p)
           SELECT doc_id, url, canonical_url,
             CAST(row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id)
               AS INTEGER) AS url_rank,
             CAST(row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1
               AS INTEGER) AS is_kept
           FROM canon ORDER BY doc_id""",
    ),

    // Edit-distance fuzzy dup pairs: LSH blocking (the q_minhash_lsh
    // candidate set) verified by exact Levenshtein with a relative ≤20%
    // threshold — integer dist + rel_e6 (FuzzyDedup.editDistancePairs)
    Query("q_fuzzy_dedup", ((s, dir) =>
      graft.text.FuzzyDedup.editDistancePairs(
        Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
      // the q_minhash_lsh candidate CTEs with the verifier swapped from
      // Jaccard to Levenshtein (relative ≤ 20%, floor-division rel_e6)
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM toks),
           sig AS (
             SELECT doc_id,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(sh, g ->
                   list_reduce(
                     list_prepend(CAST(s + 1 AS BIGINT),
                       list_transform(regexp_extract_all(g, '(?s).'),
                         c -> CAST(unicode(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)))) AS sig
             FROM shs),
           banded AS (
             SELECT doc_id,
               unnest(list_transform(range(0, 8), j -> {'band': j, 'bh':
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 131 + (v % 1000000007)) % 1000000007)
                 * 998244353 +
                 list_reduce(list_prepend(CAST(17 AS BIGINT), sig[j*2+1:j*2+2]),
                   (a, v) -> (a * 137 + (v % 998244353)) % 998244353)})) AS b
             FROM sig),
           cand AS (
             SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             FROM banded a JOIN banded c
               ON a.b.band = c.b.band AND a.b.bh = c.b.bh
                 AND a.doc_id < c.doc_id),
           ver AS (
             SELECT id_a, id_b,
               CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist,
               CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT)
                 AS ml
             FROM cand
             JOIN documents ta ON ta.doc_id = id_a
             JOIN documents tb ON tb.doc_id = id_b)
           SELECT id_a, id_b, dist,
             CASE WHEN ml = 0 THEN 0 ELSE dist * 1000000 // ml END AS rel_e6
           FROM ver
           WHERE (CASE WHEN ml = 0 THEN 0 ELSE dist * 1000000 // ml END)
             <= 200000
           ORDER BY id_a, id_b""",
    ),
  )
}
