package graft
package suite

import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.text.{TextFunctions => TF}

/** Text operators over `documents`: statistics, language ID, tokenizers
  * and BPE, TF-IDF and BM25, LM surprisal, quality and cleaning filters,
  * packing and chunking, PII redaction, contamination and data selection.
  */
object TextQueries {

  /** Fixed-point log2(num/den)·1e6 as exact BIGINT — the cross-engine-safe
    * log used wherever a compared column needs one. Moved to
    * [[graft.text.CorpusOps.log2e6Sql]] (full construction notes there).
    */
  private def log2e6Sql(num: String, den: String): String =
    graft.text.CorpusOps.log2e6Sql(num, den)

  val queries: Seq[Query] = Seq(
    // text analysis: token counting + quality scoring
    Query("q_text_stats", ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"),
        length(col("text")).cast("int").as("n_chars_m"),
        TF.tokenCount(col("text")).cast("int").as("n_tokens"),
        TF.alphaCount(col("text")).cast("int").as("n_alpha"),
        TF.digitCount(col("text")).cast("int").as("n_digit"),
        TF.punctCount(col("text")).cast("int").as("n_punct"),
        TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
        """SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_chars_m,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INTEGER) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digit,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
             least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
               + (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 0.3
               + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 0.2
               AS quality
           FROM documents ORDER BY doc_id""",
    ),

    // text analysis: language-ID heuristic (stopword/CJK n-gram scores)
    Query("q_lang_id", ((s, dir) => {
      val d = Tables.documents(s, dir)
      val txt = col("text")
      d.select(
        col("doc_id"),
        TF.langScore(txt, "en").cast("int").as("s_en"),
        TF.langScore(txt, "de").cast("int").as("s_de"),
        TF.langScore(txt, "fr").cast("int").as("s_fr"),
        TF.langScore(txt, "es").cast("int").as("s_es"),
        TF.langScore(txt, "zh").cast("int").as("s_zh"),
        TF.langId(txt).as("pred_lang"),
        col("lang"),
        (TF.langId(txt) === col("lang")).cast("int").as("correct"))
        .orderBy("doc_id")
    }),
        """WITH s AS (
             SELECT doc_id, lang,
               CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|was|that|with)\b')) AS INTEGER) AS s_en,
               CAST(len(regexp_extract_all(lower(text), '\b(und|ist|nicht|der|das|ein)\b')) AS INTEGER) AS s_de,
               CAST(len(regexp_extract_all(lower(text), '\b(est|les|dans|que|pour|avec)\b')) AS INTEGER) AS s_fr,
               CAST(len(regexp_extract_all(lower(text), '\b(es|los|las|para|como|pero)\b')) AS INTEGER) AS s_es,
               CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS INTEGER) AS s_zh
             FROM documents),
           p AS (
             SELECT *, CASE WHEN s_zh > 0 THEN 'zh'
                            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                            WHEN s_fr >= s_es THEN 'fr'
                            ELSE 'es' END AS pred_lang
             FROM s)
           SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh, pred_lang, lang,
                  CAST(pred_lang = lang AS INTEGER) AS correct
           FROM p ORDER BY doc_id""",
    ),

    // text analysis: corpus token frequency (explode + agg + top-k)
    Query("q_token_freq", ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(50)),
        """SELECT token, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                 FROM documents)
           GROUP BY token ORDER BY cnt DESC, token LIMIT 50""",
    ),

    // text analysis: Unicode-aware tokenization (letter/digit runs via
    // \p{L}\p{N} — the class syntax Java regex and RE2 share) next to the
    // whitespace tokenizer, per doc — the opt-in `tokenMode = "unicode"`
    // path threaded through bm25/DSIR/near-dup shingling
    Query("q_unicode_tokens", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("n_ws"),
          size(TF.tokensUnicode(col("text"))).cast("long").as("n_uni"),
          array_join(slice(TF.tokensUnicode(col("text")), 1, 5), " ")
            .as("head_uni"))
        .orderBy("doc_id")),
        """SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS BIGINT) AS n_uni,
             array_to_string(list_slice(regexp_extract_all(lower(text), '[\p{L}\p{N}]+'), 1, 5), ' ') AS head_uni
           FROM documents ORDER BY doc_id""",
    ),

    // document fingerprinting: rolling polynomial hash
    Query("q_doc_fingerprint", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
        """SELECT doc_id,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                 list_transform(regexp_extract_all(text, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 1000000007) AS fp
           FROM documents ORDER BY doc_id""",
    ),

    // §2.8 regex set-returning extraction: regexp_extract_all → explode →
    // frequency (UDTF-shaped lateral view)
    Query("q_regex_tokens", ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]{8,}', 0)")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy(col("n").desc, col("token"))
        .limit(50)),
        """SELECT token, n FROM (
             SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
               SELECT unnest(regexp_extract_all(lower(text), '[a-z]{8,}')) AS token
               FROM documents)
             GROUP BY token)
           WHERE n >= 5
           ORDER BY n DESC, token LIMIT 50""",
    ),

    // BPE-ish tokenization (letter runs / digit runs / punctuation runs):
    // per-doc token + unique-token counts — the regex is RE2-compatible so
    // both engines tokenize identically
    Query("q_bpe_tokens", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)")
            .as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_unique"))
        .orderBy("doc_id")),
        """SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique
           FROM (SELECT doc_id,
                   regexp_extract_all(lower(text),
                     '[a-z]+|[0-9]+|[^a-z0-9\s]+') AS toks
                 FROM documents)
           ORDER BY doc_id""",
    ),

    // TF-IDF term weighting: map-side-combinable tf, broadcastable df and
    // corpus-size sides, top-5 terms per document. idf is the fixed-point
    // integer log2 ([[log2e6Sql]]) so score = tf · idf_e6 is exact BIGINT
    // arithmetic — no library-log 1-ulp latitude in the compared column.
    Query("q_tfidf", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // idf is a pure function of (n_docs, df): evaluate the 20-step
      // fixed-point log2 fold ONCE per vocab token on the df frame, not
      // once per (doc, token) row (r18 — identical integers, ~|tf|/|vocab|
      // fewer fold evaluations)
      val idf = dfreq
        .crossJoin(broadcast(nDocs))
        .withColumn("idf_e6", expr(log2e6Sql("n_docs", "df")))
        .select("token", "df", "idf_e6")
      val scored = tf
        .join(idf, "token")
        .withColumn("score_e6", (col("tf") * col("idf_e6")).cast("long"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("token"))
      scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("int").as("rnk"), col("token"), col("score_e6"))
        .orderBy("doc_id", "rnk")
    }),
        """WITH RECURSIVE toks AS (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
           dfreq0 AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
           nd AS (SELECT count(*) AS n_docs FROM documents),
           dv AS (SELECT df, n_docs
                  FROM (SELECT DISTINCT df FROM dfreq0) CROSS JOIN nd),
           it AS (
             SELECT df, n_docs, 0 AS i,
               (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                 / CAST((1::BIGINT << (length(bin(n_docs // df)) - 1)) AS DOUBLE)
                 AS m,
               0::BIGINT AS k
             FROM dv
             UNION ALL
             SELECT df, n_docs, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM it WHERE i < 20),
           idf AS (
             SELECT df,
               ((CAST(length(bin(n_docs // df)) - 1 AS BIGINT) * 1048576 + k)
                 * 1000000) // 1048576 AS idf_e6
             FROM it WHERE i = 20),
           scored AS (
             SELECT doc_id, token, CAST(tf * idf_e6 AS BIGINT) AS score_e6
             FROM tf JOIN dfreq0 USING (token) JOIN idf USING (df)),
           rk AS (
             SELECT doc_id, token, score_e6,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_e6 DESC, token) AS rnk
             FROM scored)
           SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, score_e6
           FROM rk WHERE rnk <= 5 ORDER BY doc_id, rnk""",
    ),

    // Unigram-LM surprisal scoring: the corpus's own unigram counts act as
    // the language model; each token costs log2(n_total/count) bits and a
    // doc's mean surprisal is the model-based quality signal (high = rare
    // vocabulary / noise, low = common boilerplate) — the classic
    // perplexity-filter shape with the LM table joined in. Same fixed-point
    // integer log2 as q_tfidf, so sums/means are exact BIGINT arithmetic.
    // Scale: the unigram table is vocab-sized (broadcastable when small;
    // AQE picks the join); the per-doc agg partially combines map-side.
    Query("q_unigram_surprisal", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      val cnts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      // surprisal is a pure function of (n_total, cnt): run the log2 fold
      // once per vocab entry on the count table, not once per token
      // OCCURRENCE (r18 — identical integers, corpus-token× fewer folds)
      val lm = cnts.crossJoin(broadcast(total))
        .withColumn("s_e6", expr(log2e6Sql("n_total", "cnt")))
        .select("token", "s_e6")
      toks.join(lm, "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("s_e6")).as("sum_surprisal_e6"))
        .withColumn("mean_surprisal_e6",
          expr("sum_surprisal_e6 div n_tokens"))
        .orderBy("doc_id")
    }),
      // idf is the same fixed-point binary log the Spark side computes
      // (bitlength integer part + 20-step square-and-renormalize mantissa
      // fold): only IEEE-exact ops, so the BIGINT scores agree bit-for-bit.
      // The fold is a recursive CTE over the distinct df values, NOT
      // list_reduce: DuckDB 1.0's list_reduce cross-contaminates struct
      // accumulators between rows of a vector (batch-dependent results)
      // Unigram surprisal: the q_tfidf fixed-point log machinery (recursive
      // fold over DISTINCT count values — see that oracle's comment on
      // DuckDB list_reduce) applied to n_total/cnt, summed per doc.
        """WITH RECURSIVE toks AS (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           cnts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
           nt AS (SELECT count(*) AS n_total FROM toks),
           dv AS (SELECT cnt, n_total
                  FROM (SELECT DISTINCT cnt FROM cnts) CROSS JOIN nt),
           it AS (
             SELECT cnt, n_total, 0 AS i,
               (CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE))
                 / CAST((1::BIGINT << (length(bin(n_total // cnt)) - 1)) AS DOUBLE)
                 AS m,
               0::BIGINT AS k
             FROM dv
             UNION ALL
             SELECT cnt, n_total, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM it WHERE i < 20),
           sv AS (
             SELECT cnt,
               ((CAST(length(bin(n_total // cnt)) - 1 AS BIGINT) * 1048576 + k)
                 * 1000000) // 1048576 AS s_e6
             FROM it WHERE i = 20),
           per AS (
             SELECT doc_id, count(*) AS n_tokens, sum(s_e6) AS sum_surprisal_e6
             FROM toks JOIN cnts USING (token) JOIN sv USING (cnt)
             GROUP BY doc_id)
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(sum_surprisal_e6 AS BIGINT) AS sum_surprisal_e6,
             CAST(sum_surprisal_e6 // n_tokens AS BIGINT) AS mean_surprisal_e6
           FROM per ORDER BY doc_id""",
    ),

    // BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first 8
    // merge rules from the corpus's own word-frequency table — pair counts,
    // lexicographic tie-breaks, and the left-to-right greedy merge pass are
    // all pinned semantics a SQL engine reproduces exactly (see
    // [[graft.text.BpeTrainer]]); the DuckDB oracle replays the entire
    // training loop with per-word recursive-CTE merge walks
    Query("q_bpe_train", ((s, dir) =>
      graft.text.BpeTrainer
        .train(Tables.documents(s, dir), "doc_id", "text", numMerges = 8)
        .orderBy("merge_rank")),
      // BPE training: 8 unrolled rounds, each = weighted adjacent-pair
      // counts over the current word table, top-1 with (cnt DESC, a, b)
      // tie-break, and a per-word recursive-CTE walk applying the merge
      // left-to-right (a merged symbol cannot immediately re-merge).
      {
        def round(i: Int): String = {
          val prev = s"words${i - 1}"
          s"""pairs$i AS (
             SELECT syms[pos] AS a, syms[pos + 1] AS b, sum(freq) AS cnt
             FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS pos
                   FROM $prev)
             GROUP BY 1, 2),
           top$i AS (
             SELECT a, b, cnt FROM pairs$i
             ORDER BY cnt DESC, a, b LIMIT 1),
           walk$i AS (
             SELECT w, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc
             FROM $prev
             UNION ALL
             SELECT k.w, k.freq, k.syms,
               CASE WHEN k.i < len(k.syms) AND k.syms[k.i] = t.a
                         AND k.syms[k.i + 1] = t.b
                 THEN k.i + 2 ELSE k.i + 1 END,
               CASE WHEN k.i < len(k.syms) AND k.syms[k.i] = t.a
                         AND k.syms[k.i + 1] = t.b
                 THEN list_append(k.acc, t.a || t.b)
                 ELSE list_append(k.acc, k.syms[k.i]) END
             FROM walk$i k, top$i t WHERE k.i <= len(k.syms)),
           words$i AS MATERIALIZED (
             SELECT w, freq, acc AS syms FROM walk$i WHERE i = len(syms) + 1)"""
        }
        // each words frame is referenced twice by the next round (pair
        // counts + merge walk); MATERIALIZED stops DuckDB from inlining the
        // chain, which would re-run every earlier recursive walk per
        // reference (exponential blowup over 8 rounds)
        s"""WITH RECURSIVE words0 AS MATERIALIZED (
             SELECT w, freq, regexp_extract_all(w, '(?s).') AS syms
             FROM (SELECT w, count(*) AS freq
                   FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                         FROM documents)
                   GROUP BY w)),
           ${(1 to 8).map(round).mkString(",\n           ")}
           ${(1 to 8).map(i =>
              s"""SELECT CAST($i AS INTEGER) AS merge_rank, a AS left_sym,
                  b AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM top$i""")
             .mkString("\n           UNION ALL\n           ")}
           ORDER BY merge_rank"""
      },
    ),

    // Bigram-LM surprisal with add-one smoothing (one LM order above
    // q_unigram_surprisal; see [[graft.text.CorpusOps.bigramSurprisal]]) —
    // every log2 is the exact fixed-point form, so it hash-matches
    Query("q_bigram_lm", ((s, dir) =>
      graft.text.CorpusOps
        .bigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
      // Bigram LM: lead() bigrams per doc, corpus bigram/context counts,
      // vocab scalar, then the same 20-step fixed-point-log recursive CTE
      // over the DISTINCT (c1+V, c12+1) pairs.
        """WITH RECURSIVE toks AS (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token,
               generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
             FROM documents),
           bg AS (
             SELECT doc_id, w1, w2 FROM (
               SELECT doc_id, token AS w1,
                 lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
               FROM toks)
             WHERE w2 IS NOT NULL),
           c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
           vv AS (SELECT count(DISTINCT token) AS v FROM toks),
           dv AS (
             SELECT DISTINCT c1.c1 + vv.v AS num, c12.c12 + 1 AS den
             FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
           it AS (
             SELECT num, den, 0 AS i,
               (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                 / CAST((1::BIGINT << (length(bin(num // den)) - 1)) AS DOUBLE)
                 AS m,
               0::BIGINT AS k
             FROM dv
             UNION ALL
             SELECT num, den, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM it WHERE i < 20),
           sv AS (
             SELECT num, den,
               ((CAST(length(bin(num // den)) - 1 AS BIGINT) * 1048576 + k)
                 * 1000000) // 1048576 AS s_e6
             FROM it WHERE i = 20),
           per AS (
             SELECT bg.doc_id, count(*) AS n_bigrams, sum(s_e6) AS sum_surprisal_e6
             FROM bg
             JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
             JOIN sv ON sv.num = c1.c1 + vv.v AND sv.den = c12.c12 + 1
             GROUP BY bg.doc_id)
           SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
             CAST(sum_surprisal_e6 AS BIGINT) AS sum_surprisal_e6,
             CAST(sum_surprisal_e6 // n_bigrams AS BIGINT) AS mean_surprisal_e6
           FROM per ORDER BY doc_id""",
    ),

    // BM25 ranking for a fixed query-term set in EXACT integer arithmetic
    // (see [[graft.text.CorpusOps.bm25]] for the k1=6/5, b=3/4 integer
    // folding and the BIGINT-range analysis)
    Query("q_bm25", ((s, dir) =>
      graft.text.CorpusOps
        .bm25(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "query", "table", "join", "stream"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(desc("score_e6"), col("doc_id"))
        .limit(100)),
      // BM25: same fixed-point-log recursive CTE as q_tfidf for idf over
      // the (few) distinct df values of the query terms; the rest is pure
      // BIGINT arithmetic mirroring the integer-folded k1=6/5, b=3/4
      // formula (see the Spark-side comment for the derivation).
        """WITH RECURSIVE toks AS (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           qt AS (SELECT * FROM toks
                  WHERE token IN ('spark','query','table','join','stream')),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2),
           dfreq AS (SELECT token, count(*) AS df
                     FROM (SELECT DISTINCT doc_id, token FROM qt) GROUP BY 1),
           nd AS (SELECT count(*) AS n_docs FROM documents),
           tt AS (SELECT count(*) AS t_total FROM toks),
           dv AS (SELECT df, n_docs
                  FROM (SELECT DISTINCT df FROM dfreq) CROSS JOIN nd),
           it AS (
             SELECT df, n_docs, 0 AS i,
               (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                 / CAST((1::BIGINT << (length(bin(n_docs // df)) - 1)) AS DOUBLE)
                 AS m,
               0::BIGINT AS k
             FROM dv
             UNION ALL
             SELECT df, n_docs, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM it WHERE i < 20),
           iv AS (
             SELECT df,
               ((CAST(length(bin(n_docs // df)) - 1 AS BIGINT) * 1048576 + k)
                 * 1000000) // 1048576 AS idf_e6
             FROM it WHERE i = 20),
           scored AS (
             SELECT tf.doc_id,
               (idf_e6 * tf * 22 * t_total)
                 // (10 * tf * t_total + 3 * t_total + 9 * dl * n_docs) AS term_e6
             FROM tf
             JOIN dl USING (doc_id)
             JOIN dfreq USING (token)
             JOIN iv USING (df)
             CROSS JOIN nd CROSS JOIN tt)
           SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
             CAST(score_e6 AS BIGINT) AS score_e6
           FROM (SELECT doc_id, count(*) AS n_terms, sum(term_e6) AS score_e6
                 FROM scored GROUP BY doc_id)
           ORDER BY score_e6 DESC, doc_id LIMIT 100""",
    ),

    // Corpus-wide boilerplate removal (CCNet/Gopher line-dedup shape at
    // 3-token-chunk granularity — see [[graft.text.CorpusOps.removeBoilerplate]])
    Query("q_boilerplate", ((s, dir) =>
      graft.text.CorpusOps
        .removeBoilerplate(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 3, maxOccurrences = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
      // Boilerplate removal: non-overlapping 3-token chunks, corpus-wide
      // occurrence counts, drop cnt >= 3, reassemble survivors in position
      // order (string_agg ORDER BY pos == Spark's array_sort on (pos, chunk)
      // structs since pos is unique per doc).
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
             FROM documents),
           chunks AS (
             SELECT doc_id, c.pos AS pos, c.chunk AS chunk
             FROM (SELECT doc_id,
                     unnest(list_transform(range(0, (len(t) + 2) // 3),
                       i -> {'pos': i,
                             'chunk': array_to_string(t[i*3+1:i*3+3], ' ')})) AS c
                   FROM toks)),
           freq AS (SELECT chunk, count(*) AS cnt FROM chunks GROUP BY 1)
           SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             coalesce(string_agg(CASE WHEN cnt < 3 THEN chunk END, ' ' ORDER BY pos), '')
               AS cleaned_text
           FROM chunks JOIN freq USING (chunk)
           GROUP BY doc_id ORDER BY doc_id""",
    ),

    // Repetition quality signals (Gopher-style): duplicate-word and
    // duplicate-3-gram fractions per document — exact integer counts, one
    // floored double division
    Query("q_rep_ngrams", ((s, dir) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_words"),
          size(array_distinct(toks)).cast("long").as("n_uniq_words"),
          greatest(size(toks) - lit(2), lit(0)).cast("long").as("n_3grams"),
          size(TF.wordShingles(col("text"), 3)).cast("long").as("n_uniq_3grams"))
        .withColumn("dup_word_frac",
          when(col("n_words") > 0,
            floor((col("n_words") - col("n_uniq_words")) * lit(1e6) / col("n_words")) / 1e6))
        .withColumn("dup_3gram_frac",
          when(col("n_3grams") > 0,
            floor((col("n_3grams") - col("n_uniq_3grams")) * lit(1e6) / col("n_3grams")) / 1e6))
        .orderBy("doc_id")
    }),
        """WITH s AS (
             SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_words,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq_words,
               CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_3grams,
               CAST(CASE WHEN len(t) >= 3
                 THEN len(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' '))))
                 ELSE 0 END AS BIGINT) AS n_uniq_3grams
             FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
                   FROM documents))
           SELECT doc_id, n_words, n_uniq_words, n_3grams, n_uniq_3grams,
             CASE WHEN n_words > 0
               THEN floor((n_words - n_uniq_words) * 1e6 / n_words) / 1e6 END
               AS dup_word_frac,
             CASE WHEN n_3grams > 0
               THEN floor((n_3grams - n_uniq_3grams) * 1e6 / n_3grams) / 1e6 END
               AS dup_3gram_frac
           FROM s ORDER BY doc_id""",
    ),

    // C4 line-level cleaning battery (Raffel et al. 2020 §2.2): per-line
    // terminal-punctuation / min-5-words / javascript rules + doc-level
    // lorem-ipsum / curly-brace / min-3-kept-lines rules. The synthetic
    // corpus is single-line unpunctuated word soup, so the query first
    // sentence-ifies it DETERMINISTICALLY (mirrored verbatim in the
    // oracle): two literal word substitutions plant the javascript /
    // lorem-ipsum / brace triggers, then every 10th token break becomes a
    // ".\n" line break — after which the REAL C4 rules run and every rule
    // fires. The operator itself (TextFunctions.c4KeptLines / c4Keep) is
    // plain newline-line C4, additionally ScalaTested on realistic docs.
    Query("q_c4_filter", ((s, dir) => {
      val derived = regexp_replace(
        replace(replace(col("text"), lit("spark"), lit("javascript")),
          lit("vector"), lit("lorem ipsum {")),
        "((\\S+\\s+){9}\\S+)\\s+", "$1.\n")
      val kept = TF.c4KeptLines(col("c4text"))
      Tables.documents(s, dir)
        .withColumn("c4text", derived)
        .select(
          col("doc_id"),
          size(TF.docLines(col("c4text"))).cast("long").as("n_lines"),
          size(kept).cast("long").as("n_kept_lines"),
          array_join(kept, "\n").as("clean_text"),
          (!lower(col("c4text")).contains("lorem ipsum")).cast("int").as("f_lorem"),
          (!col("c4text").contains("{")).cast("int").as("f_brace"),
          TF.c4Keep(col("c4text")).as("keep"))
        .orderBy("doc_id")
    }),
      // C4 cleaning battery: the same deterministic sentence-ification
      // (literal substitutions + every-10th-token ".\n" break), then the
      // line rules (terminal punct, >=5 words, no javascript) and doc
      // rules (>=3 kept lines, no lorem ipsum, no brace).
        """WITH d AS (
             SELECT doc_id,
               regexp_replace(
                 replace(replace(text, 'spark', 'javascript'),
                         'vector', 'lorem ipsum {'),
                 '((\S+\s+){9}\S+)\s+', '\1.' || chr(10), 'g') AS c4text
             FROM documents),
           k AS (
             SELECT doc_id, c4text,
               str_split(c4text, chr(10)) AS lines,
               list_filter(str_split(c4text, chr(10)), l ->
                 len(str_split_regex(trim(l), '\s+')) >= 5
                 AND right(trim(l), 1) IN ('.', '!', '?', '"')
                 AND NOT contains(lower(l), 'javascript')) AS kept
             FROM d)
           SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept_lines,
             coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
             CAST(NOT contains(lower(c4text), 'lorem ipsum') AS INTEGER) AS f_lorem,
             CAST(NOT contains(c4text, '{') AS INTEGER) AS f_brace,
             CAST(len(kept) >= 3 AND NOT contains(lower(c4text), 'lorem ipsum')
                  AND NOT contains(c4text, '{') AS INTEGER) AS keep
           FROM k ORDER BY doc_id""",
    ),

    // Composite Gopher-style quality filter: every predicate is integer
    // arithmetic (ratio bounds as cross-multiplications) so keep/reason
    // flags hash-match exactly
    Query("q_quality_filter", ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(TF.rawTokens(col("text"))).cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_chars"),
          TF.alphaCount(col("text")).cast("long").as("n_alpha"),
          TF.digitCount(col("text")).cast("long").as("n_digit"),
          TF.punctCount(col("text")).cast("long").as("n_punct"))
        .select(
          col("doc_id"), col("n_words"), col("n_chars"),
          (col("n_words") >= 50 && col("n_words") <= 20000).cast("int").as("f_len"),
          (col("n_alpha") >= col("n_words") * 2 && col("n_alpha") <= col("n_words") * 12)
            .cast("int").as("f_wordlen"),
          (col("n_punct") * 10 <= col("n_chars")).cast("int").as("f_symbol"),
          (col("n_digit") * 5 <= col("n_chars")).cast("int").as("f_digit"))
        .withColumn("keep",
          (col("f_len") + col("f_wordlen") + col("f_symbol") + col("f_digit") === 4)
            .cast("int"))
        .orderBy("doc_id")),
        """WITH b AS (
             SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
             FROM documents),
           f AS (
             SELECT doc_id, n_words, n_chars,
               CAST(n_words >= 50 AND n_words <= 20000 AS INTEGER) AS f_len,
               CAST(n_alpha >= n_words * 2 AND n_alpha <= n_words * 12 AS INTEGER)
                 AS f_wordlen,
               CAST(n_punct * 10 <= n_chars AS INTEGER) AS f_symbol,
               CAST(n_digit * 5 <= n_chars AS INTEGER) AS f_digit
             FROM b)
           SELECT doc_id, n_words, n_chars, f_len, f_wordlen, f_symbol, f_digit,
             CAST(f_len + f_wordlen + f_symbol + f_digit = 4 AS INTEGER) AS keep
           FROM f ORDER BY doc_id""",
    ),

    // Character-distribution entropy quality score:
    // H = log2(n) − Σ c·log2(c) / n over [a-z] counts. Every log2 is the
    // fixed-point integer form ([[log2e6Sql]]), so the per-letter terms,
    // their sum, and the final floor are ALL exact BIGINT arithmetic:
    // entropy_e4 = (n·log2e6(n) − Σ c·log2e6(c)) div (100·n). The only
    // doubles are the final /1e4 display scaling — nothing for a library
    // log's last ulp to flip.
    Query("q_entropy", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]', 0)")).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n"),
          count(lit(1)).cast("int").as("n_letters"),
          sum(col("c") * expr(log2e6Sql("c", "1"))).as("slc_e6"))
        .select(
          col("doc_id"), col("n"), col("n_letters"),
          (expr(s"(n * ${log2e6Sql("n", "1")} - slc_e6) div (100 * n)") / 1e4)
            .as("entropy"))
        .orderBy("doc_id")),
      // both log2s are the Spark side's fixed-point binary log (bitlength +
      // 20-step mantissa fold), so every compared quantity is exact BIGINT
      // arithmetic until the final /1e4 display scaling. Recursive-CTE
      // folds over the distinct c / n values (list_reduce with a struct
      // accumulator is batch-unsafe in DuckDB 1.0 — see q_tfidf)
        """WITH RECURSIVE cnt AS (
             SELECT doc_id, ch, count(*) AS c
             FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
                   FROM documents)
             GROUP BY 1, 2),
           cit AS (
             SELECT c, 0 AS i,
               CAST(c AS DOUBLE)
                 / CAST((1::BIGINT << (length(bin(c)) - 1)) AS DOUBLE) AS m,
               0::BIGINT AS k
             FROM (SELECT DISTINCT c FROM cnt)
             UNION ALL
             SELECT c, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM cit WHERE i < 20),
           lc AS (
             SELECT c,
               ((CAST(length(bin(c)) - 1 AS BIGINT) * 1048576 + k) * 1000000)
                 // 1048576 AS lc_e6
             FROM cit WHERE i = 20),
           agg AS (
             SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS INTEGER) AS n_letters,
               CAST(sum(c * lc_e6) AS BIGINT) AS slc_e6
             FROM cnt JOIN lc USING (c) GROUP BY 1),
           nit AS (
             SELECT n, 0 AS i,
               CAST(n AS DOUBLE)
                 / CAST((1::BIGINT << (length(bin(n)) - 1)) AS DOUBLE) AS m,
               0::BIGINT AS k
             FROM (SELECT DISTINCT n FROM agg)
             UNION ALL
             SELECT n, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM nit WHERE i < 20),
           ln AS (
             SELECT n,
               ((CAST(length(bin(n)) - 1 AS BIGINT) * 1048576 + k) * 1000000)
                 // 1048576 AS ln_e6
             FROM nit WHERE i = 20)
           SELECT doc_id, n, n_letters,
             CAST((n * ln_e6 - slc_e6) // (100 * n) AS BIGINT) / 1e4 AS entropy
           FROM agg JOIN ln USING (n) ORDER BY doc_id""",
    ),

    // Training-sequence packing: concatenate each language's doc stream in
    // doc_id order and split at a 2048-token context budget — pack id and
    // in-pack offset fall out of a running cumulative sum (one window
    // shuffle per key, integer-exact)
    Query("q_seq_pack", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          // `div`, not `/`: long/long `/` is DOUBLE division in Spark SQL
          expr("(cum - n_tokens) div 2048").as("pack_id"),
          ((col("cum") - col("n_tokens")) % 2048).as("pack_offset"))
        .orderBy("lang", "doc_id")
    }),
        """WITH b AS (
             SELECT lang, doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens
             FROM documents),
           c AS (
             SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM b)
           SELECT lang, doc_id, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
             CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
           FROM c ORDER BY lang, doc_id""",
    ),

    // Document chunking with stride/overlap (sliding context windows):
    // starts every 256 tokens, 512-token chunks, short tail chunks dropped
    // unless they are the document's only chunk
    Query("q_chunk", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          posexplode(expr("sequence(0L, greatest(n_tokens - 1L, 0L), 256L)"))
            .as(Seq("chunk_idx", "start")))
        .withColumn("chunk_len", least(lit(512L), col("n_tokens") - col("start")))
        .filter(col("chunk_len") >= 64 || col("chunk_idx") === 0)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("start"), col("chunk_len"))
        .orderBy("doc_id", "chunk_idx")),
        """WITH b AS (
             SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens
             FROM documents),
           e AS (
             SELECT doc_id, n_tokens,
               unnest(range(0, greatest(n_tokens - 1, 0) + 1, 256)) AS start
             FROM b)
           SELECT doc_id, CAST(start // 256 AS BIGINT) AS chunk_idx, start,
             least(512, n_tokens - start) AS chunk_len
           FROM e
           WHERE least(512, n_tokens - start) >= 64 OR start = 0
           ORDER BY doc_id, chunk_idx""",
    ),

    // PII-shaped redaction: digit runs → <NUM>, email-shaped tokens →
    // <EMAIL>, with redaction counts and a polynomial fingerprint of the
    // redacted text proving byte-identical replacement semantics
    Query("q_pii_redact", ((s, dir) => {
      val redacted = regexp_replace(
        regexp_replace(col("text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit("<EMAIL>")),
        lit("[0-9]+"), lit("<NUM>"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_num_runs"),
          regexp_count(col("text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"))
            .cast("long").as("n_emails"),
          length(redacted).cast("long").as("redacted_len"),
          TF.fingerprint(redacted).as("redacted_fp"))
        .orderBy("doc_id")
    }),
        """WITH r AS (
             SELECT doc_id, text,
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                   '<EMAIL>', 'g'),
                 '[0-9]+', '<NUM>', 'g') AS red
             FROM documents)
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
               AS BIGINT) AS n_emails,
             CAST(length(red) AS BIGINT) AS redacted_len,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                 list_transform(regexp_extract_all(red, '(?s).'),
                   c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 1000000007) AS redacted_fp
           FROM r ORDER BY doc_id""",
    ),

    // Eval-set contamination: which training docs share word-3-gram
    // shingles with the held-out slice (doc_id % 100 == 0)? The eval
    // shingle set is distinct-exploded and broadcastable; overlap counts
    // are exact integers
    Query("q_contamination", ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TF.wordShingles(col("text"), 3).as("sh"))
      val evalSh = d.filter(col("doc_id") % 100 === 0)
        .select(explode(col("sh")).as("g")).distinct()
      val train = d.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
          explode(col("sh")).as("g"))
      train.join(broadcast(evalSh), Seq("g"), "left_semi")
        .groupBy("doc_id", "n_shingles")
        .agg(count(lit(1)).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          (col("n_shared") * 10 >= col("n_shingles")).cast("int").as("contaminated"))
        .orderBy("doc_id")
    }),
        """WITH shs AS (
             SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [] END AS sh
             FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
                   FROM documents)),
           ev AS (
             SELECT DISTINCT g
             FROM (SELECT unnest(sh) AS g FROM shs WHERE doc_id % 100 = 0)),
           tr AS (
             SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
               unnest(sh) AS g
             FROM shs WHERE doc_id % 100 <> 0)
           SELECT doc_id, n_shingles, CAST(count(*) AS BIGINT) AS n_shared,
             CAST(count(*) * 10 >= n_shingles AS INTEGER) AS contaminated
           FROM tr JOIN ev USING (g)
           GROUP BY doc_id, n_shingles ORDER BY doc_id""",
    ),

    // Conjunctive keyword search over the inverted index: docs containing
    // ALL query terms, scored by summed tf (InvertedIndex)
    Query("q_inverted_search", ((s, dir) => {
      val p = graft.text.InvertedIndex.postings(
        Tables.documents(s, dir), "doc_id", "text")
      graft.text.InvertedIndex.searchAll(p, Seq("spark", "window", "merge"))
        .orderBy(col("score").desc, col("doc"))
    }),
        """WITH toks AS (
             SELECT doc_id AS doc,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
             FROM documents),
           p AS (
             SELECT term, doc, CAST(count(*) AS BIGINT) AS tf
             FROM toks WHERE term <> '' GROUP BY 1, 2),
           m AS (
             SELECT doc, count(*) AS nt, CAST(sum(tf) AS BIGINT) AS score
             FROM p WHERE term IN ('spark', 'window', 'merge') GROUP BY 1)
           SELECT doc, score FROM m WHERE nt = 3 ORDER BY score DESC, doc""",
    ),

    // DSIR data selection (Xie et al. 2023): importance weights that tilt
    // the raw corpus toward a target subset (here: English docs) via
    // hashed-unigram likelihood ratios — exact fixed-point log2 end to
    // end, top-100 docs by weight (text.CorpusOps.dsirLogWeights)
    Query("q_dsir_weights", ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("is_target", col("lang") === "en")
      graft.text.CorpusOps
        .dsirLogWeights(docs, "doc_id", "text", "is_target", m = 1024)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("w_e6").desc, col("doc_id"))
        .limit(100)
    }),
      // DSIR mirror: hashed-unigram buckets (seed-0 poly fingerprint mod
      // 1024), add-one-smoothed target/raw ratios cross-multiplied to an
      // integer rational, the 20-step fixed-point log2 as a recursive CTE
      // over the distinct (num, den) pairs, sign from the a>=b side
        """WITH RECURSIVE toks AS (
             SELECT doc_id, (lang = 'en') AS tgt,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS token
             FROM documents),
           fb AS (
             SELECT doc_id, tgt,
               list_reduce(
                 list_prepend(CAST(1 AS BIGINT),
                   list_transform(regexp_extract_all(token, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) % 1024 AS f
             FROM toks),
           rawc AS (SELECT f, CAST(count(*) AS BIGINT) AS raw_f
                    FROM fb GROUP BY 1),
           tgtc AS (SELECT f, CAST(count(*) AS BIGINT) AS target_f
                    FROM fb WHERE tgt GROUP BY 1),
           tot AS (
             SELECT CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
                      AS t_target,
                    CAST(count(*) AS BIGINT) AS t_raw
             FROM fb),
           ab AS (
             SELECT r.f,
               (COALESCE(g.target_f, 0) + 1) * (t.t_raw + 1024) AS a,
               (t.t_target + 1024) * (r.raw_f + 1) AS b
             FROM rawc r LEFT JOIN tgtc g USING (f) CROSS JOIN tot t),
           gl AS (SELECT f, greatest(a, b) AS gg, least(a, b) AS ll,
                    (a >= b) AS pos
                  FROM ab),
           dv AS (SELECT DISTINCT gg, ll FROM gl),
           it AS (
             SELECT gg, ll, 0 AS i,
               (CAST(gg AS DOUBLE) / CAST(ll AS DOUBLE))
                 / CAST((1::BIGINT << (length(bin(gg // ll)) - 1)) AS DOUBLE)
                 AS m,
               0::BIGINT AS k
             FROM dv
             UNION ALL
             SELECT gg, ll, i + 1,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN m * m / CAST(2 AS DOUBLE) ELSE m * m END,
               CASE WHEN m * m >= CAST(2 AS DOUBLE)
                 THEN k * 2 + 1 ELSE k * 2 END
             FROM it WHERE i < 20),
           lg AS (
             SELECT gg, ll,
               ((CAST(length(bin(gg // ll)) - 1 AS BIGINT) * 1048576 + k)
                 * 1000000) // 1048576 AS mag_e6
             FROM it WHERE i = 20),
           delta AS (
             SELECT f, CASE WHEN pos THEN mag_e6 ELSE -mag_e6 END
               AS delta_e6
             FROM gl JOIN lg USING (gg, ll)),
           w AS (
             SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(d.delta_e6) AS BIGINT) AS w_e6
             FROM fb JOIN delta d USING (f) GROUP BY 1)
           SELECT doc_id, n_tokens, w_e6 FROM w
           ORDER BY w_e6 DESC, doc_id LIMIT 100""",
    ),

    // distributed linear-probe TRAINING (fasttext-style quality
    // classifier's linear core): 3 full-batch GD iterations on hashed
    // token-count features, all e6 fixed-point integers — training
    // itself is bit-reproducible and oracle-replayed
    // (operators.LinearProbe)
    Query("q_linear_probe", ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("is_en", col("lang") === "en")
      graft.operators.LinearProbe
        .trainScores(docs, "doc_id", "text", "is_en",
          m = 32, iters = 3, lrDen = 20000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("score_e6").desc, col("doc_id"))
        .limit(100)
    }),
      // linear-probe mirror: the full 3-iteration GD loop unrolled —
      // per-bucket counts, zero-init weights, pred/grad/update per round
      // with the same signed truncating division
      {
        val iter = (wp: String, p: String, g: String, wn: String) =>
          s"""$p AS (
             SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT) AS pred
             FROM feats f JOIN $wp w USING (j) GROUP BY 1),
           $g AS (
             SELECT f.j, CAST(sum(f.x * (p.pred - y.y_e6)) AS BIGINT) AS g
             FROM feats f JOIN $p p USING (doc_id) JOIN y USING (doc_id)
             GROUP BY 1),
           $wn AS (
             SELECT w.j, w.w - COALESCE(g.g, 0) // (20000 * n) AS w
             FROM $wp w LEFT JOIN $g g USING (j) CROSS JOIN nn)"""
        """WITH toks AS (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS token
             FROM documents),
           feats AS (
             SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(1 AS BIGINT),
                   list_transform(regexp_extract_all(token, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) % 32 AS j,
               CAST(count(*) AS BIGINT) AS x
             FROM toks GROUP BY 1, 2),
           y AS (
             SELECT doc_id,
               CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT)
                 AS y_e6
             FROM documents),
           nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           w0 AS (SELECT j, CAST(0 AS BIGINT) AS w FROM range(32) t(j)),
           """ +
          Seq(("w0", "p1", "g1", "w1"), ("w1", "p2", "g2", "w2"),
            ("w2", "p3", "g3", "w3"))
            .map { case (a, b, c, d) => iter(a, b, c, d) }.mkString(",\n") +
          """
           SELECT f.doc_id, y.y_e6, CAST(sum(f.x * w.w) AS BIGINT) AS score_e6
           FROM feats f JOIN w3 w USING (j) JOIN y USING (doc_id)
           GROUP BY f.doc_id, y.y_e6
           ORDER BY score_e6 DESC, doc_id LIMIT 100"""
      },
    ),
  )
}
