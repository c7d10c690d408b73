
    WITH ex AS (
    SELECT doc_id, content_hash FROM (
        SELECT doc_id, md5(text) AS content_hash,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    ), rep AS (
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             length(replace(text, ' ', '')) AS nc_nospace
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             round(len(list_distinct(toks)) * 1.0 / len(toks), 6)
               AS distinct_ratio,
             round(nc_nospace * 1.0 / len(toks), 6) AS mean_word_len,
             CASE WHEN len(toks) < 2 THEN 0.0 ELSE
               round(1.0 - len(list_distinct(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1]))) * 1.0
                     / (len(toks) - 1), 6)
             END AS dup_bigram_frac
      FROM t)
    SELECT doc_id, n_tokens, distinct_ratio, mean_word_len, dup_bigram_frac,
           (n_tokens >= 30
            AND distinct_ratio > 0.45
            AND dup_bigram_frac < 0.08) AS keep
    FROM m
    ), lm AS (
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
    tot AS (SELECT count(*) AS n FROM tok),
    vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    s AS (
        SELECT t.doc_id, count(*) AS n_tokens,
               -avg(ln(v.c * 1.0 / tot.n)) AS ce
        FROM tok t JOIN vocab v USING (term) CROSS JOIN tot
        GROUP BY t.doc_id)
    SELECT doc_id, n_tokens,
           CAST(round(ce, 6) AS REAL) AS cross_entropy,
           ce > 3.45 AS is_outlier
    FROM s
    ), cl AS (
    WITH spans AS (
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (SELECT doc_id,
                  unnest(list_transform(
                      generate_series(1, len(ws) - 7),
                      i -> {'pos': i,
                             'g': array_to_string(
                                 ws[i:i+7], ' ')})) AS s
           FROM t WHERE len(ws) >= 8),
    g AS (SELECT doc_id, CAST(s.pos AS INT) AS pos, s.g AS g FROM g0),
    keep AS (SELECT g FROM g GROUP BY g
             HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
                AND count(*) <= 64),
    gk AS (SELECT g.doc_id, g.pos, g.g FROM g JOIN keep USING (g)),
    anch AS (SELECT * FROM gk
             WHERE CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4 = 0),
    cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                    a.pos - b.pos AS diag
             FROM anch a JOIN anch b USING (g) WHERE a.doc_id < b.doc_id),
    m AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                 a.pos - b.pos AS diag, a.pos AS pa
          FROM gk a JOIN gk b USING (g)
          JOIN cand c ON c.da = a.doc_id AND c.db = b.doc_id
                     AND c.diag = a.pos - b.pos
          WHERE a.doc_id < b.doc_id),
    runs AS (SELECT da, db, diag, pa,
                    pa - row_number() OVER (PARTITION BY da, db, diag
                                            ORDER BY pa) AS grp
             FROM m)
    SELECT da AS doc_a, db AS doc_b,
           CAST(min(pa) AS INT) AS a_start,
           CAST(min(pa) - diag AS INT) AS b_start,
           CAST(count(*) + 7 AS INT) AS span_len
    FROM runs GROUP BY da, db, diag, grp
    HAVING count(*) + 7 >= 12
    ),
    iv AS (SELECT doc_b AS doc_id, b_start AS s,
                  b_start + span_len - 1 AS e, doc_a
           FROM spans),
    o AS (SELECT doc_id, s, e, doc_a,
                 max(e) OVER (PARTITION BY doc_id
                              ORDER BY s, e, doc_a
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS pmax
          FROM iv),
    fl AS (SELECT doc_id, s, e, doc_a,
                  CASE WHEN pmax IS NULL OR s > pmax + 1
                       THEN 1 ELSE 0 END AS nf
           FROM o),
    isl AS (SELECT doc_id, s, e, doc_a,
                   sum(nf) OVER (PARTITION BY doc_id
                                 ORDER BY s, e, doc_a
                                 ROWS UNBOUNDED PRECEDING) AS grp
            FROM fl)
    SELECT doc_id,
           CAST(min(s) AS INT) AS cut_start,
           CAST(max(e) AS INT) AS cut_end,
           CAST(max(e) - min(s) + 1 AS INT) AS cut_len,
           min(doc_a) AS canon_doc
    FROM isl GROUP BY doc_id, grp
    ),
    cut AS (SELECT doc_id, sum(cut_len) AS cut_tokens
            FROM cl GROUP BY doc_id),
    base AS (
      SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
             coalesce(cut.cut_tokens, 0) AS cut_tokens,
             (ex.doc_id IS NOT NULL) AS p1,
             (ex.doc_id IS NOT NULL AND rep.keep) AS p2,
             (ex.doc_id IS NOT NULL AND rep.keep AND NOT lm.is_outlier)
               AS p3,
             (ex.doc_id IS NOT NULL AND rep.keep AND NOT lm.is_outlier
              AND coalesce(cut.cut_tokens, 0) * 2
                  <= len(string_split(d.text, ' '))) AS p4
      FROM documents d
      LEFT JOIN ex ON ex.doc_id = d.doc_id
      JOIN rep ON rep.doc_id = d.doc_id
      JOIN lm ON lm.doc_id = d.doc_id
      LEFT JOIN cut ON cut.doc_id = d.doc_id)
    SELECT '0_raw' AS stage, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM base
    UNION ALL SELECT '1_exact_dedup', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM base WHERE p1
    UNION ALL SELECT '2_quality', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM base WHERE p2
    UNION ALL SELECT '3_lm_filter', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM base WHERE p3
    UNION ALL SELECT '4_substring_cut', count(*),
           CAST(sum(n_tokens - cut_tokens) AS BIGINT) FROM base WHERE p4
    