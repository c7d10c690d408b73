
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
    