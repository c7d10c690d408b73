
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS pos,
                 unnest(l) AS g
          FROM (SELECT doc_id, list_transform(generate_series(1, len(ws) - 7), i -> array_to_string(ws[i:i+7], ' ')) AS l FROM t)),
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
    