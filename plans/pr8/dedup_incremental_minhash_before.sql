
    WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
    th AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h1, CAST(('0x' || substr(md5(token || '#'), 1, 8)) AS BIGINT) AS h2 FROM tok),
    sig AS (SELECT doc_id, min((h1 + 0 * h2) % 4294967296) AS mh0, min((h1 + 1 * h2) % 4294967296) AS mh1, min((h1 + 2 * h2) % 4294967296) AS mh2, min((h1 + 3 * h2) % 4294967296) AS mh3, min((h1 + 4 * h2) % 4294967296) AS mh4, min((h1 + 5 * h2) % 4294967296) AS mh5, min((h1 + 6 * h2) % 4294967296) AS mh6, min((h1 + 7 * h2) % 4294967296) AS mh7, min((h1 + 8 * h2) % 4294967296) AS mh8, min((h1 + 9 * h2) % 4294967296) AS mh9, min((h1 + 10 * h2) % 4294967296) AS mh10, min((h1 + 11 * h2) % 4294967296) AS mh11, min((h1 + 12 * h2) % 4294967296) AS mh12, min((h1 + 13 * h2) % 4294967296) AS mh13, min((h1 + 14 * h2) % 4294967296) AS mh14, min((h1 + 15 * h2) % 4294967296) AS mh15 FROM th GROUP BY doc_id),
    bands AS (SELECT doc_id, 0 AS band_id, concat(mh0, '|', mh1) AS band_val FROM sig UNION ALL SELECT doc_id, 1 AS band_id, concat(mh2, '|', mh3) AS band_val FROM sig UNION ALL SELECT doc_id, 2 AS band_id, concat(mh4, '|', mh5) AS band_val FROM sig UNION ALL SELECT doc_id, 3 AS band_id, concat(mh6, '|', mh7) AS band_val FROM sig UNION ALL SELECT doc_id, 4 AS band_id, concat(mh8, '|', mh9) AS band_val FROM sig UNION ALL SELECT doc_id, 5 AS band_id, concat(mh10, '|', mh11) AS band_val FROM sig UNION ALL SELECT doc_id, 6 AS band_id, concat(mh12, '|', mh13) AS band_val FROM sig UNION ALL SELECT doc_id, 7 AS band_id, concat(mh14, '|', mh15) AS band_val FROM sig),
    flags AS (SELECT doc_id,
                     CAST(substr(source, 4) AS INT)
                       >= 15 AS is_incoming
              FROM documents),
    cand AS (
        SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
        FROM bands x
        JOIN flags fx ON fx.doc_id = x.doc_id AND fx.is_incoming
        JOIN bands y ON y.band_id = x.band_id
                    AND y.band_val = x.band_val
        JOIN flags fy ON fy.doc_id = y.doc_id AND NOT fy.is_incoming),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    common AS (
        SELECT c.batch_id, c.corpus_id, count(*) AS ct
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.batch_id
        JOIN tok tb ON tb.doc_id = c.corpus_id AND tb.token = ta.token
        GROUP BY c.batch_id, c.corpus_id),
    scored AS (
        SELECT batch_id, corpus_id,
               ct * 1.0 / (sa.sz + sb.sz - ct) AS j
        FROM common
        JOIN sizes sa ON sa.doc_id = batch_id
        JOIN sizes sb ON sb.doc_id = corpus_id
        WHERE ct * 1.0 / (sa.sz + sb.sz - ct) >= 0.5),
    best AS (SELECT batch_id, corpus_id, j FROM (
            SELECT batch_id, corpus_id, j,
                   row_number() OVER (PARTITION BY batch_id
                                      ORDER BY j DESC, corpus_id) AS rn
            FROM scored) WHERE rn = 1)
    SELECT f.doc_id, b.corpus_id AS matched_doc_id,
           round(b.j, 6) AS jaccard,
           (b.corpus_id IS NOT NULL) AS near_dup_of_existing
    FROM flags f LEFT JOIN best b ON b.batch_id = f.doc_id
    WHERE f.is_incoming
    