
    WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
    th AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h1, CAST(('0x' || substr(md5(token || '#'), 1, 8)) AS BIGINT) AS h2 FROM tok),
    sig AS (SELECT doc_id, min((h1 + 0 * h2) % 4294967296) AS mh0, min((h1 + 1 * h2) % 4294967296) AS mh1, min((h1 + 2 * h2) % 4294967296) AS mh2, min((h1 + 3 * h2) % 4294967296) AS mh3, min((h1 + 4 * h2) % 4294967296) AS mh4, min((h1 + 5 * h2) % 4294967296) AS mh5, min((h1 + 6 * h2) % 4294967296) AS mh6, min((h1 + 7 * h2) % 4294967296) AS mh7, min((h1 + 8 * h2) % 4294967296) AS mh8, min((h1 + 9 * h2) % 4294967296) AS mh9, min((h1 + 10 * h2) % 4294967296) AS mh10, min((h1 + 11 * h2) % 4294967296) AS mh11, min((h1 + 12 * h2) % 4294967296) AS mh12, min((h1 + 13 * h2) % 4294967296) AS mh13, min((h1 + 14 * h2) % 4294967296) AS mh14, min((h1 + 15 * h2) % 4294967296) AS mh15 FROM th GROUP BY doc_id),
    bands AS (SELECT doc_id, 0 AS band_id, concat(mh0, '|', mh1) AS band_val FROM sig UNION ALL SELECT doc_id, 1 AS band_id, concat(mh2, '|', mh3) AS band_val FROM sig UNION ALL SELECT doc_id, 2 AS band_id, concat(mh4, '|', mh5) AS band_val FROM sig UNION ALL SELECT doc_id, 3 AS band_id, concat(mh6, '|', mh7) AS band_val FROM sig UNION ALL SELECT doc_id, 4 AS band_id, concat(mh8, '|', mh9) AS band_val FROM sig UNION ALL SELECT doc_id, 5 AS band_id, concat(mh10, '|', mh11) AS band_val FROM sig UNION ALL SELECT doc_id, 6 AS band_id, concat(mh12, '|', mh13) AS band_val FROM sig UNION ALL SELECT doc_id, 7 AS band_id, concat(mh14, '|', mh15) AS band_val FROM sig),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS ct
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.doc_a
        JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
        GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b,
           round(ct * 1.0 / (sa.sz + sb.sz - ct), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ct * 1.0 / (sa.sz + sb.sz - ct) >= 0.5
    