
    WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' ')))) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE TRUE)
),
    th AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h1, CAST(('0x' || substr(md5(token || '#'), 1, 8)) AS BIGINT) AS h2 FROM tok),
    sig AS (SELECT doc_id, min((h1 + 0 * h2) % 4294967296) AS mh0, min((h1 + 1 * h2) % 4294967296) AS mh1, min((h1 + 2 * h2) % 4294967296) AS mh2, min((h1 + 3 * h2) % 4294967296) AS mh3, min((h1 + 4 * h2) % 4294967296) AS mh4, min((h1 + 5 * h2) % 4294967296) AS mh5, min((h1 + 6 * h2) % 4294967296) AS mh6, min((h1 + 7 * h2) % 4294967296) AS mh7, min((h1 + 8 * h2) % 4294967296) AS mh8, min((h1 + 9 * h2) % 4294967296) AS mh9, min((h1 + 10 * h2) % 4294967296) AS mh10, min((h1 + 11 * h2) % 4294967296) AS mh11, min((h1 + 12 * h2) % 4294967296) AS mh12, min((h1 + 13 * h2) % 4294967296) AS mh13, min((h1 + 14 * h2) % 4294967296) AS mh14, min((h1 + 15 * h2) % 4294967296) AS mh15 FROM th GROUP BY doc_id),
    bands AS (SELECT doc_id, 0 AS band_id, concat(CAST(mh0 AS STRING), '|', CAST(mh1 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 1 AS band_id, concat(CAST(mh2 AS STRING), '|', CAST(mh3 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 2 AS band_id, concat(CAST(mh4 AS STRING), '|', CAST(mh5 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 3 AS band_id, concat(CAST(mh6 AS STRING), '|', CAST(mh7 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 4 AS band_id, concat(CAST(mh8 AS STRING), '|', CAST(mh9 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 5 AS band_id, concat(CAST(mh10 AS STRING), '|', CAST(mh11 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 6 AS band_id, concat(CAST(mh12 AS STRING), '|', CAST(mh13 AS STRING)) AS band_val FROM sig UNION ALL SELECT doc_id, 7 AS band_id, concat(CAST(mh14 AS STRING), '|', CAST(mh15 AS STRING)) AS band_val FROM sig),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id),
    common AS (
        SELECT x.doc_a, x.doc_b, count(*) AS c
        FROM cand x
        JOIN tok ta ON ta.doc_id = x.doc_a
        JOIN tok tb ON tb.doc_id = x.doc_b AND tb.token = ta.token
        GROUP BY x.doc_a, x.doc_b),
    scored AS (
        SELECT doc_a, doc_b, c * 1.0 / (sa.sz + sb.sz - c) AS j
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5)
    SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM scored
    