
    WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
    freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    kept AS (SELECT t.doc_id, t.token
             FROM tok t JOIN freq f ON f.token = t.token
             WHERE f.df <= 5),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM kept a JOIN kept b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5
    