
    WITH tok AS (
    SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' ')))) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE TRUE)
),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT doc_a, doc_b, c * 1.0 / (sa.sz + sb.sz - c) AS j
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5)
    SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM scored
    