
    WITH bench AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE source = 'src0')
    ),
    corpus AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE source <> 'src0')
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM corpus c JOIN bench b ON c.g = b.g)
    SELECT d.doc_id, d.source,
           (ct.doc_id IS NOT NULL) AS contaminated
    FROM documents d
    LEFT JOIN contaminated ct ON ct.doc_id = d.doc_id
    WHERE d.source <> 'src0'
    