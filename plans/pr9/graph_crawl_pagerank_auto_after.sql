
    WITH 
    l0 AS (
        SELECT doc_id AS src, xor(doc_id, 1) AS dst FROM documents
        UNION ALL SELECT doc_id, xor(doc_id, 2) FROM documents
            WHERE doc_id % 3 >= 1
        UNION ALL SELECT doc_id, xor(doc_id, 4) FROM documents
            WHERE doc_id % 3 = 2),
    edges AS (SELECT l0.src, l0.dst FROM l0
              JOIN documents d ON d.doc_id = l0.dst),
    nodes AS (SELECT doc_id AS node FROM documents),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
    
    r1 AS (
        SELECT n.node,
               0.15 + 0.85 * coalesce(sum(p.rank / d.outdeg), 0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r0 p ON p.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node),
    r2 AS (
        SELECT n.node,
               0.15 + 0.85 * coalesce(sum(p.rank / d.outdeg), 0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r1 p ON p.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node),
    r3 AS (
        SELECT n.node,
               0.15 + 0.85 * coalesce(sum(p.rank / d.outdeg), 0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r2 p ON p.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node)
    SELECT node, CAST(round(rank, 6) AS REAL) AS rank
    FROM r3
    