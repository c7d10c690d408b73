
    WITH 
    e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
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
    