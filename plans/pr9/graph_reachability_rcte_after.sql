
    WITH RECURSIVE
    e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(node, hops) AS (
        SELECT 'c1' AS node, 0 AS hops
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < 2)
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM reach GROUP BY node
