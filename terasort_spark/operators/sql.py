"""Spark SQL surface: recursive CTEs, named parameter markers with
EXECUTE IMMEDIATE, SQL scripting and GROUP BY ALL.

Each query is issued as SQL text against the catalog views and graded
against the DuckDB form of the same statement."""

from __future__ import annotations

from terasort_spark.catalog import table
from terasort_spark.registry import register

# ---------------------------------------------------------------------------
# sql_params — named parameter markers + EXECUTE IMMEDIATE

_MINP = 250000.0
_ST = "O"


@register(
    "sql_params",
    oracle=f"""
SELECT 'named' AS src, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_totalprice > {_MINP} AND o_orderstatus = '{_ST}'
GROUP BY o_orderpriority
UNION ALL
SELECT 'exec_immediate', o_orderpriority, CAST(count(*) AS BIGINT)
FROM orders WHERE o_totalprice <= {_MINP} AND o_orderstatus = '{_ST}'
GROUP BY o_orderpriority
""",
)
def sql_params(spark, sf_dir):
    """Parameterized SQL, both Spark-4 flavors: (a) named parameter
    markers (`:minp`, `:st`) bound through spark.sql(..., args=...) —
    values travel as LITERAL PARAMETERS, never string-interpolated, so
    a serving layer is injection-safe by construction and Catalyst
    still constant-folds/pushes the bound predicate into the scan; (b)
    EXECUTE IMMEDIATE with positional `?` markers bound via USING — the
    dynamic-SQL form stored procedures and BI tools emit. The two
    branches partition orders on the bound threshold, so the oracle
    (literals inlined) proves binding semantics, not just execution."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    named = spark.sql(
        """
        SELECT 'named' AS src, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders_v
        WHERE o_totalprice > :minp AND o_orderstatus = :st
        GROUP BY o_orderpriority
        """,
        args={"minp": _MINP, "st": _ST},
    )
    exec_imm = spark.sql(
        f"""
        EXECUTE IMMEDIATE
          'SELECT ''exec_immediate'' AS src, o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n
           FROM orders_v
           WHERE o_totalprice <= ? AND o_orderstatus = ?
           GROUP BY o_orderpriority'
          USING {_MINP}, '{_ST}'
        """
    )
    return named.unionByName(exec_imm)


# ---------------------------------------------------------------------------
# sql_recursive_cte / sql_scripting — Spark 4.1 SQL surface


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE up AS (
  SELECT s_suppkey AS node, s_suppkey AS cur,
         0 AS depth, CAST(s_suppkey AS BIGINT) AS path_sum
  FROM supplier
  UNION ALL
  SELECT node, cur // 2, depth + 1, path_sum + cur // 2
  FROM up WHERE cur > 1
)
SELECT node, CAST(max(depth) AS INT) AS depth,
       CAST(max(path_sum) AS BIGINT) AS path_sum
FROM up GROUP BY node
""",
)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4.1):
    walk every supplier up the implicit binary-heap hierarchy
    (parent(n) = n div 2) to the root, accumulating depth and the
    ancestor-key path sum — the org-chart / BOM / reachability shape
    that needed iterative DataFrame loops (graph_pagerank style) before
    the engine executed fixpoint recursion itself. DuckDB runs the
    IDENTICAL recursive SQL, so termination, step semantics and the
    accumulated values are all hash-graded. Depth is logarithmic in
    the key (the recursion is O(n log n) rows total); at 100 TB the
    same pattern walks real parent-pointer hierarchies with each
    iteration a self-join Catalyst plans like any other."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
WITH RECURSIVE up AS (
  SELECT s_suppkey AS node, s_suppkey AS cur,
         0 AS depth, CAST(s_suppkey AS BIGINT) AS path_sum
  FROM supplier
  UNION ALL
  SELECT node, CAST(cur / 2 AS BIGINT), depth + 1,
         path_sum + CAST(cur / 2 AS BIGINT)
  FROM up WHERE cur > 1
)
SELECT node, CAST(max(depth) AS INT) AS depth,
       CAST(max(path_sum) AS BIGINT) AS path_sum
FROM up GROUP BY node
"""
    )


@register(
    "sql_scripting",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
""",
)
def sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4 BEGIN..END procedural blocks): a WHILE
    loop accumulates per-residue partial aggregates of orders into
    DECLAREd session variables — five scripted iterations whose final
    SELECT must equal the one-shot aggregate. The exhibit is the
    procedural surface (DECLARE / SET / WHILE / scalar subqueries in
    loop bodies), graded by the plain-SQL oracle; each loop iteration
    is still a full Catalyst-planned query, so nothing here trades
    distributed execution for driver loops."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
BEGIN
  DECLARE k INT DEFAULT 0;
  DECLARE n_orders BIGINT DEFAULT 0;
  DECLARE total_cents BIGINT DEFAULT 0;
  WHILE k < 5 DO
    SET n_orders = n_orders + (
      SELECT count(*) FROM orders WHERE o_orderkey % 5 = k);
    SET total_cents = total_cents + (
      SELECT coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 0)
      FROM orders WHERE o_orderkey % 5 = k);
    SET k = k + 1;
  END WHILE;
  SELECT n_orders, total_cents;
END
"""
    )


# ---------------------------------------------------------------------------
# sql_group_by_all


@register(
    "sql_group_by_all",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS total
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def sql_group_by_all(spark, sf_dir):
    """Spark 4's GROUP BY ALL surface: every non-aggregate select item
    becomes a grouping key, resolved by the analyzer — the
    exploratory-SQL affordance DuckDB popularized. The oracle states
    the same query with explicit keys, so the grade proves the ALL
    resolution picked exactly the non-aggregate columns. Exact
    DECIMAL money sum (D1)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_gba_v"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS total
        FROM orders_gba_v
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "cte_recursive",
    oracle="""
WITH RECURSIVE chain AS (
    SELECT n_nationkey AS nk, n_name AS name,
           CAST(0 AS INTEGER) AS depth, n_name AS path
    FROM nation WHERE n_nationkey = 0
    UNION ALL
    SELECT n.n_nationkey, n.n_name,
           CAST(c.depth + 1 AS INTEGER),
           concat(c.path, '>', n.n_name)
    FROM nation n JOIN chain c
      ON n.n_nationkey > 0 AND (n.n_nationkey - 1) // 2 = c.nk
)
SELECT nk, name, depth, path FROM chain
""",
)
def cte_recursive(spark, sf_dir):
    """Recursive CTE (WITH RECURSIVE, Spark 4 SQL): traverse a synthetic
    binary-heap hierarchy over nation (parent(k) = (k-1) div 2, root 0),
    emitting each node's depth and root path. The iterative-join shape
    behind org charts, BOM explosions, and graph reachability.

    Scale notes: each recursion level is one equi-join of the frontier
    against the (once-scanned, re-used) node table; levels = tree height
    (log n here). Spark executes UnionLoop with the same per-level plan
    an imperative loop would build, but inside one optimized query."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
            SELECT n_nationkey AS nk, n_name AS name,
                   CAST(0 AS INT) AS depth, n_name AS path
            FROM nation WHERE n_nationkey = 0
            UNION ALL
            SELECT n.n_nationkey, n.n_name,
                   CAST(c.depth + 1 AS INT),
                   concat(c.path, '>', n.n_name)
            FROM nation n JOIN chain c
              ON n.n_nationkey > 0 AND (n.n_nationkey - 1) DIV 2 = c.nk
        )
        SELECT nk, name, depth, path FROM chain
        """
    )
