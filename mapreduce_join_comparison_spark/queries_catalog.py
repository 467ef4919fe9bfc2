"""Central query registry backing ``__spark_entry__.queries()`` /
``oracle_sql()``.

Each registered query is one implemented operator from SURVEY.md §2 (or
a scale extension). The Spark callable and the DuckDB oracle SQL must
produce identical (row-count, schema-names, values) results at sf0.01 —
alias every computed column the same on both sides.

Registration is decorator-based so operator modules can self-register;
this module imports them all at the bottom. ``QUERIES`` and ``ORACLES``
iterate in registration order: this module's keys in source order, then
``tpch_queries``, then ``pipeline``. Importing ``pipeline`` first gives
the same order: its registrations wait on the circular import of this
module, so they still land last.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` → rows-only check (for
    non-SQL-expressible ops like generators / streaming)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    from .sources import load_table

    return [load_table(spark, sf_dir, n) for n in names]


def _values_df(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Small lookup table as a VALUES relation (a LocalRelation after
    folding) instead of ``spark.createDataFrame`` — an RDD-backed scan
    is opaque to the planner: no pruning/pushdown and, worse, no
    canonical identity, which silently defeats exchange reuse
    (tests/test_plan_quality.py::test_no_rdd_backed_scans)."""

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return f"CAST({v!r} AS DOUBLE)"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        raise TypeError(f"unsupported VALUES literal: {type(v)}")

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({', '.join(cols)})")


# --------------------------------------------------------------------------
# J1/J2/J3 — the reference's three join strategies on the same logical
# query (customer ⋈ orders). One oracle proves strategy-independence:
# RepartitionJoin.java / BroadcastJoin.java / MergeJoin.java all compute
# this same inner equi-join.
# --------------------------------------------------------------------------

_JOIN_CO_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_acctbal,
       o.o_orderkey, o.o_totalprice, o.o_orderstatus
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
"""


def _join_customer_orders(strategy: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.joins import equi_join

        customer, orders = _load(spark, sf_dir, "customer", "orders")
        j = equi_join(customer, orders, "c_custkey", "o_custkey", "inner", strategy)
        return j.select("c_custkey", "c_name", "c_acctbal",
                        "o_orderkey", "o_totalprice", "o_orderstatus")

    return q


for _s in ("repartition", "broadcast", "merge"):
    register(f"join_{_s}", _JOIN_CO_ORACLE)(_join_customer_orders(_s))


@register(
    "join_dup_keys",
    """
    SELECT o.o_orderkey, o.o_custkey, l.l_partkey, l.l_linenumber,
           l.l_quantity, l.l_extendedprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def join_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate keys on the probe side (each order has many lineitems)
    — exercises the per-key cross-product semantics
    (RepartitionJoin.java:55-64)."""
    from .operators.joins import equi_join

    orders, lineitem = _load(spark, sf_dir, "orders", "lineitem")
    j = equi_join(orders, lineitem, "o_orderkey", "l_orderkey", "inner", "repartition")
    return j.select("o_orderkey", "o_custkey", "l_partkey", "l_linenumber",
                    "l_quantity", "l_extendedprice")


@register(
    "join_star_multiway",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_items,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway star join — beyond the reference (binary-only). The
    FIXED-size dims (nation=25, region=5 rows at every TPC-H SF) carry
    explicit broadcast hints; customer SCALES with SF (billions of rows
    at 100 TB), so its join is left to Catalyst/AQE — broadcast when
    its runtime size allows, shuffle join when it doesn't, instead of a
    forced hint that OOMs."""
    from pyspark.sql import functions as F

    lineitem, orders, customer, nation, region = _load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        # bounded: nation/region are constant-size TPC-H tables (25/5
        # rows at every scale factor)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — the broadcast mapper's existence filter
    (BroadcastJoin.java:111) generalized to a left-semi join."""
    from .operators.joins import equi_join

    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return equi_join(customer, orders, "c_custkey", "o_custkey",
                     "left_semi", "broadcast").select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join with a pushed-down predicate on the right side (filter
    reaches the parquet scan; non-empty result at sf0.01)."""
    from .operators.joins import equi_join

    customer, orders = _load(spark, sf_dir, "customer", "orders")
    big = orders.filter("o_totalprice > 300000")
    return equi_join(customer, big, "c_custkey", "o_custkey",
                     "left_anti", "broadcast").select("c_custkey", "c_name")


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import equi_join

    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return equi_join(customer, orders, "c_custkey", "o_custkey", "left",
                     "merge").select("c_custkey", "c_name", "o_orderkey",
                                     "o_totalprice")


@register(
    "join_full_outer",
    """
    SELECT c.c_custkey, c.c_name, s.s_suppkey, s.s_name
    FROM (SELECT * FROM customer WHERE c_custkey < 100) c
    FULL JOIN (SELECT * FROM supplier WHERE s_suppkey < 150) s
      ON c.c_custkey = s.s_suppkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (unmatched rows preserved on BOTH sides) — the
    join type broadcast cannot execute; Spark falls back to sort-merge
    regardless of hints."""
    from .operators.joins import equi_join

    customer, supplier = _load(spark, sf_dir, "customer", "supplier")
    j = equi_join(customer.filter("c_custkey < 100"),
                  supplier.filter("s_suppkey < 150"),
                  "c_custkey", "s_suppkey", "full", "merge")
    return j.select("c_custkey", "c_name", "s_suppkey", "s_name")


@register(
    "join_cross",
    """
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (tiny dims only — crossJoin of big
    tables is the one shape with no scale story)."""
    region, nation = _load(spark, sf_dir, "region", "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


_WINDOW_EXT_SQL = """
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS top_key,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS bottom_key,
           LEAD(o_orderkey, 1, -1) OVER w AS next_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
"""


@register("window_functions_extended", _WINDOW_EXT_SQL)
def window_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the window-function surface in one pass sharing a
    single (key × order) sort: NTILE quartiles, PERCENT_RANK /
    CUME_DIST (exact-int ratios — bit-identical divisions),
    NTH_VALUE under the default growing frame, FIRST/LAST_VALUE over
    the full frame, LEAD with an explicit default. The SAME SQL text
    runs in Spark and DuckDB."""
    from .sources.io import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(_WINDOW_EXT_SQL)


_RECURSIVE_SQL = """
    WITH RECURSIVE e AS (
      SELECT n_nationkey AS src,
             (2 * n_nationkey + 3) % 25 AS dst
      FROM nation
    ),
    r(node, hops) AS (
      SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM r JOIN e ON e.src = r.node
      WHERE r.hops < 25
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM r GROUP BY node
"""


@register("sql_recursive_reachability", _RECURSIVE_SQL)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): BFS reachability with hop
    counts over a deterministic functional graph derived from nation
    (edge n → (2n+3) mod 25), anchored at node 0, hop-bounded for
    termination on the cycle, MIN(hops) per reached node. The SAME
    SQL text runs in Spark and DuckDB — iterative graph traversal
    expressed declaratively where ``graph_pagerank`` /
    ``dedup_clusters`` hand-roll driver-side loops. Each recursion
    step is one joined increment over the previous frontier; at scale
    the per-step plan is the same broadcast-dim join the hand-rolled
    loops use."""
    from .sources.io import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)



@register(
    "sql_subqueries",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end end-to-end (spark.sql over registered views):
    scalar subquery + correlated EXISTS (Catalyst rewrites the EXISTS
    to a left-semi join; the scalar subquery becomes a one-row
    broadcast). TPC-H Q4-shaped."""
    from .sources.io import load_tables

    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
    """)


@register(
    "join_semi_reduced",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey = 3
    """,
)
def join_semi_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join-reduced shuffle join (thesis ch. 7 future-work item):
    broadcast the selective dim's distinct keys, left-semi-filter the
    fact BEFORE its shuffle — only matching fact rows move."""
    from .operators.joins import semi_join_reduced_join

    lineitem, supplier = _load(spark, sf_dir, "lineitem", "supplier")
    j = semi_join_reduced_join(
        lineitem, supplier.filter("s_nationkey = 3"), "l_suppkey", "s_suppkey"
    )
    return j.select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")


_EDGES_SQL = """
    SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
    FROM orders WHERE o_orderkey % 13 = 0
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.filter("o_orderkey % 13 = 0").selectExpr(
        "o_custkey % 40 AS src", "o_orderkey % 40 AS dst"
    ).distinct()


@register(
    "join_triangle_hypercube",
    f"""
    WITH e AS ({_EDGES_SQL})
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    JOIN e e3 ON e2.dst = e3.src AND e3.dst = e1.src
    """,
)
def join_triangle_hypercube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic 3-way join (graph triangles) via the one-shuffle
    HyperCube/Shares algorithm — the multiway join the thesis discusses
    but never implements (ch. 5.4). The oracle is the equivalent
    two-join SQL chain; results must match bag-exactly."""
    from .operators.multiway import hypercube_triangle_join

    e = _edges(spark, sf_dir)
    r = e.selectExpr("src AS a", "dst AS b")
    s = e.selectExpr("src AS b", "dst AS c")
    t = e.selectExpr("src AS c", "dst AS a")
    return hypercube_triangle_join(r, s, t, grid=(4, 4, 2))


@register(
    "join_triangle_chain",
    f"""
    WITH e AS ({_EDGES_SQL})
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    JOIN e e3 ON e2.dst = e3.src AND e3.dst = e1.src
    """,
)
def join_triangle_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same triangle query through the DEFAULT strategy of
    operators.multiway.triangle_join: a pure-JVM binary-join chain.
    The hypercube variant (join_triangle_hypercube) is the explicit
    opt-in for exploding intermediates; this is what runs when skew is
    ordinary."""
    from .operators.multiway import triangle_join

    e = _edges(spark, sf_dir)
    r = e.selectExpr("src AS a", "dst AS b")
    s = e.selectExpr("src AS b", "dst AS c")
    t = e.selectExpr("src AS c", "dst AS a")
    return triangle_join(r, s, t, strategy="chain")


def _pagerank_oracle(iterations: int = 3, damping: float = 0.85) -> str:
    """Unrolls the PageRank recurrence as chained CTEs — iterative
    algorithms with a FIXED iteration count are SQL-expressible, so
    even the loop gets a full value-hash oracle. All arithmetic is
    forced to DOUBLE (DuckDB would otherwise do DECIMAL math on the
    damping literals and drift from Spark's doubles)."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        f"WITH e AS ({_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),",
        "deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank"
        " FROM nodes CROSS JOIN nn),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst, SUM(r.rank / deg.deg) AS cs"
            f" FROM e JOIN deg ON e.src = deg.src"
            f" JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT node,"
            f" (CAST(1.0 AS DOUBLE) - {d}) / nn.n"
            f" + {d} * COALESCE(cs, CAST(0.0 AS DOUBLE)) AS rank"
            f" FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, ROUND(rank, 6) AS rank FROM r{iterations}"
    )
    return "\n".join(parts)


@register("graph_pagerank", _pagerank_oracle(iterations=3, damping=0.85))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (3 iterations, d=0.85) over the orders-derived
    edge set — the algorithm class plain MapReduce serves worst (one
    Hadoop job per iteration; the reference implements none). The loop
    runs on the driver; each iteration is one contribution shuffle.
    The oracle unrolls the identical recurrence as chained CTEs."""
    from pyspark.sql import functions as F

    from .operators.graph import pagerank

    e = _edges(spark, sf_dir)
    out = pagerank(e, iterations=3, damping=0.85)
    return out.withColumn("rank", F.round("rank", 6))


@register(
    "cdc_incremental_agg",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the orders table split into a
    base batch and a delta batch (every 5th order), each aggregated
    independently, then merged algebraically
    (operators/cdc.merge_aggregates) — the oracle recomputes the
    aggregate over the WHOLE table, proving merge(partials) ≡
    recompute without the base re-scan."""
    from pyspark.sql import functions as F

    from .operators.cdc import merge_aggregates

    (orders,) = _load(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_totalprice").alias("total"),
        )

    base = agg(orders.filter("o_orderkey % 5 <> 0"))
    delta = agg(orders.filter("o_orderkey % 5 = 0"))
    merged = merge_aggregates(base, delta, ["o_custkey"],
                              ["n_orders", "total"])
    return merged.withColumn("total", F.round("total", 2))


@register(
    "cdc_incremental_distinct",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           true AS sketch_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def cdc_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DISTINCT-count maintenance
    (operators/cdc.merge_distinct_sketches): COUNT(DISTINCT) is not a
    monoid, so unlike cdc_incremental_agg it cannot merge via SUM —
    but its HLL sketch is mergeable: the orders table is split into 3
    batches, each sketched independently (hll_sketch_agg), and the
    union of sketches must estimate the distinct customers of the
    whole table. Oracle pattern as agg_approx_sketches: exact values +
    an accuracy-contract boolean (lgK=12 → rsd ≈0.8%; bound 5%);
    `true` literals fail the hash iff the merged sketch drifts. At
    100 TB the sketches are the only thing the nightly merge touches —
    the base table is never rescanned."""
    from pyspark.sql import functions as F

    from .operators.cdc import merge_distinct_sketches

    (orders,) = _load(spark, sf_dir, "orders")
    batches = [
        orders.filter(f"o_orderkey % 3 = {i}")
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sketch"))
        for i in range(3)
    ]
    merged = merge_distinct_sketches(batches, ["o_orderpriority"])
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return exact.join(merged, "o_orderpriority").select(
        "o_orderpriority",
        "exact_customers",
        (F.abs(F.col("approx_distinct") - F.col("exact_customers"))
         <= 0.05 * F.col("exact_customers")).alias("sketch_ok"),
    )


@register(
    "join_salted",
    """
    SELECT p.p_type, CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
    """,
)
def join_salted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted skew join (16 salts): the hot-key-spreading
    tool for single keys too big for one executor, beyond what AQE
    skew-split handles. Result must equal the plain join (the oracle)."""
    from pyspark.sql import functions as F

    from .operators.joins import salted_join

    lineitem, part = _load(spark, sf_dir, "lineitem", "part")
    j = salted_join(lineitem, part, "l_partkey", "p_partkey", salt=16)
    return j.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


@register(
    "agg_promo_revenue",
    """
    SELECT ROUND(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                        THEN CAST(l_extendedprice AS DECIMAL(12, 2))
                                             * (1 - CAST(l_discount AS DECIMAL(12, 2)))
                                        ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12, 2))
                            * (1 - CAST(l_discount AS DECIMAL(12, 2)))) AS DOUBLE),
                 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def agg_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional aggregate over a fact⋈dim join
    (strategy left to Catalyst/AQE — part scales with SF); numerator
    and denominator sum in exact decimal (the tpch_queries money
    convention) so the whole-corpus accumulation is engine-identical
    at any scale."""
    from pyspark.sql import functions as F

    lineitem, part = _load(spark, sf_dir, "lineitem", "part")
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
    )
    # part SCALES with SF — no forced broadcast; Catalyst/AQE picks
    # broadcast at small SF and degrades to a shuffle join at corpus
    # scale instead of OOMing on a forced hint
    j = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
            ).cast("double")
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_pct")
    )


_BANDS = [("budget", 0, 50_000), ("mid", 50_000, 150_000),
          ("high", 150_000, 300_000), ("lux", 300_000, 10_000_000)]


@register(
    "join_range_bands",
    f"""
    WITH bands(band, lo, hi) AS (VALUES
      {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (band) join — discussed-but-unimplemented in the reference
    (thesis ch. 5.4). Small band table broadcasts → BroadcastNestedLoop
    with the range predicate; the fact side never shuffles for the
    join."""
    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    bands = _values_df(spark, _BANDS, ["band", "lo", "hi"])
    j = orders.join(
        # bounded: literal band lookup table
        F.broadcast(bands),
        (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "join_asof",
    """
    SELECT e.event_id, e.user_id, epoch_us(e.ts::TIMESTAMP) AS ts_us,
           c.click_event_id, c.click_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT user_id, ts,
                           event_id AS click_event_id, value AS click_value
                    FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def join_asof_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (every error event ← latest preceding click by the
    same user), single-shuffle union+window implementation; the oracle
    is DuckDB's native ASOF JOIN — two independent as-of engines must
    agree."""
    from pyspark.sql import functions as F

    from .operators.joins import asof_join

    (events,) = _load(spark, sf_dir, "events")
    errors = events.filter("event_type = 'error'").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter("event_type = 'click'").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    j = asof_join(errors, clicks, on="user_id",
                  left_ts="ts", right_ts="click_ts")
    return j.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_event_id", "click_value",
    )


# --------------------------------------------------------------------------
# Aggregations (SURVEY.md §2.4), sorts/top-k (§2.6), set ops (§2.7),
# windows (§2.5 — absent in the reference, first-class here).
# --------------------------------------------------------------------------


@register(
    "agg_summary_stats",
    """
    SELECT CAST(COUNT(l_quantity) AS BIGINT) AS n,
           CAST((2 * SUM(CAST(l_quantity AS BIGINT)) * 10000 + COUNT(*))
                // (2 * COUNT(*)) AS DOUBLE) / 10000 AS mean,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median,
           CAST(MIN(l_quantity) AS DOUBLE) AS min,
           CAST(MAX(l_quantity) AS DOUBLE) AS max
    FROM lineitem
    """,
)
def agg_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the reference's mean/median/max task-time stats
    (JoinSimulation.java:34-70) as distributed aggregates; median is the
    exact continuous percentile. The mean rounds in BIGINT arithmetic
    (quantities are integer-valued, so the sum is exact) — engines
    disagree on rounding a DOUBLE quotient at a half boundary (see
    tpch_q1)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    agged = lineitem.agg(
        F.count("l_quantity").cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("_sq"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median"),
        F.min("l_quantity").cast("double").alias("min"),
        F.max("l_quantity").cast("double").alias("max"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return agged.select(
        "n",
        F.expr(
            "CAST((2 * _sq * 10000 + _cnt) div (2 * _cnt) AS DOUBLE) / 10000"
        ).alias("mean"),
        "median", "min", "max",
    )


@register(
    "agg_groupby",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12, 2))), 2)
                AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12, 2))
                          * (1 - CAST(l_discount AS DECIMAL(12, 2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST((2 * SUM(CAST(l_quantity AS BIGINT)) * 10000 + COUNT(*))
                // (2 * COUNT(*)) AS DOUBLE) / 10000 AS avg_qty,
           CAST((2 * CAST(SUM(CAST(l_discount AS DECIMAL(12, 2))) * 1000000
                          AS BIGINT) + COUNT(*))
                // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate: map-side partial agg, one shuffle
    on the (low-cardinality) group keys — the shape that survives
    100 TB. Money sums follow the exact-DECIMAL convention (double
    summation order flips rounded cents cross-engine at ~10⁵-row
    groups) and averages round in BIGINT arithmetic (see tpch_q1)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    d2 = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    agged = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.round(F.sum(d2("l_extendedprice")), 2).cast("double")
         .alias("sum_base_price"),
        F.round(F.sum(d2("l_extendedprice") * (F.lit(1) - d2("l_discount"))), 2)
         .cast("double").alias("sum_disc_price"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("_nq"),
        (F.sum(d2("l_discount")) * F.lit(1000000)).cast("long").alias("_nd"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )
    return agged.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price",
        F.expr("CAST((2 * _nq * 10000 + count_order) div (2 * count_order)"
               " AS DOUBLE) / 10000").alias("avg_qty"),
        F.expr("CAST((2 * _nd + count_order) div (2 * count_order)"
               " AS DOUBLE) / 1000000").alias("avg_disc"),
        "count_order",
    )


@register(
    "agg_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.aggregates import rollup_agg

    (orders,) = _load(spark, sf_dir, "orders")
    return rollup_agg(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ],
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations) — one pass, the
    expand+aggregate shape Spark shares with rollup."""
    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_sets", _GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form rollup/cube sugar
    over) — one Expand+Aggregate pass, no per-set rescan."""
    from .sources.io import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (no value-discovery pass —
    at scale the extra distinct scan is the hidden cost of implicit
    pivot)."""
    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return out


@register(
    "agg_statistics",
    """
    SELECT ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           ROUND(SKEWNESS(l_quantity), 4) AS skew_qty,
           ROUND(KURTOSIS(l_quantity), 4) AS kurt_qty
    FROM lineitem
    """,
)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moment aggregates — single-pass, fixed-size partial
    state (the A1 summary stats generalized)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.skewness("l_quantity"), 4).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 4).alias("kurt_qty"),
    )


@register(
    "window_analytics",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           FIRST_VALUE(o_orderkey) OVER w AS cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist
    / first_value) in one window pass — a single shuffle on the
    partition key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    (orders,) = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        # unrounded: (rank−1)/(n−1) and rank/n are exact-int quotients,
        # bit-identical cross-engine; ROUND diverges when the rational
        # needs >6 digits with a finite expansion (denominator 2^a·5^b)
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
    )


@register(
    "join_bucketed",
    """
    SELECT o.o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
)
def join_bucketed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's genuinely distinct capability: joining
    pre-sorted, co-partitioned data with NO shuffle
    (MergeJoin.java:217-251 zips equal-numbered partitions). Spark
    form: co-bucketed external tables → SortMergeJoin with no Exchange
    on either side, and the groupBy on the bucket key adds none either
    (shuffle-freedom asserted in tests/test_bucketed_join.py)."""
    import tempfile

    from pyspark.sql import functions as F

    from .sources.io import write_bucketed

    orders, lineitem = _load(spark, sf_dir, "orders", "lineitem")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed")
    write_bucketed(orders.select("o_orderkey"), "q_orders", ["o_orderkey"], 8,
                   path=os.path.join(base, "q_orders"))
    write_bucketed(lineitem.select("l_orderkey", "l_extendedprice"),
                   "q_lineitem", ["l_orderkey"], 8,
                   path=os.path.join(base, "q_lineitem"))
    bo = spark.table("q_orders")
    bl = spark.table("q_lineitem")
    j = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey, "inner")
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    ).select(F.col("o_orderkey").alias("k"), "n_items", "total")


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import distinct_count

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return distinct_count(lineitem, ["l_returnflag", "l_linestatus"])


@register(
    "sort_total_order",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    """,
)
def sort_total_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — the reference's sampled range-partition total-order sort
    (MergeJoin.java:146-215) ≡ Spark SortExec. Values identical to the
    unsorted oracle (driver compare is order-insensitive); global order
    is asserted in tests/test_sorts_aggs.py."""
    from .operators.sorts import total_order_sort

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return total_order_sort(
        lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_extendedprice"],
        num_partitions=16,
    )


@register(
    "top_k",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
)
def top_k_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k without a global sort (TakeOrderedAndProject). Tie-broken
    on the full key so the result set is deterministic."""
    from pyspark.sql import functions as F

    from .operators.sorts import top_k

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return top_k(
        lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_extendedprice"],
        100,
    ).orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    ).limit(100)


@register(
    "top_k_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def top_k_per_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    (orders,) = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
    )


@register(
    "window_functions",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           RANK() OVER w AS rnk,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total,
           LAG(o_orderkey) OVER w AS prev_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — absent in the reference; rank / running total / lag in one
    window pass (single shuffle on the partition key)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    (orders,) = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wall = Window.partitionBy("o_custkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.round(F.sum("o_totalprice").over(wall), 2).alias("cust_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@register(
    "set_ops",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = _load(spark, sf_dir, "customer", "supplier")
    return customer.select(
        customer.c_nationkey.alias("nationkey")
    ).intersect(supplier.select(supplier.s_nationkey.alias("nationkey")))


@register(
    "set_except_union",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
    UNION ALL
    SELECT n_nationkey AS nationkey FROM nation WHERE n_nationkey < 0
    """,
)
def set_except_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics: subtract) chained with UNION ALL; filters
    pushed below the set op. Non-empty at sf0.01."""
    customer, supplier, nation = _load(spark, sf_dir, "customer", "supplier", "nation")
    ex = customer.filter("c_acctbal > 9000").select(
        customer.c_nationkey.alias("nationkey")
    ).subtract(
        supplier.filter("s_acctbal > 5000").select(
            supplier.s_nationkey.alias("nationkey")
        )
    )
    empty = nation.filter("n_nationkey < 0").select(
        nation.n_nationkey.alias("nationkey")
    )
    return ex.unionAll(empty)


@register(
    "date_functions",
    """
    SELECT o_orderkey AS k,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS d,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           STRFTIME(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
           CAST(DATEDIFF('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_95,
           CAST(LAST_DAY(o_orderdate) = o_orderdate AS BOOLEAN) AS is_month_end
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface (absent in the reference, §2.8):
    extract / truncate / arithmetic / diff — all codegen'd builtins.
    DOW convention aligned to DuckDB (Sunday=0)."""
    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        F.col("o_orderkey").alias("k"),
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mo"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("int").alias("days_since_95"),
        (F.last_day(d) == d).alias("is_month_end"),
    )


@register(
    "array_functions",
    """
    SELECT l_orderkey AS k,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           CAST(len(list(l_linenumber)) AS INT) AS n_lines,
           list_contains(list(l_linenumber), 3) AS has_line3,
           CAST(list_sum(list(l_quantity)) AS DOUBLE) AS qty_sum,
           list_sort(list(l_linenumber))[1] AS first_line
    FROM lineitem GROUP BY l_orderkey
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions over grouped data
    (collect → sort → contains/element_at/aggregate) — all JVM-side.
    collect_list is order-nondeterministic, so every derived value goes
    through sort_array first. The array itself is projected as a
    comma-joined string (both engines) — the driver's pandas
    canonicalizer can't sort/hash raw list cells."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    grouped = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("_lines"),
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum("l_quantity").cast("double").alias("qty_sum"),
    )
    return grouped.select(
        "k",
        F.array_join(F.transform("_lines", lambda x: x.cast("string")), ",")
        .alias("line_numbers"),
        "n_lines",
        F.array_contains("_lines", 3).alias("has_line3"),
        "qty_sum",
        F.element_at("_lines", 1).alias("first_line"),
    )


@register(
    "filter_predicates",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
      AND l_returnflag <> 'A'
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General predicates (absent in the reference, §2.2) — pushed to
    the parquet scan (PushedFilters in the plan; asserted in tests)."""
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.filter(
        "l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08 "
        "AND l_returnflag <> 'A'"
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


@register(
    "scalar_functions",
    """
    SELECT o_orderkey AS k,
           o_orderkey % 97 AS k_mod,
           CAST(o_orderkey AS VARCHAR) AS k_str,
           CONCAT(o_orderstatus, ',', o_orderpriority) AS row_concat,
           STR_SPLIT(o_orderpriority, '-')[1] AS prio_code,
           UPPER(o_orderstatus) AS status_upper,
           LENGTH(o_orderpriority) AS prio_len,
           o_totalprice * 0.1 AS price_tenth,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(REGEXP_MATCHES(o_orderpriority, '^[0-9]') AS BOOLEAN) AS starts_digit
    FROM orders
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 (split / concat / parse / modulo — the reference's entire
    scalar surface, SURVEY.md §2.8) plus string/date/regex functions the
    reference lacks. All JVM-side builtins inside whole-stage codegen."""
    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 97).alias("k_mod"),
        F.col("o_orderkey").cast("string").alias("k_str"),
        F.concat(F.col("o_orderstatus"), F.lit(","), F.col("o_orderpriority")).alias("row_concat"),
        F.split(F.col("o_orderpriority"), "-")[0].alias("prio_code"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        (F.col("o_totalprice") * 0.1).alias("price_tenth"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.col("o_orderpriority").rlike("^[0-9]").alias("starts_digit"),
    )


# --------------------------------------------------------------------------
# Scale extensions: text analysis, dedup, similarity search.
# Oracles replicate the exact formulas (md5-derived hashing is
# reproducible in any engine).
# --------------------------------------------------------------------------

_TOKS = "string_split_regex(trim(text), '\\s+')"
_TOKS_LOWER = "string_split_regex(lower(trim(text)), '\\s+')"
_STOPWORDS_SQL = "('the','a','an','of','and','to','in','is','it','that','for','on','as','with','by','this','at','from','or','be')"


@register(
    "text_features",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, text, toks,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, t -> lower(t) IN {_STOPWORDS_SQL})) AS DOUBLE)
               / greatest(len(toks), 1) AS stopword_ratio,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio,
             list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE)))
               / greatest(len(toks), 1) AS mean_token_len
      FROM t
    )
    SELECT doc_id, n_tokens, stopword_ratio, punct_ratio,
           CAST(mean_token_len AS DOUBLE) AS mean_token_len,
           CAST((least(n_tokens / 50.0, 1.0)
                 + least(stopword_ratio * 4.0, 1.0)
                 + greatest(0.0, 1.0 - punct_ratio * 5.0)
                 + CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0
                        THEN 1.0 ELSE 0.5 END) / 4.0 AS DOUBLE) AS quality,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM m
    """,
)
def text_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis features (token count, stopword /
    punctuation ratios, quality score, content fingerprint) — one
    narrow JVM-side pass over documents, tokenizing once
    (operators.text.text_features)."""
    from .operators.text import text_features

    (documents,) = _load(spark, sf_dir, "documents")
    return text_features(documents).select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "mean_token_len", "quality", "fingerprint",
    )


def _lang_id_oracle() -> str:
    from .operators.text import LANG_MARKERS

    hit_cols = []
    for code in sorted(LANG_MARKERS):
        markers = ",".join(f"'{m}'" for m in LANG_MARKERS[code])
        hit_cols.append(
            f"len(list_filter(toks_l, t -> t IN ({markers}))) AS h_{code}"
        )
    codes = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"h_{c}" for c in codes) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{c} = {best} THEN '{c}'" for c in codes
    ) + " END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang, list_transform({_TOKS}, t -> lower(t)) AS toks_l
      FROM documents
    ), h AS (
      SELECT doc_id, lang, {", ".join(hit_cols)} FROM t
    )
    SELECT doc_id, lang, {case} AS lang_pred FROM h
    """


@register("text_lang_id", _lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID next to the table's labeled lang
    (the synthetic corpus is English-vocab for all langs, so lang_pred
    is the heuristic's honest output, not the label)."""
    from .operators.text import lang_id

    (documents,) = _load(spark, sf_dir, "documents")
    return documents.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    (documents,) = _load(spark, sf_dir, "documents")
    return exact_dedup(documents)


_SHINGLES_SQL = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents)
"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM s),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             COUNT(*) AS common
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard
    FROM p WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.2
    """,
)
def dedup_ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2 — the
    synthetic corpus shares vocabulary, so overlaps exist without
    being duplicates). The LSH variant below is the scale path."""
    from .operators.dedup import ngram_jaccard_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(documents, k=3, threshold=0.2)


@register(
    "dedup_prefix_filter",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM s),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             COUNT(*) AS common
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard
    FROM p WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.3
    """,
)
def dedup_prefix_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.3 pairs via PREFIX FILTERING (AllPairs/PPJoin)
    — only each doc's n−⌈t·n⌉+1 RAREST shingles (global docfreq order)
    enter the candidate join, then candidates are length-filtered and
    verified exactly. The oracle deliberately runs the NAIVE
    every-shared-shingle plan: equal output proves the prefix filter
    dropped no qualifying pair."""
    from .operators.dedup import prefix_filter_jaccard_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(documents, k=3, threshold=0.3)


@register(
    "dedup_prefix_filter_indexed",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM s),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             COUNT(*) AS common
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard
    FROM p WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.3
    """,
)
def dedup_prefix_filter_indexed_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TWO-JOB deployment of ``dedup_prefix_filter``: job 1
    materializes the AllPairs inverted index as bucketed tables (docs
    by id, prefix postings by sid — the state a 100 TB dedup service
    keeps between corpus increments), job 2 probes it — the candidate
    groupBy(sid) and the verify joins' index sides ride the bucketing
    with no Exchange. Same naive-plan oracle as the single-query
    operator: equal output proves build+probe is lossless too."""
    from .operators.dedup import (
        build_prefix_index,
        prefix_filter_jaccard_pairs_indexed,
    )

    (documents,) = _load(spark, sf_dir, "documents")
    build_prefix_index(
        documents, k=3, threshold=0.3, table_prefix="prefix_idx_q"
    )
    return prefix_filter_jaccard_pairs_indexed(
        spark, threshold=0.3, table_prefix="prefix_idx_q"
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, seed: int = 42) -> str:
    from .operators.dedup import MERSENNE_P, minhash_params

    params = minhash_params(num_hashes, seed)
    r = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a}::BIGINT + {b}::BIGINT) % {MERSENNE_P}))"
        for (a, b) in params
    )
    band_items = ", ".join(
        "md5(" + " || ',' || ".join(
            f"CAST(sig[{b * r + i + 1}] AS VARCHAR)" for i in range(r)
        ) + f") AS bucket_{b}"
        for b in range(bands)
    )
    bucket_unpivot = " UNION ALL ".join(
        f"SELECT id, sig, {b} AS band, bucket_{b} AS bucket FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH s AS ({_SHINGLES_SQL}),
    hashed AS (
      SELECT doc_id AS id,
             list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {MERSENNE_P}) AS hs
      FROM s
    ),
    sigs0 AS (SELECT id, [{sig_items}] AS sig FROM hashed),
    sigs AS (SELECT id, sig, {band_items} FROM sigs0),
    banded AS ({bucket_unpivot}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT id_a, id_b,
           CAST(len(list_filter(range(1, {num_hashes} + 1),
                                i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {num_hashes}
             AS est_jaccard
    FROM cand
    """


def _inc_minhash_oracle(
    num_hashes: int = 16, bands: int = 4, seed: int = 42, train_pct: int = 80
) -> str:
    from .operators.dedup import MERSENNE_P, minhash_params

    params = minhash_params(num_hashes, seed)
    r = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a}::BIGINT + {b}::BIGINT) % {MERSENNE_P}))"
        for (a, b) in params
    )
    band_items = ", ".join(
        "md5(" + " || ',' || ".join(
            f"CAST(sig[{b * r + i + 1}] AS VARCHAR)" for i in range(r)
        ) + f") AS bucket_{b}"
        for b in range(bands)
    )
    bucket_unpivot = " UNION ALL ".join(
        f"SELECT id, sig, is_new, {b} AS band, bucket_{b} AS bucket FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH s AS ({_SHINGLES_SQL}),
    hashed AS (
      SELECT doc_id AS id,
             ('0x' || substr(md5(doc_id::VARCHAR || 'inc'), 1, 8))::BIGINT
               % 100 >= {train_pct} AS is_new,
             list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {MERSENNE_P}) AS hs
      FROM s
    ),
    sigs0 AS (SELECT id, is_new, [{sig_items}] AS sig FROM hashed),
    sigs AS (SELECT id, is_new, sig, {band_items} FROM sigs0),
    banded AS ({bucket_unpivot}),
    cand AS (
      SELECT DISTINCT n.id AS new_id, o.id AS corpus_id,
             n.sig AS sig_a, o.sig AS sig_b
      FROM banded n JOIN banded o
        ON n.band = o.band AND n.bucket = o.bucket
       AND n.is_new AND NOT o.is_new
    )
    SELECT new_id, corpus_id,
           CAST(len(list_filter(range(1, {num_hashes} + 1),
                                i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {num_hashes}
             AS est_jaccard
    FROM cand
    """


@register("dedup_incremental_minhash", _inc_minhash_oracle())
def dedup_incremental_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a 20% 'arriving batch' (deterministic md5
    split, salt 'inc') band-joins against the signature index of the
    other 80% — the production per-batch shape (corpus signed once; no
    old×old pairs). Oracle replays the split, signatures, and banding
    end-to-end."""
    from pyspark.sql import functions as F

    from .operators.dedup import incremental_minhash_dedup, minhash_signatures
    from .operators.sampling import hash_bucket

    (documents,) = _load(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 100, salt="inc")
    old = documents.filter(bucket < 80)
    new = documents.filter(bucket >= 80)
    # in production the index is a stored table; here it is computed
    # from the 'old' side once, exactly as the indexer job would
    index = minhash_signatures(old, num_hashes=16, k=3, seed=42).select(
        F.col("id").alias("doc_id"), "signature"
    )
    return incremental_minhash_dedup(
        new, index, num_hashes=16, bands=4, k=3, seed=42
    )


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (16 hashes, 4 bands of 4): the
    oracle replays the identical md5-derived universal-hash signatures
    and banding in SQL — a bit-exact cross-engine check of the whole
    LSH pipeline."""
    from .operators.dedup import minhash_lsh_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(documents, num_hashes=16, bands=4, k=3, seed=42)


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE
    s AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM s),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             COUNT(*) AS common
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    jac AS (SELECT id_a, id_b FROM p
            WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.2),
    ed AS (SELECT id_a AS u, id_b AS v FROM jac
           UNION SELECT id_b, id_a FROM jac),
    reach(u, v) AS (
      SELECT u, v FROM ed
      UNION
      SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u
    )
    SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
    """,
)
def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters: connected components over the
    3-gram-Jaccard pair graph (min-label propagation, one shuffle per
    round). The oracle computes the same transitive closure with a
    recursive CTE — an end-to-end cross-engine check of an iterative
    algorithm."""
    from pyspark.sql import functions as F

    from .operators.dedup import connected_components, ngram_jaccard_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, k=3, threshold=0.2)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _embedding_near_dup_lsh_oracle(
    tables: list[list[list[float]]],
    threshold: float = 0.4,
    target: int = 32,
    floor: int = 4,
    cap: int = 12,
) -> str:
    """Replays the LSH-blocked near-dup: per (table, plane) literal,
    bucket = Σ 1<<bit over dot-sign bits; candidate pairs share any
    (table, bucket); exact cosine ≥ threshold verifies candidates.

    The plane-bit count b is CORPUS-SIZED on both engines
    (dedup.auto_lsh_planes ↔ the LEAST/GREATEST/CEIL(LOG2) expression
    here — exact cross-engine because ceil∘log2 only lands on an
    integer at powers of two). ``tables`` holds the CAP-tier planes;
    numpy's row-major randn stream makes every smaller tier a prefix,
    so one literal set serves all tiers via ``bit < b``."""
    fmt = lambda v: "[" + ", ".join(repr(float(x)) for x in v) + "]"  # noqa: E731
    rows = ", ".join(
        f"({t}, {b}, {fmt(p)})"
        for t, planes in enumerate(tables)
        for b, p in enumerate(planes)
    )
    return f"""
    WITH planes(tbl, bit, pvec) AS (VALUES {rows}),
    sel AS (
      SELECT LEAST({cap}, GREATEST({floor},
               CEIL(LOG2(GREATEST(COUNT(*) / {target}.0, 1.0)))))::INT AS b
      FROM embeddings),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    b AS (
      SELECT vec_id, tbl,
             SUM(CASE WHEN list_dot_product(emb, pvec) > 0
                      THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS bucket
      FROM v CROSS JOIN planes, sel WHERE planes.bit < sel.b
      GROUP BY vec_id, tbl),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r USING (tbl, bucket)
      WHERE l.vec_id < r.vec_id)
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(va.emb, vb.emb), 6) AS cosine
    FROM cand
    JOIN v va ON va.vec_id = cand.id_a
    JOIN v vb ON vb.vec_id = cand.id_b
    WHERE list_cosine_similarity(va.emb, vb.emb) >= {threshold}
    """


def _near_dup_lsh_tables(dim: int = 64, n_planes: int = 4, n_tables: int = 8,
                         seed: int = 42) -> list[list[list[float]]]:
    """The exact plane sets embedding_near_dup_pairs_lsh derives
    internally (seed + 1000*t per table), regenerated so the oracle
    embeds identical constants."""
    from .operators.similarity import hyperplanes

    return [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]


@register(
    "dedup_embedding_cosine",
    _embedding_near_dup_lsh_oracle(_near_dup_lsh_tables(n_planes=12)),
)
def dedup_embedding_cosine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at threshold 0.4 (the synthetic
    vectors are near-random; 0.4 is deep in the tail), LSH-BLOCKED:
    candidates come from shared random-hyperplane buckets, never an
    all-pairs nested-loop join, so the plan is bucket-co-partitioned
    and survives a 100× corpus. The bit count is CORPUS-SIZED
    (``auto_lsh_planes``: b ≈ log2(N/32) clamped to [4, 12] — 4 bits
    at the 500-row corpora, 6 at sf0.1's 2000, growing with N so
    candidate counts stay ~O(N·bucket); the round-3 verdict asked for
    exactly this promotion of the docstring rule into code). The
    oracle embeds the cap-tier planes and derives the same b from
    COUNT(*); recall vs the all-pairs form is asserted in
    tests/test_text_dedup.py."""
    from pyspark.sql import functions as F

    from .operators.dedup import embedding_near_dup_pairs_lsh

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs_lsh(
        embeddings, dim=64, threshold=0.4, n_planes=None, n_tables=8,
        seed=42,
    )
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "similarity_bruteforce_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id,
             list_cosine_similarity(c.embedding::DOUBLE[], q.q_vec::DOUBLE[]) AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, corpus_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def similarity_bruteforce_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors: broadcast queries, one
    corpus scan, windowed top-k."""
    from pyspark.sql import functions as F

    from .operators.similarity import brute_force_topk

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = brute_force_topk(embeddings, queries, k=10)
    return out.withColumn("cosine", F.round("cosine", 6))


def _projected_rerank_oracle(
    in_dim: int = 64, out_dim: int = 16, seed: int = 7,
    k: int = 10, shortlist: int = 100, n_queries: int = 5,
    lsh_planes: int = 4, lsh_tables: int = 8, lsh_seed: int = 42,
) -> str:
    from .operators.similarity import hyperplanes, projection_matrix

    mat = projection_matrix(in_dim, out_dim, seed)
    comps = ", ".join(
        "list_sum(list_transform(range(1, {n} + 1), "
        "i -> emb[i] * ([{row}])[i]))".format(
            n=in_dim, row=", ".join(repr(x) for x in row)
        )
        for row in mat
    )
    tables = [
        hyperplanes(in_dim, lsh_planes, lsh_seed + 1000 * t)
        for t in range(lsh_tables)
    ]
    fmt = lambda v: "[" + ", ".join(repr(float(x)) for x in v) + "]"  # noqa: E731
    plane_rows = ", ".join(
        f"({t}, {b}, {fmt(p)})"
        for t, planes in enumerate(tables)
        for b, p in enumerate(planes)
    )
    def cos(a, b, dim):
        dot = (f"list_sum(list_transform(range(1, {dim} + 1), "
               f"i -> {a}[i] * {b}[i]))")
        na = (f"sqrt(list_sum(list_transform(range(1, {dim} + 1), "
              f"i -> {a}[i] * {a}[i])))")
        nb = (f"sqrt(list_sum(list_transform(range(1, {dim} + 1), "
              f"i -> {b}[i] * {b}[i])))")
        return f"({dot}) / (({na}) * ({nb}))"

    return f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             [{comps}] AS proj
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb, proj AS q_proj
          FROM p WHERE vec_id < {n_queries}),
    planes(tbl, bit, pvec) AS (VALUES {plane_rows}),
    cb AS (
      SELECT vec_id, tbl,
             SUM(CASE WHEN list_dot_product(emb, pvec) > 0
                      THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS bucket
      FROM p CROSS JOIN planes GROUP BY vec_id, tbl),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
      FROM cb JOIN cb qb USING (tbl, bucket)
      WHERE qb.vec_id < {n_queries} AND cb.vec_id <> qb.vec_id),
    s1 AS (
      SELECT cand.query_id, cand.corpus_id, c.emb AS c_emb, q.q_emb,
             ROUND({cos("c.proj", "q.q_proj", out_dim)}, 6) AS proj_cosine
      FROM cand
      JOIN p c ON c.vec_id = cand.corpus_id
      JOIN q ON q.query_id = cand.query_id
    ),
    s2 AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY proj_cosine DESC, corpus_id ASC
      ) AS srank FROM s1
    ),
    s3 AS (
      SELECT query_id, corpus_id,
             ROUND({cos("c_emb", "q_emb", in_dim)}, 6) AS cosine
      FROM s2 WHERE srank <= {shortlist}
    ),
    s4 AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC
      ) AS rank FROM s3
    )
    SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank
    FROM s4 WHERE rank <= {k}
    """


@register("similarity_projected_rerank", _projected_rerank_oracle())
def similarity_projected_rerank_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three-stage ANN: multi-table hyperplane LSH (4 bits × 8 tables)
    generates candidates with a bucket-co-partitioned join — never an
    all-pairs nested loop — then 16-d JL-projected cosine shortlists
    100 per query (4× less arithmetic than full-dim), then exact 64-d
    cosine re-ranks to top-10. Both ranking stages order on rounded
    scores with id tiebreaks so the oracle (projection matrix AND LSH
    planes embedded as literals) reproduces buckets, shortlist, and
    ranks exactly; recall vs exact top-k is asserted in
    tests/test_similarity.py."""
    from .operators.similarity import projected_rerank_topk

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    return projected_rerank_topk(
        embeddings, queries, k=10, shortlist=100, in_dim=64, out_dim=16,
        seed=7, lsh_planes=4, lsh_tables=8, lsh_seed=42,
    )


def _seeded_unit_vectors(n: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded random unit vectors — fixed coarse-quantizer centroids for
    the catalog IVF query, so the oracle can embed the identical
    constants (the k-means trainer in operators/similarity.py stays the
    production path; its output is data-dependent and so not
    SQL-embeddable)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    x = rng.randn(n, dim)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return [[float(v) for v in row] for row in x]


def _vec_sql(v: list[float]) -> str:
    return "[" + ",".join(repr(x) for x in v) + "]::DOUBLE[]"


_IVF_CENTROIDS = _seeded_unit_vectors(16, 64, seed=7)


def _ivf_oracle(cents: list[list[float]], nprobe: int = 4, k: int = 10,
                n_queries: int = 20) -> str:
    """Replays IVF-Flat relationally: assign each corpus vector to its
    top-1 cell, each query to its top-nprobe cells (both ranked dot
    DESC with cell-index tiebreak, matching _nearest_cells_expr), score
    cell-mates, rank. Centroids are the same literals the Spark query
    passes."""
    cells = ", ".join(f"({i}, {_vec_sql(c)})" for i, c in enumerate(cents))
    return f"""
    WITH cells(cell, cvec) AS (VALUES {cells}),
    corpus AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_vec
               FROM embeddings),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id < {n_queries}),
    ca AS (
      SELECT corpus_id, c_vec, cell FROM (
        SELECT corpus_id, c_vec, cell,
               ROW_NUMBER() OVER (PARTITION BY corpus_id
                 ORDER BY list_dot_product(c_vec, cvec) DESC, cell) AS rn
        FROM corpus CROSS JOIN cells) WHERE rn = 1),
    qp AS (
      SELECT query_id, q_vec, cell FROM (
        SELECT query_id, q_vec, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY list_dot_product(q_vec, cvec) DESC, cell) AS rn
        FROM qs CROSS JOIN cells) WHERE rn <= {nprobe}),
    scored AS (
      SELECT query_id, corpus_id,
             list_cosine_similarity(c_vec, q_vec) AS cosine
      FROM ca JOIN qp USING (cell) WHERE corpus_id <> query_id),
    ranked AS (
      SELECT query_id, corpus_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@register("similarity_ivf_ann", _ivf_oracle(_IVF_CENTROIDS))
def similarity_ivf_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (16 cells, probe 4): coarse-quantize the corpus
    once, score queries only against their nprobe nearest cells. The
    catalog run pins seeded literal centroids so the oracle replays the
    identical quantizer; recall with TRAINED (k-means) centroids is
    asserted in tests/test_similarity.py."""
    from pyspark.sql import functions as F

    from .operators.similarity import ivf_topk

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = ivf_topk(embeddings, queries, dim=64, k=10, nprobe=4,
                   centroids=_IVF_CENTROIDS)
    return out.withColumn("cosine", F.round("cosine", 6))


def _ivfpq_oracle(cents: list[list[float]], nprobe: int = 4, k: int = 10,
                  shortlist: int = 40, n_queries: int = 20, dim: int = 64,
                  m: int = 4, kc: int = 4, pq_seed: int = 11) -> str:
    """Replays IVF-PQ end-to-end: coarse cell assignment (as
    _ivf_oracle), PQ codes per corpus vector (as _pq_oracle), the
    query-side distance tables over the SAME literal codebook, ADC =
    Σ qd_j[code_j + 1] ranked ascending with corpus-id ties, then the
    exact-cosine re-rank of the shortlist."""
    from .operators.similarity import pq_codebook

    cb = pq_codebook(dim, m, kc, pq_seed)
    sub = dim // m

    def dl(vec: str, j: int) -> str:
        off = j * sub
        ds = []
        for cw in cb[j]:
            lits = "[" + ", ".join(repr(v) for v in cw) + "]"
            ds.append(
                f"list_sum(list_transform(range(1, {sub} + 1), "
                f"t -> ({vec}[{off} + t] - ({lits})[t])"
                f" * ({vec}[{off} + t] - ({lits})[t])))"
            )
        return "[" + ",\n             ".join(ds) + "]"

    cells = ", ".join(f"({i}, {_vec_sql(c)})" for i, c in enumerate(cents))
    code_sel = ",\n             ".join(
        f"CAST(list_position(dl{j}, list_min(dl{j})) - 1 AS INT) AS code{j}"
        for j in range(m)
    )
    dl_sel = ",\n             ".join(f"{dl('c_vec', j)} AS dl{j}"
                                     for j in range(m))
    qd_sel = ",\n           ".join(f"{dl('q_vec', j)} AS qd{j}"
                                   for j in range(m))
    adc = " + ".join(f"qd{j}[code{j} + 1]" for j in range(m))
    return f"""
    WITH cells(cell, cvec) AS (VALUES {cells}),
    corpus AS (SELECT vec_id AS corpus_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS c_vec
               FROM embeddings),
    qs AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec
           FROM embeddings WHERE vec_id < {n_queries}),
    ca0 AS (
      SELECT corpus_id, c_vec, cell FROM (
        SELECT corpus_id, c_vec, cell,
               ROW_NUMBER() OVER (PARTITION BY corpus_id
                 ORDER BY list_dot_product(c_vec, cvec) DESC, cell) AS rn
        FROM corpus CROSS JOIN cells) WHERE rn = 1),
    ca AS (
      SELECT corpus_id, c_vec, cell,
             {code_sel}
      FROM (SELECT corpus_id, c_vec, cell,
             {dl_sel}
            FROM ca0)),
    qp AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY list_dot_product(q_vec, cvec) DESC, cell) AS rn
        FROM qs CROSS JOIN cells) WHERE rn <= {nprobe}),
    qd AS (
      SELECT query_id, q_vec,
           {qd_sel}
      FROM qs),
    cand AS (
      SELECT qp.query_id, ca.corpus_id, ca.c_vec, qd.q_vec,
             ({adc}) AS adc
      FROM ca JOIN qp USING (cell) JOIN qd USING (query_id)
      WHERE corpus_id <> query_id),
    sl AS (
      SELECT query_id, corpus_id, c_vec, q_vec FROM (
        SELECT query_id, corpus_id, c_vec, q_vec,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc, corpus_id) AS ar
        FROM cand) WHERE ar <= {shortlist}),
    ranked AS (
      SELECT query_id, corpus_id,
             list_cosine_similarity(c_vec, q_vec) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c_vec, q_vec) DESC,
                        corpus_id) AS rank
      FROM sl)
    SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@register("similarity_ivfpq_ann", _ivfpq_oracle(_IVF_CENTROIDS, shortlist=120))
def similarity_ivfpq_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (Jégou et al.; the FAISS billion-scale default):
    coarse IVF cells bound the search, PQ asymmetric distance (m
    array lookups per candidate) ranks an in-cell shortlist, and only
    the shortlist gets the exact cosine re-rank. Every stage is exact
    double folds against seeded literals with corpus-id tie-breaks,
    so the oracle replays the FULL pipeline — coarse assign, codes,
    ADC ordering, re-rank — bit-for-bit. shortlist=120 (~5 % of the
    probed candidates) recovers 95 % of the IVF-Flat recall ceiling
    here; the SEEDED codebook keeps the oracle exact — a production
    index k-means-trains it (finer ADC, smaller shortlist), same
    plan."""
    from pyspark.sql import functions as F

    from .operators.similarity import ivfpq_topk

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = ivfpq_topk(
        embeddings, queries, dim=64, k=10, shortlist=120, nprobe=4,
        centroids=_IVF_CENTROIDS,
    )
    return out.withColumn("cosine", F.round("cosine", 6))


def _lsh_oracle(tables: list[list[list[float]]], k: int = 10,
                n_queries: int = 20) -> str:
    """Replays multi-table hyperplane LSH: per (table, plane) literal,
    signature bit = dot > 0, bucket = Σ 1<<bit; candidates share any
    (table, bucket); exact cosine rank over candidates."""
    rows = ", ".join(
        f"({t}, {b}, {_vec_sql(p)})"
        for t, planes in enumerate(tables)
        for b, p in enumerate(planes)
    )
    return f"""
    WITH planes(tbl, bit, pvec) AS (VALUES {rows}),
    corpus AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_vec
               FROM embeddings),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id < {n_queries}),
    cb AS (
      SELECT corpus_id, tbl,
             SUM(CASE WHEN list_dot_product(c_vec, pvec) > 0
                      THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS bucket
      FROM corpus CROSS JOIN planes GROUP BY corpus_id, tbl),
    qb AS (
      SELECT query_id, tbl,
             SUM(CASE WHEN list_dot_product(q_vec, pvec) > 0
                      THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS bucket
      FROM qs CROSS JOIN planes GROUP BY query_id, tbl),
    cand AS (
      SELECT DISTINCT query_id, corpus_id
      FROM cb JOIN qb USING (tbl, bucket)
      WHERE corpus_id <> query_id),
    scored AS (
      SELECT cand.query_id, cand.corpus_id,
             list_cosine_similarity(c.embedding::DOUBLE[],
                                    q.embedding::DOUBLE[]) AS cosine
      FROM cand
      JOIN embeddings c ON c.vec_id = cand.corpus_id
      JOIN embeddings q ON q.vec_id = cand.query_id),
    ranked AS (
      SELECT query_id, corpus_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def _lsh_tables(dim: int = 64, n_planes: int = 4, n_tables: int = 8,
                seed: int = 42) -> list[list[list[float]]]:
    """The exact plane sets lsh_topk derives internally (seed + 1000*t
    per table) — regenerated here so the oracle embeds identical
    constants."""
    from .operators.similarity import hyperplanes

    return [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]


@register("similarity_lsh_ann", _lsh_oracle(_lsh_tables()))
def similarity_lsh_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: the seeded plane constants are
    embedded as literals in the oracle, which replays signature →
    bucket → candidate → exact-rank end-to-end; subset-of-exact and
    recall properties are additionally asserted in
    tests/test_similarity.py."""
    from pyspark.sql import functions as F

    from .operators.similarity import lsh_topk

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = lsh_topk(embeddings, queries, dim=64, k=10, n_planes=4, n_tables=8)
    return out.withColumn("cosine", F.round("cosine", 6))


def _simhash_oracle(bits: int = 32, max_hamming: int = 6) -> str:
    sig_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END"
        for b in range(bits)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
      FROM t
    ),
    sig AS (SELECT doc_id, ({sig_terms}) AS simhash FROM h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("dedup_simhash", _simhash_oracle(32, 1))
def dedup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit signatures, Hamming ≤ 1 — the
    synthetic corpus reuses token sets, so distance-0 pairs abound) via
    pigeonhole bit-block candidate generation; the oracle recomputes
    the identical signatures bit-for-bit and verifies all-pairs —
    proving the blocking loses no pair it shouldn't."""
    from .operators.dedup import simhash_near_dup_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        documents, bits=32, max_hamming=1, blocks=4
    )


@register(
    "text_rolling_fingerprint",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(list_min(list_transform(
             range(1, greatest(len(toks) - 3, 1) + 1),
             i -> ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 8))::BIGINT
           )) AS BIGINT) AS rolling_fp
    FROM t
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint (min over 4-token
    window hashes) — robust to local edits, bit-exact across engines."""
    from .operators.text import rolling_hash_fingerprint

    (documents,) = _load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id", rolling_hash_fingerprint("text", window=4).alias("rolling_fp")
    )


@register(
    "text_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish (subword-regex) token counts — the two
    token-budget estimators a training-data pipeline runs per document."""
    from .operators.text import bpe_ish_token_count, token_count

    (documents,) = _load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


@register(
    "text_repetition_metrics",
    r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY doc_id, tok
    ),
    u AS (
      SELECT doc_id, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct,
             MAX(cnt) AS top_cnt
      FROM uni GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bgs
      FROM t
    ),
    bic AS (
      SELECT doc_id, b, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
      GROUP BY doc_id, b
    ),
    bi AS (
      SELECT doc_id, SUM(cnt) AS n_bigrams, MAX(cnt) AS top_bi_cnt
      FROM bic GROUP BY doc_id
    )
    SELECT u.doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           u.n_distinct / u.n_tokens AS distinct_ratio,
           u.top_cnt / u.n_tokens AS top_token_frac,
           COALESCE(bi.top_bi_cnt / bi.n_bigrams, 0.0)
             AS top_bigram_frac,
           (u.n_distinct / u.n_tokens >= 0.3
            AND COALESCE(bi.top_bi_cnt / bi.n_bigrams, 0.0) <= 0.12)
             AS keep
    FROM u LEFT JOIN bi ON u.doc_id = bi.doc_id
    """,
)
def text_repetition_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter metrics (distinct-token ratio,
    top-token / top-bigram fractions, keep flag) — the oracle replays
    the unigram/bigram counting bit-for-bit in DuckDB."""
    from .operators.text import repetition_metrics

    (documents,) = _load(spark, sf_dir, "documents")
    return repetition_metrics(documents)


@register(
    "text_chunk_windows",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             1 + greatest(0, CAST(ceil((len(toks) - 64) / 48.0) AS INT))
               AS n_chunks
      FROM t
    ),
    e AS (
      SELECT doc_id, toks,
             unnest(range(0, n_chunks)) AS chunk_idx
      FROM c
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64])
                AS BIGINT) AS chunk_tokens,
           array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text
    FROM e
    """,
)
def text_chunk_windows_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token windows at stride 48 per document — the
    retrieval-pipeline chunking step; the oracle replays the chunk
    count and slicing arithmetic with DuckDB list slices."""
    from .operators.text import chunk_windows

    (documents,) = _load(spark, sf_dir, "documents")
    return chunk_windows(documents, window=64, stride=48)


@register(
    "sample_mix_rebalance",
    r"""
    WITH base AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    mix AS (SELECT lang, SUM(n_tokens) AS cur FROM base GROUP BY lang),
    m2 AS (
      SELECT lang, cur,
             cur / SUM(cur) OVER () AS share,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                       WHEN 'es' THEN 0.25 END AS target
      FROM mix
    ),
    m3 AS (SELECT * FROM m2 WHERE target IS NOT NULL),
    m4 AS (SELECT *, MIN(share / target) OVER () AS alpha FROM m3),
    fr AS (SELECT lang, target * alpha / share AS keep_frac FROM m4)
    SELECT b.doc_id, b.lang, b.n_tokens
    FROM base b JOIN fr ON b.lang = fr.lang
    WHERE ('0x' || substr(md5(coalesce(b.doc_id::VARCHAR, chr(0)) || 'mix'),
                          1, 8))::BIGINT
          % 10000 < fr.keep_frac * 10000
    """,
)
def sample_mix_rebalance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample-only rebalancing toward target token shares
    (en 50 % / de 25 % / es 25 %; other langs dropped): the per-stratum
    keep fractions derive from the current mix in one tiny aggregate,
    membership is the md5-bucket primitive — the oracle replays the
    share → α → fraction → bucket-filter pipeline end-to-end."""
    from .operators.sampling import mix_rebalance

    (documents,) = _load(spark, sf_dir, "documents")
    return mix_rebalance(
        documents, {"en": 0.5, "de": 0.25, "es": 0.25}
    )


@register(
    "text_data_mix",
    r"""
    WITH a AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             SUM(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_tokens / SUM(n_tokens) OVER () AS token_share
    FROM a
    """,
)
def text_data_mix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix planning report: docs + whitespace-token budget per
    (lang, source) stratum and each stratum's share of total tokens."""
    from .operators.text import data_mix_report

    (documents,) = _load(spark, sf_dir, "documents")
    return data_mix_report(documents)


def _random_projection_oracle(
    in_dim: int = 64, out_dim: int = 8, seed: int = 7
) -> str:
    from .operators.similarity import projection_matrix

    mat = projection_matrix(in_dim, out_dim, seed)
    comps = ",\n           ".join(
        "ROUND(list_sum(list_transform(range(1, {n} + 1), "
        "i -> CAST(embedding[i] AS DOUBLE) * ([{row}])[i])), 6) AS rp{j}".format(
            n=in_dim, row=", ".join(repr(x) for x in row), j=j
        )
        for j, row in enumerate(mat)
    )
    return f"SELECT vec_id,\n           {comps}\n    FROM embeddings"


@register("embedding_random_projection", _random_projection_oracle())
def embedding_random_projection_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seeded JL random projection 64-d → 8 components; the oracle
    embeds the identical projection matrix as SQL literals and replays
    every dot product (same pattern as the LSH/IVF ANN oracles)."""
    from .operators.similarity import random_projection

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    return random_projection(embeddings, in_dim=64, out_dim=8, seed=7)


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 4, seed: int = 11) -> str:
    from .operators.similarity import pq_codebook

    cb = pq_codebook(dim, m, k, seed)
    sub = dim // m
    dl_exprs = []
    for j in range(m):
        off = j * sub
        ds = []
        for cw in cb[j]:
            lits = "[" + ", ".join(repr(v) for v in cw) + "]"
            ds.append(
                f"list_sum(list_transform(range(1, {sub} + 1), "
                f"t -> (emb[{off} + t] - ({lits})[t])"
                f" * (emb[{off} + t] - ({lits})[t])))"
            )
        dl_exprs.append("[" + ",\n             ".join(ds) + f"] AS dl{j}")
    codes = ",\n           ".join(
        f"CAST(list_position(dl{j}, list_min(dl{j})) - 1 AS INT) AS code{j}"
        for j in range(m)
    )
    err = f"list_min(dl0)"
    for j in range(1, m):
        err = f"({err} + list_min(dl{j}))"
    return f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    d AS (SELECT vec_id,
             {", ".join(dl_exprs)}
          FROM p)
    SELECT vec_id,
           {codes},
           {err} AS recon_err
    FROM d
    """


@register("embedding_pq_codes", _pq_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment (the compression half of an
    IVF-PQ ANN index): 4 subspaces × 4 codewords, exact L2² folds
    against the seeded literal codebook, argmin ties to the lowest
    codeword index, reconstruction error unrounded. The oracle embeds
    the identical codebook and replays every fold
    (operators.similarity.pq_assign)."""
    from .operators.similarity import pq_assign

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    return pq_assign(embeddings, dim=64, m=4, k=4, seed=11)


@register(
    "events_resample_locf",
    """
    WITH e AS (
      SELECT event_type AS series,
             epoch_us(ts::TIMESTAMP) // 900000000 AS bin,
             epoch_us(ts::TIMESTAMP) AS us, value, event_id
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY series, bin ORDER BY us DESC, event_id DESC
      ) AS rn FROM e
    ),
    per_bin AS (
      SELECT series, bin, COUNT(*) AS n_events,
             MAX(CASE WHEN rn = 1 THEN value END) AS last_v
      FROM ranked GROUP BY series, bin
    ),
    bounds AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
    grid AS (
      SELECT s.series, g.bin
      FROM (SELECT DISTINCT series FROM e) s,
           (SELECT unnest(generate_series(lo, hi)) AS bin FROM bounds) g
    )
    SELECT grid.series,
           CAST(grid.bin * 900000000 AS BIGINT) AS bin_start_us,
           CAST(COALESCE(per_bin.n_events, 0) AS BIGINT) AS n_events,
           ROUND(last_value(per_bin.last_v IGNORE NULLS) OVER (
             PARTITION BY grid.series ORDER BY grid.bin
             ROWS UNBOUNDED PRECEDING
           ), 4) AS value_locf
    FROM grid LEFT JOIN per_bin
      ON grid.series = per_bin.series AND grid.bin = per_bin.bin
    """,
)
def events_resample_locf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style 15-min resample with gap fill + LOCF: dense
    per-type timeline with event counts (0 in gaps) and the last
    observed value carried forward — the continuous-aggregate
    capability of time-series stores, composed from binning, a dense
    sequence grid, and an ignore-nulls window."""
    from .operators.timeseries import resample_locf

    (events,) = _load(spark, sf_dir, "events")
    return resample_locf(events, bin_micros=900_000_000)


@register(
    "events_resample_interpolate",
    """
    WITH e AS (
      SELECT event_type AS series,
             epoch_us(ts::TIMESTAMP) // 900000000 AS bin,
             epoch_us(ts::TIMESTAMP) AS us, value, event_id
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY series, bin ORDER BY us DESC, event_id DESC
      ) AS rn FROM e
    ),
    per_bin AS (
      SELECT series, bin, COUNT(*) AS n_events,
             MAX(CASE WHEN rn = 1 THEN value END) AS last_v
      FROM ranked GROUP BY series, bin
    ),
    bounds AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
    grid AS (
      SELECT s.series, g.bin
      FROM (SELECT DISTINCT series FROM e) s,
           (SELECT unnest(generate_series(lo, hi)) AS bin FROM bounds) g
    ),
    j AS (
      SELECT grid.series, grid.bin, per_bin.n_events,
             CAST(ROUND(per_bin.last_v * 1000) AS BIGINT) AS vm
      FROM grid LEFT JOIN per_bin
        ON grid.series = per_bin.series AND grid.bin = per_bin.bin
    ),
    w AS (
      SELECT series, bin, n_events,
             last_value(vm IGNORE NULLS) OVER (
               PARTITION BY series ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS vm0,
             last_value(CASE WHEN vm IS NOT NULL THEN bin END
                        IGNORE NULLS) OVER (
               PARTITION BY series ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS b0,
             first_value(vm IGNORE NULLS) OVER (
               PARTITION BY series ORDER BY bin
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vm1,
             first_value(CASE WHEN vm IS NOT NULL THEN bin END
                         IGNORE NULLS) OVER (
               PARTITION BY series ORDER BY bin
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b1
      FROM j
    )
    SELECT series, CAST(bin * 900000000 AS BIGINT) AS bin_start_us,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN vm0 IS NULL THEN NULL
                     WHEN vm1 IS NULL OR b1 <= b0 THEN CAST(vm0 AS DOUBLE)
                     ELSE vm0 + ((vm1 - vm0) * (bin - b0)) / (b1 - b0)
                END AS DOUBLE) / 1000.0 AS value_interp
    FROM w
    """,
)
def events_resample_interpolate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LINEAR gap-fill resample — the interpolation twin of
    events_resample_locf (same dense grid, straight-line values in
    interior gaps, LOCF tail). Value-checked because the interpolation
    is one fixed IEEE-754 expression tree both engines evaluate
    identically (operators.timeseries.resample_interpolate)."""
    from .operators.timeseries import resample_interpolate

    (events,) = _load(spark, sf_dir, "events")
    return resample_interpolate(events, bin_micros=900_000_000)


# --------------------------------------------------------------------------
# Events: time-window aggregation, sessionization, JSON props — batch
# forms here (oracle-checked); the streaming forms run the SAME plan
# (see streaming/events.py and the stream entry below).
# --------------------------------------------------------------------------

_WINDOWED_EVENTS_ORACLE = """
    SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS window_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


@register("events_windowed_agg", _WINDOWED_EVENTS_ORACLE)
def events_windowed_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — one shuffle with
    map-side partial agg; the identical plan runs incrementally under
    Structured Streaming (events_stream_windowed)."""
    from .streaming.events import windowed_event_agg

    (events,) = _load(spark, sf_dir, "events")
    return windowed_event_agg(events, window="1 hour")


@register(
    "events_stream_enriched",
    """
    SELECT c.c_nationkey, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def events_stream_enriched_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dim enrichment: the event stream joins a
    BROADCAST customer table per micro-batch (zero stream state), then
    aggregates per nation × event type. Oracle = the equivalent batch
    join+agg — proves the stream plan computes the same relation."""
    import os as _os

    from pyspark.sql import functions as F

    from .streaming.events import (
        load_events_stream,
        run_stream_to_memory,
        stream_static_enrich,
    )

    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    (customer,) = _load(spark, sf_dir, "customer")
    enriched = stream_static_enrich(stream, customer, "user_id", "c_custkey")
    agg = enriched.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return run_stream_to_memory(agg, output_mode="complete")


@register("events_stream_windowed", _WINDOWED_EVENTS_ORACLE)
def events_stream_windowed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same windowed aggregate executed as a REAL Structured
    Streaming query (file source → watermark → memory sink,
    availableNow): the oracle match proves batch/stream equivalence."""
    import os as _os

    from .streaming.events import (
        load_events_stream,
        run_stream_to_memory,
        windowed_event_agg,
    )

    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    agg = windowed_event_agg(stream, window="1 hour", watermark="1 hour")
    return run_stream_to_memory(agg, output_mode="complete")


@register(
    "events_sessionize",
    """
    WITH x AS (
      SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS ts_us,
             lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), f AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM x
    ), s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM f
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def events_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap), batch form: lag →
    new-session flag → running sum, one shuffle on user_id. The
    streaming twin (applyInPandasWithState) is exercised in
    tests/test_streaming.py."""
    from .streaming.events import sessionize_batch

    (events,) = _load(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30)


@register(
    "events_json_props",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           event_type = 'error' AS is_error
    FROM events
    """,
)
def events_json_props_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON path extraction stays JVM-side
    (get_json_object), no Python in the scan."""
    from pyspark.sql import functions as F

    (events,) = _load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
        (F.col("event_type") == "error").alias("is_error"),
    )


@register(
    "events_variant_extract",
    """
    SELECT event_id,
           user_id AS uid,
           event_type AS kind,
           CAST(ROUND(value * 1000) AS BIGINT) AS vm,
           'u' || CAST(user_id AS VARCHAR) AS tag1,
           CAST(NULL AS BIGINT) AS kind_as_int,
           CAST(NULL AS VARCHAR) AS missing
    FROM events
    """,
)
def events_variant_extract_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT round-trip: nested JSON (object-in-object +
    array) is built JVM-side from the event columns, parsed into the
    binary VARIANT type (``parse_json``), and read back with typed
    path extraction — ``variant_get`` for present paths (including an
    array index), ``try_variant_get`` for a type-mismatched path
    (string as bigint → NULL) and a missing path. The oracle never
    sees JSON: it re-derives every output arithmetically from the
    base columns, so any loss in the build→parse→extract round-trip
    (int exactness, array order, null semantics) hash-fails. All
    JVM-side — the VARIANT scan path a 100 TB semi-structured event
    lake would use, with shredded columnar access instead of
    per-query JSON string re-parsing."""
    from pyspark.sql import functions as F

    from .sources.io import fan_out

    # VARIANT build+parse+extract is heavy per-row work on a fully
    # narrow plan — without fan_out the single-file local scan ran it
    # all on one core (measured 1.94 → 0.42 s warm at sf0.1); no-op at
    # scale where the scan already has splits (round 10, guide §2)
    (events,) = _load(spark, sf_dir, "events")
    events = fan_out(events)
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.struct(
                F.col("event_type").alias("kind"),
                F.round(F.col("value") * 1000).cast("bigint").alias("vm"),
            ).alias("meta"),
            F.array(
                F.col("event_type"),
                F.concat(F.lit("u"), F.col("user_id").cast("string")),
            ).alias("tags"),
        )
    )
    v = F.parse_json(doc)
    return events.select(
        "event_id",
        F.variant_get(v, "$.uid", "bigint").alias("uid"),
        F.variant_get(v, "$.meta.kind", "string").alias("kind"),
        F.variant_get(v, "$.meta.vm", "bigint").alias("vm"),
        F.variant_get(v, "$.tags[1]", "string").alias("tag1"),
        F.try_variant_get(v, "$.meta.kind", "bigint").alias("kind_as_int"),
        F.try_variant_get(v, "$.missing", "string").alias("missing"),
    )


@register(
    "events_stream_interval_join",
    """
    SELECT e.event_id, e.user_id, epoch_us(e.ts::TIMESTAMP) AS ts_us,
           c.event_id AS r_event_id, epoch_us(c.ts::TIMESTAMP) AS r_ts_us
    FROM events e JOIN events c
      ON e.event_type = 'error' AND c.event_type = 'click'
     AND e.user_id = c.user_id
     AND c.ts::TIMESTAMP >= e.ts::TIMESTAMP - INTERVAL 1 DAY
     AND c.ts::TIMESTAMP <= e.ts::TIMESTAMP
    """,
)
def events_stream_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a REAL Structured
    Streaming query (both sides watermarked, time-bounded condition →
    bounded state): each error event joins the same user's click
    events from the preceding day. The oracle is the equivalent batch
    theta-join — proving the streaming plan computes the same
    relation."""
    import os as _os

    from pyspark.sql import functions as F

    from .streaming.events import (
        interval_join,
        load_events_stream,
        run_stream_to_memory,
    )

    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    errors = stream.filter("event_type = 'error'").select(
        "event_id", "user_id", "ts"
    )
    clicks = stream.filter("event_type = 'click'").selectExpr(
        "event_id AS r_event_id", "user_id AS r_user_id", "ts AS r_ts"
    )
    joined = interval_join(
        errors, clicks, "user_id", "r_user_id", "ts", "r_ts",
        lookback="1 day", watermark="1 hour",
    )
    out = run_stream_to_memory(joined, output_mode="append")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "r_event_id",
        F.unix_micros("r_ts").alias("r_ts_us"),
    )


# --------------------------------------------------------------------------
# Multimodal binary columns (blob + typed metadata; decode via
# mapInPandas with a deterministic stub — no media libs in container).
# The blob fixture derives from documents.text so oracles can replay
# it byte-for-byte in SQL.
# --------------------------------------------------------------------------

_BLOB_SQL = """
      SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0
                    THEN from_hex('89504E470D0A1A0A') || encode(text)
                  WHEN doc_id % 3 = 1
                    THEN from_hex('FFD8FFE0') || encode(text)
                  ELSE encode(text) END AS blob
      FROM documents
"""

_FMT_SQL = """CASE WHEN doc_id % 3 = 0 THEN 'png'
                   WHEN doc_id % 3 = 1 THEN 'jpeg'
                   ELSE 'unknown' END"""


@register(
    "multimodal_blob_features",
    f"""
    WITH b AS ({_BLOB_SQL})
    SELECT doc_id,
           CAST(octet_length(blob) AS BIGINT) AS byte_len,
           md5(hex(blob)) AS content_md5,
           {_FMT_SQL} AS format
    FROM b
    """,
)
def multimodal_blob_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: byte length, content hash (hex-md5
    convention), magic-byte format sniff — all JVM-side; the oracle
    replays the blob construction and the doc_id rotation ground truth,
    so a mis-sniffed format mismatches."""
    from .operators.multimodal import blob_metadata, text_as_blobs

    (documents,) = _load(spark, sf_dir, "documents")
    withmeta = blob_metadata(text_as_blobs(documents))
    return withmeta.select(
        "doc_id", "meta.byte_len", "meta.content_md5", "meta.format"
    )


@register(
    "multimodal_decode_stub",
    f"""
    WITH b AS ({_BLOB_SQL}),
    h AS (
      SELECT doc_id, blob,
             ('0x' || substr(md5(hex(blob)), 1, 8))::BIGINT AS hv
      FROM b
    )
    SELECT doc_id,
           CAST(octet_length(blob) AS BIGINT) AS byte_len,
           {_FMT_SQL} AS format,
           CAST(16 + hv % 2048 AS INT) AS width,
           CAST(16 + (hv // 2048) % 2048 AS INT) AS height,
           CAST(1 + (hv // 4194304) % 4 AS INT) AS channels,
           'stub' AS decoder
    FROM h
    """,
)
def multimodal_decode_stub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode through the real mapInPandas Arrow plumbing with the
    deterministic stub decoder; the oracle recomputes the stub's
    hash-derived dimensions, verifying the full Python-worker path."""
    from .operators.multimodal import decode_image_features, text_as_blobs

    (documents,) = _load(spark, sf_dir, "documents")
    return decode_image_features(text_as_blobs(documents))


@register(
    "multimodal_frame_sample",
    f"""
    WITH b AS ({_BLOB_SQL})
    SELECT doc_id, CAST(r.i AS INT) AS frame_idx,
           md5(hex(blob) || CAST(r.i AS VARCHAR)) AS frame_md5
    FROM b, range(4) r(i)
    """,
)
def multimodal_frame_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through mapInPandas: 1 row → 4 frame rows
    (deterministic digests). The operator now also carries the
    mp4_header tier's real timestamps/dimensions; the synthetic text
    blobs are never parseable MP4, so this query projects the stable
    stub columns the relational oracle replays."""
    from .operators.multimodal import sample_frames, text_as_blobs

    (documents,) = _load(spark, sf_dir, "documents")
    return sample_frames(text_as_blobs(documents), n_frames=4).select(
        "doc_id", "frame_idx", "frame_md5"
    )


@register(
    "multimodal_audio_probe",
    """
    WITH p AS (
      SELECT doc_id,
             octet_length(encode(text)) AS dlen,
             doc_id % 3 AS var
      FROM documents
    ), v AS (
      SELECT doc_id, dlen,
             CASE var WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      ELSE 22050 END AS sample_rate,
             CASE var WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 1 END AS channels,
             CASE var WHEN 0 THEN 8 ELSE 16 END AS bits_per_sample,
             CASE var WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 2 END AS block_align
      FROM p
    )
    SELECT doc_id, CAST(dlen + 44 AS BIGINT) AS byte_len,
           'riff' AS format,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(channels AS INT) AS channels,
           CAST(bits_per_sample AS INT) AS bits_per_sample,
           CAST(dlen // block_align AS BIGINT) AS n_frames,
           CAST((dlen // block_align) * 1000 // sample_rate AS BIGINT)
             AS duration_ms,
           'wav_header' AS decoder
    FROM v
    """,
)
def multimodal_audio_probe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio header extraction over REAL bytes: the documents table is
    wrapped into spec-valid PCM WAV containers (JVM-side literal fmt
    chunk + computed little-endian size fields, three rate/channel
    variants on a doc_id rotation), then ``extract_audio_features``
    parses the RIFF chunk walk back in the Arrow ``mapInPandas`` tier.
    The oracle never sees the bytes — it re-derives every feature
    arithmetically from the payload length, so a parser that misreads
    any header field (or the 44-byte envelope accounting) hash-fails."""
    from pyspark.sql import functions as F

    from .operators.multimodal import extract_audio_features, wrap_wav

    (documents,) = _load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    blob = (
        F.when(F.col("doc_id") % 3 == 0, wrap_wav(payload, 1, 8000, 8))
        .when(F.col("doc_id") % 3 == 1, wrap_wav(payload, 2, 16000, 16))
        .otherwise(wrap_wav(payload, 1, 22050, 16))
    )
    return extract_audio_features(documents.withColumn("blob", blob))


# --------------------------------------------------------------------------
# Generator (SURVEY.md §2.11 G1-G4) — rows-only checks: the Zipf Newton
# iteration is not SQL-expressible. Distribution properties are
# asserted in tests/test_generator.py.
# --------------------------------------------------------------------------


@register(
    "agg_heavy_hitters",
    """
    WITH c AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    s AS (SELECT COUNT(*) AS nk, SUM(cnt) AS total FROM c),
    h AS (SELECT k, cnt FROM c, s WHERE cnt * nk > 2 * total),
    t AS (SELECT k AS top1_key, cnt AS top1_cnt FROM c
          ORDER BY cnt DESC, k ASC LIMIT 1)
    SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_hitters,
           CAST((SELECT COALESCE(MAX(cnt), 0) FROM h) AS BIGINT)
             AS max_hitter_cnt,
           t.top1_key, t.top1_cnt, true AS sketch_has_top1
    FROM t
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items / heavy-hitters, both ways a 100 TB pipeline
    needs them: EXACT hitters (keys above 2× the mean per-key count —
    integer cnt·nk > 2·total arithmetic, scale-stable and fully
    oracled) from one partial-agg shuffle over a bounded key space,
    plus the SpaceSaving-style ``approx_top_k`` sketch (fixed-size
    partial state, the only shape that works on an UNbounded key
    space). Sketch internals are engine-specific, so — the
    agg_approx_sketches convention — the oracle checks its contract:
    the exact top-1 key must appear in the sketch's top 10
    (deterministically true while distinct keys ≤ the sketch's
    10 000-item tracking budget; the heaviest key survives far beyond
    that)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    c = lineitem.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    s = c.agg(
        F.count(F.lit(1)).alias("nk"), F.sum("cnt").alias("total")
    )
    # bounded: single-row (nk, total) scalar aggregate
    hitters = c.crossJoin(F.broadcast(s)).filter(
        F.col("cnt") * F.col("nk") > 2 * F.col("total")
    )
    hit_sum = hitters.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hitters"),
        F.coalesce(F.max("cnt"), F.lit(0)).cast("bigint")
          .alias("max_hitter_cnt"),
    )
    top = c.agg(
        F.max(F.struct(F.col("cnt"), (-F.col("k")).alias("_nk"))).alias("m")
    ).select(
        (-F.col("m._nk")).alias("top1_key"), F.col("m.cnt").alias("top1_cnt")
    )
    sketch = lineitem.agg(
        F.expr("approx_top_k(l_suppkey, 10)").alias("tk")
    ).select(F.expr("transform(tk, x -> x.item)").alias("_items"))
    return (
        # bounded: three single-row aggregates
        hit_sum.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(sketch))
        .select(
            "n_hitters", "max_hitter_cnt", "top1_key", "top1_cnt",
            F.array_contains(F.col("_items"), F.col("top1_key"))
              .alias("sketch_has_top1"),
        )
    )


@register(
    "agg_approx_sketches",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           true AS parts_ok, true AS orders_ok, true AS median_ok
    FROM lineitem
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HyperLogLog++ distinct count, approximate
    percentiles): fixed-size partial state per partition — the only
    aggregation shapes that stay cheap at 100 TB when exact answers
    aren't required. Sketch *internals* are engine-specific, so the
    oracle checks the accuracy CONTRACT instead: the query emits the
    exact values plus booleans asserting each sketch lands within its
    documented error bound (HLL++ rsd 5% → ±3σ≈15%; percentile_approx
    accuracy 10000 → ±2% rank, bounded here by the exact p45–p55
    bracket). The oracle's `true` literals fail the hash-match iff a
    sketch ever drifts out of bound. The exact aggregates exist for
    verification only — production callers use the sketch alone
    (see also agg_exact_quantiles for the exact-percentile twin)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("_ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("_ao"),
        F.expr(
            "percentile_approx(l_extendedprice, 0.5, 10000)"
        ).alias("_median_approx"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("_p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("_p55"),
    ).select(
        "exact_parts",
        "exact_orders",
        (F.abs(F.col("_ap") - F.col("exact_parts"))
         <= 0.15 * F.col("exact_parts")).alias("parts_ok"),
        (F.abs(F.col("_ao") - F.col("exact_orders"))
         <= 0.15 * F.col("exact_orders")).alias("orders_ok"),
        F.col("_median_approx").between(
            F.col("_p45"), F.col("_p55")
        ).alias("median_ok"),
    )


@register(
    "text_tfidf_topterms",
    f"""
    WITH t AS (
      SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents)
    ),
    tf AS (SELECT doc_id, n_toks, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2, 3),
    dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND((CAST(cnt AS DOUBLE) / n_toks)
                   * ln(CAST(n_docs AS DOUBLE) / df_t), 6) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (keyword extraction). Ranking
    on the 6dp-rounded score in both engines so last-ulp ln()
    differences can't flip a rank boundary."""
    from .operators.text import tfidf_top_terms

    (documents,) = _load(spark, sf_dir, "documents")
    return tfidf_top_terms(documents, top_n=3)


@register(
    "sample_hash_split",
    """
    SELECT doc_id, lang, length(text) AS text_len
    FROM documents
    WHERE ('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(0)) || 'split'),
                          1, 8))::BIGINT % 100 < 80
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split by key-hash bucketing — the
    seed-free, engine-reproducible split a training pipeline needs
    (membership stable under re-runs and repartitioning; RAND()-based
    splits are neither). The oracle replays the identical md5 bucket
    arithmetic."""
    from pyspark.sql import functions as F

    from .operators.sampling import hash_split

    (documents,) = _load(spark, sf_dir, "documents")
    train, _ = hash_split(documents, "doc_id", train_pct=80, salt="split")
    return train.select(
        "doc_id", "lang", F.length("text").cast("long").alias("text_len")
    )


@register(
    "sample_stratified",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(0)) || 'mix'),
                          1, 8))::BIGINT % 10000
          < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
                      WHEN 'es' THEN 3000 WHEN 'fr' THEN 2000
                      WHEN 'zh' THEN 2000 ELSE 0 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample via the DETERMINISTIC md5-bucket
    sampler (sampling.stratified_hash_sample) — the data-mixing
    primitive of a training pipeline (per-source rates), value-checked
    because membership is a pure function of (doc_id, salt). The seeded
    ``sampleBy`` (RNG) variant stays available as
    sampling.stratified_sample, property-tested in
    tests/test_sampling_tfidf.py (its RNG is Spark-internal, so it
    cannot be cross-engine value-checked)."""
    from .operators.sampling import stratified_hash_sample

    (documents,) = _load(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.3, "es": 0.3, "fr": 0.2, "zh": 0.2}
    return stratified_hash_sample(
        documents, "lang", fractions, key_col="doc_id", salt="mix"
    ).select("doc_id", "lang")


@register(
    "corpus_shuffle_shards",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(0)) || 'shuf'),
                             1, 8))::BIGINT AS hv
      FROM documents
    )
    SELECT doc_id, CAST(hv % 8 AS INT) AS shard_id,
           CAST(row_number() OVER (
             PARTITION BY hv % 8 ORDER BY hv, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM h
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle as a shard
    assignment (shard_id, pos_in_shard by md5 hash order) — reading
    shards round-robin replays a uniform global permutation for epoch
    ordering without a global row_number (which would serialize the
    corpus through one task). Seed-free md5 arithmetic, so the oracle
    replays the identical permutation
    (operators.sampling.shuffle_shards)."""
    from .operators.sampling import shuffle_shards

    (documents,) = _load(spark, sf_dir, "documents")
    return shuffle_shards(documents, "doc_id", n_shards=8, salt="shuf").select(
        "doc_id", "shard_id", "pos_in_shard"
    )


@register(
    "text_quality_prune",
    f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, t -> lower(t) IN {_STOPWORDS_SQL})) AS DOUBLE)
               / greatest(len(toks), 1) AS stopword_ratio,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio,
             list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE)))
               / greatest(len(toks), 1) AS mean_token_len
      FROM t
    ), q AS (
      SELECT doc_id, lang,
             CAST(ROUND((least(n_tokens / 50.0, 1.0)
                   + least(stopword_ratio * 4.0, 1.0)
                   + greatest(0.0, 1.0 - punct_ratio * 5.0)
                   + CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0
                          THEN 1.0 ELSE 0.5 END) / 4.0 * 1000) AS BIGINT) AS q_milli
      FROM m
    ), h AS (
      SELECT q_milli, COUNT(*) AS c FROM q GROUP BY 1
    ), c AS (
      SELECT q_milli,
             SUM(c) OVER (ORDER BY q_milli ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER () AS n
      FROM h
    ), thr AS (
      SELECT MIN(q_milli) AS t FROM c WHERE cum * 100 >= 30 * n
    )
    SELECT q.doc_id, q.lang, q.q_milli FROM q, thr WHERE q.q_milli >= thr.t
    """,
)
def text_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold corpus pruning: drop the bottom ~30% of
    documents by quality score, with the exact threshold found via a
    BOUNDED milli-score histogram (≤ 1001 buckets) instead of a global
    sort or collect-all percentile — the scale-safe form of "keep the
    top X% by classifier score". Integer threshold arithmetic
    (cum·100 ≥ 30·n) makes both engines pick the identical bucket
    (operators.text.quality_percentile_prune)."""
    from .operators.text import quality_percentile_prune

    (documents,) = _load(spark, sf_dir, "documents")
    return quality_percentile_prune(documents, drop_pct=30)


def _pii_oracle() -> str:
    from .operators.text import PII_PATTERNS

    synth = (
        "text || ' Contact user' || doc_id::VARCHAR || '@example.com "
        "or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || "
        "lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' from 10.0.' || "
        "(doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR"
    )
    counts = ", ".join(
        "CAST(len(regexp_extract_all(t, '{p}')) AS INT) AS n_{n}".format(
            p=pat, n=name
        )
        for name, pat, _ in PII_PATTERNS
    )
    clean = "t"
    for _, pat, token in PII_PATTERNS:
        clean = "regexp_replace({c}, '{p}', '{t}', 'g')".format(
            c=clean, p=pat, t=token
        )
    return (
        "WITH w AS (SELECT doc_id, " + synth + " AS t FROM documents) "
        "SELECT doc_id, " + counts + ", " + clean + " AS clean_text FROM w"
    )


@register("text_pii_redaction", _pii_oracle())
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (text.redact_pii / pii_counts): every email / SSN /
    IPv4 / phone match replaced by its category token, with per-doc
    audit counts — the standard pre-training cleanup pass. The
    synthetic corpus carries no PII, so the query plants one
    deterministic instance of each category (derived from doc_id) into
    every doc and both engines scrub the same text — redaction and
    counts are fully value-checked. Patterns are restricted to
    Java-regex ∩ RE2 syntax so both engines agree. Narrow projection,
    chained JVM regexp_replace, no shuffle, no UDF."""
    from pyspark.sql import functions as F

    from .operators.text import pii_counts, redact_pii
    from .sources.io import fan_out

    (documents,) = _load(spark, sf_dir, "documents")
    with_pii = fan_out(documents).withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
        ),
    )
    return with_pii.select(
        "doc_id", *pii_counts("t"), redact_pii("t").alias("clean_text")
    )


@register(
    "dedup_contamination",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    b AS (
      SELECT doc_id, sh,
             ('0x' || substr(md5(doc_id::VARCHAR || 'eval'), 1, 8))::BIGINT
               % 100 < 5 AS is_eval
      FROM s
    ),
    e AS (SELECT DISTINCT unnest(sh) AS shingle FROM b WHERE is_eval),
    c AS (SELECT doc_id, unnest(sh) AS shingle FROM b WHERE NOT is_eval)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
    FROM c JOIN e USING (shingle)
    GROUP BY doc_id
    HAVING COUNT(*) >= 5
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.contamination_check): corpus
    docs sharing ≥5 distinct 3-gram shingles with a held-out eval
    set. The eval set is carved deterministically from documents (md5
    bucket < 5% — same split primitive as sample_hash_split) so both
    engines see identical sides. Eval shingles broadcast; the corpus
    pass is one narrow shingle projection — no self-join, no text
    shuffle."""
    from .operators.dedup import contamination_check
    from .operators.sampling import hash_bucket

    (documents,) = _load(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 100, "eval")
    return contamination_check(
        documents.filter(b >= 5),
        documents.filter(b < 5),
        k=3,
        min_overlap=5,
    )


@register(
    "source_csv_roundtrip",
    """
    SELECT CAST(a.n_nationkey AS VARCHAR) AS k,
           CAST(a.n_nationkey AS VARCHAR) || ',' || a.n_name || ',' ||
             CAST(a.n_regionkey AS VARCHAR) AS left_row,
           CAST(b.n_nationkey AS VARCHAR) || ',' || b.n_name || ',' ||
             CAST(b.n_regionkey AS VARCHAR) AS right_row
    FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — the reference's native input format: headerless positional
    CSV (RepartitionJoin.java:28), exercised end-to-end: write nation
    as CSV, read it back positionally, run the reference-style join
    (key TAB left_row,right_row output shape). The oracle replays the
    whole roundtrip relationally: a lossless CSV write/read of nation
    self-joined on its unique key."""
    import tempfile

    from .operators.joins import join_reference_style
    from .sources.io import read_positional_csv, write_table

    (nation,) = _load(spark, sf_dir, "nation")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_csv_roundtrip")
    write_table(nation.select("n_nationkey", "n_name", "n_regionkey"),
                path, fmt="csv")
    t = read_positional_csv(spark, path, n_cols=3)
    return join_reference_style(t, t, 0, 0, strategy="repartition")


_NATION_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


@register("source_json_roundtrip", _NATION_SQL)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON source/sink (absent in the reference, SURVEY §2.1): write
    nation as JSON lines, read back with the explicit schema (schema
    inference is an extra scan — never at 100 TB), compare against the
    table itself."""
    import tempfile

    from .sources.io import write_table

    (nation,) = _load(spark, sf_dir, "nation")
    proj = nation.select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_json_roundtrip")
    write_table(proj, path, fmt="json")
    return spark.read.schema(proj.schema).json(path)


@register("source_orc_roundtrip", _NATION_SQL)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink (columnar alternative to parquet; absent in the
    reference): same roundtrip as JSON."""
    import tempfile

    from .sources.io import write_table

    (nation,) = _load(spark, sf_dir, "nation")
    proj = nation.select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_orc_roundtrip")
    write_table(proj, path, fmt="orc")
    return spark.read.orc(path)


@register("source_avro_roundtrip", _NATION_SQL)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink — the last of SURVEY §2.1's free-in-Spark
    formats (row-oriented, the classic Kafka/ingest interchange).
    Avro has been built-in-but-external since Spark 2.4: the short
    ``format("avro")`` name only resolves where the spark-avro module
    jar registers it, and this pyspark build ships the implementation
    classes without that service entry — so ``sources/io.AVRO_FORMAT``
    names the FileFormat class directly, which works on BOTH layouts
    (``has_avro_datasource`` probes the class). Same explicit-schema
    roundtrip contract as the JSON/ORC twins."""
    import tempfile

    from .sources.io import avro_roundtrip, has_avro_datasource

    if not has_avro_datasource(spark):
        raise RuntimeError(
            "Avro implementation classes absent from this Spark "
            "distribution — deploy spark-avro_2.13 "
            "(sources/io.has_avro_datasource)"
        )
    (nation,) = _load(spark, sf_dir, "nation")
    proj = nation.select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_avro_roundtrip")
    return avro_roundtrip(spark, proj, path)


@register("source_xml_roundtrip", _NATION_SQL)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink — built-in since Spark 4.0 (SPARK-44265 folded
    the external spark-xml package into core), completing the
    text-format family alongside CSV/JSON: rowTag-delimited records,
    explicit-schema read (inference would both rescan and widen ints
    to long). Same roundtrip contract as the JSON/ORC/Avro twins."""
    import tempfile

    from .sources.io import xml_roundtrip

    (nation,) = _load(spark, sf_dir, "nation")
    proj = nation.select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_xml_roundtrip")
    return xml_roundtrip(spark, proj, path)


@register(
    "source_schema_evolution",
    """
    SELECT n_nationkey, n_regionkey, CAST(NULL AS VARCHAR) AS n_name,
           'v1' AS vintage
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_regionkey, n_name, 'v2' AS vintage FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across data vintages — at 100 TB a dataset is
    written over years and columns appear mid-history. Stage the same
    table under two partition directories with DIFFERENT schemas (v1
    lacks ``n_name``), then one ``mergeSchema`` read unifies them:
    missing columns surface as NULL, the ``vintage=`` directory name
    becomes a discovered partition column, and per-file footers keep
    column pruning/pushdown working on the columns each file has.
    The oracle replays the union-by-name relationally."""
    import tempfile

    (nation,) = _load(spark, sf_dir, "nation")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_schema_evolution")
    nation.select("n_nationkey", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "vintage=v1"))
    nation.select("n_nationkey", "n_regionkey", "n_name").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "vintage=v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.select("n_nationkey", "n_regionkey", "n_name", "vintage")


def _generator_uniform_oracle(n_rows: int, unique: int, seed: int) -> str:
    """Full value-hash oracle for G1: replays ``k = i % N`` and the
    md5-hex pool pick over the identical literal pools (attr_pools is
    deterministic in the seed), row for row."""
    from .generator import POOL_SIZE, attr_pools

    attr_sql = []
    for idx, pool in enumerate(attr_pools(seed)):
        lits = ", ".join("'" + s + "'" for s in pool)  # alphanumeric pool
        pick = (
            f"(('0x' || substr(md5(CAST(id AS VARCHAR) || ':{idx}:{seed}'),"
            f" 1, 8))::BIGINT % {POOL_SIZE})"
        )
        attr_sql.append(f"([{lits}])[{pick} + 1] AS a{idx + 1}")
    cols = ",\n           ".join(attr_sql)
    return f"""
    SELECT id % {unique} AS k,
           {cols}
    FROM range({n_rows}) t(id)
    """


@register("generator_uniform", _generator_uniform_oracle(10000, 1000, seed=42))
def generator_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 uniform pair, value-hash-checked: key = i % N and all three
    pool-picked attribute strings must match the oracle's replay of the
    same md5 arithmetic over the same literal pools."""
    from .generator import generate_uniform_pair

    t1, _ = generate_uniform_pair(spark, 10000, 1000, seed=42)
    return t1


def _generator_zipf_hist_oracle(n_rows: int, unique: int, s: float) -> str:
    """Histogram-level oracle for G2: the fact keys are a DETERMINISTIC
    inverse-CDF over the equi-spaced grid i/n_rows (no RNG), so the
    expected per-key histogram is computable at registration time with
    the same vectorized float64 Newton iteration the executors run —
    embedded here as literals. Verifies the key distribution exactly;
    the Newton iteration itself is not SQL-expressible."""
    import numpy as np

    from .generator import zipf_inverse_cdf

    keys = zipf_inverse_cdf(
        np.arange(n_rows, dtype=np.float64) / float(n_rows), s, float(unique)
    )
    keys = keys[(keys >= 0) & (keys < unique)]  # dim holds 0..N-1
    vals, counts = np.unique(keys, return_counts=True)
    rows = ", ".join(
        f"({int(v)}, {int(c)})" for v, c in zip(vals, counts)
    )
    return f"""
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n
    FROM (VALUES {rows}) t(k, n)
    """


@register(
    "generator_zipf_pair_join",
    _generator_zipf_hist_oracle(20000, 2000, s=0.8),
)
def generator_zipf_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 + the reference's core workload: dim ⋈ zipf-fact, per-key
    counts — B1's data-then-join loop (JoinSimulation.java:87-228) as
    one lazy plan. The oracle pins the exact key histogram of the
    deterministic inverse-CDF grid."""
    from pyspark.sql import functions as F

    from .generator import generate_zipf_pair
    from .operators.joins import equi_join

    dim, fact = generate_zipf_pair(spark, 20000, 2000, s=0.8, seed=42)
    j = equi_join(fact, dim.select(F.col("k").alias("dk")), "k", "dk",
                  "inner", "broadcast")
    return j.groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy(F.desc("n"))


@register(
    "projection_key_extract",
    """
    SELECT l_orderkey AS k,
           CONCAT(CAST(l_orderkey AS VARCHAR), ',', CAST(l_partkey AS VARCHAR),
                  ',', CAST(l_linenumber AS VARCHAR)) AS row_str
    FROM lineitem
    """,
)
def projection_key_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — key extraction: project column i as key, keep the row as a
    delimited string (KeyExtractor.java:20-26)."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.select(
        F.col("l_orderkey").alias("k"),
        F.concat_ws(
            ",",
            F.col("l_orderkey").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("row_str"),
    )


@register(
    "events_funnel",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts::TIMESTAMP) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
          AND e.ts::TIMESTAMP <= s1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
          AND e.ts::TIMESTAMP <= s2.t2 + INTERVAL 7 DAY
        GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 'view>click', COUNT(*) FROM s2
    UNION ALL
    SELECT 'view>click>purchase', COUNT(*) FROM s3
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase, each stage
    each within 7 days of the previous stage): per-stage
    earliest-qualifying-time
    aggregates chained by join — the set-based decorrelation of the
    classic sequential-pattern query. Every stage shuffles on user_id,
    so at scale the chain reuses one partitioning."""
    from pyspark.sql import functions as F

    (events,) = _load(spark, sf_dir, "events")
    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("view").alias("stage"), "n_users")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit("view>click").alias("stage"), "n_users")
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit("view>click>purchase").alias("stage"), "n_users")
        )
    )


@register(
    "stats_analyze_table",
    """
    SELECT 'l_quantity' AS col, COUNT(*) AS n_rows,
           COUNT(DISTINCT l_quantity) AS ndv,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           CAST(MIN(l_quantity) AS DOUBLE) AS vmin,
           CAST(MAX(l_quantity) AS DOUBLE) AS vmax
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(DISTINCT l_discount),
           COUNT(*) - COUNT(l_discount),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', COUNT(*), COUNT(DISTINCT l_partkey),
           COUNT(*) - COUNT(l_partkey),
           CAST(MIN(l_partkey) AS DOUBLE), CAST(MAX(l_partkey) AS DOUBLE)
    FROM lineitem
    """,
)
def stats_analyze_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (row count, exact NDV, null
    count, min/max) for several columns in ONE aggregation pass —
    the primitive that feeds a cost-based optimizer / the advisor's
    size-and-skew decisions. Spark plans multi-distinct aggregates via
    Expand (one shuffle); the unpivot to (col, stats) rows is free."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_partkey"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.countDistinct(c).alias(f"ndv_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"),
            F.min(F.col(c).cast("double")).alias(f"min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"max_{c}"),
        ]
    one = lineitem.agg(*aggs)
    return one.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col("n_rows").alias("n_rows"),
                    F.col(f"ndv_{c}").alias("ndv"),
                    F.col(f"null_{c}").alias("n_null"),
                    F.col(f"min_{c}").alias("vmin"),
                    F.col(f"max_{c}").alias("vmax"),
                )
                for c in cols
            ])
        ).alias("s")
    ).select("s.col", "s.n_rows", "s.ndv", "s.n_null", "s.vmin", "s.vmax")


@register(
    "join_strategy_advisor",
    """
    SELECT 'orders' AS left_table, 'customer' AS right_table,
           'generous' AS budget, 'broadcast' AS strategy
    UNION ALL
    SELECT 'lineitem', 'orders', 'zero', 'repartition'
    """,
)
def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thesis Fig-6.11 decision tree (operators/joins.
    advise_strategy) applied to two scenarios CONSTRUCTED so the
    correct decision is invariant across scale factors — making the
    literal oracle a specification, not a snapshot: (a) a 512 MiB
    budget vs the customer table (≤ a few MiB at every test SF; any
    budget-respecting advisor must say broadcast), and (b) a zero
    budget (no side can ever fit; the tree's fallthrough must say
    repartition). The free-text reason (Catalyst byte estimates —
    engine introspection, data-dependent) is intentionally excluded
    from the checked projection; it remains covered by
    tests/test_joins.py."""
    from .operators.joins import advise_strategy

    customer, orders, lineitem = _load(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    rows = []
    for lname, ldf, rname, rdf, lk, rk, label, budget in [
        ("orders", orders, "customer", customer, "o_custkey", "c_custkey",
         "generous", 512 * 1024 * 1024),
        ("lineitem", lineitem, "orders", orders, "l_orderkey", "o_orderkey",
         "zero", 0),
    ]:
        strategy, _reason = advise_strategy(ldf, rdf, lk, rk,
                                            broadcast_budget_bytes=budget)
        rows.append((lname, rname, label, strategy))
    return _values_df(
        spark, rows, ["left_table", "right_table", "budget", "strategy"]
    )


@register(
    "join_band_large",
    """
    SELECT c.c_custkey, s.s_suppkey,
           ROUND(ABS(c.c_acctbal - s.s_acctbal), 2) AS bal_diff
    FROM customer c JOIN supplier s
      ON ABS(c.c_acctbal - s.s_acctbal) <= 5.0
    """,
)
def join_band_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-×-large band join (|c_acctbal − s_acctbal| ≤ 5) via the
    bucket-equi-join plan (operators/joins.band_join): both sides
    bucket by floor(x/width), left explodes to bucket±1, equi-join,
    exact filter. O(matching pairs) — the scale path for the theta
    joins the thesis only discusses; the nested-loop form
    (join_range_bands) is for when one side broadcasts."""
    from pyspark.sql import functions as F

    from .operators.joins import band_join

    customer, supplier = _load(spark, sf_dir, "customer", "supplier")
    j = band_join(
        customer.select("c_custkey", "c_acctbal"),
        supplier.select("s_suppkey", "s_acctbal"),
        "c_acctbal",
        "s_acctbal",
        5.0,
    )
    return j.select(
        "c_custkey", "s_suppkey",
        F.round(F.abs(F.col("c_acctbal") - F.col("s_acctbal")), 2).alias("bal_diff"),
    )


@register(
    "join_interval_multitier",
    """
    WITH iv AS (
      SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
             epoch_us(l_shipdate) // 86400000000 AS lo,
             epoch_us(l_shipdate) // 86400000000
               + (CAST(l_quantity AS BIGINT) % 10 + 1)
                 * (CASE WHEN l_suppkey % 50 = 0 THEN 20 ELSE 1 END) AS hi
      FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 10 = 0
    ),
    pt AS (
      SELECT o_orderkey, epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS x
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT iv.l_orderkey, iv.l_linenumber, pt.o_orderkey,
           pt.x AS order_day, iv.lo AS ship_day,
           iv.hi - iv.lo AS width_days
    FROM iv JOIN pt ON iv.lo < pt.x AND pt.x < iv.hi
    """,
)
def join_interval_multitier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-×-large TWO-SIDED inequality join (IEJoin-class, thesis
    ch. 5.4 discussed-only): every 'R'-flag shipment opens a validity
    interval of a VARIABLE width (1–10 days for most lines, 20–200 for
    the suppkey%50 slice — deliberately spanning orders of magnitude so
    no single bucket width works), and each urgent order's date probes
    ``lo < x < hi`` with BOTH relations sf-scaled. Plan =
    operators/joins.interval_join: intervals bucket into the smallest
    power-of-2 cell tier covering their width (≤ 2 cells each), points
    explode onto the occurring-tier literal list, one EQUI-join on
    (tier, cell), exact filter — no BroadcastNestedLoopJoin, no
    CartesianProduct, O(candidates) shuffled rows. DuckDB's optimizer
    plans the same predicate natively as its IEJoin. Day numbers via
    integer epoch-µs division — both engines derive identical BIGINTs."""
    from pyspark.sql import functions as F

    from .operators.joins import interval_join

    lineitem, orders = _load(spark, sf_dir, "lineitem", "orders")
    day = F.expr("unix_micros(l_shipdate) DIV 86400000000")
    width = (
        (F.col("l_quantity").cast("bigint") % 10 + 1)
        * F.when(F.col("l_suppkey") % 50 == 0, 20).otherwise(1)
    ).cast("bigint")
    iv = lineitem.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_partkey") % 10 == 0)
    ).select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        day.alias("lo"),
        (day + width).alias("hi"),
    )
    pt = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("x"),
    )
    j = interval_join(iv, pt, "lo", "hi", "x", base_cell=4)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "o_orderkey",
        F.col("x").alias("order_day"),
        F.col("lo").alias("ship_day"),
        (F.col("hi") - F.col("lo")).alias("width_days"),
    )


@register(
    "join_interval_overlap",
    """
    WITH a AS (
      SELECT l_orderkey AS okey_a, CAST(l_linenumber AS INT) AS line_a,
             epoch_us(l_shipdate) // 86400000000 AS lo_a,
             epoch_us(l_shipdate) // 86400000000
               + (CAST(l_quantity AS BIGINT) % 10 + 1)
                 * (CASE WHEN l_suppkey % 50 = 0 THEN 20 ELSE 1 END) AS hi_a
      FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 10 = 0
    ),
    b AS (
      SELECT l_orderkey AS okey_b, CAST(l_linenumber AS INT) AS line_b,
             epoch_us(l_shipdate) // 86400000000 AS lo_b,
             epoch_us(l_shipdate) // 86400000000
               + CAST(l_quantity AS BIGINT) % 7 + 2 AS hi_b
      FROM lineitem WHERE l_returnflag = 'A' AND l_partkey % 10 = 5
    )
    SELECT okey_a, line_a, okey_b, line_b,
           LEAST(hi_a, hi_b) - GREATEST(lo_a, lo_b) AS overlap_days
    FROM a JOIN b ON lo_a < hi_b AND lo_b < hi_a
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-×-large interval OVERLAP join (opposite-direction
    inequalities, both sides sf-scaled, variable widths on BOTH sides
    — the 'R' slice mixes 1–10 and 20–200 day windows, the 'A' slice
    2–8 days). Plan = operators/joins.interval_overlap_join: per-side
    tier assignment, replication into covered cells of every occurring
    tier ≥ own (≤ 2 cells each), ONE (tier, cell) equi-join, id-pair
    distinct, exact predicate — no BNLJ/CartesianProduct. DuckDB plans
    its native IEJoin for the same predicate. ~1.9 M overlapping pairs
    at sf0.1."""
    from pyspark.sql import functions as F

    from .operators.joins import interval_overlap_join

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    day = F.expr("unix_micros(l_shipdate) DIV 86400000000")
    w_a = (
        (F.col("l_quantity").cast("bigint") % 10 + 1)
        * F.when(F.col("l_suppkey") % 50 == 0, 20).otherwise(1)
    ).cast("bigint")
    a = lineitem.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_partkey") % 10 == 0)
    ).select(
        F.col("l_orderkey").alias("okey_a"),
        F.col("l_linenumber").cast("int").alias("line_a"),
        day.alias("lo_a"),
        (day + w_a).alias("hi_a"),
    )
    w_b = (F.col("l_quantity").cast("bigint") % 7 + 2).cast("bigint")
    b = lineitem.filter(
        (F.col("l_returnflag") == "A") & (F.col("l_partkey") % 10 == 5)
    ).select(
        F.col("l_orderkey").alias("okey_b"),
        F.col("l_linenumber").cast("int").alias("line_b"),
        day.alias("lo_b"),
        (day + w_b).alias("hi_b"),
    )
    j = interval_overlap_join(a, b, "lo_a", "hi_a", "lo_b", "hi_b",
                              base_cell=4)
    return j.select(
        "okey_a", "line_a", "okey_b", "line_b",
        (F.least("hi_a", "hi_b") - F.greatest("lo_a", "lo_b"))
        .alias("overlap_days"),
    )


@register(
    "join_dominance_count",
    """
    WITH t AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS x,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT a.o_orderkey, a.x, a.y,
           CAST(COUNT(b.o_orderkey) AS BIGINT) AS n_dominated
    FROM t a LEFT JOIN t b ON b.x > a.x AND b.y < a.y
    GROUP BY a.o_orderkey, a.x, a.y
    """,
)
def join_dominance_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General two-sided IEJoin AGGREGATE (thesis ch. 5.4's discussed
    class, beyond interval predicates): per urgent order, the exact
    number of LATER orders with a LOWER total price — ``b.x > a.x AND
    b.y < a.y`` over one sf-scaled relation, where materialized pairs
    would be ~5.6 G at sf0.1. Plan = operators/joins.dominance_count:
    exact-day x-cells (the x-strip vanishes under strict >), dense
    day × price-bucket grid folded by two incremental window passes,
    one same-bucket strip join bounded by N²/K — O(N·√days) total,
    engine-exact integer counts. The DuckDB oracle runs its native
    IEJoin over the same predicate."""
    from pyspark.sql import functions as F

    from .operators.joins import dominance_count

    (orders,) = _load(spark, sf_dir, "orders")
    t = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return dominance_count(t, "x", "y", "o_orderkey")


@register(
    "join_theta_iejoin",
    """
    WITH t AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey % 15 = 0
    )
    SELECT a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
           CAST(b.day - a.day AS BIGINT) AS day_gap
    FROM t a JOIN t b ON a.day < b.day AND a.cents > b.cents
    """,
)
def join_theta_iejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEJoin-style theta PAIR join (round-8 verdict directive #6 —
    the last thesis-discussed-but-unimplemented item, ch. 5.4 /
    "Further Work" ch. 7): every pair of urgent orders from the
    sampled customer slice where the EARLIER order carries the HIGHER
    total price — ``a.day < b.day AND a.cents > b.cents``, two strict
    inequalities in opposite directions, the canonical IEJoin shape.
    The pair form of ``join_dominance_count``'s aggregate. Plan =
    operators/joins.iejoin_pairs: shared 2-D integer grid, left
    replicated to its candidate cells, ONE (cx, cy) equi-join — no
    BroadcastNestedLoopJoin/CartesianProduct (pinned in
    test_plan_quality) — exact predicate on the boundary cells. The
    DuckDB oracle plans its native IEJoin over the same predicate."""
    from pyspark.sql import functions as F

    from .operators.joins import iejoin_pairs

    (orders,) = _load(spark, sf_dir, "orders")
    t = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_custkey") % 15 == 0)
    )
    day = F.expr("unix_micros(o_orderdate) DIV 86400000000")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = t.select(F.col("o_orderkey").alias("okey_a"),
                 day.alias("day_a"), cents.alias("cents_a"))
    b = t.select(F.col("o_orderkey").alias("okey_b"),
                 day.alias("day_b"), cents.alias("cents_b"))
    return iejoin_pairs(
        a, b, "day_a", "day_b", "cents_a", "cents_b"
    ).select(
        "okey_a", "okey_b",
        (F.col("day_b") - F.col("day_a")).cast("bigint").alias("day_gap"),
    )


@register(
    "join_theta_iejoin_quantile",
    """
    WITH t AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey % 15 = 0
    )
    SELECT a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
           CAST(b.day - a.day AS BIGINT) AS day_gap
    FROM t a JOIN t b ON a.day < b.day AND a.cents > b.cents
    """,
)
def join_theta_iejoin_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same IEJoin pair query through the QUANTILE-edge grid
    (round 9): bucket boundaries from per-axis union approxQuantile
    instead of the uniform [min, max] split — the clustered-domain
    upgrade path (operators/joins.iejoin_pairs, edges="quantile").
    Any monotone non-decreasing bucketing preserves the candidate-cell
    containment and exactly-once guarantees, so this key must produce
    the IDENTICAL pair set under the same DuckDB oracle as
    ``join_theta_iejoin`` — the driver's hash check proves the mode
    equivalence end-to-end, complementing the unit parity test
    (tests/test_joins.py::test_iejoin_pairs_quantile_edges...)."""
    from pyspark.sql import functions as F

    from .operators.joins import iejoin_pairs

    (orders,) = _load(spark, sf_dir, "orders")
    t = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_custkey") % 15 == 0)
    )
    day = F.expr("unix_micros(o_orderdate) DIV 86400000000")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = t.select(F.col("o_orderkey").alias("okey_a"),
                 day.alias("day_a"), cents.alias("cents_a"))
    b = t.select(F.col("o_orderkey").alias("okey_b"),
                 day.alias("day_b"), cents.alias("cents_b"))
    return iejoin_pairs(
        a, b, "day_a", "day_b", "cents_a", "cents_b", edges="quantile"
    ).select(
        "okey_a", "okey_b",
        (F.col("day_b") - F.col("day_a")).cast("bigint").alias("day_gap"),
    )


@register(
    "join_fuzzy_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
         t AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) string similarity join with blocking —
    the string-key analog of the near-dup family: dedupe to the
    distinct-name dictionary first (at 100 TB the dictionary is tiny
    next to the table; map results back by equi-join), block on the
    last token so candidate pairs are per-block quadratic instead of
    global, then filter by levenshtein ≤ 4. Entirely JVM-side."""
    from pyspark.sql import functions as F

    (part,) = _load(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    t = names.withColumn("blk", F.element_at(F.split("p_name", " "), 2))
    a = t.select(F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"))
    b = t.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    pairs = a.join(
        b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b"))
    )
    dist = F.levenshtein("name_a", "name_b")
    return pairs.filter(dist <= 4).select(
        "name_a", "name_b", dist.cast("int").alias("edit_dist")
    )


@register(
    "agg_exact_quantiles",
    """
    SELECT l_returnflag,
           ROUND(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25)
                 AS DOUBLE), 4) AS p25,
           ROUND(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
                 AS DOUBLE), 4) AS p50,
           ROUND(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75)
                 AS DOUBLE), 4) AS p75,
           ROUND(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95)
                 AS DOUBLE), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped quantiles (continuous interpolation) — the
    companion to agg_approx_sketches' rows-only approx percentiles:
    exact percentile is SQL-expressible on both engines, so this one
    value-hash-checks. Spark's percentile aggregate sorts per group;
    at scale prefer the approx form unless exactness is contractual."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    pct = lambda q: F.round(  # noqa: E731
        F.percentile("l_extendedprice", F.lit(q)), 4
    )
    return lineitem.groupBy("l_returnflag").agg(
        pct(0.25).alias("p25"),
        pct(0.5).alias("p50"),
        pct(0.75).alias("p75"),
        pct(0.95).alias("p95"),
    )


@register(
    "layout_zorder_roundtrip",
    "SELECT event_id, user_id, value FROM events",
)
def layout_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write (sources/layout.py) round-trip: events
    clustered on (user_id, value) then read back — layout is a storage
    property, so the relation must be byte-identical to the plain
    projection (the oracle). Span-narrowing itself is asserted in
    test_zorder_layout."""
    import tempfile

    from .sources.layout import write_zordered

    (events,) = _load(spark, sf_dir, "events")
    proj = events.select("event_id", "user_id", "value")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_zorder_roundtrip")
    write_zordered(proj, path, ["user_id", "value"], num_files=8)
    return spark.read.parquet(path)


@register(
    "layout_partitioned_dpp",
    """
    SELECT o_orderkey, o_totalprice, 'finished' AS status_desc
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def layout_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: orders written
    hive-partitioned on o_orderstatus, then joined to a tiny status
    dimension whose filter sits on a NON-join column (is_closed) so
    Catalyst cannot constant-fold the partition predicate — it must
    instead inject ``dynamicpruningexpression`` into the fact scan's
    PartitionFilters at runtime (asserted in
    tests/test_partition_pruning.py). At 100 TB this is the feature
    that turns a date-dim filter into "read 1 day, not 7 years" with
    no query rewrite. The oracle replays the surviving predicate
    relationally (the partitioned roundtrip is lossless)."""
    import tempfile

    from pyspark.sql import functions as F

    (orders,) = _load(spark, sf_dir, "orders")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_dpp_orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    dim = _values_df(
        spark,
        [("F", "finished", 1), ("O", "open", 0), ("P", "pending", 0)],
        ["status", "status_desc", "is_closed"],
    ).filter("is_closed = 1")
    return fact.join(
        # bounded: distinct order-status dim (constant few values)
        F.broadcast(dim), fact["o_orderstatus"] == dim["status"]
    ).select("o_orderkey", "o_totalprice", "status_desc")


@register(
    "layout_compaction",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction roundtrip: orders fragmented into 64 tiny
    files, then rewritten through ONE REBALANCE-hinted exchange so AQE
    coalesces partitions to the advisory size
    (sources/layout.compact_files) — the operational fix for the
    small-files problem a streaming-fed 100 TB table accretes.
    Compaction is a storage property, so the relation must be exactly
    the plain projection (the oracle); the file-count collapse itself
    is asserted in tests/test_zorder_layout.py."""
    import tempfile

    from .sources.layout import compact_files

    (orders,) = _load(spark, sf_dir, "orders")
    proj = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_compaction")
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    proj.repartition(64).write.mode("overwrite").parquet(small)
    compact_files(
        spark.read.parquet(small), compacted,
        target_file_bytes=64 * 1024 * 1024,
    )
    return spark.read.parquet(compacted)


# --------------------------------------------------------------------------
# CDC / incremental maintenance (operators/cdc.py) — how a 100 TB corpus
# is maintained rather than rebuilt.
# --------------------------------------------------------------------------


@register(
    "cdc_merge_upsert",
    """
    WITH updates AS (
        SELECT c_custkey, 'UPD:' || c_name AS c_name, c_nationkey,
               c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW:' || c_name, c_nationkey,
               0.0 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT CASE WHEN u.c_custkey IS NOT NULL THEN u.c_custkey
                ELSE b.c_custkey END AS c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                ELSE b.c_name END AS c_name,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey
                ELSE b.c_nationkey END AS c_nationkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                ELSE b.c_acctbal END AS c_acctbal,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                ELSE b.c_mktsegment END AS c_mktsegment
    FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert of a deterministic update batch (every 7th
    customer gets a marked name + adjusted balance; every 97th spawns
    a new row) into the customer base: full-outer join, matched rows
    taking the update row wholesale (NULLs included — not per-column
    COALESCE). The result IS the maintained table."""
    from pyspark.sql import functions as F

    from .operators.cdc import merge_upsert

    (customer,) = _load(spark, sf_dir, "customer")
    changed = customer.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPD:"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserted = customer.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW:"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    return merge_upsert(customer, changed.unionByName(inserted), "c_custkey")


@register(
    "cdc_latest_per_key",
    """
    SELECT user_id, event_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts::TIMESTAMP DESC, event_id DESC
    ) = 1
    """,
)
def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: the newest event per user (µs-truncated
    timestamp on both engines; event_id breaks exact ties so the
    survivor is deterministic)."""
    from .operators.cdc import latest_per_key

    (events,) = _load(spark, sf_dir, "events")
    return latest_per_key(events, "user_id", "ts", tiebreak="event_id").select(
        "user_id", "event_id", "event_type", "value"
    )


@register(
    "events_stream_upsert",
    """
    SELECT user_id, event_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts::TIMESTAMP DESC, event_id DESC
    ) = 1
    """,
)
def events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental upsert: the events table chunked into 3
    micro-batches, foreachBatch-compacted into a snapshot-versioned
    latest-state table (streaming/events.incremental_upsert_stream).
    The final snapshot must equal the batch compaction — so this
    STREAMING query carries a full relational oracle, the strongest
    check a streaming op can have."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from .streaming.events import incremental_upsert_stream, load_events_stream

    workdir = tempfile.mkdtemp(prefix="stream_upsert_")
    stage = _os.path.join(workdir, "chunks")
    _os.makedirs(stage)
    # the chunk-staging read happens before load_events_stream sets it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for i in range(3):
        out = _os.path.join(workdir, f"chunk{i}")
        (
            spark.read.parquet(_os.path.join(sf_dir, "events.parquet"))
            .filter(f"event_id % 3 = {i}")
            .coalesce(1)
            .write.parquet(out)
        )
        (part,) = _glob.glob(_os.path.join(out, "part-*.parquet"))
        shutil.copy(part, _os.path.join(stage, f"c{i}.parquet"))
    stream = load_events_stream(spark, stage, max_files_per_trigger=1)
    final = incremental_upsert_stream(
        stream,
        _os.path.join(workdir, "state"),
        key="user_id",
        version_col="ts",
        tiebreak="event_id",
        checkpoint_dir=_os.path.join(workdir, "ckpt"),
    )
    return final.select("user_id", "event_id", "event_type", "value")


# --------------------------------------------------------------------------
# Round-3 scale extensions: semantic dedup (SemDeDup), long-n-gram
# containment, boilerplate detection, classifier scoring, SCD2 history,
# embedding topic tagging. Same oracle conventions as the families
# above (seeded literals replayed, md5-portable hashing, integer-exact
# folds where float summation order could diverge).
# --------------------------------------------------------------------------


def _semdedup_oracle(
    cents: list[list[float]], tau: float,
    target: int = 32, floor: int = 16,
) -> str:
    """Replays SemDeDup relationally: top-1 cell per vector (dot DESC,
    cell-index tiebreak — identical to _nearest_cells_expr), within-cell
    pairs at ROUNDED cosine ≥ tau (thresholding on the rounded value
    keeps borderline pairs ulp-stable across engines), dropped = higher
    id, keeper = smallest qualifying lower id.

    The cell count is CORPUS-SIZED on both engines
    (dedup.auto_semdedup_cells ↔ LEAST/GREATEST/CEIL here); ``cents``
    is the cap-tier pool and each tier uses its prefix (cell index <
    derived count)."""
    cap = len(cents)
    cells = ", ".join(f"({i}, {_vec_sql(c)})" for i, c in enumerate(cents))
    return f"""
    WITH pool(cell, cvec) AS (VALUES {cells}),
    sel AS (
      SELECT LEAST({cap}, GREATEST({floor},
               CEIL(COUNT(*) / {target}.0)))::INT AS n_cells
      FROM embeddings),
    cells AS (SELECT cell, cvec FROM pool, sel WHERE pool.cell < sel.n_cells),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ca AS (
      SELECT vec_id, v, cell FROM (
        SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY list_dot_product(v, cvec) DESC, cell) AS rn
        FROM corpus CROSS JOIN cells) WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cell,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    hits AS (SELECT * FROM pairs WHERE cosine >= {tau}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
      FROM hits)
    SELECT id_b AS vec_id, CAST(cell AS INT) AS cell, id_a AS dup_of, cosine
    FROM ranked WHERE rn = 1
    """


# cap-tier centroid pool: seed/prefix-compatible with _IVF_CENTROIDS
# (randn is row-major, so pool[:16] == _IVF_CENTROIDS exactly)
_SEMDEDUP_POOL = _seeded_unit_vectors(64, 64, seed=7)


@register("dedup_semdedup_cells", _semdedup_oracle(_SEMDEDUP_POOL, 0.4))
def dedup_semdedup_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. '23) semantic dedup: nearest-centroid
    cells, near-dup search only WITHIN a cell — candidates ≈ Σ|cell|²,
    never N². The cell count is CORPUS-SIZED (``auto_semdedup_cells``:
    n_cells ≈ N/32 clamped to [16, 64] — 16 at the 500-row corpora, 63
    at sf0.1's 2000 rows, so per-cell population and with it the
    candidate count per row stays ~constant as the corpus scales; the
    seeded pool's prefix property makes every tier oracle-replayable).
    τ=0.4 is data-informed for this synthetic corpus (random 64-d
    embeddings top out at cosine ≈0.51; real near-dup embeddings use
    τ≈0.95 — the threshold is a knob, the plan shape is the point).
    Drop rule: keep the lowest id of each qualifying pair."""
    from .operators.dedup import semdedup_dropped

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    return semdedup_dropped(embeddings, _SEMDEDUP_POOL, tau=0.4)


_SUBSTR_K, _SUBSTR_MAX_DF, _SUBSTR_MIN_SHARED = 8, 16, 2

_SUBSTRING_CONTAINMENT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {_SUBSTR_K}
                THEN list_transform(range(1, len(toks) - {_SUBSTR_K} + 2),
                       i -> array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM t
),
h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hh FROM sh),
dfreq AS (SELECT hh, count(*) AS df FROM h GROUP BY hh),
ok AS (SELECT h.doc_id, h.hh FROM h JOIN dfreq USING (hh)
       WHERE df <= {_SUBSTR_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM h GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM ok a JOIN ok b ON a.hh = b.hh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {_SUBSTR_MIN_SHARED})
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_ngrams,
       shared / s.n_shingles AS containment
FROM pairs JOIN sizes s ON s.doc_id = doc_a
"""


@register("dedup_substring_containment", _SUBSTRING_CONTAINMENT_ORACLE)
def dedup_substring_containment_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Long-n-gram containment pairs — the bucketed relational analog
    of exact-substring dedup (Lee et al. '22 suffix arrays): two docs
    share a duplicated passage iff they share an 8-token shingle.
    Hot shingles (df > 16) are dropped BEFORE the pair join — they are
    boilerplate, not passage evidence, and they are the skew bombs
    that would otherwise make a bucket quadratic. Containment
    |A∩B|/|A| is asymmetric: it catches B quoting a passage of a
    small A undiluted (Jaccard would wash it out)."""
    from .operators.dedup import substring_containment_pairs

    (documents,) = _load(spark, sf_dir, "documents")
    return substring_containment_pairs(
        documents, k=_SUBSTR_K, max_df=_SUBSTR_MAX_DF,
        min_shared=_SUBSTR_MIN_SHARED,
    )


_BOILER_K, _BOILER_MIN_DOCS = 4, 3

_BOILERPLATE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {_BOILER_K}
                THEN list_transform(range(1, len(toks) - {_BOILER_K} + 2),
                       i -> array_to_string(toks[i:i+{_BOILER_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM t
),
h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hh FROM sh),
dfreq AS (SELECT hh, count(DISTINCT doc_id) AS df FROM h GROUP BY hh)
SELECT h.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
       sum(CASE WHEN df >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
             / count(*) AS boilerplate_ratio
FROM h JOIN dfreq USING (hh)
GROUP BY h.doc_id
"""


@register("text_boilerplate_ngrams", _BOILERPLATE_ORACLE)
def text_boilerplate_ngrams_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-frequency boilerplate detection — the n-gram analog of
    CCNet/RefinedWeb line-level dedup (this corpus has no line
    structure): a 4-token shingle in ≥ 3 distinct docs is boilerplate;
    per-doc output is the duplicated-content fraction a quality gate
    thresholds on. Two bounded-key shuffles, no pair join at all."""
    from .operators.text import boilerplate_stats

    (documents,) = _load(spark, sf_dir, "documents")
    return boilerplate_stats(
        documents, k=_BOILER_K, min_docs=_BOILER_MIN_DOCS
    )


_CLASSIFIER_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(toks,
           x -> ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096)
                 * 2654435761) % 2001 - 1000)) AS BIGINT) AS margin
  FROM t
)
SELECT doc_id, n_tokens,
       margin / (n_tokens * 1000.0) AS score,
       margin >= 0 AS keep
FROM m
"""


@register("text_quality_classifier", _CLASSIFIER_ORACLE)
def text_quality_classifier_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashing-trick linear classifier scoring (fastText-style quality
    filter): token → md5 bucket → frozen Knuth-hash weight in integer
    MILLI-units, folded per doc JVM-side. The integer fold makes the
    margin EXACT (no float summation order to disagree on); one final
    division yields the identical double in any engine. A trained
    model swaps the weight formula for a broadcast bucket→weight
    lookup with the same narrow, shuffle-free plan."""
    from .operators.text import classifier_score

    (documents,) = _load(spark, sf_dir, "documents")
    return classifier_score(documents)


_SCD2_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us, event_id
  FROM events
),
ch AS (
  -- NULL-safe run compression, mirroring operators.cdc.scd2_history:
  -- first row via lag-of-literal (prev IS NULL would conflate it with
  -- a genuinely-NULL previous attr), change via IS DISTINCT FROM
  SELECT user_id, event_type, us, event_id FROM (
    SELECT *, lag(event_type) OVER w AS prev,
           lag(1) OVER w IS NULL AS is_first
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
  WHERE is_first OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type, us AS valid_from_us,
       lead(us) OVER w AS valid_to_us,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(us) OVER w IS NULL) AS is_current
FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@register("cdc_scd2_history", _SCD2_ORACLE)
def cdc_scd2_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from an append-only change log: per
    user, compress runs of consecutive identical event_type (lag),
    then emit validity intervals [valid_from, valid_to) with lead +
    a version counter. Both windows share one (key × time) sort —
    Spark plans a single exchange; intervals are output as epoch
    micros (BIGINT) so the check is tz-free."""
    from pyspark.sql import functions as F

    from .operators.cdc import scd2_history

    (events,) = _load(spark, sf_dir, "events")
    out = scd2_history(
        events, key="user_id", attr="event_type",
        version_col="ts", tiebreak="event_id",
    )
    return out.select(
        "user_id", "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "version", "is_current",
    )


@register(
    "cdc_scd2_pointintime",
    f"""
    WITH hist AS (SELECT * FROM ({_SCD2_ORACLE}) h),
    p AS (
      SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS probe_us
      FROM events WHERE event_type = 'error'
    )
    SELECT p.event_id, p.user_id, p.probe_us,
           hist.event_type AS dim_event_type,
           hist.version, hist.valid_from_us
    FROM p JOIN hist ON p.user_id = hist.user_id
     AND p.probe_us >= hist.valid_from_us
     AND (hist.valid_to_us IS NULL OR p.probe_us < hist.valid_to_us)
    """,
)
def cdc_scd2_pointintime_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 history — the dimensional
    completion of ``cdc_scd2_history``: every error event picks up
    the dimension version valid AT ITS OWN timestamp (key equality +
    half-open interval containment, NULL-to = current). The equi-key
    drives the join strategy; the interval test is a post-join
    filter over the per-key version runs."""
    from pyspark.sql import functions as F

    from .operators.cdc import scd2_history, scd2_pointintime_join

    (events,) = _load(spark, sf_dir, "events")
    hist = scd2_history(
        events, key="user_id", attr="event_type",
        version_col="ts", tiebreak="event_id",
    ).select(
        "user_id",
        F.col("event_type").alias("dim_event_type"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "version",
    )
    probes = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("probe_us")
    )
    return scd2_pointintime_join(
        hist, probes, key="user_id", ts_col="probe_us"
    ).select(
        "event_id", "user_id", "probe_us",
        "dim_event_type", "version", "valid_from_us",
    )


_ANOMALY_WINDOW_US = 24 * 3600 * 1_000_000

_ANOMALY_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts::TIMESTAMP) AS us,
         CAST(ROUND(value * 1000) AS BIGINT) AS vm
  FROM events
),
w AS (
  SELECT *, SUM(vm) OVER win AS s1, SUM(vm * vm) OVER win AS s2,
         COUNT(*) OVER win AS n
  FROM e WINDOW win AS (
    PARTITION BY event_type ORDER BY us
    RANGE BETWEEN {_ANOMALY_WINDOW_US} PRECEDING AND CURRENT ROW)
),
z AS (
  SELECT event_id, event_type, us AS ts_us, vm / 1000.0 AS value,
         ROUND((vm - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4)
           AS zscore,
         CAST(n AS BIGINT) AS n_window
  FROM w WHERE n >= 30 AND s2 / n - (s1 / n) * (s1 / n) > 0
)
SELECT * FROM z WHERE abs(zscore) >= 3.0
"""


@register("events_anomaly_zscore", _ANOMALY_ORACLE)
def events_anomaly_zscore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rolling anomaly detection: per event_type, each point
    scored against the trailing 24 h interval. Runs the BINNED
    two-level operator (exact per-bin Σv/Σv²/n + dense ROWS frame over
    bins + intra-bin prefix/suffix windows) — bit-identical to the
    direct RANGE-frame form (property-tested), but O(rows +
    bins × bins_per_window) and (series, bin)-parallel where the
    direct frame re-aggregates every row's frame inside one partition
    per series. Values quantize to integer milli-units so all window
    sums are exact int64 — mean/variance/z then derive from identical
    integers in both engines."""
    from .operators.timeseries import rolling_zscore_anomalies_binned

    (events,) = _load(spark, sf_dir, "events")
    return rolling_zscore_anomalies_binned(
        events, window_us=_ANOMALY_WINDOW_US
    )


@register("events_stream_anomaly", _ANOMALY_ORACLE)
def events_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING rolling anomaly detection: the events table staged as
    three TIME-ORDERED micro-batches (split on timestamp thresholds so
    equal instants never straddle a batch), then a custom stateful
    operator (applyInPandasWithState) keeps the trailing 24 h per
    event_type as exact integer arrays and scores each arriving event.
    The cumulative stream output must equal the batch RANGE-window
    query value-for-value — so this streaming query carries the SAME
    full relational oracle as events_anomaly_zscore, the strongest
    check a streaming op can have."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .streaming.events import (
        load_events_stream,
        rolling_anomaly_stateful,
        run_stream_to_memory,
    )

    (events,) = _load(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    workdir = tempfile.mkdtemp(prefix="stream_anomaly_")
    stage = _os.path.join(workdir, "chunks")
    _os.makedirs(stage)
    # chunk the NORMALIZED frame (load_table already unified the ts
    # physical type) on µs thresholds — equal instants can never
    # straddle a chunk, which the stateful tie-group logic requires.
    # Write µs timestamps: Spark's INT96 default reads back through
    # pyarrow as timestamp[ns] and trips the stream loader's ns branch.
    # Save/restore the session conf so the staging write doesn't leak
    # a different parquet physical type into later queries in the same
    # session (driver rotation / parity sweeps are order-sensitive).
    _TS_KEY = "spark.sql.parquet.outputTimestampType"
    try:
        prev_ts_type = spark.conf.get(_TS_KEY)
    except Exception:
        prev_ts_type = None
    spark.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
    try:
        bounds = [(lo, t1), (t1, t2), (t2, hi + 1)]
        for i, (a, b) in enumerate(bounds):
            out = _os.path.join(workdir, f"chunk{i}")
            (
                events.filter(
                    (F.unix_micros("ts") >= a) & (F.unix_micros("ts") < b)
                )
                .coalesce(1)
                .write.parquet(out)
            )
            (part,) = _glob.glob(_os.path.join(out, "part-*.parquet"))
            shutil.copy(part, _os.path.join(stage, f"c{i}.parquet"))
    finally:
        if prev_ts_type is None:
            spark.conf.unset(_TS_KEY)
        else:
            spark.conf.set(_TS_KEY, prev_ts_type)
    stream = load_events_stream(spark, stage, max_files_per_trigger=1)
    final = run_stream_to_memory(rolling_anomaly_stateful(stream))
    return final.select(
        "event_id", "event_type", "ts_us", "value", "zscore", "n_window"
    )


_BIGRAM_FLUENCY_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t
),
o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS pfx FROM occ),
bgc AS (SELECT bg, count(*) AS c_bg FROM o2 GROUP BY bg),
pfc AS (SELECT pfx, count(*) AS c_pfx FROM o2 GROUP BY pfx),
s AS (
  SELECT o2.doc_id, (c_bg * 1000) // c_pfx AS tm,
         CASE WHEN c_bg >= 2 THEN 1 ELSE 0 END AS known
  FROM o2 JOIN bgc USING (bg) JOIN pfc USING (pfx)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       SUM(tm) / (count(*) * 1000.0) AS fluency,
       SUM(known) / count(*) AS known_frac,
       (SUM(tm) / (count(*) * 1000.0) >= 0.05
        AND SUM(known) / count(*) >= 0.5) AS keep
FROM s GROUP BY doc_id
"""


@register("text_bigram_fluency", _BIGRAM_FLUENCY_ORACLE)
def text_bigram_fluency_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based LM fluency gate (deterministic relative of CCNet's
    perplexity filter): per-doc mean corpus transition frequency of
    its bigrams plus known-bigram fraction. Transition scores are
    integer milli-units via floor division, so per-doc sums are exact
    in any aggregation order — a float log-prob sum would drift.
    Explode → two counts → co-partitioned joins → per-doc re-agg;
    nothing pairwise in documents."""
    from .operators.text import bigram_fluency

    (documents,) = _load(spark, sf_dir, "documents")
    return bigram_fluency(documents)


def _topic_vectors() -> list[list[float]]:
    return _seeded_unit_vectors(8, 64, seed=11)


def _topic_tag_oracle(topics: list[list[float]]) -> str:
    rows = ", ".join(f"({i}, {_vec_sql(t)})" for i, t in enumerate(topics))
    return f"""
    WITH topics(topic, tvec) AS (VALUES {rows}),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT vec_id, topic,
             list_dot_product(v, tvec)
               / sqrt(list_dot_product(v, v)) AS cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY list_dot_product(v, tvec) DESC, topic) AS rn
      FROM corpus CROSS JOIN topics)
    SELECT a.vec_id, CAST(a.topic AS INT) AS topic,
           ROUND(a.cos, 6) AS score,
           ROUND(a.cos - b.cos, 6) AS margin
    FROM scored a JOIN scored b USING (vec_id)
    WHERE a.rn = 1 AND b.rn = 2
    """


@register("embedding_topic_tag", _topic_tag_oracle(_topic_vectors()))
def embedding_topic_tag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shot domain tagging: cosine of every embedding against 8
    fixed topic anchor vectors (seeded unit literals — stand-ins for
    encoded topic descriptions), argmax with index tiebreak, plus the
    top-1 − top-2 margin as tag confidence for mix planning. One
    narrow pass, zero shuffles — at 100 TB this is scan-bound."""
    from pyspark.sql import functions as F

    from .operators.similarity import _dot_sql, norm_expr

    topics = _topic_vectors()
    (embeddings,) = _load(spark, sf_dir, "embeddings")
    # one sorted struct array carries (−dot, topic) through the argmax,
    # so each of the 8 dots is computed exactly once per row
    structs = ", ".join(
        f"named_struct('neg', -({_dot_sql('v', t)}), 'topic', {i})"
        for i, t in enumerate(topics)
    )
    top2 = F.expr(f"slice(array_sort(array({structs})), 1, 2)")
    base = (
        embeddings.select("vec_id", F.col("embedding").alias("v"))
        .withColumn("nrm", norm_expr("v"))
        .withColumn("top2", top2)
    )
    # margin mirrors the oracle term-for-term: (d1/n) − (d2/n), NOT
    # (d1−d2)/n — the two float paths can differ in the last ulp
    cos1 = -F.col("top2")[0]["neg"] / F.col("nrm")
    cos2 = -F.col("top2")[1]["neg"] / F.col("nrm")
    return base.select(
        "vec_id",
        F.col("top2")[0]["topic"].cast("int").alias("topic"),
        F.round(cos1, 6).alias("score"),
        F.round(cos1 - cos2, 6).alias("margin"),
    )


_BOILER_REMOVAL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
psh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(toks) - {_BOILER_K} + 1, 1) + 1),
           i -> struct_pack(
             start := i,
             hh := ('0x' || substr(md5(
               array_to_string(toks[i:i+{_BOILER_K - 1}], ' ')), 1, 8)
             )::BIGINT))) AS u
  FROM t
),
p AS (SELECT doc_id, u.start AS start, u.hh AS hh FROM psh),
dfreq AS (
  SELECT hh, count(*) AS df
  FROM (SELECT DISTINCT doc_id, hh FROM p) GROUP BY hh
),
boiler AS (SELECT hh FROM dfreq WHERE df >= {_BOILER_MIN_DOCS}),
starts AS (
  SELECT doc_id, list_sort(list(start)) AS ss
  FROM p JOIN boiler USING (hh) GROUP BY doc_id
),
cov AS (
  SELECT t.doc_id, toks,
         -- covered-position set materialized FIRST (nested lambdas
         -- referencing the outer variable are unreliable — same fix
         -- as the Spark side), membership-tested second
         list_distinct(flatten(list_transform(COALESCE(ss, []),
           s -> range(s, least(s + {_BOILER_K - 1}, len(toks)) + 1))))
           AS covered
  FROM t LEFT JOIN starts USING (doc_id)
),
kept AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks) + 1),
           j -> NOT list_contains(covered, j)) AS ks
  FROM cov
)
SELECT doc_id,
       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws ''
       COALESCE(array_to_string(list_transform(ks, j -> toks[j]), ' '), '')
         AS clean_text,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(ks) AS BIGINT) AS n_removed
FROM kept
"""


@register("text_boilerplate_removal", _BOILER_REMOVAL_ORACLE)
def text_boilerplate_removal_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate REMOVAL — the rewrite stage after detection: every
    token covered by a corpus-frequent 4-shingle is cut and the doc
    re-concatenated, as pure JVM positional array surgery (posexplode
    start positions → broadcast-joined hash set → per-doc covered-
    position filter). Both engines block on the same 32-bit shingle
    hash so corpus-scale hash collisions replicate instead of
    diverging the document frequencies."""
    from .operators.text import remove_boilerplate

    (documents,) = _load(spark, sf_dir, "documents")
    return remove_boilerplate(
        documents, k=_BOILER_K, min_docs=_BOILER_MIN_DOCS
    )


@register(
    "source_csv_malformed",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey % 7 <> 0
    """,
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness (the operational upgrade over the
    reference's naive ``String.split(",")`` which crashes or silently
    mis-parses bad rows, RepartitionJoin.java:28): customer staged as
    headerless CSV with every 7th row deterministically corrupted (the
    key column replaced by a non-numeric token), read back under
    PERMISSIVE mode with an explicit schema + corrupt-record column —
    bad rows are captured, not fatal, and the clean rows pass through
    value-exact (doubles survive the text roundtrip via shortest-repr
    formatting). The oracle is simply the non-corrupted subset of the
    source table. At 100 TB this is the difference between a 3 am
    pipeline page and a quarantine bucket."""
    import tempfile

    from pyspark.sql import functions as F

    (customer,) = _load(spark, sf_dir, "customer")
    lines = customer.select(
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("BAD_"), F.col("c_custkey").cast("string"),
                     F.lit(","), F.col("c_name")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("c_custkey").cast("string"),
                F.col("c_name"),
                F.col("c_acctbal").cast("string"),
            )
        )
        .alias("value")
    )
    path = os.path.join(tempfile.gettempdir(), "spark_graft_csv_malformed")
    lines.write.mode("overwrite").text(path)
    # text scan + per-line from_csv: the quarantine idiom. A raw
    # .csv(path) scan refuses count()-style queries that prune down to
    # only the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # parsing the line column keeps the original text available for the
    # quarantine bucket at no restriction.
    schema_ddl = ("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, "
                  "_corrupt STRING")
    parsed = spark.read.text(path).select(
        F.from_csv(
            F.col("value"), schema_ddl,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    )
    return (
        parsed.filter(F.col("r._corrupt").isNull())
        .select("r.c_custkey", "r.c_name", "r.c_acctbal")
    )


# --------------------------------------------------------------------------
# Round-4 scale extensions: inverted index, dedup survivorship policy,
# per-group deterministic reservoir sampling, streaming dedup-within-
# watermark. Same oracle conventions as the earlier families.
# --------------------------------------------------------------------------


@register(
    "text_inverted_index",
    f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents)
    ),
    r AS (
      SELECT term, doc_id,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM p
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq,
           string_agg(CASE WHEN rn <= 20 THEN doc_id::VARCHAR END,
                      ',' ORDER BY doc_id) AS postings_head
    FROM r GROUP BY term
    """,
)
def text_inverted_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → posting-list index, the classic MapReduce workload: per-
    term document frequency plus the 20 smallest doc ids as a capped
    posting head. The cap is applied by RANK before any list is
    collected, so a hot term costs O(20) state, not O(doc_freq) —
    the property that keeps the build alive on a 100 TB corpus."""
    from .operators.text import inverted_index

    (documents,) = _load(spark, sf_dir, "documents")
    return inverted_index(documents, max_postings=20)


@register(
    "dedup_exact_survivor",
    """
    WITH f AS (
      SELECT doc_id, text, lang, source, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, doc_id, source,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM (
      SELECT fingerprint, doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY source, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
      FROM f
    ) WHERE rn = 1
    """,
)
def dedup_exact_survivor_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a survivorship POLICY: per content fingerprint
    keep the copy from the lexicographically-first source (the
    trusted-source-wins rule of a corpus merge), id as tiebreak —
    versus dedup_exact's min-id convention. One shuffle; rank and the
    copy count share the fingerprint Exchange."""
    from .operators.dedup import exact_dedup_survivor

    (documents,) = _load(spark, sf_dir, "documents")
    return exact_dedup_survivor(documents).select(
        "fingerprint", "doc_id", "source", "n_copies"
    )


@register(
    "sample_reservoir_per_group",
    """
    SELECT source, doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
    FROM (
      SELECT source, doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'rsv'), 1, 8))::BIGINT,
                        doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 40
    """,
)
def sample_reservoir_per_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source 40-doc sample by md5 hash order — the
    seed-free distributed analogue of per-group reservoir sampling
    (uniform over each group, membership a pure function of the key).
    The oracle replays the identical md5-prefix arithmetic."""
    from .operators.sampling import hash_reservoir_per_group

    (documents,) = _load(spark, sf_dir, "documents")
    return hash_reservoir_per_group(
        documents, group_col="source", key_col="doc_id", k=40
    ).select("source", "doc_id", "lang", "sample_rank")


@register(
    "cdc_join_view_maintain",
    """
    WITH delta AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    ), lp AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
      UNION ALL
      SELECT * FROM delta
    )
    SELECT l.o_orderkey, l.o_custkey, l.o_totalprice,
           c.c_name, c.c_nationkey
    FROM lp l JOIN customer c ON l.o_custkey = c.c_custkey
    """,
)
def cdc_join_view_maintain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized join view (Gupta &
    Mumick delta rule): a deterministic upsert batch (every 97th order
    repriced ×2, every 101st re-inserted under a shifted key) is
    propagated into V = orders ⋈ customer as retraction-by-key ∪
    re-joined delta — ZERO shuffles (both the key set and ΔL
    broadcast), one scan of V, one scan of customer. The oracle is
    the full recompute (upserted orders ⋈ customer); the maintained
    view must equal it exactly — ×2 on a double is a power-of-two
    multiply, bit-exact in both engines."""
    from pyspark.sql import functions as F

    from .operators.cdc import maintain_join_view

    orders, customer = _load(spark, sf_dir, "orders", "customer")
    l_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    updates = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice",
    )
    delta = updates.unionByName(inserts)
    dim = customer.select("c_custkey", "c_name", "c_nationkey")
    view = (
        orders.select(*l_cols)
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .select(*l_cols, "c_name", "c_nationkey")
    )
    return maintain_join_view(
        view, delta, dim,
        upsert_key="o_orderkey",
        left_join_key="o_custkey",
        right_join_key="c_custkey",
    )


@register(
    "agg_kmv_distinct",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR || 'kmv'), 1, 8))::BIGINT
               AS hh
      FROM events
    ), r AS (
      SELECT event_type, hh,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    ), a AS (
      SELECT event_type,
             CAST(MAX(nd) AS BIGINT) AS n_exact,
             CAST(MAX(CASE WHEN rnk = 64 THEN hh END) AS BIGINT) AS kth_min
      FROM r WHERE rnk <= 64 GROUP BY event_type
    )
    SELECT event_type, n_exact, kth_min,
           CASE WHEN kth_min IS NULL THEN CAST(n_exact AS DOUBLE)
                ELSE 270582939648 / kth_min END AS est_distinct
    FROM a
    """,
)
def agg_kmv_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-user sketch per event type — the
    engine-reproducible counterpart of the HLL entries: k = 64 minimum
    md5 hashes, estimate (k−1)·2^32 / h_(k) as an exact-int ratio, so
    the driver hash-compares the sketch AND the estimate bit-for-bit
    (HLL oracles can only bound relative error). Bottom-k sets merge
    by union-keep-k-smallest, the shard-combinable shape."""
    from .operators.sampling import kmv_distinct_per_group

    (events,) = _load(spark, sf_dir, "events")
    return kmv_distinct_per_group(
        events, group_col="event_type", value_col="user_id", k=64
    )


@register(
    "pipeline_quality_audit",
    """
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_custkey,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nonpositive_price,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
                  AS BIGINT) AS dup_orderkey
      FROM orders
    )
    SELECT 'null_custkey' AS check_name,
           null_custkey AS n_violations, n AS n_checked FROM base
    UNION ALL SELECT 'nonpositive_price', nonpositive_price, n FROM base
    UNION ALL SELECT 'bad_status', bad_status, n FROM base
    UNION ALL SELECT 'dup_orderkey', dup_orderkey, n FROM base
    UNION ALL
    SELECT 'orphan_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE o.o_custkey IS NOT NULL
                   AND c.c_custkey IS NULL) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_custkey IS NOT NULL) AS BIGINT)
    """,
)
def pipeline_quality_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ / Great-Expectations
    shape): null, range, domain, and uniqueness constraints fold into
    ONE narrow aggregate pass over orders regardless of constraint
    count; the referential check (o_custkey → customer) is a
    broadcast anti-join count. One row per check, every value an
    exact integer."""
    from pyspark.sql import functions as F

    from .operators.aggregates import data_quality_audit

    orders, customer = _load(spark, sf_dir, "orders", "customer")
    return data_quality_audit(
        orders,
        checks=[
            ("null_custkey", F.col("o_custkey").isNull()),
            ("nonpositive_price", F.col("o_totalprice") <= 0),
            ("bad_status", ~F.col("o_orderstatus").isin("O", "F", "P")),
        ],
        unique_checks=[("dup_orderkey", "o_orderkey")],
        ref_checks=[("orphan_custkey", "o_custkey", customer, "c_custkey")],
    )


@register(
    "agg_kmv_overlap",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR || 'kmv'), 1, 8))::BIGINT
               AS hh
      FROM events
    ), r AS (
      SELECT event_type, hh,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) AS rnk
      FROM h
    ), s AS (
      SELECT event_type, list_sort(list(hh)) AS sk
      FROM r WHERE rnk <= 64 GROUP BY event_type
    ), p AS (
      SELECT a.event_type AS g_a, b.event_type AS g_b,
             a.sk AS sk_a, b.sk AS sk_b
      FROM s a JOIN s b ON a.event_type < b.event_type
    ), m AS (
      SELECT g_a, g_b, sk_a, sk_b,
             list_sort(list_distinct(list_concat(sk_a, sk_b))) AS un
      FROM p
    ), t AS (
      SELECT g_a, g_b, sk_a, sk_b,
             CASE WHEN len(un) > 64 THEN un[1:64] ELSE un END AS mk
      FROM m
    )
    SELECT g_a, g_b,
           CAST(len(mk) AS BIGINT) AS union_k,
           CAST(len(list_intersect(list_intersect(mk, sk_a), sk_b))
                AS BIGINT) AS common_k,
           len(list_intersect(list_intersect(mk, sk_a), sk_b)) / len(mk)
             AS est_jaccard
    FROM t
    """,
)
def agg_kmv_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap (Jaccard) estimates between event
    types' user sets from merged bottom-k sketches — the
    set-operation payoff of KMV mergeability: the k smallest of a
    sketch union is a valid sketch of the set union, and
    Ĵ = |merged_k ∩ A_k ∩ B_k| / |merged_k| is a ratio of small
    exact ints, so the estimate itself hash-compares across engines
    (HLL intersection heuristics cannot)."""
    from .operators.sampling import kmv_jaccard_matrix

    (events,) = _load(spark, sf_dir, "events")
    return kmv_jaccard_matrix(
        events, group_col="event_type", value_col="user_id", k=64
    )


@register(
    "sample_priority_weighted",
    r"""
    WITH d AS (
      SELECT lang, doc_id,
             CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
             ('0x' || substr(md5(doc_id::VARCHAR || 'pri'), 1, 8))::BIGINT + 1
               AS u
      FROM documents
    ), q AS (
      SELECT lang, doc_id, w, (w * 4294967296) / u AS pri
      FROM d WHERE w >= 1
    ), r AS (
      SELECT lang, doc_id, w, pri,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY pri DESC, doc_id) AS BIGINT)
               AS rnk
      FROM q
    ), t AS (
      SELECT lang, doc_id, w, pri, rnk,
             MAX(CASE WHEN rnk = 11 THEN pri END)
               OVER (PARTITION BY lang) AS tau
      FROM r WHERE rnk <= 11
    )
    SELECT lang, doc_id, w AS weight, rnk, pri AS priority,
           GREATEST(CAST(w AS DOUBLE), COALESCE(tau, 0.0)) AS w_est
    FROM t
    WHERE rnk <= 10
    """,
)
def sample_priority_weighted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup): per-language top-10
    docs by priority w/u with w = whitespace token count and
    deterministic md5-derived u; ``w_est = max(w, τ)`` makes each
    group's Σw_est an unbiased estimate of its total token budget.
    Priorities are exact-int64 ratios (w·2^32 / (h+1)), so the oracle
    reproduces every double bit-for-bit — no rounding anywhere."""
    from .operators.sampling import priority_sample_per_group
    from .operators.text import token_count

    (documents,) = _load(spark, sf_dir, "documents")
    base = documents.select(
        "lang", "doc_id", token_count("text").alias("n_tok")
    )
    return priority_sample_per_group(
        base, group_col="lang", key_col="doc_id", weight_col="n_tok", k=10
    )


@register(
    "events_stream_dedup",
    """
    SELECT event_id, epoch_us(ts::TIMESTAMP) AS ts_us, user_id,
           event_type, value
    FROM events
    """,
)
def events_stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: the event stream
    unioned with itself (every row arrives twice in the micro-batch)
    flows through dropDuplicatesWithinWatermark(event_id), which must
    reconstruct exactly the original relation — the batch oracle is
    simply SELECT * FROM events. Watermark caps the dedup state to the
    1-hour horizon, the property that distinguishes this from an
    unbounded dropDuplicates at 100 TB/day event volume."""
    import os as _os

    from pyspark.sql import functions as F

    from .streaming.events import (
        load_events_stream,
        run_stream_to_memory,
        stream_dedup,
    )

    path = _os.path.join(sf_dir, "events.parquet")
    stream = load_events_stream(spark, path)
    doubled = stream.unionByName(load_events_stream(spark, path))
    deduped = stream_dedup(doubled, watermark="1 hour", keys=["event_id"])
    out = deduped.select(
        "event_id",
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    return run_stream_to_memory(out, output_mode="append")


# --------------------------------------------------------------------------
# Round-5 continuation: ranked retrieval over the text family.
# --------------------------------------------------------------------------

# search workload parameter shared by the Spark query and the oracle
# builder — the queries are few and tiny (a parameter, not data)
_BM25_QUERIES: dict[str, list[str]] = {
    "q_join": ["hash", "join", "merge"],
    "q_scan": ["scan", "table", "fast"],
    "q_sort": ["sort", "window", "spark"],
}
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle(queries: dict[str, list[str]], k1: float, b: float,
                 top_k: int) -> str:
    """DuckDB replica of ``text.bm25_rank``: same tokenization, the
    same narrow tf/df arithmetic, and — critically — the same
    left-to-right float operation order (the per-query score is
    spelled as an explicit ``0.0 + ts_a + ts_b + ...`` chain in the
    query's declared term order, never a SUM over rows)."""
    terms = sorted({t for ts in queries.values() for t in ts})
    idx = {t: i for i, t in enumerate(terms)}
    tf_cols = ",\n             ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in range(len(terms))
    )

    def term_score(i: int) -> str:
        return (
            f"(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
            f" * (CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r}"
            f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r}"
            f" * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        )

    branches = []
    for qid in sorted(queries):
        qterms = queries[qid]
        chain = "0.0"
        for t in qterms:
            chain = f"({chain} + {term_score(idx[t])})"
        matched = " OR ".join(f"tf_{idx[t]} > 0" for t in qterms)
        branches.append(
            f"SELECT '{qid}' AS query_id, doc_id, ROUND({chain}, 6) AS score\n"
            f"      FROM scored WHERE {matched}"
        )
    union = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH base AS (
      SELECT doc_id, len(toks)::BIGINT AS dl,
             {tf_cols}
      FROM (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents)
    ),
    stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl,
             {df_cols}
      FROM base
    ),
    scored AS (SELECT base.*, stats.* FROM base CROSS JOIN stats),
    q AS (
      {union}
    )
    SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rnk
      FROM q
    ) WHERE rnk <= {top_k}
    """


@register(
    "text_bm25_search",
    _bm25_oracle(_BM25_QUERIES, _BM25_K1, _BM25_B, top_k=10),
)
def text_bm25_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per keyword query — the ranking stage a retrieval /
    search-eval pipeline runs over the corpus the inverted index
    serves. One narrow corpus scan (literal query terms → per-doc tf
    via array filters, no token explode), a 1-row stats aggregate
    re-attached by broadcast, integer pre-filter to matching docs,
    then the per-query top-k window. Ranks on the 6dp-rounded score so
    a last-ulp ln() difference can't flip a rank across engines."""
    from .operators.text import bm25_rank

    (documents,) = _load(spark, sf_dir, "documents")
    return bm25_rank(
        documents, _BM25_QUERIES, k1=_BM25_K1, b=_BM25_B, top_k=10
    )


@register(
    "events_stream_session",
    """
    WITH x AS (
      SELECT user_id, value, epoch_us(ts::TIMESTAMP) AS ts_us,
             lag(epoch_us(ts::TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    y AS (
      SELECT user_id, value, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS f
      FROM x
    ),
    z AS (
      SELECT user_id, value, ts_us,
             SUM(f) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS idx
      FROM y
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 1800000000 AS session_end_us,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM z GROUP BY user_id, idx
    """,
)
def events_stream_session_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a REAL streaming query via Spark's NATIVE
    ``session_window`` — the engine-managed merging-session state the
    applyInPandasWithState sessionizer implements by hand. Builtin
    semantics (INCLUSIVE gap boundary — an event exactly ``gap`` after
    its predecessor still merges, proven by unit test — and window
    end = last_ts + gap) are replicated exactly by the
    gaps-and-islands oracle's ``> gap`` new-session flag and
    ``max(ts) + gap`` end."""
    import os as _os

    from .streaming.events import (
        load_events_stream,
        run_stream_to_memory,
        session_window_agg,
    )

    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    agg = session_window_agg(stream, gap="30 minutes", watermark="1 hour")
    return run_stream_to_memory(agg, output_mode="complete")


@register(
    "events_stream_running_stats",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us,
             CAST(ROUND(value * 1000) AS BIGINT) AS vm
      FROM events
    )
    SELECT event_id, user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS BIGINT)
             AS run_cnt,
           CAST(SUM(vm) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS run_sum_milli
    FROM e
    """,
)
def events_stream_running_stats_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user running event count + exact milli-value sum emitted
    once per input event, computed with ``applyInPandasWithState``
    (O(active users) state: two int64s per user). Pure int64
    arithmetic, so the full relational oracle is an exact window
    cumsum — the stream must reproduce it row-for-row, not
    approximately. ``streaming/events.py`` also carries the
    ``transformWithStateInPandas`` twin (Spark 4's new typed-state
    API), import-gated on protobuf availability."""
    import os as _os

    from .streaming.events import (
        load_events_stream,
        run_stream_to_memory,
        user_running_stats_stateful,
    )

    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    return run_stream_to_memory(
        user_running_stats_stateful(stream), output_mode="append"
    )


def _bpe_ctes(n_merges: int, keep_last_seqs: bool) -> list[str]:
    """Shared CTE chain replicating ``bpe.bpe_merges`` with the merge
    loop UNROLLED (p_i: pair counts, m_i: argmax with the
    count-desc-then-lexicographic tie-break, s_i: word sequences after
    the merge). The merge rewrite uses the identical symbol-bracket
    encoding + leftmost non-overlapping replace, so both engines
    perform byte-identical greedy merges."""
    parts = [
        """w AS (
      SELECT w, COUNT(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE length(w) > 0 GROUP BY 1
    )""",
        "s0 AS (SELECT w, string_split(w, '') AS seq, freq FROM w)",
    ]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS (
      -- seq[:len(seq)-1], NOT seq[:-1]: DuckDB list slicing is
      -- INCLUSIVE of the -1 position, and list_zip NULL-pads the
      -- shorter list, which would fabricate (last_symbol, NULL) pairs
      SELECT u.pr[1] AS l, u.pr[2] AS r, freq
      FROM {prev}, UNNEST(list_zip(seq[:len(seq) - 1], seq[2:])) AS u(pr)
    )"""
        )
        parts.append(
            f"""m{i} AS (
      SELECT l, r, SUM(freq)::BIGINT AS cnt FROM p{i}
      GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
    )"""
        )
        if i < n_merges or keep_last_seqs:
            parts.append(
                f"""s{i} AS (
      SELECT w, string_split(substr(e, 2, length(e) - 2), ')(') AS seq, freq
      FROM (
        SELECT w, replace('(' || array_to_string(seq, ')(') || ')',
                          '(' || m{i}.l || ')(' || m{i}.r || ')',
                          '(' || m{i}.l || m{i}.r || ')') AS e, freq
        FROM {prev} CROSS JOIN m{i}
      ) t
    )"""
            )
    return parts


def _bpe_oracle(n_merges: int) -> str:
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count "
        f"FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_ctes(n_merges, keep_last_seqs=False))
        + "\n    "
        + union
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Per-doc token accounting after applying the learned merges:
    explode documents to words, join the final word→segments table."""
    parts = _bpe_ctes(n_merges, keep_last_seqs=True)
    parts.append(
        """dw AS (
      SELECT doc_id, wrd FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS wrd
        FROM documents
      ) WHERE length(wrd) > 0
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, COUNT(*)::BIGINT AS n_words,
           SUM(len(seq))::BIGINT AS n_tokens
    FROM dw JOIN s{n_merges} ON dw.wrd = s{n_merges}.w
    GROUP BY doc_id
    """
    )


@register("pipeline_bpe_encode", _bpe_encode_oracle(8))
def pipeline_bpe_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus's own learned BPE merges back to the corpus:
    per-document word and BPE-token counts — the token-budget
    accounting step after tokenizer training. The vocabulary (word →
    segment list) is vocabulary-sized; documents explode to words once
    and equi-join it (AQE chooses broadcast vs shuffle — never
    forced), then re-aggregate per doc. ``batch_k=8``: the exact
    batched merge loop (``operators/bpe._select_batch``) —
    bit-identical to sequential with fewer driver round trips; the
    sequential unrolled oracle IS the equivalence check."""
    from .operators.bpe import bpe_encode_stats

    (documents,) = _load(spark, sf_dir, "documents")
    return bpe_encode_stats(documents, n_merges=8, batch_k=8)


@register("pipeline_bpe_vocab", _bpe_oracle(8))
def pipeline_bpe_vocab_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 BPE merges learned from the document corpus — tokenizer
    training as a Spark job. The corpus is scanned once (word-freq
    aggregate); every merge iteration runs over the vocabulary-sized
    distinct-word table with one map-side-combined pair-count shuffle
    and a 1-row argmax collect (same driver-loop shape as pagerank),
    and the merge rewrite itself is narrow JVM string work.
    ``batch_k=8`` engages the EXACT batched loop (round-7 directive
    #6): up to 8 merges per driver round trip under the
    strict-dominance batch rule, output bit-identical to sequential —
    proven by THIS key's unrolled sequential CTE oracle."""
    from .operators.bpe import bpe_merges

    (documents,) = _load(spark, sf_dir, "documents")
    return bpe_merges(documents, n_merges=8, batch_k=8)


@register(
    "stats_join_cardinality",
    """
    WITH lk AS (
      SELECT l_partkey AS k, COUNT(*)::BIGINT AS n
      FROM lineitem GROUP BY 1
    ),
    pk AS (SELECT k, n * n AS pairs FROM lk),
    s AS (
      SELECT SUM(pairs)::BIGINT AS sampled_pairs FROM pk
      WHERE ('0x' || substr(md5(k::VARCHAR || 'card'), 1, 8))::BIGINT % 100 < 25
    ),
    e AS (SELECT SUM(pairs)::BIGINT AS exact_pairs FROM pk)
    SELECT sampled_pairs,
           CAST(sampled_pairs AS DOUBLE) * (100.0 / 25.0) AS est_pairs,
           exact_pairs,
           ABS(CAST(sampled_pairs AS DOUBLE) * (100.0 / 25.0)
               - CAST(exact_pairs AS DOUBLE)) / CAST(exact_pairs AS DOUBLE)
             AS rel_err
    FROM s CROSS JOIN e
    """,
)
def stats_join_cardinality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output-size estimate for the lineitem⋈lineitem self-join
    on l_partkey — the quadratic per-key fan-out Σn(k)² that decides
    whether a shuffle join's output explodes (the advisor's missing
    cost input). Key-level md5 hash sampling keeps per-key products
    exact so skew is never smoothed; est/rel_err are raw double
    arithmetic over exact BIGINT sums (no rounding — exact integer
    ratios are bit-identical cross-engine)."""
    from .operators.joins import join_cardinality_estimate

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return join_cardinality_estimate(
        lineitem, lineitem, "l_partkey", "l_partkey",
        sample_buckets=100, sample_take=25, salt="card",
    )


@register(
    "events_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
      FROM events
    ),
    cells AS (
      SELECT f.cohort_week,
             CAST((a.act_week - f.cohort_week) // 7 AS INT) AS week_offset,
             COUNT(*)::BIGINT AS active_users
      FROM act a JOIN first f USING (user_id)
      GROUP BY 1, 2
    ),
    sz AS (
      SELECT cohort_week, COUNT(*)::BIGINT AS cohort_size
      FROM first GROUP BY 1
    )
    SELECT c.cohort_week, c.week_offset, c.active_users, s.cohort_size,
           c.active_users * 1000000 // s.cohort_size AS retention_ppm
    FROM cells c JOIN sz s USING (cohort_week)
    """,
)
def events_cohort_retention_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention curves over the events stream: users bucketed
    by first-seen week, activity counted per (cohort, week-offset)
    cell — the product-analytics retention matrix. ``retention_ppm``
    is an exact integer ratio (active·10⁶ ÷ size) so the driver
    hash-compares it. Scale shape in
    ``operators.timeseries.cohort_retention``."""
    from .operators.timeseries import cohort_retention

    (events,) = _load(spark, sf_dir, "events")
    return cohort_retention(events, "user_id", "ts")


@register(
    "agg_countmin_freq",
    """
    WITH t AS (
      SELECT user_id, COUNT(*)::BIGINT AS true_cnt FROM events GROUP BY 1
      ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    grid AS (
      SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || e.user_id::VARCHAR
                                    || 'cm'), 1, 8))::BIGINT % 256 AS col_h,
             COUNT(*)::BIGINT AS cnt
      FROM events e CROSS JOIN range(4) r(j) GROUP BY 1, 2
    ),
    cells AS (
      SELECT t.user_id, t.true_cnt, r.j,
             ('0x' || substr(md5(r.j::VARCHAR || ':' || t.user_id::VARCHAR
                                 || 'cm'), 1, 8))::BIGINT % 256 AS col_h
      FROM t CROSS JOIN range(4) r(j)
    )
    SELECT c.user_id, c.true_cnt, MIN(g.cnt)::BIGINT AS cm_est,
           (MIN(g.cnt) - c.true_cnt)::BIGINT AS overcount
    FROM cells c JOIN grid g USING (j, col_h)
    GROUP BY c.user_id, c.true_cnt
    """,
)
def agg_countmin_freq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation: build the 4×256 md5
    counter grid over event user_ids, then point-estimate the 10
    heaviest users and report the overcount vs truth (always ≥ 0 —
    CM errors are one-sided). The md5 grid is engine-reproducible, so
    unlike ``count_min_sketch``'s opaque binary the oracle replays
    every counter bit-for-bit. Sketch mergeability (elementwise add)
    is proven in tests."""
    from pyspark.sql import functions as F

    from .operators.sampling import countmin_estimate, countmin_sketch

    (events,) = _load(spark, sf_dir, "events")
    sketch = countmin_sketch(events, "user_id", depth=4, width=256)
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(10)
    )
    est = countmin_estimate(sketch, top.select("user_id"), "user_id",
                            depth=4, width=256)
    return top.join(est, "user_id").select(
        "user_id",
        "true_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
    )


@register(
    "sort_skyline_frontier",
    """
    WITH pts AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice AS price,
             -l_quantity AS negq, l_quantity AS quantity
      FROM lineitem
    ),
    perx AS (SELECT price, MIN(negq) AS miny FROM pts GROUP BY price),
    pf AS (
      SELECT price, miny,
             MIN(miny) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prevmin
      FROM perx
    ),
    sur AS (SELECT price, miny FROM pf
            WHERE prevmin IS NULL OR prevmin > miny)
    SELECT p.l_orderkey, p.l_linenumber, p.price, p.quantity
    FROM pts p JOIN sur s ON p.price = s.price AND p.negq = s.miny
    """,
)
def sort_skyline_frontier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of lineitems — cheapest price for every
    quantity tier (minimize price, maximize quantity): no other line
    is both ≤ price and ≥ quantity with one strict. The Spark side
    runs the BINNED two-level skyline (``operators.sorts.skyline_2d``
    — no global window); the oracle runs the direct global-prefix-min
    form, so parity cross-checks the binned decomposition itself."""
    from pyspark.sql import functions as F

    from .operators.sorts import skyline_2d

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    pts = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        (-F.col("l_quantity")).alias("_negq"),
        F.col("l_quantity").alias("quantity"),
    )
    return skyline_2d(pts, "price", "_negq").select(
        "l_orderkey", "l_linenumber", "price", "quantity"
    )


@register(
    "join_spatial_grid",
    """
    WITH p AS (
      SELECT c_custkey AS id,
             ('0x' || substr(md5(c_custkey::VARCHAR || 'px'), 1, 8))::BIGINT
               % 1000000 AS x,
             ('0x' || substr(md5(c_custkey::VARCHAR || 'py'), 1, 8))::BIGINT
               % 1000000 AS y
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
    FROM p a JOIN p b
      ON a.id < b.id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= 5000 * 5000
    """,
)
def join_spatial_grid_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within Euclidean radius 5000 on a synthetic
    10⁶×10⁶ integer grid (coordinates md5-derived from the key, so
    both engines generate identical geometry). Spark runs the
    3×3-neighbor-cell blocked equi-join
    (``operators.joins.grid_distance_join`` — O(near pairs)); the
    oracle grinds the naive quadratic predicate, so parity proves the
    grid blocking LOSSLESS. All-integer arithmetic: ``dist_sq`` is
    exact BIGINT."""
    from pyspark.sql import functions as F

    from .operators.joins import grid_distance_join
    from .operators.text import md5_hash32

    (customer,) = _load(spark, sf_dir, "customer")
    coord = lambda salt: (  # noqa: E731
        md5_hash32(F.concat(F.col("c_custkey").cast("string"), F.lit(salt)))
        % 1000000
    )
    pts = customer.select(
        F.col("c_custkey").alias("id"),
        coord("px").alias("x"),
        coord("py").alias("y"),
    )
    return grid_distance_join(pts, "id", "x", "y", radius=5000)


@register(
    "join_bloom_prune",
    """
    WITH dim AS (
      SELECT DISTINCT o_orderkey AS l_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(r.j::VARCHAR || ':'
                 || d.l_orderkey::VARCHAR || 'bl'), 1, 8))::BIGINT
             % 262144 AS pos
      FROM dim d CROSS JOIN range(3) r(j)
    ),
    probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
    cells AS (
      SELECT p.l_orderkey, ('0x' || substr(md5(r.j::VARCHAR || ':'
                 || p.l_orderkey::VARCHAR || 'bl'), 1, 8))::BIGINT
             % 262144 AS pos
      FROM probe p CROSS JOIN range(3) r(j)
    ),
    passed AS (
      SELECT c.l_orderkey,
             COUNT(*) = SUM(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END)
               AS bloom_pass
      FROM cells c LEFT JOIN bits b USING (pos)
      GROUP BY c.l_orderkey
    ),
    flags AS (
      SELECT p.l_orderkey, p.bloom_pass,
             d.l_orderkey IS NOT NULL AS is_member
      FROM passed p LEFT JOIN dim d USING (l_orderkey)
    )
    SELECT COUNT(*)::BIGINT AS n_probe_keys,
           SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           SUM(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS n_member,
           SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0
               END)::BIGINT AS n_false_pos,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS false_pos_ppm
    FROM flags
    """,
)
def join_bloom_prune_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pruning of a fact-side join: hash urgent
    orderkeys into a 2¹⁸-bit md5 bitset, probe every distinct lineitem
    orderkey, and report exact pass/member/false-positive counts in
    one row. The md5 grid makes every pruning decision — including the
    exact false-positive set — engine-reproducible, so the oracle
    replays the whole filter bit-for-bit (an opaque bloom_filter_agg
    could only bound the rate). Scale shape in
    ``operators.joins.bloom_prune_stats``."""
    from pyspark.sql import functions as F

    from .operators.joins import bloom_prune_stats

    orders, lineitem = _load(spark, sf_dir, "orders", "lineitem")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    stats = bloom_prune_stats(
        lineitem, dim, "l_orderkey", n_bits=262144, n_hashes=3
    )
    return stats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_keys"),
        F.sum(F.col("bloom_pass").cast("int")).cast("bigint").alias("n_pass"),
        F.sum(F.col("is_member").cast("int")).cast("bigint").alias("n_member"),
        F.sum(F.col("is_false_pos").cast("int"))
        .cast("bigint")
        .alias("n_false_pos"),
    ).select(
        "n_probe_keys",
        "n_pass",
        "n_member",
        "n_false_pos",
        F.expr("n_false_pos * 1000000 DIV n_probe_keys").alias(
            "false_pos_ppm"
        ),
    )


@register(
    "agg_basket_affinity",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, p_brand AS i
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT b)::BIGINT AS n FROM bi),
    ic AS (SELECT i, COUNT(*)::BIGINT AS cnt FROM bi GROUP BY i),
    pr AS (
      SELECT a.i AS item_a, b.i AS item_b, COUNT(*)::BIGINT AS pair_count
      FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT pr.item_a, pr.item_b, pr.pair_count,
           ca.cnt AS count_a, cb.cnt AS count_b,
           pr.pair_count * 1000000 // t.n AS support_ppm,
           (pr.pair_count * t.n)::DOUBLE
             / (ca.cnt * cb.cnt)::DOUBLE AS lift
    FROM pr
    CROSS JOIN tot t
    JOIN ic ca ON pr.item_a = ca.i
    JOIN ic cb ON pr.item_b = cb.i
    ORDER BY pr.pair_count DESC, pr.item_a, pr.item_b
    LIMIT 20
    """,
)
def agg_basket_affinity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over orders: which part brands co-occur
    in the same order more than independence predicts. Top-20 pairs by
    co-count (deterministic tie-break), with exact-integer supports and
    the raw-ratio lift (bit-identical cross-engine — no rounding).
    Scale shape in ``operators.aggregates.basket_affinity``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import basket_affinity

    lineitem, part = _load(spark, sf_dir, "lineitem", "part")
    items = lineitem.join(
        part, lineitem["l_partkey"] == part["p_partkey"]
    ).select("l_orderkey", "p_brand")
    return (
        basket_affinity(items, "l_orderkey", "p_brand")
        .orderBy(F.desc("pair_count"), "item_a", "item_b")
        .limit(20)
    )


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_state,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_state
      FROM events
    ),
    pairs AS (
      SELECT from_state, to_state, COUNT(*)::BIGINT AS n_trans
      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_state, SUM(n_trans)::BIGINT AS from_total
      FROM pairs GROUP BY 1
    )
    SELECT p.from_state, p.to_state, p.n_trans, t.from_total,
           p.n_trans * 1000000 // t.from_total AS prob_ppm,
           p.n_trans::DOUBLE / t.from_total::DOUBLE AS prob
    FROM pairs p JOIN tot t USING (from_state)
    """,
)
def events_markov_transitions_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the click-path model: P(next event type | current),
    from every consecutive (ts, event_id)-ordered pair. Probabilities
    are raw ratios of exact BIGINTs (plus the exact prob_ppm integer
    form). Scale shape in ``operators.timeseries.markov_transitions``."""
    from .operators.timeseries import markov_transitions

    (events,) = _load(spark, sf_dir, "events")
    return markov_transitions(events, "user_id", "event_type", "ts", "event_id")


@register(
    "agg_bitmap_distinct",
    """
    WITH pw AS (
      SELECT event_type, user_id // 63 AS w,
             bit_or(1::BIGINT << (user_id % 63)::INT) AS bits
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct
    FROM pw GROUP BY 1
    """,
)
def agg_bitmap_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via OR-mergeable integer
    bitmaps (the roaring-bitmap pattern) — the partial state is one
    BIGINT per touched 63-bit word, not the distinct values themselves,
    so partials merge across partitions/days/engines with plain
    ``bit_or``. Every word and popcount is engine-replayable (63-bit
    words keep masks positive — 1<<63 overflows signed 64-bit).
    Scale shape in ``operators.aggregates.bitmap_distinct``."""
    from .operators.aggregates import bitmap_distinct

    (events,) = _load(spark, sf_dir, "events")
    return bitmap_distinct(events, ["event_type"], "user_id")


@register(
    "stats_table_checksum",
    """
    WITH t AS (
      SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             l_suppkey, epoch_us(l_shipdate::TIMESTAMP) AS l_ship_us
      FROM lineitem
    ),
    h AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(
                coalesce(l_orderkey::VARCHAR, chr(0)) || '|' ||
                coalesce(l_linenumber::VARCHAR, chr(0)) || '|' ||
                coalesce(l_suppkey::VARCHAR, chr(0)) || '|' ||
                coalesce(l_returnflag, chr(0)) || '|' ||
                coalesce(l_linestatus, chr(0)) || '|' ||
                coalesce(l_ship_us::VARCHAR, chr(0))
             ), 1, 8))::BIGINT AS h
      FROM t
    )
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum_sum,
           CAST(bit_xor(h) AS BIGINT) AS checksum_xor
    FROM h GROUP BY 1
    """,
)
def stats_table_checksum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group table fingerprint (count + md5-sum
    + md5-xor) over lineitem's exact-typed columns, timestamps
    pre-converted to ``unix_micros`` (float→string rendering is not
    engine-portable; exact ints are). The reconciliation primitive:
    two copies of a 100 TB table agree iff these tiny rows agree,
    and a per-partition grouping localizes any diff. Scale shape in
    ``operators.aggregates.table_checksum``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import table_checksum

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    t = lineitem.withColumn("l_ship_us", F.unix_micros("l_shipdate"))
    return table_checksum(
        t,
        ["l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag",
         "l_linestatus", "l_ship_us"],
        ["l_returnflag"],
    )


@register(
    "cdc_snapshot_diff",
    """
    WITH old AS (
      -- fixed-width per-column digests with a null-flag prefix, like
      -- operators.cdc.snapshot_diff (delimiter-joined concat is
      -- ambiguous when a value contains the delimiter)
      SELECT o_orderkey,
             md5(md5(CASE WHEN o_custkey IS NULL THEN 'N'
                          ELSE 'V' || o_custkey::VARCHAR END) ||
                 md5(CASE WHEN o_orderstatus IS NULL THEN 'N'
                          ELSE 'V' || o_orderstatus END) ||
                 md5(CASE WHEN o_orderpriority IS NULL THEN 'N'
                          ELSE 'V' || o_orderpriority END)) AS h
      FROM orders WHERE o_orderkey % 97 != 3
    ),
    new AS (
      SELECT o_orderkey,
             md5(md5(CASE WHEN o_custkey IS NULL THEN 'N'
                          ELSE 'V' || o_custkey::VARCHAR END) ||
                 md5(CASE WHEN o_orderstatus IS NULL THEN 'N'
                          ELSE 'V' || o_orderstatus END) ||
                 md5(CASE WHEN p2 IS NULL THEN 'N'
                          ELSE 'V' || p2 END)) AS h
      FROM (SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 53 = 5
                        THEN 'X-' || o_orderpriority
                        ELSE o_orderpriority END AS p2
            FROM orders WHERE o_orderkey % 89 != 7)
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                ELSE 'changed' END AS diff_class
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.h IS NULL OR n.h IS NULL OR o.h != n.h
    """,
)
def cdc_snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation between two deterministic derived
    snapshots of orders (old misses keys ≡3 mod 97 → 'added'; new
    misses keys ≡7 mod 89 → 'removed'; keys ≡5 mod 53 carry a modified
    priority → 'changed'): each side reduces narrowly to
    (key, row-md5), ONE full-outer key join classifies, unchanged rows
    drop. Output is diff-sized, never snapshot-sized. Scale shape in
    ``operators.cdc.snapshot_diff``."""
    from pyspark.sql import functions as F

    from .operators.cdc import snapshot_diff

    (orders,) = _load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 3)
    new = orders.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 53 == 5,
            F.concat(F.lit("X-"), F.col("o_orderpriority")),
        ).otherwise(F.col("o_orderpriority")),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@register(
    "events_sliding_distinct",
    """
    WITH ev AS (
      SELECT epoch_us(ts::TIMESTAMP) // 3600000000 AS slot, user_id
      FROM events
    ),
    active AS (SELECT DISTINCT slot AS report_slot FROM ev),
    repl AS (
      SELECT e.slot + r.j AS report_slot, e.user_id
      FROM ev e CROSS JOIN range(24) r(j)
    ),
    du AS (
      SELECT DISTINCT report_slot, user_id
      FROM repl JOIN active USING (report_slot)
    )
    SELECT CAST(report_slot * 3600000000 AS BIGINT) AS slot_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM du GROUP BY 1
    """,
)
def events_sliding_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24 h distinct users reported hourly — the sliding
    exact-distinct a tumbling window can't express: events replicate
    onto the 24 report slots whose trailing window contains them
    (bounded sequence explode, ×window/slide by construction), then
    two-level (slot, user) dedup + count; report slots restricted to
    hours containing events. Scale shape (and the bitmap-merge escape
    hatch for wide ratios) in
    ``operators.timeseries.sliding_window_distinct``."""
    from .operators.timeseries import sliding_window_distinct

    (events,) = _load(spark, sf_dir, "events")
    return sliding_window_distinct(
        events, "ts", "user_id", window_hours=24, slide_hours=1
    )


@register(
    "events_attribution_linear",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts::TIMESTAMP) AS us,
             CAST(ROUND(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    conv AS (
      SELECT user_id, event_id AS cid, us AS cus, vm
      FROM ev WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_type AS touch_type, us AS tus
      FROM ev WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
      SELECT c.cid, c.vm, t.touch_type
      FROM conv c JOIN touch t ON c.user_id = t.user_id
       AND t.tus < c.cus AND t.tus >= c.cus - 604800000000
    ),
    nt AS (SELECT cid, COUNT(*) AS n FROM pairs GROUP BY 1)
    SELECT p.touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(p.vm // nt.n) AS BIGINT) AS attributed_milli,
           CAST(COUNT(DISTINCT p.cid) AS BIGINT) AS n_convs_reached
    FROM pairs p JOIN nt USING (cid) GROUP BY 1
    """,
)
def events_attribution_linear_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-touch linear attribution: each purchase's milli-value
    splits evenly (exact integer DIV — double credit sums would be
    summation-order-dependent) across the user's click/view touches in
    the trailing 7 days; per-touch-type credit totals. The pair join is
    user-equi, never an interval cross join. Scale shape in
    ``operators.timeseries.linear_attribution``."""
    from .operators.timeseries import linear_attribution

    (events,) = _load(spark, sf_dir, "events")
    return linear_attribution(
        events, "user_id", "event_id", "ts", "event_type", "value",
        conv_type="purchase", touch_types=["click", "view"],
        lookback_hours=168,
    )


@register(
    "stats_ab_ztest",
    """
    WITH e AS (
      SELECT event_type,
             user_id % 2 = 1 AS arm,
             CAST(ROUND(value * 1000) AS BIGINT) > 100000 AS success
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm AND success THEN 1 ELSE 0 END)
                  AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN NOT arm AND success THEN 1 ELSE 0 END)
                  AS BIGINT) AS s0
      FROM e GROUP BY 1
    )
    SELECT event_type, n1, s1, n0, s0,
           (s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
           / sqrt(((s1 + s0)::DOUBLE / (n1 + n0)::DOUBLE)
                  * (1.0 - (s1 + s0)::DOUBLE / (n1 + n0)::DOUBLE)
                  * (1.0 / n1::DOUBLE + 1.0 / n0::DOUBLE)) AS z
    FROM agg
    """,
)
def stats_ab_ztest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type (arm = user parity,
    success = value > 100): the A/B readout. Counts are exact BIGINTs
    from one conditional pass; z is a fixed tree of correctly-rounded
    IEEE ops over them — bit-identical cross-engine with NO rounding
    (the repo convention: division and sqrt are exactly specified).
    Scale shape in ``operators.aggregates.two_proportion_ztest``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import two_proportion_ztest

    (events,) = _load(spark, sf_dir, "events")
    return two_proportion_ztest(
        events,
        ["event_type"],
        arm_col=F.col("user_id") % 2 == 1,
        success_col=F.round(F.col("value") * 1000).cast("bigint") > 100000,
    )


@register(
    "events_outlier_fences",
    """
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    q AS (
      SELECT event_type,
             quantile_cont(CAST(vm AS DOUBLE), 0.25) AS q1_milli,
             quantile_cont(CAST(vm AS DOUBLE), 0.75) AS q3_milli
      FROM e GROUP BY 1
    ),
    f AS (
      SELECT event_type, q1_milli, q3_milli,
             q1_milli - 1.5 * (q3_milli - q1_milli) AS lo,
             q3_milli + 1.5 * (q3_milli - q1_milli) AS hi
      FROM q
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(f.q1_milli) AS q1_milli,
           MIN(f.q3_milli) AS q3_milli,
           CAST(SUM(CASE WHEN e.vm < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(SUM(CASE WHEN e.vm > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high
    FROM e JOIN f USING (event_type) GROUP BY 1
    """,
)
def events_outlier_fences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Tukey-fence outlier counts on exact milli-values:
    Q1/Q3 by continuous interpolation land on dyadic rationals (an
    integer grid interpolated at quarters — ZERO float rounding), so
    fences and strict comparisons are engine-exact unrounded. Quantile
    pass + vocab-sized fence broadcast + one counting aggregate. Scale
    shape (and the bounded-histogram escape hatch) in
    ``operators.aggregates.group_outlier_fences``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import group_outlier_fences

    (events,) = _load(spark, sf_dir, "events")
    return group_outlier_fences(
        events, ["event_type"],
        F.round(F.col("value") * 1000).cast("bigint"),
    )


@register(
    "join_asof_nearest",
    """
    WITH l AS (
      SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us
      FROM events WHERE event_type = 'error'
    ),
    r AS (
      SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
             event_id AS click_event_id,
             CAST(ROUND(value * 1000) AS BIGINT) AS click_vm
      FROM events WHERE event_type = 'click'
    ),
    u AS (
      SELECT user_id, us, 1 AS side, event_id,
             NULL::BIGINT AS rus, NULL::BIGINT AS click_event_id,
             NULL::BIGINT AS click_vm
      FROM l
      UNION ALL
      SELECT user_id, us, 0, NULL, us, click_event_id, click_vm FROM r
    ),
    c AS (
      SELECT user_id, us, side, event_id,
             last_value(rus IGNORE NULLS) OVER wb AS bus,
             last_value(rus IGNORE NULLS) OVER wf AS fus,
             last_value(click_event_id IGNORE NULLS) OVER wb AS b_id,
             last_value(click_event_id IGNORE NULLS) OVER wf AS f_id,
             last_value(click_vm IGNORE NULLS) OVER wb AS b_vm,
             last_value(click_vm IGNORE NULLS) OVER wf AS f_vm
      FROM u
      WINDOW wb AS (PARTITION BY user_id
                    ORDER BY us, side, click_event_id, click_vm
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id
                    ORDER BY us DESC, side ASC, click_event_id, click_vm
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, us AS left_ts_us, event_id,
           CASE WHEN bus IS NOT NULL
                 AND (fus IS NULL OR us - bus <= fus - us)
                THEN bus ELSE fus END AS nearest_ts_us,
           CASE WHEN bus IS NOT NULL
                 AND (fus IS NULL OR us - bus <= fus - us)
                THEN b_id ELSE f_id END AS click_event_id,
           CASE WHEN bus IS NOT NULL
                 AND (fus IS NULL OR us - bus <= fus - us)
                THEN b_vm ELSE f_vm END AS click_vm,
           CASE WHEN bus IS NOT NULL
                 AND (fus IS NULL OR us - bus <= fus - us)
                THEN us - bus
                WHEN fus IS NOT NULL THEN fus - us END AS nearest_dist_us
    FROM c WHERE side = 1
    """,
)
def join_asof_nearest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: every error event ← the temporally CLOSEST
    click by the same user in EITHER direction (equal distance →
    backward; plain backward as-of drops rows whose only click is
    later). One key exchange, two window passes (the forward pass is a
    descending re-sort of the same partitions). The oracle replays the
    union+window algorithm with identical tie ordering. Scale shape in
    ``operators.joins.asof_nearest_join``."""
    from pyspark.sql import functions as F

    from .operators.joins import asof_nearest_join

    (events,) = _load(spark, sf_dir, "events")
    errors = events.filter("event_type = 'error'").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter("event_type = 'click'").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.round(F.col("value") * 1000).cast("bigint").alias("click_vm"),
    )
    return asof_nearest_join(errors, clicks, on="user_id")


@register(
    "stats_benford_audit",
    """
    WITH e AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    d AS (
      SELECT CAST(substr(cents::VARCHAR, 1, 1) AS INT) AS digit
      FROM e WHERE cents > 0
    ),
    spine AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
    counts AS (
      SELECT spine.digit,
             CAST(COALESCE(COUNT(d.digit), 0) AS BIGINT) AS n_obs
      FROM spine LEFT JOIN d ON d.digit = spine.digit GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts)
    SELECT digit, n_obs,
           ROUND(n_total * log10(1.0 + 1.0 / digit), 4) AS expected,
           ROUND(pow(n_obs - n_total * log10(1.0 + 1.0 / digit), 2)
                 / (n_total * log10(1.0 + 1.0 / digit)), 6) AS chi2_contrib
    FROM counts CROSS JOIN tot
    """,
)
def stats_benford_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem prices (in exact cents;
    leading digit taken from the integer's decimal string — no float
    log in the extraction path): per-digit observed counts vs the
    log10(1+1/d) law with χ² contributions (rounded 4dp/6dp — log10 is
    transcendental, the tfidf convention). The synthetic prices are
    uniform, so the audit correctly reports a strong Benford
    violation. Scale shape in
    ``operators.aggregates.benford_digit_audit``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import benford_digit_audit

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return benford_digit_audit(
        lineitem, F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )


@register(
    "similarity_truncation_recall",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 20
    ),
    full_scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id,
             list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[])
               AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    full_topk AS (
      SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rk
        FROM full_scored
      ) WHERE rk <= 10
    ),
    trunc_scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id,
             list_cosine_similarity(c.embedding[1:16]::DOUBLE[],
                                    q.qv[1:16]::DOUBLE[]) AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    trunc_topk AS (
      SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id ASC) AS rk
        FROM trunc_scored
      ) WHERE rk <= 10
    ),
    ov AS (
      SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM full_topk f JOIN trunc_topk t
        ON f.query_id = t.query_id AND f.corpus_id = t.corpus_id
      GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.n_overlap, 0) * 1000000 // 10 AS BIGINT)
             AS recall_ppm
    FROM q LEFT JOIN ov USING (query_id)
    """,
)
def similarity_truncation_recall_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka dimension-truncation eval: recall@10 of first-16-dim
    cosine top-10 vs the full-64-dim exact top-10 for 20 query vectors
    — the offline measurement that licenses serving truncated (MRL)
    embeddings at a fraction of index cost. Both rankings use the
    bit-equal fold scoring + corpus-id tie-break, so overlap counts
    are deterministic. Scale shape in
    ``operators.similarity.truncated_dim_recall``."""
    from .operators.similarity import truncated_dim_recall

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    return truncated_dim_recall(embeddings, queries, keep_dims=16, k=10)


@register(
    "stats_linear_fit",
    """
    WITH e AS (
      SELECT event_type,
             epoch_us(ts::TIMESTAMP) // 86400000000 AS x,
             CAST(ROUND(value * 1000) AS BIGINT) AS y
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM e GROUP BY 1
    ),
    c AS (
      SELECT *,
             (n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT)::DOUBLE
               AS numer,
             (n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT)::DOUBLE
               AS denx,
             (n::HUGEINT * syy::HUGEINT - sy::HUGEINT * sy::HUGEINT)::DOUBLE
               AS deny
      FROM agg
    )
    SELECT event_type, n, sx, sy, sxy, sxx, syy,
           numer / denx AS slope,
           (sy::DOUBLE - (numer / denx) * sx::DOUBLE) / n::DOUBLE
             AS intercept,
           numer / sqrt(denx * deny) AS pearson_r
    FROM c
    """,
)
def stats_linear_fit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS fit of milli-value vs epoch-day — trend
    detection as ONE map-side-combinable aggregate. The five sufficient
    sums stay exact BIGINTs; the closed-form cross terms run in
    128-bit integer arithmetic (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT)
    and only final ratios convert to double — bit-identical
    cross-engine, NO rounding. Scale shape in
    ``operators.aggregates.group_linear_fit``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import group_linear_fit

    (events,) = _load(spark, sf_dir, "events")
    return group_linear_fit(
        events,
        ["event_type"],
        x=F.expr("unix_micros(ts) div 86400000000"),
        y=F.round(F.col("value") * 1000).cast("bigint"),
    )


@register(
    "events_activity_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             epoch_us(ts::TIMESTAMP) // 86400000000 AS day
      FROM events
    ),
    g AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d
    ),
    i AS (
      SELECT user_id, grp,
             CAST(COUNT(*) AS BIGINT) AS len,
             MIN(day) AS start
      FROM g GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(MIN(start) AS BIGINT) AS first_day,
           CAST(MAX(start + len - 1) AS BIGINT) AS last_day
    FROM i GROUP BY 1
    """,
)
def events_activity_islands_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gaps-and-islands per user: maximal consecutive-active-day
    streaks via the day − row_number trick — no self-join, no
    iteration; the (user, day) distinct, the rn window, and both
    re-aggregates share ONE user-clustered exchange. All exact
    integers. Scale shape in
    ``operators.timeseries.activity_islands``."""
    from .operators.timeseries import activity_islands

    (events,) = _load(spark, sf_dir, "events")
    return activity_islands(events, "user_id", "ts")


@register(
    "events_time_to_convert",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    ws AS (
      SELECT user_id, event_type, us,
             MIN(CASE WHEN event_type = 'signup' THEN us END)
               OVER (PARTITION BY user_id) AS start_us
      FROM ev
    ),
    pe AS (
      SELECT user_id, MIN(start_us) AS start_us,
             MIN(CASE WHEN event_type = 'purchase' AND us >= start_us
                      THEN us END) AS convert_us
      FROM ws WHERE start_us IS NOT NULL GROUP BY 1
    ),
    lat AS (SELECT convert_us - start_us AS l FROM pe)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_started,
           CAST(COUNT(l) AS BIGINT) AS n_converted,
           CAST(MIN(l) AS BIGINT) AS min_lat_us,
           quantile_cont(CAST(l AS DOUBLE), 0.25) AS p25_lat_us,
           quantile_cont(CAST(l AS DOUBLE), 0.5) AS p50_lat_us,
           quantile_cont(CAST(l AS DOUBLE), 0.75) AS p75_lat_us,
           CAST(MAX(l) AS BIGINT) AS max_lat_us
    FROM lat
    """,
)
def events_time_to_convert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency distribution: per-user
    whole-partition MIN window attaches the first signup, a grouped
    conditional MIN over the same exchange finds the first purchase at
    or after it, one 1-row summary with exact-µs interpolated
    quantiles (dyadic — unrounded). Scale shape in
    ``operators.timeseries.time_to_convert``."""
    from .operators.timeseries import time_to_convert

    (events,) = _load(spark, sf_dir, "events")
    return time_to_convert(
        events, "user_id", "ts", "event_type", "signup", "purchase"
    )


@register(
    "stats_bootstrap_ci",
    """
    WITH e AS (
      SELECT event_id, CAST(ROUND(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    rep AS (
      SELECT e.vm, j.j * 4 + c.c AS b,
             ('0x' || substr(md5(e.event_id::VARCHAR || ':'
                || j.j::VARCHAR || 'boot'), 1 + 8 * c.c, 8))::BIGINT AS h
      FROM e CROSS JOIN range(25) j(j) CROSS JOIN range(4) c(c)
    ),
    wts AS (
      SELECT vm, b,
             CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
                  WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
                  WHEN h < 4279248373 THEN 4 WHEN h < 4292415291 THEN 5
                  WHEN h < 4294609777 THEN 6 WHEN h < 4294923276 THEN 7
                  ELSE 8 END AS w
      FROM rep
    ),
    means AS (
      SELECT b, CAST(SUM(w * vm) AS BIGINT)::DOUBLE
                / CAST(SUM(w) AS BIGINT)::DOUBLE AS m
      FROM wts GROUP BY 1
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
    ),
    bounds AS (
      SELECT MIN(CASE WHEN rn = 2 THEN m END) AS ci_lo,
             MIN(CASE WHEN rn = 98 THEN m END) AS ci_hi
      FROM ranked
    ),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(vm) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE
               AS mean_full
      FROM e
    )
    SELECT n_rows, mean_full, ci_lo, ci_hi,
           CAST(100 AS BIGINT) AS n_reps
    FROM f CROSS JOIN bounds
    """,
)
def stats_bootstrap_ci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean event milli-value — the
    bootstrap that works on partitioned data (per-row Poisson(1)
    weights per replicate; no global resampling). Weights come from
    md5 uniforms compared against PRE-COMPUTED integer CDF thresholds
    (pure BIGINT comparisons — the whole sampling path is
    engine-exact), replicate means are raw ratios of exact sums, and
    the CI bounds are ORDER STATISTICS (ranks 2 and 98 of 100) — no
    quantile interpolation anywhere. Scale shape in
    ``operators.aggregates.poisson_bootstrap_ci``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import poisson_bootstrap_ci

    (events,) = _load(spark, sf_dir, "events")
    return poisson_bootstrap_ci(
        events, "event_id", F.round(F.col("value") * 1000).cast("bigint"),
        n_reps=100,
    )


@register(
    "stats_gini_skew",
    """
    WITH pk AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM pk GROUP BY 1),
    b AS (
      SELECT c, m,
             CAST(c * (m * (CAST(SUM(m) OVER (ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) - m) * 2
                       + m * (m + 1)) AS BIGINT) AS contrib2
      FROM h
    )
    SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
           CAST(SUM(c * m) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           CAST(SUM(contrib2) - (SUM(m) + 1) * SUM(c * m) AS BIGINT)::DOUBLE
             / CAST(SUM(m) * SUM(c * m) AS BIGINT)::DOUBLE AS gini
    FROM b
    """,
)
def stats_gini_skew_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of lineitem join-key concentration — the skew
    scalar behind this repo's salted/AQE join story — via the
    COUNT-OF-COUNTS closed form: the histogram is bounded by max
    multiplicity (7 for TPC-H orders), so no fact-scale global rank
    window exists anywhere; G is ONE division of exact BIGINTs.
    Scale shape in ``operators.aggregates.gini_concentration``."""
    from .operators.aggregates import gini_concentration

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return gini_concentration(lineitem, "l_orderkey")


@register(
    "events_disorder_audit",
    """
    WITH e AS (
      SELECT event_type, event_id, epoch_us(ts::TIMESTAMP) AS us
      FROM events
    ),
    d AS (
      SELECT event_type,
             MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) - us AS dis
      FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dis > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(SUM(CASE WHEN dis > 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS late_ppm,
           quantile_cont(CAST(dis AS DOUBLE), 0.5) AS p50_disorder_us,
           quantile_cont(CAST(dis AS DOUBLE), 0.75) AS p75_disorder_us,
           CAST(MAX(dis) AS BIGINT) AS max_disorder_us
    FROM d GROUP BY 1
    """,
)
def events_disorder_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit per event type (arrival order =
    event_id): how far events lag the running event-time high-water
    mark — the measurement that sizes a streaming watermark. Disorder
    quantiles interpolate at QUARTER positions on exact µs ints
    (dyadic for any n — a p95 would not be; the exact max and late_ppm
    carry the tail instead). Runs the BINNED two-level running-max
    form ((series, bin)-parallel; the direct window's partition count
    = 5 event types while rows grow with the corpus); the oracle IS
    the direct form, so parity doubles as the equivalence proof.
    Scale shape in ``operators.timeseries.disorder_audit_binned``."""
    from .operators.timeseries import disorder_audit_binned

    (events,) = _load(spark, sf_dir, "events")
    return disorder_audit_binned(events, "event_type", "ts", "event_id")


@register(
    "stats_ks_test",
    """
    WITH e AS (
      SELECT event_type, user_id % 2 = 1 AS arm,
             CAST(ROUND(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    grid AS (
      SELECT event_type, vm,
             CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT) AS c0
      FROM e GROUP BY 1, 2
    ),
    stepped AS (
      SELECT event_type,
             CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY vm
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
             CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY vm
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum0,
             CAST(SUM(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
             CAST(SUM(c0) OVER (PARTITION BY event_type) AS BIGINT) AS n0
      FROM grid
    )
    SELECT event_type,
           CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n0) AS BIGINT) AS n0,
           CAST(MAX(ABS(cum1 * n0 - cum0 * n1)) AS BIGINT) AS d_num,
           CAST(MAX(n1) * MAX(n0) AS BIGINT) AS d_den,
           CAST(MAX(ABS(cum1 * n0 - cum0 * n1)) AS BIGINT)::DOUBLE
             / CAST(MAX(n1) * MAX(n0) AS BIGINT)::DOUBLE AS ks_d
    FROM stepped GROUP BY 1
    """,
)
def stats_ks_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov D per event type (arms =
    user parity, values in exact milli): D's numerator is a max over
    exact BIGINT cross-products and D is ONE division of exact ints —
    bit-identical cross-engine. Runs the BINNED two-level form (the
    value grid grows with the corpus while the group count doesn't;
    the direct form serializes each group's grid onto one window
    task); the oracle below IS the direct form, so driver parity
    doubles as the equivalence proof. Scale shape in
    ``operators.aggregates.ks_two_sample_binned``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import ks_two_sample_binned

    (events,) = _load(spark, sf_dir, "events")
    # fixed width (skips the span pass): milli-values live in
    # ~[0, 5.7e5], so 512-milli bins give ~1.1k bins per group
    return ks_two_sample_binned(
        events,
        ["event_type"],
        arm_col=F.col("user_id") % 2 == 1,
        value_col=F.round(F.col("value") * 1000).cast("bigint"),
        bin_width=512,
    )


@register(
    "agg_group_mode",
    """
    WITH counts AS (
      SELECT event_type, user_id AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, v, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c DESC, v ASC) AS rn
      FROM counts
    )
    SELECT event_type, v AS mode_value, c AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_group_mode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type modal user (most-active user per event type)
    with a PINNED tie-break (highest count, then smallest value) —
    Spark's builtin ``mode()`` leaves ties arbitrary, which can never
    hash-verify cross-engine. Scale shape in
    ``operators.aggregates.group_mode``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import group_mode

    (events,) = _load(spark, sf_dir, "events")
    return group_mode(events, ["event_type"], F.col("user_id"))


@register(
    "join_null_safe",
    """
    WITH l AS (
      SELECT l_orderkey, NULLIF(l_suppkey % 50, 3) IS NULL AS null_key,
             NULLIF(l_suppkey % 50, 3) AS k
      FROM lineitem
    ),
    r AS (
      SELECT NULLIF(s_suppkey % 50, 3) AS k, s_nationkey FROM supplier
    )
    SELECT l.null_key,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT r.s_nationkey) AS BIGINT) AS n_nations
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1
    """,
)
def join_null_safe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark ``<=>`` ≡ SQL IS NOT DISTINCT
    FROM): NULL keys MATCH null keys instead of silently dropping —
    the semantics corner that breaks naive dedup/reconciliation joins.
    Derived null-able keys on both sides; the join stays a hash
    equi-join (Spark rewrites <=> onto the hashable coalesce form,
    never a nested loop). Output: pair/nation counts split by
    null-key class."""
    from pyspark.sql import functions as F

    lineitem, supplier = _load(spark, sf_dir, "lineitem", "supplier")
    l = lineitem.select(
        "l_orderkey",
        F.nullif(F.col("l_suppkey") % 50, F.lit(3)).alias("k"),
    ).withColumn("null_key", F.col("k").isNull())
    r = supplier.select(
        F.nullif(F.col("s_suppkey") % 50, F.lit(3)).alias("rk"),
        "s_nationkey",
    )
    return (
        l.join(r, l["k"].eqNullSafe(r["rk"]))
        .groupBy("null_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("s_nationkey").cast("bigint").alias("n_nations"),
        )
    )


@register(
    "agg_weighted_median",
    """
    WITH grid AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS gw
      FROM lineitem GROUP BY 1, 2
    ),
    stepped AS (
      SELECT l_returnflag, v, gw,
             CAST(SUM(gw) OVER (PARTITION BY l_returnflag ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(gw) OVER (PARTITION BY l_returnflag) AS BIGINT)
               AS tot
      FROM grid
    )
    SELECT l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT)
             AS weighted_median
    FROM stepped GROUP BY 1
    """,
)
def agg_weighted_median_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price (in cents) per return flag
    — the lower weighted median via 2·cum ≥ W on the (group, value)
    grid: pure BIGINT arithmetic end-to-end, the result is an actual
    data value, no interpolation, no floats. Runs the BINNED two-level
    form (round-5 verdict's one scale-killer: the direct cumulative
    window has partition count = 3 return flags while the price grid
    grows with the corpus); the oracle below IS the direct single-
    window form, so driver parity doubles as the binned ≡ direct
    equivalence proof. Scale shape in
    ``operators.aggregates.weighted_median_binned``."""
    from pyspark.sql import functions as F

    from .operators.aggregates import weighted_median_binned

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    # fixed width (skips the span pass — 2 fewer stages): prices are
    # cents in ~[9e4, 1.05e7], so 8192-cent bins give ~1.3k bins per
    # group regardless of row count
    return weighted_median_binned(
        lineitem,
        ["l_returnflag"],
        F.round(F.col("l_extendedprice") * 100).cast("bigint"),
        F.col("l_quantity").cast("bigint"),
        bin_width=8192,
    )


@register(
    "set_ops_multiset",
    """
    WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'),
    b AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
    ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
    ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
    id_ AS (SELECT * FROM a INTERSECT SELECT * FROM b),
    ed AS (SELECT * FROM a EXCEPT SELECT * FROM b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ia) AS n_intersect_all,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ea) AS n_except_all,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM id_) AS n_intersect,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_except
    """,
)
def set_ops_multiset_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset vs set semantics in one row: INTERSECT ALL keeps
    min(multiplicity) and EXCEPT ALL subtracts per-copy (Spark
    ``intersectAll``/``exceptAll``) — versus their distinct
    counterparts. The multiset forms plan as count-compare aggregates,
    not joins over exploded duplicates. All four counts exact."""
    from pyspark.sql import functions as F

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    a = lineitem.filter("l_linestatus = 'O'").select("l_orderkey")
    b = lineitem.filter("l_returnflag = 'R'").select("l_orderkey")

    def n(df, name):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    # four single-row counts cross-joined into the summary row
    return (
        n(a.intersectAll(b), "n_intersect_all")
        .join(n(a.exceptAll(b), "n_except_all"))
        .join(n(a.intersect(b), "n_intersect"))
        .join(n(a.subtract(b), "n_except"))
    )


@register(
    "dedup_prefix_filter_delta",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    e_d AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM s
      WHERE doc_id % 10 = 0
    ),
    e_c AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM s
      WHERE doc_id % 10 <> 0
    ),
    p AS (
      SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
             a.n AS nd, b.n AS nc, COUNT(*) AS common
      FROM e_d a JOIN e_c b ON a.shingle = b.shingle
      GROUP BY 1, 2, 3, 4
    )
    SELECT delta_id, corpus_id,
           CAST(common AS DOUBLE) / (nd + nc - common) AS jaccard
    FROM p WHERE CAST(common AS DOUBLE) / (nd + nc - common) >= 0.3
    """,
)
def dedup_prefix_filter_delta_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL AllPairs — the dedup-service steady state: 90% of
    the documents are indexed once (``build_prefix_index``), the
    other 10% arrive as a delta shard and probe the PERSISTED
    bucketed index for exact Jaccard ≥ 0.3 partners without the
    corpus ever being re-shingled or re-ranked. Delta docs are
    encoded under the STORED canonical order (unseen shingles =
    rarest — consistent for both docs of any delta-corpus pair, so
    the prefix lemma still holds and unseen-only prefixes provably
    have no partner). The oracle is the NAIVE delta×corpus
    shared-shingle join: equal output proves the incremental probe
    lossless. Scale shape in
    ``operators.dedup.prefix_filter_probe_delta``."""
    from pyspark.sql import functions as F

    from .operators.dedup import build_prefix_index, prefix_filter_probe_delta

    (documents,) = _load(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 10 != 0)
    delta = documents.filter(F.col("doc_id") % 10 == 0)
    build_prefix_index(
        corpus, k=3, threshold=0.3, table_prefix="prefix_idx_delta_q"
    )
    return prefix_filter_probe_delta(
        spark, delta, k=3, threshold=0.3,
        table_prefix="prefix_idx_delta_q",
    )


@register(
    "similarity_hybrid_rrf",
    f"""
    WITH s AS ({_SHINGLES_SQL}),
    c AS (
      SELECT s.doc_id, s.sh, e.embedding
      FROM s JOIN embeddings e ON e.vec_id = s.doc_id
    ),
    q AS (
      SELECT doc_id AS query_id, sh AS qsh, embedding AS qv
      FROM c WHERE doc_id < 3
    ),
    lex_scored AS (
      SELECT q.query_id, c.doc_id AS corpus_id,
             CAST(len(list_intersect(c.sh, q.qsh)) AS BIGINT) AS common,
             len(c.sh) AS cn, len(q.qsh) AS qn
      FROM c, q WHERE c.doc_id <> q.query_id
    ),
    lex AS (
      SELECT query_id, corpus_id, rank_lex FROM (
        SELECT query_id, corpus_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY CAST(common AS DOUBLE)
                          / CAST(cn + qn - common AS DOUBLE) DESC,
                          corpus_id ASC) AS rank_lex
        FROM lex_scored WHERE common > 0
      ) WHERE rank_lex <= 50
    ),
    dense AS (
      SELECT query_id, corpus_id, rank_dense FROM (
        SELECT q.query_id, c.doc_id AS corpus_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(
                            c.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC,
                          c.doc_id ASC) AS rank_dense
        FROM c, q WHERE c.doc_id <> q.query_id
      ) WHERE rank_dense <= 50
    ),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.corpus_id, d.corpus_id) AS corpus_id,
             l.rank_lex, d.rank_dense,
             COALESCE(CAST(1 AS DOUBLE) / (60 + l.rank_lex), 0)
               + COALESCE(CAST(1 AS DOUBLE) / (60 + d.rank_dense), 0)
               AS rrf_score
      FROM lex l FULL OUTER JOIN dense d
        ON l.query_id = d.query_id AND l.corpus_id = d.corpus_id
    )
    SELECT query_id, corpus_id, CAST(rank_lex AS INT) AS rank_lex,
           CAST(rank_dense AS INT) AS rank_dense, rrf_score,
           CAST(final_rank AS INT) AS final_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rrf_score DESC, corpus_id ASC) AS final_rank
      FROM fused
    ) WHERE final_rank <= 20
    """,
)
def similarity_hybrid_rrf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09) — the production BM25+vector shape: a lexical run
    (query-by-example 3-shingle Jaccard) and a dense run (exact
    cosine) each yield a top-50 list per query; RRF(d) = sum of
    1/(60+rank), absent-from-run = 0, fused top-20 returned. Every
    score the ranking touches is an exact-int division (Jaccard, RRF
    terms), the fused score is ONE IEEE add of two such terms, and
    all rank windows pin ties — fully hash-verifiable, no rounding.
    Scale shape in ``operators.similarity.hybrid_rrf_fusion``."""
    from .operators.similarity import hybrid_rrf_fusion

    documents, embeddings = _load(spark, sf_dir, "documents", "embeddings")
    return hybrid_rrf_fusion(documents, embeddings)


@register(
    "pipeline_reward_normalize",
    """
    WITH r AS (
      SELECT event_id, user_id,
             CAST(ROUND(value * 1000) AS BIGINT) AS reward_milli
      FROM events
    ),
    g AS (
      SELECT event_id, user_id, reward_milli,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_group,
             CAST(SUM(reward_milli) OVER w AS HUGEINT) AS s1,
             CAST(SUM(reward_milli * reward_milli) OVER w AS HUGEINT)
               AS s2
      FROM r WINDOW w AS (PARTITION BY user_id)
    )
    SELECT event_id, user_id, reward_milli, n_group,
           CASE WHEN n_group * s2 - s1 * s1 > 0
                THEN CAST(reward_milli * n_group - s1 AS DOUBLE)
                     / sqrt(CAST(n_group * s2 - s1 * s1 AS DOUBLE))
                ELSE NULL END AS advantage
    FROM g
    """,
)
def pipeline_reward_normalize_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Group-relative reward normalization — the GRPO/RLOO advantage
    (Shao et al. 2024, DeepSeekMath): per prompt group (user here),
    z-score every reward against ITS group, z = (r*n - S1) /
    sqrt(n*S2 - S1^2) — algebraically (r - mean)/sigma_pop but built
    as one expression tree over exact integers (milli-rewards; the
    cross terms in DECIMAL(38,0), DuckDB's HUGEINT — the
    stats_linear_fit pattern), so both engines compute the identical
    doubles; single-member or zero-variance groups yield NULL
    (pinned, not NaN/inf — DuckDB's x/0.0 is inf while Spark's
    try_divide is NULL, so the variance guard is an explicit CASE in
    both). One window exchange on the group key (high-cardinality —
    parallelism grows with the corpus); full-frame window sums share
    it; no join, no collect."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    (events,) = _load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "user_id",
        F.round(F.col("value") * 1000).cast("bigint").alias("reward_milli"),
    )
    w = Window.partitionBy("user_id")
    dec = "decimal(38,0)"
    g = base.select(
        "event_id", "user_id", "reward_milli",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_group"),
        F.sum("reward_milli").over(w).cast(dec).alias("_s1"),
        F.sum(F.col("reward_milli") * F.col("reward_milli")).over(w)
        .cast(dec).alias("_s2"),
    )
    var_num = (
        F.col("n_group").cast(dec) * F.col("_s2")
        - F.col("_s1") * F.col("_s1")
    )
    return g.select(
        "event_id", "user_id", "reward_milli", "n_group",
        F.when(
            var_num > 0,
            (
                F.col("reward_milli").cast(dec) * F.col("n_group").cast(dec)
                - F.col("_s1")
            ).cast("double")
            / F.sqrt(var_num.cast("double")),
        ).alias("advantage"),
    )


@register(
    "pipeline_preference_pairs",
    """
    WITH r AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 1000) AS BIGINT) AS rm
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT user_id, event_id, rm FROM r
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY rm DESC, event_id ASC) = 1
    ),
    j AS (
      SELECT user_id, event_id, rm FROM r
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY rm ASC, event_id ASC) = 1
    )
    SELECT c.user_id,
           c.event_id AS chosen_event, j.event_id AS rejected_event,
           c.rm AS chosen_milli, j.rm AS rejected_milli,
           c.rm - j.rm AS margin_milli
    FROM c JOIN j USING (user_id)
    WHERE c.rm > j.rm
    """,
)
def pipeline_preference_pairs_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DPO/RLHF preference-pair construction: per prompt group (user),
    pair the highest-reward response with the lowest (ties break to
    the lowest event id on BOTH sides; zero-margin groups drop — a
    pair needs a strict preference). Rewards in exact milli-ints, the
    argmax/argmin as ONE groupBy of struct-max/min — no rank window,
    no per-group sort, one shuffle on the group key (the same
    window-free rewrite as ``agg_group_mode``); the oracle's two
    rank-window CTEs prove the struct ordering equivalent. NULL
    rewards are excluded up front: an unscored response cannot rank
    (and Spark's NULLS-FIRST struct ordering vs SQL's NULLS-LAST rank
    default would otherwise make the two sides disagree on it)."""
    from pyspark.sql import functions as F

    (events,) = _load(spark, sf_dir, "events")
    r = events.filter(F.col("value").isNotNull()).select(
        "user_id", "event_id",
        F.round(F.col("value") * 1000).cast("bigint").alias("rm"),
    )
    g = r.groupBy("user_id").agg(
        F.max(F.struct(F.col("rm"), (-F.col("event_id")).alias("nid")))
        .alias("_c"),
        F.min(F.struct(F.col("rm"), F.col("event_id"))).alias("_j"),
    )
    return g.select(
        "user_id",
        (-F.col("_c.nid")).alias("chosen_event"),
        F.col("_j.event_id").alias("rejected_event"),
        F.col("_c.rm").alias("chosen_milli"),
        F.col("_j.rm").alias("rejected_milli"),
        (F.col("_c.rm") - F.col("_j.rm")).alias("margin_milli"),
    ).filter(F.col("margin_milli") > 0)


def _kmeans_oracle(
    dim: int = 64, k: int = 8, iters: int = 3,
    scale: int = 1_000_000, salt: str = ":km7",
) -> str:
    """Unrolled Lloyd trajectory: quantize → md5-ranked init →
    (assign, update) × iters → final assignment. Mirrors
    ``similarity.kmeans_lloyd``'s exact integer arithmetic: micro-int
    quantization via FLOOR(x·scale + ½), BIGINT squared-L2 distances,
    centroid update by pmod-subtract floor division (≡ Python ``//``
    for positive divisors), ties to the lowest cluster id."""
    seed_order = f"md5(vec_id::VARCHAR || '{salt}'), vec_id"
    parts = [
        f"""q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    )""",
        f"""c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY {seed_order}) - 1 AS INT)
               AS cid, qv AS cv
      FROM q ORDER BY {seed_order} LIMIT {k}
    )""",
    ]
    d2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])))"
    )
    for t in range(1, iters + 1):
        parts.append(f"""a{t} AS (
      SELECT q.vec_id, q.qv, c.cid, {d2} AS dist
      FROM q CROSS JOIN c{t - 1} c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                 ORDER BY dist, c.cid) = 1
    )""")
        parts.append(f"""s{t} AS (
      SELECT cid, i, SUM(qv[i]) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM a{t}, range(1, {dim} + 1) t(i) GROUP BY cid, i
    )""")
        parts.append(f"""c{t} AS (
      SELECT cid,
             list(CAST((s - (((s % n) + n) % n)) / n AS BIGINT)
                  ORDER BY i) AS cv
      FROM s{t} GROUP BY cid
    )""")
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT q.vec_id, CAST(c.cid AS INT) AS cluster,
           CAST({d2} AS BIGINT) AS dist
    FROM q CROSS JOIN c{iters} c
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                               ORDER BY dist, c.cid) = 1
    """
    )


@register("embedding_kmeans", _kmeans_oracle())
def embedding_kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the full embedding table (k = 8,
    3 iterations) — the clustering step behind SemDeDup-style pruning
    and domain discovery, as an ITERATIVE Spark algorithm: narrow
    literal-centroid assignment, one k×dim-cell partial aggregate per
    round, O(k·dim) driver state (the MLlib KMeans communication
    pattern). Exact integer arithmetic end-to-end, so the oracle
    unrolls the identical trajectory as CTEs and the match is
    bit-for-bit (operators.similarity.kmeans_lloyd)."""
    from .operators.similarity import kmeans_lloyd

    (embeddings,) = _load(spark, sf_dir, "embeddings")
    return kmeans_lloyd(embeddings, dim=64, k=8, iters=3)


# 2024-01-16T00:00:00Z — the events table spans 2024-01-01..30, so the
# reference window is the first half
_PSI_CUTOFF_US = 1_705_363_200_000_000


@register(
    "stats_drift_psi",
    f"""
    WITH e AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v,
             epoch_us(ts::TIMESTAMP) < {_PSI_CUTOFF_US} AS is_ref
      FROM events WHERE value IS NOT NULL
    ),
    span AS (
      SELECT event_type, MIN(v) AS vmin, MAX(v) AS vmax
      FROM e WHERE is_ref GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type, e.is_ref,
             CASE WHEN s.vmax = s.vmin THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((e.v - s.vmin)
                               / ((s.vmax - s.vmin) / 10)) AS INT)))
             END AS bin
      FROM e JOIN span s
        ON e.event_type IS NOT DISTINCT FROM s.event_type
    ),
    cnt AS (
      SELECT event_type, bin,
             CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
               AS cr,
             CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
               AS cc
      FROM binned GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.event_type, t.i AS bin FROM span s, range(0, 10) t(i)
    ),
    fullb AS (
      SELECT g.event_type, g.bin,
             COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc
      FROM grid g LEFT JOIN cnt c
        ON g.event_type IS NOT DISTINCT FROM c.event_type
       AND g.bin = c.bin
    ),
    tot AS (
      SELECT event_type, bin, cr, cc,
             CAST(SUM(cr) OVER (PARTITION BY event_type) AS BIGINT)
               AS nr,
             CAST(SUM(cc) OVER (PARTITION BY event_type) AS BIGINT)
               AS nc
      FROM fullb
    ),
    terms AS (
      SELECT event_type, nr, nc,
             CAST(ROUND((
               CAST(2 * cr + 1 AS DOUBLE) / CAST(2 * nr + 10 AS DOUBLE)
               - CAST(2 * cc + 1 AS DOUBLE) / CAST(2 * nc + 10 AS DOUBLE)
             ) * ln(
               CAST((2 * cr + 1) * (2 * nc + 10) AS DOUBLE)
               / CAST((2 * cc + 1) * (2 * nr + 10) AS DOUBLE)
             ) * 1e9) AS BIGINT) AS tn
      FROM tot
    )
    SELECT event_type,
           CAST(MAX(nr) AS BIGINT) AS n_ref,
           CAST(MAX(nc) AS BIGINT) AS n_cur,
           ROUND(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS psi
    FROM terms GROUP BY 1
    """,
)
def stats_drift_psi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of the month — the drift monitor a continuously-fed
    training pipeline runs between snapshots. Equal-width bins over
    the REFERENCE window's span, Laplace-½ smoothing, terms summed
    over the FULL 10-bin grid (an empty-both bin is nonzero whenever
    the slice sizes differ — see psi_term_nano), each rounded to an
    exact nano-int BEFORE the sum so the aggregate is
    summation-order-free (operators.aggregates.psi_drift)."""
    from pyspark.sql import functions as F

    from .operators.aggregates import psi_drift

    (events,) = _load(spark, sf_dir, "events")
    return psi_drift(
        events,
        ["event_type"],
        F.col("value"),
        F.unix_micros(F.col("ts")) < F.lit(_PSI_CUTOFF_US),
        n_bins=10,
    )


@register(
    "events_stream_drift",
    f"""
    WITH e AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v,
             epoch_us(ts::TIMESTAMP) AS us
      FROM events WHERE value IS NOT NULL
    ),
    span AS (
      SELECT event_type, MIN(v) AS vmin, MAX(v) AS vmax,
             CAST(COUNT(*) AS BIGINT) AS nr
      FROM e WHERE us < {_PSI_CUTOFF_US} GROUP BY 1
    ),
    rb AS (
      SELECT e.event_type,
             CASE WHEN s.vmax = s.vmin THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((e.v - s.vmin)
                               / ((s.vmax - s.vmin) / 10)) AS INT)))
             END AS bin,
             CAST(COUNT(*) AS BIGINT) AS cr
      FROM e JOIN span s
        ON e.event_type IS NOT DISTINCT FROM s.event_type
      WHERE e.us < {_PSI_CUTOFF_US} GROUP BY 1, 2
    ),
    cb AS (
      SELECT (e.us // 86400000000) * 86400000000 AS window_start_us,
             e.event_type,
             CASE WHEN s.vmax = s.vmin THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((e.v - s.vmin)
                               / ((s.vmax - s.vmin) / 10)) AS INT)))
             END AS bin,
             CAST(COUNT(*) AS BIGINT) AS cc
      FROM e JOIN span s
        ON e.event_type IS NOT DISTINCT FROM s.event_type
      WHERE e.us >= {_PSI_CUTOFF_US} GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT w.window_start_us, w.event_type, t.i AS bin
      FROM (SELECT DISTINCT window_start_us, event_type FROM cb) w,
           range(0, 10) t(i)
    ),
    j AS (
      SELECT g.window_start_us, g.event_type, g.bin,
             COALESCE(rb.cr, 0) AS cr, COALESCE(cb.cc, 0) AS cc
      FROM grid g
      LEFT JOIN rb ON rb.event_type IS NOT DISTINCT FROM g.event_type
                  AND rb.bin = g.bin
      LEFT JOIN cb ON cb.window_start_us = g.window_start_us
                  AND cb.event_type IS NOT DISTINCT FROM g.event_type
                  AND cb.bin = g.bin
    ),
    tot AS (
      SELECT j.*, s.nr,
             CAST(SUM(j.cc) OVER (PARTITION BY j.window_start_us,
                                  j.event_type)
                  AS BIGINT) AS nc
      FROM j JOIN span s
        ON j.event_type IS NOT DISTINCT FROM s.event_type
    ),
    terms AS (
      SELECT window_start_us, event_type, nr, nc,
             CAST(ROUND((
               CAST(2 * cr + 1 AS DOUBLE) / CAST(2 * nr + 10 AS DOUBLE)
               - CAST(2 * cc + 1 AS DOUBLE) / CAST(2 * nc + 10 AS DOUBLE)
             ) * ln(
               CAST((2 * cr + 1) * (2 * nc + 10) AS DOUBLE)
               / CAST((2 * cc + 1) * (2 * nr + 10) AS DOUBLE)
             ) * 1e9) AS BIGINT) AS tn
      FROM tot
    )
    SELECT window_start_us, event_type,
           CAST(MAX(nr) AS BIGINT) AS n_ref,
           CAST(MAX(nc) AS BIGINT) AS n_cur,
           ROUND(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS psi
    FROM terms GROUP BY 1, 2
    """,
)
def events_stream_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI drift monitor: the live second half of the month,
    run as a real Structured Streaming query (file source → broadcast
    stream-static join against the batch-built reference histogram →
    one windowed aggregation → memory sink), scored per (day window,
    event type) against the first half. The live histogram is n_bins
    conditional sums inside the single streaming aggregate (bins ride
    in columns, not rows — no chained stateful operators), PSI is a
    stateless nano-int projection; the oracle recomputes both windows
    relationally, proving batch/stream equivalence
    (streaming.events.stream_drift_psi)."""
    import os as _os

    from pyspark.sql import functions as F

    from .streaming.events import (
        drift_reference_histogram,
        load_events_stream,
        run_stream_to_memory,
        stream_drift_psi,
    )

    (events,) = _load(spark, sf_dir, "events")
    ref = events.filter(
        F.unix_micros(F.col("ts")) < F.lit(_PSI_CUTOFF_US)
    )
    hist = drift_reference_histogram(ref, n_bins=10)
    stream = load_events_stream(spark, _os.path.join(sf_dir, "events.parquet"))
    drift = stream_drift_psi(
        stream, hist, _PSI_CUTOFF_US, n_bins=10, window="1 day"
    )
    return run_stream_to_memory(drift, output_mode="complete")


@register(
    "sample_temperature",
    r"""
    WITH base AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    mix AS (SELECT lang, SUM(n_tokens) AS cur FROM base GROUP BY lang),
    m2 AS (
      SELECT lang, sqrt(CAST(cur AS DOUBLE)) / CAST(cur AS DOUBLE) AS r
      FROM mix
    ),
    m3 AS (SELECT lang, r / MAX(r) OVER () AS keep_frac FROM m2)
    SELECT b.doc_id, b.lang, b.n_tokens
    FROM base b JOIN m3 USING (lang)
    WHERE ('0x' || substr(md5(coalesce(b.doc_id::VARCHAR, chr(0)) || 'temp'),
                          1, 8))::BIGINT
          % 10000 < keep_frac * 10000
    """,
)
def sample_temperature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling at α = 0.5 (kept tokens ∝ √n_lang — the
    standard multilingual-LM mixing rule): high-resource languages are
    thinned, the scarcest kept whole, no target shares needed. √ is
    IEEE-correctly-rounded so the whole fraction pipeline is
    engine-exact; membership is the md5-bucket primitive
    (operators.sampling.temperature_rebalance)."""
    from .operators.sampling import temperature_rebalance

    (documents,) = _load(spark, sf_dir, "documents")
    return temperature_rebalance(documents, alpha=0.5)


# --------------------------------------------------------------------------
# Self-registering modules: the adapted TPC-H suite (Q3–Q22, see
# tpch_queries.py) and the data-pipeline queries (pipeline.py).
# --------------------------------------------------------------------------

from . import tpch_queries  # noqa: E402,F401  (self-registering)
from . import pipeline  # noqa: E402,F401  (self-registering)
