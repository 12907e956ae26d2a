"""Joins and set operations: outer, semi/anti, theta (non-equi),
subqueries planned as joins (EXISTS, scalar), LATERAL, as-of (window,
pandas merge_asof, cogrouped applyInPandas), interval, null-safe
(``eqNullSafe`` / IS NOT DISTINCT FROM), inline VALUES dimensions,
fuzzy (edit-distance) self-joins, SCD2/snapshot reconciliation, and
set ops (UNION / INTERSECT / EXCEPT [ALL], unionByName with schema
evolution).

Reference anchor: semi/anti join generalize the incremental-skip
anti-join (fetch_legal_docs.py:41-43, SURVEY.md A-6). Everything else
is Layer-B engine surface (SURVEY.md §2.B). Scale notes per query: dims
broadcast, aggregate-before-join shrinks both sides to |keys| rows,
and no theta join puts a fact table on both sides unbanded.

NOTE: no ``from __future__ import annotations`` here — the pandas
as-of callables are cloudpickled, and string type hints break their
resolution (the pandas_udf hint rule).
"""

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.measures import (
    EVENTS_FINITE_SQL,
    clean_measures,
)
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------
# Outer joins. Left join preserving zero-order customers; full outer
# reconciling two aggregates. Scale: aggregate-before-join shrinks
# both sides to |keys| rows ahead of the join shuffle.
# --------------------------------------------------------------------
@register(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey)                        AS order_cnt,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="left outer join: customers incl. those with zero orders",
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "join_full_nation_balance",
    oracle="""
    SELECT COALESCE(c.nk, s.nk)        AS nationkey,
           ROUND(COALESCE(c.cust_bal, 0), 2) AS cust_bal,
           ROUND(COALESCE(s.supp_bal, 0), 2) AS supp_bal
    FROM (SELECT c_nationkey AS nk, SUM(c_acctbal) AS cust_bal
          FROM customer GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey AS nk, SUM(s_acctbal) AS supp_bal
               FROM supplier GROUP BY s_nationkey) s
      ON c.nk = s.nk
    """,
    doc="full outer join reconciling customer vs supplier balances",
)
def join_full_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum("c_acctbal").alias("cust_bal"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum("s_acctbal").alias("supp_bal"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.round(F.coalesce("cust_bal", F.lit(0.0)), 2).alias("cust_bal"),
        F.round(F.coalesce("supp_bal", F.lit(0.0)), 2).alias("supp_bal"),
    )


# --------------------------------------------------------------------
# Semi / anti joins — the generalization of the reference's
# incremental-skip (fetch_legal_docs.py:41-43 = left_anti against the
# sink listing). Scale: both avoid materializing the right side's
# payload; anti-join against a sink listing is how incremental 100 TB
# reprocessing stays incremental.
# --------------------------------------------------------------------
@register(
    "semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="left semi join (EXISTS)",
)
def semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, orders.o_custkey == cust.c_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="left anti join (NOT EXISTS) — A-6 incremental-skip shape",
)
def anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, orders.o_custkey == cust.c_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------
# Non-equi (theta) join. Spark executes this as broadcast-nested-loop;
# acceptable because both sides are dimension-sized. Documented cost:
# never put a fact table on both sides of a pure theta join at scale —
# band it (add a coarse equi bucket) first.
# --------------------------------------------------------------------
@register(
    "theta_nation_pairs",
    oracle="""
    SELECT a.n_regionkey AS regionkey, COUNT(*) AS pair_cnt
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    GROUP BY a.n_regionkey
    """,
    doc="non-equi self join: unordered nation pairs within a region",
)
def theta_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .groupBy(F.col("a.n_regionkey").alias("regionkey"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


# --------------------------------------------------------------------
# As-of join: for each 'error' event, the user's most recent 'purchase'
# at or before it. Spark lacks a native as-of join, so: range join on
# (user, ts<=ts) then row_number()==1 — with the range pre-banded by
# the user_id equi key, Catalyst plans a hash join + window, not a
# cartesian. Oracle uses DuckDB's native ASOF JOIN.
# Scale: the window partitions by the error event id — no global sort;
# skewed users are handled by AQE skew-join on the equi key.
# --------------------------------------------------------------------
@register(
    "asof_error_prev_purchase",
    oracle="""
    WITH err AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'),
         pur AS (
           SELECT user_id, ts, MAX(event_id) AS p_event_id
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, ts
         )
    SELECT e.event_id, e.user_id, p.p_event_id AS prev_purchase_id
    FROM err e ASOF JOIN pur p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc="as-of join: nearest purchase ≤ each error event, per user",
)
def asof_error_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    # dedup purchases on (user, ts) so the as-of pick is deterministic
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("p_event_id"))
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            "p_event_id",
        )
    )
    joined = err.join(
        pur,
        (err.user_id == pur.p_user_id) & (pur.p_ts <= err.ts),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(F.desc("p_ts"), F.desc("p_event_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("event_id", "user_id", F.col("p_event_id").alias("prev_purchase_id"))
    )


# --------------------------------------------------------------------
# Set operations + distinct.
# --------------------------------------------------------------------
@register(
    "set_except_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="EXCEPT: customers with finished but no open orders",
)
def set_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where("o_orderstatus = 'F'").select(F.col("o_custkey").alias("custkey"))
    o = orders.where("o_orderstatus = 'O'").select(F.col("o_custkey").alias("custkey"))
    # subtract = EXCEPT DISTINCT (exceptAll would keep leftover multiplicity)
    return f.subtract(o)


@register(
    "set_intersect_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT: customers with both finished and open orders",
)
def set_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where("o_orderstatus = 'F'").select(F.col("o_custkey").alias("custkey"))
    o = orders.where("o_orderstatus = 'O'").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(o)


@register(
    "set_union_distinct_nations",
    oracle="""
    SELECT nk FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION
      SELECT s_nationkey AS nk FROM supplier
    )
    """,
    doc="UNION DISTINCT across two sources",
)
def set_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


# --------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape): order priority counts for orders
# having at least one line shipped after the order date.
# Scale: planned as a left-semi join — no per-row subquery execution.
# --------------------------------------------------------------------
@register(
    "exists_late_shipment_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_cnt
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
    doc="correlated EXISTS via semi join (TPC-H Q4 shape)",
)
def exists_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_cnt"))


# --------------------------------------------------------------------
# Scalar subquery: customers above the global average balance.
# Scale: the scalar aggregate is one tiny job whose result broadcasts
# into the filter — never a per-row recomputation.
# --------------------------------------------------------------------
@register(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
    doc="scalar subquery in a filter predicate",
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("v_customer_scalar")
    return spark.sql(
        """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM v_customer_scalar
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM v_customer_scalar)
        """
    )


# --------------------------------------------------------------------
# Multiset EXCEPT ALL (set_except_custkeys is the distinct EXCEPT).
# --------------------------------------------------------------------
@register(
    "exceptall_order_status",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus IN ('F','P')
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="EXCEPT ALL multiset semantics (leftover multiplicity kept)",
)
def exceptall_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    fp = orders.where(F.col("o_orderstatus").isin("F", "P")).select(
        F.col("o_custkey").alias("custkey")
    )
    o = orders.where("o_orderstatus = 'O'").select(F.col("o_custkey").alias("custkey"))
    return fp.exceptAll(o)


@register(
    "scd2_merge_emulation",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_acctbal + 1000 AS new_bal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    closed AS (  -- current rows being superseded get an end marker
      SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal,
             FALSE AS is_current, 1 AS version
      FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
    ),
    untouched AS (
      SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal,
             TRUE AS is_current, 1 AS version
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
    ),
    fresh AS (
      SELECT c_custkey, ROUND(new_bal, 2) AS acctbal,
             TRUE AS is_current, 2 AS version
      FROM updates
    )
    SELECT * FROM closed UNION ALL SELECT * FROM untouched UNION ALL SELECT * FROM fresh
    """,
    doc="SCD2 / MERGE INTO emulated without a lakehouse format: "
    "semi/anti-join splits + union build the new version history "
    "(the pyspark_guide 'CDC without Delta' pattern)",
)
def scd2_merge_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 1000).alias("new_bal")
    )
    closed = (
        cust.join(updates, "c_custkey", "left_semi")
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit(False).alias("is_current"),
            F.lit(1).alias("version"),
        )
    )
    untouched = (
        cust.join(updates, "c_custkey", "left_anti")
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit(True).alias("is_current"),
            F.lit(1).alias("version"),
        )
    )
    fresh = updates.select(
        "c_custkey",
        F.round("new_bal", 2).alias("acctbal"),
        F.lit(True).alias("is_current"),
        F.lit(2).alias("version"),
    )
    return closed.unionByName(untouched).unionByName(fresh)


@register(
    "asof_merge_asof_pandas",
    oracle="""
    WITH err AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'),
         pur AS (
           SELECT user_id, ts, MAX(event_id) AS p_event_id
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, ts
         )
    SELECT e.event_id, e.user_id, p.p_event_id AS prev_purchase_id
    FROM err e ASOF JOIN pur p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc="as-of join, second implementation: per-user applyInPandas with "
    "pd.merge_asof (the pandas path from the guide) — SAME DuckDB ASOF "
    "oracle as the window-based asof_error_prev_purchase, so the two "
    "independent implementations are proven equivalent. Scale: groups "
    "are per-user Arrow batches; the shuffle key is user_id.",
)
def asof_merge_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        err = (
            pdf[pdf["event_type"] == "error"][["event_id", "ts", "user_id"]]
            .sort_values("ts", kind="mergesort")
        )
        pur = (
            pdf[pdf["event_type"] == "purchase"]
            .groupby("ts", as_index=False)["event_id"].max()
            .rename(columns={"event_id": "prev_purchase_id"})
            .sort_values("ts", kind="mergesort")
        )
        if len(err) == 0 or len(pur) == 0:
            return pd.DataFrame(
                columns=["event_id", "user_id", "prev_purchase_id"]
            ).astype({"event_id": "int64", "user_id": "int64", "prev_purchase_id": "int64"})
        merged = pd.merge_asof(err, pur, on="ts", direction="backward")
        out = merged.dropna(subset=["prev_purchase_id"])[
            ["event_id", "user_id", "prev_purchase_id"]
        ]
        return out.astype(
            {"event_id": "int64", "user_id": "int64", "prev_purchase_id": "int64"}
        )

    return ev.groupBy("user_id").applyInPandas(
        per_user, schema="event_id long, user_id long, prev_purchase_id long"
    )


@register(
    "interval_join_error_purchase",
    oracle="""
    SELECT e.event_id AS e_id, p.event_id AS p_id
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts >= e.ts - INTERVAL 1 HOUR
     AND p.ts <= e.ts
    """,
    doc="interval (event-time range) join: purchases within the hour "
    "preceding each error, banded by the user equi-key. Batch twin of "
    "the watermarked stream-stream join in streaming tests; sub-µs "
    "ns-truncation can't flip the hour-scale range predicate.",
)
def interval_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.where("event_type = 'error'").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return e.join(
        p,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts")),
    ).select("e_id", "p_id")


@register(
    "snapshot_diff_reconcile",
    oracle="""
    WITH old_snap AS (
      SELECT event_id, event_type, value
      FROM events WHERE event_id % 7 != 0
    ),
    new_snap AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
               AS value
      FROM events WHERE event_id % 5 != 0
    ),
    diff AS (
      SELECT COALESCE(o.event_id, n.event_id) AS event_id,
             CASE
               WHEN o.event_id IS NULL THEN 'added'
               WHEN n.event_id IS NULL THEN 'removed'
               WHEN o.event_type IS NOT DISTINCT FROM n.event_type
                AND o.value IS NOT DISTINCT FROM n.value
                 THEN 'unchanged'
               ELSE 'changed'
             END AS status,
             CASE WHEN o.event_id IS NOT NULL AND n.event_id IS NOT NULL
                   AND o.value IS DISTINCT FROM n.value
                  THEN 1 ELSE 0 END AS value_changed,
             CASE WHEN o.event_id IS NOT NULL AND n.event_id IS NOT NULL
                   AND o.event_type IS DISTINCT FROM n.event_type
                  THEN 1 ELSE 0 END AS type_changed
      FROM old_snap o FULL OUTER JOIN new_snap n
        ON o.event_id = n.event_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_changed) AS BIGINT) AS n_value_changed,
           CAST(SUM(type_changed) AS BIGINT) AS n_type_changed
    FROM diff GROUP BY status
    """,
    doc="SNAPSHOT DIFF / TABLE RECONCILIATION: classify every key "
    "across two table versions as added / removed / changed / "
    "unchanged with per-column change counts — the audit a lakehouse "
    "pipeline runs after a backfill ('what did this job actually "
    "touch?') and the inverse of scd2_merge_emulation (which APPLIES "
    "changes; this DETECTS them). The two snapshots are derived "
    "deterministically from events (old drops event_id % 7 == 0, new "
    "drops % 5 == 0 and doubles value on % 3 == 0) so adds, removes "
    "and in-place changes all genuinely occur. Column comparison is "
    "NULL-SAFE (IS [NOT] DISTINCT FROM / <=>): a NULL -> value "
    "transition counts as a change, NULL == NULL does not — the "
    "semantics a naive = comparison silently gets wrong on nullable "
    "columns. Scale: ONE full-outer shuffle join on the key (the "
    "minimal possible plan for a diff), then a map-side-combined "
    "4-row aggregate; at 100 TB both sides are bucketed/sorted on "
    "the key and the join is zero-exchange.",
)
def snapshot_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    old_snap = ev.where(F.col("event_id") % 7 != 0).select(
        F.col("event_id").alias("o_id"),
        F.col("event_type").alias("o_type"),
        F.col("value").alias("o_value"),
    )
    new_snap = ev.where(F.col("event_id") % 5 != 0).select(
        F.col("event_id").alias("n_id"),
        F.col("event_type").alias("n_type"),
        F.when(F.col("event_id") % 3 == 0, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("n_value"),
    )
    j = old_snap.join(
        new_snap, F.col("o_id") == F.col("n_id"), "full_outer"
    )
    same_type = F.col("o_type").eqNullSafe(F.col("n_type"))
    same_value = F.col("o_value").eqNullSafe(F.col("n_value"))
    both = F.col("o_id").isNotNull() & F.col("n_id").isNotNull()
    status = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(same_type & same_value, "unchanged")
        .otherwise("changed")
    )
    diff = j.select(
        status.alias("status"),
        F.when(both & ~same_value, 1).otherwise(0).alias("value_changed"),
        F.when(both & ~same_type, 1).otherwise(0).alias("type_changed"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value_changed").alias("n_value_changed"),
        F.sum("type_changed").alias("n_type_changed"),
    )


@register(
    "lateral_top2_orders",
    oracle="""
    SELECT c_custkey, l.o_orderkey, ROUND(l.o_totalprice, 2) AS price
    FROM customer,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) l
    WHERE c_custkey < 200
    """,
    doc="LATERAL correlated subquery with per-row ORDER BY ... LIMIT: "
    "top-2 orders per customer. Catalyst de-correlates this into a "
    "ranked window join — same plan family as the explicit "
    "row_number() spelling, so there is no per-customer re-scan; at "
    "100 TB it is one shuffle on custkey, not N correlated probes.",
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_lat_orders")
    return spark.sql(
        """
        SELECT c_custkey, l.o_orderkey, ROUND(l.o_totalprice, 2) AS price
        FROM v_lat_customer,
             LATERAL (SELECT o_orderkey, o_totalprice
                      FROM v_lat_orders
                      WHERE o_custkey = c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      LIMIT 2) l
        WHERE c_custkey < 200
        """
    )


@register(
    "fuzzy_pairs_levenshtein",
    oracle="""
    SELECT s1.s_suppkey AS k1, s2.s_suppkey AS k2,
           levenshtein(s1.s_name, s2.s_name) AS edit_dist
    FROM supplier s1 JOIN supplier s2
      ON s1.s_suppkey < s2.s_suppkey
     AND abs(length(s1.s_name) - length(s2.s_name)) <= 1
     AND levenshtein(s1.s_name, s2.s_name) <= 1
    """,
    doc="fuzzy self-match: supplier-name pairs within edit distance 1 "
    "(entity-resolution blocking shape). Non-equi predicate -> "
    "broadcast-nested-loop join; the cheap length-difference guard "
    "short-circuits before the O(nm) Levenshtein DP on each pair. At "
    "scale you'd block first (length bucket / first-k-chars / MinHash "
    "as in dedup.py) so the BNLJ only sees candidate pairs; this query "
    "documents the verify step of that pipeline.",
)
def fuzzy_pairs_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    s1 = sup.select(F.col("s_suppkey").alias("k1"), F.col("s_name").alias("n1"))
    s2 = sup.select(F.col("s_suppkey").alias("k2"), F.col("s_name").alias("n2"))
    return (
        s1.join(
            F.broadcast(s2),
            (F.col("k1") < F.col("k2"))
            & (F.abs(F.length("n1") - F.length("n2")) <= 1)
            & (F.levenshtein("n1", "n2") <= 1),
        )
        .select("k1", "k2", F.levenshtein("n1", "n2").alias("edit_dist"))
    )


@register(
    "fuzzy_vocab_damerau",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
                                         x -> x != '')) AS tok
      FROM documents
    )
    SELECT v1.tok AS t1, v2.tok AS t2,
           levenshtein(v1.tok, v2.tok) AS lev_dist,
           damerau_levenshtein(v1.tok, v2.tok) AS dl_dist
    FROM vocab v1 JOIN vocab v2
      ON v1.tok < v2.tok
     AND damerau_levenshtein(v1.tok, v2.tok) <= 2
    """,
    doc="TRANSPOSITION-AWARE FUZZY VOCABULARY MATCH: all corpus-token "
    "pairs within TRUE Damerau-Levenshtein distance 2, with the plain "
    "Levenshtein distance alongside so the transposition wins are "
    "visible (dl < lev exactly where adjacent swaps are involved — "
    "the typo class plain edit distance double-counts). The distance "
    "itself is from scratch: Spark has no damerau_levenshtein "
    "builtin, so functions/strdist.py folds the full Lowrance-Wagner "
    "matrix up with nested `aggregate` HOFs — a pure JVM-side SQL "
    "expression, no UDF, verified against DuckDB's builtin on 400 "
    "random cases + pinned discriminators (CA/ABC=2 proves it's the "
    "unrestricted variant, not optimal-string-alignment). Spark side "
    "prunes with |len diff| <= 2 AND levenshtein <= 4 before the "
    "expensive DP — sound because dl <= 2 implies both (each edit "
    "changes length by <= 1, and lev <= 2*dl) — so the builtin cheap "
    "distance gates the HOF one; the oracle needs no such guard and "
    "the result sets are identical. Sibling: "
    "fuzzy_pairs_levenshtein (builtin distance, supplier names). "
    "Scale: the vocabulary is Heaps-bounded, the all-pairs BNLJ is "
    "vocab x vocab (never docs x docs); at 100 TB you block the "
    "vocab by (length, first char) into an equi-join first — the "
    "guard predicates here are exactly those blocking keys.",
)
def fuzzy_vocab_damerau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ethiopia_legal_etl_spark.functions.strdist import (
        damerau_levenshtein,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda w: w != "")
            ).alias("tok")
        )
        .distinct()
    )
    v1 = vocab.select(F.col("tok").alias("t1"))
    v2 = vocab.select(F.col("tok").alias("t2"))
    dl = damerau_levenshtein("t1", "t2")
    return (
        v1.join(
            F.broadcast(v2),
            (F.col("t1") < F.col("t2"))
            # cheap guards (supersets of dl <= 2): prune before the DP
            & (F.abs(F.length("t1") - F.length("t2")) <= 2)
            & (F.levenshtein("t1", "t2") <= 4)
            & (dl <= 2),
        )
        .select(
            "t1",
            "t2",
            F.levenshtein("t1", "t2").alias("lev_dist"),
            dl.alias("dl_dist"),
        )
    )


@register(
    "fuzzy_vocab_jaro_winkler",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
                                         x -> x != '')) AS tok
      FROM documents
    )
    SELECT v1.tok AS t1, v2.tok AS t2,
           ROUND(jaro_winkler_similarity(v1.tok, v2.tok), 6) + 0 AS jw
    FROM vocab v1 JOIN vocab v2 ON v1.tok < v2.tok
    WHERE jaro_winkler_similarity(v1.tok, v2.tok) >= 0.7
    """,
    doc="JARO-WINKLER FUZZY MATCH over the corpus token vocabulary — "
    "the third record-linkage distance next to fuzzy_pairs_levenshtein "
    "(builtin) and fuzzy_vocab_damerau (from-scratch DL; same vocab "
    "scaffolding, deliberately: each scalar-distance FUNCTION gets "
    "one oracle-checked carrier): JW is the census-linkage standard "
    "(Winkler 1990) that rewards shared prefixes, which edit "
    "distances ignore. The function is from scratch "
    "(functions/strdist.py): the greedy windowed match folds over "
    "positions with (used-flags, matched-chars) as HOF state, "
    "transpositions compare the two matched sequences, prefix boost "
    "l<=4 / p=0.1 applies only above jaro 0.7 — probed bit-identical "
    "to DuckDB's builtin on 600+ random cases plus the standard "
    "discriminators (including the ''/'' = 0.0 and window-0 "
    "'ab'/'ba' = 0.0 quirks). ROUND(6) on both sides anyway: the "
    "builtin's internal float op order is an implementation detail. "
    "Scale: vocab x vocab is Heaps-bounded; on a real corpus the "
    "same expression runs on blocked candidate pairs exactly like "
    "the damerau entry.",
)
def fuzzy_vocab_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ethiopia_legal_etl_spark.functions.strdist import (
        jaro_winkler_similarity,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda w: w != "")
            ).alias("tok")
        )
        .distinct()
    )
    v1 = vocab.select(F.col("tok").alias("t1"))
    v2 = vocab.select(F.col("tok").alias("t2"))
    jw = jaro_winkler_similarity("t1", "t2")
    return (
        v1.join(F.broadcast(v2), (F.col("t1") < F.col("t2")) & (jw >= 0.7))
        .select("t1", "t2", (F.round(jw, 6) + 0).alias("jw"))
    )


_ASOF_SCHEMA = "event_id long, user_id long, prev_purchase_id long"


def _merge_asof_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Per-user merge_asof: for each error, the latest purchase at or
    before it (backward direction, exact matches allowed = ts >= p_ts).
    Keys only on the right (purchases, no errors) emit nothing."""
    if left.empty:
        return pd.DataFrame(
            {
                "event_id": pd.Series(dtype="int64"),
                "user_id": pd.Series(dtype="int64"),
                "prev_purchase_id": pd.Series(dtype="Int64"),
            }
        )
    left = left.sort_values("ts", kind="mergesort")
    if right.empty:
        out = left[["event_id", "user_id"]].copy()
        out["prev_purchase_id"] = pd.array([None] * len(out), dtype="Int64")
        return out
    right = right[["p_ts", "p_event_id"]].sort_values("p_ts", kind="mergesort")
    merged = pd.merge_asof(
        left, right, left_on="ts", right_on="p_ts", direction="backward"
    )
    return pd.DataFrame(
        {
            "event_id": merged["event_id"],
            "user_id": merged["user_id"],
            "prev_purchase_id": merged["p_event_id"].astype("Int64"),
        }
    )


@register(
    "asof_merge_cogrouped",
    oracle="""
    WITH err AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'),
         pur AS (
           SELECT user_id, ts, MAX(event_id) AS p_event_id
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, ts
         )
    SELECT e.event_id, e.user_id, p.p_event_id AS prev_purchase_id
    FROM err e ASOF LEFT JOIN pur p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc="LEFT as-of join via cogrouped applyInPandas + pd.merge_asof: "
    "both sides shuffle ONCE on the user_id cogroup key, then each "
    "user's (errors, purchases) frame pair merges in a single Arrow "
    "batch — the pandas-native spelling of the as-of. The JVM "
    "range-join+window variant (asof_error_prev_purchase) is the fast "
    "path; this entry proves the cogroup plumbing and the LEFT "
    "semantics (no prior purchase -> null). Scale: per-group work is "
    "O(|err|+|pur|) after an in-memory sort; skewed users bound the "
    "batch — for a pathological single-user dataset prefer the window "
    "variant, which AQE skew-splits.",
)
def asof_merge_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    err = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("event_id", "ts", "user_id")
    )
    # Separate scan + p_-prefixed names for the purchase side: a
    # self-cogroup whose two sides share leaf attributes (same exprIds
    # for ts/user_id) can lose the shared columns from the right Arrow
    # batch after analyzer dedup — independent lineage and disjoint
    # names make the cogroup schema unambiguous in every session.
    # dedup purchases on (user, ts) so the as-of pick is deterministic
    pur = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("p_event_id"))
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            "p_event_id",
        )
    )
    return (
        err.groupby("user_id")
        .cogroup(pur.groupby("p_user_id"))
        .applyInPandas(_merge_asof_group, schema=_ASOF_SCHEMA)
    )


@register(
    "join_nullsafe_eq",
    oracle=f"""
    WITH graded AS (
      SELECT event_type,
             CASE WHEN value >= 100 THEN 'high'
                  WHEN value >= 50 THEN 'mid' END AS grade
      FROM {EVENTS_FINITE_SQL}
    ),
    a AS (SELECT grade, COUNT(*) AS purchase_cnt FROM graded
          WHERE event_type = 'purchase' GROUP BY grade),
    b AS (SELECT grade, COUNT(*) AS click_cnt FROM graded
          WHERE event_type = 'click' GROUP BY grade)
    SELECT a.grade, a.purchase_cnt, b.click_cnt
    FROM a JOIN b ON a.grade IS NOT DISTINCT FROM b.grade
    """,
    doc="null-safe equality join (eqNullSafe / <=>): purchase vs click "
    "counts per derived value grade (sub-50 values grade to NULL = "
    "unknown), where the NULL grade is a first-class key that matches "
    "itself — a plain equi-join would silently drop it. DuckDB spells "
    "it IS NOT DISTINCT FROM. Scale: "
    "both sides are post-aggregate (|grades| rows), so the join is a "
    "broadcast; on large sides <=> hashes NULL like any value, no "
    "skew surprise beyond an actual NULL hot key (salt if so). "
    "Measure hygiene (the proportion_wilson_ci class): a NaN/Inf "
    "reading passes `value >= 100` on BOTH engines (non-finite sorts "
    "greatest) and would silently grade 'high' — clean_measures maps "
    "it to NULL, i.e. the 'unknown' grade, which is exactly what a "
    "failed reading is (and the NULL-grade key is this entry's whole "
    "point).",
)
def join_nullsafe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    grade = (
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise(F.lit(None).cast("string"))
    )
    a = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(grade.alias("grade"))
        .agg(F.count(F.lit(1)).alias("purchase_cnt"))
    )
    b = (
        ev.where(F.col("event_type") == "click")
        .groupBy(grade.alias("b_grade"))
        .agg(F.count(F.lit(1)).alias("click_cnt"))
    )
    return (
        a.join(b, a.grade.eqNullSafe(b.b_grade), "inner")
        .select("grade", "purchase_cnt", "click_cnt")
    )


@register(
    "union_by_name_evolution",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders WHERE o_custkey < 100
    UNION ALL BY NAME
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price,
           o_orderpriority AS priority
    FROM orders WHERE o_custkey >= 100 AND o_custkey < 200
    """,
    doc="schema-evolution union: v1 rows lack the priority column v2 "
    "added; unionByName(allowMissingColumns=True) aligns by NAME and "
    "fills the missing column with NULL (DuckDB: UNION ALL BY NAME). "
    "Positional union would silently misalign. This is the read path "
    "for a dataset whose later files gained columns — the batch twin "
    "of the parquet mergeSchema test in test_sources.py. Scale: pure "
    "narrow concat, zero shuffle.",
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.where(F.col("o_custkey") < 100).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )
    v2 = orders.where(
        (F.col("o_custkey") >= 100) & (F.col("o_custkey") < 200)
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_orderpriority").alias("priority"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# --------------------------------------------------------------------
# Inline VALUES dimension + broadcast join.
# --------------------------------------------------------------------
_TIERS = [
    ("1-URGENT", "critical"),
    ("2-HIGH", "critical"),
    ("3-MEDIUM", "standard"),
    ("4-NOT SPECIFIED", "relaxed"),
    ("5-LOW", "relaxed"),
]


@register(
    "values_inline_priority_tier",
    oracle="""
    SELECT t.tier,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN (VALUES ('1-URGENT','critical'), ('2-HIGH','critical'),
                 ('3-MEDIUM','standard'), ('4-NOT SPECIFIED','relaxed'),
                 ('5-LOW','relaxed')) t(priority, tier)
      ON o.o_orderpriority = t.priority
    GROUP BY t.tier
    """,
    doc="inline VALUES dimension: a 5-row driver-local mapping table "
    "(priority -> SLA tier) broadcast-joined to orders, then "
    "aggregated. The canonical enrich-with-tiny-lookup shape — at "
    "100 TB the dim stays a broadcast (no shuffle of the fact side "
    "for the join; the only exchange is the post-join tier "
    "aggregation, pre-reduced map-side). Money policy: exact DECIMAL "
    "sum cast to DOUBLE at the end.",
)
def values_inline_priority_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(_TIERS, "priority string, tier string")
    return (
        orders.join(
            F.broadcast(tiers), orders.o_orderpriority == tiers.priority
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
