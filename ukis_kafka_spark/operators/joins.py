"""Join operators (SURVEY.md §2.2 "Joins").

Scale notes baked into each query:
- Dim tables (region/nation/supplier) are always broadcast — at 100 TB
  the fact side never shuffles for those joins.
- Fact⋈fact equi joins rely on Catalyst's sort-merge/shuffle-hash
  choice + AQE; keys here (orderkey/custkey) are near-uniform so no
  salting is needed, and AQE skew-join covers residual skew.
- The as-of join deliberately avoids a join blow-up: it is a
  union + last-non-null window, O(n log n) per user partition instead
  of O(events × purchases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashsafe import DEC
from ..registry import query
from ..sources import load_table


@query(
    "q_join_inner",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_left",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000) o
  ON o.o_custkey = c.c_custkey
""",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return c.join(o, o.o_custkey == c.c_custkey, "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_right",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM orders WHERE o_totalprice > 250000) o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_full",
    oracle="""
SELECT a.user_id AS click_user, a.n_click, b.user_id AS buy_user, b.n_buy
FROM (SELECT user_id, count(*) AS n_click FROM events WHERE event_type = 'click' AND value > 95 GROUP BY user_id) a
FULL JOIN (SELECT user_id, count(*) AS n_buy FROM events WHERE event_type = 'purchase' AND value > 95 GROUP BY user_id) b
  ON a.user_id = b.user_id
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("value") > 95)
    a = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_click"))
        .select(F.col("user_id").alias("click_user"), "n_click")
    )
    b = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_buy"))
        .select(F.col("user_id").alias("buy_user"), "n_buy")
    )
    return a.join(b, a.click_user == b.buy_user, "full")


@query(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_broadcast",
    oracle="""
SELECT r.r_name, count(*) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the small dim — at scale the fact side
    streams map-side with zero shuffle for the join."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "q_join_multikey",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, g.n_same
FROM events e
JOIN (SELECT user_id, event_type, count(*) AS n_same FROM events GROUP BY user_id, event_type) g
  ON e.user_id = g.user_id AND e.event_type = g.event_type
WHERE e.value > 99
""",
)
def q_join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_same"))
    return (
        e.where(F.col("value") > 99)
        .join(g, ["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "n_same")
    )


@query(
    "q_join_theta_range",
    oracle="""
SELECT o.o_orderkey, b.band_name
FROM orders o
JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0), ('high', 150000.0, 300000.0)) b(band_name, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
WHERE o.o_orderstatus = 'F'
""",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join. The band side is 3 rows, so Spark plans a
    BroadcastNestedLoopJoin — the correct strategy: the fact side
    streams once with no shuffle."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    # SQL VALUES plans as a LocalTableScan (no pickled-RDD scan)
    bands = spark.sql(
        "SELECT * FROM VALUES ('low', 0D, 50000D), ('mid', 50000D, 150000D),"
        " ('high', 150000D, 300000D) AS b(band_name, lo, hi)"
    )
    return o.join(
        F.broadcast(bands),
        (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
    ).select("o_orderkey", "band_name")


@query(
    "q_join_asof",
    oracle="""
SELECT e.event_id, e.user_id, p.value AS last_purchase_value
FROM events e
ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the value of the latest preceding
    (<= ts) purchase by the same user.

    Spark has no batch as-of join, and a join + filter blows up
    O(events × purchases). Scalable re-expression: union the purchase
    rows as markers into the event stream, then take
    last(marker, ignorenulls) over (user, ts, is_marker-first) — one
    shuffle by user_id, O(n log n) per partition, no blow-up. Events
    with no preceding purchase drop out (inner as-of semantics).
    """
    e = load_table(spark, sf_dir, "events")
    probe = e.select("event_id", "user_id", "ts", F.lit(None).cast("double").alias("pval"), F.lit(1).alias("is_probe"))
    marker = (
        e.where(F.col("event_type") == "purchase")
        .select(F.lit(None).cast("long").alias("event_id"), "user_id", "ts", F.col("value").alias("pval"), F.lit(0).alias("is_probe"))
    )
    # Markers sort before probes at equal ts (is_probe asc) so ts-equal
    # purchases are visible to the probe (>= semantics).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        probe.unionByName(marker)
        .withColumn("last_purchase_value", F.last("pval", ignorenulls=True).over(w))
        .where((F.col("is_probe") == 1) & F.col("last_purchase_value").isNotNull())
        .select("event_id", "user_id", "last_purchase_value")
    )


@query(
    "q_join_cross",
    oracle="""
SELECT r.r_name, s.s_suppkey FROM region r CROSS JOIN supplier s
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    return r.crossJoin(s).select("r_name", "s_suppkey")


@query(
    "q_subq_scalar",
    oracle="""
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > (
  SELECT CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / COUNT(*)
  FROM part)
""",
)
def q_subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery, hand-decorrelated: 1-row aggregate cross-joined
    (broadcast) against the table — the plan Catalyst itself produces
    for an uncorrelated scalar subquery."""
    p = load_table(spark, sf_dir, "part")
    avg_df = p.agg(
        (F.sum(F.col("p_retailprice").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("thr")
    )
    return (
        p.crossJoin(F.broadcast(avg_df))
        .where(F.col("p_retailprice") > F.col("thr"))
        .select("p_partkey", "p_retailprice")
    )


@query(
    "q_join_bucketed",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 200000
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both sides bucketed by the join key
    into the same bucket count, so the join runs with NO shuffle of
    either side — the strategy for repeated fact⋈fact joins at 100 TB,
    where sort-merge exchanges dominate. The plan is asserted
    shuffle-free on the fact side in tests/test_plans.py.

    Bucket files are written ONCE per corpus into the shared build-once
    cache (a real deployment buckets at ingest and joins many times);
    each run only registers metadata-only external tables over the
    cached files (bucket spec comes from the DDL, bucket ids from the
    filenames Spark wrote)."""
    import os
    import uuid

    from ..cache import cache_publish, table_fingerprint

    def build(into: str) -> None:
        # saveAsTable is the only writer that emits bucketed filenames;
        # external path → DROP TABLE keeps the files, only metadata goes
        tmp_o, tmp_c = "bkt_build_o_" + uuid.uuid4().hex[:8], "bkt_build_c_" + uuid.uuid4().hex[:8]
        (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") > 200000)
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .format("parquet")
            .option("path", os.path.join(into, "orders"))
            .saveAsTable(tmp_o)
        )
        (
            load_table(spark, sf_dir, "customer")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .format("parquet")
            .option("path", os.path.join(into, "customer"))
            .saveAsTable(tmp_c)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_o}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp_c}")

    # Keyed on the tables the bucket files are actually built FROM
    # (orders + customer), not the default events fingerprint — a
    # regenerated orders.parquet must invalidate the cached buckets.
    # The leading int is a logic-version token: bump it whenever the
    # build function (bucket count/sort/filter) changes.
    cached = cache_publish(
        build,
        (
            "bucketed", 2,
            table_fingerprint(sf_dir, "orders"),
            table_fingerprint(sf_dir, "customer"),
        ),
    )
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"orders_b_{suffix}", f"customer_b_{suffix}"
    o_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in load_table(spark, sf_dir, "orders").schema.fields
    )
    c_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in load_table(spark, sf_dir, "customer").schema.fields
    )
    try:
        spark.sql(
            f"""CREATE TABLE {t_orders} ({o_schema}) USING PARQUET
            CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
            LOCATION '{os.path.join(cached, "orders")}'"""
        )
        spark.sql(
            f"""CREATE TABLE {t_cust} ({c_schema}) USING PARQUET
            CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS
            LOCATION '{os.path.join(cached, "customer")}'"""
        )
        o = spark.table(t_orders)
        c = spark.table(t_cust)
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .select("o_orderkey", "o_totalprice", "c_mktsegment")
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


@query(
    "q_join_salted",
    oracle="""
SELECT e.event_id, e.user_id, u.user_total
FROM events e
JOIN (SELECT user_id, CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS user_total
      FROM events GROUP BY user_id) u
  ON e.user_id = u.user_id
WHERE e.event_type = 'error'
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi join via explicit salting: the (potentially
    hot-keyed) fact side appends salt = event_id % 8 to its key; the
    dim side is exploded 8× with every salt value. A hot key's rows
    then spread across 8 reducers instead of one. Results are
    oracle-identical to the plain join — salting is a physical rewrite
    only. (AQE's skew-join split handles this automatically for
    sort-merge joins; the explicit form is for aggregation-free paths
    and demonstrates the technique.)"""
    n_salt = 8
    e = load_table(spark, sf_dir, "events")
    fact = e.where(F.col("event_type") == "error").withColumn(
        "salt", (F.col("event_id") % n_salt).cast("int")
    )
    dim = (
        e.groupBy("user_id")
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("user_total"))
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        .withColumnRenamed("user_id", "d_user_id")
    )
    return fact.join(
        dim, (fact.user_id == dim.d_user_id) & (fact.salt == dim.salt)
    ).select("event_id", "user_id", "user_total")


@query(
    "q_sql_q3",
    oracle="""
SELECT l.l_orderkey,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_sql_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority query through the SQL frontend
    (the engine exposes both APIs; this one goes parser → Catalyst).
    3-table join with selective pushed filters, exact-decimal revenue,
    top-10 without global sort."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_q3")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
               CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS orderdate,
               o.o_orderpriority
        FROM customer_q3 c
        JOIN orders_q3 o ON c.c_custkey = o.o_custkey
        JOIN lineitem_q3 l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


@query(
    "q_exists_subquery",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
""",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL frontend: Catalyst must
    decorrelate it into a left-semi hash join (same physical shape as
    q_join_semi, but arriving via the subquery rewrite path — the form
    analysts actually write)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_ex")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer_ex c
        WHERE EXISTS (SELECT 1 FROM orders_ex o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        """
    )


@query(
    "q_not_exists_subquery",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 40)
""",
)
def q_not_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS → anti-join decorrelation (the null-safe
    way to spell "parts never ordered in bulk"; NOT IN would silently
    return nothing on a NULL key, so the engine surface steers users to
    this form)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_nex")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_nex")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part_nex p
        WHERE NOT EXISTS (SELECT 1 FROM lineitem_nex l
                          WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 40)
        """
    )


@query(
    "q_lateral_topn",
    oracle="""
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) l
WHERE c.c_mktsegment = 'MACHINERY'
""",
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    orders per machinery customer) — the row-generating join form both
    engines support natively; Catalyst decorrelates it into a window
    top-k over the join, so no per-customer re-scan happens at scale."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer_lat c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) l
        WHERE c.c_mktsegment = 'MACHINERY'
        """
    )


@query(
    "q_sql_q5",
    oracle="""
SELECT n.n_name,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_sql_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier-volume: a 6-table star join where
    the three dim tables (supplier-side nation, region, and the
    customer's nation equality) prune the fact rows. Plan shape at
    scale: region⋈nation⋈supplier collapse to broadcasts, the
    customer⋈orders⋈lineitem spine is the only shuffled join chain, and
    the c_nationkey = s_nationkey residual runs as a post-join filter —
    no extra shuffle for it."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("c_nationkey") == F.col("s_nationkey"))
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        F.sum(revenue.cast(DEC)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q_sql_q18",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o.o_totalprice,
       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(28,10))) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q_sql_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: an aggregated IN
    subquery (orders whose total quantity > 300) feeding a join back to
    the fact table. Catalyst plans the IN as a left-semi join against
    the pre-aggregated keys; the heavy lineitem aggregate happens once,
    map-side partial first, and only qualifying orderkeys (≈1% of
    orders) reach the 3-table join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .where(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "q_join_nullsafe",
    oracle="""
SELECT COALESCE(CAST(NULLIF(c.c_nationkey, 3) AS VARCHAR), 'NULL') AS join_key,
       COUNT(*) AS n_pairs,
       MIN(c.c_custkey) AS min_cust,
       MIN(s.s_suppkey) AS min_supp
FROM customer c
JOIN supplier s
  ON NULLIF(c.c_nationkey, 3) IS NOT DISTINCT FROM NULLIF(s.s_nationkey, 3)
GROUP BY 1
""",
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out. Catalyst still plans this
    as a hash join (the null-safe comparison is part of the join key),
    so the scale behavior matches a plain equi-join — no fallback to
    nested-loop. NULLs are manufactured with NULLIF (the corpus has
    none natively)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    ck = F.nullif(F.col("c_nationkey"), F.lit(3))
    sk = F.nullif(F.col("s_nationkey"), F.lit(3))
    return (
        c.join(s, ck.eqNullSafe(sk))
        .groupBy(F.coalesce(ck.cast("string"), F.lit("NULL")).alias("join_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("c_custkey").alias("min_cust"),
            F.min("s_suppkey").alias("min_supp"),
        )
    )


@query(
    "q_sql_q10",
    oracle="""
SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
  SELECT c.c_custkey, c.c_name,
         CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
         c.c_acctbal, n.n_name
  FROM customer c
  JOIN orders o   ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    AND l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
)
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q_sql_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top-20 customers by
    revenue lost to returns in one quarter. Plan shape at scale: the
    orderdate quarter filter is pushed to the orders scan and the
    returnflag filter to the lineitem scan *before* either join;
    nation broadcasts; the final top-20 is TakeOrderedAndProject
    (per-partition top-20 then a 20-row driver merge — no global
    sort). The revenue tie-break on c_custkey makes the LIMIT
    deterministic, so the result is hash-checkable."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue.cast(DEC)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q_sql_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)
def q_sql_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check, adapted to this corpus's
    columns (no commitdate/receiptdate here, so 'late' = any line
    shipped >60 days after the order date). Catalyst decorrelates the
    correlated EXISTS into a left-semi join on l_orderkey; the quarter
    filter is pushed to the orders scan; the final aggregate is a
    5-group hash agg. Integer count output — trivially hash-stable."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q4")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q4")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_q4 o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem_q4 l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """
    )


@query(
    "q_sql_q14",
    oracle="""
WITH rev AS (
  SELECT date_part('month', l.l_shipdate) AS ship_month,
         CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                            THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))
                            ELSE CAST(0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS promo_rev,
         CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY date_part('month', l.l_shipdate)
)
SELECT CAST(ship_month AS BIGINT) AS ship_month, promo_rev, total_rev,
       100.0 * promo_rev / total_rev AS promo_pct
FROM rev
""",
)
def q_sql_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion-effect report per ship month. Both
    revenue sums run in exact DECIMAL(28,10) (order-free, hash-safe)
    and only the final ratio is computed in double — IEEE division of
    two identical doubles is bit-identical across engines. Plan shape:
    the shipdate year filter is pushed to the lineitem scan; part
    (small dim) broadcasts; one hash agg on the derived month."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    zero = F.lit(0).cast(DEC)
    agg = (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
    )
    return agg.select(
        "ship_month",
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


@query(
    "q_sql_q19",
    oracle="""
SELECT count(*) AS n_lines,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_sql_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style discounted-revenue query: a disjunction of
    conjunctive brand/size/quantity ranges across both join sides —
    the classic test that the optimizer (a) derives the common
    single-side implications (brand IN (...) reaches the part scan,
    quantity range the lineitem scan) and (b) keeps the residual OR as
    a post-join filter instead of exploding the join. part broadcasts;
    output is one exact-decimal row."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q19")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_q19")
    return spark.sql(
        """
        SELECT count(*) AS n_lines,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM lineitem_q19 l JOIN part_q19 p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
        """
    )


_BIN_W = 1000.0  # totalprice bin width for the binned range join


@query(
    "q_join_range_binned",
    oracle="""
SELECT b.p_partkey,
       count(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS price_sum
FROM (SELECT p_partkey, p_retailprice * 100 - 2000 AS lo, p_retailprice * 100 + 2000 AS hi
      FROM part WHERE p_partkey < 50) b
JOIN orders o ON o.o_totalprice BETWEEN b.lo AND b.hi
GROUP BY b.p_partkey
""",
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join executed as a BINNED EQUI JOIN — the
    at-scale rewrite of q_join_theta_range: each interval explodes into
    the fixed-width bins it covers, each probe row computes its single
    bin, the join runs on the bin key as an ordinary hash join, and the
    exact BETWEEN filters the bin-boundary false positives. A probe row
    can match an interval in exactly one bin (its own), so no dedup is
    needed. This turns an O(n·m) BroadcastNestedLoopJoin into a
    shuffle-partitionable equi join — the only form that survives when
    BOTH sides are large. The oracle stays the plain range join
    (semantics are identical); bin arithmetic is exact double·integer."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 50)
    bands = p.select(
        "p_partkey",
        (F.col("p_retailprice") * 100 - 2000).alias("lo"),
        (F.col("p_retailprice") * 100 + 2000).alias("hi"),
    )
    binned_bands = bands.select(
        "p_partkey",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / _BIN_W).cast("long"),
                F.floor(F.col("hi") / _BIN_W).cast("long"),
            )
        ).alias("bin"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", F.floor(F.col("o_totalprice") / _BIN_W).cast("long").alias("bin")
    )
    return (
        o.join(binned_bands, "bin")
        .where(F.col("o_totalprice").between(F.col("lo"), F.col("hi")))
        .groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("price_sum"),
        )
    )


@query(
    "q_sql_q7",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
)
def q_sql_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume-shipping report: bilateral trade between
    two nations by ship year. Plan shape at scale: both nation dims
    broadcast with their name filters applied UNDER the join (each
    side's disjunct reaches its dim scan), so the 4-table fact spine
    joins shuffle only on orderkey/custkey/suppkey; the final agg is a
    handful of groups."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_q7")
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM supplier_q7 s
        JOIN lineitem_q7 l ON s.s_suppkey = l.l_suppkey
        JOIN orders_q7 o   ON o.o_orderkey = l.l_orderkey
        JOIN customer_q7 c ON c.c_custkey = o.o_custkey
        JOIN nation_q7 n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation_q7 n2  ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        """
    )


@query(
    "q_sql_q8",
    oracle="""
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)) AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
  JOIN region r   ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE CAST(0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS nation_rev,
       CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS total_rev,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE CAST(0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM vol GROUP BY o_year
""",
)
def q_sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: one supplier nation's
    slice of a region's ECONOMY-part purchase volume per order year —
    the deepest join spine in the suite (7 tables). All four dims
    (part-filtered, both nations, region) broadcast; the fact spine
    shuffles once per key change; both revenue sums stay in exact
    DECIMAL until the final double ratio (IEEE-identical division)."""
    for t in ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_q8")
    return spark.sql(
        """
        WITH vol AS (
          SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)) AS volume,
                 n2.n_name AS supp_nation
          FROM part_q8 p
          JOIN lineitem_q8 l ON p.p_partkey = l.l_partkey
          JOIN supplier_q8 s ON s.s_suppkey = l.l_suppkey
          JOIN orders_q8 o   ON o.o_orderkey = l.l_orderkey
          JOIN customer_q8 c ON c.c_custkey = o.o_custkey
          JOIN nation_q8 n1  ON c.c_nationkey = n1.n_nationkey
          JOIN region_q8 r   ON n1.n_regionkey = r.r_regionkey
          JOIN nation_q8 n2  ON s.s_nationkey = n2.n_nationkey
          WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE) AS nation_rev,
               CAST(SUM(volume) AS DOUBLE) AS total_rev,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM vol GROUP BY o_year
        """
    )


@query(
    "q_sql_q9",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS profit,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
)
def q_sql_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit by (nation, order-year).
    Adaptation to this corpus: no partsupp table exists, so profit is
    gross discounted revenue (the ps_supplycost subtrahend is dropped)
    — the plan shape under test is unchanged: a fact⋈fact
    lineitem⋈orders spine, three broadcast dims, a LIKE filter that
    must reach the part scan, and a two-key aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    joined = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, o.o_orderkey == l.l_orderkey)
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(
        F.sum(profit.cast(DEC)).cast("double").alias("profit"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q_sql_q13",
    oracle="""
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q_sql_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: LEFT join so
    order-less customers keep count 0, with the filter in the JOIN
    CONDITION (a WHERE would silently turn the outer join inner — the
    classic Q13 trap), then a second aggregate over the first.
    Adaptation: the o_comment NOT LIKE filter becomes an
    o_orderpriority exclusion (no comment column in this corpus)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q_sql_q15",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(CAST(r.total_revenue AS VARCHAR) AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q_sql_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: half-year revenue per supplier,
    suppliers whose revenue EQUALS the maximum (ties must all
    surface). The max arrives as a broadcast scalar-subquery join;
    the comparison happens in exact DECIMAL (equality on doubles
    would be engine-dependent), and only the final projection casts
    to double."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q_sql_q17",
    oracle="""
WITH agg AS (
  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(28,10))) AS sum_qty,
         COUNT(*) AS n_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT count(*) AS n_small_lines,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS small_qty_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'SMALL'
JOIN agg   ON agg.pk = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(28,10)) * 5 * agg.n_qty < CAST(agg.sum_qty AS DECIMAL(38,10))
""",
)
def q_sql_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: lines whose
    quantity is below 20% of their part's average. The correlated
    average decorrelates into one per-part aggregate joined back to
    the fact scan. The threshold comparison is CROSS-MULTIPLIED into
    exact decimal integers (qty*5*n < sum_qty) — `0.2 * AVG(...)` is a
    rounded decimal quotient, exactly the midpoint-tie class CLAUDE.md
    bans from hash-checked queries. Adaptation: p_container filter →
    p_type = 'SMALL' (no container column; an earlier LIKE 'small%'
    matched NOTHING against this corpus's uppercase types — both
    engines agreed on the empty join, the vacuous-agreement trap the
    round-5 dead-column audit caught)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    agg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_qty"),
    )
    joined = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(agg, F.col("pk") == l.l_partkey)
        .where(
            F.col("l_quantity").cast(DEC) * 5 * F.col("n_qty")
            < F.col("sum_qty").cast("decimal(38,10)")
        )
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("small_qty_revenue"),
    )


@query(
    "q_sql_q22",
    oracle="""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS s, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey AS cntrycode, count(*) AS numcust,
       CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer c, pos
WHERE CAST(c.c_acctbal AS DECIMAL(28,10)) * pos.n > CAST(pos.s AS DECIMAL(38,10))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
GROUP BY c.c_nationkey
""",
)
def q_sql_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style global sales opportunity: customers with
    above-average (positive) balance and NO orders, counted per
    country. The average is a broadcast scalar aggregate compared by
    exact-decimal cross-multiplication (acctbal*n > sum — never a
    quotient), the no-orders condition is a LEFT ANTI join.
    Adaptations: country = c_nationkey (no phone column to prefix);
    "no orders" = no orders over 200k (every customer in this corpus
    has some order, which would make the original vacuous)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    pos = c.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("s"), F.count(F.lit(1)).alias("n")
    )
    rich = c.join(F.broadcast(pos)).where(
        F.col("c_acctbal").cast(DEC) * F.col("n") > F.col("s").cast("decimal(38,10)")
    )
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
    )


@query(
    "q_sql_q2",
    oracle="""
WITH eu_supp AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
),
cost AS (
  SELECT l.l_partkey AS pk, l.l_suppkey AS sk,
         SUM(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS supply_value
  FROM lineitem l JOIN eu_supp s ON s.s_suppkey = l.l_suppkey
  GROUP BY l.l_partkey, l.l_suppkey
),
best AS (
  SELECT pk, sk, supply_value,
         row_number() OVER (PARTITION BY pk ORDER BY supply_value ASC, sk ASC) AS rk
  FROM cost
)
SELECT p.p_partkey, p.p_brand, s.s_name, s.n_name,
       CAST(CAST(b.supply_value AS VARCHAR) AS DOUBLE) AS supply_value
FROM best b
JOIN part p ON p.p_partkey = b.pk AND p.p_size = 5
JOIN eu_supp s ON s.s_suppkey = b.sk
WHERE b.rk = 1
""",
)
def q_sql_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier per part within a region.
    Adaptation: no partsupp table, so a supplier's cost for a part is
    its total shipped value from lineitem (exact DECIMAL — the min is
    then engine-independent, with supplier-id tiebreak). The
    correlated MIN subquery of the original decorrelates into a
    per-part window rank over the region-filtered supply table —
    one shuffle by part, rank pruned before any join back."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") == 5)
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        l.join(eu, l.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("supply_value"))
    )
    # r11 re-plan: the per-part minimum is an argmin, not a rank — a
    # min(struct(value, sk)) aggregate partial-aggregates map-side
    # (struct ordering = the window's (supply_value ASC, sk ASC)),
    # where the former row_number window shuffled and SORTED every
    # (pk, sk) row just to keep rank 1.
    best = (
        cost.groupBy("pk")
        .agg(F.min(F.struct("supply_value", "sk")).alias("pick"))
        .select("pk", F.col("pick.supply_value").alias("supply_value"), F.col("pick.sk").alias("sk"))
    )
    return (
        best.join(p, F.col("pk") == p.p_partkey)
        .join(eu, F.col("sk") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.col("supply_value").cast("double").alias("supply_value"),
        )
    )


@query(
    "q_sql_q11",
    oracle="""
WITH value_by_part AS (
  SELECT l.l_partkey AS pk,
         SUM(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
), total AS (
  SELECT SUM(CAST(part_value AS DECIMAL(38,10))) AS t, COUNT(*) AS n FROM value_by_part
)
SELECT pk AS p_partkey,
       CAST(CAST(part_value AS VARCHAR) AS DOUBLE) AS part_value
FROM value_by_part, total
WHERE CAST(part_value AS DECIMAL(38,10)) * n * 2 > t * 3
""",
)
def q_sql_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-stock identification: parts whose
    value from one nation's suppliers exceeds 1.5x the mean part value
    for that nation (the original's fixed 0.0001 fraction is retuned
    to this corpus's near-uniform value distribution — and to scale:
    a mean-relative threshold stays selective at every SF).
    Adaptations: value = shipped extendedprice from lineitem (no
    partsupp); nations here are NATION_0..24. The global total is a
    broadcast 1-row aggregate and the threshold is cross-multiplied in
    exact DECIMAL (value*n*2 > total*3) — the fraction form would be a
    hash-unsafe double quotient."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    vbp = (
        l.join(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey),
               l.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("part_value"))
    )
    total = vbp.agg(
        F.sum(F.col("part_value").cast("decimal(38,10)")).alias("t"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        vbp.join(F.broadcast(total))
        .where(F.col("part_value").cast("decimal(38,10)") * F.col("n") * 2 > F.col("t") * 3)
        .select(
            F.col("pk").alias("p_partkey"),
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


@query(
    "q_sql_q12",
    oracle="""
SELECT l.l_linestatus,
       COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def q_sql_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping-priority split: one fact⋈fact join,
    a date window pushed to the lineitem scan, and the classic
    conditional-count pair (COUNT(CASE...) — not SUM(CASE), which
    DuckDB widens to HUGEINT and hash-mismatches BIGINT). Adaptation:
    the corpus has no l_shipmode/receipt dates, so the dichotomy is
    order priority grouped by linestatus."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
    )


@query(
    "q_sql_q16",
    oracle="""
SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 4, 7)
GROUP BY p.p_brand, p.p_size
""",
)
def q_sql_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style parts/supplier relationship count. Adaptation:
    the part-supplier relation is the DISTINCT (partkey, suppkey)
    pairs observed in lineitem (no partsupp table). The distinct
    collapses before the dim join, and COUNT(DISTINCT suppkey) runs
    per (brand, size) — the two-level distinct the original tests."""
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_sql_q20",
    oracle="""
WITH part_total AS (
  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(28,10))) AS total_qty
  FROM lineitem GROUP BY l_partkey
),
supp_part AS (
  SELECT l_suppkey AS sk, l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(28,10))) AS supp_qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT s.s_suppkey, s.s_name, count(*) AS n_dominated_parts
FROM supp_part sp
JOIN part_total pt ON pt.pk = sp.pk
JOIN supplier s ON s.s_suppkey = sp.sk
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_3'
  AND CAST(sp.supp_qty AS DECIMAL(38,10)) * 8 > pt.total_qty
GROUP BY s.s_suppkey, s.s_name
""",
)
def q_sql_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-share suppliers: one nation's suppliers
    that shipped more than 1/8 of some part's total quantity, counted
    per supplier. Adaptations: availability = shipped quantity (no
    partsupp.availqty), nations are NATION_0..24, and the share
    threshold is retuned to this corpus's supplier fan-out (~100
    suppliers/part makes the original 50% vacuous); the share is
    cross-multiplied in exact DECIMAL. Plan (r11 re-plan): ONE
    lineitem aggregate — the per-part total is the re-aggregation of
    the per-(supplier, part) sums (exact: DECIMAL addition is
    associative), so the scan+first shuffle run once and the pinned
    (sk, pk) table feeds both the total and the join; dims broadcast."""
    from ..registry import checkpoint_df

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    sp = (
        l.groupBy(F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("supp_qty"))
        .transform(checkpoint_df)  # read twice: per-part total + the join
    )
    pt = sp.groupBy("pk").agg(F.sum("supp_qty").alias("total_qty"))
    fr = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    return (
        sp.join(pt, "pk")
        .join(fr, F.col("sk") == F.col("s_suppkey"))
        .where(F.col("supp_qty").cast("decimal(38,10)") * 8 > F.col("total_qty"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )


@query(
    "q_sql_q21",
    oracle="""
WITH flags AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN epoch(l.l_shipdate) - epoch(o.o_orderdate) > 31536000
                  THEN 1 ELSE 0 END) AS was_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey, l.l_suppkey
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(was_late) AS n_late
  FROM flags GROUP BY l_orderkey
)
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM flags f
JOIN per_order p ON p.l_orderkey = f.l_orderkey
JOIN supplier s ON s.s_suppkey = f.l_suppkey
WHERE f.was_late = 1 AND p.n_supp > 1 AND p.n_late = 1
GROUP BY s.s_suppkey, s.s_name
""",
)
def q_sql_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers-who-kept-orders-waiting: per supplier,
    the multi-supplier orders where that supplier was the ONLY late
    one. The original's EXISTS / NOT EXISTS pair over other suppliers'
    lines decorrelates into per-(order, supplier) lateness flags plus
    one per-order rollup — the exists conditions become n_supp > 1 AND
    n_late = 1, evaluated once per order instead of per candidate
    pair. Adaptation: no commit/receipt dates exist, so \"late\" is
    shipped more than a year after the order date (this corpus's
    ship/order dates are uncorrelated; one year sits near the upper
    quartile of the lag distribution).

    r11 re-plan: `flags` feeds BOTH the per-order rollup and the final
    join — unpinned, Spark re-executes the lineitem⋈orders join+agg
    subtree once per consumer (CTE-inlining trap); the localCheckpoint
    pin runs it once."""
    from ..registry import checkpoint_df

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate") > 31536000
    ).cast("int")
    flags = (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("was_late"))
        .transform(checkpoint_df)  # read twice: per-order rollup + final join
    )
    per_order = flags.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("was_late").alias("n_late")
    )
    return (
        flags.join(per_order, "l_orderkey")
        .where((F.col("was_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q_date_spine",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
), actual AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events
  WHERE event_type = 'purchase' GROUP BY 1
)
SELECT CAST(epoch(s.h) AS BIGINT) AS hour_start,
       COALESCE(a.n, 0) AS n
FROM spine s LEFT JOIN actual a ON a.h = s.h
ORDER BY COALESCE(a.n, 0) ASC, hour_start ASC
LIMIT 10
""",
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine sparse-hour detection: generate the full hourly
    spine between the corpus bounds (sequence + explode — rows that
    DON'T exist in the data), left-join the actual per-hour purchase
    counts, and rank the 10 quietest hours with zero-count hours
    included. The missing-bucket problem is invisible to plain GROUP
    BY (absent groups produce no row); a spine join is the standard
    fix for gap-aware monitoring/imputation, and bottom-k keeps the
    result scale-invariant (a fixed emptiness threshold is vacuous as
    density grows with SF). The spine builds from a 1-row bounds
    aggregate — no driver-side date loop."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    actual = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(actual, "h", "left")
        .select(
            F.unix_timestamp("h").alias("hour_start"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy(F.col("n").asc(), F.col("hour_start").asc())
        .limit(10)
    )


@query(
    "q_join_asof_fwd",
    oracle="""
SELECT e.event_id, e.user_id, p.value AS next_purchase_value
FROM events e
ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts <= p.ts
""",
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event gets the value of the NEXT
    (>= ts) purchase by the same user — the attribution twin of
    q_join_asof's backward lookup (which touchpoint converted).
    Identical scalable re-expression, mirrored: purchases ride the
    event stream as markers and first(marker, ignorenulls) over the
    FORWARD frame (currentRow..unboundedFollowing) picks the nearest
    following one; probes sort before ts-equal markers so >= holds.
    One shuffle by user, no events×purchases blow-up."""
    e = load_table(spark, sf_dir, "events")
    probe = e.select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("double").alias("pval"), F.lit(1).alias("is_probe"),
    )
    marker = e.where(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.col("value").alias("pval"), F.lit(0).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_probe").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        probe.unionByName(marker)
        .withColumn("next_purchase_value", F.first("pval", ignorenulls=True).over(w))
        .where((F.col("is_probe") == 1) & F.col("next_purchase_value").isNotNull())
        .select("event_id", "user_id", "next_purchase_value")
    )


@query(
    "q_not_in_nulls",
    oracle="""
SELECT
  (SELECT count(*) FROM customer
   WHERE c_nationkey NOT IN
     (SELECT CASE WHEN n_name = 'NATION_3' THEN NULL ELSE n_nationkey END
      FROM nation WHERE n_regionkey = 0)) AS n_not_in_with_null,
  (SELECT count(*) FROM customer
   WHERE c_nationkey NOT IN
     (SELECT n_nationkey FROM nation
      WHERE n_regionkey = 0 AND n_name <> 'NATION_3')) AS n_not_in_clean,
  (SELECT count(*) FROM customer c
   WHERE NOT EXISTS
     (SELECT 1 FROM nation n
      WHERE n.n_regionkey = 0 AND n.n_name <> 'NATION_3'
        AND n.n_nationkey = c.c_nationkey)) AS n_not_exists
""",
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic parity check for NOT IN: the same exclusion
    spelled three ways — NOT IN against a subquery that CONTAINS a
    NULL (SQL says the predicate is never TRUE, so the count is 0 —
    the classic silent-empty-result trap), NOT IN against the cleaned
    subquery, and the null-safe NOT EXISTS twin (which must equal the
    clean NOT IN).  An engine that "fixes" NOT IN's null handling
    breaks standard semantics; this pins ours to the letter of the
    standard in both engines.  Plan shape: NOT IN decorrelates to a
    null-aware anti-join (broadcast — the subquery is a handful of
    keys); NOT EXISTS to a plain anti-join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_nin")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_nin")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM customer_nin
           WHERE c_nationkey NOT IN
             (SELECT CASE WHEN n_name = 'NATION_3' THEN NULL ELSE n_nationkey END
              FROM nation_nin WHERE n_regionkey = 0)) AS n_not_in_with_null,
          (SELECT count(*) FROM customer_nin
           WHERE c_nationkey NOT IN
             (SELECT n_nationkey FROM nation_nin
              WHERE n_regionkey = 0 AND n_name <> 'NATION_3')) AS n_not_in_clean,
          (SELECT count(*) FROM customer_nin c
           WHERE NOT EXISTS
             (SELECT 1 FROM nation_nin n
              WHERE n.n_regionkey = 0 AND n.n_name <> 'NATION_3'
                AND n.n_nationkey = c.c_nationkey)) AS n_not_exists
        """
    )


@query(
    "q_join_asof_nearest",
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS ep,
         value, event_type
  FROM events
),
u AS (
  SELECT event_id, user_id, ep, CAST(NULL AS DOUBLE) AS pval,
         CAST(NULL AS BIGINT) AS pep, 1 AS is_probe
  FROM base
  UNION ALL
  SELECT event_id, user_id, ep, value, ep, 0
  FROM base WHERE event_type = 'purchase'
),
w AS (
  SELECT event_id, user_id, is_probe, ep,
         last_value(pval IGNORE NULLS) OVER wb AS bval,
         last_value(pep IGNORE NULLS) OVER wb AS bep,
         first_value(pval IGNORE NULLS) OVER wf AS fval,
         first_value(pep IGNORE NULLS) OVER wf AS fep
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY event_id ASC, is_probe ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY event_id ASC, is_probe ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id,
       CASE WHEN fep IS NULL OR (bep IS NOT NULL AND ep - bep <= fep - ep)
            THEN bval ELSE fval END AS nearest_value,
       CASE WHEN fep IS NULL OR (bep IS NOT NULL AND ep - bep <= fep - ep)
            THEN ep - bep ELSE fep - ep END AS delta_s,
       CASE WHEN fep IS NULL OR (bep IS NOT NULL AND ep - bep <= fep - ep)
            THEN 'b' ELSE 'f' END AS side
FROM w
WHERE is_probe = 1 AND (bep IS NOT NULL OR fep IS NOT NULL)
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join, both directions: each event gets the
    same-user purchase closest in time, before OR after (ties go
    backward) — the sensor-alignment primitive ("closest calibration
    reading") that one-sided as-of joins can't express. Same scalable
    marker re-expression as q_join_asof/q_join_asof_fwd, run in BOTH
    frame directions over ONE (user_id, event_id, is_probe) sort: the
    two window frames share the sort order, so Spark evaluates all
    four carried values in a single Window exec after one shuffle —
    no second sort, no join, no blow-up at any scale. Time deltas are
    exact integer seconds on second-truncated epochs (same-user gaps
    ≥8 s make truncation order-safe; raw sub-second ts never crosses
    the engine boundary), ordering rides the ts-monotone event_id."""
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts")))).cast("bigint")
    base = e.select("event_id", "user_id", ep.alias("ep"), "value", "event_type")
    probe = base.select(
        "event_id", "user_id", "ep",
        F.lit(None).cast("double").alias("pval"),
        F.lit(None).cast("bigint").alias("pep"),
        F.lit(1).alias("is_probe"),
    )
    marker = base.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ep",
        F.col("value").alias("pval"),
        F.col("ep").alias("pep"),
        F.lit(0).alias("is_probe"),
    )
    order = [F.col("event_id").asc(), F.col("is_probe").asc()]
    wb = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = probe.unionByName(marker).select(
        "event_id", "user_id", "is_probe", "ep",
        F.last("pval", ignorenulls=True).over(wb).alias("bval"),
        F.last("pep", ignorenulls=True).over(wb).alias("bep"),
        F.first("pval", ignorenulls=True).over(wf).alias("fval"),
        F.first("pep", ignorenulls=True).over(wf).alias("fep"),
    )
    use_back = F.col("fep").isNull() | (
        F.col("bep").isNotNull()
        & ((F.col("ep") - F.col("bep")) <= (F.col("fep") - F.col("ep")))
    )
    return (
        carried.where(
            (F.col("is_probe") == 1) & (F.col("bep").isNotNull() | F.col("fep").isNotNull())
        )
        .select(
            "event_id",
            "user_id",
            F.when(use_back, F.col("bval")).otherwise(F.col("fval")).alias("nearest_value"),
            F.when(use_back, F.col("ep") - F.col("bep"))
            .otherwise(F.col("fep") - F.col("ep"))
            .alias("delta_s"),
            F.when(use_back, F.lit("b")).otherwise(F.lit("f")).alias("side"),
        )
    )


@query(
    "q_join_shuffle_hash",
    oracle="""
SELECT n.n_name, count(*) AS n_customers,
       CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS total_bal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control via hint: SHUFFLE_HASH forces a shuffled
    hash join where the planner would otherwise broadcast the 25-row
    nation side.  Same results by construction (the oracle has no
    hints); tests/test_plans pins the ShuffledHashJoin operator.  The
    real-world use is the inverse case at 100 TB — a dimension just
    over the broadcast threshold whose equi-join should hash, not
    sort-merge: the hint skips both sort passes and is the cheapest
    shuffle join when one side fits a per-task hash map."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").hint("shuffle_hash")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_bal"),
        )
    )


@query(
    "q_null_routed_join",
    oracle="""
WITH keyed AS (
  SELECT event_id,
         CASE WHEN value >= 50 THEN CAST(floor(value) AS BIGINT) END AS k
  FROM events
), dim AS (
  SELECT CAST(floor(value) AS BIGINT) AS k,
         count(*) AS dim_n
  FROM events WHERE value >= 50 GROUP BY 1
)
SELECT keyed.event_id, keyed.k,
       CAST(COALESCE(dim.dim_n, 0) AS BIGINT) AS dim_n
FROM keyed LEFT JOIN dim ON dim.k = keyed.k
""",
)
def q_null_routed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-routed outer join: rows whose join key is NULL can never
    match, so they BYPASS the shuffle entirely (filtered out before
    the join, unioned back NULL-extended) — the standard fix when a
    nullable key concentrates a huge NULL population onto one shuffle
    partition (the worst skew there is, and one AQE's skew splitting
    handles poorly because every NULL lands in ONE hash bucket; the
    working-notes salting patterns don't apply since no match can
    exist).  Here ~half the events derive a NULL key, the oracle is
    the plain left join, and equality proves the rewrite — while the
    routed plan shuffles only the matchable half.  The same identity
    drives q_not_in_nulls' three-valued logic."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_id",
        F.when(F.col("value") >= 50, F.floor("value").cast("bigint")).alias("k"),
    )
    dim = (
        e.where(F.col("value") >= 50)
        .groupBy(F.floor("value").cast("bigint").alias("k"))
        .agg(F.count(F.lit(1)).alias("dim_n"))
    )
    matchable = (
        keyed.where(F.col("k").isNotNull())
        .join(F.broadcast(dim), "k", "left")
        .select("event_id", "k", F.coalesce("dim_n", F.lit(0)).alias("dim_n"))
    )
    null_routed = keyed.where(F.col("k").isNull()).select(
        "event_id", "k", F.lit(0).cast("bigint").alias("dim_n")
    )
    return matchable.unionByName(null_routed).select(
        "event_id", "k", F.col("dim_n").cast("bigint").alias("dim_n")
    )
