"""Customer/BI analytics operators: RFM segmentation, cohort
matrices, Pareto/ABC classification, data-quality audits, and
autocorrelation profiling (SURVEY.md §2.3, round-4 continuation).

These are the classic warehouse-analytics shapes a user of the
reference pipeline would run downstream of ingestion.  All arithmetic
follows the repo's hash-safe rules (CLAUDE.md): exact integer /
DECIMAL mass, no rounded quotients of decimals, COUNT(CASE..) instead
of SUM(CASE..1..0).

Scale notes: every query aggregates the fact table(s) FIRST and runs
its window/rank logic over the aggregated (customer- / part- / hour-
grain) result — the unpartitioned windows here order tens of
thousands of rows, never raw facts.  At 100 TB the aggregation is the
only shuffle; the rank stage is a single small exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query, session_memo
from ..sources import load_table

DEC = "decimal(28,10)"


@query(
    "q_rfm",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day',
                        CAST(max(o_orderdate) AS DATE),
                        (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
              AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) * 1000000 AS BIGINT)
           AS monetary_micros
  FROM orders
  GROUP BY o_custkey
)
SELECT o_custkey AS custkey, recency_days, frequency, monetary_micros,
       ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey ASC) AS r_bucket,
       ntile(5) OVER (ORDER BY frequency   DESC, o_custkey ASC) AS f_bucket,
       ntile(5) OVER (ORDER BY monetary_micros DESC, o_custkey ASC) AS m_bucket
FROM per_cust
""",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation.

    Aggregates orders to customer grain, then scores each dimension
    into quintiles with ``ntile(5)``.  Hash-safety: recency is an
    exact day diff against the corpus max date, monetary is DECIMAL
    mass emitted as integer micro-units, and every ntile ordering
    carries the unique ``custkey`` tiebreak (both engines use the
    same ceil-first ntile bucket rule, so identical orderings give
    identical buckets).  Scale: one shuffle to customer grain, then
    three RANGE-PARTITIONED ntiles (functions.ranks.with_global_order)
    — customer grain still grows with the corpus, so no single-task
    window anywhere in the plan.  The three ntiles are INDEPENDENT
    branches over narrow (custkey, metric) projections, built from
    concurrent threads and re-joined on custkey — the R/F/M total
    orders genuinely differ, so their range shuffles can never merge;
    branching lets the three bounds-sample jobs and the three offset
    broadcast exchanges overlap instead of serializing (the r6/r7
    chained form stamped each bucket onto the previous output and
    paid the three job chains back-to-back: measured 2.2 → 1.4 s
    in-pass at sf0.1).  Narrow branches also shuffle 2 columns where
    the chain re-shuffled the whole widening frame three times.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.col("o_totalprice").cast(DEC)) * 1000000)
        .cast("bigint")
        .alias("monetary_micros"),
    )
    max_date = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("corpus_max"))
    per_cust = per_cust.crossJoin(F.broadcast(max_date)).select(
        F.col("o_custkey").alias("custkey"),
        F.datediff("corpus_max", "last_order").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary_micros",
    )
    from ..functions.ranks import with_global_order
    from ..registry import checkpoint_df

    # lazy-checkpoint the customer-grain aggregate: ONE compiled RDD
    # that all three branches (and their bounds-sample jobs) read, so
    # the groupBy executes once — and the pinned map means the three
    # concurrent sample jobs race only on block materialization,
    # which Spark's block manager serializes safely.
    per_cust = checkpoint_df(per_cust, eager=False)

    def _bucket(metric: str, out_name: str, asc: bool):
        proj = per_cust.select("custkey", metric)
        order = [
            F.col(metric).asc() if asc else F.col(metric).desc(),
            F.col("custkey").asc(),
        ]
        return with_global_order(proj, order, ntile=(out_name, 5)).select(
            "custkey", out_name
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        r_map, f_map, m_map = pool.map(
            lambda a: _bucket(*a),
            [
                ("recency_days", "r_bucket", True),
                ("frequency", "f_bucket", False),
                ("monetary_micros", "m_bucket", False),
            ],
        )
    return (
        per_cust.join(r_map, "custkey")
        .join(f_map, "custkey")
        .join(m_map, "custkey")
    )


@query(
    "q_cohort_matrix",
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
)
SELECT printf('%04d-%02d', (f.cohort_m - 1) // 12, ((f.cohort_m - 1) % 12) + 1)
         AS cohort_month,
       (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
         AS month_offset,
       COUNT(DISTINCT o.o_custkey) AS n_active
FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
""",
)
def q_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers bucketed by first-order
    month, activity counted at each month offset since.

    Months are linearized as ``year*12 + month`` integers, so the
    offset arithmetic is exact and engine-neutral (no interval math).
    Scale: two shuffles (first-order month per customer, then the
    cohort×offset aggregate); the cohort table is customer-grain and
    re-joins the fact as a shuffle join on the customer key.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    with_m = o.select("o_custkey", m.alias("order_m"))
    firsts = with_m.groupBy("o_custkey").agg(F.min("order_m").alias("cohort_m"))
    cohort_label = F.format_string(
        "%04d-%02d",
        ((F.col("cohort_m") - 1) / F.lit(12)).cast("bigint"),
        ((F.col("cohort_m") - 1) % 12 + 1).cast("int"),
    )
    return (
        with_m.join(firsts, "o_custkey")
        .groupBy(
            cohort_label.alias("cohort_month"),
            (F.col("order_m") - F.col("cohort_m")).alias("month_offset"),
        )
        .agg(F.count_distinct("o_custkey").alias("n_active"))
    )


@query(
    "q_pareto_abc",
    oracle="""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)))
              * 1000000 AS BIGINT) AS revenue_micros
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, revenue_micros,
         row_number() OVER (ORDER BY revenue_micros DESC, l_partkey ASC) AS rnk,
         SUM(revenue_micros) OVER (
           ORDER BY revenue_micros DESC, l_partkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_micros,
         SUM(revenue_micros) OVER () AS total_micros
  FROM per_part
)
SELECT l_partkey AS partkey, revenue_micros, rnk,
       CASE WHEN cum_micros * 5  <= total_micros * 4  THEN 'A'
            WHEN cum_micros * 20 <= total_micros * 19 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
""",
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by cumulative revenue
    share (A ≤ 80 %, B ≤ 95 %, C above).

    Revenue is DECIMAL mass emitted as integer micro-units; the class
    thresholds compare ``cum*5 ≤ total*4`` / ``cum*20 ≤ total*19`` in
    exact BIGINT (no rounded share quotient — CLAUDE.md).  The
    products stay < 2^63 up to ~460 TB of revenue micro-mass.
    Scale: one shuffle to part grain (≈200k rows/TB — still grows with
    the corpus), then a RANGE-PARTITIONED rank+cumsum
    (functions.ranks.with_global_order) and a broadcast scalar total —
    no single-task window or partition-less sum anywhere.
    """
    from ..functions.ranks import with_global_order

    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(revenue.cast(DEC)) * 1000000).cast("bigint").alias("revenue_micros")
    )
    base = with_global_order(
        per_part,
        [F.col("revenue_micros").desc(), F.col("l_partkey").asc()],
        rank_col="rnk",
        cumsum={"cum_micros": F.col("revenue_micros")},
    )
    # grand total from the helper output (reuses its checkpoint), not
    # a second pass over the part-grain aggregate
    ranked = base.crossJoin(
        F.broadcast(base.agg(F.sum("revenue_micros").alias("total_micros")))
    )
    return ranked.select(
        F.col("l_partkey").alias("partkey"),
        "revenue_micros",
        "rnk",
        F.when(F.col("cum_micros") * 5 <= F.col("total_micros") * 4, "A")
        .when(F.col("cum_micros") * 20 <= F.col("total_micros") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "q_dq_checks",
    oracle="""
SELECT 'orders_null_custkey' AS check_name,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       (SELECT COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders) AS n_bad
UNION ALL
SELECT 'orders_orphan_custkey',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem_discount_range',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END)
        FROM lineitem)
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) FROM lineitem)
UNION ALL
SELECT 'customer_dup_pk',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
UNION ALL
SELECT 'documents_len_mismatch',
       (SELECT COUNT(*) FROM documents),
       (SELECT COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) FROM documents)
UNION ALL
SELECT 'detector_selftest',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM (
          SELECT CASE WHEN o_orderkey % 997 = 0
                      THEN o_custkey + 1000000000 ELSE o_custkey END AS ck
          FROM orders) o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.ck))
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit suite: null / orphan-FK / range / dup-PK /
    derived-column consistency checks, one row per check.

    The classic pre-training-ingest validation pass.  Each check is an
    independent aggregate (COUNT(CASE..) per the HUGEINT trap); the
    orphan checks are anti joins on the FK.  The clean corpus passes
    every real check with n_bad = 0 — which is itself vacuous evidence
    that the DETECTORS work (round-5 dead-column audit), so the last
    row runs the orphan detector against a deterministically-corrupted
    derivative (every 997th order key remaps its customer out of
    range, the g_geom_valid planted-corruption pattern) and must
    report exactly that many bad rows.  Scale: each check is one
    scan + at most one shuffle; Spark runs the branches as a union of
    independent subplans, so they parallelize across the stage
    boundary and the fact tables are scanned column-pruned.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    d = load_table(spark, sf_dir, "documents")

    def check(name: str, n_rows: DataFrame, n_bad: DataFrame) -> DataFrame:
        return (
            n_rows.crossJoin(n_bad)
            .select(
                F.lit(name).alias("check_name"),
                F.col("n_rows").cast("bigint"),
                F.col("n_bad").cast("bigint"),
            )
        )

    orders_rows = o.agg(F.count(F.lit(1)).alias("n_rows"))
    li_rows = li.agg(F.count(F.lit(1)).alias("n_rows"))
    checks = [
        check(
            "orders_null_custkey",
            orders_rows,
            o.agg(F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_bad")),
        ),
        check(
            "orders_orphan_custkey",
            orders_rows,
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("n_bad")
            ),
        ),
        check(
            "lineitem_orphan_orderkey",
            li_rows,
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("n_bad")
            ),
        ),
        check(
            "lineitem_discount_range",
            li_rows,
            li.agg(
                F.count(
                    F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
                ).alias("n_bad")
            ),
        ),
        check(
            "lineitem_nonpositive_qty",
            li_rows,
            li.agg(F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("n_bad")),
        ),
        check(
            "customer_dup_pk",
            c.agg(F.count(F.lit(1)).alias("n_rows")),
            c.agg(
                (F.count(F.lit(1)) - F.count_distinct("c_custkey")).alias("n_bad")
            ),
        ),
        check(
            "documents_len_mismatch",
            d.agg(F.count(F.lit(1)).alias("n_rows")),
            d.agg(
                F.count(
                    F.when(F.col("n_chars") != F.length("text"), 1)
                ).alias("n_bad")
            ),
        ),
        check(
            "detector_selftest",
            orders_rows,
            o.select(
                F.when(
                    F.col("o_orderkey") % 997 == 0,
                    F.col("o_custkey") + 1000000000,
                )
                .otherwise(F.col("o_custkey"))
                .alias("ck")
            )
            .join(c, F.col("ck") == c.c_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_bad")),
        ),
    ]
    out = checks[0]
    for extra in checks[1:]:
        out = out.unionAll(extra)
    return out


@query(
    "q_autocorr",
    oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS h,
         COUNT(*) AS n
  FROM events GROUP BY 1
), lags AS (
  SELECT * FROM (VALUES (1), (2), (3), (6), (12), (24)) t(k)
)
SELECT k AS lag_hours,
       COUNT(*) AS n_pairs,
       CAST(SUM(a.n) AS BIGINT) AS s_x, CAST(SUM(b.n) AS BIGINT) AS s_y,
       CAST(SUM(a.n * a.n) AS BIGINT) AS s_xx,
       CAST(SUM(b.n * b.n) AS BIGINT) AS s_yy,
       CAST(SUM(a.n * b.n) AS BIGINT) AS s_xy,
       CAST(COUNT(*) * SUM(a.n * b.n) - SUM(a.n) * SUM(b.n) AS BIGINT)
         AS corr_num,
       CAST(COUNT(*) * SUM(a.n * a.n) - SUM(a.n) * SUM(a.n) AS BIGINT)
         AS corr_den_x,
       CAST(COUNT(*) * SUM(b.n * b.n) - SUM(b.n) * SUM(b.n) AS BIGINT)
         AS corr_den_y
FROM lags CROSS JOIN hourly a JOIN hourly b ON b.h = a.h + k
GROUP BY k
""",
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation profile of the hourly event-count series
    (k ∈ {1,2,3,6,12,24} hours).

    Emits the exact integer moment sums plus the Pearson numerator /
    denominators (``n·Σxy − ΣxΣy`` etc.) — all BIGINT-exact, so the
    caller derives r = num/√(dx·dy) without any cross-engine float in
    the checked values.  Scale: one shuffle to hour grain; the lagged
    self-join runs on the tiny hourly table (≤ 8.8k rows/year) and is
    broadcast on both sides.
    """
    e = load_table(spark, sf_dir, "events")
    hour = (
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).cast("bigint")
        / F.lit(3600)
    ).cast("bigint")
    hourly = e.groupBy(hour.alias("h")).agg(F.count(F.lit(1)).alias("n"))
    lags = spark.sql("SELECT * FROM VALUES (1),(2),(3),(6),(12),(24) t(k)")
    a = hourly.alias("a")
    b = hourly.alias("b")
    joined = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(F.broadcast(b), F.col("b.h") == F.col("a.h") + F.col("k"))
    )
    agg = joined.groupBy(F.col("k").alias("lag_hours")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("a.n").alias("s_x"),
        F.sum("b.n").alias("s_y"),
        F.sum(F.col("a.n") * F.col("a.n")).alias("s_xx"),
        F.sum(F.col("b.n") * F.col("b.n")).alias("s_yy"),
        F.sum(F.col("a.n") * F.col("b.n")).alias("s_xy"),
    )
    return agg.select(
        "lag_hours",
        "n_pairs",
        "s_x",
        "s_y",
        "s_xx",
        "s_yy",
        "s_xy",
        (F.col("n_pairs") * F.col("s_xy") - F.col("s_x") * F.col("s_y")).alias(
            "corr_num"
        ),
        (F.col("n_pairs") * F.col("s_xx") - F.col("s_x") * F.col("s_x")).alias(
            "corr_den_x"
        ),
        (F.col("n_pairs") * F.col("s_yy") - F.col("s_y") * F.col("s_y")).alias(
            "corr_den_y"
        ),
    )


@query(
    "q_hierarchy_rollup",
    oracle="""
WITH RECURSIVE per_part AS (
  SELECT l_partkey AS node,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)))
              * 1000000 AS BIGINT) AS rev
  FROM lineitem GROUP BY l_partkey
), walk AS (
  SELECT node, node AS part, rev FROM per_part
  UNION ALL
  SELECT node // 10, part, rev FROM walk WHERE node // 10 >= 1
)
SELECT node, count(*) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_micros
FROM walk WHERE node <= 99
GROUP BY node
""",
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-hierarchy subtree rollup: parts form an implicit tree
    (parent(k) = k div 10), and each 1-2 digit ancestor node reports
    its subtree's part count and total revenue.

    The oracle walks the tree with a genuine ``WITH RECURSIVE`` CTE;
    this side exploits the closed form instead (q_recursive_cte runs
    the same walk through Spark 4's native recursion operator) —
    the div-10 ancestor chain of k is exactly the decimal-prefix set
    of k — and unrolls the bounded depth as two prefix projections
    (depth is ≤ ⌈log10(maxkey)⌉, fixed by the key domain).  This is
    the standard recursive-CTE-to-DataFrame translation when the
    recursion has a known closed form / bounded depth.  Scale: one
    shuffle to part grain, then a ≤2× explode of the part-grain table
    and a tiny re-aggregate — never touches the fact table twice.
    """
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(revenue.cast(DEC)) * 1000000).cast("bigint").alias("rev")
    )
    pstr = F.col("l_partkey").cast("string")
    ancestors = F.array_compact(
        F.array(
            F.substring(pstr, 1, 1).cast("bigint"),
            F.when(F.length(pstr) >= 2, F.substring(pstr, 1, 2).cast("bigint")),
        )
    )
    return (
        per_part.select(
            F.explode(ancestors).alias("node"), "rev"
        )
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").alias("revenue_micros"),
        )
    )


_QH_BINS = 1024


@query(
    "q_quantile_hist",
    oracle=f"""
WITH ev AS (
  SELECT CAST(floor(value * 1000000) AS BIGINT) AS v FROM events
), bounds AS (
  SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS n FROM ev
), bins AS (
  SELECT ((e.v - b.vmin) * {_QH_BINS}) // (b.vmax - b.vmin + 1) AS bin_idx,
         COUNT(*) AS cnt
  FROM ev e CROSS JOIN bounds b GROUP BY 1
), cum AS (
  SELECT bin_idx,
         CAST(SUM(cnt) OVER (ORDER BY bin_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM bins
), ps AS (SELECT * FROM (VALUES (50), (90), (95), (99)) t(p)
), hit AS (
  SELECT p, min(bin_idx) AS bin_idx
  FROM ps CROSS JOIN bounds b JOIN cum c
    ON c.cum >= (b.n * p + 99) // 100
  GROUP BY p
)
SELECT h.p, (b.n * h.p + 99) // 100 AS target_rank, h.bin_idx,
       b.vmin + (h.bin_idx * (b.vmax - b.vmin + 1)) // {_QH_BINS} AS lo_micro,
       b.vmin + ((h.bin_idx + 1) * (b.vmax - b.vmin + 1)) // {_QH_BINS} AS hi_micro,
       b.n
FROM hit h CROSS JOIN bounds b
""",
)
def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass histogram quantile sketch: p50/p90/p95/p99 of
    ``events.value`` located to a 1024-bin equal-width cell, entirely
    in exact integer math — the deterministic, engine-neutral
    alternative to t-digest/GK sketches (whose engine-specific
    internals force q_agg_approx_quantile to stay rows-only).

    Emits per percentile the ceil-rank target and the bracketing bin
    bounds (error ≤ one bin width by construction).  Scale: the
    histogram is one map-side-combined aggregate over the scan — the
    same single-pass shape Spark's own approx sketches use — and
    everything downstream is arithmetic on ≤ 1024 cumulated rows.
    """
    e = load_table(spark, sf_dir, "events")
    ev = e.select(F.floor(F.col("value") * 1000000).cast("bigint").alias("v"))
    bounds = ev.agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax"), F.count(F.lit(1)).alias("n")
    )
    bins = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(f"((v - vmin) * {_QH_BINS}) div (vmax - vmin + 1)").alias("bin_idx")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = bins.select(
        "bin_idx",
        F.sum("cnt")
        .over(Window.orderBy("bin_idx").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    ps = spark.sql("SELECT * FROM VALUES (50),(90),(95),(99) t(p)")
    hit = (
        F.broadcast(ps)
        .crossJoin(F.broadcast(bounds))
        .join(cum, F.col("cum") >= F.expr("(n * p + 99) div 100"))
        .groupBy("p")
        .agg(F.min("bin_idx").alias("bin_idx"))
    )
    return (
        hit.crossJoin(F.broadcast(bounds))
        .select(
            "p",
            F.expr("(n * p + 99) div 100").alias("target_rank"),
            "bin_idx",
            F.expr(f"vmin + (bin_idx * (vmax - vmin + 1)) div {_QH_BINS}").alias(
                "lo_micro"
            ),
            F.expr(
                f"vmin + ((bin_idx + 1) * (vmax - vmin + 1)) div {_QH_BINS}"
            ).alias("hi_micro"),
            "n",
        )
    )


@query(
    "q_funnel_windowed",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS ep
  FROM events
), v AS (
  SELECT user_id, min(event_id) AS v_id, min(ep) AS v_ep
  FROM ev WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.event_id) AS c_id, min(e.ep) AS c_ep
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.event_id > v.v_id
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ep) AS p_ep
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.event_id > c.c_id
  GROUP BY e.user_id
)
SELECT count(*) AS n_entered,
       COUNT(CASE WHEN c.c_ep - v.v_ep <= 86400 THEN 1 END) AS n_level2,
       COUNT(CASE WHEN c.c_ep - v.v_ep <= 86400
                   AND p.p_ep - v.v_ep <= 86400 THEN 1 END) AS n_level3,
       (COUNT(CASE WHEN c.c_ep - v.v_ep <= 86400 THEN 1 END) * 1000000)
         // count(*) AS conv2_ppm,
       (COUNT(CASE WHEN c.c_ep - v.v_ep <= 86400
                    AND p.p_ep - v.v_ep <= 86400 THEN 1 END) * 1000000)
         // count(*) AS conv3_ppm
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
""",
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained sequential funnel (the windowFunnel shape):
    view → first click strictly after it → first purchase strictly
    after that, all within 24 h of the entry view.

    Greedy first-match chain semantics, stated exactly: each step is
    the MIN event_id among candidates after the previous step's id
    (event_id is the corpus's verified ts-monotone order, so
    min(event_id) and min(ep) select the same event and Δt needs no
    per-row pairing).  Unlike q_funnel's unconstrained ordering
    comparisons, the window bound needs the matched events' times —
    two user-grain join-aggregates, still no events self-join.  Δt
    can be 0 (same truncated second, CLAUDE.md) — only compared,
    never divided.  Scale: three filtered aggregates to user grain +
    two user-key joins; fact table scanned once per step filter with
    the type predicate pushed down.
    """
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))))
        .cast("bigint")
        .alias("ep"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("v_id"), F.min("ep").alias("v_ep"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("event_id") > F.col("v_id"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("c_id"), F.min("ep").alias("c_ep"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("event_id") > F.col("c_id"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("p_ep"))
    )
    lvl2 = F.col("c_ep") - F.col("v_ep") <= 86400
    lvl3 = lvl2 & (F.col("p_ep") - F.col("v_ep") <= 86400)
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_entered"),
            F.count(F.when(lvl2, 1)).alias("n_level2"),
            F.count(F.when(lvl3, 1)).alias("n_level3"),
            F.expr(
                "(count(CASE WHEN c_ep - v_ep <= 86400 THEN 1 END) * 1000000)"
                " div count(1)"
            ).alias("conv2_ppm"),
            F.expr(
                "(count(CASE WHEN c_ep - v_ep <= 86400"
                " AND p_ep - v_ep <= 86400 THEN 1 END) * 1000000)"
                " div count(1)"
            ).alias("conv3_ppm"),
        )
    )


@query(
    "q_session_stats",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS ep
  FROM events
), marked AS (
  SELECT user_id, event_id, ep,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY event_id)
                   > 1800 OR lag(ep) OVER (PARTITION BY user_id ORDER BY event_id)
                   IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM ev
), sess AS (
  SELECT user_id, ep, event_id,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM marked
), per_sess AS (
  SELECT user_id, sid, count(*) AS n_events,
         max(ep) - min(ep) AS dur_s
  FROM sess GROUP BY user_id, sid
)
SELECT count(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       (CAST(SUM(n_events) AS BIGINT) * 1000000) // count(*)
         AS events_per_session_ppm,
       (CAST(SUM(dur_s) AS BIGINT) * 1000) // count(*) AS mean_dur_ms,
       CAST(max(dur_s) AS BIGINT) AS max_dur_s,
       COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_bounces
FROM per_sess
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level engagement report: events sessionized per user on
    a 30-minute inactivity gap (lag + running-sum session ids — the
    q_gaps_islands machinery keyed by time gaps), then one global
    aggregate of session count, events/session, mean duration and
    bounce count.

    Duration and the two means are exact integer fixed-point
    (ms / ppm via BIGINT div) — no decimal quotient.  Δt of 0 s
    within a truncated second is legal (CLAUDE.md) and only compared.
    Scale: one user-key shuffle for the two windows, one session-key
    aggregate, one scalar reduce — no self-join.
    """
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))))
        .cast("bigint")
        .alias("ep"),
    )
    wu = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("ep").over(wu)
    marked = ev.select(
        "user_id",
        "event_id",
        "ep",
        F.when(prev.isNull() | (F.col("ep") - prev > 1800), 1).otherwise(0).alias("new_sess"),
    )
    sess = marked.select(
        "user_id",
        "ep",
        F.sum("new_sess")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ep") - F.min("ep")).alias("dur_s"),
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.expr("(sum(n_events) * 1000000) div count(1)").alias(
            "events_per_session_ppm"
        ),
        F.expr("(sum(dur_s) * 1000) div count(1)").alias("mean_dur_ms"),
        F.max("dur_s").alias("max_dur_s"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
    )


@query(
    "g_tile_rollup",
    oracle="""
WITH base AS (
  SELECT CAST(floor(((value * 3.6 - 180) + 180) / 5) AS BIGINT) AS cx,
         ((user_id * 7 % 180) - 90 + 90) // 5 AS cy
  FROM events
), levels AS (
  SELECT z, cx >> z AS tx, cy >> z AS ty
  FROM base CROSS JOIN (VALUES (0), (1), (2), (3)) t(z)
)
SELECT z, tx, ty, count(*) AS n_points
FROM levels GROUP BY z, tx, ty
""",
)
def g_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-tile pyramid: point counts at four zoom levels, each tile a
    right-shift of the base 5° grid cell — the pre-aggregation a tile
    server materializes so zoomed-out views never rescan points.

    Shifts keep everything in exact integers (cells are non-negative
    by the +180/+90 offsets, so shift == floor-halving on both
    engines).  Scale: one scan, a 4× zoom-level expansion, one
    aggregate; at petabyte scale you'd aggregate z0 first and roll
    z1-z3 up from z0's output — stated here, with the single-pass
    form kept because the expansion is cheaper than a second shuffle
    until z0 cardinality dominates.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.floor(((F.col("value") * 3.6 - 180) + 180) / 5).cast("bigint").alias("cx"),
        F.expr("(user_id * 7 % 180 - 90 + 90) div 5").alias("cy"),
    )
    zs = spark.sql("SELECT * FROM VALUES (0),(1),(2),(3) t(z)")
    return (
        base.crossJoin(F.broadcast(zs))
        .select(
            "z",
            F.expr("shiftright(cx, z)").alias("tx"),
            F.expr("shiftright(cy, z)").alias("ty"),
        )
        .groupBy("z", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@query(
    "q_top_movers",
    oracle="""
WITH bounds AS (
  SELECT CAST(floor(epoch(min(o_orderdate))) AS BIGINT) AS lo,
         CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS hi
  FROM orders
), halves AS (
  SELECT o_custkey,
         CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) * 2
                   < b.lo + b.hi THEN 1 ELSE 2 END AS half,
         CAST(o_totalprice AS DECIMAL(28,10)) AS price
  FROM orders CROSS JOIN bounds b
), per AS (
  SELECT o_custkey, half,
         CAST(SUM(price) * 1000000 AS BIGINT) AS rev_micros
  FROM halves GROUP BY o_custkey, half
), ranked AS (
  SELECT o_custkey, half, rev_micros,
         row_number() OVER (PARTITION BY half
           ORDER BY rev_micros DESC, o_custkey ASC) AS rnk
  FROM per
)
SELECT a.o_custkey AS custkey, a.rnk AS rank_h1, b.rnk AS rank_h2,
       a.rnk - b.rnk AS rank_gain, a.rev_micros AS rev_h1, b.rev_micros AS rev_h2
FROM ranked a JOIN ranked b
  ON a.o_custkey = b.o_custkey AND a.half = 1 AND b.half = 2
ORDER BY rank_gain DESC, custkey ASC
LIMIT 20
""",
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period movers: customers ranked by revenue in each
    half of the order-date range, reporting the 20 biggest rank gains
    — the standard \"top movers\" BI report.

    The period split point is data-derived (epoch midpoint compared
    via the cross-multiplied integer inequality ``2·ep < lo+hi`` — no
    halving division), revenue is DECIMAL mass as micro-units, ranks
    carry the custkey tiebreak, and the final ordering is pinned by
    the emitted rank_gain.  Scale: one shuffle to (customer, half)
    grain, two half-partitioned rank windows over customer-grain
    rows, and a self-join on the customer key.
    """
    o = load_table(spark, sf_dir, "orders")
    ep = F.floor(F.unix_timestamp("o_orderdate")).cast("bigint")
    bounds = o.agg(
        F.min(ep).alias("lo"), F.max(ep).alias("hi")
    )
    halves = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        F.when(ep * 2 < F.col("lo") + F.col("hi"), 1).otherwise(2).alias("half"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    per = halves.groupBy("o_custkey", "half").agg(
        (F.sum("price") * 1000000).cast("bigint").alias("rev_micros")
    )
    w = Window.partitionBy("half").orderBy(
        F.col("rev_micros").desc(), F.col("o_custkey").asc()
    )
    ranked = per.withColumn("rnk", F.row_number().over(w))
    a = ranked.where(F.col("half") == 1).select(
        F.col("o_custkey").alias("custkey"),
        F.col("rnk").alias("rank_h1"),
        F.col("rev_micros").alias("rev_h1"),
    )
    b = ranked.where(F.col("half") == 2).select(
        F.col("o_custkey").alias("ck2"),
        F.col("rnk").alias("rank_h2"),
        F.col("rev_micros").alias("rev_h2"),
    )
    return (
        a.join(b, a.custkey == b.ck2)
        .select(
            "custkey",
            "rank_h1",
            "rank_h2",
            (F.col("rank_h1") - F.col("rank_h2")).alias("rank_gain"),
            "rev_h1",
            "rev_h2",
        )
        .orderBy(F.col("rank_gain").desc(), F.col("custkey").asc())
        .limit(20)
    )


@query(
    "q_bitmap_distinct",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         count(DISTINCT user_id) AS hourly_users
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         count(DISTINCT user_id) AS daily_users
  FROM events GROUP BY 1
)
SELECT h.day_start, h.hour_start, h.hourly_users, d.daily_users
FROM hourly h JOIN daily d USING (day_start)
""",
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per hour AND per day computed from ONE
    shared bitmap rollup — the re-aggregatable-sketch pattern that
    replaces COUNT(DISTINCT) at warehouse scale, with exact results
    (unlike HLL).  Each (hour, user_id div 64) group ORs together a
    64-bit word holding bit ``user_id % 64``; popcount-summing the
    words gives the hourly distinct count, and OR-merging the SAME
    words up to day grain gives the daily distinct count without
    touching the fact table again — the oracle's two COUNT(DISTINCT)
    passes prove both levels exact.  Hash-safety: ``shiftleft`` is a
    pure bit op (1L<<63 wraps to the sign bit, still a distinct OR-able
    pattern; bit_count is sign-agnostic).  Scale: the words table is
    |hours| x |user_space/64| rows — the materialized rollup layer; at
    100 TB it replaces per-query fact scans for every distinct-count
    grain above it (week/month roll up from days the same way).  The
    double traversal below re-reads events at sf0.1 instead of
    persisting 17 k rows; a real deployment writes the words table
    once and serves every rollup from it."""
    e = load_table(spark, sf_dir, "events")
    words = e.select(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        F.expr("user_id div 64").alias("word"),
        F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))").alias("bit"),
    )
    hourly_words = words.groupBy("day_start", "hour_start", "word").agg(
        F.expr("bit_or(bit)").alias("bits")
    )
    hourly = hourly_words.groupBy("day_start", "hour_start").agg(
        F.sum(F.bit_count("bits")).alias("hourly_users")
    )
    daily = (
        hourly_words.groupBy("day_start", "word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("day_start")
        .agg(F.sum(F.bit_count("bits")).alias("daily_users"))
    )
    return hourly.join(F.broadcast(daily), "day_start").select(
        "day_start", "hour_start", "hourly_users", "daily_users"
    )


@query(
    "q_changepoint",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         count(*) AS c
  FROM events GROUP BY 1
), cusum AS (
  SELECT hour_start, c,
         count(*) OVER () AS n,
         CAST(SUM(c) OVER () AS BIGINT) AS total,
         CAST(SUM(c) OVER (ORDER BY hour_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
         row_number() OVER (ORDER BY hour_start) AS i
  FROM hourly
)
SELECT hour_start, c, dev_scaled FROM (
  SELECT hour_start, c,
         n * prefix - i * total AS dev_scaled,
         row_number() OVER (ORDER BY abs(n * prefix - i * total) DESC,
                            hour_start ASC) AS rn
  FROM cusum
) WHERE rn <= 5
""",
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the hourly event-rate series: the
    cumulative deviation from the global mean rate peaks at the hour
    where the rate regime shifts.  Exact integer form: the deviation
    ``prefix_i - i*(total/n)`` is emitted scaled by n as
    ``n*prefix_i - i*total`` (all BIGINT, no division — at these
    magnitudes n*prefix <= 720 * 1e5 << 2^63), top-5 |dev| rows with
    hour tiebreak.  Scale: the window runs over the HOURLY aggregate
    (720 rows), never raw facts — one fact shuffle to hour grain, then
    a single-partition window over a vanishing row count (same shape
    as every q_* analytics window here)."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("c"))
    wall = Window.partitionBy()
    word = Window.orderBy("hour_start")
    cusum = hourly.select(
        "hour_start",
        "c",
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("c").over(wall).alias("total"),
        F.sum("c").over(word.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
        F.row_number().over(word).alias("i"),
    )
    dev = cusum.select(
        "hour_start",
        "c",
        (F.col("n") * F.col("prefix") - F.col("i") * F.col("total")).alias("dev_scaled"),
    )
    wrank = Window.orderBy(F.abs("dev_scaled").desc(), F.col("hour_start").asc())
    return (
        dev.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= 5)
        .select("hour_start", "c", "dev_scaled")
    )


@query(
    "q_incremental_agg",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,10))) * 1000000 AS BIGINT) AS mass_micros
FROM events
GROUP BY event_type
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merge proof — the incremental-view-maintenance
    primitive.  The stream is split into two disjoint generations
    (event_id parity, standing in for 'yesterday's rollup' and 'today's
    delta'), each reduced to per-type partials (count + exact DECIMAL
    mass), and the partials are MERGED; the oracle aggregates the
    whole table directly, so a hash match proves merge(partials) ==
    full recompute exactly — counts and DECIMAL sums are the
    associative state that makes rollups incrementally maintainable.
    Scale: at 100 TB this is the difference between re-scanning the
    corpus per refresh and folding one delta partition into a stored
    state table (same contract q_scd2_merge proves for dimensions)."""
    e = load_table(spark, sf_dir, "events")
    partials = (
        e.withColumn("gen", F.expr("event_id % 2"))
        .groupBy("gen", "event_type")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast(DEC)).alias("pmass"),
        )
    )
    return partials.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        (F.sum("pmass") * 1000000).cast("bigint").alias("mass_micros"),
    )


@query(
    "q_benford",
    oracle="""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders
), counted AS (
  SELECT digit, count(*) AS cnt FROM digits GROUP BY digit
)
SELECT digit, cnt,
       CAST(cnt * 1000000 // (SELECT SUM(cnt) FROM counted) AS BIGINT) AS obs_micro,
       CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
                  WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
                  WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757
       END AS benford_micro
FROM counted
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    anomaly/fraud screen a warehouse runs over monetary columns.  The
    leading digit is taken from the integer part via explicit
    ``floor`` (Spark's double->int cast truncates, DuckDB's ROUNDS —
    working-notes trap), observed frequencies are exact integer
    micro-ratios (cnt*1e6 div total), and the Benford expectation
    ``log10(1+1/d)`` is embedded as the same floored-micro literals on
    both sides (transcendental evaluated once offline, not per
    engine).  Scale: one scan, 9-group hash agg, 9-row window."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    wall = Window.partitionBy()
    benford = (
        F.when(F.col("digit") == 1, 301029).when(F.col("digit") == 2, 176091)
        .when(F.col("digit") == 3, 124938).when(F.col("digit") == 4, 96910)
        .when(F.col("digit") == 5, 79181).when(F.col("digit") == 6, 66946)
        .when(F.col("digit") == 7, 57991).when(F.col("digit") == 8, 51152)
        .when(F.col("digit") == 9, 45757)
    )
    return counted.select(
        "digit",
        "cnt",
        F.expr("cnt * 1000000").alias("scaled"),
        F.sum("cnt").over(wall).alias("total"),
    ).select(
        "digit",
        "cnt",
        F.expr("scaled div total").alias("obs_micro"),
        benford.alias("benford_micro"),
    )


@query(
    "q_ab_test",
    oracle="""
WITH assigned AS (
  SELECT event_type, user_id % 2 AS variant,
         CASE WHEN value > 50 THEN 1 END AS hit
  FROM events
), per AS (
  SELECT event_type,
         COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
         COUNT(CASE WHEN variant = 0 THEN hit END) AS k_a,
         COUNT(CASE WHEN variant = 1 THEN hit END) AS k_b
  FROM assigned GROUP BY event_type
)
SELECT event_type, n_a, n_b, k_a, k_b,
       CAST(k_a * 1000000 // n_a AS BIGINT) AS rate_a_micro,
       CAST(k_b * 1000000 // n_b AS BIGINT) AS rate_b_micro,
       CAST((k_a * 1000000 // n_a) - (k_b * 1000000 // n_b) AS BIGINT) AS lift_micro
FROM per
""",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a deterministic hash split
    (``user_id % 2`` standing in for the assignment hash): per
    event_type, exposure counts, conversion counts (value > 50, ~half
    the uniform [0,100) mass — non-vacuous at both tuned scales), and
    exact fixed-point conversion rates and lift.  COUNT(CASE..) not
    SUM(CASE..1..0) (DuckDB HUGEINT trap); all divisions are positive
    BIGINT ``div``.  Scale: single scan, |event_type| groups — the
    z-statistic's transcendental sqrt is left to the reader of the
    exact integer sufficient statistics emitted here."""
    e = load_table(spark, sf_dir, "events")
    assigned = e.select(
        "event_type",
        F.expr("user_id % 2").alias("variant"),
        F.when(F.col("value") > 50, 1).alias("hit"),
    )
    per = assigned.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.count(F.when(F.col("variant") == 0, F.col("hit"))).alias("k_a"),
        F.count(F.when(F.col("variant") == 1, F.col("hit"))).alias("k_b"),
    )
    return per.select(
        "event_type",
        "n_a",
        "n_b",
        "k_a",
        "k_b",
        F.expr("k_a * 1000000 div n_a").alias("rate_a_micro"),
        F.expr("k_b * 1000000 div n_b").alias("rate_b_micro"),
        F.expr("(k_a * 1000000 div n_a) - (k_b * 1000000 div n_b)").alias("lift_micro"),
    )


@query(
    "q_anova",
    oracle="""
WITH y AS (
  SELECT doc_id % 5 AS g,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
), per_g AS (
  SELECT g, count(*) AS m,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * v) AS BIGINT) AS ss
  FROM y GROUP BY g
), tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS s,
         CAST(SUM(ss) AS BIGINT) AS ss,
         CAST(SUM(s * s) AS BIGINT) AS sum_sg2
  FROM per_g
)
SELECT 5 AS k, n,
       5 * sum_sg2 - s * s AS ssb_scaled,
       n * ss - 5 * sum_sg2 AS ssw_scaled,
       CAST((5 * sum_sg2 - s * s) * (n - 5) AS DOUBLE)
         / CAST((n * ss - 5 * sum_sg2) * 4 AS DOUBLE) AS f_stat
FROM tot
""",
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic over a BALANCED 5-group design
    (doc_id % 5 on a contiguous 0..N-1 id space with 5 | N at every
    scale — verified 100/100/1000 docs per group), response = document
    token count. Balance is what keeps the whole surface exact: with
    equal group sizes m = n/5, n·SSB = 5·ΣS_g² − S² and
    n·SSW = n·SS − 5·ΣS_g² are exact BIGINTs (no per-group rational
    S_g²/n_g), and F = (n·SSB·(n−k)) / (n·SSW·(k−1)) is ONE division
    of two exact integers — both < 2^53 at sf0.1 (n·SS ≤ 2.5e11,
    ×(n−5) ≤ 1.25e15), so the double quotient is correctly rounded
    and identical across engines with no rounding grid (the Wilson
    rule: IEEE-exact ops only). The sufficient statistics ship
    alongside so a reader can recompute any textbook variant.
    Scale: one scan, 5-row partial aggregate, scalar combine —
    map-side combine does all the work."""
    d = load_table(spark, sf_dir, "documents")
    y = d.select(
        F.expr("doc_id % 5").alias("g"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("v"),
    )
    per_g = y.groupBy("g").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    tot = per_g.agg(
        F.sum("m").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("ss").cast("bigint").alias("ss"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("sum_sg2"),
    )
    return tot.select(
        F.lit(5).alias("k"),
        "n",
        (F.lit(5) * F.col("sum_sg2") - F.col("s") * F.col("s")).alias("ssb_scaled"),
        (F.col("n") * F.col("ss") - F.lit(5) * F.col("sum_sg2")).alias("ssw_scaled"),
        F.expr(
            "CAST((5 * sum_sg2 - s * s) * (n - 5) AS DOUBLE)"
            " / CAST((n * ss - 5 * sum_sg2) * 4 AS DOUBLE)"
        ).alias("f_stat"),
    )


@query(
    "q_rolling_variance",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         count(*) AS n,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                  * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ss
  FROM events GROUP BY 1
), windowed AS (
  SELECT hour_start,
         CAST(SUM(n) OVER w AS BIGINT) AS big_n,
         CAST(SUM(s) OVER w AS BIGINT) AS big_s,
         CAST(SUM(ss) OVER w AS BIGINT) AS big_ss
  FROM hourly
  WINDOW w AS (ORDER BY hour_start ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT hour_start, big_n, big_s, big_ss,
       big_n * big_ss - big_s * big_s AS var_scaled
FROM windowed
""",
)
def q_rolling_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rolling variance of the event value series, exact:
    per-hour sufficient statistics (count, sum, sum-of-squares on a
    centi-unit integer grid), a 24-row trailing window summing them,
    and the scaled variance ``N*SS - S^2`` (= N^2 * population
    variance) as a single BIGINT — the monitoring band (Bollinger /
    z-score denominator) with no float accumulation drift.  Magnitude
    audit: SS <= 24h x 175 events x 1e8 ~ 4e11, N*SS ~ 2e15 << 2^63 at
    sf0.1; at 100x the same shape needs DECIMAL(38,0) accumulators
    (documented, not silently wrong — ANSI mode throws on overflow).
    Scale: fact scan -> hour-grain partials (map-side combine), then a
    720-row window — raw facts never enter the window."""
    e = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 100).cast("long")
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("ss"),
    )
    w = Window.orderBy("hour_start").rowsBetween(-23, 0)
    windowed = hourly.select(
        "hour_start",
        F.sum("n").over(w).alias("big_n"),
        F.sum("s").over(w).alias("big_s"),
        F.sum("ss").over(w).alias("big_ss"),
    )
    return windowed.select(
        "hour_start",
        "big_n",
        "big_s",
        "big_ss",
        (F.col("big_n") * F.col("big_ss") - F.col("big_s") * F.col("big_s")).alias(
            "var_scaled"
        ),
    )


@query(
    "q_parallel_variance",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ss,
       count(*) * CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                           * CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         - CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           * CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS var_scaled
FROM events
GROUP BY event_type
""",
)
def q_parallel_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chan-style parallel variance: per-type variance assembled by
    MERGING disjoint partial sufficient statistics (count / sum /
    sum-of-squares per event_id-parity generation) rather than a
    second pass — the one-pass distributed variance every engine's
    var_pop physically computes, proven exact here because the oracle
    aggregates directly and the hash must match.  Same centi-unit
    integer grid and magnitude audit as q_rolling_variance.  Scale:
    partials merge associatively, so this is also the streaming /
    incremental-refresh form (extends q_incremental_agg's count+sum
    state with the second moment)."""
    e = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 100).cast("long")
    partials = (
        e.withColumn("gen", F.expr("event_id % 2"))
        .groupBy("gen", "event_type")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(x).alias("ps"),
            F.sum(x * x).alias("pss"),
        )
    )
    merged = partials.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("ps").alias("s"),
        F.sum("pss").alias("ss"),
    )
    return merged.select(
        "event_type",
        "n",
        "s",
        "ss",
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias("var_scaled"),
    )


@query(
    "q_lorenz_deciles",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_centi
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, rev_centi,
         ntile(10) OVER (ORDER BY rev_centi ASC, o_custkey ASC) AS decile
  FROM per_cust
), per_dec AS (
  SELECT decile, count(*) AS n_customers,
         CAST(SUM(rev_centi) AS BIGINT) AS dec_centi
  FROM ranked GROUP BY decile
)
SELECT decile, n_customers, dec_centi,
       CAST(CAST(SUM(dec_centi) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            * 1000000
            // CAST(SUM(dec_centi) OVER () AS BIGINT) AS BIGINT) AS cum_share_ppm
FROM per_dec
""",
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration at decile grain
    — the inequality audit behind Gini-style KPIs.  Customers rank by
    exact centi-unit revenue (ascending, id tiebreak), ntile(10) cuts
    deciles identically in both engines (same ceil-first rule as
    q_rfm), and each decile's cumulative share is an exact
    ppm integer: cum*1e6 stays under 2^63 on the centi grid at sf0.1
    (~4e18; a 10x corpus moves the accumulators to DECIMAL(38,0)).
    Scale: one shuffle to customer grain, a RANGE-PARTITIONED ntile
    over the (corpus-growing) customer table, then one bounded 10-row
    decile window."""
    from ..functions.ranks import with_global_order

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_centi")
    )
    ranked = with_global_order(
        per_cust,
        [F.col("rev_centi").asc(), F.col("o_custkey").asc()],
        ntile=("decile", 10),
    )
    per_dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_centi").alias("dec_centi"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return per_dec.select(
        "decile",
        "n_customers",
        "dec_centi",
        F.expr(
            "CAST(sum(dec_centi) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
            " div sum(dec_centi) OVER () AS BIGINT)"
        ).alias("cum_share_ppm"),
    )


@query(
    "q_share_of_total",
    oracle="""
WITH per_nation AS (
  SELECT n.n_name AS nation,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(28,10))) * 1000000 AS BIGINT) AS rev_micros
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT nation, rev_micros,
       CAST(rev_micros * 1000 // (SELECT SUM(rev_micros) FROM per_nation)
            AS BIGINT) AS share_permille,
       CAST(rev_micros * 1000 // (SELECT MAX(rev_micros) FROM per_nation)
            AS BIGINT) AS vs_top_permille
FROM per_nation
""",
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's exact revenue share of the total
    (permille) and relative size versus the largest nation (ppm) — the
    classic percent-of-total window pattern.  Shares are integer div
    over exact DECIMAL micro-mass; permille (not ppm) resolution keeps
    rev_micros*1000 within BIGINT at 100x corpus mass (ppm overflowed
    at sf0.01 already - ANSI caught it).  Scale:
    the fact aggregate is the only big shuffle (nation via broadcast
    dims); the two global references are a 25-row window."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_nation = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev) * 1000000).cast("bigint").alias("rev_micros"))
    )
    wall = Window.partitionBy()
    return per_nation.select(
        "nation",
        "rev_micros",
        F.sum("rev_micros").over(wall).alias("total"),
        F.max("rev_micros").over(wall).alias("top"),
    ).select(
        "nation",
        "rev_micros",
        F.expr("rev_micros * 1000 div total").alias("share_permille"),
        F.expr("rev_micros * 1000 div top").alias("vs_top_permille"),
    )


@query(
    "q_cumulative_distinct",
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start
  FROM events
)
SELECT d.day_start,
       (SELECT count(DISTINCT e.user_id) FROM events e
        WHERE CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) <= d.day_start)
         AS cum_users
FROM days d
""",
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct users per day ("cumulative reach").  The naive
    form — the oracle's correlated COUNT(DISTINCT) per day — rescans
    the fact table once per day; the scalable identity is that a user
    counts from their FIRST day onward, so cumulative distinct is the
    running sum of first-seen counts: one shuffle to per-user min(day),
    one tiny per-day aggregate, one |days|-row window.  (For SLIDING
    distinct windows, where first-seen does not apply, the bitmap-word
    rollup of q_bitmap_distinct is the tool — OR the trailing days'
    words and popcount.)  All counts are exact integers."""
    e = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start")
    firsts = (
        e.select("user_id", day)
        .groupBy("user_id")
        .agg(F.min("day_start").alias("first_day"))
        .groupBy(F.col("first_day").alias("day_start"))
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    days = e.select(day).distinct()
    wcum = Window.orderBy("day_start").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(firsts, "day_start", "left")
        .select("day_start", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select("day_start", F.sum("new_users").over(wcum).alias("cum_users"))
    )


@query(
    "q_ohlc",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       count(*) AS n,
       arg_min(value, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, event_id) AS close
FROM events
GROUP BY 1
""",
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars over the event value
    series — the time-series downsampling shape every monitoring /
    market pipeline runs.  open/close use ``min_by``/``max_by`` keyed
    on ``event_id`` (unique and verified ts-monotone, so "value at the
    earliest/latest event of the hour" is deterministic even when two
    events share a truncated timestamp — ts alone would tie).  All
    four emitted prices are SELECTIONS of stored doubles, not sums, so
    they are bit-identical across engines with no decimal staging.
    Scale: a single hash aggregate with map-side partial min_by/max_by
    merge — per-partition partials carry one (value, key) pair per
    bar, so the shuffle is |hours| rows regardless of fact count."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
    )


@query(
    "q_hist2d",
    oracle="""
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
       CAST(floor(value / 50) AS BIGINT) AS value_bucket,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def q_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (hour-of-day x fixed 50-unit value band) — the
    density heatmap behind load/fraud dashboards.  Bin edges are FIXED
    constants, not data-derived quantiles, so the binning is a pure
    per-row projection (no pre-pass, no shuffle beyond the aggregate)
    and the bucket id is exact: value/50 is the same double in both
    engines and floor-then-CAST sidesteps DuckDB's rounding
    double->int cast.  Scale: one hash aggregate to |hours x buckets|
    ~ 300 cells; the distinct-user count per cell is the only
    expensive aggregate and shares the same single shuffle."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.floor(F.col("value") / 50).cast("bigint").alias("value_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "q_weighted_median",
    oracle="""
WITH pp AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_centi,
         CAST(floor(l_quantity) AS BIGINT) AS wt
  FROM lineitem
), by_price AS (
  SELECT flag, price_centi, CAST(SUM(wt) AS BIGINT) AS w
  FROM pp GROUP BY flag, price_centi
), cum AS (
  SELECT flag, price_centi,
         CAST(SUM(w) OVER (PARTITION BY flag ORDER BY price_centi
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
  FROM by_price
)
SELECT flag, min(price_centi) AS wmedian_centi,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM cum
WHERE cw * 2 >= tw
GROUP BY flag
""",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: per return flag, the extended price at which
    cumulative line-item QUANTITY first reaches half the total — the
    inventory-weighted "typical price" plain percentile_cont cannot
    express.  Prices ride a centi-unit integer grid and quantities are
    integral, so the crossing rule ``2*cumweight >= total`` is exact
    integer arithmetic with no interpolation to disagree on.  Scale:
    facts collapse to per-(flag, price) weight partials first (hash
    aggregate with map-side combine), so the partitioned cumulative
    window orders |distinct prices| rows per flag, never raw facts."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("price_centi"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("wt"),
    )
    by_price = pp.groupBy("flag", "price_centi").agg(F.sum("wt").alias("w"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price_centi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = by_price.select(
        "flag",
        "price_centi",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_centi").alias("wmedian_centi"),
            F.min("tw").alias("total_weight"),
        )
    )


@query(
    "q_sliding_distinct",
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day_num
  FROM events
)
SELECT d.day_num,
       (SELECT count(DISTINCT e.user_id) FROM events e
        WHERE CAST(epoch(date_trunc('day', e.ts)) // 86400 AS BIGINT)
              BETWEEN d.day_num - 6 AND d.day_num) AS users_7d
FROM days d
""",
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per day — the sliding
    window where the first-seen trick behind q_cumulative_distinct
    does not apply (a user re-enters every window they act in) and
    engines usually surrender to approx sketches.  The distributed
    form: user ids become (word, bit) coordinates in a 62-bit bitmap
    (bit 62/63 unused — no sign-bit shifts to disagree across
    engines), per-(day, word) masks OR-combine map-side, the trailing
    window ORs each word's last 7 days over a DENSE day x word grid
    (a missing (day, word) row would silently drop that word's bits
    from the popcount — the grid is |days| x |users|/62 rows, which
    is exactly the bitmap's memory footprint and tiny relative to the
    fact table), and popcounts sum per day.  Every step is integer
    and associative: the same plan handles any window length at 100
    TB with state |users|/62 words per day, while the oracle's
    correlated COUNT(DISTINCT) rescans the facts per day.  bit_count
    on two's-complement BIGINT agrees across engines because the
    masks never touch the sign bit."""
    e = load_table(spark, sf_dir, "events")
    day_num = (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400).cast("bigint")
    coords = e.select(
        day_num.alias("day_num"),
        F.expr("user_id div 62").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))").alias(
            "mask"
        ),
    )
    day_word = coords.groupBy("day_num", "word").agg(F.bit_or("mask").alias("bits"))
    days = coords.select("day_num").distinct()
    words = coords.select("word").distinct()
    grid = days.crossJoin(F.broadcast(words))
    dense = grid.join(day_word, ["day_num", "word"], "left").select(
        "day_num", "word", F.coalesce("bits", F.lit(0).cast("long")).alias("bits")
    )
    wtrail = (
        Window.partitionBy("word").orderBy("day_num").rangeBetween(-6, 0)
    )
    ored = dense.select(
        "day_num", F.bit_or("bits").over(wtrail).alias("bits7")
    )
    return ored.groupBy("day_num").agg(
        F.sum(F.bit_count("bits7")).cast("bigint").alias("users_7d")
    )


@query(
    "q_path_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM seq
WHERE t3 IS NOT NULL
GROUP BY 1
""",
)
def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: every length-3 event-type sequence a
    user walks (the Sankey/flow-diagram input, and the order-3
    generalization of q_markov_transitions' pair matrix).  Two leads
    over ONE user-partitioned window (single shuffle, shared frame),
    trailing incomplete trigrams dropped; the path key is
    concatenated into a scalar string so nothing non-scalar reaches
    the aggregate.  Event order is event_id (ts-monotone, unique —
    CLAUDE.md).  Scale: |paths| ≤ |types|³ = 125 groups; the window
    is the only fact-sized stage."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path"), "user_id"
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query(
    "q_local_time_agg",
    oracle="""
SELECT CAST(hour((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Berlin') AS BIGINT)
         AS local_hour,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
""",
)
def q_local_time_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Civil-time (timezone-aware) aggregation: events bucketed by
    Berlin LOCAL hour-of-day — the daily-rhythm profile dashboards
    actually want, which differs from the UTC bucketing everywhere
    else in the registry by the DST-dependent 1-2 h shift that both
    engines must resolve through their own tz databases (JVM zoneinfo
    vs ICU agreeing here is precisely what the hash check pins).
    Storage stays UTC (the only sane 100 TB layout); conversion is a
    per-row projection folded into one 24-row aggregate, so timezone
    correctness costs nothing at scale."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.hour(F.from_utc_timestamp("ts", "Europe/Berlin"))
        .cast("bigint")
        .alias("local_hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "q_key_skew_audit",
    oracle="""
WITH per_key AS (
  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, o_custkey) AS rk,
         count(*) OVER () AS n_keys,
         CAST(SUM(c) OVER () AS BIGINT) AS total
  FROM per_key
)
SELECT CAST(min(n_keys) AS BIGINT) AS n_keys,
       CAST(min(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_key_rows,
       CAST(max(CASE WHEN rk = (n_keys + 99) // 100 THEN c END) AS BIGINT) AS p99_key_rows,
       CAST(CAST(SUM(CASE WHEN rk <= (n_keys + 99) // 100 THEN c ELSE 0 END) AS BIGINT)
            * 1000 // min(total) AS BIGINT) AS top1pct_share_permille
FROM ranked
""",
)
def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the pre-flight check that decides whether
    a key needs the salted path (q_join_salted /
    q_agg_twophase_salted): per-key row counts for the orders→customer
    join key, reduced to the numbers that matter at 1000 executors —
    hottest key, p99 key, and the permille of all rows carried by the
    top 1% of keys (if that share is large, one task inherits it
    after the shuffle).  Exact integers; the rank runs over per-key
    COUNTS (|keys| rows — still corpus-growing, so it is a
    RANGE-PARTITIONED rank, not a single-task window) and the two
    scalar totals ride a broadcast.  m_graph_degree is the graph twin
    of this audit; this is the relational one."""
    from ..functions.ranks import with_global_order

    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    base = with_global_order(
        per_key, [F.col("c").desc(), F.col("o_custkey").asc()], rank_col="rk"
    )
    # totals from the helper output — reuses its checkpoint, no second
    # pass over the per-key aggregate
    totals = base.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("c").alias("total")
    )
    ranked = base.crossJoin(F.broadcast(totals))
    return ranked.agg(
        F.min("n_keys").cast("bigint").alias("n_keys"),
        F.min("total").cast("bigint").alias("total_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.max(F.when(F.col("rk") == F.expr("(n_keys + 99) div 100"), F.col("c")))
        .cast("bigint")
        .alias("p99_key_rows"),
        F.expr(
            "CAST(SUM(CASE WHEN rk <= (n_keys + 99) div 100 THEN c ELSE 0 END)"
            " * 1000 div min(total) AS BIGINT)"
        ).alias("top1pct_share_permille"),
    )


@query(
    "q_capped_running_sum",
    oracle="""
WITH flow AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100) AS BIGINT) - 5000 AS x
  FROM events
), runs AS (
  SELECT user_id, event_id,
         CAST(SUM(x) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
  FROM flow
), floored AS (
  SELECT user_id, event_id, r,
         CAST(LEAST(CAST(0 AS BIGINT),
              MIN(r) OVER (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
           AS floor_r
  FROM runs
)
SELECT user_id, event_id, CAST(r - floor_r AS BIGINT) AS balance_centi
FROM floored
""",
)
def q_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance FLOORED AT ZERO — inventory / wallet / rate-
    limiter semantics where drains below empty are lost, not owed.
    The recurrence b_i = max(0, b_{i-1} + x_i) looks inherently
    sequential (per-row recursion no engine's window frames express),
    but it has a closed two-window form: b_i = run_i − min(0,
    prefix-min of run) — the running sum minus the deepest
    below-zero excursion so far.  That identity turns an apparently
    iterative stateful scan into two stacked windows over the SAME
    partition ordering (one shuffle, no recursion, no UDF) — the
    kind of rewrite that keeps 100 TB of per-key telemetry inside
    whole-stage codegen.  Flows are exact centi-units (floor, signed
    around a 50.00 drain threshold)."""
    e = load_table(spark, sf_dir, "events")
    flow = e.select(
        "user_id",
        "event_id",
        (F.floor(F.col("value") * 100).cast("long") - 5000).alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flow.select(
        "user_id",
        "event_id",
        F.sum("x").over(w).alias("r"),
    )
    runs = runs.select(
        "user_id",
        "event_id",
        "r",
        F.least(F.lit(0).cast("long"), F.min("r").over(w)).alias("floor_r"),
    )
    return runs.select(
        "user_id", "event_id", (F.col("r") - F.col("floor_r")).alias("balance_centi")
    )


@query(
    "q_percent_of_parent",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,10))) * 1000000 AS BIGINT)
           AS rev_micros
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
), lvl AS (
  SELECT region, nation, rev_micros,
         CAST(SUM(rev_micros) OVER (PARTITION BY region) AS BIGINT) AS region_rev,
         CAST(SUM(rev_micros) OVER () AS BIGINT) AS total_rev
  FROM rev
)
SELECT region, nation, rev_micros,
       CAST(rev_micros * 1000 // region_rev AS BIGINT) AS share_of_region_permille,
       CAST(region_rev * 1000 // total_rev AS BIGINT) AS region_share_permille
FROM lvl
""",
)
def q_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (nation→region→
    total revenue) — the drill-down ratio every BI hierarchy view
    shows next to the raw measure, distinct from q_share_of_total's
    flat share by being computed against the IMMEDIATE parent at each
    level.  Revenue rides exact micro-unit integers; both shares are
    integer permille (no rounded decimal quotients).  Scale: facts
    aggregate once to the |nations| grain (broadcast dims on the
    join), then two windows over ≤25 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(28,10)")) * 1000000)
            .cast("bigint")
            .alias("rev_micros")
        )
    )
    lvl = rev.select(
        "region",
        "nation",
        "rev_micros",
        F.sum("rev_micros").over(Window.partitionBy("region")).alias("region_rev"),
        F.sum("rev_micros").over(Window.partitionBy()).alias("total_rev"),
    )
    return lvl.select(
        "region",
        "nation",
        "rev_micros",
        F.expr("rev_micros * 1000 div region_rev").alias("share_of_region_permille"),
        F.expr("region_rev * 1000 div total_rev").alias("region_share_permille"),
    )


@query(
    "q_new_vs_returning",
    oracle="""
WITH days AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start
  FROM events GROUP BY 1, 2
), firsts AS (
  SELECT user_id, min(day_start) AS first_day FROM days GROUP BY user_id
)
SELECT d.day_start,
       count(*) AS active_users,
       COUNT(CASE WHEN f.first_day = d.day_start THEN 1 END) AS new_users,
       COUNT(CASE WHEN f.first_day < d.day_start THEN 1 END) AS returning_users
FROM days d JOIN firsts f ON f.user_id = d.user_id
GROUP BY d.day_start
""",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW vs RETURNING — the growth-
    accounting companion to q_cumulative_distinct (whose first-seen
    trick this reuses: a user is "new" exactly on their min day) and
    q_retention (which tracks the cohort the other direction).  Facts
    collapse to distinct (user, day) pairs first, the per-user min
    joins back on user — two shuffles total, both on keys the later
    stages reuse; counts exact.  At scale the firsts table is the
    user-dimension surrogate every growth metric shares (build once,
    reuse across metrics)."""
    e = load_table(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        )
        .distinct()
    )
    firsts = days.groupBy("user_id").agg(F.min("day_start").alias("first_day"))
    return (
        days.join(firsts, "user_id")
        .groupBy("day_start")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.when(F.col("first_day") == F.col("day_start"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("first_day") < F.col("day_start"), 1)).alias(
                "returning_users"
            ),
        )
    )


@query(
    "q_rolling_corr",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS y
  FROM events
  GROUP BY 1
), filled AS (
  SELECT h, coalesce(x, 0) AS x, coalesce(y, 0) AS y FROM hourly
), windowed AS (
  SELECT h,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM filled
  WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT h, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS corr_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS var_x_scaled,
       CAST(n * syy - sy * sy AS BIGINT) AS var_y_scaled
FROM windowed
""",
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rolling correlation between the click and
    purchase value series — the co-movement monitor quant/ops
    dashboards run over metric pairs.  Emitted as exact integer
    sufficient statistics (n·Σxy−ΣxΣy and both scaled variances;
    r² = num²/(vx·vy) assembles downstream) — the bivariate extension
    of q_rolling_variance, same hour-grain pre-aggregation so the
    trailing window only ever sees ~720 rows, never facts.  Hours
    missing a series contribute 0 mass (explicit coalesce, mirrored).
    Magnitude audit: |x| ≤ 175·5.6e4 centi ≈ 1e7/hour, x·y ≤ 1e14,
    24h·n·Σxy ≈ 6e16 < 2^63."""
    e = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("long")
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", vc)), F.lit(0)
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", vc)), F.lit(0)
        ).alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-23, 0)
    windowed = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    return windowed.select(
        "h",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("corr_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "var_x_scaled"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "var_y_scaled"
        ),
    )


@query(
    "q_runs_test",
    oracle="""
WITH signs AS (
  SELECT event_type, event_id,
         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS sgn
  FROM events
), flagged AS (
  SELECT event_type, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY event_id)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS flip
  FROM signs
)
SELECT event_type,
       COUNT(CASE WHEN sgn = 1 THEN 1 END) AS n_above,
       COUNT(CASE WHEN sgn = 0 THEN 1 END) AS n_below,
       CAST(SUM(flip) AS BIGINT) AS n_runs
FROM flagged
GROUP BY event_type
""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs statistics per event-type series: counts
    above/below the fixed 50.0 reference and the number of RUNS
    (maximal same-sign streaks, counted as sign flips + first row) —
    the classic randomness screen whose z-score assembles from these
    three integers (too few runs = trending/sticky series, too many
    = oscillating; feeds the same monitoring stack as q_changepoint
    but needs no threshold tuning).  Sign flips come from one lag
    window in event_id order (ts-monotone); everything is an exact
    integer count.  Scale: one partitioned window + one aggregate —
    the window state is a single previous-sign bit."""
    e = load_table(spark, sf_dir, "events")
    signs = e.select(
        "event_type",
        "event_id",
        F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("sgn"),
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    flagged = signs.select(
        "event_type",
        "sgn",
        F.when(
            ~F.lag("sgn").over(w).eqNullSafe(F.col("sgn")), 1
        ).otherwise(0).alias("flip"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.when(F.col("sgn") == 1, 1)).alias("n_above"),
        F.count(F.when(F.col("sgn") == 0, 1)).alias("n_below"),
        F.sum("flip").cast("bigint").alias("n_runs"),
    )


@query(
    "q_seasonal_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         CAST(dayofweek(date_trunc('day', ts)) + 1 AS BIGINT) AS dow,
         count(*) AS c
  FROM events
  GROUP BY 1, 2
), dow_stats AS (
  SELECT dow, count(*) AS n_w, CAST(SUM(c) AS BIGINT) AS s_w
  FROM daily GROUP BY dow
)
SELECT d.day_start, d.dow, d.c,
       CAST(st.s_w AS BIGINT) AS dow_total,
       CAST(st.n_w AS BIGINT) AS dow_days,
       CAST(d.c * st.n_w - st.s_w AS BIGINT) AS resid_scaled
FROM daily d JOIN dow_stats st ON st.dow = d.dow
""",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality decomposition of the daily event series:
    each day carries its day-of-week seasonal component (as the exact
    pair total/days — the mean assembles downstream) and its
    SCALED residual ``c·n_w − S_w`` (= n_w × the deviation from the
    dow mean, the n·x−S trick yet again) — the anomaly signal that
    q_changepoint-style detectors should consume AFTER seasonality
    removal, or Monday peaks alarm every week.  DuckDB's dayofweek is
    0-based (+1 mirrored per the working notes); all columns exact
    integers.  Scale: facts → |days| rows → one tiny dim join."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        F.dayofweek(F.date_trunc("day", "ts")).cast("bigint").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("c"))
    dow_stats = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_w"), F.sum("c").alias("s_w")
    )
    return daily.join(F.broadcast(dow_stats), "dow").select(
        "day_start",
        "dow",
        "c",
        F.col("s_w").cast("bigint").alias("dow_total"),
        F.col("n_w").cast("bigint").alias("dow_days"),
        (F.col("c") * F.col("n_w") - F.col("s_w")).cast("bigint").alias(
            "resid_scaled"
        ),
    )


@query(
    "q_conversion_lag",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click'
                  THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS fc,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS fp
  FROM events GROUP BY user_id
), lags AS (
  SELECT user_id, fp - fc AS lag_s FROM firsts
  WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp >= fc
), ranked AS (
  SELECT lag_s, row_number() OVER (ORDER BY lag_s, user_id) AS rk,
         count(*) OVER () AS n
  FROM lags
)
SELECT CAST(min(n) AS BIGINT) AS n_converted,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN lag_s END) AS BIGINT) AS p50_lag_s,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN lag_s END) AS BIGINT) AS p90_lag_s,
       CAST(max(lag_s) AS BIGINT) AS max_lag_s
FROM ranked
""",
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from FIRST
    click to FIRST purchase, summarized as discrete p50/p90/max —
    the latency half of the funnel story (q_funnel counts who
    converts; this measures how long they take, which sets the
    attribution window q_attribution should use).  Lags are exact
    integer seconds (second-truncated epochs per the working notes),
    the percentiles are type-1 SELECTIONS with the integer ceil-index
    arithmetic of m_embed_dim_quantiles, users who purchase before
    ever clicking are excluded explicitly (the fp >= fc rule, in
    both engines).  Scale: one per-user aggregate, then a
    RANGE-PARTITIONED rank over |converted users| rows (corpus-growing
    — no single-task window) with the count riding a broadcast."""
    from ..functions.ranks import with_global_order

    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", "ts"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", sec)).alias("fc"),
        F.min(F.when(F.col("event_type") == "purchase", sec)).alias("fp"),
    )
    lags = firsts.where(
        F.col("fc").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fc"))
    ).select("user_id", (F.col("fp") - F.col("fc")).alias("lag_s"))
    base = with_global_order(
        lags, [F.col("lag_s").asc(), F.col("user_id").asc()], rank_col="rk"
    )
    # count from the helper output — reuses its checkpoint, no
    # second pass over the per-user firsts aggregate
    ranked = base.crossJoin(F.broadcast(base.agg(F.count(F.lit(1)).alias("n"))))
    return ranked.agg(
        F.min("n").cast("bigint").alias("n_converted"),
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("lag_s")))
        .cast("bigint")
        .alias("p50_lag_s"),
        F.max(F.when(F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("lag_s")))
        .cast("bigint")
        .alias("p90_lag_s"),
        F.max("lag_s").cast("bigint").alias("max_lag_s"),
    )


@query(
    "q_max_concurrency",
    oracle="""
WITH deltas AS (
  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, 1 AS d
  FROM events
  UNION ALL
  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800 AS t, -1 AS d
  FROM events
), merged AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS net FROM deltas GROUP BY t
), swept AS (
  SELECT t,
         CAST(SUM(net) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS live
  FROM merged
)
SELECT CAST(t // 86400 AS BIGINT) AS day_num,
       CAST(max(live) AS BIGINT) AS peak_concurrency
FROM swept
GROUP BY 1
""",
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep line: every event opens a
    30-minute presence interval, +1/−1 deltas merge per second and a
    single running sum walks the timeline — max overlap per day falls
    out of one window, the O(n log n) classic that replaces the
    O(n²) self-join ("how many intervals contain t") formulation.
    Capacity planning's favorite number, exact integers end-to-end
    (second-truncated epochs).  Scale: deltas collapse to per-second
    partials FIRST (map-side combine), then the sweep runs
    RANGE-PARTITIONED with boundary-offset recombination
    (functions.ranks.with_global_order) over |distinct seconds| rows
    — the timeline grows with the corpus, so no single-task window."""
    from ..functions.ranks import with_global_order

    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", "ts"))
    opens = e.select(sec.alias("t"), F.lit(1).alias("d"))
    closes = e.select((sec + 1800).alias("t"), F.lit(-1).alias("d"))
    merged = opens.unionByName(closes).groupBy("t").agg(
        F.sum("d").alias("net")
    )
    swept = with_global_order(
        merged, [F.col("t").asc()], cumsum={"live": F.col("net")}
    )
    return swept.groupBy(F.expr("CAST(t div 86400 AS BIGINT)").alias("day_num")).agg(
        F.max("live").cast("bigint").alias("peak_concurrency")
    )


@query(
    "q_interarrival_hist",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT)
           - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY event_id) AS dt
  FROM events
)
SELECT CASE WHEN dt = 0 THEN 0 ELSE length(bin(dt)) END AS log2_bucket,
       count(*) AS n,
       CAST(min(dt) AS BIGINT) AS min_dt,
       CAST(max(dt) AS BIGINT) AS max_dt
FROM seq
WHERE dt IS NOT NULL
GROUP BY 1
""",
)
def q_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution on LOG2 buckets: per-user gaps
    between consecutive events, bucketed by bit length — logarithmic
    histogram bins with ZERO transcendental math (bit length = 
    floor(log2)+1, an exact integer both engines compute from the
    same binary string), the right shape for heavy-tailed gap
    distributions where q_hist2d's linear bins put everything in two
    cells.  The dt=0 bucket is explicit: same-user events CAN share
    a truncated second (the corrected working-notes rule), so zero
    gaps are data, not errors.  One lag window per user + an
    aggregate to ~20 buckets."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", "ts"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select((sec - F.lag(sec).over(w)).alias("dt")).where(
        F.col("dt").isNotNull()
    )
    return seq.groupBy(
        F.when(F.col("dt") == 0, 0)
        .otherwise(F.length(F.bin("dt")))
        .cast("bigint")
        .alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dt").cast("bigint").alias("min_dt"),
        F.max("dt").cast("bigint").alias("max_dt"),
    )


@query(
    "q_basket_lift",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         event_type
  FROM events
), n_baskets AS (
  SELECT count(*) AS n
  FROM (SELECT DISTINCT user_id, day_start FROM baskets) b
), supp AS (
  SELECT event_type, count(*) AS n_t FROM baskets GROUP BY event_type
), pair_supp AS (
  SELECT a.event_type AS t_a, b.event_type AS t_b, count(*) AS n_ab
  FROM baskets a
  JOIN baskets b ON b.user_id = a.user_id AND b.day_start = a.day_start
   AND b.event_type > a.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.t_a, p.t_b, CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(sa.n_t AS BIGINT) AS n_a, CAST(sb.n_t AS BIGINT) AS n_b,
       CAST(p.n_ab * nb.n * 1000 // (sa.n_t * sb.n_t) AS BIGINT)
         AS lift_permille
FROM pair_supp p
JOIN supp sa ON sa.event_type = p.t_a
JOIN supp sb ON sb.event_type = p.t_b
CROSS JOIN n_baskets nb
""",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule LIFT over (user, day) baskets: for every
    event-type pair, how much more often they co-occur in a basket
    than independence predicts — ``lift = P(ab)/(P(a)·P(b)) =
    n_ab·N/(n_a·n_b)``, the market-basket statistic (the behavioral
    twin of m_collocations' token PMI and m_link_predict's graph
    scores), emitted as exact integer permille (all four counts are
    basket counts over the same N, so the ratio needs no floats).
    Scale: baskets collapse to distinct (user, day, type) FIRST, the
    pair join runs within basket keys (bounded by |types|² per
    basket — never a cross join), supports broadcast back onto ≤
    |types|² pairs."""
    e = load_table(spark, sf_dir, "events")
    baskets = e.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        "event_type",
    ).distinct()
    n_baskets = baskets.select("user_id", "day_start").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    supp = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    b2 = baskets.select(
        F.col("user_id").alias("u2"),
        F.col("day_start").alias("d2"),
        F.col("event_type").alias("t_b"),
    )
    pair_supp = (
        baskets.join(
            b2,
            (F.col("user_id") == F.col("u2"))
            & (F.col("day_start") == F.col("d2"))
            & (F.col("t_b") > F.col("event_type")),
        )
        .groupBy(F.col("event_type").alias("t_a"), "t_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = supp.select(F.col("event_type").alias("t_a"), F.col("n_t").alias("n_a"))
    sb = supp.select(F.col("event_type").alias("t_b"), F.col("n_t").alias("n_b"))
    return (
        pair_supp.join(F.broadcast(sa), "t_a")
        .join(F.broadcast(sb), "t_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "t_a",
            "t_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("CAST(n_ab * n * 1000 div (n_a * n_b) AS BIGINT)").alias(
                "lift_permille"
            ),
        )
    )


@query(
    "q_audience_overlap",
    oracle="""
WITH aud AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS n_users FROM aud GROUP BY event_type
), inter AS (
  SELECT a.event_type AS t_a, b.event_type AS t_b, count(*) AS n_both
  FROM aud a
  JOIN aud b ON b.user_id = a.user_id AND b.event_type > a.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.t_a, i.t_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       CAST(sa.n_users AS BIGINT) AS n_a,
       CAST(sb.n_users AS BIGINT) AS n_b,
       CAST(i.n_both * 1000 // (sa.n_users + sb.n_users - i.n_both) AS BIGINT)
         AS jaccard_permille
FROM inter i
JOIN sizes sa ON sa.event_type = i.t_a
JOIN sizes sb ON sb.event_type = i.t_b
""",
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    exact Jaccard of their USER sets (inclusion-exclusion on exact
    counts — union never materializes) — the segmentation question
    ("are purchasers a subset of clickers?") behind every audience
    targeting decision, and the set-level complement of
    q_basket_lift's co-occurrence rates.  Scale: distinct (type,
    user) pairs shuffle once on user for the pair join; the |types|²
    output joins broadcast sizes; at very large audiences the
    q_bitmap_distinct word-packing computes the same intersections
    via AND+popcount."""
    e = load_table(spark, sf_dir, "events")
    aud = e.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    b = aud.select(
        F.col("user_id").alias("u2"), F.col("event_type").alias("t_b")
    )
    inter = (
        aud.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("t_b") > F.col("event_type")),
        )
        .groupBy(F.col("event_type").alias("t_a"), "t_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("t_a"), F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("t_b"), F.col("n_users").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "t_a")
        .join(F.broadcast(sb), "t_b")
        .select(
            "t_a",
            "t_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "CAST(n_both * 1000 div (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


@query(
    "q_ks_test",
    oracle="""
WITH a AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS c
  FROM events WHERE event_type = 'click' GROUP BY 1
), b AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), support AS (
  SELECT v FROM a UNION SELECT v FROM b
), cum AS (
  SELECT s.v,
         CAST(SUM(COALESCE(a.c, 0)) OVER (ORDER BY s.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ca,
         CAST(SUM(COALESCE(b.c, 0)) OVER (ORDER BY s.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cb
  FROM support s
  LEFT JOIN a ON a.v = s.v
  LEFT JOIN b ON b.v = s.v
), tot AS (
  SELECT (SELECT count(*) FROM events WHERE event_type = 'click') AS na,
         (SELECT count(*) FROM events WHERE event_type = 'purchase') AS nb
)
SELECT CAST(t.na AS BIGINT) AS n_a,
       CAST(t.nb AS BIGINT) AS n_b,
       CAST(max(abs(c.ca * t.nb - c.cb * t.na)) AS BIGINT) AS d_scaled
FROM cum c, tot t
GROUP BY t.na, t.nb
""",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the
    click and purchase value distributions: D = max |ECDF_a −
    ECDF_b|, computed on the common denominator n_a·n_b so the
    supremum is an integer max over integer differences — no float
    ECDFs to disagree at step boundaries (D = d_scaled/(n_a·n_b)
    downstream; the critical value c(α)·sqrt((n_a+n_b)/(n_a·n_b))
    compares outside the engine).  The drift detector that decides
    "did this feature's distribution change between snapshots" with
    zero distributional assumptions — the rigorous upgrade over
    m_freq_drift's binned L1.  Scale: per-value partials first, then
    the ECDF cumsums run RANGE-PARTITIONED with offset recombination
    (with_global_order) over |distinct values| rows.
    Magnitude: c ≤ 2e4, n ≤ 2e4 → products < 4e8 « 2^63 at sf0.1;
    at 100x stage the counts as DECIMAL(38,0)."""
    e = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("long")
    a = (
        e.where(F.col("event_type") == "click")
        .groupBy(vc.alias("v"))
        .agg(F.count(F.lit(1)).alias("ca0"))
    )
    b = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(vc.alias("v"))
        .agg(F.count(F.lit(1)).alias("cb0"))
    )
    from ..functions.ranks import with_global_order

    support = a.select("v").unionByName(b.select("v")).distinct()
    cum = with_global_order(
        support.join(a, "v", "left").join(b, "v", "left"),
        [F.col("v").asc()],
        cumsum={
            "ca": F.coalesce("ca0", F.lit(0)),
            "cb": F.coalesce("cb0", F.lit(0)),
        },
    )
    tot = e.agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("na"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("nb"),
    )
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.min("na").cast("bigint").alias("n_a"),
        F.min("nb").cast("bigint").alias("n_b"),
        F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
        .cast("bigint")
        .alias("d_scaled"),
    )


@query(
    "q_mann_whitney",
    oracle="""
WITH a AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS ca
  FROM events WHERE event_type = 'click' GROUP BY 1
), b AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS cb
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), merged AS (
  SELECT COALESCE(a.v, b.v) AS v,
         COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
  FROM a FULL OUTER JOIN b ON b.v = a.v
), ranked AS (
  SELECT v, ca, cb,
         CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM merged
), sums AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b,
         CAST(SUM(ca * (2 * cum_before + ca + cb + 1)) AS BIGINT) AS r_a2
  FROM ranked
)
SELECT n_a, n_b,
       CAST(r_a2 - n_a * (n_a + 1) AS BIGINT) AS u_a_doubled
FROM sums
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Mann–Whitney U between the click and purchase value
    samples — the rank-sum location test that needs no normality
    assumption, completing the nonparametric battery (q_ks_test:
    any-difference; q_runs_test: randomness; this: stochastic
    dominance).  Tie handling is where float implementations drift,
    so midranks ride a DOUBLED integer lattice: 2·midrank =
    2·(count below) + (count at value) + 1 is always an odd integer,
    making the tied-rank sum and U = R_a − n_a(n_a+1)/2 exact BIGINTs
    (emitted doubled; U/2 and the normal approximation assemble
    downstream).  Scale: per-value partials, a RANGE-PARTITIONED
    prefix sum (exclusive = inclusive − own), one aggregate — the
    q_ks_test dataflow with a rank-sum instead of a sup."""
    e = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("long")
    a = (
        e.where(F.col("event_type") == "click")
        .groupBy(vc.alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(vc.alias("v"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    merged = a.join(b, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    from ..functions.ranks import with_global_order

    ranked = with_global_order(
        merged, [F.col("v").asc()], cumsum={"upto": F.col("ca") + F.col("cb")}
    ).select(
        "ca",
        "cb",
        (F.col("upto") - F.col("ca") - F.col("cb")).alias("cum_before"),
    )
    sums = ranked.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(
            F.col("ca")
            * (2 * F.col("cum_before") + F.col("ca") + F.col("cb") + 1)
        )
        .cast("bigint")
        .alias("r_a2"),
    )
    return sums.select(
        "n_a",
        "n_b",
        (F.col("r_a2") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("bigint")
        .alias("u_a_doubled"),
    )


@query(
    "q_spearman_stats",
    oracle="""
WITH s AS (
  SELECT event_id,
         CAST(floor(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type = 'view'
), rx_real AS (
  SELECT t.event_id, t.vc,
         CAST(2 * t.below + t.mc + 1 AS BIGINT) AS rx2
  FROM (
    SELECT s.event_id, s.vc, g.c AS mc,
           (SELECT COALESCE(SUM(c), 0) FROM
             (SELECT vc, count(*) AS c FROM s GROUP BY vc) gg
            WHERE gg.vc < s.vc) AS below
    FROM s JOIN (SELECT vc, count(*) AS c FROM s GROUP BY vc) g
      ON g.vc = s.vc
  ) t
), ry AS (
  SELECT event_id,
         CAST(2 * row_number() OVER (ORDER BY event_id) AS BIGINT) AS ry2
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(rx_real.rx2 * ry.ry2) AS BIGINT) AS sxy4,
       CAST(SUM(rx_real.rx2 * rx_real.rx2) AS BIGINT) AS sxx4
FROM rx_real JOIN ry ON ry.event_id = rx_real.event_id
""",
)
def q_spearman_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation sufficient statistics between the
    'view' value series and TIME ORDER (event_id) — the monotone-
    trend test that ignores outliers plain Pearson (q_trend_slope)
    chases.  Tied values take midranks on the DOUBLED integer
    lattice (2·midrank = 2·count-below + count-at + 1, the
    q_mann_whitney device), time ranks are unique, and the emitted
    (n, Σ4·RxRy, Σ4·Rx²) are exact BIGINTs from which ρ assembles
    with the known closed forms ΣRy = n(n+1)/2, ΣRy² =
    n(n+1)(2n+1)/6.  Scale: value midranks come from a per-value
    aggregate joined back (no per-row correlated scan at execution —
    Catalyst rewrites it to a join) with its exclusive prefix sum
    RANGE-PARTITIONED (inclusive cumsum − own count), and the time
    rank over RAW view events — the corpus-growing grain — is a
    range-partitioned rank, not a single-task window.
    Magnitude: (2r)² ≤ 4n², summed ≤ 4n³ ≈ 3e13 at sf0.1."""
    from ..functions.ranks import with_global_order

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "view")
    s = e.select("event_id", F.floor(F.col("value") * 100).cast("long").alias("vc"))
    per_v = s.groupBy("vc").agg(F.count(F.lit(1)).alias("mc"))
    per_v = with_global_order(
        per_v, [F.col("vc").asc()], cumsum={"upto": F.col("mc")}
    ).select("vc", "mc", (F.col("upto") - F.col("mc")).alias("below"))
    rx = s.join(F.broadcast(per_v), "vc").select(
        "event_id",
        (2 * F.col("below") + F.col("mc") + 1).alias("rx2"),
    )
    ry = with_global_order(
        s, [F.col("event_id").asc()], rank_col="ry"
    ).select("event_id", (2 * F.col("ry")).alias("ry2"))
    return rx.join(ry, "event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy4"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx4"),
    )


@query(
    "q_theil_sen",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         count(*) AS c
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.h AS h1, b.h AS h2,
         CAST(b.c - a.c AS DOUBLE) / (b.h - a.h) AS slope
  FROM hourly a JOIN hourly b ON b.h > a.h
), ranked AS (
  SELECT slope, h1, h2,
         row_number() OVER (ORDER BY slope, h1, h2) AS rk,
         count(*) OVER () AS n
  FROM pairs
)
SELECT CAST(min(n) AS BIGINT) AS n_pairs,
       max(CASE WHEN rk = (n + 1) // 2 THEN slope END) AS median_slope
FROM ranked
""",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator on the hourly event-count
    series: the MEDIAN of all pairwise slopes — up to 29% outliers
    cannot move it, unlike least squares (q_trend_slope), which is
    why it is the default for noisy ops metrics.  Hash-safety: every
    pairwise slope is one division of exact integers (Δcount/Δhour),
    correctly rounded to the identical double in both engines, and
    the median is a type-1 SELECTION of those doubles with (slope,
    h1, h2) as a total order — no averaging of middle elements, no
    accumulated float error anywhere.  Scale: the O(k²) pair join
    runs on the HOUR-grain aggregate (k ≈ 720 → 260k pairs for a
    month; the pair table quadratically tracks the calendar span, so
    its median rank is RANGE-PARTITIONED, and a longer-horizon
    deployment samples pairs before this same plan); the fact table
    contributes one hash aggregate."""
    from ..functions.ranks import with_global_order

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.expr(
            "CAST(unix_timestamp(date_trunc('hour', ts)) div 3600 AS BIGINT)"
        ).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    b = hourly.select(F.col("h").alias("h2"), F.col("c").alias("c2"))
    pairs = hourly.join(b, F.col("h2") > F.col("h")).select(
        F.col("h").alias("h1"),
        "h2",
        ((F.col("c2") - F.col("c")).cast("double") / (F.col("h2") - F.col("h"))).alias(
            "slope"
        ),
    )
    base = with_global_order(
        pairs,
        [F.col("slope").asc(), F.col("h1").asc(), F.col("h2").asc()],
        rank_col="rk",
    )
    # scalar total from the helper OUTPUT: reuses its checkpointed
    # frame instead of re-running the O(k²) pair join (code-review r6)
    ranked = base.crossJoin(F.broadcast(base.agg(F.count(F.lit(1)).alias("n"))))
    return ranked.agg(
        F.min("n").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("slope"))).alias(
            "median_slope"
        ),
    )


@query(
    "q_wilcoxon",
    oracle="""
WITH halves AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 % 30 < 15
                       THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS first_half,
         CAST(SUM(CASE WHEN CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 % 30 >= 15
                       THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS second_half
  FROM events GROUP BY user_id
), diffs AS (
  SELECT user_id, second_half - first_half AS d,
         abs(second_half - first_half) AS ad
  FROM halves
  WHERE first_half IS NOT NULL AND second_half IS NOT NULL
    AND second_half <> first_half
), per_ad AS (
  SELECT ad, count(*) AS c FROM diffs GROUP BY ad
), ranked AS (
  SELECT ad, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY ad
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS below
  FROM per_ad
)
SELECT CAST((SELECT count(*) FROM diffs) AS BIGINT) AS n_pairs,
       CAST((SELECT COALESCE(SUM(r.below * 2 + r.c + 1), 0)
             FROM diffs d JOIN ranked r ON r.ad = d.ad
             WHERE d.d > 0) AS BIGINT) AS w_plus_doubled
""",
)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Wilcoxon signed-rank statistic: each user's value mass in
    the first half of the month pairs with their second half (the
    within-subject before/after design), nonzero differences take
    midranks of |d| on the DOUBLED lattice, and W⁺ sums the positive
    differences' ranks — the paired drift test completing the battery
    (KS: two independent samples; Mann-Whitney: location; runs:
    randomness; this: paired).  All exact integers: centi-unit
    halves, doubled midranks, zero-difference pairs dropped per the
    standard procedure.  Scale: one per-user aggregate, a per-|d|
    rank table joined back broadcast — facts shuffle once."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(
        "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) div 86400 % 30"
    )
    vc = F.floor(F.col("value") * 100).cast("long")
    halves = e.groupBy("user_id").agg(
        F.sum(F.when(day < 15, vc)).alias("first_half"),
        F.sum(F.when(day >= 15, vc)).alias("second_half"),
    )
    diffs = halves.where(
        F.col("first_half").isNotNull()
        & F.col("second_half").isNotNull()
        & (F.col("second_half") != F.col("first_half"))
    ).select(
        (F.col("second_half") - F.col("first_half")).alias("d"),
        F.abs(F.col("second_half") - F.col("first_half")).alias("ad"),
    )
    from ..functions.ranks import with_global_order

    per_ad = diffs.groupBy("ad").agg(F.count(F.lit(1)).alias("c"))
    ranked = with_global_order(
        per_ad, [F.col("ad").asc()], cumsum={"upto": F.col("c")}
    ).select("ad", "c", (F.col("upto") - F.col("c")).alias("below"))
    joined = diffs.join(F.broadcast(ranked), "ad")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("d") > 0,
                    F.col("below") * 2 + F.col("c") + 1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("w_plus_doubled"),
    )


@query(
    "q_kendall_tau",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         count(*) AS c
  FROM events GROUP BY 1
), pairs AS (
  SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
  FROM hourly a JOIN hourly b ON b.h > a.h
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(CASE WHEN sgn = 1 THEN 1 END) AS BIGINT) AS concordant,
       CAST(COUNT(CASE WHEN sgn = -1 THEN 1 END) AS BIGINT) AS discordant,
       CAST(COUNT(CASE WHEN sgn = 0 THEN 1 END) AS BIGINT) AS tied
FROM pairs
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau concordance counts for the hourly load series vs
    time: over all hour pairs, how many move WITH time vs against it
    — τ = (C−D)/binom(k,2) assembles from the exact counts, the third
    (and most outlier-insensitive) trend reading next to
    q_trend_slope's OLS and q_theil_sen's median slope; agreement
    across the three is the load-bearing evidence a reported trend is
    real.  Ties counted explicitly.  Scale: same hour-grain pair join
    as q_theil_sen — quadratic only in HOURS."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.expr(
            "CAST(unix_timestamp(date_trunc('hour', ts)) div 3600 AS BIGINT)"
        ).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    b = hourly.select(F.col("h").alias("h2"), F.col("c").alias("c2"))
    pairs = hourly.join(b, F.col("h2") > F.col("h")).select(
        F.when(F.col("c2") > F.col("c"), 1)
        .when(F.col("c2") < F.col("c"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("sgn") == 1, 1)).cast("bigint").alias("concordant"),
        F.count(F.when(F.col("sgn") == -1, 1)).cast("bigint").alias("discordant"),
        F.count(F.when(F.col("sgn") == 0, 1)).cast("bigint").alias("tied"),
    )


@query(
    "q_cohort_ltv_curve",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         CAST(min(epoch(date_trunc('day', ts))) AS BIGINT) // 604800 AS cohort_wk
  FROM events GROUP BY user_id
), spend AS (
  SELECT e.user_id, f.cohort_wk,
         CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) // 604800
           - f.cohort_wk AS age_wk,
         CAST(floor(e.value * 100) AS BIGINT) AS vc
  FROM events e JOIN firsts f ON f.user_id = e.user_id
), per_age AS (
  SELECT cohort_wk, age_wk,
         CAST(SUM(vc) AS BIGINT) AS wk_value,
         count(DISTINCT user_id) AS active_users
  FROM spend GROUP BY cohort_wk, age_wk
)
SELECT cohort_wk, age_wk, wk_value, active_users,
       CAST(SUM(wk_value) OVER (PARTITION BY cohort_wk ORDER BY age_wk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_value
FROM per_age
""",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: cumulative VALUE per signup-week cohort by
    cohort age — the revenue companion to q_cohort_matrix's count
    triangle and q_retention's presence rates (those say who comes
    back; this says what they're worth as the cohort matures, the
    curve payback-period decisions read).  Exact centi-unit mass,
    cumulative per cohort via one partitioned window over the tiny
    (cohort × age) grid.  Scale: facts join the broadcast first-seen
    dim (the same user-dimension surrogate q_new_vs_returning
    builds), aggregate to |cohorts|·|ages| rows, window over that."""
    e = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) div 604800"
    )
    firsts = e.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    spend = e.join(firsts, "user_id").select(
        "user_id",
        "cohort_wk",
        (wk - F.col("cohort_wk")).alias("age_wk"),
        F.floor(F.col("value") * 100).cast("long").alias("vc"),
    )
    per_age = spend.groupBy("cohort_wk", "age_wk").agg(
        F.sum("vc").cast("bigint").alias("wk_value"),
        F.count_distinct("user_id").alias("active_users"),
    )
    wc = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_age.select(
        "cohort_wk",
        "age_wk",
        "wk_value",
        "active_users",
        F.sum("wk_value").over(wc).cast("bigint").alias("cum_value"),
    )



# -- shared subsequence-search scaffolding ----------------------------------
# One oracle CTE prefix and one Spark-side window builder feed all three
# subsequence operators (q_subseq_search, q_subseq_znorm, and
# s_subseq_stream's oracle in streaming/jobs.py): centi-integerized values,
# the lowest user's first 8 events as the pattern, 8-wide per-user windows.
SUBSEQ_ORACLE_PREFIX = """WITH ev AS (
  SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS v FROM events
),
pat AS (
  SELECT list(v ORDER BY event_id) AS p
  FROM (SELECT * FROM ev ORDER BY user_id, event_id LIMIT 8)
),
win AS (
  SELECT user_id, event_id, list(v) OVER (
    PARTITION BY user_id ORDER BY event_id
    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wv
  FROM ev
)"""


@session_memo("events")
def _subseq_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 8-wide sliding windows (``wv``) with the broadcast
    query pattern (``p``) attached — the Spark twin of
    SUBSEQ_ORACLE_PREFIX.

    Session-memoized with a lazy pin: both subsequence operators read
    the one scan + per-user window."""
    from ..registry import checkpoint_df as _ck
    from ..sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    pat = (
        ev.orderBy("user_id", "event_id")
        .limit(8)
        .agg(F.sort_array(F.collect_list(F.struct("event_id", "v"))).alias("s"))
        .select(F.transform("s", lambda r: r["v"]).alias("p"))
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.currentRow, 7
    )
    return (
        ev.withColumn("wv", F.collect_list("v").over(w))
        .where(F.size("wv") == 8)
        .crossJoin(F.broadcast(pat))
        .transform(lambda df: _ck(df, eager=False))
    )


@query(
    "q_subseq_search",
    oracle=SUBSEQ_ORACLE_PREFIX + """,
scored AS (
  SELECT user_id, event_id AS start_id,
         list_reduce(list_transform(range(1, 9),
           i -> (wv[i] - p[i]) * (wv[i] - p[i])), (x, y) -> x + y) AS dist
  FROM win, pat WHERE len(wv) = 8
)
SELECT CAST(row_number() OVER (ORDER BY dist, user_id, start_id) AS INTEGER) AS rnk,
       user_id, start_id, dist
FROM (SELECT * FROM scored ORDER BY dist, user_id, start_id LIMIT 10)
""",
)
def q_subseq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the distributed
    whole-matching shape of EDBT'19 "Time Series Similarity Search for
    Streaming Data" / UCR-suite style scans): take an 8-event query
    pattern (the lowest user's first window), slide an 8-wide window
    over EVERY user's event-ordered value series, and return the 10
    nearest windows by Euclidean distance.  Arithmetic is EXACT: values
    are centi-integerized (floor(value*100) — one IEEE product, both
    engines identical), so each distance is a BIGINT sum of 8 integer
    squares — no rounding rule at all, and the self-match distance 0
    pins the alignment.  The pattern rides a broadcast; windows never
    leave their user partition (collect_list over a 7-FOLLOWING frame);
    the global top-10 is TakeOrderedAndProject (per-partition heads,
    one tiny final merge), NOT a full sort.  At 100 TB this is the
    one-pass sliding-scan + broadcast-pattern dataflow the paper
    distributes, with z-normalization and LB_Keogh pruning as the
    declared extensions."""
    scored = _subseq_windows(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("start_id"),
        F.aggregate(
            F.zip_with("wv", "p", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("dist"),
    )
    top = scored.orderBy("dist", "user_id", "start_id").limit(10)
    return top.select(
        F.row_number()
        .over(Window.orderBy("dist", "user_id", "start_id"))
        .alias("rnk"),
        "user_id",
        "start_id",
        "dist",
    )


@query(
    "q_subseq_znorm",
    oracle=SUBSEQ_ORACLE_PREFIX + """,
st AS (
  SELECT user_id, event_id AS start_id,
    list_reduce(list_transform(range(1, 9), i -> wv[i] * p[i]), (x, y) -> x + y) AS sxy,
    list_reduce(wv, (x, y) -> x + y) AS sx,
    list_reduce(list_transform(wv, x -> x * x), (x, y) -> x + y) AS sxx,
    list_reduce(p, (x, y) -> x + y) AS sy,
    list_reduce(list_transform(p, x -> x * x), (x, y) -> x + y) AS syy
  FROM win, pat WHERE len(wv) = 8
),
corr AS (
  SELECT user_id, start_id,
    round(CAST(8 * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(8 * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(8 * syy - sy * sy AS DOUBLE))), 6) + 0.0 AS zcorr
  FROM st WHERE 8 * sxx - sx * sx > 0 AND 8 * syy - sy * sy > 0
)
SELECT CAST(row_number() OVER (ORDER BY zcorr DESC, user_id, start_id) AS INTEGER) AS rnk,
       user_id, start_id, zcorr
FROM (SELECT * FROM corr ORDER BY zcorr DESC, user_id, start_id LIMIT 10)
""",
)
def q_subseq_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-NORMALIZED subsequence search — the UCR-suite / [q_subseq_search]
    extension that matches SHAPE, not level: ranking by z-normalized
    Euclidean distance equals ranking by Pearson correlation between
    window and pattern, so the top-10 windows by correlation are the
    z-norm nearest neighbors.  Hash-safety is STRONGER than the cosine
    family's: all five sufficient statistics (sxy sx sxx sy syy) are
    exact BIGINT folds over centi-integer values (< 2^53, so the
    BIGINT→DOUBLE conversions are exact in both engines), leaving ONE
    division of bit-identical doubles — the 6 dp round is engine-stable
    by construction, `+ 0.0` kills −0.0.  Flat windows (zero variance)
    are excluded on the exact integer predicate, dodging 0/0 in both
    engines.  The self-match pins zcorr 1.0 at rank 1.  Scale: same
    one-pass sliding scan + broadcast pattern as the raw variant; the
    stats fold is 8 integer ops per window in the JVM."""
    zero = F.lit(0).cast("long")
    isum = lambda arr: F.aggregate(arr, zero, lambda a, x: a + x)  # noqa: E731
    st = _subseq_windows(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("start_id"),
        isum(F.zip_with("wv", "p", lambda x, y: x * y)).alias("sxy"),
        isum(F.col("wv")).alias("sx"),
        isum(F.transform("wv", lambda x: x * x)).alias("sxx"),
        isum(F.col("p")).alias("sy"),
        isum(F.transform("p", lambda x: x * x)).alias("syy"),
    )
    num = 8 * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = 8 * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = 8 * F.col("syy") - F.col("sy") * F.col("sy")
    # guard BOTH variances: a flat window (varx) exists in the data; a
    # flat PATTERN (vary) would otherwise NaN every row after a corpus
    # regeneration — make the invariant explicit, not data-pinned
    corr = st.where((varx > 0) & (vary > 0)).select(
        "user_id",
        "start_id",
        (
            F.round(
                num.cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
                6,
            )
            + 0.0
        ).alias("zcorr"),
    )
    top = corr.orderBy(F.desc("zcorr"), "user_id", "start_id").limit(10)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("zcorr"), "user_id", "start_id"))
        .alias("rnk"),
        "user_id",
        "start_id",
        "zcorr",
    )


@query(
    "q_chi_square",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1, 2
), rm AS (SELECT priority, CAST(SUM(observed) AS BIGINT) AS r FROM cells GROUP BY priority),
cm AS (SELECT status, CAST(SUM(observed) AS BIGINT) AS c FROM cells GROUP BY status),
tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells)
SELECT priority, status, observed,
  CAST((CAST(r AS HUGEINT) * c * 1000000) // n AS BIGINT) AS expected_micro,
  CAST(
    (CAST(observed * n - r * c AS HUGEINT) * (observed * n - r * c) * 1000000)
      // (CAST(n AS HUGEINT) * r * c)
  AS BIGINT) AS chi2_term_micro
FROM cells JOIN rm USING (priority) JOIN cm USING (status) CROSS JOIN tot
""",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence over the 5x3
    order-priority x order-status contingency table: per-cell observed
    count, expected count, and the chi-square contribution
    (O-E)^2/E = (O*N - R*C)^2 / (N*R*C) — emitted per cell so the
    analyst sees WHICH cells drive the statistic (the total is the
    trivial client-side sum of 15 rows). Measured non-vacuous: top
    cell contributions are 1.8/1.2/3.1 at sf0.001/0.01/0.1 with full
    spread across cells. Exact fixed point: the numerator is squared
    in DECIMAL (O*N-R*C <= 1.5e10 at sf0.1 fits BIGINT; its square
    needs 21 digits) and divided with integer `div` — Spark DECIMAL
    div == DuckDB HUGEINT // for positive operands (verified), no
    double arithmetic anywhere, so no rounding-midpoint surface at
    ANY scale (at 100x the denominator N*R*C passes int64, hence the
    decimal/hugeint route on BOTH sides). Scale shape: one scan +
    one 15-row hash agg; marginals re-aggregate the pinned 15-row
    cells frame (checkpoint), bounded-domain keys throughout, no
    window, no Python."""
    from ..registry import checkpoint_df

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
        .transform(checkpoint_df)  # 15 rows — marginals reuse the pin, one corpus scan total
    )
    rm = cells.groupBy("priority").agg(F.sum("observed").cast("bigint").alias("r"))
    cm = cells.groupBy("status").agg(F.sum("observed").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("observed").cast("bigint").alias("n"))
    return (
        cells.join(F.broadcast(rm), "priority")
        .join(F.broadcast(cm), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "status",
            "observed",
            F.expr(
                "CAST((CAST(r AS DECIMAL(20,0)) * c * 1000000) div n AS BIGINT)"
            ).alias("expected_micro"),
            F.expr(
                "CAST((CAST(observed * n - r * c AS DECIMAL(20,0))"
                " * (observed * n - r * c) * 1000000)"
                " div (CAST(n AS DECIMAL(20,0)) * r * c) AS BIGINT)"
            ).alias("chi2_term_micro"),
        )
    )


@query(
    "m_cuped",
    oracle="""
WITH ev AS (
  SELECT user_id,
         (user_id * 2654435761 % 2147483648) % 2 AS arm,
         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS ep,
         CAST(floor(value * 1e2) AS BIGINT) AS cent
  FROM events
),
bounds AS (
  SELECT (min(ep) + max(ep)) // 2 AS mid FROM ev
),
per_user AS (
  SELECT user_id, arm,
         CAST(SUM(CASE WHEN ep <= b.mid THEN cent ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ep > b.mid THEN cent ELSE 0 END) AS BIGINT) AS y
  FROM ev, bounds b
  GROUP BY user_id, arm, b.mid
),
mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM per_user
),
theta AS (
  SELECT CAST(CASE WHEN n * sxy - sx * sy >= 0
              THEN (n * sxy - sx * sy) * 1000000
                   // GREATEST(n * sxx - sx * sx, 1)
              ELSE -((sx * sy - n * sxy) * 1000000
                     // GREATEST(n * sxx - sx * sx, 1))
         END AS BIGINT) AS theta_ppm,
         CAST(sx * 1000000 // n AS BIGINT) AS x_all_micro
  FROM mom
),
arms AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) * 1000000
              // count(*) AS BIGINT) AS x_mean_micro,
         CAST(CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) * 1000000
              // count(*) AS BIGINT) AS y_mean_micro
  FROM per_user GROUP BY arm
)
SELECT a.arm, a.n_users, a.x_mean_micro, a.y_mean_micro, t.theta_ppm,
       a.y_mean_micro
       - CAST(CASE WHEN CAST(t.theta_ppm AS HUGEINT)
                        * (a.x_mean_micro - t.x_all_micro) >= 0
              THEN (CAST(t.theta_ppm AS HUGEINT)
                    * (a.x_mean_micro - t.x_all_micro)) // 1000000
              ELSE -((-(CAST(t.theta_ppm AS HUGEINT)
                        * (a.x_mean_micro - t.x_all_micro))) // 1000000)
         END AS BIGINT) AS y_adj_micro
FROM arms a, theta t
""",
)
def m_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    — the experimentation-platform adjustment every large A/B system
    runs: per experiment arm, the post-period metric mean is adjusted
    by θ·(x̄_arm − x̄_all) where x is the user's PRE-period metric and
    θ = cov(x,y)/var(x), removing the variance explained by stable
    user-level behavior.  Arms are the deterministic user-hash split
    (mod-2^31 parity), pre/post is the corpus time midpoint
    ((min+max) epoch-seconds div 2 — the epoch(date_trunc('second'))
    rule).  Exactness end to end: per-user pre/post masses are
    centi-unit BIGINTs, the moment sums accumulate in
    DECIMAL(38,0)/HUGEINT (n·Σxy passes 2^63 beyond sf0.1 — the
    q_chi_square rule), θ lands in ppm via SIGN-FACTORED integer
    division (num can be negative; Spark truncates where DuckDB
    floors — the m_rater_kappa rule; den = n·Σx²−(Σx)² ≥ 0 by
    Cauchy-Schwarz, GREATEST(,1)-guarded), and the adjustment product
    θ_ppm·Δx̄_micro (≈1e22 at 100×) routes through DECIMAL before its
    own sign-factored div.  Two DEADCOLS-reviewed by-design constants:
    θ_ppm repeats on both arm rows (a global statistic shown with
    each arm's adjustment — the cross-engine check pins it twice),
    and n_users ties across arms wherever the corpus user-id space is
    dense (hash parity splits 0..N−1 exactly evenly: measured 75/75
    at sf0.01 and 750/750 at sf0.1, but 8/7 at sf0.001 — the column
    carries signal on any non-dense id space).  Scale shape: one events scan
    + scalar bounds broadcast, one user-grain hash agg, then two
    scalar aggregates crossJoined back broadcast; no windows, no
    Python."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        ((F.col("user_id") * 2654435761 % 2147483648) % 2).alias("arm"),
        F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))))
        .cast("bigint")
        .alias("ep"),
        F.floor(F.col("value") * 1e2).cast("bigint").alias("cent"),
    )
    bounds = ev.agg(
        F.expr("CAST((min(ep) + max(ep)) div 2 AS BIGINT)").alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", "arm")
        .agg(
            F.sum(F.when(F.col("ep") <= F.col("mid"), F.col("cent")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("ep") > F.col("mid"), F.col("cent")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    theta = mom.select(
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy >= 0"
            " THEN (n * sxy - sx * sy) * 1000000"
            "      div GREATEST(n * sxx - sx * sx, 1)"
            " ELSE -((sx * sy - n * sxy) * 1000000"
            "        div GREATEST(n * sxx - sx * sx, 1))"
            " END AS BIGINT)"
        ).alias("theta_ppm"),
        F.expr("CAST(sx * 1000000 div n AS BIGINT)").alias("x_all_micro"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(38,0))) * 1000000 div count(*) AS BIGINT)"
        ).alias("x_mean_micro"),
        F.expr(
            "CAST(SUM(CAST(y AS DECIMAL(38,0))) * 1000000 div count(*) AS BIGINT)"
        ).alias("y_mean_micro"),
    )
    return arms.crossJoin(F.broadcast(theta)).select(
        "arm",
        "n_users",
        "x_mean_micro",
        "y_mean_micro",
        "theta_ppm",
        F.expr(
            "y_mean_micro - CAST(CASE WHEN CAST(theta_ppm AS DECIMAL(38,0))"
            " * (x_mean_micro - x_all_micro) >= 0"
            " THEN (CAST(theta_ppm AS DECIMAL(38,0))"
            "       * (x_mean_micro - x_all_micro)) div 1000000"
            " ELSE -((-(CAST(theta_ppm AS DECIMAL(38,0))"
            "           * (x_mean_micro - x_all_micro))) div 1000000)"
            " END AS BIGINT)"
        ).alias("y_adj_micro"),
    )


@query(
    "m_bandit_ucb",
    oracle="""
WITH a AS (
  SELECT lang, count(*) AS n_docs,
         count(CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 END)
           AS n_pass
  FROM documents GROUP BY lang
), s AS (
  SELECT lang, n_docs, n_pass,
         CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
           + 2e0 / sqrt(CAST(n_docs AS DOUBLE)) AS ucb_score
  FROM a
)
SELECT lang, n_docs, n_pass, ucb_score,
       CAST(ucb_score = (SELECT max(ucb_score) FROM s) AS BIGINT) AS is_next
FROM s
""",
)
def m_bandit_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1-style explore/exploit allocation over data sources — the
    acquisition loop of an adaptive curation pipeline (which pool do
    we sample next?): each language arm scores
    mean_quality + 2/sqrt(n) where quality is the measured pass rate
    of a 60-token length gate (fires partially in EVERY lang at every
    scale — measured 26-99/64-218 at sf0.01) and n is the arm's pull
    count; the arm flagged ``is_next`` gets the next batch. The
    constant 2 (not 1.96) and the inverse-sqrt bonus (not a log/cos
    form) are deliberate: mean (one division of exact integer counts),
    sqrt, divide and one add are ALL correctly-rounded IEEE ops, so
    both engines produce bit-identical doubles and the score column
    is hash-shareable verbatim with no rounding grid (the round-8
    Wilson rule). Lang pull counts are SKEWED (en ~3x the rest), so
    the exploration bonus genuinely varies per arm.

    Scale: one hash aggregate over a bounded-domain key + a scalar-max
    broadcast back — no window, no Python."""
    d = load_table(spark, sf_dir, "documents")
    a = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.size(F.split("text", " ")) >= 60, 1)).alias("n_pass"),
    )
    s = a.select(
        "lang",
        "n_docs",
        "n_pass",
        (
            F.col("n_pass").cast("double") / F.col("n_docs").cast("double")
            + F.lit(2.0) / F.sqrt(F.col("n_docs").cast("double"))
        ).alias("ucb_score"),
    )
    mx = s.agg(F.max("ucb_score").alias("mx"))
    return s.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_docs",
        "n_pass",
        "ucb_score",
        (F.col("ucb_score") == F.col("mx")).cast("bigint").alias("is_next"),
    )
