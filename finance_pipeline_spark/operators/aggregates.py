"""Grouped / windowed / multidimensional aggregation — SURVEY.md §2.7 gap.

The reference computes no grouped aggregates (its only aggregations are
row counts, §2.7 A1-A3); these queries fill the surface a real engine
needs. Determinism discipline for the DuckDB value-hash:

- double SUMs go through ``decimal(38,6)`` — decimal addition is exact
  and order-free, so Spark's partial/final aggregation and DuckDB's
  single-threaded sum produce bitwise-identical results;
- AVG / VAR are derived from exact decimal sums with a fixed arithmetic
  shape (cast-to-double then divide), identical on both engines;
- rank-family window functions are cast to bigint (DuckDB's type);
- every window ORDER BY ends in a unique key.

All aggregation plans are partial+final hash aggregates: map-side
combine shrinks the shuffle to |groups|×partitions rows, and AQE
coalesces post-shuffle partitions — the shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from finance_pipeline_spark.registry import load, query


def _dec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(38,6)")


# The DuckDB oracle that matches ``_pricing_summary_micro`` bit-for-bit.
_PRICING_MICRO_ORACLE = """
    WITH f AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity * 1000000) AS BIGINT)      AS m_qty,
               CAST(round(l_extendedprice * 1000000) AS BIGINT) AS m_ep,
               CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS m_dp,
               CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT) AS m_ch,
               CAST(round(l_discount * 1000000) AS BIGINT)      AS m_di
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(m_qty AS DECIMAL(38,0))) / 1000000 AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(m_ep AS DECIMAL(38,0))) / 1000000 AS DOUBLE)  AS sum_base_price,
           CAST(SUM(CAST(m_dp AS DECIMAL(38,0))) / 1000000 AS DOUBLE)  AS sum_disc_price,
           CAST(SUM(CAST(m_ch AS DECIMAL(38,0))) / 1000000 AS DOUBLE)  AS sum_charge,
           CAST(SUM(CAST(m_qty AS DECIMAL(38,0))) / 1000000 AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(m_ep AS DECIMAL(38,0))) / 1000000 AS DOUBLE) / COUNT(*)  AS avg_price,
           CAST(SUM(CAST(m_di AS DECIMAL(38,0))) / 1000000 AS DOUBLE) / COUNT(*)  AS avg_disc,
           COUNT(*) AS count_order
    FROM f
    GROUP BY l_returnflag, l_linestatus
"""


def _pricing_summary_micro(li: DataFrame) -> DataFrame:
    """The flagship's two-level exact-micros formulation: quantize each
    value to bigint MICROS, long-sum per (group, spark_partition_id)
    inside whole-stage codegen (level 1), then finish the tiny partial
    table as decimal(38,0) (level 2) — exact and order-free.

    Why not plain decimal(38,6) sums: precision>18 decimals aggregate
    through byte-array BigDecimal updates instead of Spark's
    compact-long path — an 8.8x tax at the 60M-row probe tier
    (interleaved A/B min: double sums 0.90 s, decimal sums 7.93 s);
    the micro form keeps exactness at 2.3x less wall than decimal.

    Overflow is LOUD, not silent: the level-1 partials use try_sum
    (NULL on long overflow even with ANSI off) and the finish raises on
    any NULL partial, so a caller-coalesced giant partition fails the
    job instead of wrapping past 2^63 (a 128 MB scan partition holds
    ~2M rows x ~1e10 micros ~ 2e16 << 2^63).

    Quantum nuance: this rounds round(x*1e6) on the double product,
    where a decimal(38,6) sum rounds the decimal conversion of x — the
    two can differ on 1-ulp edge values (none exist in testdata: pinned
    value-identical to the decimal SQL at both SFs by
    tests/test_aggregates.py::test_pricing_micro_agg_parity)."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    micros = {
        "qty": F.col("l_quantity"),
        "ep": F.col("l_extendedprice"),
        "dp": disc_price,
        "ch": charge,
        "di": F.col("l_discount"),
    }
    lvl1 = li.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("_p")
    ).agg(
        # try_sum: NULL instead of a silent wrap if a pathological
        # partitioning ever pushes a per-(group, partition) micro sum
        # past 2^63 (ANSI is off session-wide; plain sum would wrap)
        *[
            F.try_sum(
                F.round(c.cast("double") * 1000000).cast("bigint")
            ).alias(f"m_{k}")
            for k, c in micros.items()
        ],
        F.count(F.lit(1)).alias("_n"),
    )
    mega = F.lit(1000000).cast("decimal(7,0)")

    def total(k: str) -> F.Column:
        # loud overflow guard: a NULL partial can only mean try_sum
        # overflowed (the inputs are non-null), so fail the job with a
        # diagnosable message rather than emit a wrong total
        checked = F.when(
            F.col(f"m_{k}").isNull(),
            F.raise_error(
                F.lit(
                    f"pricing micro partial sum m_{k} overflowed bigint: "
                    "a single scan partition held too many rows — keep "
                    "partitions near maxPartitionBytes or repartition "
                    "the input"
                )
            ).cast("bigint"),
        ).otherwise(F.col(f"m_{k}"))
        return (F.sum(checked.cast("decimal(38,0)")) / mega).cast("double")

    n = F.sum("_n")
    return lvl1.groupBy("l_returnflag", "l_linestatus").agg(
        total("qty").alias("sum_qty"),
        total("ep").alias("sum_base_price"),
        total("dp").alias("sum_disc_price"),
        total("ch").alias("sum_charge"),
        (total("qty") / n).alias("avg_qty"),
        (total("ep") / n).alias("avg_price"),
        (total("di") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "agg_pricing_summary",
    oracle=_PRICING_MICRO_ORACLE,
    tags=("agg", "flagship"),
    bench=True,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pricing summary (TPC-H Q1 shape): filter → 2-key groupBy
    → 8 aggregates. The scan reads only 7 columns (pruning), the
    shipdate filter pushes down, partial aggregation reduces ~600k rows
    to |flag×status| per partition before the shuffle; the sums are
    exact micros (``_pricing_summary_micro``)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    return _pricing_summary_micro(li)


@query(
    "agg_minmax_distinct",
    oracle="""
    SELECT o_orderpriority,
           min(o_totalprice)            AS min_price,
           max(o_totalprice)            AS max_price,
           count(DISTINCT o_custkey)    AS n_customers,
           count(*)                     AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_minmax_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count-distinct per group. min/max on doubles are exact
    and order-free; countDistinct plans as a two-phase expand+aggregate
    (keys deduped map-side before the shuffle)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_approx_distinct",
    # HLL sketch VALUES differ across engines, but the sketch's
    # accuracy CONTRACT is deterministic per dataset (HLL++ hashing
    # has no RNG), so the driver-checkable output is the bound itself:
    # |approx - exact| <= 5% * exact (2.5x the configured 2% rsd). The
    # oracle recomputes the exact side and asserts the bound TRUE — a
    # sketch drifting out of tolerance hash-mismatches (r10 verdict
    # item 2: converts the pytest-only bound into driver evidence).
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n_rows,
           TRUE AS within_eps
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the scale path for
    distinct cardinality: fixed-size sketch, no expand, mergeable
    map-side. At 100 TB this is the only viable distinct-count; the
    exact countDistinct here exists purely as the in-query verifier
    for the emitted bound (measured rel-err ~1% on this data)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "n_rows",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("within_eps"),
        )
    )


@query(
    "agg_approx_quantile",
    # GK sketch VALUES differ across engines, but the rank-error
    # contract is deterministic per dataset: every estimate must land
    # between the exact percentiles at q ∓ 0.001 (10x the configured
    # 1e-4 rank accuracy — slack for interpolation at the band edges).
    # The oracle asserts the three bounds TRUE; an out-of-band sketch
    # hash-mismatches (r10 verdict item 2).
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the quantile
    counterpart of the HLL entry: fixed-memory, single-pass, mergeable
    map-side, so p50/p95/p99 latency-style rollups stay one partial-agg
    shuffle at any scale. The exact ``percentile`` (used by
    user_gap_stats, where exactness is the point) buffers every value
    per group; at 100 TB per-group value sets can exceed executor
    memory, and the sketch is the only viable plan. Accuracy 1/10000
    relative rank error, bounded in tests against the exact result.

    Output is the per-rank BOUND booleans (plus the exact row count):
    the exact ``percentile`` bands at q ∓ 0.001 are computed in the
    same aggregation purely as the verifier — at 100 TB you would run
    only the sketch; here the exact side is what makes the sketch's
    contract driver-checkable."""
    li = load(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
        ).alias("ap"),
        F.expr(
            "percentile(l_extendedprice, array(0.499, 0.949, 0.989))"
        ).alias("lo"),
        F.expr(
            "percentile(l_extendedprice, array(0.501, 0.951, 0.991))"
        ).alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    band = lambda i: (
        (F.col("ap")[i] >= F.col("lo")[i]) & (F.col("ap")[i] <= F.col("hi")[i])
    )
    return q.select(
        "l_returnflag",
        "n_rows",
        band(0).alias("p50_ok"),
        band(1).alias("p95_ok"),
        band(2).alias("p99_ok"),
    )


@query(
    "agg_variance_exact",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_q,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_q2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance building blocks via exact decimal moments (sum, sum of
    squares). Streaming variance (Welford) is order-dependent across
    engines, so the comparable form ships the exact moments; stddev =
    sqrt((sum_q2 - sum_q²/n)/(n-1)) derived identically on either side."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(q)).cast("double").alias("sum_q"),
        F.sum(_dec(q * q)).cast("double").alias("sum_q2"),
    )


@query(
    "agg_exact_median",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_linestatus, l_quantity AS q, count(*) AS n
        FROM lineitem GROUP BY 1, 2, 3
    ), cum AS (
        SELECT l_returnflag, l_linestatus, q,
               sum(n) OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY q) AS cum_n,
               sum(n) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot
        FROM counts
    )
    SELECT l_returnflag, l_linestatus, min(q) AS median_qty
    FROM cum WHERE cum_n >= (tot + 1) // 2
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "median"),
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median (lower median, rank ceil(n/2)) — at scale,
    via the histogram-rank trick, not a sort: exact medians normally
    need a per-group global sort (single-reducer per group, the same
    collapse ``o4_global_index`` exists to avoid), and engines ship
    approx sketches instead (``agg_approx_quantile``). But a
    DISCRETIZED value column (quantities, star ratings, bucketed
    scores — here l_quantity's 50 values) admits the exact answer as
    pure aggregation: groupBy (group, value) counts — map-side
    combinable, shuffle bounded by groups × distinct values, NOT rows
    — then the cumulative-rank cut on that tiny table. Same recipe as
    ``text_quality_prune``'s percentile, surfaced as the reusable agg.
    Integer (tot+1) div 2 rank arithmetic — no float boundary."""
    li = load(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    counts = li.groupBy(
        "l_returnflag", "l_linestatus", F.col("l_quantity").alias("q")
    ).agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        W.partitionBy("l_returnflag", "l_linestatus")
        .orderBy("q")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wtot = W.partitionBy("l_returnflag", "l_linestatus")
    cum = counts.select(
        "l_returnflag",
        "l_linestatus",
        "q",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(wtot).alias("tot"),
    )
    return (
        cum.filter(F.col("cum_n") >= F.expr("(tot + 1) div 2"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.min("q").alias("median_qty"))
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS corr_qty_price
    FROM m
    """,
    tags=("agg", "corr"),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group with ORDER-FREE exactness: the
    five moments accumulate as decimal(38,6) (exact, associative — no
    float summation-order drift between Spark's partial aggregation
    and any other engine), each exact decimal converts to the same
    double on every engine, and the final formula is one fixed
    expression tree evaluated identically on both sides (round 6
    bridges nothing — it's belt-and-suspenders). The built-in
    ``corr()`` is a streaming co-moment whose result depends on
    partition order; this form is reproducible across cluster sizes,
    retries, and engines — what a feature-stats job feeding a model
    actually needs."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(_dec(x)).cast("double").alias("sx"),
        F.sum(_dec(y)).cast("double").alias("sy"),
        F.sum(_dec(x * x)).cast("double").alias("sxx"),
        F.sum(_dec(y * y)).cast("double").alias("syy"),
        F.sum(_dec(x * y)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = F.round(
        (n * sxy - sx * sy)
        / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
        6,
    )
    return m.select("l_returnflag", corr.alias("corr_qty_price"))


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — (flag, status), (flag), () levels in
    one pass via Expand; NULL group markers match ANSI."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping sets in one Expand pass."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — without the list
    Spark must run an extra distinct job to discover columns; with it
    the pivot is a single aggregate pass."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT o_orderkey, u.metric, u.amount
    FROM orders o,
    LATERAL (
        SELECT 'totalprice' AS metric, o.o_totalprice AS amount
        UNION ALL
        SELECT 'custkey', CAST(o.o_custkey AS DOUBLE)
    ) u
    """,
    tags=("unpivot",),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via the native melt/unpivot operator —
    pipelined Expand, no shuffle."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_custkey").cast("double").alias("o_custkey_d"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey_d"],
        variableColumnName="metric",
        valueColumnName="amount",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "o_totalprice", "totalprice").otherwise("custkey"),
    )


@query(
    "win_rank_family",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
    bench=True,
)
def win_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + offset window functions — row_number/rank/dense_rank/
    lag/lead over a per-customer event sequence. One shuffle on the
    partition key, one local sort; all five functions share the frame."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
    FROM orders
    """,
    tags=("window",),
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving average with explicit ROWS frames —
    exact decimal accumulation keeps the running values engine-agnostic."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = w.rowsBetween(-2, W.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(run).cast("double").alias("running_spend"),
        (
            F.sum(_dec("o_totalprice")).over(mov).cast("double")
            / F.count(F.lit(1)).over(mov)
        ).alias("moving_avg_3"),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — the distributed replacement for the reference's
    global LIMIT inspect. AQE/codegen evaluate row_number with an early
    group-limit optimization (WindowGroupLimit) so each partition keeps
    only k rows per key before the filter."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "dedup_keyed_pick",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
    FROM (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                  ORDER BY l_linenumber, l_suppkey) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    tags=("dedup",),
)
def dedup_keyed_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 keyed dedup with a deterministic survivor — first row per
    (orderkey, partkey) under a total order. This is the distributed
    form of the reference's INSERT OR IGNORE "first writer wins"
    (etl/csv_loader.py:196): survivor choice is explicit, not
    scheduler-dependent."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey", "l_partkey").orderBy("l_linenumber", "l_suppkey")
    return (
        li.select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "join_agg_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "agg"),
    bench=True,
)
def join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment (TPC-H Q3 shape): dimension → fact →
    fact join chain + grouped aggregate. Only the customer DIM carries a
    broadcast hint; orders is a fact table that merely happens to be
    small at bench SF, so its join strategy is left to AQE's measured
    size (a forced hint would bypass the size check and ship gigabytes
    per executor at 100×). At bench SF AQE still picks broadcast for the
    filtered orders side — asserted in tests/test_plans.py — while at
    scale it degrades gracefully to a shuffle join instead of OOMing the
    driver. lineitem never shuffles before the final 5-group aggregate."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(_dec(revenue)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "join_multiway_region",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal,
           count(*) AS n_suppliers
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "agg"),
)
def join_multiway_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dimension chain (supplier→nation→region) — both dims
    broadcast; zero shuffles before the final aggregate."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(_dec("s_acctbal")).cast("double").alias("total_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )
