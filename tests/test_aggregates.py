"""Aggregate checks that the SQL oracle can't express: HLL estimate
error bound, and window/topk internal consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from finance_pipeline_spark import registry

registry.load_all()


def test_approx_distinct_within_error_bound(spark, sf_dir):
    """approx_count_distinct(rsd=0.02) must land within a conservative
    3×rsd of the exact per-group cardinality — checked on the raw
    sketch, tighter than the 5% bound the query itself emits (and that
    emitted bound must read all-True with exact counts matching)."""
    rows = registry.QUERIES["agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows and all(r.within_eps for r in rows)
    approx = {
        r.l_returnflag: r.approx
        for r in registry.load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx"))
        .collect()
    }
    exact = {r.l_returnflag: r.exact_parts for r in rows}
    assert set(approx) == set(exact)
    for flag, est in approx.items():
        rel_err = abs(est - exact[flag]) / exact[flag]
        assert rel_err <= 0.06, (flag, est, exact[flag], rel_err)


def test_topk_per_group_respects_k(spark, sf_dir):
    rows = registry.QUERIES["win_topk_per_group"].fn(spark, sf_dir).collect()
    per_group = {}
    for r in rows:
        per_group[r.o_custkey] = per_group.get(r.o_custkey, 0) + 1
    assert per_group and max(per_group.values()) <= 3


def test_pricing_summary_internal_consistency(spark, sf_dir):
    """avg columns must equal sum/count within fp tolerance — catches
    aliasing/ordering mistakes the hash compare can't localize."""
    for r in registry.QUERIES["agg_pricing_summary"].fn(spark, sf_dir).collect():
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-6
        assert abs(r.avg_price - r.sum_base_price / r.count_order) < 1e-6


# The plain decimal(38,6) formulation of the flagship — the exact
# reference the micro-sum path must equal on testdata.
_PRICING_DECIMAL_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)                        AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)                   AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*)      AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def test_pricing_micro_agg_parity(spark):
    """The flagship's two-level exact-micros aggregate (the 8.8x
    decimal-aggregation tax it avoids was measured at the 60M-row
    tier) must equal the plain decimal(38,6) SQL exactly on testdata at
    BOTH gate SFs, run on DuckDB; the registered micro oracle must
    equal the Spark result too; and the plan must carry no
    precision>18 decimal aggregation."""
    import duckdb

    from finance_pipeline_spark.operators import aggregates as agg

    assert registry.QUERIES["agg_pricing_summary"].oracle_text() == (
        agg._PRICING_MICRO_ORACLE
    )

    fn = registry.QUERIES["agg_pricing_summary"].fn
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        micro_df = fn(spark, sf)
        micro = sorted(map(tuple, micro_df.collect()))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'"
        )
        for sql in (_PRICING_DECIMAL_SQL, agg._PRICING_MICRO_ORACLE):
            want = sorted(map(tuple, con.execute(sql).fetchall()))
            assert len(want) > 0 and [r[:2] for r in want] == [r[:2] for r in micro]
            for rm, rw in zip(micro, want):
                for vm, vw in zip(rm[2:], rw[2:]):
                    assert float(vm) == float(vw), (rm, rw)

    # plan contract: the micro path aggregates in longs + a tiny
    # decimal finish — no precision>18 decimal in the partial (level-1)
    # aggregate that sees corpus-sized input
    plan = micro_df._jdf.queryExecution().executedPlan().toString()
    assert "spark_partition_id" in plan.lower()
    first_agg = plan[plan.rindex("HashAggregate"):]  # innermost = level 1
    assert "decimal(38,6)" not in first_agg


def test_approx_quantile_tracks_exact_percentiles(spark):
    """The query's emitted rank-error bands must all hold, and the raw
    sketch values (recomputed here) must track the exact percentiles
    within a generous relative band — at accuracy 10000 the rank error
    is ≤ 1/10000 of the group size, so value error is bounded by the
    local density."""
    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators.aggregates import agg_approx_quantile
    from finance_pipeline_spark.registry import load

    sf = "/root/testdata/sf0.01"
    rows = agg_approx_quantile(spark, sf).collect()
    assert rows and all(r.p50_ok and r.p95_ok and r.p99_ok for r in rows)
    both = {
        r.l_returnflag: (r.ap, r.q)
        for r in load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
            ).alias("ap"),
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
            ).alias("q"),
        )
        .collect()
    }
    assert {r.l_returnflag for r in rows} == set(both)
    for flag, (ap, q) in both.items():
        for got, want in zip(ap, q):
            assert abs(got - want) / want < 0.01, (flag, got, want)
