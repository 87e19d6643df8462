"""The profiler's fixed statement set: stacked exact quartiles, the
grouping-sets value counts (exact distincts + frequent values), integral
sums, and the per-statement job descriptions."""

from __future__ import annotations

import math
from contextlib import contextmanager

import duckdb
import pytest
from pyspark.sql import functions as F

from sparvi_core_spark import profile_table

FAMILIES = {"aggregate", "quartiles", "value counts", "duplicates", "outliers", "samples"}


@contextmanager
def _aqe(spark, enabled: str):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", enabled)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("aqe", ["false", "true"])
@pytest.mark.parametrize("table", ["lineitem", "orders"])
def test_quartiles_distincts_frequent_values_match_duckdb(spark, views, duck, table, aqe):
    with _aqe(spark, aqe):
        p = profile_table(spark, table, include_samples=False)
    assert "errors" not in p
    cols = [r[0] for r in duck.execute(f"DESCRIBE {table}").fetchall()]
    assert set(p["completeness"]) == set(cols)
    for c in cols:
        n_distinct = duck.execute(f'SELECT COUNT(DISTINCT "{c}") FROM {table}').fetchone()[0]
        assert p["completeness"][c]["distinct_count"] == n_distinct, c
        value, freq = duck.execute(
            f'SELECT CAST("{c}" AS VARCHAR), count(*) FROM {table} '
            f'WHERE "{c}" IS NOT NULL GROUP BY "{c}" '
            f'ORDER BY count(*) DESC, CAST("{c}" AS VARCHAR) LIMIT 1'
        ).fetchone()
        fv = p["frequent_values"][c]
        if "skipped" in fv:
            assert fv == {"skipped": "near_unique"}, c
            assert n_distinct > 0.5 * p["row_count"], c
            continue
        assert fv["frequency"] == freq, c
        if c in p["numeric_stats"]:
            assert float(fv["value"]) == float(value), c
        else:
            assert fv["value"] == value, c
    for c, s in p["numeric_stats"].items():
        want = duck.execute(
            "SELECT " + ", ".join(
                f'percentile_cont({q}) WITHIN GROUP (ORDER BY "{c}")'
                for q in (0.25, 0.5, 0.75)
            ) + f" FROM {table}"
        ).fetchone()
        got = (s["q1"], s["median"], s["q3"])
        assert all(math.isclose(g, w, rel_tol=1e-12) for g, w in zip(got, want)), (c, got, want)


def test_quartiles_identical_to_per_column_percentile(spark):
    # b: longs above 2^53, where neighbours share a double (ulp 128 at
    # 2^59); the stacked pass interpolates on doubles, as the
    # per-column percentile does
    big = 2**59
    rows = [
        (i, big + 97 * i, f"{i * 7 % 13}.{i % 100:02d}", float(i) / 3, v)
        for i, v in enumerate(
            [float("nan"), -0.0, 0.0, 2.5, -1.25, float("nan"), 0.0, 1e300, -0.0, 7.0, None, 3.0]
        )
    ]
    rows += [(None, big + 1, None, None, None), (-5, big - 1, "-3.50", -0.0, -0.0)]
    df = spark.createDataFrame(rows, "i int, b bigint, s string, f float, d double").select(
        "i", "b", F.col("s").cast("decimal(9,2)").alias("dec"), "f", "d"
    )
    p = profile_table(spark, "quartile_types_t", df=df, include_samples=False)
    for c in df.columns:
        want = df.agg(F.percentile(c, F.lit([0.25, 0.5, 0.75]))).first()[0]
        s = p["numeric_stats"][c]
        got = [s["q1"], s["median"], s["q3"]]
        assert all(_same(g, w) for g, w in zip(got, want)), (c, got, want)


def test_distinct_counts_beyond_grouping_limit(spark):
    # 70 groupable columns: more than one aggregate's 64 grouping columns
    n = 70
    df = spark.range(120).select(
        *[
            (
                (F.col("id") % (i % 40 + 1)).cast("string")
                if i % 3 == 0
                else F.col("id") % (i % 40 + 1)
            ).alias(f"c{i}")
            for i in range(n)
        ]
    )
    p = profile_table(spark, "wide70_t", df=df, include_samples=False)
    want = df.agg(*[F.count_distinct(c).alias(c) for c in df.columns]).first().asDict()
    got = {c: p["completeness"][c]["distinct_count"] for c in df.columns}
    assert got == want
    assert want["c1"] == 2 and want["c39"] == 40 and want["c69"] == 30
    # a second-chunk column's top-1 (c64 = id % 25), ties by the
    # smallest string value
    assert p["frequent_values"]["c64"] == {"value": 0, "frequency": 5, "percentage": 4.17}


def test_frequent_values_match_typed_group_by(spark):
    """Frequencies count typed values, as GROUP BY and count(DISTINCT)
    do: array('a, b') and array('a', 'b') print alike but are two
    values; -0.0 and 0.0 are one."""
    rows = (
        [(["a, b"], -0.0)] * 3
        + [(["a", "b"], 0.0)] * 2
        + [(["a", "b"], 1.0)] * 1
        + [(["c"], 1.0)] * 2
        + [(None, None)]
    )
    df = spark.createDataFrame(rows, "arr array<string>, d double")
    p = profile_table(spark, "typed_fv_t", df=df, include_samples=False)
    for c in df.columns:
        counts = [r["count"] for r in df.where(F.col(c).isNotNull()).groupBy(c).count().collect()]
        fv = p["frequent_values"][c]
        assert p["completeness"][c]["distinct_count"] == len(counts), c
        assert fv["frequency"] == max(counts), c
        assert fv["percentage"] == round(max(counts) * 100.0 / len(rows), 2), c
    assert p["frequent_values"]["arr"]["value"] == "[a, b]"
    assert p["frequent_values"]["d"] == {"value": 0, "frequency": 5, "percentage": 55.56}


def test_approx_mode_frequent_values_match_exact(spark, views):
    exact = profile_table(spark, "orders", include_samples=False)
    approx = profile_table(
        spark, "orders", include_samples=False,
        config={"profiling": {"approx_distinct": True}},
    )
    assert "errors" not in approx
    for c, fv in approx["frequent_values"].items():
        if "skipped" not in fv:
            assert fv == exact["frequent_values"][c], c
    assert any("skipped" not in fv for fv in approx["frequent_values"].values())


def test_bigint_sum_beyond_int64(spark):
    vals = [2**60 + k for k in range(10)]
    df = spark.createDataFrame([(v, k) for k, v in enumerate(vals)], "big bigint, small int")
    p = profile_table(spark, "bigsum_t", df=df, include_samples=False)
    assert p["numeric_stats"]["big"]["sum"] == sum(vals)
    assert type(p["numeric_stats"]["big"]["sum"]) is int
    assert p["numeric_stats"]["small"]["sum"] == 45
    assert type(p["numeric_stats"]["small"]["sum"]) is int


def _statements(spark, table: str) -> list[str]:
    """Families of the SQL executions tagged ``profile_table:<table>``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    prefix = f"profile_table:{table} "
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        desc = it.next().description()
        if desc.startswith(prefix):
            out.append(desc[len(prefix):])
    return out


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_exact_statement_count_independent_of_width(spark, aqe):
    """One statement per family, however many numeric and groupable
    columns the table has (up to one grouping chunk), each tagged with
    its job description."""
    counts = {}
    for width in (3, 63):
        table = f"width{width}_{aqe}_t"
        df = spark.range(40).select(
            *[(F.col("id") * (i + 1) % 7).alias(f"n{i}") for i in range(width)]
        )
        with _aqe(spark, aqe):
            p = profile_table(spark, table, df=df)
        assert "errors" not in p and p["outliers"] is not None
        fams = _statements(spark, table)
        assert sorted(fams) == sorted(FAMILIES), fams
        counts[width] = len(fams)
    assert counts[3] == counts[63] == 6
