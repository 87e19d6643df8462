"""Metric expression builders for the profiler's statements.

The reference emits ~``4 + 2·numeric + 2·text + 2·date + cols`` separate
SQL round-trips per profiled table (reference:
``sparvi/profiler/profile_engine.py:82-385``). Here every scalar metric
family is a *column expression*; the engine fuses them into a single
``df.agg(...)`` → one scan, whole-stage codegen, column pruning down to
the profiled columns. The families that are not streaming aggregates
(exact quartiles, exact distincts, frequent values) are whole
statements built in ``profiler.engine``; only their approx twins, which
are one-pass sketches, are column expressions here. Patterns:
profile_engine.py:212-214. Stats shapes: profile_engine.py:136-288.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.types import DataType, IntegralType

# Reference regex patterns (profile_engine.py:212-214). Semantics are
# "contains a match" (DuckDB regexp_matches / Snowflake REGEXP_LIKE on
# anchored patterns agree for these shapes).
EMAIL_PATTERN = ".*@.*\\..*"
NUMERIC_PATTERN = "^[0-9]+$"
DATE_PATTERN = "^[0-9]{2,4}[/-][0-9]{1,2}[/-][0-9]{1,2}$"

QUARTILES = [0.25, 0.5, 0.75]

# Alias separator: metric name + column name must round-trip uniquely.
SEP = "//"


def a(metric: str, col: str) -> str:
    return f"{metric}{SEP}{col}"


def null_count_exprs(cols: list[str]) -> list[Column]:
    """A2/P2 — all null counts in one pass (profile_engine.py:83)."""
    return [
        F.sum(F.col(c).isNull().cast("long")).alias(a("nulls", c)) for c in cols
    ]


def approx_distinct_exprs(cols: list[str], rsd: float = 0.05) -> list[Column]:
    """A3 at scale — HLL++ distinct counts (profile_engine.py:84): a
    streaming aggregate with mergeable partials and no Expand, so it
    fuses into the streaming-agg pass. Exact distincts are the engine's
    value-count statement."""
    return [F.approx_count_distinct(c, rsd).alias(a("distinct", c)) for c in cols]


def numeric_stats_exprs(cols: list[str], types: dict[str, DataType]) -> list[Column]:
    """A5/A6 — min/max/avg/sum/stdev per numeric column
    (profile_engine.py:136-176).

    - stdev is **sample** stddev (matches Snowflake/DuckDB ``STDDEV``,
      Redshift ``STDDEV_SAMP``; adapters.py:287-288).
    - Integral columns are summed as ``decimal(38,0)`` (DuckDB's
      ``SUM(BIGINT)`` is int128): a bigint sum past 2^63 would raise
      ``ARITHMETIC_OVERFLOW`` under ANSI mode and fail the whole
      streaming agg. ``types`` maps each column to its Spark type.
    - Aggregates skip NULLs natively — same result as the reference's
      ``WHERE col IS NOT NULL`` (profile_engine.py:155).
    - Quartiles (A7) are deliberately NOT here: percentile aggregates
      (exact and approx) are object-hash aggregates that knock the whole
      fused agg out of whole-stage codegen (~2x, measured) — they run as
      their own statement.
    """
    exprs: list[Column] = []
    for c in cols:
        col = F.col(c)
        summed = col.cast("decimal(38,0)") if isinstance(types[c], IntegralType) else col
        exprs += [
            F.min(col).alias(a("min", c)),
            F.max(col).alias(a("max", c)),
            F.avg(col).alias(a("avg", c)),
            F.sum(summed).alias(a("sum", c)),
            F.stddev_samp(col).alias(a("stdev", c)),
        ]
    return exprs


def approx_quartile_exprs(cols: list[str], accuracy: int = 10_000) -> list[Column]:
    """A7 at scale — ``percentile_approx`` quartiles per numeric column:
    mergeable sketches with bounded memory, one pass over all columns.
    Exact quartiles (linear interpolation — DuckDB ``PERCENTILE_CONT``,
    adapters.py:220-221) are the engine's stacked quartile statement."""
    return [
        F.percentile_approx(F.col(c), QUARTILES, accuracy).alias(a("quartiles", c))
        for c in cols
    ]


def mode_exprs(cols: list[str]) -> list[Column]:
    """A11's value-only twin — per-column modal value
    (profile_engine.py:290-335).

    ``F.mode(deterministic=True)`` returns the LOWEST value among
    equally-frequent candidates, so the result is stable and
    oracle-comparable (DuckDB twin: GROUP BY value ORDER BY count DESC,
    value ASC LIMIT 1). Like percentiles this is an object-hash
    aggregate (per-value hashmap, knocks the fused agg out of
    whole-stage codegen), so callers should run it as its own statement
    rather than in the streaming-agg pass; partials are mergeable maps,
    so it scales like any hash aggregate.
    """
    return [F.mode(F.col(c), deterministic=True).alias(a("mode", c)) for c in cols]


def text_stats_exprs(cols: list[str]) -> list[Column]:
    """A8 — min/max/avg length per text column (profile_engine.py:178-204)."""
    exprs: list[Column] = []
    for c in cols:
        ln = F.length(F.col(c))
        exprs += [
            F.min(ln).alias(a("min_length", c)),
            F.max(ln).alias(a("max_length", c)),
            F.avg(ln).alias(a("avg_length", c)),
        ]
    return exprs


def text_pattern_exprs(cols: list[str]) -> list[Column]:
    """A9 — email/numeric/date pattern counts (profile_engine.py:206-238)."""
    patterns = (
        ("email", EMAIL_PATTERN),
        ("numeric_pat", NUMERIC_PATTERN),
        ("date_pat", DATE_PATTERN),
    )
    exprs: list[Column] = []
    for c in cols:
        for name, pat in patterns:
            exprs.append(F.sum(F.col(c).rlike(pat).cast("long")).alias(a(name, c)))
    return exprs


def date_stats_exprs(cols: list[str]) -> list[Column]:
    """A10 — min/max per date column (profile_engine.py:240-288).

    distinct_count reuses the completeness pass; date_range_days is
    driver-side date math on the min/max scalars (the reference's second
    DATEDIFF round-trip, profile_engine.py:261-266, is unnecessary).
    """
    exprs: list[Column] = []
    for c in cols:
        exprs += [
            F.min(F.col(c)).alias(a("min_date", c)),
            F.max(F.col(c)).alias(a("max_date", c)),
        ]
    return exprs
