"""Profiling engine — reference-contract profile dict, Spark-first plan.

Output contract matches ``sparvi/profiler/profile_engine.py:408-454``
key-for-key (``table, timestamp, row_count, duplicate_count,
completeness, numeric_stats, text_patterns, text_length_stats,
date_stats, frequent_values, outliers, [samples], anomalies,
schema_shifts, trends``).

Physical plan (vs the reference's ~dozens of warehouse round-trips): a
fixed set of at most six Spark statements per table, however many
columns it has.

1. **aggregate** — one wide ``df.agg(...)``: row count + per-column
   nulls + numeric/text/date stat families (+ HLL distincts in approx
   mode) — single column-pruned scan, whole-stage codegen.
2. **quartiles** — exact mode stacks the numeric columns into
   ``(col_name, double)`` pairs and runs ``groupBy(col_name)`` +
   ``percentile``: one statement whose per-column final merges are
   separate groups spread over the reduce tasks. Approx mode is one
   ``percentile_approx`` agg over all columns.
3. **value counts** — ``GROUPING SETS ((c1), (c2), …)`` over the typed
   groupable columns counts rows per (column, value), then reduces per
   column to the exact distinct count and the top-1 value (vs the
   reference's one query per column, profile_engine.py:290-335).
   Approx mode runs it for frequent values only, on the columns that
   pass the HLL gate.
4. **duplicates** — ``groupBy(*all).count().filter(>1)`` (counts
   *groups*, matching profile_engine.py:100-116).
5. **outliers** — all numeric columns in one stacked pass with
   per-column 3σ bounds as map literals (the reference's 1-row CTE
   cross join, profile_engine.py:337-385).
6. **samples** — ``limit(10)`` of the un-fanned frame.

Everything that needs no streaming-agg result (1-4) is submitted at t0;
outliers and samples (and approx-mode value counts) follow as soon as
the streaming agg lands. Every statement re-scans with column pruning
— no materialization barrier — and carries the job description
``profile_table:<table> <family>``.
"""

from __future__ import annotations

import datetime
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import IntegralType

from sparvi_core_spark.coltypes import bucket_columns
from sparvi_core_spark.config import get_config
from sparvi_core_spark.profiler import metrics as M
from sparvi_core_spark.profiler.compare import (
    detect_anomalies,
    detect_schema_shifts,
    empty_trends,
)
from sparvi_core_spark.session import read_table

# Spark caps an aggregate at 64 grouping columns
# (GROUPING_SIZE_LIMIT_EXCEEDED): wider tables are grouped in chunks.
_GROUPING_COLUMNS_MAX = 64


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _stack_pairs(df: DataFrame, cols: list[str], cast_to: str) -> DataFrame:
    """(col_name, col_value) rows from N columns in one projection."""
    args = ", ".join(
        "'{}', cast({} as {})".format(c.replace("'", "''"), _q(c), cast_to)
        for c in cols
    )
    return df.select(
        F.expr(f"stack({len(cols)}, {args})").alias("col_name", "col_value")
    )


def _exact_quartiles(df: DataFrame, cols: list[str]) -> dict[str, list | None]:
    """Exact q1/median/q3 of every column in one statement.

    Each column is its own group, so the per-column final merges (each
    an object-hash percentile buffer) spread over the reduce tasks
    instead of serializing in one. The double cast keeps the result of
    a per-column ``percentile``, which interpolates in double too."""
    rows = (
        _stack_pairs(df, cols, "double")
        .groupBy("col_name")
        .agg(F.percentile("col_value", F.lit(M.QUARTILES)).alias("q"))
        .collect()
    )
    return {r["col_name"]: r["q"] for r in rows}


def _value_counts(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """``{column: (distinct_count, top)}`` for every column in ``cols``
    from one statement; ``top`` is a ``(value, frequency)`` row (value
    cast to string) or None when the column has no non-null value.

    ``GROUPING SETS ((c1), (c2), …)`` counts the rows of each typed
    (column, value) pair — the Expand that ``count(DISTINCT c1, …)``
    would plan — and a second aggregate reduces each column to
    ``count(value)`` (its distinct count) and the top-1 by frequency,
    ties by the smallest string value. Grouping on the typed value
    keeps the frequencies consistent with the distinct count (the
    string form would merge ``array('a, b')`` with ``array('a', 'b')``
    and split ``-0.0`` from ``0.0``). Columns are renamed to positional
    names first, and each set is told apart by ``grouping(c)`` rather
    than by decoding the ``grouping_id()`` bitmask, whose 64th bit is
    the sign bit of a long."""
    src = df.select(*[F.col(_q(c)).alias(f"c{i}") for i, c in enumerate(cols)])
    parts = []
    for start in range(0, len(cols), _GROUPING_COLUMNS_MAX):
        chunk = [f"c{i}" for i in range(start, min(start + _GROUPING_COLUMNS_MAX, len(cols)))]
        idx = F.when(F.grouping(chunk[0]) == 0, start)
        for i, c in enumerate(chunk[1:], start + 1):
            idx = idx.when(F.grouping(c) == 0, i)
        parts.append(
            src.groupingSets([[c] for c in chunk], *chunk)
            .agg(idx.alias("idx"), F.count(F.lit(1)).alias("freq"))
            .select(
                "idx",
                # the other columns of a set are NULL: the coalesce is
                # the set's own value, NULL for its NULL group
                F.coalesce(*[F.col(c).cast("string") for c in chunk]).alias("value"),
                "freq",
            )
        )
    rows = (
        reduce(DataFrame.unionAll, parts)
        .groupBy("idx")
        .agg(
            F.count("value").alias("distinct"),
            F.min_by(
                F.struct("value", "freq"),
                F.when(
                    F.col("value").isNotNull(),
                    F.struct(-F.col("freq"), F.col("value")),
                ),
            ).alias("top"),
        )
        .collect()
    )
    return {cols[r["idx"]]: (r["distinct"], r["top"]) for r in rows}


def _estimate_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's pre-execution size estimate for the plan (bytes).

    Plans with unknown stats report ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue by default) — treat anything that large as unknown
    rather than "huge"."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if est >= 1 << 62 else est


def _restore_value(val: str, kind: str):
    if kind != "numeric" or val is None:
        return val
    try:
        f = float(val)
        return int(f) if f.is_integer() else f
    except ValueError:
        return val


def _to_date(v):
    if isinstance(v, datetime.datetime):
        return v.date()
    return v


def profile_tables(
    spark: SparkSession,
    tables: list[str],
    include_samples: bool = False,
    config: dict | None = None,
    parallelism: int = 4,
) -> dict[str, dict[str, Any]]:
    """Profile several tables concurrently on the shared session —
    per-table jobs interleave on the scheduler, overlapping scans the
    way the reference's sequential per-table round-trips never could."""
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as ex:
        futures = {
            t: ex.submit(
                profile_table,
                spark,
                t,
                include_samples=include_samples,
                config=config,
            )
            for t in tables
        }
        return {t: f.result() for t, f in futures.items()}


def profile_table(
    spark: SparkSession,
    table: str,
    historical_data: dict | None = None,
    include_samples: bool = True,
    df: DataFrame | None = None,
    config: dict | None = None,
) -> dict[str, Any]:
    """Profile a table (temp view name or file path) → reference-shaped dict.

    Mirrors ``profile_table(connection_str, table, ...)``
    (profile_engine.py:17) with the connection string replaced by a
    SparkSession. ``historical_data`` enables anomaly / schema-shift
    detection — implemented for real here (the reference stubs it,
    profile_engine.py:437-443).
    """
    cfg = get_config(config)
    p = cfg["profiling"]
    # fail fast on a bad knob — inside the per-metric isolation it would
    # silently degrade to an errors[] entry instead of rejecting
    if p["sample_method"] not in ("limit", "random"):
        raise ValueError(
            f"sample_method must be 'limit' or 'random', got {p['sample_method']!r}"
        )
    if df is None:
        df = read_table(spark, table)
    b = bucket_columns(df.schema)

    # Scale-adaptive defaults: above the size threshold, flip to approx
    # distincts (HLL, fuses into the streaming agg), approx percentiles,
    # and the hash-key duplicate check (one md5 through the shuffle
    # instead of full-width rows) unless the caller pinned them
    # explicitly (overrides or SPARVI_PROFILING_* env).
    explicit = set((config or {}).get("profiling", {}))
    explicit |= {
        k
        for k in ("approx_distinct", "approx_percentiles", "duplicate_check_mode")
        if f"SPARVI_PROFILING_{k.upper()}" in os.environ
    }
    if p["auto_approx"]:
        est = _estimate_size_bytes(df)
        if est is not None and est > p["auto_approx_size_bytes"]:
            for k in ("approx_distinct", "approx_percentiles"):
                if k not in explicit:
                    p[k] = True
            if "duplicate_check_mode" not in explicit:
                p["duplicate_check_mode"] = "hash"

    # Parallelism floor: a compact table (one file, few row groups)
    # would run every profile job at 1-3 task parallelism. All
    # aggregate jobs are value-deterministic under repartitioning
    # (min_by/row_number tie-breaks are by value; sketches are
    # order-insensitive), so they share the fanned frame. The display
    # sample reads the source frame: limit/sample need no parallelism,
    # and the fan-out would shuffle the whole table for 10 rows.
    # Measured sf0.1 lineitem (in-plan exchange included, same-session
    # A/B): 7.7 s → 5.2 s. No-op at scale.
    from sparvi_core_spark.plans.fanout import fan_out_compact

    source = df
    df = fan_out_compact(df)

    # --- streaming aggregate --------------------------------------------
    # Plan-shape rule (measured at sf0.1, see SCALE.md): exact
    # distincts plan an Expand and percentiles are object-hash
    # aggregates; fusing either with the streaming-agg family knocks
    # the whole agg out of whole-stage codegen (worst case ~15x), so
    # they run as their own statements. Approx distinct (HLL) is a
    # streaming agg and joins this one.
    approx_distinct = p["approx_distinct"]
    nd_exprs = [F.count(F.lit(1)).alias("row_count")]
    nd_exprs += M.null_count_exprs(b.all)
    nd_exprs += M.numeric_stats_exprs(b.numeric, b.types)
    nd_exprs += M.text_stats_exprs(b.text)
    nd_exprs += M.text_pattern_exprs(b.text)
    nd_exprs += M.date_stats_exprs(b.date)
    if approx_distinct:
        nd_exprs += M.approx_distinct_exprs(b.groupable, p["approx_distinct_rsd"])

    sc = df.sparkSession.sparkContext
    # Scheduling (guide §2.6 — overlap independent jobs): every
    # statement that needs nothing from the streaming agg is submitted
    # at t0; the streaming agg's result gates only the cheap tail
    # (outliers / samples need row_count or avg/stdev; approx-mode
    # value counts need the HLL gate). Error semantics: a failed
    # streaming agg, quartile or exact value-count statement raises out
    # of profile_table; duplicates, approx-mode frequent values,
    # outliers and samples degrade into errors[].
    pool = ThreadPoolExecutor(max_workers=6)

    def submit(family: str, fn):
        # tag the statement's jobs in its own pool thread (job
        # descriptions are thread-local), the way run_validations tags
        # its fused statement
        def run():
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"profile_table:{table} {family}")
            try:
                return fn()
            finally:
                sc.setJobDescription(prev)

        return pool.submit(run)

    groupable = set(b.groupable)
    try:
        f_nd = submit("aggregate", lambda: df.agg(*nd_exprs).first().asDict())
        f_q = None
        if b.numeric and p["approx_percentiles"]:
            # approx sketches are bounded-memory and mergeable — ONE
            # pass over all columns is the right shape at scale
            approx_exprs = M.approx_quartile_exprs(
                b.numeric, p["approx_percentile_accuracy"]
            )
            f_q = submit(
                "quartiles", lambda: dict(zip(b.numeric, df.agg(*approx_exprs).first()))
            )
        elif b.numeric:
            f_q = submit("quartiles", lambda: _exact_quartiles(df, b.numeric))
        f_vc = None
        if b.groupable and not approx_distinct:
            f_vc = submit("value counts", lambda: _value_counts(df, b.groupable))

        def _row_hash_key():
            # One md5 per row through the shuffle instead of the full
            # row — the wide-table scale path. Each field is
            # length-prefixed ("<len>:<value>", NULL → "\x00") so field
            # boundaries and NULLs are unambiguous: ('a\x1fb',) vs
            # ('a','b') and a literal '\x00' string vs NULL all hash
            # differently.
            parts = []
            for c in b.all:
                s = F.col(c).cast("string")
                parts.append(
                    F.when(s.isNull(), F.lit("\x00")).otherwise(
                        F.concat(F.length(s).cast("string"), F.lit(":"), s)
                    )
                )
            return F.md5(F.concat_ws("\x1f", *parts))

        def j2_duplicates() -> int | None:
            # A4 — duplicated full-row groups. Returns None (not 0) when
            # the check is skipped: a silent 0 is indistinguishable from
            # "no duplicates".
            if not b.all or len(b.all) > p["duplicate_check_max_columns"]:
                return None
            mode = p["duplicate_check_mode"]
            if mode != "hash" and len(b.groupable) < len(b.all):
                # full-row groupBy cannot include non-orderable columns
                # (MapType) — degrade to the hash key, which can.
                mode = "hash"
            if mode == "hash":
                groups = df.groupBy(_row_hash_key().alias("__rowhash"))
            else:
                groups = df.groupBy(*b.all)
            return groups.count().filter(F.col("count") > 1).count()

        def frequent_cols(distinct: dict) -> list[str]:
            # Near-unique columns (distinct fraction above the config
            # cap) are skipped: their top-1 is noise.
            cap = row_count * p["frequent_values_max_distinct_fraction"]
            return [c for c in b.groupable if (distinct.get(c) or 0) <= cap]

        def frequent_values(freq_cols: list[str], counts: dict) -> dict:
            # A11 — top-1 per column, from the value-count statement.
            # Skipped columns are surfaced explicitly (absence ≠ "no
            # data"): near-unique columns and non-groupable columns.
            if not (0 < row_count <= p["frequent_values_row_threshold"]):
                return {c: {"skipped": "row_threshold"} for c in b.all}
            out: dict = {
                c: {"skipped": "near_unique" if c in groupable else "not_groupable"}
                for c in b.all
                if c not in freq_cols
            }
            for c in freq_cols:
                top = counts[c][1] if c in counts else None
                if top is None:
                    continue  # no non-null value
                out[c] = {
                    "value": _restore_value(
                        top["value"], "numeric" if c in b.numeric else ""
                    ),
                    "frequency": top["freq"],
                    "percentage": round(top["freq"] * 100.0 / row_count, 2),
                }
            return out

        def j4_outliers() -> dict:
            # A12 — 3σ listing, bounds as scalar literals
            out: dict[str, list] = {}
            k = p["anomaly_threshold"]
            eligible = [
                c
                for c in b.numeric
                if stats_for_outliers[c][0] is not None
                and stats_for_outliers[c][1] is not None
            ]
            if not eligible or row_count == 0:
                return out
            lo = {c: s[0] - k * s[1] for c, s in stats_for_outliers.items() if c in eligible}
            hi = {c: s[0] + k * s[1] for c, s in stats_for_outliers.items() if c in eligible}
            lo_map = F.create_map(*[x for c in eligible for x in (F.lit(c), F.lit(lo[c]))])
            hi_map = F.create_map(*[x for c in eligible for x in (F.lit(c), F.lit(hi[c]))])
            pairs = _stack_pairs(df, eligible, "double")
            flagged = pairs.filter(
                F.col("col_value").isNotNull()
                & (
                    (F.col("col_value") > hi_map[F.col("col_name")])
                    | (F.col("col_value") < lo_map[F.col("col_name")])
                )
            )
            w = Window.partitionBy("col_name").orderBy(F.desc("col_value"))
            rows = (
                flagged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= p["outlier_limit"])
                .collect()
            )
            for r in rows:
                out.setdefault(r["col_name"], []).append(r["col_value"])
            return out

        def j5_samples() -> list:
            # S6 — display sample. "limit" is the reference's plain
            # LIMIT; "random" is the TABLESAMPLE path: sample with an
            # oversampled fraction (sample() cannot guarantee exact
            # counts) then limit. Both read the source frame, so scans
            # stop early — no full pass at 100 TB. Known bias, accepted
            # for early-stop: the limit takes the FIRST n sampled rows
            # in the source's partition order, skewing the display
            # sample toward early files; a uniform n-row draw would
            # need orderBy(rand(seed)) on the sampled frame, forcing a
            # full sample materialization — the wrong trade for a
            # 10-row display sample at 100 TB.
            if not include_samples:
                return []
            n = p["sample_row_limit"]
            if p["sample_method"] == "random" and row_count > n:
                frac = min(1.0, (n * 5.0) / row_count)
                picked = source.sample(
                    withReplacement=False, fraction=frac, seed=p["sample_seed"]
                ).limit(n)
            else:
                picked = source.limit(n)
            return [r.asDict() for r in picked.collect()]

        # Per-metric error isolation (the reference wraps each metric
        # block in try/except and degrades gracefully — same contract):
        # one failing job yields its default + an entry in
        # profile["errors"] instead of failing the whole profile.
        errors: dict[str, str] = {}

        def _safe(name, fut, default):
            try:
                return fut.result()
            except Exception as ex:  # noqa: BLE001 — degrade, don't die
                errors[name] = f"{type(ex).__name__}: {ex}"
                return default

        # duplicates need nothing from the streaming agg — t0 too
        f2 = submit("duplicates", j2_duplicates)
        # drain the streaming agg: row_count gates the tail jobs and a
        # failure here raises out of profile_table (contract unchanged)
        wide = f_nd.result()
        row_count = wide["row_count"]
        stats_for_outliers = {
            c: (wide[M.a("avg", c)], wide[M.a("stdev", c)]) for c in b.numeric
        }
        f4 = submit("outliers", j4_outliers)
        f5 = submit("samples", j5_samples)
        if approx_distinct:
            distinct = {c: wide[M.a("distinct", c)] for c in b.groupable}
            freq_cols = frequent_cols(distinct)
            counts = {}
            if freq_cols and 0 < row_count <= p["frequent_values_row_threshold"]:
                f3 = submit("value counts", lambda: _value_counts(df, freq_cols))
                counts = _safe("frequent_values", f3, None)
            frequent = {} if counts is None else frequent_values(freq_cols, counts)
        else:
            counts = f_vc.result() if f_vc else {}
            distinct = {c: counts[c][0] if c in counts else 0 for c in b.groupable}
            frequent = frequent_values(frequent_cols(distinct), counts)
        quartiles = f_q.result() if f_q else {}
        duplicate_count = _safe("duplicate_count", f2, None)
        outliers = _safe("outliers", f4, {})
        samples = _safe("samples", f5, [])
    finally:
        pool.shutdown(wait=False, cancel_futures=True)

    completeness = {}
    for c in b.all:
        nulls = wide[M.a("nulls", c)] or 0
        entry = {
            "nulls": nulls,
            "null_percentage": round(nulls / row_count * 100, 2)
            if row_count > 0
            else 0,
        }
        if c in groupable:
            entry["distinct_count"] = distinct[c] or 0
            entry["distinct_percentage"] = (
                round(entry["distinct_count"] / row_count * 100, 2)
                if row_count > 0
                else 0
            )
        else:
            # non-groupable column (e.g. MapType): distinct is not
            # computable in Spark — explicit None beats a silent 0
            entry["distinct_count"] = None
            entry["distinct_percentage"] = None
        completeness[c] = entry

    numeric_stats = {}
    for c in b.numeric:
        q = quartiles.get(c) or [None, None, None]
        total = wide[M.a("sum", c)]
        if total is not None and isinstance(b.types[c], IntegralType):
            total = int(total)  # summed as decimal(38,0)
        numeric_stats[c] = {
            "min": wide[M.a("min", c)],
            "max": wide[M.a("max", c)],
            "avg": wide[M.a("avg", c)],
            "sum": total,
            "stdev": wide[M.a("stdev", c)],
            "q1": q[0],
            "median": q[1],
            "q3": q[2],
        }

    text_length_stats = {
        c: {
            "min_length": wide[M.a("min_length", c)],
            "max_length": wide[M.a("max_length", c)],
            "avg_length": wide[M.a("avg_length", c)],
        }
        for c in b.text
    }
    text_patterns = {
        c: {
            "email_pattern_count": wide[M.a("email", c)] or 0,
            "numeric_pattern_count": wide[M.a("numeric_pat", c)] or 0,
            "date_pattern_count": wide[M.a("date_pat", c)] or 0,
        }
        for c in b.text
    }
    date_stats = {}
    for c in b.date:
        mn, mx = wide[M.a("min_date", c)], wide[M.a("max_date", c)]
        days = None
        if mn is not None and mx is not None:
            days = (_to_date(mx) - _to_date(mn)).days
        date_stats[c] = {
            "min_date": mn,
            "max_date": mx,
            "distinct_count": distinct[c] or 0,
            "date_range_days": days,
        }

    profile: dict[str, Any] = {
        "table": table,
        "timestamp": datetime.datetime.now().isoformat(),
        "row_count": row_count,
        "duplicate_count": duplicate_count,
        "completeness": completeness,
        "numeric_stats": numeric_stats,
        "text_patterns": text_patterns,
        "text_length_stats": text_length_stats,
        "date_stats": date_stats,
        "frequent_values": frequent,
        "outliers": outliers,
    }
    # record which metric families are approximate (auto-flip or caller
    # choice) so consumers never mistake a sketch for an exact number
    profile["approx_mode"] = {
        "distinct": bool(p["approx_distinct"]),
        "percentiles": bool(p["approx_percentiles"]),
        # hash mode groups by md5 of the row instead of full-width rows;
        # collision error is negligible but it is not byte-exact, so
        # surface it the same way as the sketches
        "duplicates_hashed": p["duplicate_check_mode"] == "hash",
    }
    if duplicate_count is None and "duplicate_count" not in errors:
        profile["duplicate_check"] = "skipped_wide_table"
    if errors:
        profile["errors"] = errors
    if include_samples and samples:
        profile["samples"] = samples

    # D3/D4 — implemented for real (stubs in the reference,
    # profile_engine.py:437-443; spec from README.md:148-153 and
    # tests/test_profiler.py:35-61).
    profile["anomalies"] = (
        detect_anomalies(profile, historical_data, threshold=p["anomaly_threshold"])
        if historical_data
        else []
    )
    profile["schema_shifts"] = (
        detect_schema_shifts(profile, historical_data) if historical_data else []
    )
    profile["trends"] = empty_trends()
    return profile
