"""Validation runner: rule SQL through Catalyst + driver-side comparators.

Port of ``sparvi/validations/validator.py:67-139``. Each rule's
``query`` runs via ``spark.sql`` against registered temp views (full
Catalyst support — joins, CTEs, scalar subqueries, FILTER clauses), the
first column of the first row is compared driver-side.

Per-table fusion: rules whose query is a single-table, single-scan
aggregate run as ONE Spark statement per table instead of one each
(the per-rule job floor, not the scan, dominates a rule's cost). The
shape is read from the query text; three shapes fuse:

- ``SELECT COUNT(*) FROM <t> WHERE <p>`` → ``COUNT(*) FILTER (WHERE <p>)``;
- ``SELECT <one expr> FROM <t>`` (no WHERE) → ``<expr>`` verbatim;
- the 3σ outlier CTE of ``defaults.py`` family 10 (matched after
  whitespace normalisation) → a FILTER count of ``c > a + k*s OR
  c < a - k*s`` over one shared ``__stats`` CTE of ``AVG``/``STDDEV_SAMP``
  per column (``FROM <t>, __stats``).

Each fused statement also selects ``COUNT(*)`` and carries the job
description ``run_validations:<t> fused <n> rules``.

Anything else — GROUP BY/HAVING, nested SELECT, JOIN, UNION, LIMIT,
several select items, aliases, comments, quoted identifiers — takes the
per-rule path. The per-rule path is also the fallback: when the fused
statement raises (bad column, ANSI runtime error) or the table is empty
(a non-aggregate expression returns no row there), that table's fused
rules rerun one by one, so results and error dicts match the per-rule
path exactly.

Differences from the reference, on purpose:
- Result dicts carry **both** ``name`` and ``rule_name`` — the reference
  emits ``name`` (validator.py:116) but its own README (README.md:356),
  CLI (cli/validate.py:222) and tests (tests/test_validations.py:25)
  read ``rule_name``; emitting both serves every documented consumer.
- Independent statements (fused tables and unfused rules) can run
  concurrently (``parallelism``): the Spark scheduler interleaves the
  jobs — the analog of the reference's connection-per-rule
  (validator.py:91).
"""

from __future__ import annotations

import logging
import re
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession

from sparvi_core_spark.config import get_config

log = logging.getLogger(__name__)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_TABLE = re.compile(rf"{_IDENT}(?:\.{_IDENT})*")
_COUNT_STAR = re.compile(r"COUNT\s*\(\s*\*\s*\)", re.I)
# a star that expands to columns (not COUNT(*) and not multiplication):
# under the fused statement's extra __stats relation it would expand
# differently than in the rule's own query
_STAR_COLUMNS = re.compile(r"(?:^|[(,.])\s*\*")
_KEYWORD = re.compile(
    r"\b(SELECT|FROM|WHERE|AS|WITH|JOIN|UNION|INTERSECT|EXCEPT|MINUS|GROUP|"
    r"HAVING|ORDER|SORT|CLUSTER|DISTRIBUTE|LIMIT|OFFSET|WINDOW|OVER|QUALIFY|"
    r"LATERAL|PIVOT|UNPIVOT|TABLESAMPLE|TABLE|VALUES)\b",
    re.I,
)
# defaults.py family 10, whitespace-normalised
_OUTLIER = re.compile(
    rf"WITH stats AS \( SELECT AVG\((?P<c>{_IDENT})\) AS avg_val, "
    rf"STDDEV_SAMP\((?P=c)\) AS stddev_val FROM (?P<t>{_TABLE.pattern}) "
    rf"WHERE (?P=c) IS NOT NULL \) SELECT COUNT\(\*\) FROM (?P=t), stats "
    rf"WHERE (?P=c) > stats\.avg_val \+ (?P<k>\d+(?:\.\d+)?) \* stats\.stddev_val "
    rf"OR (?P=c) < stats\.avg_val - (?P=k) \* stats\.stddev_val"
)
# names the outlier CTE gives meaning to: a column or table spelled
# like one resolves differently once the CTE is renamed to __stats
_OUTLIER_RESERVED = {"stats", "avg_val", "stddev_val", "__stats"}


def _compare(operator: str, actual: Any, expected: Any) -> bool:
    """The 7 comparator pairs (validator.py:99-113)."""
    if operator in ("equals", "=="):
        return actual == expected
    if operator in ("greater_than", ">"):
        return actual > expected
    if operator in ("less_than", "<"):
        return actual < expected
    if operator in ("greater_than_or_equal", ">="):
        return actual >= expected
    if operator in ("less_than_or_equal", "<="):
        return actual <= expected
    if operator in ("not_equals", "!="):
        return actual != expected
    if operator == "between":
        return expected[0] <= actual <= expected[1]
    raise ValueError(f"Unknown operator: {operator}")


def _normalize_scalar(v: Any) -> Any:
    """Decimal results (e.g. from FILTER-percentage SQL) → float: keeps
    results JSON-serializable and display-friendly, matching the native
    numeric types warehouse drivers hand the reference."""
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _evaluate(rule: dict[str, Any], fetch: Callable[[], Any]) -> dict[str, Any]:
    """One rule's result dict from ``fetch()`` (its actual value)."""
    name = rule.get("name", "<unnamed>")
    base = {"name": name, "rule_name": name, "description": rule.get("description", "")}
    try:
        actual_value = fetch()
        is_valid = _compare(rule.get("operator", "equals"), actual_value,
                            rule.get("expected_value", 0))
        return {
            **base,
            "is_valid": bool(is_valid),
            "actual_value": actual_value,
            "expected_value": rule.get("expected_value", 0),
        }
    except Exception as e:  # per-rule isolation (validator.py:122-128)
        return {**base, "is_valid": False, "error": str(e)}


def _run_one(spark: SparkSession, rule: dict[str, Any]) -> dict[str, Any]:
    def fetch():
        row = spark.sql(rule["query"]).first()
        return _normalize_scalar(row[0]) if row is not None else None

    return _evaluate(rule, fetch)


def _mask_literals(query: str) -> str | None:
    """``query`` with every ``'…'`` literal's body blanked (same length,
    so positions map back), or None when it holds text the recognizer
    does not read: comments, quoted identifiers, double-quoted or
    prefixed (raw, hex, typed) literals, backslashes in a literal (their
    meaning depends on ``spark.sql.parser.escapedStringLiterals``),
    statement separators, pipes."""
    out: list[str] = []
    i, n = 0, len(query)
    while i < n:
        ch = query[i]
        if ch == "'":
            j = query.find("'", i + 1)
            if (j < 0 or "\\" in query[i:j]
                    or (i and (query[i - 1].isalnum() or query[i - 1] == "_"))):
                return None
            out.append("'" + " " * (j - i - 1) + "'")
            i = j + 1
        elif ch in '"`;' or query.startswith(("--", "/*", "|>"), i):
            return None
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _count_where(pred: str) -> str:
    # an aggregate FILTER, not count_if: count_if casts a non-boolean
    # predicate (a NULL literal, a string column) where WHERE raises
    return f"COUNT(*) FILTER (WHERE {pred})"


def _fusable(query: Any) -> tuple[str, str, str | None] | None:
    """``(table, item, stats_column)`` when ``query`` is one of the three
    fusable shapes, else None. ``item`` is the select item that computes
    the rule's value inside the table's fused statement; ``stats_column``
    names the column whose ``__stats`` AVG/STDDEV_SAMP it reads."""
    if not isinstance(query, str):
        return None
    m = _OUTLIER.fullmatch(" ".join(query.split()))
    if m:
        c, t, k = m["c"], m["t"], m["k"]
        if {c.lower(), t.lower()} & _OUTLIER_RESERVED:
            return None
        a, s = f"__stats.__avg_{c}", f"__stats.__sd_{c}"
        return t, _count_where(f"{c} > {a} + {k} * {s} OR {c} < {a} - {k} * {s}"), c

    masked = _mask_literals(query)
    if masked is None:
        return None
    depth, d = [], 0
    for ch in masked:
        d += (ch == "(") - (ch == ")")
        if d < 0:
            return None
        depth.append(d)
    if d:
        return None

    top = []
    for kw in _KEYWORD.finditer(masked):
        word = kw.group(1).upper()
        if depth[kw.start()] == 0:
            top.append((word, kw.start(), kw.end()))
        # nested, only EXTRACT(… FROM …), FILTER (WHERE …), CAST(… AS …)
        elif word not in ("FROM", "WHERE", "AS"):
            return None
    words = [w for w, _, _ in top]
    if words not in (["SELECT", "FROM"], ["SELECT", "FROM", "WHERE"]):
        return None
    if masked[: top[0][1]].strip():
        return None
    (_, _, sel_end), (_, from_start, from_end) = top[:2]
    end = top[2][1] if len(top) == 3 else len(query)
    table = query[from_end:end].strip()
    if not _TABLE.fullmatch(table) or table.lower() == "__stats":
        return None
    if _STAR_COLUMNS.search(_COUNT_STAR.sub("", masked[sel_end:])):
        return None
    expr = query[sel_end:from_start].strip()
    if len(top) == 3:
        pred = query[top[2][2]:].strip()
        if not pred or not _COUNT_STAR.fullmatch(expr):
            return None
        return table, _count_where(pred), None
    if not expr or any(masked[i] == "," and depth[i] == 0 for i in range(sel_end, from_start)):
        return None
    return table, expr, None


def _fused_sql(shapes: list[tuple[str, str, str | None]]) -> str:
    table = shapes[0][0]
    items = ", ".join(["COUNT(*)", *(item for _, item, _ in shapes)])
    cols = list(dict.fromkeys(c for _, _, c in shapes if c is not None))
    if not cols:
        return f"SELECT {items} FROM {table}"
    stats = ", ".join(f"AVG({c}) AS __avg_{c}, STDDEV_SAMP({c}) AS __sd_{c}" for c in cols)
    return f"WITH __stats AS (SELECT {stats} FROM {table}) SELECT {items} FROM {table}, __stats"


def _run_fused(
    spark: SparkSession,
    rules: list[dict[str, Any]],
    shapes: list[tuple[str, str, str | None]],
) -> list[dict[str, Any]]:
    """Run one table's fusable rules as one statement; fall back to the
    per-rule path when it raises or the table is empty."""
    table = shapes[0][0]
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"run_validations:{table} fused {len(rules)} rules")
    try:
        row = spark.sql(_fused_sql(shapes)).first()
        reason = None if row[0] else "empty table"
    except Exception as e:
        reason = type(e).__name__
    finally:
        sc.setJobDescription(prev)
    if reason is not None:
        log.debug("run_validations: fused batch of %d rules on %s fell back "
                  "to per-rule queries (%s)", len(rules), table, reason)
        return [_run_one(spark, r) for r in rules]
    return [_evaluate(r, lambda v=v: _normalize_scalar(v)) for r, v in zip(rules, row[1:])]


def run_validations(
    spark: SparkSession,
    validation_rules: list[dict[str, Any]],
    config: dict | None = None,
) -> list[dict[str, Any]]:
    cfg = get_config(config)["validation"]
    rules = validation_rules[: cfg["max_rules"]]
    parallelism = max(1, int(cfg["parallelism"]))

    shapes = [_fusable(r.get("query")) for r in rules]
    by_table: dict[str, list[int]] = {}
    for i, shape in enumerate(shapes):
        if shape is not None:
            by_table.setdefault(shape[0], []).append(i)
    # one task per fused table (two or more rules), one per other rule
    tasks = [idx for idx in by_table.values() if len(idx) > 1]
    fused = {i for idx in tasks for i in idx}
    tasks += [[i] for i in range(len(rules)) if i not in fused]

    def run(idx: list[int]) -> list[dict[str, Any]]:
        if idx[0] not in fused:
            return [_run_one(spark, rules[idx[0]])]
        return _run_fused(spark, [rules[i] for i in idx], [shapes[i] for i in idx])

    if parallelism == 1 or len(tasks) <= 1:
        outs = [run(idx) for idx in tasks]
    else:
        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            outs = list(ex.map(run, tasks))
    results: list[dict[str, Any]] = [{}] * len(rules)
    for idx, out in zip(tasks, outs):
        for i, res in zip(idx, out):
            results[i] = res
    return results
