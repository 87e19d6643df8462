"""Validator E2E — port of reference tests/test_validations.py:9-66 +
rules-file round-trips (validator.py:11-64,142-167)."""

import json

import pytest

from sparvi_core_spark import (
    export_rules,
    get_default_validations,
    load_rules_from_file,
    run_validations,
)


def test_pass_and_fail_rules(spark, employees):
    rules = [
        {
            "name": "employee_count",
            "description": "at least 5 employees",
            "query": "SELECT COUNT(*) FROM employees",
            "operator": "greater_than",
            "expected_value": 5,
        },
        {
            "name": "no_null_departments",
            "description": "departments must not be null",
            "query": "SELECT COUNT(*) FROM employees WHERE department IS NULL",
            "operator": "equals",
            "expected_value": 0,
        },
    ]
    results = run_validations(spark, rules)
    assert len(results) == 2
    by_name = {r["rule_name"]: r for r in results}
    assert by_name["employee_count"]["is_valid"] is True
    assert by_name["employee_count"]["actual_value"] == 10
    assert by_name["no_null_departments"]["is_valid"] is False
    assert by_name["no_null_departments"]["actual_value"] == 1
    # both name keys present (reference emits name, its docs read rule_name)
    assert results[0]["name"] == results[0]["rule_name"]


def test_default_rules_catch_negative_price(spark, products):
    rules = get_default_validations(spark, "products", primary_keys=["product_id"])
    names = [r["name"] for r in rules]
    assert "check_products_not_empty" in names
    assert "check_products_pk_unique" in names
    assert "check_price_positive" in names
    assert "check_price_not_zero" in names
    results = run_validations(spark, rules)
    by_name = {r["rule_name"]: r for r in results}
    assert by_name["check_price_positive"]["is_valid"] is False
    assert by_name["check_price_positive"]["actual_value"] == 1
    assert by_name["check_products_not_empty"]["is_valid"] is True


def test_all_operators(spark, employees):
    cases = [
        ("equals", "SELECT COUNT(*) FROM employees", 10, True),
        ("==", "SELECT COUNT(*) FROM employees", 10, True),
        ("not_equals", "SELECT COUNT(*) FROM employees", 10, False),
        ("greater_than", "SELECT COUNT(*) FROM employees", 100, False),
        ("less_than", "SELECT COUNT(*) FROM employees", 100, True),
        (">=", "SELECT COUNT(*) FROM employees", 10, True),
        ("<=", "SELECT COUNT(*) FROM employees", 9, False),
        ("between", "SELECT COUNT(*) FROM employees", [5, 15], True),
        ("between", "SELECT COUNT(*) FROM employees", [11, 15], False),
    ]
    rules = [
        {"name": f"r{i}", "query": q, "operator": op, "expected_value": exp}
        for i, (op, q, exp, _) in enumerate(cases)
    ]
    results = run_validations(spark, rules)
    for (op, _, exp, want), r in zip(cases, results):
        assert r["is_valid"] is want, f"{op} {exp}: {r}"


def test_error_isolation(spark, employees):
    rules = [
        {"name": "bad", "query": "SELECT FROM nope", "operator": "equals",
         "expected_value": 0},
        {"name": "good", "query": "SELECT COUNT(*) FROM employees",
         "operator": "greater_than", "expected_value": 0},
    ]
    results = run_validations(spark, rules)
    assert results[0]["is_valid"] is False
    assert "error" in results[0]
    assert results[1]["is_valid"] is True


def test_rules_yaml_roundtrip(tmp_path, spark, employees):
    rules = [
        {"name": "a", "description": "d", "query": "SELECT COUNT(*) FROM employees",
         "operator": ">", "expected_value": 1},
        {"name": "b", "query": "SELECT 1"},
    ]
    y = tmp_path / "rules.yaml"
    export_rules(rules, y, "yaml")
    loaded = load_rules_from_file(y)
    assert loaded[0]["operator"] == ">"
    assert loaded[1]["operator"] == "equals"  # defaulting
    assert loaded[1]["expected_value"] == 0

    j = tmp_path / "rules.json"
    export_rules(rules, j, "json")
    loaded_j = load_rules_from_file(j)
    assert [r["name"] for r in loaded_j] == ["a", "b"]
    assert json.loads(j.read_text())["rules"][0]["name"] == "a"


def test_rules_file_validation_errors(tmp_path):
    bad = tmp_path / "bad.yaml"
    bad.write_text("rules:\n  - query: SELECT 1\n")
    with pytest.raises(ValueError, match="name"):
        load_rules_from_file(bad)
    with pytest.raises(FileNotFoundError):
        load_rules_from_file(tmp_path / "missing.yaml")


def test_max_rules_cap(spark, employees):
    rules = [
        {"name": f"r{i}", "query": "SELECT COUNT(*) FROM employees",
         "operator": ">=", "expected_value": 0}
        for i in range(10)
    ]
    results = run_validations(
        spark, rules, config={"validation": {"max_rules": 3}}
    )
    assert len(results) == 3


def test_length_hint_rules(spark, products):
    """Family 9a: VARCHAR(n) doesn't exist in Spark, so max-length rules
    come from user hints — absent hints, the family is skipped (same
    degrade pattern as PK/FK)."""
    no_hints = get_default_validations(spark, "products")
    assert not any("max_length" in r["name"] for r in no_hints)

    rules = get_default_validations(
        spark, "products", column_length_hints={"name": 9, "category": 11}
    )
    named = {r["name"]: r for r in rules}
    assert "check_name_max_length" in named
    assert "check_category_max_length" in named
    # numeric columns never get length rules even if hinted
    hinted_numeric = get_default_validations(
        spark, "products", column_length_hints={"price": 5}
    )
    assert not any("max_length" in r["name"] for r in hinted_numeric)

    results = run_validations(
        spark, [named["check_name_max_length"], named["check_category_max_length"]]
    )
    by_name = {r["rule_name"]: r for r in results}
    # all product names are exactly 9 chars -> passes at limit 9
    assert by_name["check_name_max_length"]["is_valid"]
    # 'Electronics' is 11 chars, none longer -> passes at limit 11
    assert by_name["check_category_max_length"]["is_valid"]
    tight = dict(named["check_category_max_length"], query=named[
        "check_category_max_length"]["query"].replace("> 11", "> 8"))
    r2 = run_validations(spark, [tight])
    assert not r2[0]["is_valid"] and r2[0]["actual_value"] > 0


# --- per-table fusion (validations/runner.py) -------------------------

RUNNER_LOG = "sparvi_core_spark.validations.runner"


def _per_rule(spark, rules):
    from sparvi_core_spark.validations.runner import _run_one

    return [_run_one(spark, r) for r in rules]


def _error_class(results):
    """Results with each error cut to its class: the message names plan
    expression ids, or whichever bad row a task hit first, which differ
    between runs."""
    return [dict(r, error=r["error"].split("]")[0]) if "error" in r else r
            for r in results]


def _fallbacks(caplog):
    return [r.getMessage() for r in caplog.records
            if r.name == RUNNER_LOG and "fell back" in r.getMessage()]


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_fused_results_match_per_rule(spark, views, products, caplog, aqe):
    """Every default rule of every fixture table: the fused runner's
    result dicts equal the per-rule path's, under both planners."""
    import logging

    rules = [r for t in (*views, "products")
             for r in get_default_validations(spark, t)]
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        with caplog.at_level(logging.DEBUG, logger=RUNNER_LOG):
            fused = run_validations(spark, rules, {"validation": {"max_rules": 1000}})
        want = _per_rule(spark, rules)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert fused == want
    assert _fallbacks(caplog) == []


def test_fused_error_isolation(spark, employees, products, caplog):
    """A fusable rule on a bad column (fails analysis) and one that
    raises at runtime each yield an error result, and their table-mates
    keep their values: each fused batch falls back to per-rule queries."""
    import logging

    def rule(table, name, where, op="equals", expected=0):
        return {"name": name, "query": f"SELECT COUNT(*) FROM {table} WHERE {where}",
                "operator": op, "expected_value": expected}

    rules = [
        rule("employees", "nulls", "department IS NULL"),
        rule("employees", "bad_column", "no_such_column > 0"),
        rule("products", "runtime", "CAST(name AS INT) > 0"),  # ANSI cast error
        rule("employees", "old", "age > 50", "less_than", 10),
        rule("products", "negative", "price < 0"),
    ]
    with caplog.at_level(logging.DEBUG, logger=RUNNER_LOG):
        results = run_validations(spark, rules)
    assert _error_class(results) == _error_class(_per_rule(spark, rules))
    assert [("error" in r, r.get("actual_value")) for r in results] == [
        (False, 1), (True, None), (True, None), (False, 3), (False, 1)]
    msgs = sorted(_fallbacks(caplog))
    assert len(msgs) == 2
    assert "2 rules on products" in msgs[0] and "NumberFormatException" in msgs[0]
    assert "3 rules on employees" in msgs[1] and "AnalysisException" in msgs[1]


def test_fused_non_boolean_predicate_raises(spark, products):
    """A non-boolean WHERE raises on the per-rule path; the fused item
    must raise too (count_if would cast a NULL predicate and count 0)."""
    rules = [{"name": n, "query": f"SELECT COUNT(*) FROM products WHERE {p}"}
             for n, p in (("null_pred", "NULL"), ("negative", "price < 0"))]
    results = run_validations(spark, rules)
    assert _error_class(results) == _error_class(_per_rule(spark, rules))
    assert "error" in results[0]
    assert results[1]["actual_value"] == 1


def test_fused_empty_table(spark, employees, caplog):
    """An empty table takes the per-rule path: a non-aggregate rule
    returns no row there, which one aggregate statement cannot show."""
    import logging

    employees.limit(0).createOrReplaceTempView("employees_empty")
    rules = get_default_validations(spark, "employees_empty") + [
        {"name": "constant", "query": "SELECT 1 FROM employees_empty",
         "operator": "equals", "expected_value": 1},
    ]
    with caplog.at_level(logging.DEBUG, logger=RUNNER_LOG):
        results = run_validations(spark, rules)
    assert results == _per_rule(spark, rules)
    assert results[-1]["actual_value"] is None
    (msg,) = _fallbacks(caplog)
    assert "employees_empty" in msg and "empty table" in msg


@pytest.mark.parametrize("query", [
    # the only FROM sits inside a string literal
    "SELECT 'n FROM employees'",
    "SELECT COUNT(*), MAX(age) FROM employees",
    "SELECT COUNT(*) FROM employees WHERE name IN (SELECT name FROM employees)",
    "SELECT COUNT(*) FROM employees GROUP BY department",
    "SELECT COUNT(*) FROM employees WHERE age > 0 GROUP BY department HAVING COUNT(*) > 1",
    "SELECT COUNT(*) AS n FROM employees",
    "SELECT COUNT(*) FROM employees e WHERE e.age > 0",
    "SELECT COUNT(*) FROM employees JOIN products ON id = product_id",
    "SELECT COUNT(*) FROM employees WHERE age > 0 UNION ALL SELECT 1",
    "SELECT COUNT(*) FROM employees WHERE age > 0 ORDER BY 1 LIMIT 1",
    "SELECT COUNT(*) FROM employees WHERE age > 0 -- note",
    "SELECT COUNT(*) FROM `employees` WHERE age > 0",
    "SELECT COUNT(*) FROM employees WHERE age > 0) OR (age < 0",
    "SELECT MAX(struct(*)) FROM employees",
    "SELECT COUNT(*) FROM employees WHERE age > 0 AND name = 'a' UNION SELECT 1",
    # a backslash's meaning in a literal depends on the parser config
    "SELECT COUNT(*) FROM employees WHERE name RLIKE 'E\\\\w+'",
])
def test_unfusable_shapes_take_per_rule_path(query):
    from sparvi_core_spark.validations.runner import _fusable

    assert _fusable(query) is None


def test_fusable_literal_holding_keywords(spark, employees):
    """Literals are masked before the shape is read: keywords inside one
    neither block fusion nor split the query."""
    from sparvi_core_spark.validations.runner import _fusable

    q = "SELECT COUNT(*) FROM employees WHERE name <> 'x FROM y GROUP BY z'"
    assert _fusable(q) == (
        "employees", "COUNT(*) FILTER (WHERE name <> 'x FROM y GROUP BY z')", None)
    rules = [{"name": "a", "query": q, "operator": "equals", "expected_value": 10},
             {"name": "b", "query": "SELECT COUNT(*) FROM employees"}]
    assert run_validations(spark, rules) == _per_rule(spark, rules)


def test_default_rule_fusion_coverage(spark, views):
    """On TPC-H lineitem/orders every count-where, null-rate and outlier
    default rule fuses; only the GROUP BY and CTE-join families do not.
    A change to a defaults.py template that drops fusion fails here."""
    from sparvi_core_spark.validations.runner import _fusable

    keys = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"]}
    kinds = set()
    for table, pk in keys.items():
        for r in get_default_validations(spark, table, primary_keys=pk):
            shape = _fusable(r["query"])
            unfused = r["name"].endswith(("_unique", "_row_growth", "_distribution"))
            assert (shape is None) == unfused, r["name"]
            if shape is not None:
                assert shape[0] == table
                kinds.add(r["name"].split("_")[-1])
    # count-where (not_empty, positive), outlier and null-rate rules
    assert {"empty", "positive", "outliers", "rate"} <= kinds
