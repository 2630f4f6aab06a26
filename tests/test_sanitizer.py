"""Sanitizer / safety-gate unit tests (SURVEY §2.8 rules D1-D10)."""

from __future__ import annotations

import pytest

from intellect_bi_spark.plans.sanitizer import (
    ensure_limit,
    extract_select_only,
    is_safe_select,
    run_safe_sql,
    sanitize_sql,
)

from .parity import assert_parity


def test_d1_now_functions():
    s = sanitize_sql("SELECT GETDATE(), NOW(), CURRENT_DATE()")
    assert (
        s == "SELECT current_timestamp(), current_timestamp(), current_date()"
    )


def test_d2_dateadd():
    assert (
        sanitize_sql("SELECT DATEADD(month, 3, d) FROM sales")
        == "SELECT (CAST(d AS DATE) + INTERVAL '3' MONTH) FROM sales"
    )
    assert (
        sanitize_sql("SELECT DATEADD(quarter, -1, d) FROM sales")
        == "SELECT (CAST(d AS DATE) - INTERVAL '3' MONTH) FROM sales"
    )
    assert (
        sanitize_sql("SELECT DATEADD(day, 7, d) FROM sales")
        == "SELECT (CAST(d AS DATE) + INTERVAL '7' DAY) FROM sales"
    )


def test_d2_dateadd_over_a_call():
    """The date argument may itself hold parentheses: a match that
    stopped at GETDATE's own ``)`` produced ``CAST(GETDATE( AS DATE)``,
    which does not parse, so ``run_safe_sql`` refused a safe query."""
    assert (
        sanitize_sql("SELECT n FROM t WHERE date < DATEADD(month, -3, GETDATE())")
        == "SELECT n FROM t WHERE date <"
        " (CAST(current_timestamp() AS DATE) - INTERVAL '3' MONTH)"
    )
    assert (
        sanitize_sql("SELECT DATEADD(day, 1, DATEADD(month, 2, d))")
        == "SELECT (CAST((CAST(d AS DATE) + INTERVAL '2' MONTH) AS DATE)"
        " + INTERVAL '1' DAY)"
    )


def test_d3_top():
    assert (
        sanitize_sql("SELECT TOP 5 region FROM sales")
        == "SELECT region FROM sales"
    )


def test_d4_isnull_nvl():
    assert sanitize_sql("SELECT ISNULL(a, 0)") == "SELECT coalesce(a, 0)"
    assert sanitize_sql("SELECT NVL(a, 0)") == "SELECT coalesce(a, 0)"


def test_d5_iif():
    assert (
        sanitize_sql("SELECT IIF(a > 1, 'x', 'y')")
        == "SELECT CASE WHEN a > 1 THEN 'x' ELSE 'y' END"
    )


def test_d6_convert():
    assert (
        sanitize_sql("SELECT CONVERT(date, d)") == "SELECT CAST(d AS DATE)"
    )


def test_d7_double_equals():
    assert (
        sanitize_sql("SELECT * FROM sales WHERE region == 'North'")
        == "SELECT * FROM sales WHERE region = 'North'"
    )
    # != and >= must survive
    assert sanitize_sql("WHERE a != b AND c >= d") == "WHERE a != b AND c >= d"


def test_d7_table_repair():
    assert (
        sanitize_sql("SELECT * FROM sales_data")
        == "SELECT * FROM sales"
    )


def test_d8_select_only_extraction():
    assert (
        extract_select_only("DROP TABLE x; SELECT 1")
        == "SELECT 1"
    )
    got = extract_select_only("WITH t AS (SELECT 1 AS a) SELECT a FROM t")
    assert got is not None and got.lower().startswith("with")
    assert extract_select_only("DELETE FROM sales") is None
    assert extract_select_only(None) is None


def test_d9_safety_gate():
    assert is_safe_select("SELECT 1")[0]
    assert is_safe_select("WITH t AS (SELECT 1) SELECT * FROM t")[0]
    assert not is_safe_select("DROP TABLE sales")[0]
    assert not is_safe_select("SELECT 1; -- comment")[0]
    # conservative gate: forbidden words rejected even as identifiers
    # (reference behavior, api/main.py:119-123)
    assert not is_safe_select("SELECT * FROM sales WHERE insert = 1")[0]


def test_o6_limit_injection():
    assert ensure_limit("SELECT 1") == "SELECT 1 LIMIT 200"
    assert ensure_limit("SELECT 1 LIMIT 5") == "SELECT 1 LIMIT 5"
    assert ensure_limit("SELECT 1;") == "SELECT 1 LIMIT 200"


def test_run_safe_sql_end_to_end(spark, sf_dir):
    from intellect_bi_spark.catalog import sales

    sales(spark, sf_dir)  # registers the view
    df = run_safe_sql(
        spark,
        "SELECT TOP 3 region, SUM(sales) AS total FROM sales_data"
        " WHERE region == 'North' GROUP BY region",
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["region"] == "North"


def test_run_safe_sql_dateadd_over_getdate_matches_duckdb(spark, sf_dir, duck):
    from intellect_bi_spark.catalog import sales, sales_cte

    sales(spark, sf_dir)  # registers the view
    df = run_safe_sql(
        spark,
        "SELECT gender, COUNT(*) AS n FROM sales_data"
        " WHERE date < DATEADD(month, -3, GETDATE()) GROUP BY gender",
    )
    assert_parity(
        df,
        duck,
        sales_cte(
            "SELECT gender, COUNT(*) AS n FROM sales"
            " WHERE date < CAST(current_date - INTERVAL 3 MONTH AS DATE)"
            " GROUP BY gender"
        ),
    )


def test_run_safe_sql_rejects_dml(spark):
    with pytest.raises(ValueError):
        run_safe_sql(spark, "DROP TABLE sales")
    with pytest.raises(ValueError):
        run_safe_sql(spark, "INSERT INTO sales VALUES (1)")


# --- property-based hardening (hypothesis) -----------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except Exception:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:
    from intellect_bi_spark.plans.sanitizer import (
        ensure_limit,
        extract_select_only,
        is_safe_select,
        sanitize_sql,
    )

    _FORBIDDEN = (
        "insert", "update", "delete", "drop", "alter", "truncate",
        "create", "attach", "detach", "copy", "load",
    )

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def test_gate_never_passes_forbidden_tokens(s):
        """No input — however mangled — that CONTAINS a forbidden token
        survives the gate after the full extract→sanitize pipeline."""
        stmt = extract_select_only(s)
        if stmt is None:
            return
        stmt = sanitize_sql(stmt)
        ok, _ = is_safe_select(stmt)
        if ok:
            low = stmt.lower()
            assert not any(
                __import__("re").search(rf"\b{t}\b", low) for t in _FORBIDDEN
            )
            assert low.lstrip().startswith(("select", "with"))

    @given(st.integers(min_value=1, max_value=10_000))
    @settings(max_examples=50, deadline=None)
    def test_ensure_limit_idempotent(n):
        out = ensure_limit("SELECT * FROM sales", n)
        assert out.endswith(f"LIMIT {n}")
        assert ensure_limit(out, n + 1) == out  # existing LIMIT untouched

    @given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120))
    @settings(max_examples=200, deadline=None)
    def test_sanitize_is_idempotent_on_its_output(s):
        once = sanitize_sql(s)
        assert sanitize_sql(once) == sanitize_sql(sanitize_sql(once))
