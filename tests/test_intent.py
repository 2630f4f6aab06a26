"""Intent-compiler unit tests (SURVEY §2.9 C1-C6)."""

from __future__ import annotations

from intellect_bi_spark.plans.intent import Intent, parse_intent

DISTINCTS = {
    "region": ["Central", "East", "North", "South", "West"],
    "product": ["Brand#11", "Brand#12"],
    "gender": ["Female", "Male"],
}


def test_metric_detection():
    assert parse_intent("average satisfaction by region").metric == "satisfaction"
    assert parse_intent("average satisfaction by region").agg == "AVG"
    assert parse_intent("total revenue by product").metric == "sales"
    assert parse_intent("sales trend").agg == "SUM"
    # trend words default to sales (reference api/main.py:366-368)
    assert parse_intent("what is the growth this year").metric == "sales"


def test_timegrain_detection():
    assert parse_intent("monthly sales").timegrain == "month"
    assert parse_intent("sales per quarter").timegrain == "quarter"
    assert parse_intent("annual revenue").timegrain == "year"
    assert parse_intent("sales by product").timegrain == ""


def test_compare_detection():
    assert parse_intent("sales last quarter").compare == ("quarter", "last")
    assert parse_intent(
        "satisfaction for the two most recent quarters"
    ).compare == ("quarter", "last2")
    assert parse_intent("yoy sales by quarter").compare == ("year", "yoy")


def test_dimension_and_filter_binding():
    it = parse_intent("monthly sales trend in the North region", DISTINCTS)
    assert "region" in it.dims
    assert it.filters == {"region": "North"}


def test_filter_binding_case_insensitive_token():
    it = parse_intent("how are sales in north?", DISTINCTS)
    assert it.filters == {"region": "North"}


def test_correlation_trigger():
    it = parse_intent(
        "correlation between transaction value and satisfaction"
    )
    assert it.is_correlation


def test_age_is_filter_dim_only():
    it = parse_intent("sales by age and region", DISTINCTS)
    assert "age" in it.dims  # detected
    # compile_intent drops it from group-by dims (numeric dim)


def test_metric_resolution_prefers_optional_txn_column():
    """_col semantics (reference api/main.py:376,1010-1017): the sales
    metric binds to transaction_value only when the view carries it."""
    from intellect_bi_spark.plans.intent import resolve_metric_column

    base_cols = ["date", "product", "region", "sales", "satisfaction"]
    assert resolve_metric_column(base_cols, "sales") == "sales"
    assert (
        resolve_metric_column(base_cols + ["transaction_value"], "sales")
        == "transaction_value"
    )
    assert resolve_metric_column(base_cols, "satisfaction") == "satisfaction"


def test_txn_view_answers_transaction_value_questions(spark, sf_dir):
    """End-to-end: the same question answers from transaction_value on the
    txn-bearing view and from sales on the canonical view, with different
    values (the optional column is a genuinely distinct quantity)."""
    from intellect_bi_spark.catalog import sales_with_txn
    from intellect_bi_spark.plans.intent import answer_question

    q = "total monthly transaction value"
    txn_df, _ = answer_question(
        spark, sf_dir, q, view=sales_with_txn(spark, sf_dir)
    )
    base_df, _ = answer_question(spark, sf_dir, q)
    txn = {r["period"]: r["value"] for r in txn_df.collect()}
    base = {r["period"]: r["value"] for r in base_df.collect()}
    assert set(txn) == set(base)  # same periods
    assert any(abs(txn[p] - base[p]) > 1e-6 for p in txn)  # different metric


# --- compare templates on tiny view= frames, against DuckDB ----------------
#
# Each case runs the nl_queries oracle body over a `sales` CTE that
# selects the tiny rows, so Spark and DuckDB answer the same question
# over the same data.

import datetime  # noqa: E402

import duckdb  # noqa: E402
import pytest  # noqa: E402

from intellect_bi_spark.catalog import sales_cte  # noqa: E402
from intellect_bi_spark.operators.nl_queries import ORACLES  # noqa: E402
from intellect_bi_spark.plans import intent  # noqa: E402
from intellect_bi_spark.plans.intent import (  # noqa: E402
    answer_question,
    view_dictionary,
)

from .parity import assert_parity  # noqa: E402

SALES_DDL = (
    "date DATE, product VARCHAR, region VARCHAR, sales DOUBLE, age INTEGER,"
    " gender VARCHAR, satisfaction DOUBLE"
)
SALES_SCHEMA = (
    "date date, product string, region string, sales double, age int,"
    " gender string, satisfaction double"
)
YOY_Q = "Compare year-over-year sales performance by quarter."
QOQ_Q = "How did sales change compared to last quarter?"
LAST2_Q = "Show average satisfaction for the two most recent quarters by region"


def _row(y, m, region, sales, sat=3.25):
    return (datetime.date(y, m, 15), "Brand#11", region, sales, 30, "Male", sat)


@pytest.fixture()
def tiny(spark):
    """(view, duck) for a list of rows: the same rows as a Spark frame
    and as DuckDB table ``tiny``."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE tiny ({SALES_DDL})")

    def make(rows):
        con.execute("DELETE FROM tiny")
        con.executemany("INSERT INTO tiny VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
        return spark.createDataFrame(rows, SALES_SCHEMA), con

    yield make
    con.close()


def _oracle(name: str, where: str = "", outer: str = "") -> str:
    """nl_queries' oracle for ``name`` over table ``tiny``: ``where``
    filters the `sales` CTE, ``outer`` is ANDed into the body's WHERE."""
    body = ORACLES[name][len(sales_cte("")):]
    if outer:
        assert body.count(" WHERE ") == 1
        body = body.replace(" WHERE ", f" WHERE {outer} AND ")
    return f"WITH sales AS (SELECT * FROM tiny {where})\n{body}"


def test_yoy_missing_year_gives_null_delta(spark, sf_dir, tiny):
    view, con = tiny(
        [_row(2020, 2, "North", 10.25), _row(2022, 1, "East", 7.5),
         _row(2021, 5, "West", 3.0), _row(2022, 4, "South", 4.75),
         _row(2022, 5, "North", 1.5)]
    )
    df, template = answer_question(spark, sf_dir, YOY_Q, view=view)
    assert template == "yoy_by_quarter"
    got = {(r["year"], r["quarter"]): r["yoy_delta"] for r in df.collect()}
    assert got[(2022, 1)] is None  # 2021 has no Q1
    assert got[(2022, 2)] == 6.25 - 3.0
    assert_parity(df, con, _oracle("nl_yoy_quarter"), "yoy_tiny")


def test_qoq_single_quarter_has_null_prev_and_delta(spark, sf_dir, tiny):
    view, con = tiny([_row(2021, 4, "North", 2.5), _row(2021, 6, "East", 1.25)])
    df, template = answer_question(spark, sf_dir, QOQ_Q, view=view)
    assert template == "qoq_delta"
    assert [tuple(r) for r in df.collect()] == [(3.75, None, None)]
    assert_parity(df, con, _oracle("nl_qoq_delta"), "qoq_single")


def test_qoq_filter_matching_nothing_gives_no_rows(spark, sf_dir, tiny):
    view, con = tiny([_row(2021, 4, "East", 2.5), _row(2021, 8, "West", 1.0)])
    q = "How did sales in North change compared to last quarter?"
    df, template = answer_question(spark, sf_dir, q, view=view)
    assert template == "qoq_delta"
    assert df.collect() == []
    assert_parity(df, con, _oracle("nl_qoq_delta", "WHERE region = 'North'"))


def test_qoq_null_metric_in_latest_quarter(spark, sf_dir, tiny):
    view, con = tiny(
        [_row(2020, 11, "North", 4.5), _row(2021, 1, "North", 2.5),
         _row(2021, 5, "East", None), _row(2021, 6, "West", None)]
    )
    df, _ = answer_question(spark, sf_dir, QOQ_Q, view=view)
    assert [tuple(r) for r in df.collect()] == [(None, 2.5, None)]
    assert_parity(df, con, _oracle("nl_qoq_delta"), "qoq_null_latest")



@pytest.mark.parametrize("dated", [True, False])
def test_qoq_null_dated_rows_sort_last(spark, sf_dir, tiny, dated):
    """A NULL quarter is never the predecessor, and is the latest only
    when no row has a date (SQL's NULLS LAST default, both ways)."""
    rows = [(None, "Brand#11", "East", 4.5, 30, "Male", 3.0)]
    if dated:
        rows.append(_row(2021, 5, "North", 2.5))
    view, con = tiny(rows)
    df, _ = answer_question(spark, sf_dir, QOQ_Q, view=view)
    assert [tuple(r) for r in df.collect()] == [(2.5 if dated else 4.5, None, None)]
    if not dated:
        # DuckDB 1.0 sorts a NULL date_trunc key first or last depending
        # on its thread count, so only the one-row frame has a stable
        # oracle answer
        assert_parity(df, con, _oracle("nl_qoq_delta"), "qoq_null_dates")

def test_last2_filter_absent_from_latest_quarters_gives_no_rows(
    spark, sf_dir, tiny
):
    """North sold only in an older quarter: the window stays on the
    view's two latest quarters instead of moving to North's."""
    view, con = tiny(
        [_row(2021, 1, "North", 1.0, 2.5), _row(2021, 5, "East", 1.0, 3.5),
         _row(2021, 8, "West", 1.0, 4.0)]
    )
    q = "Show average satisfaction for the two most recent quarters in North"
    df, template = answer_question(spark, sf_dir, q, view=view)
    assert template == "last2_quarters"
    assert df.collect() == []
    assert_parity(
        df, con, _oracle("nl_last2_quarters_by_region", outer="region = 'North'")
    )


def test_last2_quarter_set_follows_the_view_passed_in(spark, sf_dir, tiny):
    canonical = view_dictionary(intent.sales(spark, sf_dir)).last2_quarters
    rows = [
        _row(2005, 2, "North", 1.0, 2.5), _row(2005, 7, "East", 1.0, 3.75),
        _row(2005, 12, "West", 1.0, 4.0), _row(2005, 11, "West", 1.0, 1.5),
    ]
    view, con = tiny(rows)
    df, template = answer_question(spark, sf_dir, LAST2_Q, view=view)
    assert template == "last2_quarters"
    got = sorted({r["period"] for r in df.collect()})
    want = [datetime.date(2005, 7, 1), datetime.date(2005, 10, 1)]
    assert got == want and not set(got) & set(canonical)
    assert_parity(df, con, _oracle("nl_last2_quarters_by_region"), "last2_view")
    # a second frame gets its own set, never the first frame's
    view2, con2 = tiny([_row(1999, 3, "North", 1.0, 2.0)])
    df2, _ = answer_question(spark, sf_dir, LAST2_Q, view=view2)
    assert [r["period"] for r in df2.collect()] == [datetime.date(1999, 1, 1)]
    assert_parity(df2, con2, _oracle("nl_last2_quarters_by_region"))



def test_view_dictionary_racing_threads_agree(spark, tiny):
    """Racing first calls on one view each compute the same dictionary;
    whichever write lands last is what later calls read."""
    import sys
    import threading

    view, _ = tiny([_row(2005, 2, "North", 1.0), _row(2005, 9, "East", 2.0)])
    out: list = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: out.append(view_dictionary(view)))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert len(out) == 8 and all(o == out[0] for o in out)
    assert out[0].last2_quarters == (
        datetime.date(2005, 7, 1), datetime.date(2005, 1, 1)
    )
    assert any(view_dictionary(view) is o for o in out)
