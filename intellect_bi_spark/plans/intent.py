"""Deterministic NL-intent → DataFrame plan compiler.

The reference compiles keyword-matched English into SQL f-strings
(reference api/main.py:345-532). This engine compiles the same intent
struct into **declarative DataFrame plans** instead of SQL text — plans are
composable, injection-free (filter values bound as literal Columns, never
spliced into strings — fixing the reference's quoting at api/main.py:466),
and Catalyst-optimizable.

Intent model (reference api/main.py:362-423):
- metric: satisfaction → AVG | sales → SUM (trend-words default to sales)
- timegrain: month | quarter | year (phrase table; default month)
- compare: last/previous quarter, last-2 quarters, YoY
- dimensions + filters: dims mentioned in text; values bound against
  distinct-value dictionaries computed once per dataset and broadcast
  (reference lru_cache at api/main.py:345-360).

One-scan rule: every template reads the view it compiles against ONCE.
The reference emits one SQL statement per template (api/main.py:425-532);
a plan that scans the cached view twice (a self-join, a semi-join on a
subquery over the view) or pins a stitched frame per question pays a
Spark job and a scan per extra read on every question.  So the YoY delta
is a lag over the one ``(year, quarter)`` aggregate, the last-two-quarter
set is view metadata bound as literals (:func:`view_dictionary`), and the
QoQ delta is a top-2 over the per-quarter aggregate
(``functions.windows.latest_with_prev``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import sales
from ..functions.numeric import corr_sql, davg_sql, dsum_sql
from ..functions.windows import latest_with_prev

METRIC_SAT = ("satisfaction", "csat")
METRIC_SALES = ("sales", "revenue", "transaction value", "transaction_value", "amount")
# Schema-dependent column resolution for the sales metric (reference
# _col("transaction_value","sales","amount","revenue"), api/main.py:376,
# 1010-1017): the first of these present in the ACTIVE view is aggregated,
# so a dataset carrying the optional transaction_value column answers
# every sales-metric question from it — while the canonical view (like the
# reference's bundled CSV, which lacks the column) keeps using `sales`.
METRIC_SALES_COLS = ("transaction_value", "sales", "amount", "revenue")
TREND_WORDS = (
    "trend", "growth", "decline", "compare", "correlation", "change",
    "performance",
)
DIM_CANDIDATES = ("region", "product", "gender", "age")
TIME_GRAINS = {
    "monthly": "month",
    "per month": "month",
    "by month": "month",
    "quarterly": "quarter",
    "per quarter": "quarter",
    "by quarter": "quarter",
    "yearly": "year",
    "annual": "year",
}
COMPARE_TOKENS = {
    "last quarter": ("quarter", "last"),
    "previous quarter": ("quarter", "previous"),
    "two most recent quarters": ("quarter", "last2"),
    "two latest quarters": ("quarter", "last2"),
    "yoy": ("year", "yoy"),
    "year-over-year": ("year", "yoy"),
}


@dataclass
class Intent:
    metric: str = "sales"  # "sales" | "satisfaction"
    agg: str = "SUM"  # "SUM" | "AVG"
    timegrain: str = ""  # "" → month default
    compare: tuple[str, str] = ("", "")
    dims: list[str] = field(default_factory=list)
    filters: dict[str, str] = field(default_factory=dict)
    is_correlation: bool = False
    # the reference's YoY gate is the literal word "quarter" in the question
    # (api/main.py:501), not the parsed grain — they diverge when another
    # grain phrase won the grain table but "quarter" still appears.
    mentions_quarter: bool = False
    reason: str = ""


@dataclass(frozen=True)
class ViewDictionary:
    """Driver-side metadata of one view: each dimension's distinct
    values (reference api/main.py:345-360) and the view's two latest
    quarters, latest first (reference api/main.py:452-459)."""

    dims: dict[str, list[str]]
    last2_quarters: tuple


_VIEW_DICT_ATTR = "_sg_view_dictionary"


def _quarter():
    return F.date_trunc("quarter", F.col("date")).cast("date")


def view_dictionary(view: DataFrame) -> ViewDictionary:
    """The view's :class:`ViewDictionary`, built by ONE aggregate — a
    ``collect_set`` per dimension column the view has, plus the sorted
    set of its quarters — and memoized on the view object itself.

    The memo lives as long as the DataFrame it describes, so it can
    never be served for another frame (no ``id()`` key to alias after
    GC, the functions/memo.py hazard).  The canonical ``sales`` view is
    one object per session and dataset (catalog.sales), so its
    dictionary is built once — by the first :func:`distinct_values` —
    and every compile against it reads the memo without a job; a ``view=``
    override pays one job on its first last-two-quarters question.
    Racing first calls each compute the same value; the attribute write
    is atomic."""
    cached = getattr(view, _VIEW_DICT_ATTR, None)
    if cached is not None:
        return cached
    dims = [
        d for d in DIM_CANDIDATES
        # age is a numeric dim: no value dictionary (reference skips too)
        if d != "age" and d in view.columns
    ]
    row = view.agg(
        *[F.collect_set(d).alias(d) for d in dims],
        F.slice(F.sort_array(F.collect_set(_quarter()), False), 1, 2).alias(
            "_sg_last2"
        ),
    ).first()
    out = ViewDictionary(
        dims={
            d: sorted({str(v).strip() for v in row[d]}, key=str.lower)
            for d in dims
        },
        last2_quarters=tuple(row["_sg_last2"]),
    )
    setattr(view, _VIEW_DICT_ATTR, out)
    return out


def distinct_values(spark: SparkSession, sf_dir: str) -> dict[str, list[str]]:
    """The canonical view's dimension dictionaries (reference lru_cache'd
    DISTINCT, api/main.py:345-360): built once per session and dataset
    with the view's quarter set, then bound as literals without touching
    executors again."""
    return view_dictionary(sales(spark, sf_dir)).dims


def parse_intent(
    user_q: str, distincts: dict[str, list[str]] | None = None
) -> Intent:
    """Extract the intent struct from a question (pure given distincts)."""
    ql = user_q.lower()
    it = Intent()

    # metric (reference api/main.py:362-368)
    if any(m in ql for m in METRIC_SAT):
        it.metric, it.agg = "satisfaction", "AVG"
    elif any(m in ql for m in METRIC_SALES) or any(
        w in ql for w in TREND_WORDS
    ):
        it.metric, it.agg = "sales", "SUM"

    # correlation template trigger (reference api/main.py:444-449)
    it.is_correlation = "correlation" in ql and (
        "satisfaction" in ql
        and any(x in ql for x in ("transaction", "value", "purchase", "sales"))
    )

    it.mentions_quarter = "quarter" in ql

    # timegrain (reference api/main.py:379-387)
    for k, g in TIME_GRAINS.items():
        if k in ql:
            it.timegrain = g
            break
    if not it.timegrain:
        if "quarter" in ql:
            it.timegrain = "quarter"
        elif "month" in ql:
            it.timegrain = "month"
        elif "year" in ql or "annual" in ql:
            it.timegrain = "year"

    # compare (reference api/main.py:389-393)
    for phrase, val in COMPARE_TOKENS.items():
        if phrase in ql:
            it.compare = val
            break

    # dims + filters (reference api/main.py:395-423)
    for d in DIM_CANDIDATES:
        if d in ql:
            it.dims.append(d)
    if distincts:
        tokens = {t.strip(",.?!") for t in ql.split()}
        for d, vals in distincts.items():
            bound = None
            for v in vals:
                if v.lower() in ql:
                    bound = v
                    break
            if bound is None:
                hits = [v for v in vals if v.lower() in tokens]
                bound = hits[0] if hits else None
            if bound is not None:
                it.filters[d] = bound
                if d not in it.dims:
                    it.dims.append(d)
    return it


def resolve_metric_column(columns: list[str], metric: str) -> str:
    """_col-style schema resolution (reference api/main.py:1010-1017): the
    sales metric binds to the first METRIC_SALES_COLS member the active
    view actually has; other metrics resolve to themselves."""
    if metric == "sales":
        for c in METRIC_SALES_COLS:
            if c in columns:
                return c
    return metric


def _metric_sum_expr(it: Intent, columns: list[str]) -> str:
    """Exact-decimal aggregate expression for the intent's metric, resolved
    against the active view's schema. transaction_value is a product of
    two 2-decimal inputs ⇒ exact at scale 4 (functions/numeric.py)."""
    col = resolve_metric_column(columns, it.metric)
    scale = 4 if col == "transaction_value" else 2
    if it.agg == "AVG":
        return davg_sql(col, scale)
    return dsum_sql(col, scale)


def compile_intent(
    spark: SparkSession,
    sf_dir: str,
    it: Intent,
    view: DataFrame | None = None,
) -> tuple[DataFrame, str]:
    """Compile an Intent into a DataFrame plan (reference api/main.py:425-532
    emits SQL text; we emit plans). Returns (df, template_name).

    ``view`` overrides the canonical ``sales`` view — the reference runs
    against whatever dataset is active, so templates must follow the
    schema (see resolve_metric_column)."""
    base = view if view is not None else sales(spark, sf_dir)
    cols = base.columns
    df = base
    for d, v in it.filters.items():
        df = df.filter(F.col(d) == F.lit(v))  # literal binding, no splicing

    grain = it.timegrain or "month"
    period = F.date_trunc(grain, F.col("date")).cast("date").alias("period")
    agg_col = F.expr(_metric_sum_expr(it, cols)).alias("value")
    dims = [d for d in it.dims if d != "age"]  # age is a filter dim only

    if it.is_correlation:
        # reference api/main.py:445: corr(_col("transaction_value","sales",
        # ...), satisfaction) — the txn column wins when the view has it
        txn_col = resolve_metric_column(cols, "sales")
        out = base.agg(
            F.expr(corr_sql(txn_col, "satisfaction")).alias("corr_coef")
        )
        return out, "correlation"

    cg, ck = it.compare
    if cg == "quarter" and ck == "last2":
        # The last-2-quarter SET comes from the UNFILTERED view — the
        # reference selects quarters globally (api/main.py:452-459) and
        # applies dim filters only inside the aggregate, so a filter that
        # has no rows in the latest quarter must yield an empty group, not
        # silently shift the window to older quarters.  The set is view
        # metadata (view_dictionary), bound as DATE literals.
        last2 = view_dictionary(base).last2_quarters
        out = (
            df.withColumn("qtr", _quarter())
            .filter(F.col("qtr").isin(*last2))
            .groupBy(F.col("qtr").alias("period"), *[F.col(d) for d in dims])
            .agg(agg_col)
        )
        return out, "last2_quarters"

    if cg == "quarter" and ck in ("last", "previous"):
        per_q = df.groupBy(_quarter().alias("qtr")).agg(
            F.expr(_metric_sum_expr(it, cols)).alias("val")
        )
        out = latest_with_prev(per_q, "qtr", "val", "prev_qtr_value").select(
            F.col("val").alias("current_qtr_value"),
            F.col("prev_qtr_value"),
            (F.col("val") - F.col("prev_qtr_value")).alias("delta"),
        )
        return out, "qoq_delta"

    # YoY fires only when the question names quarters — the reference gates
    # its YoY template on 'quarter' (api/main.py:500-505) and otherwise
    # falls through to generic grouping; it also applies NO dim filters in
    # the YoY aggregation (api/main.py:506-520), so the unfiltered view is
    # aggregated here even when the question bound a dimension value.
    # The reference's self-join on b.year = a.year - 1 is a lag: (year,
    # quarter) is unique, so the same quarter's previous year, when it
    # exists, is the row just before in that quarter's year order.
    if cg == "year" and ck == "yoy" and it.mentions_quarter:
        q = base.groupBy(
            F.year("date").alias("year"), F.quarter("date").alias("quarter")
        ).agg(F.expr(_metric_sum_expr(it, cols)).alias("total"))
        w = Window.partitionBy("quarter").orderBy("year")
        out = q.select(
            "year",
            "quarter",
            "total",
            F.when(
                F.lag("year").over(w) == F.col("year") - 1,
                F.col("total") - F.lag("total").over(w),
            ).alias("yoy_delta"),
        )
        return out, "yoy_by_quarter"

    out = df.groupBy(period, *[F.col(d) for d in dims]).agg(agg_col)
    return out, "grain_groupby"


def answer_question(
    spark: SparkSession,
    sf_dir: str,
    user_q: str,
    view: DataFrame | None = None,
) -> tuple[DataFrame, str]:
    """route → parse → compile (tiers 1-2 of the reference lifecycle,
    api/main.py:1301-1358)."""
    distincts = distinct_values(spark, sf_dir)
    it = parse_intent(user_q, distincts)
    return compile_intent(spark, sf_dir, it, view=view)
