"""Forecast operator unit tests: reference guard/clamp semantics
(reference api/main.py:862-915) beyond the oracle-parity checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from intellect_bi_spark.operators.forecast import (
    _clamp,
    daily_series,
    forecast_payload,
)

from .parity import assert_parity


def test_clamps():
    assert _clamp(1000, 7, 100) == (365, 7)
    assert _clamp(0, 0, 100) == (1, 1)
    assert _clamp(30, 99, 10) == (30, 10)


def test_payload_shape(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=5, algo="ma7_baseline", window=7)
    assert df.columns == ["series", "date", "value"]
    counts = {
        r["series"]: r["n"]
        for r in df.groupBy("series").agg(F.count("*").alias("n")).collect()
    }
    n_hist = daily_series(spark, sf_dir).count()
    assert counts == {"history": n_hist, "forecast": 5}


def test_ma_forecast_is_flat(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=10, algo="ma7_baseline", window=7)
    vals = [
        r["value"]
        for r in df.filter(F.col("series") == "forecast").collect()
    ]
    assert len(set(vals)) == 1


def test_seasonal7_cycles(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=14, algo="seasonal7", window=7)
    fc = (
        df.filter(F.col("series") == "forecast").orderBy("date").collect()
    )
    first_week = [r["value"] for r in fc[:7]]
    second_week = [r["value"] for r in fc[7:14]]
    assert first_week == second_week
    # cycle equals the last 7 history values in date order
    hist = (
        df.filter(F.col("series") == "history").orderBy("date").collect()
    )
    assert first_week == [r["value"] for r in hist[-7:]]


def test_drift_is_linear(spark, sf_dir):
    df = forecast_payload(spark, sf_dir, h=6, algo="drift", window=14)
    fc = [
        r["value"]
        for r in df.filter(F.col("series") == "forecast")
        .orderBy("date")
        .collect()
    ]
    diffs = {round(b - a, 6) for a, b in zip(fc, fc[1:])}
    assert len(diffs) == 1  # constant slope


def test_pandas_twin_matches_closed_form(spark, sf_dir):
    from intellect_bi_spark.operators.forecast import (
        drift_by_region,
        drift_by_region_pandas,
    )

    a = {
        (r["region"], r["date"]): r["value"]
        for r in drift_by_region(spark, sf_dir).collect()
    }
    b = {
        (r["region"], r["date"]): r["value"]
        for r in drift_by_region_pandas(spark, sf_dir).collect()
    }
    assert a == b  # bit-identical: same IEEE ops on the same decimal sums


def test_mllib_linreg_matches_closed_form_ols(spark, sf_dir):
    import numpy as np

    from intellect_bi_spark.operators.forecast import (
        daily_series,
        forecast_linreg_ols,
        forecast_mllib_linreg,
    )

    rows = daily_series(spark, sf_dir).orderBy("date").collect()
    d0 = rows[0]["date"]
    t = np.array([(r["date"] - d0).days for r in rows], dtype=float)
    y = np.array([r["value"] for r in rows])
    slope, intercept = np.polyfit(t, y, 1)
    fc = forecast_mllib_linreg(spark, sf_dir, h=5).orderBy("date").collect()
    t1 = t[-1]
    for i, r in enumerate(fc, start=1):
        want = intercept + slope * (t1 + i)
        assert abs(r["value"] - want) <= 1e-6 * max(1.0, abs(want))
    assert len(fc) == 5
    # the exact-decimal registry query agrees with the MLlib fit to 1e-9
    # relative — the contract for swapping richer MLlib models behind the
    # oracle-verified closed form
    ols = forecast_linreg_ols(spark, sf_dir, h=5).orderBy("date").collect()
    assert len(ols) == 5
    for a, b in zip(fc, ols):
        assert a["date"] == b["date"]
        assert abs(a["value"] - b["value"]) <= 1e-9 * max(1.0, abs(b["value"]))


def test_seasonal7_twins_agree_on_short_region(spark):
    """ADVICE r5: a region with <7 observed days must emit NOTHING from
    BOTH seasonal7 variants (the reference's >=7-point guard, per key) —
    the closed form previously emitted partial rows there."""
    import datetime as dt

    from intellect_bi_spark.operators.forecast import (
        _seasonal7_closed,
        _seasonal7_pandas,
    )

    d0 = dt.date(2024, 1, 1)
    rows = [("North", d0 + dt.timedelta(days=i), float(i + 1)) for i in range(9)]
    rows += [("South", d0 + dt.timedelta(days=i), 10.0 * (i + 1)) for i in range(4)]
    daily = spark.createDataFrame(rows, "region string, date date, value double")

    a = {
        (r["region"], r["date"]): r["value"]
        for r in _seasonal7_closed(daily, 14).collect()
    }
    b = {
        (r["region"], r["date"]): r["value"]
        for r in _seasonal7_pandas(daily, 14).collect()
    }
    assert a == b
    assert not any(k[0] == "South" for k in a)  # short region: zero rows
    assert sum(1 for k in a if k[0] == "North") == 14
    # cycle check: day i value == tail7[(i-1) % 7] (tail = values 3..9)
    tail = [3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0]
    for i in range(1, 15):
        assert a[("North", d0 + dt.timedelta(days=8 + i))] == tail[(i - 1) % 7]


# --- window clamp edges against DuckDB ---------------------------------------


def _duck_forecast(duck, algo: str, h: int, window: int) -> str:
    """The forecast rows restated in DuckDB with the reference clamp
    ``window → [1, n]`` taken from DuckDB's own count of daily points."""
    from intellect_bi_spark.catalog import sales_cte
    from intellect_bi_spark.functions.numeric import dsum_sql
    from intellect_bi_spark.operators.forecast import _daily_cte

    n = duck.execute(
        sales_cte("SELECT COUNT(DISTINCT date) FROM sales")
    ).fetchone()[0]
    w = max(1, min(window, n))
    if algo == "drift":
        seed = (
            ", seeds AS (SELECT MAX(CASE WHEN rn = 1 THEN value END) AS y_t,"
            f" MAX(CASE WHEN rn = {w} THEN value END) AS y0 FROM ranked)"
        )
        value = f"y_t + ((y_t - y0) / {max(w - 1, 1)}) * i"
    else:
        seed = (
            f", seeds AS (SELECT {dsum_sql('value')} / COUNT(value) AS b"
            f" FROM ranked WHERE rn <= {w})"
        )
        value = "CAST(b AS DOUBLE)"
    return sales_cte(
        _daily_cte()
        + seed
        + f" SELECT 'forecast' AS series, last_date + CAST(i AS INT) AS date,"
        f" {value} AS value FROM last_d, seeds, generate_series(1, {h}) AS t(i)"
    )


@pytest.mark.parametrize("algo", ["ma7_baseline", "drift"])
@pytest.mark.parametrize("over", [5, 10**6])
def test_window_beyond_series_clamps_like_duckdb(spark, sf_dir, duck, algo, over):
    """A window past the series length clamps to the whole series —
    both just past it (the top-k collect comes back short) and absurdly
    past it (the series is counted before the collect)."""
    n = daily_series(spark, sf_dir).count()
    window = n + over
    df = forecast_payload(spark, sf_dir, h=4, algo=algo, window=window)
    assert_parity(
        df.filter(F.col("series") == "forecast"),
        duck,
        _duck_forecast(duck, algo, 4, window),
    )


def test_drift_window_one_is_flat_like_duckdb(spark, sf_dir, duck):
    df = forecast_payload(spark, sf_dir, h=6, algo="drift", window=1)
    fc = df.filter(F.col("series") == "forecast")
    assert len({r["value"] for r in fc.collect()}) == 1
    assert_parity(fc, duck, _duck_forecast(duck, "drift", 6, 1))


def test_short_series_guards(spark, sf_dir, monkeypatch):
    """Fewer than 7 daily points: seasonal7 raises, drift still runs on
    what there is; an empty series forecasts nothing."""
    from intellect_bi_spark.operators import forecast as fc

    full = fc.daily_series
    last5 = [
        r["date"]
        for r in full(spark, sf_dir).orderBy(F.desc("date")).limit(5).collect()
    ]
    monkeypatch.setattr(
        fc,
        "daily_series",
        lambda spark, sf_dir: full(spark, sf_dir).filter(
            F.col("date").isin(last5)
        ),
    )
    with pytest.raises(ValueError, match=">= 7"):
        fc._forecast_rows(spark, sf_dir, 3, "seasonal7", 7)
    rows = fc._forecast_rows(spark, sf_dir, 3, "drift", 30)
    assert len(rows) == 3 and rows[0]["date"] > max(last5)
    monkeypatch.setattr(
        fc,
        "daily_series",
        lambda spark, sf_dir: full(spark, sf_dir).filter(F.lit(False)),
    )
    assert fc._forecast_rows(spark, sf_dir, 3, "ma7_baseline", 7) == []
