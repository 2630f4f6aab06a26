"""``ask``: one analyst request per op, from a seeded mix.

Every block of 20 ops holds exactly 13 data questions (7 fixed prompts,
6 slot-filled intent variants), 2 LLM-style SQL strings, 2 forecast
calls and 3 docs questions, in a fixed interleaving, and each kind
walks its templates (prompt, question shape, SQL template, forecast
algorithm) in a fixed order.  A run of a given length therefore issues
the same templates whatever the seed, which keeps its latency
distribution comparable from seed to seed; the seed fills in the
values: dimension values and metrics, SQL parameters, forecast horizon
and window, docs questions and query vectors.

Each op collects at most 200 rows (the reference LIMIT).  The document
stores are built at setup and only read here.
"""

from __future__ import annotations

import itertools

import numpy as np

from .checks import duck, duck_hash, rowset_hash
from .common import CheckFailed, Op, parallel, warm_up

ROW_LIMIT = 200

# The reference's data-routed prompt corpus (its ui/prompts.txt).
REFERENCE_PROMPTS = (
    "Which regions have growing sales but declining satisfaction?",
    "What are the top two products for customers under 30?",
    "How did satisfaction change in the North region last quarter?",
    "What month showed the highest overall sales growth?",
    "Are there any correlations between gender and average satisfaction?",
    "How does customer satisfaction compare between each region based on age?",
    "What positive trends are evident in each of the regions?",
    "What are the monthly sales trends for each product over the entire time"
    " period? Identify any seasonal patterns or anomalies.",
    "Which product-region combinations generate the highest revenue, and are"
    " there any underperforming combinations that need attention?",
    "Compare year-over-year sales performance by quarter. Which periods"
    " showed the strongest growth or decline?",
    "Analyze customer satisfaction scores across different age groups. Are"
    " there specific age segments that are consistently more or less"
    " satisfied?",
    "What is the relationship between customer age and average purchase"
    " size? Are certain age demographics more valuable?",
    "Compare purchasing patterns and satisfaction levels between male and"
    " female customers across different products and regions.",
    "Rank all products by total revenue, average transaction size, and"
    " customer satisfaction. Which products are the best overall performers?",
    "Identify products with high sales volume but low customer satisfaction"
    " scores. What might explain this discrepancy?",
    "Which regions consistently outperform others in sales, and what factors"
    " might contribute to this success?",
    "Are there regional differences in customer demographics or satisfaction"
    " levels that could inform targeted marketing strategies?",
    "What is the correlation between transaction value and customer"
    " satisfaction? Do higher-value purchases lead to better satisfaction?",
    "Identify the characteristics of transactions with satisfaction scores"
    " below 2.0. What patterns emerge regarding product, region, or customer"
    " demographics?",
    "Which customer segments (by age, gender, and region) represent the"
    " greatest untapped opportunity for revenue growth?",
    "Analyze the bottom 10% of sales transactions. What common factors"
    " contribute to these low-performing sales?",
    "Based on historical patterns, what are the projected sales for the next"
    " quarter by product and region, and where should we allocate additional"
    " resources?",
)

# Questions the engine's registry pairs with a DuckDB oracle
# (``intellect_bi_spark.operators.nl_queries``), keyed by registry name.
ORACLE_QUESTIONS = {
    "nl_yoy_quarter": "Compare year-over-year sales performance by quarter.",
    "nl_last2_quarters_by_region": (
        "Show average satisfaction for the two most recent quarters by region"
    ),
    "nl_monthly_sales_north": "What is the monthly sales trend in the North region?",
    "nl_correlation": (
        "What is the correlation between transaction value and customer"
        " satisfaction?"
    ),
    "nl_qoq_delta": "How did sales change compared to last quarter?",
}

# one oracle question ahead of every four reference prompts, so that
# short runs check some against DuckDB too
FIXED_QUESTIONS = tuple(
    q
    for i, oracle in enumerate(ORACLE_QUESTIONS.values())
    for q in (oracle, *REFERENCE_PROMPTS[4 * i : 4 * i + 4])
) + REFERENCE_PROMPTS[4 * len(ORACLE_QUESTIONS) :]
_ORACLE_BY_QUESTION = {q: n for n, q in ORACLE_QUESTIONS.items()}

# Slots of the intent grammar: metric x grain x dimension value x compare.
METRICS = {
    "sales": ("sales", "revenue"),
    "satisfaction": ("satisfaction", "customer satisfaction"),
}
GRAINS = ("monthly ", "quarterly ", "yearly ", "")
DIM_VALUES = {
    "region": ("North", "South", "East", "West", "Central"),
    "customers": ("Male", "Female"),
    "product": tuple(f"Brand#{i}" for i in range(1, 26)),
}
COMPARES = (
    "",
    " compared to last quarter",
    " for the two most recent quarters",
    " year-over-year by quarter",
)
# Question shapes (grain, compare, dimension, metric) in one fixed
# shuffled order.  A shape fixes the plan; the seed picks the value and
# the metric's wording, which leave the plan as it is.
SHAPES = [
    tuple(x)
    for x in np.random.default_rng(0).permutation(
        np.array(list(itertools.product(GRAINS, COMPARES, DIM_VALUES, METRICS)), dtype=object)
    )
]

DOCS_QUESTIONS = (
    "What are some of the domains that are accepting of time series analysis"
    " and predictions?",
    "Summarize the key ideas from the Walmart PDF",
    "How can AI be a core component of value creation in a business model?",
    "What does business intelligence refer to and what are it's ultimate"
    " goals?",
)
DOC_TOPICS = ("stream", "window", "vector", "merge", "batch", "hash", "filter")

FORECAST_ALGOS = ("ma7_baseline", "seasonal7", "drift")

# LLM-style SQL in the DuckDB/T-SQL dialect the sanitizer rewrites.  Each
# template has the dialect text sent to the engine and the DuckDB text of
# the answer the engine should give (the sanitizer drops TOP n and adds
# LIMIT 200; ``sales_data`` is the ``sales`` view).  Aggregates are
# exact in both engines: counts, min/max, sums of integer-valued
# doubles and decimal sums.
SAFE_SQL = (
    (
        "SELECT TOP {n} region, COUNT(*) AS n_rows, MAX(sales) AS top_sale"
        " FROM sales_data WHERE age >= {a} GROUP BY region",
        "SELECT region, COUNT(*) AS n_rows, MAX(sales) AS top_sale"
        " FROM sales WHERE age >= {a} GROUP BY region LIMIT 200",
    ),
    (
        "SELECT product, ISNULL(MIN(satisfaction), 0) AS worst,"
        " COUNT(*) AS n FROM sales_data WHERE gender == '{g}' GROUP BY product",
        "SELECT product, coalesce(MIN(satisfaction), 0) AS worst,"
        " COUNT(*) AS n FROM sales WHERE gender = '{g}' GROUP BY product"
        " LIMIT 200",
    ),
    (
        "SELECT region, SUM(IIF(satisfaction < {s}, 1, 0)) AS unhappy,"
        " COUNT(*) AS n FROM sales_data GROUP BY region",
        "SELECT region, SUM(CASE WHEN satisfaction < {s} THEN 1 ELSE 0 END)"
        " AS unhappy, COUNT(*) AS n FROM sales GROUP BY region LIMIT 200",
    ),
    (
        "SELECT gender, COUNT(*) AS n FROM sales_data"
        " WHERE date < DATEADD(month, -{m}, GETDATE()) GROUP BY gender",
        "SELECT gender, COUNT(*) AS n FROM sales"
        " WHERE date < CAST(current_date - INTERVAL ({m}) MONTH AS DATE)"
        " GROUP BY gender LIMIT 200",
    ),
    (
        "SELECT region, CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DECIMAL(28,2))"
        " AS total FROM sales_data WHERE date <= GETDATE()"
        " AND product == 'Brand#{b}' GROUP BY region",
        "SELECT region, CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DECIMAL(28,2))"
        " AS total FROM sales WHERE product = 'Brand#{b}' GROUP BY region"
        " LIMIT 200",
    ),
    (
        "SELECT TOP {n} l_returnflag, l_linestatus, SUM(l_quantity) AS qty,"
        " COUNT(*) AS n FROM lineitem"
        " WHERE l_shipdate <= DATEADD(day, -{d}, '1998-12-01')"
        " GROUP BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty,"
        " COUNT(*) AS n FROM lineitem"
        " WHERE l_shipdate <= CAST(DATE '1998-12-01' - INTERVAL ({d}) DAY AS DATE)"
        " GROUP BY l_returnflag, l_linestatus LIMIT 200",
    ),
    (
        "SELECT o.o_orderpriority, COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty"
        " FROM orders o JOIN lineitem l ON l.l_orderkey == o.o_orderkey"
        " WHERE o.o_orderstatus == '{st}' GROUP BY o.o_orderpriority",
        "SELECT o.o_orderpriority, COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty"
        " FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        " WHERE o.o_orderstatus = '{st}' GROUP BY o.o_orderpriority LIMIT 200",
    ),
    (
        "SELECT l_linenumber, ISNULL(MAX(l_discount), 0) AS max_disc,"
        " AVG(l_quantity) AS avg_qty FROM lineitem WHERE l_quantity > {q}"
        " GROUP BY l_linenumber",
        "SELECT l_linenumber, coalesce(MAX(l_discount), 0) AS max_disc,"
        " AVG(l_quantity) AS avg_qty FROM lineitem WHERE l_quantity > {q}"
        " GROUP BY l_linenumber LIMIT 200",
    ),
)
UNSAFE_SQL = (
    "DROP TABLE sales_data",
    "INSERT INTO sales_data VALUES ('2024-01-01', 'Brand#{b}', 'North', 1.0, 30, 'Male', 4.0)",
    "DELETE FROM lineitem WHERE l_quantity > {q}",
    "SELECT region FROM sales_data; DROP TABLE lineitem",
    "INSERT INTO orders SELECT * FROM orders WHERE o_orderstatus == '{st}'",
)
# one SQL slot in five is unsafe
# SAFE_SQL indexes in the order SQL slots take them; None is an unsafe
# string (one SQL slot in five).  The first four cover the cached view,
# the raw-table join, an unsafe string and DATEADD over GETDATE.
SQL_SLOTS = (0, 6, None, 3, 5, 1, 2, None, 4, 7)

# One block of 20 slots: 13 data questions (7 fixed, 6 variants), 2 SQL,
# 2 forecasts, 3 docs questions, interleaved so that every prefix of
# the sequence has the same mix whatever the seed.
BLOCK = (
    "data_fixed", "docs", "data_variant", "sql", "data_fixed",
    "forecast", "data_variant", "data_fixed", "docs", "data_variant",
    "data_fixed", "sql", "data_variant", "data_fixed", "forecast",
    "data_variant", "docs", "data_fixed", "data_variant", "data_fixed",
)


def _sql_params(rng: np.random.Generator) -> dict:
    return {
        "n": int(rng.integers(3, 20)),
        "a": int(rng.integers(18, 66)),
        "g": ("Male", "Female")[int(rng.integers(0, 2))],
        "s": f"{rng.integers(150, 351) / 100:.2f}",
        "m": int(rng.integers(1, 25)),
        "b": int(rng.integers(1, 26)),
        "d": int(rng.integers(30, 121)),
        "st": ("F", "O", "P")[int(rng.integers(0, 3))],
        "q": int(rng.integers(1, 50)),
    }


def schedule(seed: int, n_ops: int) -> list[Op]:
    """The request sequence for ``seed``.  Slot kinds repeat in
    :data:`BLOCK` order and each kind walks its templates in a fixed
    order, so every run of a given length issues the same templates;
    the seed fills in their values."""
    rng = np.random.default_rng([seed, 0xA5C])
    fixed = itertools.cycle(FIXED_QUESTIONS)
    shapes = itertools.cycle(SHAPES)
    sql = itertools.cycle(SQL_SLOTS)
    unsafe = itertools.cycle(UNSAFE_SQL)
    algos = itertools.cycle(FORECAST_ALGOS)
    ops: list[Op] = []
    while len(ops) < n_ops:
        for slot in BLOCK:
            if slot == "data_fixed":
                ops.append(Op("data", "other", (next(fixed),)))
            elif slot == "data_variant":
                grain, compare, dim, metric = next(shapes)
                values, words = DIM_VALUES[dim], METRICS[metric]
                v = values[int(rng.integers(0, len(values)))]
                word = words[int(rng.integers(0, len(words)))]
                q = f"Show the {grain}{word} trend for {v} {dim}{compare}"
                ops.append(Op("data", "other", (q,)))
            elif slot == "sql":
                p = _sql_params(rng)
                i = next(sql)
                if i is None:
                    ops.append(Op("sql", "other", (next(unsafe).format(**p), None)))
                else:
                    text, oracle = SAFE_SQL[i]
                    ops.append(Op("sql", "other", (text.format(**p), oracle.format(**p))))
            elif slot == "forecast":
                h, window = int(rng.integers(1, 366)), int(rng.integers(1, 61))
                ops.append(Op("forecast", "other", (next(algos), h, window)))
            else:
                if rng.random() < 0.4:
                    q = DOCS_QUESTIONS[int(rng.integers(0, len(DOCS_QUESTIONS)))]
                else:
                    a, b = rng.choice(DOC_TOPICS, 2, replace=False)
                    q = f"Summarize what the report says about {a} and {b}"
                ops.append(Op("docs", "read", (q, int(rng.integers(0, 600)))))
    return ops[:n_ops]


class Ask:
    name = "ask"
    block = len(BLOCK)
    block_seconds = 15.0  # nominal op time of one block on a 4-core machine, in seconds

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = schedule(ctx.seed, 5000)
        self.first_hash: dict = {}  # op args -> row-set hash of first answer
        self.oracle_checked: set = set()
        self.data_ops = 0
        self.cached_scans = 0
        self._duck = None

    # -- setup -------------------------------------------------------------
    def setup(self) -> None:
        import time

        from intellect_bi_spark import catalog
        from intellect_bi_spark.operators import retrieval, vectorstore
        from intellect_bi_spark.plans.intent import distinct_values

        spark, d = self.ctx.spark, self.ctx.data_dir
        self.emb = catalog.load_tables(spark, d)["embeddings"]
        self.bm25 = f"{self.ctx.work_dir}/bm25"
        self.ann = f"{self.ctx.work_dir}/ann"

        warm = self._warm_ops()

        def view_then_warm() -> None:
            t0 = time.perf_counter()
            catalog.sales(spark, d).count()  # materialize the cached view
            distinct_values(spark, d)
            self.ctx.facts["catalog.view_build_s"] = time.perf_counter() - t0
            # warm the data paths while the stores build
            warm_up(self, [op for op in warm if op.kind != "docs"])

        parallel(
            view_then_warm,
            lambda: retrieval.build_bm25_index_v2(spark, d, self.bm25),
            lambda: vectorstore.build_index_frozen_full(spark, d, self.ann),
        )
        warm_up(self, [op for op in warm if op.kind == "docs"])

    def _warm_ops(self) -> list[Op]:
        """One op of each kind, taken from another seed's sequence."""
        seen, out = set(), []
        for op in schedule(self.ctx.seed + 7919, 200):
            key = op.kind if op.kind != "sql" else (op.kind, op.args[1] is None)
            if key not in seen:
                seen.add(key)
                out.append(op)
        return out

    # -- ops ---------------------------------------------------------------
    def run(self, op: Op):
        return getattr(self, f"_{op.kind}")(*op.args)

    def _collect(self, df):
        t = self.ctx.tracer
        out = df.limit(ROW_LIMIT)
        with t.span("execute", [out]):
            rows = out.collect()
        if t.enabled:
            plan = out._jdf.queryExecution().executedPlan().toString()
            self.data_ops += 1
            self.cached_scans += "InMemoryTableScan" in plan
        return out.columns, rows

    def _data(self, q):
        from intellect_bi_spark.plans.intent import answer_question
        from intellect_bi_spark.plans.router import route_question

        t = self.ctx.tracer
        with t.span("plans.router.route"):
            route = route_question(q)
        if route.route != "data":
            raise CheckFailed(f"data question routed to {route.route}: {q!r}")
        with t.span("plans.intent.compile"):
            df, _template = answer_question(self.ctx.spark, self.ctx.data_dir, q)
        return self._collect(df)

    def _sql(self, text, oracle):
        from intellect_bi_spark.plans.sanitizer import run_safe_sql

        t = self.ctx.tracer
        dfs: list = []
        try:
            with t.span("plans.sanitizer.gate", dfs):
                df = run_safe_sql(self.ctx.spark, text)
                dfs.append(df)
        except ValueError as e:
            if oracle is not None:
                raise  # a safe query refused: the op failed
            t.note("plans.sanitizer.rejected", 1)
            return ("rejected", str(e))
        return self._collect(df)

    def _forecast(self, algo, h, window):
        from pyspark.sql import functions as F

        from intellect_bi_spark.operators.forecast import forecast_payload

        t = self.ctx.tracer
        with t.span("operators.forecast.call"):
            payload = forecast_payload(
                self.ctx.spark, self.ctx.data_dir, h=h, algo=algo, window=window
            )
        # the chart's latest points: the forecast, then recent history
        return self._collect(payload.orderBy(F.desc("date"), "series"))

    def _docs(self, q, vec_id):
        from intellect_bi_spark.operators import retrieval, vectorstore
        from intellect_bi_spark.plans.router import route_question

        spark, t = self.ctx.spark, self.ctx.tracer
        with t.span("plans.router.route"):
            route = route_question(q)
        if route.route != "docs":
            raise CheckFailed(f"docs question routed to {route.route}: {q!r}")
        dfs: list = []
        with t.span("operators.retrieval.serve", dfs):
            dfs.append(retrieval.serve_bm25_v2(spark, self.bm25))
            lexical = (dfs[-1].columns, dfs[-1].collect())
        dfs = []
        with t.span("operators.vectorstore.serve", dfs):
            c, cb, codes = vectorstore.read_index_versioned(spark, self.ann)
            dfs.append(vectorstore.topk_from_index(c, cb, codes, self.emb, query_vec_id=vec_id))
            dense = (dfs[-1].columns, dfs[-1].collect())
        return lexical, dense

    # -- checks (untimed) --------------------------------------------------
    def _repeat(self, key, columns, rows) -> None:
        h = rowset_hash(columns, rows)
        first = self.first_hash.setdefault(key, h)
        if h != first:
            raise CheckFailed(f"repeat of {key!r} returned a different row set")

    def check(self, op: Op, out) -> None:
        if op.kind == "docs":
            (lc, lr), (dc, dr) = out
            self._repeat(("bm25",), lc, lr)
            self._repeat(("ann", op.args[1]), dc, dr)
            if any(r["vec_id"] == op.args[1] for r in dr) or len(dr) != 10:
                raise CheckFailed(f"ANN top-k for vec {op.args[1]} malformed")
            return
        if op.kind == "sql" and op.args[1] is None:
            self._check_unsafe(op.args[0], out)
            return
        columns, rows = out
        self._repeat(op.args, columns, rows)
        oracle = None
        if op.kind == "sql":
            oracle = op.args[1]
        elif op.kind == "data" and op.args[0] in _ORACLE_BY_QUESTION:
            from intellect_bi_spark.registry import ORACLES

            oracle = ORACLES[_ORACLE_BY_QUESTION[op.args[0]]]
        if oracle is not None and op.args not in self.oracle_checked:
            if self._duck is None:
                self._duck = self._duck_con()
            if duck_hash(self._duck, oracle) != self.first_hash[op.args]:
                raise CheckFailed(f"differs from DuckDB: {op.args[0]!r}")
            self.oracle_checked.add(op.args)

    def _duck_con(self):
        from intellect_bi_spark.catalog import SALES_SELECT_SQL

        con = duck(self.ctx.data_dir)
        con.execute(f"CREATE VIEW sales AS {SALES_SELECT_SQL}")
        return con

    def _check_unsafe(self, text, out) -> None:
        """An unsafe string must never run as written: the gate either
        refuses it, or (for a string that also holds a SELECT) keeps only
        that SELECT; either way every table stays intact."""
        if out[0] != "rejected":
            if not self._tables_intact():
                raise CheckFailed(f"unsafe SQL changed the catalog: {text!r}")
            self.ctx.facts["unsafe_reduced_to_select"] = (
                self.ctx.facts.get("unsafe_reduced_to_select", 0) + 1
            )

    def _tables_intact(self) -> bool:
        spark = self.ctx.spark
        return all(spark.catalog.tableExists(n) for n in ("sales", "lineitem", "orders"))

    def finish(self, traced: bool) -> list[str]:
        if not self._tables_intact():
            return ["a table disappeared during the run"]
        return []

    def layer_facts(self) -> dict:
        return {
            "catalog.cached_scan_frac": (
                self.cached_scans / self.data_ops if self.data_ops else 0.0
            ),
        }
